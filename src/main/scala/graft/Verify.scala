package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [name...]
  *
  * With names it dumps only those queries and their subset
  * oracle_sql.json (the fast inner loop; it overwrites a full dump's
  * map), writes no RECALL/STREAM artifacts, and exits 1 when one of them
  * threw. Local width: `SPARK_GRAFT_CPUS` (default 8) for the full dump,
  * 8 for a subset.
  */
object Verify {
  val cmd: Diag.Cmd = Diag.Cmd("verify",
    "runMain graft.Verify <sfDir> <outDir> [name...]",
    _.length >= 2, a => if (a.length > 2) "8" else Diag.cpus("8"), (spark, a) => {
      val names = a.drop(2).toSet
      val failed = dump(spark, a(0), a(1), names)
      if (names.nonEmpty && failed.nonEmpty) 1 else 0
    }, queries = _.drop(2))

  def main(args: Array[String]): Unit = Diag.launch(Diag.check(cmd, args.toSeq))

  /** Dump the results of `names` (every query when empty) + their
    * oracle_sql.json into `outDir`; returns the names whose query threw
    * (the driver's compare then reports them as NO_OUTPUT). Shared by
    * [[main]] and the local OracleParitySpec gate.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Set[String] = Set.empty, artifacts: Boolean = true): Seq[String] = {
    def wanted(name: String): Boolean = names.isEmpty || names(name)
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq.filter(kv => wanted(kv._1)).flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${Diag.jsonString(k)}: ${Diag.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // Per-round quality artifacts (VERDICT r7 missing #2): the driver
    // runs Verify every round, so the rows-only inventory entries (ANN
    // recall, streaming scenarios) get a CURRENT-round quality proof
    // here instead of riding on a stale manually-run one. Emitted after
    // the gate artifacts and individually fenced — an artifact failure
    // must never cost correctness entries. Callers opt out with
    // `artifacts = false` (e.g. spec runs).
    if (artifacts && names.isEmpty && failed.isEmpty) {
      val tag = roundTag()
      try Recall.run(spark, sfDir, s"RECALL_$tag.json")
      catch { case e: Throwable =>
        System.err.println(s"[verify] recall artifact failed: ${e.getMessage}") }
      try { StreamCheck.check(spark, s"STREAM_$tag.json"); () }
      catch { case e: Throwable =>
        System.err.println(s"[verify] stream artifact failed: ${e.getMessage}") }
    }
    failed
  }

  /** Artifact round tag: one past the newest CORRECTNESS_r{N}.json in
    * the working directory (the driver writes that file AFTER running
    * Verify, so the newest existing one is the previous round's). Falls
    * back to "latest" outside a round checkout.
    */
  private def roundTag(): String = {
    val r = "^CORRECTNESS_r(\\d+)\\.json$".r
    val seen = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
      .flatMap(f => r.findFirstMatchIn(f.getName).map(_.group(1).toInt))
    if (seen.isEmpty) "latest" else f"r${seen.max + 1}%02d"
  }
}
