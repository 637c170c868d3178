package graft

import org.scalatest.funsuite.AnyFunSuite

/** SQL UPDATE / DELETE over plain-parquet catalog tables
  * (graft.plans.DmlParquetRewrite + the CopyOnWrite commands). The
  * oracle-facing entries are sql14/sql15; this spec pins the statement
  * semantics the oracle can't isolate: WHERE-less forms, simultaneous
  * assignment, three-valued DELETE predicates, and rerun determinism.
  */
class UpdateDeleteSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private var n = 0
  /** Fresh parquet catalog table with (k BIGINT, v BIGINT, tag STRING). */
  private def freshTarget(rows: Seq[(Long, Long, String)]): String = {
    n += 1
    val tbl = s"dml_spec_t$n"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    import spark.implicits._
    rows.toDF("k", "v", "tag").createOrReplaceTempView("dml_seed")
    spark.sql(
      s"CREATE TABLE $tbl USING parquet LOCATION '$path' AS SELECT * FROM dml_seed")
    tbl
  }

  private def result(tbl: String): Set[(Long, Long, String)] =
    spark.sql(s"SELECT k, v, tag FROM $tbl").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet

  test("UPDATE with WHERE touches only matching rows") {
    val tbl = freshTarget(Seq((1L, 10L, "a"), (2L, 20L, "b")))
    spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE k = 1")
    assert(result(tbl) === Set((1L, 11L, "a"), (2L, 20L, "b")))
  }

  test("WHERE-less UPDATE rewrites every row") {
    val tbl = freshTarget(Seq((1L, 10L, "a"), (2L, 20L, "b")))
    spark.sql(s"UPDATE $tbl SET tag = 'all'")
    assert(result(tbl) === Set((1L, 10L, "all"), (2L, 20L, "all")))
  }

  test("assignments are simultaneous: every RHS sees the OLD row") {
    // SQL semantics: UPDATE SET v = k, k = v swaps — the second
    // assignment must not observe the first one's result
    val tbl = freshTarget(Seq((3L, 30L, "a")))
    spark.sql(s"UPDATE $tbl SET v = k, k = v")
    assert(result(tbl) === Set((30L, 3L, "a")))
  }

  test("DELETE with WHERE removes only rows where the predicate is TRUE") {
    // three-valued semantics: a NULL-evaluating predicate KEEPS the row
    val tbl = freshTarget(Seq((1L, 10L, "drop"), (2L, 20L, "keep"), (3L, 30L, null)))
    spark.sql(s"DELETE FROM $tbl WHERE tag = 'drop'")
    assert(result(tbl) === Set((2L, 20L, "keep"), (3L, 30L, null)))
  }

  test("WHERE-less DELETE empties the table") {
    val tbl = freshTarget(Seq((1L, 10L, "a"), (2L, 20L, "b")))
    spark.sql(s"DELETE FROM $tbl")
    assert(spark.sql(s"SELECT * FROM $tbl").count() === 0)
  }

  /** Fresh table shaped like the S2 Lichess payload: per-game players
    * struct with nested user/rating (SURVEY §1.3's natural nested
    * target).
    */
  private def lichessShapedTarget(): String = {
    n += 1
    val tbl = s"dml_spec_nested_t$n"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(
      s"""CREATE TABLE $tbl USING parquet LOCATION '$path' AS
         |SELECT * FROM VALUES
         |  ('g1', named_struct(
         |     'white', named_struct('user', named_struct('name', 'alice'), 'rating', 1500),
         |     'black', named_struct('user', named_struct('name', 'bob'), 'rating', 1600)),
         |   'white'),
         |  ('g2', named_struct(
         |     'white', named_struct('user', named_struct('name', 'carol'), 'rating', 1700),
         |     'black', named_struct('user', named_struct('name', 'dave'), 'rating', 1800)),
         |   'black')
         |AS t(id, players, winner)""".stripMargin)
    tbl
  }

  test("nested-field UPDATE rebuilds the struct; sibling fields and " +
      "sibling structs are untouched") {
    val tbl = lichessShapedTarget()
    spark.sql(s"UPDATE $tbl SET players.white.rating = players.white.rating + 32 " +
      "WHERE winner = 'white'")
    val got = spark.sql(
      s"""SELECT id, players.white.user.name, players.white.rating,
         |  players.black.user.name, players.black.rating FROM $tbl""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getString(3), r.getInt(4))).toSet
    assert(got === Set(
      ("g1", "alice", 1532, "bob", 1600),  // white rating bumped, all else intact
      ("g2", "carol", 1700, "dave", 1800))) // WHERE missed: fully intact
  }

  test("two nested assignments to one struct in one UPDATE compose") {
    val tbl = lichessShapedTarget()
    spark.sql(s"UPDATE $tbl SET players.white.rating = 1, " +
      s"players.black.rating = 2 WHERE id = 'g1'")
    val got = spark.sql(s"SELECT players.white.rating, players.black.rating, " +
      s"players.white.user.name FROM $tbl WHERE id = 'g1'").head()
    assert((got.getInt(0), got.getInt(1), got.getString(2)) === ((1, 2, "alice")))
  }

  test("nested UPDATE values see the OLD row (swap across fields)") {
    val tbl = lichessShapedTarget()
    spark.sql(s"UPDATE $tbl SET players.white.rating = players.black.rating, " +
      s"players.black.rating = players.white.rating WHERE id = 'g2'")
    val got = spark.sql(s"SELECT players.white.rating, players.black.rating " +
      s"FROM $tbl WHERE id = 'g2'").head()
    assert((got.getInt(0), got.getInt(1)) === ((1800, 1700)))
  }

  test("whole-column plus nested assignment to the same column is " +
      "rejected as ambiguous") {
    val tbl = lichessShapedTarget()
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $tbl SET players = players, players.white.rating = 1")
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage)
      .exists(_.contains("whole"))))
  }

  test("DELETE WHERE k IN (subquery): the GDPR tombstone-list scrub") {
    // the condition carries an InSubquery; the CoW Filter must plan it
    // (semi join after decorrelation), not reject or mis-evaluate it
    val tbl = freshTarget(Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c")))
    import spark.implicits._
    Seq(1L, 3L).toDF("bad_k").createOrReplaceTempView("dml_tombstones")
    spark.sql(s"DELETE FROM $tbl WHERE k IN (SELECT bad_k FROM dml_tombstones)")
    assert(result(tbl) === Set((2L, 20L, "b")))
  }

  test("UPDATE with a scalar-subquery condition") {
    val tbl = freshTarget(Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c")))
    spark.sql(
      s"UPDATE $tbl SET tag = 'big' WHERE v > (SELECT AVG(v) FROM $tbl)")
    assert(result(tbl) === Set((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "big")))
  }

  test("UPDATE and DELETE work on a PARTITIONED parquet catalog table") {
    // the CoW commit is a positional insertInto: partition columns ride
    // in catalog order and the overwrite is full-table (static) — pin
    // that values land in the right columns and partitions survive
    val tbl = "dml_spec_part"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (k BIGINT, v BIGINT, tag STRING)
      |USING parquet PARTITIONED BY (tag) LOCATION '$path'""".stripMargin)
    spark.sql(s"INSERT INTO $tbl VALUES (1, 10, 'a'), (2, 20, 'a'), (3, 30, 'b')")
    spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE tag = 'a'")
    spark.sql(s"DELETE FROM $tbl WHERE k = 3")
    assert(result(tbl) === Set((1L, 11L, "a"), (2L, 21L, "a")))
    // partition pruning still works over the rewritten layout
    val pruned = spark.sql(s"SELECT k FROM $tbl WHERE tag = 'a'")
      .collect().map(_.getLong(0)).toSet
    assert(pruned === Set(1L, 2L))
  }

  test("UPDATE of the partition column moves rows between partitions") {
    val tbl = "dml_spec_part_move"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (k BIGINT, v BIGINT, tag STRING)
      |USING parquet PARTITIONED BY (tag) LOCATION '$path'""".stripMargin)
    spark.sql(s"INSERT INTO $tbl VALUES (1, 10, 'a'), (2, 20, 'b')")
    // run under dynamic partition-overwrite to pin that the CoW commit
    // forces STATIC mode itself — under dynamic, emptying partition 'a'
    // would leave its old files in place
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql(s"UPDATE $tbl SET tag = 'b' WHERE k = 1")
    finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    assert(result(tbl) === Set((1L, 10L, "b"), (2L, 20L, "b")))
    // the old partition's directory no longer holds the moved row
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE tag = 'a'")
      .head().getLong(0) === 0L)
  }

  test("UPDATE and DELETE are rerun-deterministic (CoW rewrite stable)") {
    def run(): Set[(Long, Long, String)] = {
      val tbl = freshTarget(Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c")))
      spark.sql(s"UPDATE $tbl SET v = v * 2 WHERE k >= 2")
      spark.sql(s"DELETE FROM $tbl WHERE v > 50")
      result(tbl)
    }
    assert(run() === run())
  }

  // ------------------------------------------------------------------
  // FILE-PRUNED copy-on-write laws (VERDICT r14 item 1): a selective
  // DML statement rewrites a STRICT SUBSET of the table's files, and
  // every file the predicate cannot touch stays byte-identical on disk
  // (m25's untouched-file law applied to DML).
  // ------------------------------------------------------------------

  /** (relative path -> md5) of every data file under `path`. */
  private def fileState(path: String): Map[String, String] = {
    val root = java.nio.file.Paths.get(path)
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = scala.collection.mutable.Map[String, String]()
    def walk(d: java.io.File): Unit =
      Option(d.listFiles).foreach(_.foreach { f =>
        val n = f.getName
        if (f.isDirectory) { if (!n.startsWith(".") && !n.startsWith("_")) walk(f) }
        else if (!n.startsWith(".") && !n.startsWith("_"))
          out += root.relativize(f.toPath).toString ->
            md.digest(java.nio.file.Files.readAllBytes(f.toPath))
              .map("%02x".format(_)).mkString
      })
    walk(new java.io.File(path))
    out.toMap
  }

  /** Fresh 4-file table range-clustered on k (k = 0..39, ~10 rows/file),
    * so a narrow-k predicate provably touches one file.
    */
  private def clusteredTarget(): (String, String) = {
    n += 1
    val tbl = s"dml_spec_files_t$n"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    import spark.implicits._
    (0L until 40L).map(k => (k, k * 10, s"t${k % 3}")).toDF("k", "v", "tag")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("k"))
      .write.option("path", path).saveAsTable(tbl)
    (tbl, path)
  }

  test("selective DELETE rewrites a strict subset of files; untouched " +
      "files stay byte-identical") {
    val (tbl, path) = clusteredTarget()
    val before = fileState(path)
    assert(before.size === 4)
    spark.sql(s"DELETE FROM $tbl WHERE k = 5")
    val after = fileState(path)
    val removed = before.keySet -- after.keySet
    val added = after.keySet -- before.keySet
    assert(removed.size === 1, s"exactly the k=5 file is rewritten: $removed")
    assert(added.size === 1)
    val kept = before.keySet intersect after.keySet
    assert(kept.size === 3)
    kept.foreach(f => assert(before(f) === after(f), s"untouched $f changed"))
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head().getLong(0) === 39L)
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE k = 5").head().getLong(0) === 0L)
  }

  test("selective UPDATE rewrites a strict subset of files; untouched " +
      "files stay byte-identical") {
    val (tbl, path) = clusteredTarget()
    val before = fileState(path)
    spark.sql(s"UPDATE $tbl SET v = -1 WHERE k >= 35")
    val after = fileState(path)
    val kept = before.keySet intersect after.keySet
    // range-bucket boundaries are sampled, so pin the strict-subset law,
    // not an exact count: some files replaced, some provably untouched
    val removed = (before.keySet -- after.keySet).size
    assert(removed >= 1 && removed < before.size, s"strict subset: $removed")
    assert(kept.nonEmpty)
    kept.foreach(f => assert(before(f) === after(f), s"untouched $f changed"))
    assert(result(tbl) === (0L until 40L).map(k =>
      (k, if (k >= 35) -1L else k * 10, s"t${k % 3}")).toSet)
  }

  test("DELETE matching no row is a no-op: the file set is unchanged") {
    val (tbl, path) = clusteredTarget()
    val before = fileState(path)
    spark.sql(s"DELETE FROM $tbl WHERE k = 999")
    assert(fileState(path) === before)
  }

  test("pruned DML on a PARTITIONED table keeps untouched files and " +
      "partition pruning intact") {
    n += 1
    val tbl = s"dml_spec_files_part$n"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    import spark.implicits._
    (0L until 40L).map(k => (k, k * 10, s"p${k % 2}")).toDF("k", "v", "tag")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("k"))
      .write.partitionBy("tag").option("path", path).saveAsTable(tbl)
    val before = fileState(path)
    assert(before.size === 8) // 4 range buckets × 2 partition values
    spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE k < 3")
    val after = fileState(path)
    val kept = before.keySet intersect after.keySet
    // k<3 lives in the low range bucket(s): a strict subset is rewritten
    val removed = (before.keySet -- after.keySet).size
    assert(removed >= 1 && removed < before.size, s"strict subset: $removed")
    assert(kept.nonEmpty)
    kept.foreach(f => assert(before(f) === after(f), s"untouched $f changed"))
    // rewritten files landed INSIDE their partition directories
    (after.keySet -- before.keySet).foreach(f =>
      assert(f.startsWith("tag=p"), s"new file outside a partition dir: $f"))
    assert(result(tbl) === (0L until 40L).map(k =>
      (k, if (k < 3) k * 10 + 1 else k * 10, s"p${k % 2}")).toSet)
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE tag = 'p0'")
      .head().getLong(0) === 20L)
  }

  test("partition-column UPDATE prunes (r17): only files with matching " +
      "rows rewrite, rows migrate, the minted partition is registered") {
    n += 1
    val tbl = s"dml_spec_files_move$n"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    import spark.implicits._
    (0L until 40L).map(k => (k, k * 10, s"p${k % 2}")).toDF("k", "v", "tag")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("k"))
      .write.partitionBy("tag").option("path", path).saveAsTable(tbl)
    val before = fileState(path)
    assert(before.size === 8)
    // k<3 rows migrate to the brand-new tag=hot partition; before r17
    // ANY partition-column assignment forced the full-table rewrite
    spark.sql(s"UPDATE $tbl SET tag = 'hot' WHERE k < 3")
    val after = fileState(path)
    val kept = before.keySet intersect after.keySet
    val removed = (before.keySet -- after.keySet).size
    assert(removed >= 1 && removed < before.size, s"strict subset: $removed")
    kept.foreach(f => assert(before(f) === after(f), s"untouched $f changed"))
    (after.keySet -- before.keySet).foreach(f =>
      assert(f.startsWith("tag="), s"new file outside a partition dir: $f"))
    val parts = spark.sql(s"SHOW PARTITIONS $tbl").collect().map(_.getString(0)).toSet
    assert(parts.contains("tag=hot"), parts.toString)
    assert(result(tbl) === (0L until 40L).map(k =>
      (k, k * 10, if (k < 3) "hot" else s"p${k % 2}")).toSet)
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE tag = 'hot'")
      .head().getLong(0) === 3L)
  }

  test("UPDATE map-key assignment upserts entries; other entries and " +
      "NULL maps ride through (r17)") {
    n += 1
    val tbl = s"dml_spec_map$n"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING parquet LOCATION '$path' AS " +
      "SELECT k, CASE WHEN k = 4 THEN CAST(NULL AS MAP<STRING,BIGINT>) " +
      "ELSE map('x', k * 10, 'keep', k) END AS m " +
      "FROM VALUES CAST(1 AS BIGINT), CAST(2 AS BIGINT), " +
      "CAST(3 AS BIGINT), CAST(4 AS BIGINT) AS v(k)")
    // 'x' exists (update); 'y' does not (insert); both RHS see the OLD
    // map, so m.y can read m.x's pre-assignment value
    spark.sql(s"UPDATE $tbl SET m.x = -1, m.y = m.x + k WHERE k <= 2 OR k = 4")
    val got = spark.sql(s"SELECT k, m FROM $tbl").collect()
      .map(r => r.getLong(0) ->
        Option(r.getMap[String, Long](1)).map(_.toMap)).toMap
    assert(got(1L) === Some(Map("x" -> -1L, "keep" -> 1L, "y" -> 11L)))
    assert(got(2L) === Some(Map("x" -> -1L, "keep" -> 2L, "y" -> 22L)))
    assert(got(3L) === Some(Map("x" -> 30L, "keep" -> 3L)), "row outside WHERE")
    assert(got(4L) === None, "a NULL map stays NULL")
  }

  test("no scratch directories are left behind by the pruned commit") {
    val (tbl, path) = clusteredTarget()
    spark.sql(s"DELETE FROM $tbl WHERE k = 7")
    spark.sql(s"UPDATE $tbl SET v = 0 WHERE k = 8")
    val leftovers = Option(new java.io.File(path).listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(".graft_cow_"))
    assert(leftovers.isEmpty, s"scratch dirs not cleaned: ${leftovers.toList}")
  }

  test("spark.graft.dml.filePruning=false forces the full rewrite " +
      "(every file replaced) with identical results") {
    val (tbl, path) = clusteredTarget()
    val before = fileState(path)
    spark.conf.set("spark.graft.dml.filePruning", "false")
    try spark.sql(s"DELETE FROM $tbl WHERE k = 5")
    finally spark.conf.unset("spark.graft.dml.filePruning")
    val after = fileState(path)
    assert((before.keySet intersect after.keySet).isEmpty,
      "full rewrite must replace every file")
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head().getLong(0) === 39L)
  }
}
