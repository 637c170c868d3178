package graft

import org.scalatest.funsuite.AnyFunSuite

/** SQL MERGE INTO over plain-parquet catalog tables
  * (graft.plans.MergeIntoParquetRewrite + GraftMergeIntoCommand).
  * The oracle-facing entry is sql13; this spec pins the semantics the
  * oracle can't isolate: clause precedence, partial-column INSERT,
  * NOT MATCHED BY SOURCE actions, and the cardinality guard.
  */
class MergeIntoSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private var n = 0
  /** Fresh parquet catalog table with (k BIGINT, v BIGINT, tag STRING). */
  private def freshTarget(rows: Seq[(Long, Long, String)]): String = {
    n += 1
    val tbl = s"merge_spec_t$n"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    import spark.implicits._
    rows.toDF("k", "v", "tag").createOrReplaceTempView("merge_seed")
    spark.sql(
      s"CREATE TABLE $tbl USING parquet LOCATION '$path' AS SELECT * FROM merge_seed")
    tbl
  }

  private def result(tbl: String): Set[(Long, Long, String)] =
    spark.sql(s"SELECT k, v, tag FROM $tbl").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSet

  test("update / delete / insert / not-matched-by-source in one statement") {
    val tbl = freshTarget(Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"), (4L, 40L, "d")))
    import spark.implicits._
    // src: k=1 (update), k=2 (conditional delete), k=9 (insert); k=3/4 absent
    Seq((1L, 100L), (2L, -1L), (9L, 900L)).toDF("k", "nv")
      .createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $tbl t USING merge_src s ON t.k = s.k
         |WHEN MATCHED AND s.nv < 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.nv
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)
         |WHEN NOT MATCHED BY SOURCE AND t.v >= 40 THEN DELETE""".stripMargin)
    assert(result(tbl) === Set(
      (1L, 100L, "a"),   // updated, tag untouched
      (3L, 30L, "c"),    // unmatched-by-source, below delete threshold
      (9L, 900L, null))) // inserted; tag not in column list -> NULL
  }

  test("clause order is precedence: first matching WHEN wins") {
    val tbl = freshTarget(Seq((1L, 10L, "a")))
    import spark.implicits._
    Seq((1L, 5L)).toDF("k", "nv").createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $tbl t USING merge_src s ON t.k = s.k
         |WHEN MATCHED AND s.nv < 10 THEN UPDATE SET v = 111
         |WHEN MATCHED THEN UPDATE SET v = 222""".stripMargin)
    assert(result(tbl) === Set((1L, 111L, "a")))
  }

  test("NOT MATCHED BY SOURCE UPDATE touches only source-absent rows") {
    val tbl = freshTarget(Seq((1L, 10L, "a"), (2L, 20L, "b")))
    import spark.implicits._
    Seq((1L, 100L)).toDF("k", "nv").createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $tbl t USING merge_src s ON t.k = s.k
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET tag = 'stale'""".stripMargin)
    assert(result(tbl) === Set((1L, 10L, "a"), (2L, 20L, "stale")))
  }

  test("star forms: UPDATE SET * / INSERT * resolve through the rewrite") {
    val tbl = freshTarget(Seq((1L, 10L, "a"), (2L, 20L, "b")))
    import spark.implicits._
    // source schema matches the target column-for-column (star contract)
    Seq((2L, 200L, "B"), (3L, 300L, "C")).toDF("k", "v", "tag")
      .createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $tbl t USING merge_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(result(tbl) === Set(
      (1L, 10L, "a"), (2L, 200L, "B"), (3L, 300L, "C")))
  }

  test("ambiguous match (two source rows per target row) errors") {
    val tbl = freshTarget(Seq((1L, 10L, "a")))
    import spark.implicits._
    Seq((1L, 100L), (1L, 200L)).toDF("k", "nv").createOrReplaceTempView("merge_src")
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $tbl t USING merge_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => Option(c.getMessage).exists(_.contains("more than one source row"))))
    // and the table is untouched (the in-stream check throws during the
    // SCRATCH write, before the target overwrite)
    assert(result(tbl) === Set((1L, 10L, "a")))
  }

  test("insert-only merge tolerates multiple source rows per existing key") {
    // the CDC dedup-insert pattern (ADVICE r12): no MATCHED clause means
    // no target row can be modified, so multi-matches are legal and the
    // matched source rows are simply not inserted; unmatched duplicates
    // are each inserted (SQL: every not-matched source row inserts)
    val tbl = freshTarget(Seq((1L, 10L, "a")))
    import spark.implicits._
    Seq((1L, 100L), (1L, 200L), (9L, 900L), (9L, 901L))
      .toDF("k", "nv").createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $tbl t USING merge_src s ON t.k = s.k
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)""".stripMargin)
    assert(result(tbl) === Set(
      (1L, 10L, "a"), (9L, 900L, null), (9L, 901L, null)))
  }

  test("ambiguous matches that fire no clause keep one unchanged row") {
    // only matches that would UPDATE/DELETE the target row are ambiguous;
    // pass-through copies of a multi-matched row collapse to one output
    val tbl = freshTarget(Seq((1L, 10L, "a")))
    import spark.implicits._
    Seq((1L, -5L), (1L, -6L)).toDF("k", "nv").createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $tbl t USING merge_src s ON t.k = s.k
         |WHEN MATCHED AND s.nv > 0 THEN UPDATE SET v = s.nv""".stripMargin)
    assert(result(tbl) === Set((1L, 10L, "a")))
  }

  test("one firing match among several non-firing ones applies, no error") {
    // SQL counts only matches that would modify the row: two source rows
    // match k=1, but only one passes the clause condition — the update
    // applies and no cardinality error fires
    val tbl = freshTarget(Seq((1L, 10L, "a")))
    import spark.implicits._
    Seq((1L, -5L), (1L, 100L)).toDF("k", "nv").createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $tbl t USING merge_src s ON t.k = s.k
         |WHEN MATCHED AND s.nv > 0 THEN UPDATE SET v = s.nv""".stripMargin)
    assert(result(tbl) === Set((1L, 100L, "a")))
  }

  test("ON clause with a residual predicate beyond the equi key") {
    // the common CDC shape: equality on the key plus a source-side
    // filter folded into ON — rows failing the residual are NOT MATCHED
    val tbl = freshTarget(Seq((1L, 10L, "a"), (2L, 20L, "b")))
    import spark.implicits._
    Seq((1L, 100L), (2L, 5L)).toDF("k", "nv").createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $tbl t USING merge_src s ON t.k = s.k AND s.nv > 50
         |WHEN MATCHED THEN UPDATE SET v = s.nv
         |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, -1)""".stripMargin)
    // k=1 matched (nv=100 > 50) and updated; the (2, 5) source row fails
    // the residual, so target k=2 is untouched AND the source row
    // re-enters as NOT MATCHED (insert with k=2, v=-1) — SQL semantics
    assert(result(tbl) === Set(
      (1L, 100L, "a"), (2L, 20L, "b"), (2L, -1L, null)))
  }

  test("cardinalityCheck=false deduplicates multi-matched target rows") {
    // with the guard off, the output must still carry exactly ONE row per
    // target row — the first firing match by source row id (r12 emitted
    // one kept row per match: silent duplication, ADVICE r12)
    val tbl = freshTarget(Seq((1L, 10L, "a")))
    import spark.implicits._
    Seq((1L, 100L), (1L, 200L)).toDF("k", "nv").createOrReplaceTempView("merge_src")
    spark.conf.set("spark.graft.merge.cardinalityCheck", "false")
    try spark.sql(
      s"""MERGE INTO $tbl t USING merge_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    finally spark.conf.unset("spark.graft.merge.cardinalityCheck")
    assert(result(tbl) === Set((1L, 100L, "a")))
  }

  test("MERGE nested-field UPDATE rebuilds the struct; siblings untouched") {
    val tbl = s"merge_spec_nested"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING parquet LOCATION '$path' AS " +
      "SELECT CAST(1 AS BIGINT) AS k, named_struct('f', 10L, 'g', 'keep') AS s " +
      "UNION ALL SELECT CAST(2 AS BIGINT), named_struct('f', 20L, 'g', 'also')")
    import spark.implicits._
    Seq((1L, 99L)).toDF("k", "nv").createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $tbl t USING merge_src u ON t.k = u.k
         |WHEN MATCHED THEN UPDATE SET t.s.f = u.nv""".stripMargin)
    val got = spark.sql(s"SELECT k, s.f, s.g FROM $tbl").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got === Set((1L, 99L, "keep"), (2L, 20L, "also")))
  }

  test("MERGE map-key assignment upserts the entry; siblings untouched, " +
      "NULL map stays NULL") {
    // array subscripts (t.a[0]) die in the parser; the dotted key on a
    // MAP column resolves to GetMapValue, which keyPath accepts since
    // r17 — remove-then-append semantics: update when present, insert
    // when absent (the Hive/Iceberg map-mutation convention)
    val tbl = s"merge_spec_map"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING parquet LOCATION '$path' AS " +
      "SELECT k, CASE WHEN k = 3 THEN CAST(NULL AS MAP<STRING,BIGINT>) " +
      "ELSE map('x', k * 10, 'keep', k) END AS m " +
      "FROM VALUES CAST(1 AS BIGINT), CAST(2 AS BIGINT), " +
      "CAST(3 AS BIGINT), CAST(4 AS BIGINT) AS v(k)")
    import spark.implicits._
    // k=2 updates 'x' and inserts 'y'; k=3 has a NULL map (stays NULL);
    // k=4 is unmatched (map untouched); k=1 is matched by no source row
    Seq((2L, 99L), (3L, 77L)).toDF("k", "nv")
      .createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE INTO $tbl t USING merge_src u ON t.k = u.k
         |WHEN MATCHED THEN UPDATE SET t.m.x = u.nv, t.m.y = u.nv + 1""".stripMargin)
    val got = spark.sql(s"SELECT k, m FROM $tbl").collect()
      .map(r => r.getLong(0) ->
        Option(r.getMap[String, Long](1)).map(_.toMap)).toMap
    assert(got(1L) === Some(Map("x" -> 10L, "keep" -> 1L)),
      "unmatched target row's map must ride through untouched")
    assert(got(2L) === Some(Map("x" -> 99L, "keep" -> 2L, "y" -> 100L)),
      "matched row: 'x' updates, 'y' inserts, 'keep' survives")
    assert(got(3L) === None, "a NULL map stays NULL (no row to update inside)")
    assert(got(4L) === Some(Map("x" -> 40L, "keep" -> 4L)))
  }

  test("MERGE WITH SCHEMA EVOLUTION: explicit new-column INSERT/UPDATE " +
      "adds the column; pre-existing rows read it as NULL") {
    val tbl = freshTarget(Seq((1L, 10L, "a"), (2L, 20L, "b")))
    import spark.implicits._
    Seq((1L, 100L, "S1"), (9L, 900L, "S9")).toDF("k", "nv", "src_note")
      .createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $tbl t USING merge_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.nv, src_note = s.src_note
         |WHEN NOT MATCHED THEN INSERT (k, v, src_note)
         |  VALUES (s.k, s.nv, s.src_note)""".stripMargin)
    val got = spark.sql(s"SELECT k, v, tag, src_note FROM $tbl").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2),
        if (r.isNullAt(3)) null else r.getString(3))).toSet
    assert(got === Set(
      (1L, 100L, "a", "S1"),  // matched: updated incl. the evolved column
      (2L, 20L, "b", null),   // untouched row: NULL backfill
      (9L, 900L, null, "S9"))) // inserted with the evolved column
  }

  test("MERGE WITH SCHEMA EVOLUTION: star forms evolve every " +
      "source-only column") {
    val tbl = freshTarget(Seq((1L, 10L, "a"), (2L, 20L, "b")))
    import spark.implicits._
    // source mirrors the target plus an extra column (star contract)
    Seq((2L, 200L, "B", 7L), (3L, 300L, "C", 9L)).toDF("k", "v", "tag", "score")
      .createOrReplaceTempView("merge_src")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $tbl t USING merge_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql(s"SELECT k, v, tag, score FROM $tbl").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(got === Set(
      (1L, 10L, "a", -1L),  // untouched: evolved column NULL
      (2L, 200L, "B", 7L),  // star update carries the evolved column
      (3L, 300L, "C", 9L))) // star insert carries the evolved column
  }

  test("MERGE WITH SCHEMA EVOLUTION rejects type CHANGES loudly") {
    val tbl = freshTarget(Seq((1L, 10L, "a")))
    import spark.implicits._
    // source's v is INT where the target's is BIGINT
    Seq((1, 100, "x")).toDF("k", "v", "extra")
      .select(org.apache.spark.sql.functions.col("k").cast("bigint"),
        org.apache.spark.sql.functions.col("v"),
        org.apache.spark.sql.functions.col("extra"))
      .createOrReplaceTempView("merge_src")
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $tbl t USING merge_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage)
      .exists(m => m.contains("changing the type") && m.contains("`v`"))))
  }

  test("schema evolution composes with the file-pruned commit: " +
      "untouched files stay byte-identical and read NULL for the new column") {
    val (tbl, path) = clusteredTarget()
    val before = fileState(path)
    import spark.implicits._
    Seq((3L, 333L, "E3"), (200L, 2000L, "E200")).toDF("k", "nv", "note")
      .createOrReplaceTempView("merge_files_src")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $tbl t USING merge_files_src s
         |ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.nv, note = s.note
         |WHEN NOT MATCHED THEN INSERT (k, v, tag, note)
         |  VALUES (s.k, s.nv, 'new', s.note)""".stripMargin)
    val after = fileState(path)
    val removed = (before.keySet -- after.keySet).size
    assert(removed >= 1 && removed < before.size, s"strict subset: $removed")
    (before.keySet intersect after.keySet).foreach(f =>
      assert(before(f) === after(f), s"untouched $f changed"))
    // old-schema files surface the evolved column as NULL
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE note IS NULL")
      .head().getLong(0) === 39L)
    assert(spark.sql(s"SELECT note FROM $tbl WHERE k = 3").head().getString(0)
      === "E3")
    assert(spark.sql(s"SELECT note FROM $tbl WHERE k = 200").head().getString(0)
      === "E200")
  }

  test("one-pass plan shape: exactly one join, one window, no second pass") {
    // structural pin for the r12 verdict item: the cardinality check must
    // ride the merge's own full-outer join (an in-stream window + assert),
    // never a second target⋈source job
    import org.apache.spark.sql.catalyst.expressions.EqualTo
    import org.apache.spark.sql.catalyst.plans.logical.{Assignment, Join => LJoin,
      MergeIntoTable, UpdateAction, InsertAction, Window => LWindow}
    import spark.implicits._
    val tgtDf = Seq((1L, 10L)).toDF("k", "v")
    val srcDf = Seq((1L, 100L)).toDF("k2", "nv")
    val tgtPlan = tgtDf.queryExecution.analyzed
    val srcPlan = srcDf.queryExecution.analyzed
    val tk = tgtPlan.output.find(_.name == "k").get
    val tv = tgtPlan.output.find(_.name == "v").get
    val sk = srcPlan.output.find(_.name == "k2").get
    val sv = srcPlan.output.find(_.name == "nv").get
    val m = MergeIntoTable(tgtPlan, srcPlan, EqualTo(tk, sk),
      Seq(UpdateAction(None, Seq(Assignment(tv, sv)))),
      Seq(InsertAction(None, Seq(Assignment(tk, sk), Assignment(tv, sv)))),
      Seq.empty, withSchemaEvolution = false)
    val plan = graft.plans.GraftMergeIntoCommand.mergedPlanFor(m, checkCardinality = true)
    assert(plan.collect { case j: LJoin => j }.size === 1)
    assert(plan.collect { case w: LWindow => w }.size === 1)
  }

  test("merge result hash-stable across reruns (CoW rewrite deterministic)") {
    def run(): Set[(Long, Long, String)] = {
      val tbl = freshTarget(Seq((1L, 10L, "x"), (2L, 20L, "y")))
      import spark.implicits._
      Seq((2L, 200L), (3L, 300L)).toDF("k", "nv").createOrReplaceTempView("merge_src")
      spark.sql(
        s"""MERGE INTO $tbl t USING merge_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.nv
           |WHEN NOT MATCHED THEN INSERT (k, v, tag) VALUES (s.k, s.nv, 'new')""".stripMargin)
      result(tbl)
    }
    assert(run() === run())
  }

  // ------------------------------------------------------------------
  // FILE-PRUNED copy-on-write laws for MERGE (VERDICT r14 item 1).
  // ------------------------------------------------------------------

  /** (relative path -> md5) of every data file under `path`. */
  private def fileState(path: String): Map[String, String] = {
    val root = java.nio.file.Paths.get(path)
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = scala.collection.mutable.Map[String, String]()
    def walk(d: java.io.File): Unit =
      Option(d.listFiles).foreach(_.foreach { f =>
        val nm = f.getName
        if (f.isDirectory) { if (!nm.startsWith(".") && !nm.startsWith("_")) walk(f) }
        else if (!nm.startsWith(".") && !nm.startsWith("_"))
          out += root.relativize(f.toPath).toString ->
            md.digest(java.nio.file.Files.readAllBytes(f.toPath))
              .map("%02x".format(_)).mkString
      })
    walk(new java.io.File(path))
    out.toMap
  }

  /** Fresh 4-file target range-clustered on k (k = 0..39). */
  private def clusteredTarget(): (String, String) = {
    n += 1
    val tbl = s"merge_spec_files_t$n"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    import spark.implicits._
    (0L until 40L).map(k => (k, k * 10, s"t${k % 3}")).toDF("k", "v", "tag")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("k"))
      .write.option("path", path).saveAsTable(tbl)
    (tbl, path)
  }

  test("insert-only MERGE appends new files and touches NO existing file") {
    val (tbl, path) = clusteredTarget()
    val before = fileState(path)
    assert(before.size === 4)
    import spark.implicits._
    Seq((5L, 555L), (100L, 1000L), (101L, 1010L)).toDF("k", "nv")
      .createOrReplaceTempView("merge_files_src")
    spark.sql(
      s"""MERGE INTO $tbl t USING merge_files_src s ON t.k = s.k
         |WHEN NOT MATCHED THEN INSERT (k, v, tag) VALUES (s.k, s.nv, 'new')""".stripMargin)
    val after = fileState(path)
    // every original file still on disk, byte-identical; only appends
    before.foreach { case (f, h) =>
      assert(after.get(f).contains(h), s"original file $f was touched") }
    assert(after.size > before.size, "inserted rows must land in new files")
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head().getLong(0) === 42L)
    // k=5 already existed: dedup-insert must not duplicate it
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE k = 5").head().getLong(0) === 1L)
  }

  test("update/insert MERGE rewrites only files with matched rows; " +
      "untouched files stay byte-identical") {
    val (tbl, path) = clusteredTarget()
    val before = fileState(path)
    import spark.implicits._
    // both source keys hit k=3 and k=7 — the low range bucket(s) only
    Seq((3L, 333L), (7L, 777L), (200L, 2000L)).toDF("k", "nv")
      .createOrReplaceTempView("merge_files_src")
    spark.sql(
      s"""MERGE INTO $tbl t USING merge_files_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.nv
         |WHEN NOT MATCHED THEN INSERT (k, v, tag) VALUES (s.k, s.nv, 'new')""".stripMargin)
    val after = fileState(path)
    val removed = (before.keySet -- after.keySet).size
    assert(removed >= 1 && removed < before.size,
      s"strict subset of files rewritten: $removed of ${before.size}")
    (before.keySet intersect after.keySet).foreach(f =>
      assert(before(f) === after(f), s"untouched $f changed"))
    assert(result(tbl) contains ((3L, 333L, "t0")))
    assert(result(tbl) contains ((200L, 2000L, "new")))
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head().getLong(0) === 41L)
  }

  test("partitioned target: pruned MERGE rewrites only touched partitions' " +
      "files, mints + registers a NEW partition, other partitions byte-identical") {
    n += 1
    val tbl = s"merge_spec_part_t$n"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    import spark.implicits._
    (0L until 40L).map(k => (k, k * 10, s"p${k % 3}")).toDF("k", "v", "p")
      .write.partitionBy("p").option("path", path).saveAsTable(tbl)
    val before = fileState(path)
    // updates hit k=3 (partition p0) only; the insert mints partition p9
    Seq((3L, 333L, "p0"), (100L, 1000L, "p9")).toDF("k", "nv", "np")
      .createOrReplaceTempView("merge_part_src")
    spark.sql(
      s"""MERGE INTO $tbl t USING merge_part_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.nv
         |WHEN NOT MATCHED THEN INSERT (k, v, p) VALUES (s.k, s.nv, s.np)""".stripMargin)
    val after = fileState(path)
    // p1/p2 partitions never had a matched row: byte-identical on disk
    before.filter(f => f._1.startsWith("p=p1/") || f._1.startsWith("p=p2/"))
      .foreach { case (f, h) =>
        assert(after.get(f).contains(h), s"untouched partition file $f changed") }
    val removed = (before.keySet -- after.keySet).size
    assert(removed >= 1 && removed < before.size,
      s"strict subset rewritten: $removed of ${before.size}")
    // the minted partition is REGISTERED — the catalog reader sees it
    val parts = spark.sql(s"SHOW PARTITIONS $tbl").collect().map(_.getString(0)).toSet
    assert(parts.contains("p=p9"), parts.toString)
    assert(spark.sql(s"SELECT v FROM $tbl WHERE k = 100").head().getLong(0) === 1000L)
    assert(spark.sql(s"SELECT v FROM $tbl WHERE k = 3").head().getLong(0) === 333L)
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head().getLong(0) === 41L)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("pruned MERGE insert with a NULL partition value registers the " +
      "default partition: catalog readers see the rows (ADVICE r16)") {
    n += 1
    val tbl = s"merge_spec_nullpart_t$n"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    import spark.implicits._
    (0L until 40L).map(k => (k, k * 10, s"p${k % 3}")).toDF("k", "v", "p")
      .write.partitionBy("p").option("path", path).saveAsTable(tbl)
    // the insert's partition value is NULL — the scratch write routes it
    // to __HIVE_DEFAULT_PARTITION__, which the commit must register via
    // the catalog API (ALTER ADD PARTITION cannot express it); before
    // the r17 fix the file landed on disk but no catalog reader saw it
    Seq((3L, 333L, Some("p0")), (100L, 1000L, None))
      .toDF("k", "nv", "np").createOrReplaceTempView("merge_nullpart_src")
    spark.sql(
      s"""MERGE INTO $tbl t USING merge_nullpart_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.nv
         |WHEN NOT MATCHED THEN INSERT (k, v, p) VALUES (s.k, s.nv, s.np)""".stripMargin)
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head().getLong(0) === 41L,
      "the NULL-partition insert must be visible to the catalog reader")
    assert(spark.sql(s"SELECT v FROM $tbl WHERE p IS NULL").collect()
      .map(_.getLong(0)).toSeq === Seq(1000L))
    assert(spark.sql(s"SELECT v FROM $tbl WHERE k = 3").head().getLong(0) === 333L)
    val parts = spark.sql(s"SHOW PARTITIONS $tbl").collect().map(_.getString(0)).toSet
    assert(parts.exists(_.contains("__HIVE_DEFAULT_PARTITION__")), parts.toString)
    spark.sql(s"DROP TABLE $tbl")
  }

  test("MERGE matched UPDATE of the partition column prunes: rows migrate " +
      "directories, untouched partitions stay byte-identical") {
    n += 1
    val tbl = s"merge_spec_partmove_t$n"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    import spark.implicits._
    (0L until 40L).map(k => (k, k * 10, s"p${k % 3}")).toDF("k", "v", "p")
      .write.partitionBy("p").option("path", path).saveAsTable(tbl)
    val before = fileState(path)
    // k=3 lives in p=p0; move it to the (minted) p=hot partition
    Seq((3L, "hot")).toDF("k", "np").createOrReplaceTempView("merge_move_src")
    spark.sql(
      s"""MERGE INTO $tbl t USING merge_move_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET p = s.np""".stripMargin)
    val after = fileState(path)
    // p1/p2 had no matched row: byte-identical (before r17 ANY
    // partition-column assignment forced a full-table rewrite)
    before.filter(f => f._1.startsWith("p=p1/") || f._1.startsWith("p=p2/"))
      .foreach { case (f, h) =>
        assert(after.get(f).contains(h), s"untouched partition file $f changed") }
    val removed = (before.keySet -- after.keySet).size
    assert(removed >= 1 && removed < before.size,
      s"strict subset rewritten: $removed of ${before.size}")
    val parts = spark.sql(s"SHOW PARTITIONS $tbl").collect().map(_.getString(0)).toSet
    assert(parts.contains("p=hot"), parts.toString)
    assert(spark.sql(s"SELECT p FROM $tbl WHERE k = 3").head().getString(0) === "hot")
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head().getLong(0) === 40L)
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE p = 'p0'")
      .head().getLong(0) === 13L) // 14 k%3==0 keys minus the migrated one
    spark.sql(s"DROP TABLE $tbl")
  }

  test("MERGE with NOT MATCHED BY SOURCE rewrites the full table " +
      "(pruning impossible by semantics, not by accident)") {
    val (tbl, path) = clusteredTarget()
    val before = fileState(path)
    import spark.implicits._
    Seq((3L, 333L)).toDF("k", "nv").createOrReplaceTempView("merge_files_src")
    spark.sql(
      s"""MERGE INTO $tbl t USING merge_files_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.nv
         |WHEN NOT MATCHED BY SOURCE AND t.k = 39 THEN DELETE""".stripMargin)
    val after = fileState(path)
    assert((before.keySet intersect after.keySet).isEmpty,
      "NOT MATCHED BY SOURCE puts every row in play: full rewrite")
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head().getLong(0) === 39L)
  }

  test("pruned MERGE still enforces the cardinality guard and leaves " +
      "the target untouched on error") {
    val (tbl, path) = clusteredTarget()
    val before = fileState(path)
    import spark.implicits._
    Seq((3L, 1L), (3L, 2L)).toDF("k", "nv").createOrReplaceTempView("merge_files_src")
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $tbl t USING merge_files_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.nv""".stripMargin)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage)
      .exists(_.contains("more than one source row"))))
    assert(fileState(path) === before, "failed MERGE must not touch the table")
  }
}
