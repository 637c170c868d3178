package graft

import graft.plans.{Compaction, GraftConcurrentCommitException, GraftInjectedCrash, TableCommit}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** File-level, atomicity, and concurrency laws of the OPTIMIZE
  * compaction command (m40, r17) that the entry's content hash cannot
  * see: which directories rewrite, that healthy ones stay
  * byte-identical, that a crash never tears, and that a compactor
  * racing a writer resolves through the shared OCC lock.
  */
class CompactionSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private var n = 0

  /** Partitioned table: p=frag holds 8 small files, p=ok holds 1. */
  private def freshTable(): (String, String) = {
    n += 1
    val tbl = s"compact_spec_t$n"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    import spark.implicits._
    (1L to 80L).map(k => (k, k * 10L, "frag")).toDF("k", "v", "p")
      .repartition(8)
      .write.partitionBy("p").option("path", path).saveAsTable(tbl)
    (81L to 90L).map(k => (k, k * 10L, "ok")).toDF("k", "v", "p")
      .coalesce(1).write.mode("append").insertInto(tbl)
    (tbl, path)
  }

  private def fileState(path: String): Map[String, String] = {
    val out = scala.collection.mutable.Map[String, String]()
    def walk(f: java.io.File, prefix: String): Unit =
      Option(f.listFiles).toSeq.flatten.foreach { c =>
        if (c.getName.startsWith(".") || c.getName.startsWith("_")) ()
        else if (c.isDirectory) walk(c, s"$prefix${c.getName}/")
        else {
          val bytes = java.nio.file.Files.readAllBytes(c.toPath)
          out(s"$prefix${c.getName}") = java.util.Base64.getEncoder
            .encodeToString(java.security.MessageDigest
              .getInstance("MD5").digest(bytes))
        }
      }
    walk(new java.io.File(path), "")
    out.toMap
  }

  private def rows(tbl: String): Set[(Long, Long, String)] =
    spark.sql(s"SELECT k, v, p FROM $tbl").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  private val expected: Set[(Long, Long, String)] =
    ((1L to 80L).map(k => (k, k * 10L, "frag")) ++
      (81L to 90L).map(k => (k, k * 10L, "ok"))).toSet

  test("only over-threshold directories rewrite; healthy ones stay " +
      "byte-identical; content is row-preserved") {
    val (tbl, path) = freshTable()
    val before = fileState(path)
    assert(before.keys.count(_.startsWith("p=frag/")) === 8)
    assert(before.keys.count(_.startsWith("p=ok/")) === 1)
    val (dirs, removed, written) = Compaction.compact(spark, tbl, maxFilesPerDir = 4)
    assert(dirs === 1 && removed === 8 && written >= 1)
    val after = fileState(path)
    // healthy partition: untouched on disk
    before.filter(_._1.startsWith("p=ok/")).foreach { case (f, h) =>
      assert(after.get(f).contains(h), s"healthy-dir file $f changed") }
    // fragmented partition: fully replaced, now under the threshold
    assert((before.keySet.filter(_.startsWith("p=frag/")) intersect
      after.keySet).isEmpty, "every fragmented file must be replaced")
    assert(after.keys.count(_.startsWith("p=frag/")) <= 4)
    assert(rows(tbl) === expected, "compaction must preserve every row")
    // the commit is a real TableCommit version
    val table = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))
    val (fs, loc) = TableCommit.fsOf(spark, table)
    assert(TableCommit.currentVersion(fs, loc) === 1)
  }

  test("a healthy table is a no-op: no rewrite, no new version") {
    val (tbl, path) = freshTable()
    Compaction.compact(spark, tbl, maxFilesPerDir = 4)
    val before = fileState(path)
    val (dirs, removed, written) = Compaction.compact(spark, tbl, maxFilesPerDir = 4)
    assert((dirs, removed, written) === ((0, 0, 0)))
    assert(fileState(path) === before)
    val table = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))
    val (fs, loc) = TableCommit.fsOf(spark, table)
    assert(TableCommit.currentVersion(fs, loc) === 1, "no-op publishes nothing")
  }

  test("crash injection: pre-publish leaves the fragmented layout intact, " +
      "post-publish recovers to the compacted state — never torn") {
    def assertInjected(t: Throwable): Unit = {
      val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(_.isInstanceOf[GraftInjectedCrash]), s"got: $t")
    }
    for (point <- Seq("beforeReserve", "beforePublish")) {
      val (tbl, path) = freshTable()
      val before = fileState(path)
      TableCommit.withCrashPoint(point) {
        assertInjected(intercept[Throwable](
          Compaction.compact(spark, tbl, maxFilesPerDir = 4)))
      }
      assert(fileState(path) === before, s"crash at $point must roll back")
      assert(rows(tbl) === expected)
    }
    for (point <- Seq("afterPublish", "betweenMoveAndDelete")) {
      val (tbl, path) = freshTable()
      TableCommit.withCrashPoint(point) {
        assertInjected(intercept[Throwable](
          Compaction.compact(spark, tbl, maxFilesPerDir = 4)))
      }
      val table = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      // mid-tear: the manifest-aware read serves the committed state
      val live = TableCommit.readLive(spark, table)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(live === expected, s"readLive after $point")
      TableCommit.recover(spark, table)
      assert(rows(tbl) === expected, s"recovered state after $point")
      assert(fileState(path).keys.count(_.startsWith("p=frag/")) <= 4,
        "recovery must converge to the compacted layout")
    }
  }

  test("clustered compaction (ZORDER BY): output files carry pairwise-" +
      "disjoint key ranges, rows survive, and the in-file sort survives " +
      "the commit") {
    n += 1
    val tbl = s"compact_spec_t$n"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    import spark.implicits._
    // unpartitioned, 10-way fragmented, keys shuffled so the seed has
    // NO locality to inherit
    val seed = new scala.util.Random(7).shuffle((1L to 400L).toList)
      .map(k => (k, (k * 37L) % 1000L))
    seed.toDF("ka", "kb").repartition(10)
      .write.option("path", path).saveAsTable(tbl)
    val zcol = graft.functions.ZOrderLong.zorder(col("ka"), col("kb"))
    val (dirs, removed, written) = Compaction.compact(spark, tbl,
      maxFilesPerDir = 4, targetFileBytes = 2048, clusterBy = Seq(zcol))
    assert(dirs === 1 && removed === 10 && written >= 3,
      s"need several output files for a non-trivial disjointness law " +
        s"(got $written)")
    // content preserved
    val got = spark.sql(s"SELECT ka, kb FROM $tbl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === seed.toSet)
    // per-file Z-ranges are pairwise disjoint (recomputed from the
    // stored columns — the key is layout-only, never materialized),
    // and each file is internally sorted by the key
    val table = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))
    val (fs, loc) = TableCommit.fsOf(spark, table)
    val files = TableCommit.listDataFiles(fs, loc)
    assert(files.size === written)
    val ranges = files.map { rel =>
      val one = spark.read.parquet(s"$path/$rel")
        .select(graft.functions.ZOrderLong.zorder(col("ka"), col("kb"))
          .as("z")).collect().map(_.getLong(0))
      assert(one.sameElements(one.sorted),
        s"$rel must stay sorted through the scratch write + rename")
      (one.min, one.max)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) =>
        assert(hi < lo, s"file ranges overlap: $ranges")
      case _ =>
    }
  }

  test("clustered compaction of a PARTITIONED table: the cluster sort " +
      "survives the writer's partition-sort requirement (prefix match — " +
      "no second sort scrambles it)") {
    val (tbl, path) = freshTable()
    // cluster within each partition directory by v DESC-unfriendly key:
    // use v ascending — each dir's single output file must be v-sorted
    val (dirs, removed, written) = Compaction.compact(spark, tbl,
      maxFilesPerDir = 4, clusterBy = Seq(col("v")))
    assert(dirs === 1 && removed === 8 && written >= 1)
    assert(rows(tbl) === expected)
    val table = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))
    val (fs, loc) = TableCommit.fsOf(spark, table)
    TableCommit.listDataFiles(fs, loc)
      .filter(_.startsWith("p=frag/")).foreach { rel =>
        val vs = spark.read.parquet(s"$path/$rel")
          .select("v").collect().map(_.getLong(0))
        assert(vs.sameElements(vs.sorted),
          s"$rel must stay cluster-sorted through the partitionBy write")
      }
  }

  test("compactor racing a writer: the shared OCC lock makes exactly one " +
      "win; the loser's rewrite never lands") {
    val (tbl, _) = freshTable()
    var fired = false
    // a CDC writer slips in between the compactor's read and its
    // reserve — the writer commits first, the compactor must throw
    val t = TableCommit.withBeforeReserveHook(() => {
      if (!fired) {
        fired = true
        spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE k <= 10")
      }
    }) {
      intercept[Throwable](Compaction.compact(spark, tbl, maxFilesPerDir = 4))
    }
    val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[GraftConcurrentCommitException]))
    // the writer's commit is intact; the compactor's stale re-pack
    // (which read PRE-update rows) never reached the table
    val afterWriter = expected.map { case (k, v, p) =>
      if (k <= 10) (k, v + 1, p) else (k, v, p) }
    assert(rows(tbl) === afterWriter)
    // the retry compacts the POST-update state cleanly (the writer's
    // own pruned rewrite may already have re-packed the touched files,
    // so the retry is allowed to find the table healthy — what matters
    // is that it runs, preserves every row, and lands under threshold)
    Compaction.compact(spark, tbl, maxFilesPerDir = 4)
    assert(rows(tbl) === afterWriter)
    val table = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))
    val (fs, loc) = TableCommit.fsOf(spark, table)
    val byDir = TableCommit.listDataFiles(fs, loc)
      .groupBy(r => r.take(r.lastIndexOf('/').max(0)))
    assert(byDir.values.forall(_.size <= 4))
  }
}
