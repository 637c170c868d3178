package graft

import graft.plans.{GraftInjectedCrash, StreamTableAppend, TableCommit}
import org.scalatest.funsuite.AnyFunSuite

/** Laws of commit-log checkpointing (m41, r17) the entry hash cannot
  * isolate: which log files survive, version continuity, the
  * crash-between-ckpt-and-prune overlap, and the multi-key
  * last-writer-wins note fold.
  */
class LogCheckpointSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private var n = 0

  private def freshTable(): String = {
    n += 1
    val tbl = s"log_ckpt_t$n"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    new java.io.File(path).mkdirs()
    spark.sql(s"""CREATE TABLE $tbl (k BIGINT, v BIGINT, p STRING)
      USING parquet PARTITIONED BY (p) LOCATION '$path'""")
    tbl
  }

  private def batchDf(b: Int) = {
    import spark.implicits._
    (1L to 4L).map(i => (b * 10L + i, i, s"p$b")).toDF("k", "v", "p")
  }

  private def meta(tbl: String) =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl))

  private def commitFiles(tbl: String): Set[String] = {
    val (fs, loc) = TableCommit.fsOf(spark, meta(tbl))
    val dir = TableCommit.commitsDir(loc)
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filterNot(_.startsWith(".")).toSet
  }

  private def rows(tbl: String): Set[(Long, Long, String)] =
    spark.sql(s"SELECT k, v, p FROM $tbl").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  private def expected(bs: Int*): Set[(Long, Long, String)] =
    bs.flatMap(b => (1L to 4L).map(i => (b * 10L + i, i, s"p$b"))).toSet

  test("checkpoint collapses the old manifests into one ckpt, prunes " +
      "their txt/lock files, and versioning continues unbroken") {
    val tbl = freshTable()
    (0 to 3).foreach(b =>
      assert(StreamTableAppend.appendBatch(spark, tbl, batchDf(b), b)))
    val (fs, loc) = TableCommit.fsOf(spark, meta(tbl))
    val liveAt3 = TableCommit.readManifest(fs, loc, 3).get.live
    assert(TableCommit.checkpointLog(spark, meta(tbl)) === 3)
    assert(commitFiles(tbl) === Set("v3.ckpt", "v4.txt", "v4.lock"))
    val ck = TableCommit.readCheckpoint(fs, loc).get
    assert(ck.version === 3)
    assert(ck.live === liveAt3, "the ckpt carries the horizon's live set")
    assert(ck.notes === Map("stream_hw" -> "2"),
      "last-writer-wins fold over the collapsed versions")
    assert(TableCommit.currentVersion(fs, loc) === 4)
    // history folds and data are intact; the next commit takes v5
    assert(!StreamTableAppend.appendBatch(spark, tbl, batchDf(2), 2L))
    assert(StreamTableAppend.appendBatch(spark, tbl, batchDf(4), 4L))
    assert(TableCommit.currentVersion(fs, loc) === 5)
    assert(rows(tbl) === expected(0, 1, 2, 3, 4))
    // an immediate re-checkpoint collapses the tail that just grew
    assert(TableCommit.checkpointLog(spark, meta(tbl)) === 1)
    assert(commitFiles(tbl) === Set("v4.ckpt", "v5.txt", "v5.lock"))
    assert(rows(tbl) === expected(0, 1, 2, 3, 4))
  }

  test("crash between ckpt write and prune: readers tolerate the " +
      "overlap, and the resumed checkpoint finishes the job") {
    val tbl = freshTable()
    (0 to 2).foreach(b =>
      assert(StreamTableAppend.appendBatch(spark, tbl, batchDf(b), b)))
    val t = TableCommit.withCrashPoint("betweenCkptAndPrune") {
      intercept[Throwable](TableCommit.checkpointLog(spark, meta(tbl)))
    }
    assert(Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[GraftInjectedCrash]))
    // torn state: ckpt AND collapsed txts both present — every reader
    // must still be exact
    val files = commitFiles(tbl)
    assert(files.contains("v2.ckpt") && files.contains("v1.txt"))
    val (fs, loc) = TableCommit.fsOf(spark, meta(tbl))
    assert(StreamTableAppend.highWater(fs, loc, "stream_hw") === 2)
    assert(TableCommit.currentVersion(fs, loc) === 3)
    assert(rows(tbl) === expected(0, 1, 2))
    // resume: same horizon, prune completes
    assert(TableCommit.checkpointLog(spark, meta(tbl)) === 2)
    assert(commitFiles(tbl) === Set("v2.ckpt", "v3.txt", "v3.lock"))
    assert(StreamTableAppend.highWater(fs, loc, "stream_hw") === 2)
    assert(rows(tbl) === expected(0, 1, 2))
  }

  test("the note fold is per-key last-writer-wins: two interleaved " +
      "streams keep independent high-waters through a checkpoint") {
    val tbl = freshTable()
    assert(StreamTableAppend.appendBatch(spark, tbl, batchDf(0), 0L, key = "hwA"))
    assert(StreamTableAppend.appendBatch(spark, tbl, batchDf(1), 5L, key = "hwB"))
    assert(StreamTableAppend.appendBatch(spark, tbl, batchDf(2), 1L, key = "hwA"))
    assert(TableCommit.checkpointLog(spark, meta(tbl)) === 2)
    val (fs, loc) = TableCommit.fsOf(spark, meta(tbl))
    assert(StreamTableAppend.highWater(fs, loc, "hwA") === 1)
    assert(StreamTableAppend.highWater(fs, loc, "hwB") === 5)
    assert(!StreamTableAppend.appendBatch(spark, tbl, batchDf(9), 1L, key = "hwA"))
    assert(!StreamTableAppend.appendBatch(spark, tbl, batchDf(9), 5L, key = "hwB"))
    assert(StreamTableAppend.appendBatch(spark, tbl, batchDf(3), 6L, key = "hwB"))
    assert(rows(tbl) === expected(0, 1, 2, 3))
  }
}
