package graft

import graft.plans.{GraftInjectedCrash, StreamTableAppend, TableCommit}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Laws of the exactly-once streaming table append (t39, r17) that the
  * entry's content hash cannot isolate: the high-water survives
  * interleaved notes-less commits, an OCC loss retries to success, and
  * a crash on either side of the publish point leaves exactly-once
  * data with the gate still correct.
  */
class StreamAppendSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private var n = 0

  private def freshTable(): String = {
    n += 1
    val tbl = s"stream_append_t$n"
    val path = freshPath(tbl)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"""CREATE TABLE $tbl (k BIGINT, v BIGINT, p STRING)
      USING parquet PARTITIONED BY (p) LOCATION '$path'""")
    tbl
  }

  private def batchDf(b: Int) = {
    import spark.implicits._
    (1L to 5L).map(i => (b * 10L + i, i, s"p$b")).toDF("k", "v", "p")
  }

  private def rows(tbl: String): Set[(Long, Long, String)] =
    spark.sql(s"SELECT k, v, p FROM $tbl").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  private def expected(bs: Int*): Set[(Long, Long, String)] =
    bs.flatMap(b => (1L to 5L).map(i => (b * 10L + i, i, s"p$b"))).toSet

  test("the high-water survives interleaved notes-less commits " +
      "(the compaction-then-replay window)") {
    val tbl = freshTable()
    assert(StreamTableAppend.appendBatch(spark, tbl, batchDf(0), 0L))
    assert(StreamTableAppend.appendBatch(spark, tbl, batchDf(1), 1L))
    // two notes-less commits on top: a DML update and a compaction —
    // after these the LATEST manifest carries no high-water note
    spark.sql(s"UPDATE $tbl SET v = v + 100 WHERE k = 1")
    graft.plans.Compaction.compact(spark, tbl, maxFilesPerDir = 0)
    // the replay of both already-committed batches must still be
    // turned away — a latest-manifest-only gate would re-apply them
    assert(!StreamTableAppend.appendBatch(spark, tbl, batchDf(0), 0L))
    assert(!StreamTableAppend.appendBatch(spark, tbl, batchDf(1), 1L))
    // and a genuinely new batch still lands
    assert(StreamTableAppend.appendBatch(spark, tbl, batchDf(2), 2L))
    val want = expected(0, 1, 2).map {
      case (1L, v, p) => (1L, v + 100, p)
      case r => r
    }
    assert(rows(tbl) === want)
  }

  test("an OCC loss to a concurrent writer retries with a fresh base " +
      "and lands exactly once") {
    val tbl = freshTable()
    assert(StreamTableAppend.appendBatch(spark, tbl, batchDf(0), 0L))
    var fired = false
    val ok = TableCommit.withBeforeReserveHook(() => {
      if (!fired) { fired = true
        spark.sql(s"UPDATE $tbl SET v = v + 100 WHERE k = 1")
      }
    }) {
      StreamTableAppend.appendBatch(spark, tbl, batchDf(1), 1L)
    }
    assert(ok, "the retry must eventually commit")
    val want = expected(0, 1).map {
      case (1L, v, p) => (1L, v + 100, p)
      case r => r
    }
    assert(rows(tbl) === want)
  }

  test("crash before the publish point: nothing committed, the gate " +
      "still admits the batch; crash after it: data committed once, " +
      "the gate turns the replay away") {
    val tbl = freshTable()
    assert(StreamTableAppend.appendBatch(spark, tbl, batchDf(0), 0L))
    // pre-publish crash — the batch never committed, so a re-delivery
    // MUST be admitted (returning false here would LOSE the batch)
    val t1 = TableCommit.withCrashPoint("beforePublish") {
      intercept[Throwable](
        StreamTableAppend.appendBatch(spark, tbl, batchDf(1), 1L))
    }
    assert(Iterator.iterate(t1)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[GraftInjectedCrash]))
    assert(rows(tbl) === expected(0))
    assert(StreamTableAppend.appendBatch(spark, tbl, batchDf(1), 1L))
    // post-publish crash — the commit point passed, so the data IS
    // committed; the replay must be turned away and recovery (run at
    // the next append's start) converges the directory
    val t2 = TableCommit.withCrashPoint("afterPublish") {
      intercept[Throwable](
        StreamTableAppend.appendBatch(spark, tbl, batchDf(2), 2L))
    }
    assert(Iterator.iterate(t2)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[GraftInjectedCrash]))
    assert(!StreamTableAppend.appendBatch(spark, tbl, batchDf(2), 2L),
      "batch 2 committed at publish — the replay must not double it")
    assert(rows(tbl) === expected(0, 1, 2))
  }
}
