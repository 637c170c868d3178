package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Two oracle-graded streaming entries, run through `SparkEntry.queries`
  * and compared with a Spark batch recompute of the same events, so a
  * broken scenario runner fails `sbt test` without the DuckDB tooling:
  * t22 drains in-run (`processAllAvailable`), t30 resumes one checkpoint
  * across two `AvailableNow` runs.
  */
class StreamOracleSpec extends AnyFunSuite with SparkTestBase {

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  test("t22 stream/batch parity equals a batch GROUP BY on the 5-minute floor") {
    val d = sf("sf0.001")
    val got = SparkEntry.queries("t22_stream_batch_parity")(spark, d)
    val want = Tables.events(spark, d)
      .groupBy(expr("(unix_micros(ts) div 300000000) * 300000000").as("win_us"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(got.columns.toSeq === Seq("win_us", "event_type", "n"))
    assert(sorted(got.collect()) === sorted(want.collect()))
  }

  test("t30 AvailableNow resume lands every event exactly once across two runs") {
    val d = sf("sf0.001")
    val got = SparkEntry.queries("t30_available_now_resume")(spark, d)
    val want = Tables.events(spark, d)
      .select(col("event_id"), col("user_id"), col("event_type"))
    assert(got.columns.toSeq === Seq("event_id", "user_id", "event_type"))
    val rows = sorted(got.collect())
    assert(rows.nonEmpty && rows === sorted(want.collect()))
  }
}
