package graft

import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-loader robustness (VERDICT r7 missing #1/#8): round 7 lost 24
  * correctness entries because the events loader hard-coded one physical
  * timestamp annotation and the driver's fixture regen changed it. This
  * sweep loads EVERY fixture table at EVERY scale factor, so any future
  * physical-type assumption that drifts out from under `Tables` fails
  * here before it fails a round.
  */
class TablesSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private val sfs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(sf).filter(d => new java.io.File(d).isDirectory)

  test("all fixture tables analyze at every scale factor") {
    for (dir <- sfs; name <- Tables.names) {
      val df = Tables.load(spark, dir, name)
      assert(df.schema.nonEmpty, s"$dir/$name produced an empty schema")
    }
  }

  test("events.ts canonicalizes to TimestampType regardless of fixture shape") {
    for (dir <- sfs) {
      val ts = Tables.events(spark, dir).schema("ts").dataType
      assert(ts == TimestampType, s"$dir events.ts read as $ts")
    }
  }

  test("every table is readable, not just analyzable (one row at sf0.001)") {
    for (name <- Tables.names) {
      val rows = Tables.load(spark, sf("sf0.001"), name).head(1)
      assert(rows.nonEmpty, s"sf0.001/$name returned no rows")
    }
  }

  test("nanos-shaped events (legacy fixture) still rebuild losslessly") {
    // Synthesize the OLD fixture shape — ts as raw epoch-nanos LongType,
    // the way `nanosAsLong` surfaces parquet TIMESTAMP(NANOS) — and
    // assert the canonicalizer yields identical instants to the µs path.
    import org.apache.spark.sql.functions._
    val cur = Tables.events(spark, sf("sf0.001"))
      .select(col("event_id"), col("ts")).limit(100)
    val asNanos = cur.select(col("event_id"),
      (unix_micros(col("ts")) * 1000L).as("ts"))
    assert(asNanos.schema("ts").dataType == LongType)
    val dir = freshDir("ev_nanos").toString
    asNanos.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rebuilt = Tables.load(spark, dir, "events")
    assert(rebuilt.schema("ts").dataType == TimestampType)
    val diff = rebuilt.join(cur.withColumnRenamed("ts", "ts0"), "event_id")
      .filter(col("ts") =!= col("ts0")).count()
    assert(diff == 0, s"$diff rows differ between nanos-long and µs paths")
  }
}
