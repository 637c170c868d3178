package graft

import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming coverage: one test per [[StreamCheck]] table entry
  * (the scenarios the STREAM artifact reports), the artifact's shape, and
  * the two scenario runners' cleanup contracts.
  */
class StreamingSpec extends AnyFunSuite with SparkTestBase {

  // One test per entry, named by its T label: t8b_… → "T8b: <title>".
  StreamCheck.table.foreach { e =>
    test(s"${e.name.takeWhile(_ != '_').capitalize}: ${e.title}") {
      val o = e.body(spark)
      assert(o.got === o.expected)
    }
  }

  test("the scenario table holds 21 distinct names") {
    val names = StreamCheck.table.map(_.name)
    assert(names.size === 21)
    assert(names.distinct === names)
  }

  test("the STREAM artifact: its counts, then one {ok, rows, batches} per entry in order") {
    import scala.jdk.CollectionConverters._
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(StreamCheck.render(Seq(
      "a_pass" -> Some(StreamCheck.Outcome(Set(1L, 2L), Set(2L, 1L), 3, 2, replayHits = 1)),
      "b_fail" -> Some(StreamCheck.Outcome((1L, true), (1L, false), 1, 4)),
      "c_threw" -> None)))
    assert(json.fieldNames.asScala.toSeq ===
      Seq("scenarios", "passed", "replay_gate_hits", "a_pass", "b_fail", "c_threw"))
    assert(json.get("scenarios").asLong === 3)
    assert(json.get("passed").asLong === 1)
    assert(json.get("replay_gate_hits").asLong === 1)
    val lines = Seq("a_pass", "b_fail", "c_threw").map { n =>
      val o = json.get(n)
      assert(o.fieldNames.asScala.toSeq === Seq("ok", "rows", "batches"))
      (o.get("ok").asBoolean, o.get("rows").asLong, o.get("batches").asLong)
    }
    assert(lines === Seq((true, 3L, 2L), (false, 1L, 4L), (false, -1L, -1L)))
  }

  test("a scenario whose feed throws leaves no active query") {
    import spark.implicits._
    val in = MemoryStream[Long](spark)
    val failing = StreamCheck.Entry("tx3_failing", "feed throws") { _ =>
      StreamCheck.drive(in.toDF().writeStream.format("memory").queryName("tx3_failing"),
        () => in.addData(1L), () => throw new IllegalStateException("boom"))
      StreamCheck.Outcome(0, 0, 0, 0)
    }
    assert(StreamCheck.run(spark, Seq(failing)) === Seq("tx3_failing" -> None))
    assert(spark.streams.active.isEmpty)
  }

  // The oracle entries' scenario runner (Streams.scenario): the session
  // conf it sets must come back even when the query dies mid-stream, and
  // a file left in the entry's feed directory must never be consumed.
  private val provider = "spark.sql.streaming.stateStore.providerClass"

  test("scenario runner restores shuffle partitions and the state-store provider after a failed query") {
    val boom = udf((id: Long) => {
      if (id == 2L) throw new IllegalStateException("boom"); id
    })
    val (_, failing) = Streams.scenario("tx1_failing", parts = 3, rocksDb = true) {
      (_, _, sc) =>
        sc.stage("feed", 0, Seq("""{"id":1}"""))
        sc.stage("feed", 1, Seq("""{"id":2}"""))
        sc.memory(sc.feed("id BIGINT").select(boom(col("id")).as("id")), "append")
    }
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val prior = spark.conf.getAll.get(provider)
    try {
      spark.conf.unset(provider)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        failing(spark, sf("sf0.001")))
      assert(spark.conf.get("spark.sql.shuffle.partitions") === parts)
      assert(spark.conf.getAll.get(provider) === None, "an unset provider must stay unset")
      val hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
      spark.conf.set(provider, hdfs)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        failing(spark, sf("sf0.001")))
      assert(spark.conf.get("spark.sql.shuffle.partitions") === parts)
      assert(spark.conf.getAll.get(provider) === Some(hdfs))
    } finally prior match {
      case Some(p) => spark.conf.set(provider, p)
      case None => spark.conf.unset(provider)
    }
  }

  test("scenario runner empties the entry's feed directory: a stale batch is not consumed") {
    import spark.implicits._
    var feedDir = ""
    val (_, probe) = Streams.scenario("tx2_stale", parts = 3) { (_, _, sc) =>
      feedDir = sc.path("feed")
      sc.stage("feed", 0, Seq("""{"id":1}""", """{"id":2}"""))
      sc.memory(sc.feed("id BIGINT"), "append")
    }
    assert(probe(spark, sf("sf0.001")).as[Long].collect().sorted === Array(1L, 2L))
    java.nio.file.Files.write(java.nio.file.Paths.get(feedDir, "batch99.json"),
      "{\"id\":99}\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(probe(spark, sf("sf0.001")).as[Long].collect().sorted === Array(1L, 2L))
  }
}
