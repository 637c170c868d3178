package graft

import graft.streaming.Streams
import graft.streaming.Streams.Ev
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming coverage T1–T7 (SURVEY.md §2B) — MemoryStream +
  * AvailableNow/processAllAvailable, plus the exactly-once file-stream
  * semantics the reference hand-rolled with processed_files.txt.
  */
class StreamingSpec extends AnyFunSuite with SparkTestBase {

  private def ts(min: Int, sec: Int = 0): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")

  private def ev(id: Long, min: Int, sec: Int = 0, user: Long = 1L,
      typ: String = "click", value: Double = 1.0): Ev =
    Ev(id, ts(min, sec), user, typ, value)

  test("T1: file stream processes each file exactly once across restarts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("t1_in")
    val ckpt = java.nio.file.Files.createTempDirectory("t1_ckpt").toString
    def writeFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        lines.mkString("\n").getBytes)
    writeFile("a.ndjson", Seq("""{"id":"g1"}""", """{"id":"g2"}"""))

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.StringType)))
    val outDir = java.nio.file.Files.createTempDirectory("t1_out").toString
    def runOnce(): Long = {
      val q = Streams.fileStream(spark, dir.toString, schema)
        .writeStream.format("json").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.schema(schema).json(outDir).count()
    }
    assert(runOnce() === 2) // first file
    writeFile("b.ndjson", Seq("""{"id":"g3"}"""))
    // 3, not 5: restart from checkpoint picked up ONLY the new file —
    // the reference's processed_files.txt contract, crash-safe.
    assert(runOnce() === 3)
  }

  test("T2: tumbling window counts") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    in.addData(ev(1, 0, value = 1), ev(2, 0, value = 1), ev(3, 1),
      ev(4, 2, typ = "view"))
    val q = Streams.tumblingCounts(in.toDF(), "1 minute")
      .writeStream.format("memory").queryName("t2_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("t2_out")
      .select(date_format($"w_start", "HH:mm").as("w"), $"event_type", $"n")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(("10:00", "click", 2L), ("10:01", "click", 1L),
      ("10:02", "view", 1L)))
  }

  test("T3: sliding windows cover each event width/slide times") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    in.addData(ev(1, 2, sec = 30))
    val q = Streams.slidingCounts(in.toDF(), "5 minutes", "1 minute")
      .writeStream.format("memory").queryName("t3_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    // one event in a 5m/1m sliding window → exactly 5 windows
    assert(spark.table("t3_out").count() === 5)
  }

  test("T4: session windows split on the inactivity gap") {
    import spark.implicits._
    // gap 2 minutes: events at 10:00, 10:01, 10:05 → sessions {0,1}, {5}
    val batch = Seq(ev(1, 0), ev(2, 1), ev(3, 5)).toDF()
    val got = Streams.sessionCounts(batch, "2 minutes")
      .select(date_format($"s_start", "HH:mm").as("s"), $"n")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === Set(("10:00", 2L), ("10:05", 1L)))
  }

  test("T5: watermark drops late rows") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    val q = Streams.watermarkedCounts(in.toDF(), "10 minutes", "1 minute")
      .writeStream.format("memory").queryName("t5_out")
      .outputMode("append").start()
    in.addData(ev(1, 0))
    q.processAllAvailable()
    in.addData(ev(2, 30)) // advances watermark to 10:20
    q.processAllAvailable()
    in.addData(ev(3, 1))  // event-time 10:01 ≪ watermark → dropped
    q.processAllAvailable()
    in.addData(ev(4, 40)) // flush: closes the 10:30 window
    q.processAllAvailable(); q.stop()
    val finalized = spark.table("t5_out")
      .select(date_format($"w_start", "HH:mm").as("w"), $"n")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(finalized.get("10:00") === Some(1L)) // late row NOT added
    assert(!finalized.contains("10:01"))        // late row created no window
  }

  test("T6: dropDuplicatesWithinWatermark dedups by event_id") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    val q = Streams.dedupWithinWatermark(in.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("t6_out")
      .outputMode("append").start()
    in.addData(ev(1, 0), ev(1, 0), ev(2, 1)) // duplicate id=1 in-batch
    q.processAllAvailable()
    in.addData(ev(1, 2)) // duplicate id=1 across batches, inside watermark
    q.processAllAvailable(); q.stop()
    assert(spark.table("t6_out").select("event_id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
  }

  test("T15: streaming incremental dedup — in-stream digests + standing corpus") {
    import spark.implicits._
    val corpus = Seq("old doc body").toDF("text")
      .select(md5(col("text").cast(org.apache.spark.sql.types.BinaryType))
        .as("text_md5"))
    val in = MemoryStream[Streams.Doc](spark)
    def doc(id: Long, text: String, min: Int) = Streams.Doc(id, text, ts(min))
    val q = Streams.streamingDedup(in.toDF(), corpus)
      .writeStream.format("memory").queryName("t15_out")
      .outputMode("append").start()
    in.addData(doc(1, "alpha body", 0), doc(2, "beta body", 1),
      doc(3, "alpha body", 1), doc(4, "old doc body", 2))
    q.processAllAvailable()
    in.addData(doc(5, "beta body", 3), doc(6, "gamma body", 4))
    q.processAllAvailable(); q.stop()
    val ids = spark.table("t15_out").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    // which of the identical same-batch docs 1/3 survives is unspecified
    assert(ids.size === 3 && ids.intersect(Set(1L, 3L)).size === 1 &&
      ids.contains(2L) && ids.contains(6L), ids.toString)
  }

  test("T16: streaming quantile sketch merges batches into the window state") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    val q = Streams.streamingQuantiles(in.toDF(), "1 minute")
      .writeStream.format("memory").queryName("t16_out")
      .outputMode("complete").start()
    in.addData((1 to 50).map(i => ev(i.toLong, 0, value = i.toDouble)): _*)
    q.processAllAvailable()
    in.addData(((51 to 100).map(i => ev(i.toLong, 0, value = i.toDouble)) :+
      ev(101L, 2, value = 7.0)): _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("t16_out")
      .select(date_format(col("w_start"), "HH:mm"), col("n"), col("p50"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    // n=100 proves batch 2 merged into batch 1's sketch state; KLL is
    // exact below k=200 samples, so p50 of 1..100 (inclusive rank
    // criterion) is exactly 50
    assert(got === Set(("10:00", 100L, 50.0), ("10:02", 1L, 7.0)),
      got.toString)
  }

  test("T17: streaming theta sketch state absorbs re-fed users exactly once") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    val q = Streams.streamingDistinct(in.toDF(), "1 minute")
      .writeStream.format("memory").queryName("t17_out")
      .outputMode("complete").start()
    in.addData((1 to 30).map(u => ev(u.toLong, 0, user = u.toLong)): _*)
    q.processAllAvailable()
    // overlap 21-30 must not re-count; 31-40 extend; second type is its
    // own group
    in.addData(((21 to 40).map(u => ev(100L + u, 0, user = u.toLong)) :+
      ev(200L, 0, user = 7L, typ = "view")): _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("t17_out")
      .select(date_format(col("w_start"), "HH:mm"), col("event_type"),
        col("n_users"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .toSet
    assert(got === Set(("10:00", "click", 40.0), ("10:00", "view", 1.0)),
      got.toString)
  }

  test("T18: streaming heavy hitters cross the threshold only via merged state") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    val q = Streams.streamingHeavyHitters(in.toDF(), threshold = 5L, "1 minute")
      .writeStream.format("memory").queryName("t18_out")
      .outputMode("complete").start()
    in.addData((1 to 3).map(i => ev(i.toLong, 0, user = 7L)) ++
      (4 to 5).map(i => ev(i.toLong, 0, user = 1L)): _*)
    q.processAllAvailable()
    // user 7 reaches 6 only when batch 2's 3 events merge into batch
    // 1's sketch state; user 8's 5 arrive in one batch; user 1 stays at 2
    in.addData((6 to 8).map(i => ev(i.toLong, 0, user = 7L)) ++
      (9 to 13).map(i => ev(i.toLong, 0, user = 8L)): _*)
    q.processAllAvailable(); q.stop()
    val got = spark.table("t18_out")
      .select(col("user_id"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((7L, 6L), (8L, 5L)), got.toString)
  }

  test("T19: streaming session windows merge open sessions across batches") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    val q = Streams.streamingSessions(in.toDF(), "2 minutes", "10 minutes")
      .writeStream.format("memory").queryName("t19_out")
      .outputMode("append").start()
    in.addData(ev(1, 0), ev(2, 1))
    q.processAllAvailable()
    // minute-2 extends the open session (cross-batch merge → n=3);
    // minute-30 advances the watermark past its end and finalizes it
    in.addData(ev(3, 2), ev(4, 30))
    q.processAllAvailable()
    in.addData(ev(5, 60)) // finalizes the 10:30 singleton; own stays open
    q.processAllAvailable(); q.stop()
    val got = spark.table("t19_out")
      .select(date_format(col("s_start"), "HH:mm"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === Set(("10:00", 3L), ("10:30", 1L)), got.toString)
  }

  test("T20: CDC change stream applied to a parquet table via foreachBatch MERGE") {
    import spark.implicits._
    val tbl = "t20_state"
    val path = java.nio.file.Files.createTempDirectory("t20_tbl")
      .resolve("t").toString
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
      .write.option("path", path).saveAsTable(tbl)
    val in = MemoryStream[(Long, Long, String)](spark)
    val applyBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, _) => {
        batch.toDF("k", "v", "op").createOrReplaceTempView("t20_changes")
        batch.sparkSession.sql(
          s"""MERGE INTO $tbl t USING t20_changes s ON t.k = s.k
             |WHEN MATCHED AND s.op = 'D' THEN DELETE
             |WHEN MATCHED THEN UPDATE SET v = s.v
             |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (k, v)
             |  VALUES (s.k, s.v)""".stripMargin)
      }
    val q = in.toDF().writeStream.foreachBatch(applyBatch)
      .outputMode("update").start()
    in.addData((2L, 200L, "U"), (3L, 30L, "U")); q.processAllAvailable()
    in.addData((1L, 0L, "D"), (3L, 300L, "U")); q.processAllAvailable()
    q.stop()
    val got = spark.table(tbl).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((2L, 200L), (3L, 300L)), got.toString)
  }

  test("T8: stream-stream interval join matches clicks within the window") {
    import spark.implicits._
    val pIn = MemoryStream[Ev](spark)
    val cIn = MemoryStream[Ev](spark)
    val q = Streams.intervalJoin(pIn.toDF(), cIn.toDF(),
        watermark = "10 minutes", interval = "10 minutes")
      .writeStream.format("memory").queryName("t8_out")
      .outputMode("append").start()
    cIn.addData(ev(100, 0, typ = "click"), ev(101, 25, typ = "click"))
    pIn.addData(ev(1, 5, typ = "purchase"),  // joins click@0 (within 10m)
      ev(2, 30, typ = "purchase"))           // joins click@25, NOT click@0
    q.processAllAvailable(); q.stop()
    val got = spark.table("t8_out")
      .select($"p_id", $"c_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 100L), (2L, 101L)))
  }

  test("T10: stream-static enrichment joins each batch against the dim") {
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val in = MemoryStream[Ev](spark)
    val q = Streams.enrich(in.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("t10_out")
      .outputMode("append").start()
    in.addData(ev(1, 0, user = 1L), ev(2, 1, user = 2L), ev(3, 2, user = 9L))
    q.processAllAvailable(); q.stop()
    val got = spark.table("t10_out")
      .select($"event_id", $"tier").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // inner join: the unknown user 9 drops; known users get their tier
    assert(got === Set((1L, "gold"), (2L, "basic")))
  }

  test("T14: SCD2 temporal enrichment picks the version valid at event time") {
    import spark.implicits._
    val dim = Seq(
      (1L, "basic", ts(0), Option(ts(5))),
      (1L, "gold", ts(5), None: Option[java.sql.Timestamp]),
      (2L, "basic", ts(0), None: Option[java.sql.Timestamp]),
      (9L, "gold", ts(10), None: Option[java.sql.Timestamp]))
      .toDF("user_id", "tier", "valid_from", "valid_to")
    val in = MemoryStream[Ev](spark)
    val q = Streams.enrichScd2(in.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("t14_out")
      .outputMode("append").start()
    // minute-5 event: half-open boundary, already the gold version;
    // user 9's minute-3 event predates its first version -> drops
    in.addData(ev(1, 1, user = 1L), ev(2, 5, user = 1L), ev(3, 9, user = 1L),
      ev(4, 2, user = 2L), ev(5, 3, user = 9L))
    q.processAllAvailable(); q.stop()
    val got = spark.table("t14_out")
      .select($"event_id", $"tier").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "basic"), (2L, "gold"), (3L, "gold"), (4L, "basic")))
  }

  test("T8b: left-outer interval join emits unmatched purchases after watermark") {
    import spark.implicits._
    val pIn = MemoryStream[Ev](spark)
    val cIn = MemoryStream[Ev](spark)
    val q = Streams.intervalJoinLeftOuter(pIn.toDF(), cIn.toDF(),
        watermark = "5 minutes", interval = "10 minutes")
      .writeStream.format("memory").queryName("t8b_out")
      .outputMode("append").start()
    cIn.addData(ev(100, 0, typ = "click"))
    pIn.addData(ev(1, 5, typ = "purchase"),   // joins click@0
      ev(2, 30, typ = "purchase"))            // no click in (20, 30]
    q.processAllAvailable()
    // push both watermarks far past 30+interval so the engine can prove
    // purchase@30 will never match and emit its outer row
    cIn.addData(ev(998, 55, typ = "click"))
    pIn.addData(ev(999, 55, typ = "purchase"))
    q.processAllAvailable(); q.stop()
    val got = spark.table("t8b_out")
      .select($"p_id", $"c_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(got.contains((1L, 100L)), got)   // matched pair intact
    assert(got.contains((2L, -1L)), got)    // unmatched purchase emitted with null
  }

  test("T9: foreachBatch upsert sink is latest-wins and replay-idempotent") {
    import spark.implicits._
    val store = new Streams.UpsertStore
    val in = MemoryStream[Ev](spark)
    val q = Streams.upsertSink(in.toDS(), store)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("t9_ckpt").toString)
      .start()
    in.addData(ev(1, 0, 0, 7L, value = 10.0), ev(2, 5, 0, 7L, value = 20.0),
      ev(3, 1, 0, 9L, value = 30.0))
    q.processAllAvailable()
    // user 7 keeps its latest event (id=2); user 9 its only one
    assert(store.rows(7L)._2 === 2L && store.rows(7L)._3 === 20.0)
    assert(store.rows(9L)._2 === 3L)
    // an OLDER event arriving later must not clobber the stored row
    in.addData(ev(0, 0, 0, 7L, value = 5.0))
    q.processAllAvailable(); q.stop()
    assert(store.rows(7L)._2 === 2L && store.rows(7L)._3 === 20.0)
    // replaying an already-applied batch id is a no-op (crash-replay gate)
    val snapshot = store.rows.toMap
    assert(!store.merge(store.lastBatch, Seq((7L, 999L, 999L, 99.0))))
    assert(store.rows.toMap === snapshot)
  }

  test("T7: flatMapGroupsWithState keeps running per-user aggregates") {
    import spark.implicits._
    val in = MemoryStream[Ev](spark)
    val q = Streams.sessionize(in.toDS(), timeoutMs = 0)
      .writeStream.format("memory").queryName("t7_out")
      .outputMode("append").start()
    in.addData(ev(1, 0, 0, 7L), ev(2, 1, 0, 7L), ev(3, 1, 0, 9L))
    q.processAllAvailable()
    in.addData(ev(4, 2, 0, 7L))
    q.processAllAvailable(); q.stop()
    val byEmit = spark.table("t7_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    // user 7: first emit n=2, second emit n=3 (state carried); user 9: n=1
    assert(byEmit.contains((7L, 2L)) && byEmit.contains((7L, 3L))
      && byEmit.contains((9L, 1L)))
  }

  test("T11: transformWithState tracks named ValueState + MapState per key") {
    import spark.implicits._
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Ev](spark)
      val q = Streams.runningStats(in.toDS())
        .writeStream.format("memory").queryName("t11_out")
        .outputMode("update").start()
      in.addData(ev(1, 0, 0, 7L, typ = "click", value = 1.5),
        ev(2, 1, 0, 7L, typ = "view", value = 2.5), ev(3, 1, 0, 9L))
      q.processAllAvailable()
      in.addData(ev(4, 2, 0, 7L, typ = "click", value = 6.0))
      q.processAllAvailable(); q.stop()
      val emits = spark.table("t11_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      // batch 1: user 7 has 2 events / 4.0 total / 2 types; user 9 has 1
      assert(emits.contains((7L, 2L, 4.0, 2L)), emits)
      assert(emits.contains((9L, 1L, 1.0, 1L)), emits)
      // batch 2: BOTH state variables carried — count/total resumed from
      // the ValueState, type cardinality from the MapState
      assert(emits.contains((7L, 3L, 10.0, 2L)), emits)
    } finally {
      prior match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
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
