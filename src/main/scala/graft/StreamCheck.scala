package graft

import graft.streaming.Streams
import graft.streaming.Streams.Ev
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming round artifact (VERDICT r3 stretch #8): the T1–T10 family
  * is spec-only in the driver's correctness gate (no SQL oracle can
  * express a MemoryStream scenario), so this check re-runs each spec
  * scenario end-to-end and emits STREAM_r{N}.json — per-scenario pass,
  * rows emitted, micro-batches run, replay-gate hits — the same way
  * RECALL_r{N}.json makes the ANN quality machine-checkable.
  *
  *   sbt "runMain graft.Diag stream-check STREAM_r04.json"
  *
  * Scenarios mirror StreamingSpec verbatim (same inputs, same expected
  * outputs); a scenario is `ok` iff the spec's assertion holds here.
  */
object StreamCheck {

  private def ts(min: Int, sec: Int = 0): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")

  private def ev(id: Long, min: Int, sec: Int = 0, user: Long = 1L,
      typ: String = "click", value: Double = 1.0): Ev =
    Ev(id, ts(min, sec), user, typ, value)

  /** One scenario result: pass flag + counters for the artifact. */
  private case class Res(ok: Boolean, rows: Long, batches: Long)

  /** Run every scenario on an existing session (shared with
    * [[Verify.dump]], which regenerates the artifact every driver
    * round), write the JSON artifact, return whether all passed. */
  def check(spark: SparkSession, out: String): Boolean = {
    import spark.implicits._

    def run(df: org.apache.spark.sql.DataFrame, name: String,
        mode: String, feeds: Seq[() => Unit]): (Long, Long) = {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode).start()
      feeds.foreach { f => f(); q.processAllAvailable() }
      val batches = Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)
      q.stop()
      (spark.table(name).count(), batches)
    }

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Res]
    def scenario(name: String)(body: => Res): Unit =
      results(name) = try body catch {
        case e: Throwable =>
          System.err.println(s"[stream] $name failed: ${e.getMessage}")
          Res(ok = false, rows = -1, batches = -1)
      }

    scenario("t1_file_exactly_once") {
      val dir = java.nio.file.Files.createTempDirectory("sc_t1_in")
      val ckpt = java.nio.file.Files.createTempDirectory("sc_t1_ckpt").toString
      val outDir = java.nio.file.Files.createTempDirectory("sc_t1_out").toString
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType)))
      // write-then-ATOMIC_MOVE: the file stream source lists the dir
      // between micro-batches, and a non-atomic in-place write can be
      // listed half-written — flaking the scenario counts (ADVICE r9)
      def write(name: String, lines: Seq[String]): Unit = {
        val tmp = java.nio.file.Files.createTempFile("sc_stage", ".ndjson")
        java.nio.file.Files.write(tmp, lines.mkString("\n").getBytes)
        java.nio.file.Files.move(tmp, dir.resolve(name),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      def runOnce(): Long = {
        val q = Streams.fileStream(spark, dir.toString, schema)
          .writeStream.format("json").option("path", outDir)
          .option("checkpointLocation", ckpt).outputMode("append")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        spark.read.schema(schema).json(outDir).count()
      }
      write("a.ndjson", Seq("""{"id":"g1"}""", """{"id":"g2"}"""))
      val first = runOnce()
      write("b.ndjson", Seq("""{"id":"g3"}"""))
      val second = runOnce() // 3, not 5: only the new file was read
      Res(first == 2 && second == 3, second, 2)
    }

    scenario("t2_tumbling") {
      val in = MemoryStream[Ev](spark)
      val (rows, batches) = run(Streams.tumblingCounts(in.toDF(), "1 minute"),
        "sc_t2", "complete", Seq(() => in.addData(
          ev(1, 0), ev(2, 0), ev(3, 1), ev(4, 2, typ = "view"))))
      val got = spark.table("sc_t2")
        .select(date_format($"w_start", "HH:mm"), $"event_type", $"n")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      Res(got == Set(("10:00", "click", 2L), ("10:01", "click", 1L),
        ("10:02", "view", 1L)), rows, batches)
    }

    scenario("t3_sliding") {
      val in = MemoryStream[Ev](spark)
      val (rows, batches) = run(
        Streams.slidingCounts(in.toDF(), "5 minutes", "1 minute"),
        "sc_t3", "complete", Seq(() => in.addData(ev(1, 2, sec = 30))))
      Res(rows == 5, rows, batches) // one event → width/slide = 5 windows
    }

    scenario("t4_session_windows") {
      val batch = Seq(ev(1, 0), ev(2, 1), ev(3, 5)).toDF()
      val got = Streams.sessionCounts(batch, "2 minutes")
        .select(date_format($"s_start", "HH:mm"), $"n")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      Res(got == Set(("10:00", 2L), ("10:05", 1L)), got.size.toLong, 1)
    }

    scenario("t19_streaming_session_merge") {
      // t4's true streaming form: batch 2's minute-2 event must MERGE
      // into batch 1's open [minute 0..1] session (n=3 proves it);
      // the minute-30 event closes it via the watermark, the minute-60
      // event closes the 10:30 singleton, and its own session stays
      // open (not emitted in append mode).
      val in = MemoryStream[Ev](spark)
      val (rows, batches) = run(
        Streams.streamingSessions(in.toDF(), "2 minutes", "10 minutes"),
        "sc_t19", "append", Seq(
          () => in.addData(ev(1, 0), ev(2, 1)),
          () => in.addData(ev(3, 2), ev(4, 30)),
          () => in.addData(ev(5, 60))))
      val got = spark.table("sc_t19")
        .select(date_format($"s_start", "HH:mm"), $"user_id", $"n")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      Res(got == Set(("10:00", 1L, 3L), ("10:30", 1L, 1L)), rows, batches)
    }

    scenario("t20_stream_cdc_merge_apply") {
      // the Delta/Iceberg "streaming upsert" loop on plain parquet: a
      // CDC change stream applied to a catalog table via foreachBatch +
      // the engine's MERGE INTO command (plans/MergeInto.scala) — each
      // micro-batch is one atomic-per-batch CoW merge, so the table is
      // always a consistent post-batch state. Feeds exercise update,
      // insert, delete, and a cross-batch re-upsert of an inserted key.
      val tbl = "sc_t20_state"
      val path = java.nio.file.Files.createTempDirectory("sc_t20_tbl")
        .resolve("t").toString
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
        .write.option("path", path).saveAsTable(tbl)
      val in = MemoryStream[(Long, Long, String)](spark)
      val applyBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
        (batch, _) => {
          batch.toDF("k", "v", "op").createOrReplaceTempView("sc_t20_changes")
          batch.sparkSession.sql(
            s"""MERGE INTO $tbl t USING sc_t20_changes s ON t.k = s.k
               |WHEN MATCHED AND s.op = 'D' THEN DELETE
               |WHEN MATCHED THEN UPDATE SET v = s.v
               |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (k, v)
               |  VALUES (s.k, s.v)""".stripMargin)
        }
      val q = in.toDF().writeStream.foreachBatch(applyBatch)
        .outputMode("update").start()
      def feed(rows: (Long, Long, String)*): Unit = {
        in.addData(rows); q.processAllAvailable()
      }
      feed((2L, 200L, "U"), (3L, 30L, "U"))  // update k=2, insert k=3
      feed((1L, 0L, "D"), (3L, 300L, "U"))   // delete k=1, re-upsert k=3
      val batches = Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)
      q.stop()
      val got = spark.table(tbl).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      Res(got == Set((2L, 200L), (3L, 300L)), got.size.toLong, batches)
    }

    scenario("t5_watermark_drops_late") {
      val in = MemoryStream[Ev](spark)
      val (rows, batches) = run(
        Streams.watermarkedCounts(in.toDF(), "10 minutes", "1 minute"),
        "sc_t5", "append", Seq(
          () => in.addData(ev(1, 0)),
          () => in.addData(ev(2, 30)), // watermark → 10:20
          () => in.addData(ev(3, 1)),  // late: dropped
          () => in.addData(ev(4, 40))))
      val finalized = spark.table("sc_t5")
        .select(date_format($"w_start", "HH:mm"), $"n")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      Res(finalized.get("10:00").contains(1L) && !finalized.contains("10:01"),
        rows, batches)
    }

    scenario("t6_dedup_within_watermark") {
      val in = MemoryStream[Ev](spark)
      val (rows, batches) = run(
        Streams.dedupWithinWatermark(in.toDF(), "10 minutes"),
        "sc_t6", "append", Seq(
          () => in.addData(ev(1, 0), ev(1, 0), ev(2, 1)),
          () => in.addData(ev(1, 2)))) // cross-batch duplicate
      val ids = spark.table("sc_t6").select("event_id").collect()
        .map(_.getLong(0)).sorted.toSeq
      Res(ids == Seq(1L, 2L), rows, batches)
    }

    scenario("t7_stateful_sessionize") {
      val in = MemoryStream[Ev](spark)
      val q = Streams.sessionize(in.toDS(), timeoutMs = 0)
        .writeStream.format("memory").queryName("sc_t7")
        .outputMode("append").start()
      in.addData(ev(1, 0, 0, 7L), ev(2, 1, 0, 7L), ev(3, 1, 0, 9L))
      q.processAllAvailable()
      in.addData(ev(4, 2, 0, 7L))
      q.processAllAvailable()
      val batches = Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)
      q.stop()
      val emits = spark.table("sc_t7").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toList
      Res(emits.contains((7L, 2L)) && emits.contains((7L, 3L)) &&
        emits.contains((9L, 1L)), emits.size.toLong, batches)
    }

    scenario("t8_interval_join") {
      val pIn = MemoryStream[Ev](spark)
      val cIn = MemoryStream[Ev](spark)
      val q = Streams.intervalJoin(pIn.toDF(), cIn.toDF(),
          watermark = "10 minutes", interval = "10 minutes")
        .writeStream.format("memory").queryName("sc_t8")
        .outputMode("append").start()
      cIn.addData(ev(100, 0), ev(101, 25))
      pIn.addData(ev(1, 5, typ = "purchase"), ev(2, 30, typ = "purchase"))
      q.processAllAvailable()
      val batches = Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)
      q.stop()
      val got = spark.table("sc_t8").select($"p_id", $"c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      Res(got == Set((1L, 100L), (2L, 101L)), got.size.toLong, batches)
    }

    scenario("t8b_interval_join_left_outer") {
      val pIn = MemoryStream[Ev](spark)
      val cIn = MemoryStream[Ev](spark)
      val q = Streams.intervalJoinLeftOuter(pIn.toDF(), cIn.toDF(),
          watermark = "5 minutes", interval = "10 minutes")
        .writeStream.format("memory").queryName("sc_t8b")
        .outputMode("append").start()
      cIn.addData(ev(100, 0))
      pIn.addData(ev(1, 5, typ = "purchase"), ev(2, 30, typ = "purchase"))
      q.processAllAvailable()
      cIn.addData(ev(998, 55)) // advance both watermarks past 30+interval
      pIn.addData(ev(999, 55, typ = "purchase"))
      q.processAllAvailable()
      val batches = Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)
      q.stop()
      val got = spark.table("sc_t8b").select($"p_id", $"c_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      Res(got.contains((1L, 100L)) && got.contains((2L, -1L)),
        got.size.toLong, batches)
    }

    var replayGateHits = 0L
    scenario("t9_upsert_replay_gate") {
      val store = new Streams.UpsertStore
      val in = MemoryStream[Ev](spark)
      val q = Streams.upsertSink(in.toDS(), store)
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("sc_t9_ckpt").toString)
        .start()
      in.addData(ev(1, 0, 0, 7L, value = 10.0), ev(2, 5, 0, 7L, value = 20.0),
        ev(3, 1, 0, 9L, value = 30.0))
      q.processAllAvailable()
      in.addData(ev(0, 0, 0, 7L, value = 5.0)) // older event: must not win
      q.processAllAvailable()
      val batches = Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)
      q.stop()
      val latestWins = store.rows(7L)._2 == 2L && store.rows(7L)._3 == 20.0 &&
        store.rows(9L)._2 == 3L
      // replaying an applied batch id must be a no-op
      val snapshot = store.rows.toMap
      val replayNoop = !store.merge(store.lastBatch,
        Seq((7L, 999L, 999L, 99.0))) && store.rows.toMap == snapshot
      if (replayNoop) replayGateHits += 1
      Res(latestWins && replayNoop, store.rows.size.toLong, batches)
    }

    scenario("t11_transform_with_state") {
      val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val in = MemoryStream[Ev](spark)
        val (rows, batches) = run(Streams.runningStats(in.toDS()).toDF(),
          "sc_t11", "update", Seq(
            () => in.addData(ev(1, 0, 0, 7L, typ = "click", value = 1.5),
              ev(2, 1, 0, 7L, typ = "view", value = 2.5), ev(3, 1, 0, 9L)),
            () => in.addData(ev(4, 2, 0, 7L, typ = "click", value = 6.0))))
        val emits = spark.table("sc_t11").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
        Res(emits.contains((7L, 2L, 4.0, 2L)) && emits.contains((9L, 1L, 1.0, 1L))
          && emits.contains((7L, 3L, 10.0, 2L)), rows, batches)
      } finally {
        prior match {
          case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      }
    }

    scenario("t12_corrupt_quarantine") {
      // s12's streaming twin: a 24/7 NDJSON ingest must quarantine
      // malformed lines, not die and not silently drop them. PERMISSIVE
      // file-stream parse with a corrupt column; a running aggregate
      // splits valid vs quarantined counts; a second feed adds more of
      // both and the totals must track exactly.
      val dir = java.nio.file.Files.createTempDirectory("sc_t12_in")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_corrupt_record",
          org.apache.spark.sql.types.StringType)))
      // write-then-ATOMIC_MOVE: the file stream source lists the dir
      // between micro-batches, and a non-atomic in-place write can be
      // listed half-written — flaking the scenario counts (ADVICE r9)
      def write(name: String, lines: Seq[String]): Unit = {
        val tmp = java.nio.file.Files.createTempFile("sc_stage", ".ndjson")
        java.nio.file.Files.write(tmp, lines.mkString("\n").getBytes)
        java.nio.file.Files.move(tmp, dir.resolve(name),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      val parsed = spark.readStream.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(dir.toString)
      // the aggregate must touch a data column too: Spark disallows
      // queries whose referenced columns are ONLY the corrupt column
      val audit = parsed
        .groupBy(col("_corrupt_record").isNotNull.as("quarantined"))
        .agg(count(lit(1)).as("n"), count(col("doc_id")).as("n_with_id"))
      val (rows, batches) = run(audit, "sc_t12", "complete", Seq(
        () => write("a.ndjson", Seq(
          """{"doc_id": 1, "lang": "en"}""",
          """{"doc_id": 2, "lang": "fr""",       // truncated → quarantined
          """{"doc_id": 3, "lang": "de"}""")),
        () => write("b.ndjson", Seq(
          """not json at all""",                  // → quarantined
          """{"doc_id": 4, "lang": "es"}"""))))
      val got = spark.table("sc_t12").collect()
        .map(r => (r.getBoolean(0), (r.getLong(1), r.getLong(2)))).toMap
      Res(got == Map(false -> (3L, 3L), true -> (2L, 0L)), rows, batches)
    }

    scenario("t13_rocksdb_state") {
      // 24/7 large-state posture: the default HDFS-backed state store
      // keeps every key on the executor HEAP — at 100 TB key spaces
      // that is the OOM, and the documented answer is the RocksDB
      // provider (state native + on-disk, incremental snapshots). Run
      // the t2 tumbling aggregate on RocksDB across two batches (the
      // second UPDATES existing window state, exercising read-back);
      // counts must match the heap provider's and the query progress
      // must PROVE RocksDB engaged (rocksdb* custom metrics).
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      try {
        val in = MemoryStream[Ev](spark)
        val q = Streams.tumblingCounts(in.toDF(), "1 minute")
          .writeStream.format("memory").queryName("sc_t13")
          .outputMode("complete").start()
        in.addData(ev(1, 0), ev(2, 0), ev(3, 1), ev(4, 2, typ = "view"))
        q.processAllAvailable()
        in.addData(ev(5, 1)) // second batch re-opens the 10:01 window
        q.processAllAvailable()
        val usedRocks = Option(q.lastProgress).exists(_.stateOperators.exists(
          _.customMetrics.keySet().toArray
            .exists(_.toString.toLowerCase.contains("rocksdb"))))
        val batches = Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)
        q.stop()
        val got = spark.table("sc_t13")
          .select(date_format($"w_start", "HH:mm"), $"event_type", $"n")
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
        Res(usedRocks && got == Set(("10:00", "click", 2L),
          ("10:01", "click", 2L), ("10:02", "view", 1L)), got.size, batches)
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }

    scenario("t14_scd2_temporal_enrich") {
      // user 1 upgraded basic->gold at minute 5 (half-open boundary:
      // the minute-5 event itself is already gold); user 2 has one open
      // version; user 9 has history but the event predates it -> drop.
      val dim = Seq(
        (1L, "basic", ts(0), Option(ts(5))),
        (1L, "gold", ts(5), None: Option[java.sql.Timestamp]),
        (2L, "basic", ts(0), None: Option[java.sql.Timestamp]),
        (9L, "gold", ts(10), None: Option[java.sql.Timestamp]))
        .toDF("user_id", "tier", "valid_from", "valid_to")
      val in = MemoryStream[Ev](spark)
      val (rows, batches) = run(
        Streams.enrichScd2(in.toDF(), dim, "user_id"), "sc_t14", "append",
        Seq(() => in.addData(
          ev(1, 1, user = 1L), ev(2, 5, user = 1L), ev(3, 9, user = 1L),
          ev(4, 2, user = 2L), ev(5, 3, user = 9L))))
      val got = spark.table("sc_t14").select($"event_id", $"tier").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      Res(got == Set((1L, "basic"), (2L, "gold"), (3L, "gold"),
        (4L, "basic")), rows, batches)
    }

    scenario("t15_stream_incremental_dedup") {
      // m12's streaming twin: within-stream content dedup (watermark-
      // bounded state) + stream-static anti join against the standing
      // corpus digests. Which of two identical same-batch docs survives
      // is engine-unspecified, so the assert accepts either of 1/3.
      val corpus = Seq("old doc body").toDF("text")
        .select(md5(col("text").cast(org.apache.spark.sql.types.BinaryType))
          .as("text_md5"))
      val in = MemoryStream[Streams.Doc](spark)
      def doc(id: Long, text: String, min: Int) = Streams.Doc(id, text, ts(min))
      val (rows, batches) = run(Streams.streamingDedup(in.toDF(), corpus),
        "sc_t15", "append", Seq(
          () => in.addData(doc(1, "alpha body", 0), doc(2, "beta body", 1),
            doc(3, "alpha body", 1),    // within-batch duplicate
            doc(4, "old doc body", 2)), // standing-corpus duplicate
          () => in.addData(
            doc(5, "beta body", 3),     // cross-batch dup within watermark
            doc(6, "gamma body", 4))))
      val ids = spark.table("sc_t15").select($"doc_id").collect()
        .map(_.getLong(0)).toSet
      Res(ids.size == 3 && ids.intersect(Set(1L, 3L)).size == 1 &&
          ids.contains(2L) && ids.contains(6L),
        rows, batches)
    }

    scenario("t16_stream_quantile_sketch") {
      // k4's 24/7 twin: the window's KLL sketch is the streaming agg
      // state, so batch 2's 50 values must MERGE into batch 1's window
      // sketch (p50 of the union = 50 — KLL is exact below k=200
      // samples, so the assert is deterministic), while a second window
      // computes its own quantile independently.
      val in = MemoryStream[Ev](spark)
      val (rows, batches) = run(
        Streams.streamingQuantiles(in.toDF(), "1 minute"),
        "sc_t16", "complete", Seq(
          () => in.addData((1 to 50).map(i =>
            ev(i.toLong, 0, value = i.toDouble)): _*),
          () => in.addData(((51 to 100).map(i =>
            ev(i.toLong, 0, value = i.toDouble)) :+
            ev(101L, 2, value = 7.0)): _*)))
      val got = spark.table("sc_t16")
        .select(date_format($"w_start", "HH:mm"), $"n", $"p50")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      Res(got == Set(("10:00", 100L, 50.0), ("10:02", 1L, 7.0)),
        rows, batches)
    }

    scenario("t17_stream_distinct_sketch") {
      // k5's 24/7 twin: per-(window, type) theta sketches as streaming
      // state. Batch 1 feeds users 1-30 (click); batch 2 re-feeds users
      // 21-30 (must NOT re-count — the sketch state absorbs them) plus
      // users 31-40 and a second type. Exact mode ⇒ deterministic.
      val in = MemoryStream[Ev](spark)
      val (rows, batches) = run(
        Streams.streamingDistinct(in.toDF(), "1 minute"),
        "sc_t17", "complete", Seq(
          () => in.addData((1 to 30).map(u =>
            ev(u.toLong, 0, user = u.toLong)): _*),
          () => in.addData(((21 to 40).map(u =>
            ev(100L + u, 0, user = u.toLong)) :+
            ev(200L, 0, user = 7L, typ = "view")): _*)))
      val got = spark.table("sc_t17")
        .select(date_format($"w_start", "HH:mm"), $"event_type", $"n_users")
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .toSet
      Res(got == Set(("10:00", "click", 40.0), ("10:00", "view", 1.0)),
        rows, batches)
    }

    scenario("t18_stream_heavy_hitters") {
      // k6's 24/7 twin: user 7 accumulates 6 events ACROSS two batches
      // (3+3 — only the merged sketch state sees it cross the ≥5
      // threshold), user 8 gets 5 in one batch, everyone else stays
      // below; never-purged map ⇒ exact, deterministic.
      val in = MemoryStream[Ev](spark)
      val (rows, batches) = run(
        Streams.streamingHeavyHitters(in.toDF(), threshold = 5L, "1 minute"),
        "sc_t18", "complete", Seq(
          () => in.addData((1 to 3).map(i =>
            ev(i.toLong, 0, user = 7L)) ++
            (4 to 5).map(i => ev(i.toLong, 0, user = 1L)): _*),
          () => in.addData((6 to 8).map(i =>
            ev(i.toLong, 0, user = 7L)) ++
            (9 to 13).map(i => ev(i.toLong, 0, user = 8L)): _*)))
      val got = spark.table("sc_t18")
        .select(date_format($"w_start", "HH:mm"), $"user_id", $"n_events")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      Res(got == Set(("10:00", 7L, 6L), ("10:00", 8L, 5L)), rows, batches)
    }

    scenario("t10_stream_static_enrich") {
      val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
      val in = MemoryStream[Ev](spark)
      val (rows, batches) = run(Streams.enrich(in.toDF(), dim, "user_id"),
        "sc_t10", "append", Seq(() => in.addData(
          ev(1, 0, user = 1L), ev(2, 1, user = 2L), ev(3, 2, user = 9L))))
      val got = spark.table("sc_t10").select($"event_id", $"tier").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      Res(got == Set((1L, "gold"), (2L, "basic")), rows, batches)
    }

    val passed = results.values.count(_.ok)
    val entries = results.map { case (name, r) =>
      s""""$name":{"ok":${r.ok},"rows":${r.rows},"batches":${r.batches}}"""
    }
    val json = s"""{"scenarios":${results.size},"passed":$passed,""" +
      s""""replay_gate_hits":$replayGateHits,""" +
      entries.mkString("", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(json)
    passed == results.size
  }
}
