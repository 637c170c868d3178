package graft

import java.nio.file.{Files, Path, Paths}

import graft.streaming.Streams
import graft.streaming.Streams.Ev
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}

/** The streaming scenarios no SQL oracle can express (a MemoryStream or
  * a file stream driven batch by batch), as one table. Each entry runs
  * its feeds and returns the value it got next to the value it expects.
  * Two consumers read the table:
  *  - [[check]] writes STREAM_r{N}.json — per-scenario pass, rows
  *    emitted, micro-batches run, replay-gate hits — the same way
  *    RECALL_r{N}.json makes the ANN quality machine-checkable. It runs
  *    as `sbt "runMain graft.Diag stream-check STREAM_r04.json"` and from
  *    [[Verify.dump]] every round;
  *  - StreamingSpec registers one test per entry.
  *
  * The DuckDB-graded streaming entries t22–t39 are [[Streams.queries]].
  */
object StreamCheck {

  /** What one entry saw: `ok` iff `got == expected`. `replayHits` counts
    * the replays an upsert sink's gate turned away (t9). */
  final case class Outcome(got: Any, expected: Any, rows: Long, batches: Long,
      replayHits: Long = 0L) {
    def ok: Boolean = got == expected
  }

  /** One scenario: its artifact key, a one-line title and its body. */
  final case class Entry(name: String, title: String)(val body: SparkSession => Outcome)

  /** Run the table on an existing session (shared with [[Verify.dump]]),
    * write the JSON artifact, return whether all passed. */
  def check(spark: SparkSession, out: String): Boolean = {
    val results = run(spark, table)
    val json = render(results)
    Files.writeString(Paths.get(out), json)
    println(json)
    results.forall(_._2.exists(_.ok))
  }

  /** Each entry's outcome, or None if its body threw. */
  def run(spark: SparkSession, entries: Seq[Entry]): Seq[(String, Option[Outcome])] =
    entries.map { e =>
      e.name -> (try Some(e.body(spark)) catch {
        case t: Throwable =>
          System.err.println(s"[stream] ${e.name} failed: ${t.getMessage}")
          None
      })
    }

  /** The artifact: the counts, then one `{ok, rows, batches}` object per
    * entry in table order; an entry that threw reads rows = batches = -1. */
  def render(results: Seq[(String, Option[Outcome])]): String = {
    val head = Seq(s""""scenarios":${results.size}""",
      s""""passed":${results.count(_._2.exists(_.ok))}""",
      s""""replay_gate_hits":${results.flatMap(_._2).map(_.replayHits).sum}""")
    val entries = results.map { case (name, o) =>
      s""""$name":{"ok":${o.exists(_.ok)},"rows":${o.fold(-1L)(_.rows)},""" +
        s""""batches":${o.fold(-1L)(_.batches)}}"""
    }
    (head ++ entries).mkString("{", ",", "}")
  }

  /** The one runner: start `w`, apply each feed followed by
    * `processAllAvailable`, and stop the query in `finally`, so a feed
    * that throws leaves no active query in the shared session. Returns
    * the last progress, if a batch ran. */
  private[graft] def drive(w: DataStreamWriter[_], feeds: (() => Unit)*)
      : Option[StreamingQueryProgress] = {
    val q = w.start()
    try {
      feeds.foreach { f => f(); q.processAllAvailable() }
      Option(q.lastProgress)
    } finally q.stop()
  }

  private def batches(p: Option[StreamingQueryProgress]): Long = p.fold(0L)(_.batchId + 1)

  /** Drive `df` into the memory table `name`: its rows and micro-batches. */
  private def memory(s: SparkSession, df: DataFrame, name: String, mode: String,
      feeds: (() => Unit)*): (Long, Long) = {
    val p = drive(df.writeStream.format("memory").queryName(name).outputMode(mode),
      feeds: _*)
    (s.table(name).count(), batches(p))
  }

  /** A scenario's directory under the per-JVM [[Tables.scratch]] root,
    * emptied before use. */
  private def scratchDir(name: String): Path = {
    val dir = Paths.get(Tables.scratch(name))
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    Files.createDirectories(dir)
  }

  /** Write feed file `name` into `dir` as an [[AtomicFile]] staged as
    * `.<name>.tmp`, which the file stream skips: it lists the dir between
    * micro-batches, and a non-atomic in-place write can be listed
    * half-written — flaking the scenario counts (ADVICE r9). */
  private def stage(dir: Path, name: String, lines: Seq[String]): Unit = {
    val f = new AtomicFile(dir.resolve(s".$name.tmp"), dir.resolve(name))
    try { f.writer.write(lines.mkString("\n")); f.commit() } finally f.cancel()
  }

  /** The members of `want` that `seen` holds: for a scenario that pins
    * some of its output rows, not all of them. */
  private def present[A](want: Set[A], seen: Iterable[A]): Set[A] = want.filter(seen.toSet)

  private def ts(min: Int, sec: Int = 0): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")

  private def ev(id: Long, min: Int, sec: Int = 0, user: Long = 1L,
      typ: String = "click", value: Double = 1.0): Ev =
    Ev(id, ts(min, sec), user, typ, value)

  /** The scenarios, in the artifact's key order. */
  val table: Seq[Entry] = Seq(
    Entry("t1_file_exactly_once",
        "file stream processes each file exactly once across restarts") { s =>
      val dir = scratchDir("sc_t1_in")
      val ckpt = scratchDir("sc_t1_ckpt").toString
      val outDir = scratchDir("sc_t1_out").toString
      val schema = StructType(Seq(StructField("id", StringType)))
      def runOnce(): Long = {
        val q = Streams.fileStream(s, dir.toString, schema)
          .writeStream.format("json").option("path", outDir)
          .option("checkpointLocation", ckpt).outputMode("append")
          .trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        s.read.schema(schema).json(outDir).count()
      }
      stage(dir, "a.ndjson", Seq("""{"id":"g1"}""", """{"id":"g2"}"""))
      val first = runOnce()
      stage(dir, "b.ndjson", Seq("""{"id":"g3"}"""))
      // 3, not 5: the restart from the checkpoint read only the new file —
      // the reference's processed_files.txt contract, crash-safe
      val second = runOnce()
      Outcome((first, second), (2L, 3L), second, 2)
    },

    Entry("t2_tumbling", "tumbling window counts") { s =>
      import s.implicits._
      val in = MemoryStream[Ev](s)
      val (rows, batches) = memory(s, Streams.tumblingCounts(in.toDF(), "1 minute"),
        "sc_t2", "complete",
        () => in.addData(ev(1, 0), ev(2, 0), ev(3, 1), ev(4, 2, typ = "view")))
      val got = s.table("sc_t2")
        .select(date_format($"w_start", "HH:mm"), $"event_type", $"n")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      Outcome(got, Set(("10:00", "click", 2L), ("10:01", "click", 1L),
        ("10:02", "view", 1L)), rows, batches)
    },

    Entry("t3_sliding", "sliding windows cover each event width/slide times") { s =>
      import s.implicits._
      val in = MemoryStream[Ev](s)
      val (rows, batches) = memory(s,
        Streams.slidingCounts(in.toDF(), "5 minutes", "1 minute"),
        "sc_t3", "complete", () => in.addData(ev(1, 2, sec = 30)))
      Outcome(rows, 5L, rows, batches) // one event → width/slide = 5 windows
    },

    Entry("t4_session_windows", "session windows split on the inactivity gap") { s =>
      import s.implicits._
      // gap 2 minutes: events at 10:00, 10:01, 10:05 → sessions {0,1}, {5}
      val batch = Seq(ev(1, 0), ev(2, 1), ev(3, 5)).toDF()
      val got = Streams.sessionCounts(batch, "2 minutes")
        .select(date_format($"s_start", "HH:mm"), $"n")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      Outcome(got, Set(("10:00", 2L), ("10:05", 1L)), got.size.toLong, 1)
    },

    Entry("t19_streaming_session_merge",
        "streaming session windows merge open sessions across batches") { s =>
      import s.implicits._
      // t4's true streaming form: batch 2's minute-2 event must MERGE
      // into batch 1's open [minute 0..1] session (n=3 proves it);
      // the minute-30 event closes it via the watermark, the minute-60
      // event closes the 10:30 singleton, and its own session stays
      // open (not emitted in append mode).
      val in = MemoryStream[Ev](s)
      val (rows, batches) = memory(s,
        Streams.streamingSessions(in.toDF(), "2 minutes", "10 minutes"),
        "sc_t19", "append",
        () => in.addData(ev(1, 0), ev(2, 1)),
        () => in.addData(ev(3, 2), ev(4, 30)),
        () => in.addData(ev(5, 60)))
      val got = s.table("sc_t19")
        .select(date_format($"s_start", "HH:mm"), $"user_id", $"n")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      Outcome(got, Set(("10:00", 1L, 3L), ("10:30", 1L, 1L)), rows, batches)
    },

    Entry("t20_stream_cdc_merge_apply",
        "CDC change stream applied to a parquet table via foreachBatch MERGE") { s =>
      import s.implicits._
      // the Delta/Iceberg "streaming upsert" loop on plain parquet: a
      // CDC change stream applied to a catalog table via foreachBatch +
      // the engine's MERGE INTO command (plans/MergeInto.scala) — each
      // micro-batch is one atomic-per-batch CoW merge, so the table is
      // always a consistent post-batch state. Feeds exercise update,
      // insert, delete, and a cross-batch re-upsert of an inserted key.
      val tbl = "sc_t20_state"
      s.sql(s"DROP TABLE IF EXISTS $tbl") // before its directory goes
      val path = scratchDir("sc_t20_tbl").resolve("t").toString
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
        .write.option("path", path).saveAsTable(tbl)
      val in = MemoryStream[(Long, Long, String)](s)
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
      val p = drive(in.toDF().writeStream.foreachBatch(applyBatch).outputMode("update"),
        () => in.addData((2L, 200L, "U"), (3L, 30L, "U")), // update k=2, insert k=3
        () => in.addData((1L, 0L, "D"), (3L, 300L, "U")))  // delete k=1, re-upsert k=3
      val got = s.table(tbl).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      Outcome(got, Set((2L, 200L), (3L, 300L)), got.size.toLong, batches(p))
    },

    Entry("t5_watermark_drops_late", "watermark drops late rows") { s =>
      import s.implicits._
      val in = MemoryStream[Ev](s)
      val (rows, batches) = memory(s,
        Streams.watermarkedCounts(in.toDF(), "10 minutes", "1 minute"),
        "sc_t5", "append",
        () => in.addData(ev(1, 0)),
        () => in.addData(ev(2, 30)), // watermark → 10:20
        () => in.addData(ev(3, 1)),  // event-time 10:01 ≪ watermark → dropped
        () => in.addData(ev(4, 40))) // flush: closes the 10:30 window
      val finalized = s.table("sc_t5")
        .select(date_format($"w_start", "HH:mm"), $"n")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      // the late row is NOT added to 10:00 and created no 10:01 window
      Outcome((finalized.get("10:00"), finalized.contains("10:01")),
        (Some(1L), false), rows, batches)
    },

    Entry("t6_dedup_within_watermark",
        "dropDuplicatesWithinWatermark dedups by event_id") { s =>
      import s.implicits._
      val in = MemoryStream[Ev](s)
      val (rows, batches) = memory(s,
        Streams.dedupWithinWatermark(in.toDF(), "10 minutes"),
        "sc_t6", "append",
        () => in.addData(ev(1, 0), ev(1, 0), ev(2, 1)), // in-batch duplicate
        () => in.addData(ev(1, 2))) // cross-batch duplicate, inside the watermark
      val ids = s.table("sc_t6").select("event_id").collect()
        .map(_.getLong(0)).sorted.toSeq
      Outcome(ids, Seq(1L, 2L), rows, batches)
    },

    Entry("t7_stateful_sessionize",
        "flatMapGroupsWithState keeps running per-user aggregates") { s =>
      import s.implicits._
      val in = MemoryStream[Ev](s)
      val (_, batches) = memory(s, Streams.sessionize(in.toDS(), timeoutMs = 0).toDF(),
        "sc_t7", "append",
        () => in.addData(ev(1, 0, 0, 7L), ev(2, 1, 0, 7L), ev(3, 1, 0, 9L)),
        () => in.addData(ev(4, 2, 0, 7L)))
      val emits = s.table("sc_t7").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toList
      // user 7: first emit n=2, second emit n=3 (state carried); user 9: n=1
      val want = Set((7L, 2L), (7L, 3L), (9L, 1L))
      Outcome(present(want, emits), want, emits.size.toLong, batches)
    },

    Entry("t8_interval_join",
        "stream-stream interval join matches clicks within the window") { s =>
      import s.implicits._
      val pIn = MemoryStream[Ev](s)
      val cIn = MemoryStream[Ev](s)
      val (_, batches) = memory(s, Streams.intervalJoin(pIn.toDF(), cIn.toDF(),
          watermark = "10 minutes", interval = "10 minutes"),
        "sc_t8", "append", () => {
          cIn.addData(ev(100, 0), ev(101, 25))
          pIn.addData(ev(1, 5, typ = "purchase"), // joins click@0 (within 10m)
            ev(2, 30, typ = "purchase"))          // joins click@25, NOT click@0
        })
      val got = s.table("sc_t8").select($"p_id", $"c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      Outcome(got, Set((1L, 100L), (2L, 101L)), got.size.toLong, batches)
    },

    Entry("t8b_interval_join_left_outer",
        "left-outer interval join emits unmatched purchases after watermark") { s =>
      import s.implicits._
      val pIn = MemoryStream[Ev](s)
      val cIn = MemoryStream[Ev](s)
      val (_, batches) = memory(s, Streams.intervalJoinLeftOuter(pIn.toDF(), cIn.toDF(),
          watermark = "5 minutes", interval = "10 minutes"),
        "sc_t8b", "append",
        () => {
          cIn.addData(ev(100, 0))
          pIn.addData(ev(1, 5, typ = "purchase"), // joins click@0
            ev(2, 30, typ = "purchase"))          // no click in (20, 30]
        },
        // push both watermarks far past 30+interval so the engine can
        // prove purchase@30 will never match and emit its outer row
        () => {
          cIn.addData(ev(998, 55))
          pIn.addData(ev(999, 55, typ = "purchase"))
        })
      val got = s.table("sc_t8b").select($"p_id", $"c_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      // the matched pair intact, the unmatched purchase emitted with null
      val want = Set((1L, 100L), (2L, -1L))
      Outcome(present(want, got), want, got.size.toLong, batches)
    },

    Entry("t9_upsert_replay_gate",
        "foreachBatch upsert sink is latest-wins and replay-idempotent") { s =>
      import s.implicits._
      val store = new Streams.UpsertStore
      val in = MemoryStream[Ev](s)
      // user 7's (event id, value) and user 9's event id
      def latest() = (store.rows(7L)._2, store.rows(7L)._3, store.rows(9L)._2)
      var afterFirst: Option[(Long, Double, Long)] = None
      val p = drive(Streams.upsertSink(in.toDS(), store)
          .option("checkpointLocation", scratchDir("sc_t9_ckpt").toString),
        () => in.addData(ev(1, 0, 0, 7L, value = 10.0), ev(2, 5, 0, 7L, value = 20.0),
          ev(3, 1, 0, 9L, value = 30.0)),
        () => {
          afterFirst = Some(latest())
          in.addData(ev(0, 0, 0, 7L, value = 5.0)) // an OLDER event: must not win
        })
      // replaying an already-applied batch id is a no-op (crash-replay gate)
      val snapshot = store.rows.toMap
      val replayNoop = !store.merge(store.lastBatch,
        Seq((7L, 999L, 999L, 99.0))) && store.rows.toMap == snapshot
      Outcome((afterFirst, latest(), replayNoop), (Some((2L, 20.0, 3L)), (2L, 20.0, 3L), true),
        store.rows.size.toLong, batches(p), replayHits = if (replayNoop) 1 else 0)
    },

    Entry("t11_transform_with_state",
        "transformWithState tracks named ValueState + MapState per key") { s =>
      import s.implicits._
      Streams.withConfs(s, Streams.rocksDbProvider) {
        val in = MemoryStream[Ev](s)
        val (rows, batches) = memory(s, Streams.runningStats(in.toDS()).toDF(),
          "sc_t11", "update",
          () => in.addData(ev(1, 0, 0, 7L, typ = "click", value = 1.5),
            ev(2, 1, 0, 7L, typ = "view", value = 2.5), ev(3, 1, 0, 9L)),
          () => in.addData(ev(4, 2, 0, 7L, typ = "click", value = 6.0)))
        val emits = s.table("sc_t11").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        // batch 1: user 7 has 2 events / 4.0 total / 2 types; user 9 has 1.
        // Batch 2: BOTH state variables carried — count/total resumed from
        // the ValueState, type cardinality from the MapState
        val want = Set((7L, 2L, 4.0, 2L), (9L, 1L, 1.0, 1L), (7L, 3L, 10.0, 2L))
        Outcome(present(want, emits), want, rows, batches)
      }
    },

    Entry("t12_corrupt_quarantine",
        "file stream quarantines malformed lines and counts them exactly") { s =>
      // s12's streaming twin: a 24/7 NDJSON ingest must quarantine
      // malformed lines, not die and not silently drop them. PERMISSIVE
      // file-stream parse with a corrupt column; a running aggregate
      // splits valid vs quarantined counts; a second feed adds more of
      // both and the totals must track exactly.
      val dir = scratchDir("sc_t12_in")
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("lang", StringType), StructField("_corrupt_record", StringType)))
      val parsed = s.readStream.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(dir.toString)
      // the aggregate must touch a data column too: Spark disallows
      // queries whose referenced columns are ONLY the corrupt column
      val audit = parsed
        .groupBy(col("_corrupt_record").isNotNull.as("quarantined"))
        .agg(count(lit(1)).as("n"), count(col("doc_id")).as("n_with_id"))
      val (rows, batches) = memory(s, audit, "sc_t12", "complete",
        () => stage(dir, "a.ndjson", Seq(
          """{"doc_id": 1, "lang": "en"}""",
          """{"doc_id": 2, "lang": "fr""",       // truncated → quarantined
          """{"doc_id": 3, "lang": "de"}""")),
        () => stage(dir, "b.ndjson", Seq(
          """not json at all""",                  // → quarantined
          """{"doc_id": 4, "lang": "es"}""")))
      val got = s.table("sc_t12").collect()
        .map(r => (r.getBoolean(0), (r.getLong(1), r.getLong(2)))).toMap
      Outcome(got, Map(false -> (3L, 3L), true -> (2L, 0L)), rows, batches)
    },

    Entry("t13_rocksdb_state",
        "RocksDB state store carries tumbling-window state across batches") { s =>
      import s.implicits._
      // 24/7 large-state posture: the default HDFS-backed state store
      // keeps every key on the executor HEAP — at 100 TB key spaces
      // that is the OOM, and the documented answer is the RocksDB
      // provider (state native + on-disk, incremental snapshots). Run
      // the t2 tumbling aggregate on RocksDB across two batches (the
      // second UPDATES existing window state, exercising read-back);
      // counts must match the heap provider's and the query progress
      // must PROVE RocksDB engaged (rocksdb* custom metrics).
      Streams.withConfs(s, Streams.rocksDbProvider) {
        val in = MemoryStream[Ev](s)
        val p = drive(Streams.tumblingCounts(in.toDF(), "1 minute")
            .writeStream.format("memory").queryName("sc_t13").outputMode("complete"),
          () => in.addData(ev(1, 0), ev(2, 0), ev(3, 1), ev(4, 2, typ = "view")),
          () => in.addData(ev(5, 1))) // the second batch re-opens the 10:01 window
        val usedRocks = p.exists(_.stateOperators.exists(
          _.customMetrics.keySet().toArray
            .exists(_.toString.toLowerCase.contains("rocksdb"))))
        val got = s.table("sc_t13")
          .select(date_format($"w_start", "HH:mm"), $"event_type", $"n")
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
        Outcome((usedRocks, got), (true, Set(("10:00", "click", 2L),
          ("10:01", "click", 2L), ("10:02", "view", 1L))), got.size.toLong, batches(p))
      }
    },

    Entry("t14_scd2_temporal_enrich",
        "SCD2 temporal enrichment picks the version valid at event time") { s =>
      import s.implicits._
      // user 1 upgraded basic->gold at minute 5 (half-open boundary:
      // the minute-5 event itself is already gold); user 2 has one open
      // version; user 9 has history but the event predates it -> drop.
      val dim = Seq(
        (1L, "basic", ts(0), Option(ts(5))),
        (1L, "gold", ts(5), None: Option[java.sql.Timestamp]),
        (2L, "basic", ts(0), None: Option[java.sql.Timestamp]),
        (9L, "gold", ts(10), None: Option[java.sql.Timestamp]))
        .toDF("user_id", "tier", "valid_from", "valid_to")
      val in = MemoryStream[Ev](s)
      val (rows, batches) = memory(s,
        Streams.enrichScd2(in.toDF(), dim, "user_id"), "sc_t14", "append",
        () => in.addData(ev(1, 1, user = 1L), ev(2, 5, user = 1L), ev(3, 9, user = 1L),
          ev(4, 2, user = 2L), ev(5, 3, user = 9L)))
      val got = s.table("sc_t14").select($"event_id", $"tier").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      Outcome(got, Set((1L, "basic"), (2L, "gold"), (3L, "gold"), (4L, "basic")),
        rows, batches)
    },

    Entry("t15_stream_incremental_dedup",
        "streaming incremental dedup — in-stream digests + standing corpus") { s =>
      import s.implicits._
      // m12's streaming twin: within-stream content dedup (watermark-
      // bounded state) + stream-static anti join against the standing
      // corpus digests. Which of two identical same-batch docs survives
      // is engine-unspecified, so the entry compares the survivors
      // outside {1, 3} and how many of {1, 3} survived.
      val corpus = Seq("old doc body").toDF("text")
        .select(md5(col("text").cast(BinaryType)).as("text_md5"))
      val in = MemoryStream[Streams.Doc](s)
      def doc(id: Long, text: String, min: Int) = Streams.Doc(id, text, ts(min))
      val (rows, batches) = memory(s, Streams.streamingDedup(in.toDF(), corpus),
        "sc_t15", "append",
        () => in.addData(doc(1, "alpha body", 0), doc(2, "beta body", 1),
          doc(3, "alpha body", 1),    // within-batch duplicate
          doc(4, "old doc body", 2)), // standing-corpus duplicate
        () => in.addData(
          doc(5, "beta body", 3),     // cross-batch dup within watermark
          doc(6, "gamma body", 4)))
      val ids = s.table("sc_t15").select($"doc_id").collect()
        .map(_.getLong(0)).toSet
      Outcome((ids -- Set(1L, 3L), ids.intersect(Set(1L, 3L)).size), (Set(2L, 6L), 1),
        rows, batches)
    },

    Entry("t16_stream_quantile_sketch",
        "streaming quantile sketch merges batches into the window state") { s =>
      import s.implicits._
      // k4's 24/7 twin: the window's KLL sketch is the streaming agg
      // state, so batch 2's 50 values must MERGE into batch 1's window
      // sketch (n=100 proves it; p50 of the union = 50 — KLL is exact
      // below k=200 samples, so the value is deterministic), while a
      // second window computes its own quantile independently.
      val in = MemoryStream[Ev](s)
      val (rows, batches) = memory(s,
        Streams.streamingQuantiles(in.toDF(), "1 minute"),
        "sc_t16", "complete",
        () => in.addData((1 to 50).map(i =>
          ev(i.toLong, 0, value = i.toDouble)): _*),
        () => in.addData(((51 to 100).map(i =>
          ev(i.toLong, 0, value = i.toDouble)) :+
          ev(101L, 2, value = 7.0)): _*))
      val got = s.table("sc_t16")
        .select(date_format($"w_start", "HH:mm"), $"n", $"p50")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
      Outcome(got, Set(("10:00", 100L, 50.0), ("10:02", 1L, 7.0)), rows, batches)
    },

    Entry("t17_stream_distinct_sketch",
        "streaming theta sketch state absorbs re-fed users exactly once") { s =>
      import s.implicits._
      // k5's 24/7 twin: per-(window, type) theta sketches as streaming
      // state. Batch 1 feeds users 1-30 (click); batch 2 re-feeds users
      // 21-30 (must NOT re-count — the sketch state absorbs them) plus
      // users 31-40 and a second type. Exact mode ⇒ deterministic.
      val in = MemoryStream[Ev](s)
      val (rows, batches) = memory(s,
        Streams.streamingDistinct(in.toDF(), "1 minute"),
        "sc_t17", "complete",
        () => in.addData((1 to 30).map(u =>
          ev(u.toLong, 0, user = u.toLong)): _*),
        () => in.addData(((21 to 40).map(u =>
          ev(100L + u, 0, user = u.toLong)) :+
          ev(200L, 0, user = 7L, typ = "view")): _*))
      val got = s.table("sc_t17")
        .select(date_format($"w_start", "HH:mm"), $"event_type", $"n_users")
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        .toSet
      Outcome(got, Set(("10:00", "click", 40.0), ("10:00", "view", 1.0)),
        rows, batches)
    },

    Entry("t18_stream_heavy_hitters",
        "streaming heavy hitters cross the threshold only via merged state") { s =>
      import s.implicits._
      // k6's 24/7 twin: user 7 accumulates 6 events ACROSS two batches
      // (3+3 — only the merged sketch state sees it cross the ≥5
      // threshold), user 8 gets 5 in one batch, user 1 stays at 2;
      // never-purged map ⇒ exact, deterministic.
      val in = MemoryStream[Ev](s)
      val (rows, batches) = memory(s,
        Streams.streamingHeavyHitters(in.toDF(), threshold = 5L, "1 minute"),
        "sc_t18", "complete",
        () => in.addData((1 to 3).map(i =>
          ev(i.toLong, 0, user = 7L)) ++
          (4 to 5).map(i => ev(i.toLong, 0, user = 1L)): _*),
        () => in.addData((6 to 8).map(i =>
          ev(i.toLong, 0, user = 7L)) ++
          (9 to 13).map(i => ev(i.toLong, 0, user = 8L)): _*))
      val got = s.table("sc_t18")
        .select(date_format($"w_start", "HH:mm"), $"user_id", $"n_events")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      Outcome(got, Set(("10:00", 7L, 6L), ("10:00", 8L, 5L)), rows, batches)
    },

    Entry("t10_stream_static_enrich",
        "stream-static enrichment joins each batch against the dim") { s =>
      import s.implicits._
      val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
      val in = MemoryStream[Ev](s)
      val (rows, batches) = memory(s, Streams.enrich(in.toDF(), dim, "user_id"),
        "sc_t10", "append",
        () => in.addData(ev(1, 0, user = 1L), ev(2, 1, user = 2L), ev(3, 2, user = 9L)))
      val got = s.table("sc_t10").select($"event_id", $"tier").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      // inner join: the unknown user 9 drops; known users get their tier
      Outcome(got, Set((1L, "gold"), (2L, "basic")), rows, batches)
    }
  )
}
