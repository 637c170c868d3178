package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming operators (SURVEY.md §2B T1–T7).
  *
  * The reference's hand-rolled incrementality — `processed_files.txt`
  * (each file once) and the `last_timestamp` watermark
  * (/root/reference/etl/transform.py:24-34, extract.py:24-39) — maps to
  * Spark's file source + checkpointLocation + Trigger.AvailableNow, which
  * is the same "each file exactly once" contract but crash-safe
  * (SURVEY §2A R4/R11). Everything here is a plan fragment: callers pick
  * source/sink/trigger; StreamingSpec drives them with MemoryStream.
  */
object Streams {

  /** Scratch-directory tag for a dataset dir: the sanitized-path
    * suffix (human-readable in scratch listings) PLUS an 8-hex SHA-1 of
    * the FULL path (ADVICE r15 — two dataset roots sharing a 24-char
    * sanitized tail would otherwise map to the same feed dir and
    * interleave staged batches). The directories it names live under
    * the per-JVM [[graft.Tables.scratch]] root, so two JVMs on the same
    * dataset never share them.
    */
  private def dirTag(d: String): String = {
    val sha = java.security.MessageDigest.getInstance("SHA-1")
      .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map(b => f"$b%02x").mkString
    s"sf${d.replaceAll("[^0-9a-zA-Z]", "_")}".takeRight(24) + s"_$sha"
  }

  /** Write the b-th SINGLE-FILE batch of `feed` from lines already in
    * hand on the driver, with an explicitly stamped ascending
    * modification time. The file source orders new files by
    * (mtime, path) and `maxFilesPerTrigger=1` makes one batch per
    * file, so explicit mtimes pin BATCH MEMBERSHIP AND ORDER — the
    * property the watermark-progression entries (t31/t32) and the
    * cross-batch state entries (t33/t34) are graded on. (Relying on
    * write-time mtimes would race on filesystems with coarse
    * timestamps.)
    *
    * Driver-side staging (r18; guide §1.2/§5): a staged batch is by
    * contract ONE file, so the write is inherently single-streamed —
    * the previous `repartition(1).write.json` + listFiles + rename per
    * batch spent a Spark job (~0.1–0.2 s) per staged file, ~45 jobs
    * across t22–t39, on work a single narrow `to_json(...).collect()`
    * per ENTRY now feeds. The lines come from the same JacksonGenerator
    * `write.json` used, so file content is equivalent per row; row
    * ORDER within a staged file is not part of any caller's contract
    * (aggregates, max-based watermarks, exact-integer cents sums,
    * latest-per-(ts,id) upserts and key-partitioned MERGEs are all
    * order-independent — each caller notes its own argument), while
    * batch MEMBERSHIP — the graded property — stays the exact row
    * multiset the caller filtered. Feeds are trigger-sized by
    * construction (each batch must fit a single micro-batch file), so
    * the driver never holds more than the scenario's slice — this is
    * harness feed staging, not a query path; at 100 TB the feed is a
    * real stream and this code does not exist.
    */
  private def stageLines(feed: String, b: Int, lines: Seq[String]): Unit = {
    val dst = java.nio.file.Paths.get(feed, f"batch$b%02d.json")
    java.nio.file.Files.createDirectories(dst.getParent)
    java.nio.file.Files.write(dst,
      lines.mkString("", "\n", "\n").getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(1700000000000L + b * 60000L))
    ()
  }

  /** One event for the typed/stateful paths. */
  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Per-user session summary emitted by the T7 state function. */
  case class UserSession(user_id: Long, n_events: Long, total_value: Double,
      closed_by_timeout: Boolean)

  /** T1: exactly-once-per-file NDJSON directory stream. */
  def fileStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).json(dir)

  /** T2: tumbling-window counts per event type. */
  def tumblingCounts(events: DataFrame, width: String = "1 minute"): DataFrame =
    events.groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** T3: sliding-window counts. */
  def slidingCounts(events: DataFrame, width: String = "5 minutes",
      slide: String = "1 minute"): DataFrame =
    events.groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** T4: session windows with a fixed inactivity gap. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"), col("n"))

  /** T5: watermarked tumbling aggregate — rows later than the watermark
    * are dropped by the engine.
    */
  def watermarkedCounts(events: DataFrame, watermark: String = "10 minutes",
      width: String = "1 minute"): DataFrame =
    tumblingCounts(events.withWatermark("ts", watermark), width)

  /** T6: stateful dedup by event_id bounded by the watermark. */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** A streamed document for the T15 incremental-dedup path. */
  case class Doc(doc_id: Long, text: String, ts: java.sql.Timestamp)

  /** T15: STREAMING incremental exact dedup — m12's 24/7 twin, the shape
    * a continuously-crawled corpus actually ingests with: new documents
    * arrive as a stream, duplicates WITHIN the stream are dropped by
    * content digest (watermark-bounded state, so the dedup map never
    * grows past the lateness horizon), and survivors are anti-joined
    * against the STANDING corpus digest set (stream-static left anti —
    * re-evaluated per micro-batch, so a corpus refresh is picked up on
    * the next trigger, zero streaming state for the corpus side). At
    * 100 TB/day the static side is a digest-only projection (16 bytes +
    * key per doc), exactly what m12's bloom/broadcast gate consumes.
    */
  def streamingDedup(docs: DataFrame, corpusDigests: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    docs.withWatermark("ts", watermark)
      .withColumn("text_md5",
        md5(col("text").cast(org.apache.spark.sql.types.BinaryType)))
      .dropDuplicatesWithinWatermark("text_md5")
      .join(corpusDigests, Seq("text_md5"), "left_anti")

  /** T19: STREAMING session windows — T4's true streaming form: the
    * session_window aggregate under a watermark, where the state store
    * holds OPEN sessions and a new batch's events MERGE into them
    * (extending a session across batches is the whole point — a
    * tumbling window can't express "this visit is still going").
    * Append mode emits a session only once its gap has provably passed
    * the watermark — the exactly-once session feed a 24/7 sessionizer
    * publishes downstream.
    */
  def streamingSessions(events: DataFrame, gap: String = "2 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s_start"),
        col("user_id"), col("n"))

  /** T16: STREAMING mergeable quantile rollup — k4's 24/7 twin: the
    * per-window KLL sketch IS the streaming aggregation state (the
    * TypedImperativeAggregate's buffer rides the state store between
    * micro-batches, serialized as its compact byte form), so each new
    * batch's values MERGE into the standing window sketch and the
    * running p50 is read back per trigger — continuous "p50 latency
    * this minute" over an unbounded stream with bounded per-window
    * state (~KB), where an exact streaming percentile would buffer
    * every raw value into the store. The same sketch algebra k4 uses
    * for persisted rollups, now fed incrementally.
    */
  def streamingQuantiles(events: DataFrame, width: String = "1 minute"): DataFrame =
    events.groupBy(window(col("ts"), width))
      .agg(graft.functions.SketchOps.kllSketchAgg(col("value")).as("sk"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"),
        graft.functions.SketchOps.kllQuantile(col("sk"), 0.5).as("p50"))

  /** T17: STREAMING distinct-user sketch — k5's 24/7 twin the way T16
    * is k4's: per-(window, event_type) THETA sketches as streaming
    * aggregation state, so "distinct users this minute per type" is
    * maintained incrementally with ~KB per-group state, and the stored
    * sketch column still supports the k5 set algebra downstream
    * (intersect/difference across types or windows) — which an exact
    * streaming countDistinct (full key set in the state store) or a
    * streaming HLL (union-only) could not.
    */
  def streamingDistinct(events: DataFrame, width: String = "1 minute"): DataFrame =
    events.groupBy(window(col("ts"), width), col("event_type"))
      .agg(graft.functions.SketchOps.thetaSketchAgg(col("user_id")).as("sk"))
      .select(col("window.start").as("w_start"), col("event_type"),
        graft.functions.SketchOps.thetaEstimate(col("sk")).as("n_users"))

  /** T18: STREAMING heavy hitters — k6's 24/7 twin, completing the
    * sketch-twin trilogy (t16 quantiles, t17 distinct, this
    * frequency): a per-window frequent-items sketch as streaming
    * aggregation state, with the provably-hot keys (NO_FALSE_POSITIVES
    * threshold extraction) read back per trigger — the live "which
    * keys are hot RIGHT NOW" feed a 24/7 skew monitor runs, with ~KB
    * per-window state where an exact streaming groupBy would hold
    * every key ever seen.
    */
  def streamingHeavyHitters(events: DataFrame, threshold: Long,
      width: String = "1 minute"): DataFrame =
    events.groupBy(window(col("ts"), width))
      .agg(graft.functions.SketchOps.freqSketchAgg(col("user_id")).as("sk"))
      .select(col("window.start").as("w_start"),
        explode(graft.functions.SketchOps
          .freqTopItems(col("sk"), lit(threshold))).as("r"))
      .select(col("w_start"), col("r.item").as("user_id"),
        col("r.n").as("n_events"))

  /** T8: stream-stream interval join — purchases matched to clicks of
    * the same user within the preceding `interval`. Both sides carry
    * watermarks so the join state is bounded (Spark drops buffered rows
    * once they can no longer match) — the property that keeps state
    * finite on an unbounded 100 TB/day stream.
    */
  def intervalJoin(purchases: DataFrame, clicks: DataFrame,
      watermark: String = "10 minutes",
      interval: String = "1 hour"): DataFrame = {
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val c = clicks.withWatermark("ts", watermark)
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    p.join(c, expr(
      s"""p_user = c_user AND
         |c_ts >= p_ts - INTERVAL $interval AND c_ts <= p_ts""".stripMargin))
  }

  /** T8b: stream-stream LEFT OUTER interval join — like [[intervalJoin]]
    * but purchases with no qualifying click still emit (with nulls) once
    * the watermark proves no match can arrive. The outer row is emitted
    * only at watermark passage — that delay is the price of correctness
    * on an unbounded stream, and why both sides MUST carry watermarks.
    */
  def intervalJoinLeftOuter(purchases: DataFrame, clicks: DataFrame,
      watermark: String = "10 minutes",
      interval: String = "1 hour"): DataFrame = {
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val c = clicks.withWatermark("ts", watermark)
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    p.join(c, expr(
      s"""p_user = c_user AND
         |c_ts >= p_ts - INTERVAL $interval AND c_ts <= p_ts""".stripMargin),
      "left_outer")
  }

  /** T10: stream-static enrichment join — each micro-batch joins the
    * (bounded, possibly refreshed) static dimension without any
    * streaming state: the static side re-evaluates per batch, so a
    * broadcast dim under the auto threshold costs one broadcast per
    * trigger and zero state store entries. The join must be keyed on
    * the stream side's column; watermarks are unnecessary (no
    * stream-stream buffering).
    */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), key)

  /** T14: stream-side SCD2 temporal enrichment — each event joins the
    * dimension VERSION valid at its event time (half-open
    * `[valid_from, valid_to)`, open current version = null valid_to:
    * the m18 history-build contract), the streaming counterpart of
    * as-of enrichment against a slowly-changing dimension. Like t10
    * the static side re-evaluates per trigger — a refreshed SCD2
    * snapshot is picked up at the next micro-batch with zero streaming
    * state — but unlike t10 the match is temporal, so REPLAYED or late
    * events still enrich against the version that was current at event
    * time, not today's row (the correctness property that makes
    * backfills and reprocessing safe). The equi key keeps the plan a
    * broadcast HASH join with the range as residual filter, never a
    * per-row nested loop.
    */
  def enrichScd2(events: DataFrame, dim: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    events.join(broadcast(dim),
      events(key) === dim(key) &&
        events("ts") >= dim("valid_from") &&
        (dim("valid_to").isNull || events("ts") < dim("valid_to")))
      .drop(dim(key))
  }

  /** T9: foreachBatch latest-wins upsert sink — the streaming twin of
    * the batch m2 merge, for sinks with no native streaming MERGE. Each
    * micro-batch is reduced to one row per key (greatest (ts, event_id)
    * wins) and merged into `store` under a lock; `batchId` gates replays,
    * so a batch re-delivered after a crash is a no-op — idempotence is
    * what upgrades the sink from at-least-once to effectively-once. The
    * in-memory map stands in for the transactional store (a JDBC table,
    * Delta MERGE, …); the contract under test is reduce + replay-gate.
    */
  final class UpsertStore {
    /** Registry handle: tasks capture only this id and resolve their
      * own per-JVM handle — the same shape as each executor opening its
      * own connection to one external store. */
    val id: String = java.util.UUID.randomUUID().toString
    UpsertStore.register(this)

    val rows = scala.collection.mutable.Map.empty[Long, (Long, Long, Double)]
    /** Committed high-water mark — what a transactional sink would keep
      * in its batch-version table. */
    @volatile var lastBatch: Long = -1L
    /** Batches the replay gate turned away (t35 requires ≥1 after its
      * forced crash-replay, proving the gate actually arbitrated). */
    @volatile var gateSkips: Long = 0L

    /** Row-level latest-wins merge for ONE task's partition. Idempotent
      * by construction (re-merging an already-stored row hits the
      * ts0/id0 guard), which is what makes partition-level replay after
      * a mid-batch crash harmless. */
    def mergePartition(part: Iterator[(Long, Long, Long, Double)]): Unit =
      synchronized {
        part.foreach { case (k, ts, id, v) =>
          rows.get(k) match {
            case Some((ts0, id0, _)) if ts0 > ts || (ts0 == ts && id0 >= id) => ()
            case _ => rows(k) = (ts, id, v)
          }
        }
      }

    /** Marks `batchId` fully applied — called only after every partition
      * write of the batch has succeeded. */
    def commit(batchId: Long): Unit =
      synchronized { lastBatch = math.max(lastBatch, batchId) }

    /** Single-call transactional merge (gate + rows + commit) — the
      * driver-side convenience the replay-gate spec exercises directly.
      * Returns false (no-op) when the batch id was already applied. */
    def merge(batchId: Long, batch: Seq[(Long, Long, Long, Double)]): Boolean =
      synchronized {
        if (batchId <= lastBatch) false
        else { mergePartition(batch.iterator); commit(batchId); true }
      }
  }

  object UpsertStore {
    private val registry =
      scala.collection.concurrent.TrieMap.empty[String, UpsertStore]
    private def register(s: UpsertStore): Unit = registry.put(s.id, s)
    def get(id: String): UpsertStore = registry(id)
  }

  /** Wire a streaming Ev source into an [[UpsertStore]] via foreachBatch:
    * per-batch windowed rank keeps only each user's latest event, then
    * each PARTITION of the shrunk result merges straight into the store
    * from its own task (shrink-then-merge, no driver round-trip — the
    * rows never materialize driver-side). Effectively-once comes from
    * two pieces: the batch-id high-water mark skips wholesale replays of
    * committed batches, and row-level latest-wins idempotence absorbs
    * partial replays of a batch that crashed between partition writes
    * and commit.
    */
  def upsertSink(events: Dataset[Ev], store: UpsertStore)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.expressions.Window
    val storeId = store.id // tasks capture the id, not the store
    events.toDF().writeStream.outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // replay gate: a transactional sink reads its committed version
        if (batchId > store.lastBatch) {
          val w = Window.partitionBy(col("user_id"))
            .orderBy(col("ts").desc, col("event_id").desc)
          batch
            .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
            .select(col("user_id"), unix_micros(col("ts")).as("us"),
              col("event_id"), col("value"))
            .foreachPartition { (part: Iterator[org.apache.spark.sql.Row]) =>
              UpsertStore.get(storeId).mergePartition(part.map(r =>
                (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))))
            }
          store.commit(batchId)
        } else store.gateSkips += 1
        ()
      }
  }

  /** T7: arbitrary stateful sessionization — running per-user aggregate
    * via flatMapGroupsWithState. `timeoutMs > 0` arms a processing-time
    * timeout that closes idle sessions (production mode; keeps the
    * trigger loop alive between batches). `timeoutMs = 0` uses NoTimeout
    * — state lives until the stream ends (what the deterministic spec
    * drives, since processAllAvailable + armed timers never quiesces).
    */
  def sessionize(events: Dataset[Ev], timeoutMs: Long = 30000): Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), UserSession](
        OutputMode.Append, timeoutConf) {
        (userId: Long, rows: Iterator[Ev], state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) {
            val (n, v) = state.get
            state.remove()
            Iterator.single(UserSession(userId, n, v, closed_by_timeout = true))
          } else {
            val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
            var n = n0; var v = v0
            rows.foreach { e => n += 1; v += e.value }
            state.update((n, v))
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            Iterator.single(UserSession(userId, n, v, closed_by_timeout = false))
          }
      }
  }

  /** Output row of the T11 running-stats processor. */
  case class UserStats(user_id: Long, n_events: Long, total_value: Double,
      n_types: Long)

  /** T11 processor: the Spark-4 `transformWithState` replacement for
    * T7's monolithic flatMapGroupsWithState blob — state decomposes
    * into NAMED typed variables the store tracks independently
    * (a ValueState for the running totals, a MapState for per-type
    * counts), so each micro-batch reads/writes only the variables it
    * touches instead of round-tripping one serialized state object.
    * That is the property that matters at scale: per-variable RocksDB
    * column families, incremental changelog checkpointing, and TTL are
    * per-state-variable features, not per-operator ones.
    */
  class RunningStats extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, UserStats] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState, MapState}
    @transient private var totals: ValueState[(Long, Double)] = _
    @transient private var perType: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      totals = getHandle.getValueState[(Long, Double)]("totals",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), TTLConfig.NONE)
      perType = getHandle.getMapState[String, Long]("perType",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timers: TimerValues): Iterator[UserStats] = {
      var (n, total) = if (totals.exists()) totals.get() else (0L, 0.0)
      rows.foreach { e =>
        n += 1; total += e.value
        val c = if (perType.containsKey(e.event_type)) perType.getValue(e.event_type) else 0L
        perType.updateValue(e.event_type, c + 1)
      }
      totals.update((n, total))
      Iterator.single(UserStats(key, n, total, perType.keys().length.toLong))
    }
  }

  /** T11: per-user running stats via `transformWithState`. Requires the
    * RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` →
    * `...state.RocksDBStateStoreProvider`) — the new operator only
    * supports RocksDB; callers set it before starting the query
    * (StreamingSpec/StreamCheck flip it per scenario).
    */
  def runningStats(events: Dataset[Ev]): Dataset[UserStats] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningStats,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update)
  }

  /** The rig of the oracle-graded streaming entries t22–t39, written
    * once. [[scenario]] is the only place that
    *  - owns the entry's scratch directory — [[graft.Tables.scratch]] (one
    *    root per JVM) named by [[dirTag]] (one directory per dataset) —
    *    and empties it before use. The catalog table an entry may keep
    *    there ([[Scenario.table]]) is dropped BEFORE the directory goes:
    *    the reverse order makes the catalog's drop-time listing log a
    *    spurious FileNotFound;
    *  - stages feeds as mtime-pinned single-file batches ([[stageLines]])
    *    and opens each as a file stream of one file per trigger;
    *  - starts, drains and stops every query, and for exactly that span
    *    sets the entry's `spark.sql.shuffle.partitions` (and, for the
    *    `rocksDb` entries, the RocksDB state-store provider, which
    *    transformWithState requires), restoring both in `finally`. The
    *    fixture's batch work around the query keeps the session's count.
    *
    * Staging: one NARROW `to_json(...).collect()` per entry feeds every
    * staged batch and every driver-side decision, with no Spark job per
    * staged file (see [[stageLines]]). Batch MEMBERSHIP is the graded
    * property and stays the exact row multiset the entry filters; row
    * order within a staged file never reaches an entry's output — each
    * entry's comment says why.
    *
    * State partitions: the state-store partition count is fixed by
    * shuffle.partitions at the stream's FIRST checkpoint. The fixture's
    * groups need 8 state partitions, not 32: at 32 each trigger pays 32
    * state-store commits of mostly-empty state (measured ~2× the whole
    * t22 entry). A stream-stream join runs FOUR state stores per
    * partition per side, so t23/t32 take 4 (at 32 each trigger paid 256
    * mostly-empty commits). Session conf, restored when the query stops
    * (the stream clones the session at `start()`); queries run
    * sequentially under both Verify and Bench.
    */
  private[graft] def scenario(name: String, parts: Int, rocksDb: Boolean = false)(
      body: (SparkSession, String, Scenario) => DataFrame): (String, graft.Tables.Q) =
    name -> ((s, d) => {
      val sc = new Scenario(s, name.takeWhile(_ != '_'), dirTag(d), parts, rocksDb)
      s.sql(s"DROP TABLE IF EXISTS ${sc.table}")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sc.dir))
      body(s, d, sc)
    })

  /** One run of a [[scenario]]: its scratch paths, feeds and sinks. */
  private[graft] final class Scenario(s: SparkSession, tag: String, dtag: String,
      parts: Int, rocksDb: Boolean) {
    val dir: String = graft.Tables.scratch(s"${tag}_$dtag")
    /** The entry's catalog table, if it keeps one, located under [[dir]]. */
    val table: String = s"${tag}_$dtag"

    def path(sub: String): String = s"$dir/$sub"

    /** Stage batch `b` of feed `name`. */
    def stage(name: String, b: Int, lines: Seq[String]): Unit =
      stageLines(path(name), b, lines)

    /** Collect `keyed` once — batch number first, JSON line last — stage
      * batches 0 until `n` of feed `name`, and return the rows. */
    def stageBatches(n: Int, keyed: DataFrame, name: String = "feed")
        : Seq[org.apache.spark.sql.Row] = {
      val rows = keyed.collect().toSeq
      (0 until n).foreach(b => stage(name, b,
        rows.filter(_.getLong(0) == b).map(r => r.getString(r.length - 1))))
      rows
    }

    /** Feed `name` as a file stream of one staged file per trigger. */
    def feed(ddl: String, name: String = "feed"): DataFrame =
      s.readStream.schema(ddl).option("maxFilesPerTrigger", "1").json(path(name))

    /** Start `w`, drain it and stop it. `availableNow` runs the trigger a
      * cron-scheduled backfill uses: the query terminates by itself once
      * everything available is processed. */
    def drain(w: DataStreamWriter[_], availableNow: Boolean = false): Unit = {
      val confs = Seq("spark.sql.shuffle.partitions" -> parts.toString) ++
        (if (rocksDb) Seq("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        else Nil)
      val prev = confs.map { case (k, _) => k -> s.conf.getAll.get(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val q = (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
        try { if (availableNow) q.awaitTermination() else q.processAllAvailable() }
        finally q.stop()
      } finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    }

    /** Drain `df` into the memory table `<tag>_final` and read it back. */
    def memory(df: DataFrame, mode: String): DataFrame = {
      drain(df.writeStream.format("memory").queryName(s"${tag}_final")
        .outputMode(mode))
      s.table(s"${tag}_final")
    }

    /** The injected crash of t35/t39: the sink committed the last batch
      * but the checkpoint's commit marker never landed, so a restart
      * re-delivers that batch under the same id. The local checksum FS
      * keeps a `.N.crc` sidecar; it must go with the marker or the
      * replayed commit write trips over it. */
    def dropLastCommit(ckpt: String): Unit = {
      val commits = new java.io.File(path(s"$ckpt/commits"))
      val markers = Option(commits.listFiles).toSeq.flatten
        .filter(_.getName.forall(_.isDigit))
      require(markers.nonEmpty, s"$tag: no commit markers in the checkpoint")
      val last = markers.maxBy(_.getName.toInt)
      new java.io.File(commits, s".${last.getName}.crc").delete()
      require(last.delete(), s"$tag: could not drop the last commit marker")
    }
  }

  /** t33–t35's feed: every event in three id%3 batches as a typed [[Ev]]
    * stream whose values are exact whole-double cents — the per-key state
    * folds (cents sums, counts, the latest-wins merge's (ts, event_id)
    * total order) are order-independent within a batch. */
  private def centsEvents(s: SparkSession, d: String, sc: Scenario): Dataset[Ev] = {
    import s.implicits._
    sc.stageBatches(3, graft.Tables.events(s, d)
      .select((col("event_id") % 3).as("b"),
        to_json(struct(col("event_id"), unix_micros(col("ts")).as("us"),
          col("user_id"), col("event_type"),
          expr("CAST(CAST(ROUND(value * 1e2, 0) AS BIGINT) AS DOUBLE)")
            .as("value")))))
    sc.feed("event_id BIGINT, us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"), col("value")).as[Ev]
  }

  /** T22 (r13): STREAM/BATCH PARITY under the external oracle — the one
    * streaming scenario graded by DuckDB instead of the engine's own
    * asserts (STREAM_r{N} scenarios t1–t21 check literal expected values,
    * but the checker is still this codebase; VERDICT r12 missing #4).
    * The fixture events feed a REAL incremental execution — NDJSON files
    * consumed one per micro-batch (maxFilesPerTrigger=1, so the tumbling
    * aggregation accumulates state across ≥4 triggers and the final
    * table is the merge of per-batch increments, not a single batch in
    * disguise) — and the finished table must equal what DuckDB computes
    * from the same events with plain GROUP BY: Structured Streaming's
    * core contract (the incremental execution of a query ≡ its batch
    * execution on the same data). Times ride as epoch-µs longs end to
    * end (the w7 convention), so the feed round-trip adds no
    * format/timezone surface. Watermark late-drop stays t5's scenario —
    * a dropped row is exactly what would break THIS parity.
    */
  val queries: Map[String, graft.Tables.Q] = Map(
    scenario("t22_stream_batch_parity", parts = 8) { (s, d, sc) =>
      // a complete-mode aggregate with no watermark is the fold over ALL
      // rows — the final table is independent of how rows split into
      // batches (the oracle recomputes it from the raw events) — so a
      // deterministic id%3 split serves; one file per trigger gives ≥3
      // triggers of cross-batch state accumulation
      sc.stageBatches(3, graft.Tables.events(s, d)
        .select((col("event_id") % 3).as("b"),
          to_json(struct(col("event_id"), unix_micros(col("ts")).as("us"),
            col("event_type")))))
      sc.memory(sc.feed("event_id BIGINT, us BIGINT, event_type STRING")
          .withColumn("ts", timestamp_micros(col("us")))
          .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n")), "complete")
        .select(unix_micros(col("window.start")).as("win_us"),
          col("event_type"), col("n"))
    },

    // T23 (r13): STREAM-STREAM INTERVAL JOIN under the external oracle —
    // t22's parity contract applied to the hardest streaming operator
    // class (two buffered sides, cross-batch matching): purchases and
    // clicks feed as SEPARATE file streams (one file per trigger each,
    // so matches must cross micro-batch boundaries through the join
    // state), inner-joined per user within a 30-minute look-back via
    // [[intervalJoin]]; DuckDB recomputes the pair set from the same
    // events with a plain range join. The watermark is set far beyond
    // the fixture span: feed files are hash-partitioned, not
    // time-ordered, so any realistic delay would legitimately drop
    // "late" rows and parity would measure the REPLAY ORDER, not the
    // operator — bounded-state eviction under realistic watermarks is
    // t8/t8b's StreamCheck scenario; THIS entry pins the join itself.
    scenario("t23_stream_interval_join", parts = 4) { (s, d, sc) =>
      // purchases arrive over TWO triggers (the cross-batch matching the
      // pin needs: batch-2 purchases must find batch-1 clicks in state);
      // clicks land in one — a second click file would only add state
      // commits, not a new code path. Under the beyond-span watermark
      // nothing is ever evicted, so the inner join emits every
      // qualifying pair exactly once REGARDLESS of batch membership (the
      // oracle recomputes the pair set from the raw events) — a
      // deterministic id%2 split serves
      val rows = graft.Tables.events(s, d)
        .select(col("event_type"), col("event_id"),
          to_json(struct(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"), col("event_type"))))
        .collect().toSeq
      val purch = rows.filter(_.getString(0) == "purchase")
      (0 to 1).foreach(b => sc.stage("p", b,
        purch.filter(_.getLong(1) % 2 == b).map(_.getString(2))))
      sc.stage("c", 0, rows.filter(_.getString(0) == "click").map(_.getString(2)))
      def feed(name: String): DataFrame =
        sc.feed("event_id BIGINT, user_id BIGINT, us BIGINT, event_type STRING", name)
          .withColumn("ts", timestamp_micros(col("us")))
      sc.memory(intervalJoin(feed("p"), feed("c"),
          watermark = "3650 days", interval = "30 minutes")
        .select(col("p_id"), col("c_id"), col("p_user").as("user_id")), "append")
    },

    // T24 (r14): STREAMING SESSION MERGE under the external oracle —
    // t19's cross-batch session-merge semantics graded by DuckDB instead
    // of the engine's own asserts (VERDICT r13 missing #5). The fixture
    // events feed as FOUR hash-partitioned NDJSON files, one per
    // micro-batch, so the events of almost every session arrive
    // scattered across triggers and the session_window state must MERGE
    // fragments batch after batch; complete mode emits the final merged
    // session set (append would hold back every session the watermark
    // hasn't passed — and a realistic watermark over hash-partitioned
    // replay would grade the replay order, t23's lesson). DuckDB
    // recomputes sessions with the classic island identity (new session
    // when the per-user time delta reaches the gap). The fixture has no
    // exact 30-minute deltas at any SF (checked), so the half-open
    // boundary convention cannot silently diverge.
    scenario("t24_stream_session_merge", parts = 8) { (s, d, sc) =>
      // complete mode under a beyond-span watermark emits the final
      // merged session set — independent of batch membership (the oracle
      // recomputes sessions from the raw events) — so a deterministic
      // id%4 split serves; sessions still arrive scattered across the four triggers and must merge
      // batch after batch
      sc.stageBatches(4, graft.Tables.events(s, d)
        .select((col("event_id") % 4).as("b"),
          to_json(struct(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us")))))
      sc.memory(streamingSessions(sc.feed("event_id BIGINT, user_id BIGINT, us BIGINT")
          .withColumn("ts", timestamp_micros(col("us"))), "30 minutes", "3650 days"),
        "complete")
        .select(col("user_id"), unix_micros(col("s_start")).as("s_start_us"),
          col("n"))
    },

    // T25 (r14): STREAMING CDC MERGE-APPLY under the external oracle —
    // t20's foreachBatch upsert loop graded by DuckDB (VERDICT r13
    // missing #5): a per-customer change feed (op = delete when the
    // open-order count reaches 5, else additive upsert) applies to the
    // seeded F-order balance table one micro-batch at a time through
    // the engine's MERGE command — each batch is one file-pruned CoW
    // merge, so the table is a consistent post-batch state throughout.
    // Batches partition the keyspace (custkey parity), so each key
    // changes in exactly one batch and the final state is
    // order-independent — the oracle recomputes it from the raw orders
    // with a FULL JOIN. All four clause branches are live at every SF:
    // matched-delete, matched-update, unmatched-insert, and the
    // unmatched-delete no-op.
    scenario("t25_stream_cdc_apply", parts = 8) { (s, d, sc) =>
      def perCustomer(status: String): DataFrame = graft.Tables.orders(s, d)
        .filter(col("o_orderstatus") === status)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)")).as("cents"))
      perCustomer("F").write.option("path", sc.path("table")).saveAsTable(sc.table)
      // the change feed's key-unique, key-disjoint parity halves — each
      // batch MERGEs on custkey, so order within a batch is irrelevant
      sc.stageBatches(2, perCustomer("O")
        .withColumn("op", when(col("n") >= 5, lit("D")).otherwise(lit("U")))
        .select((col("custkey") % 2).as("b"),
          to_json(struct(col("custkey"), col("n"), col("cents"), col("op")))))
      sc.drain(sc.feed("custkey BIGINT, n BIGINT, cents BIGINT, op STRING")
        .writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
          val v = s"${sc.table}_changes"
          batch.createOrReplaceTempView(v)
          batch.sparkSession.sql(
            s"""MERGE INTO ${sc.table} t USING $v s ON t.custkey = s.custkey
               |WHEN MATCHED AND s.op = 'D' THEN DELETE
               |WHEN MATCHED THEN UPDATE SET n = t.n + s.n, cents = t.cents + s.cents
               |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (custkey, n, cents)
               |  VALUES (s.custkey, s.n, s.cents)""".stripMargin)
          ()
        }.outputMode("append"))
      s.sql(s"SELECT custkey, n, cents FROM ${sc.table}")
    },

    // T26 (r14): STREAMING EXACT DEDUP under the external oracle — t6/
    // t15's cross-batch dedup state graded by DuckDB: the feed carries
    // every fixture event PLUS a duplicate copy of every third one,
    // written as a SEPARATE file so the copy arrives in a different
    // micro-batch than (most of) the originals and must be dropped by
    // the dropDuplicates STATE, not within-batch; the surviving set
    // must hash-equal the source events exactly once each (the copies
    // are byte-identical rows, so the final set is deterministic no
    // matter which copy a trigger sees first). No watermark: bounded-
    // state TTL eviction is t15's StreamCheck scenario; this pins the
    // dedup itself.
    scenario("t26_stream_dedup", parts = 8) { (s, d, sc) =>
      // the duplicate copies are byte-identical rows, so the surviving
      // set is deterministic regardless of batch membership or which
      // copy a trigger sees first — a deterministic id%2 split serves,
      // and the copies are a SEPARATE (provably LAST) file so they
      // arrive in a different micro-batch than their originals
      val rows = sc.stageBatches(2, graft.Tables.events(s, d)
        .select((col("event_id") % 2).as("b"), col("event_id"),
          to_json(struct(col("event_id"), col("user_id"), col("event_type")))))
      sc.stage("feed", 2, rows.filter(_.getLong(1) % 3 == 0).map(_.getString(2)))
      sc.memory(sc.feed("event_id BIGINT, user_id BIGINT, event_type STRING")
        .dropDuplicates("event_id"), "append")
    },

    // T27 (r14): STREAM–STATIC ENRICH under the external oracle — t10's
    // scenario graded by DuckDB: the event stream joins the STATIC
    // customer dimension per micro-batch (the broadcast-enrich shape
    // every streaming pipeline runs for dimension lookup; the static
    // side is planned once and reused every trigger), then aggregates
    // per (market segment, event type). Events feed as three files so
    // the enrichment runs across ≥3 triggers and the final table is the
    // cross-batch accumulation; DuckDB recomputes the same join+GROUP BY
    // from the raw tables. Every fixture user resolves to a customer
    // (ids 0–149 ⊂ customer keys), so the inner join drops nothing and
    // the parity covers all rows.
    scenario("t27_stream_static_enrich", parts = 8) { (s, d, sc) =>
      // per-row broadcast enrich + complete-mode aggregate — the final
      // table is independent of batch membership (the oracle recomputes
      // join+GROUP BY from the raw tables); an id%3 split serves
      sc.stageBatches(3, graft.Tables.events(s, d)
        .select((col("event_id") % 3).as("b"),
          to_json(struct(col("event_id"), col("user_id"), col("event_type")))))
      val dim = graft.Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      sc.memory(sc.feed("event_id BIGINT, user_id BIGINT, event_type STRING")
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n")), "complete")
    },

    // T28 (r14): SLIDING-WINDOW AGGREGATION under the external oracle —
    // t3's overlapping-window semantics graded by DuckDB: 10-minute
    // windows sliding every 5, so every event lands in exactly TWO
    // window instances and the state holds overlapping groups across
    // ≥3 triggers (complete mode, t22's replay-order rationale). The
    // oracle materializes both covering windows per event explicitly
    // (floor-to-slide and its 5-minute predecessor) — any drift in
    // Spark's window instancing (alignment, half-open bounds, overlap
    // count) breaks the hash.
    scenario("t28_stream_sliding_window", parts = 8) { (s, d, sc) =>
      // complete-mode sliding-window aggregate with no watermark — the
      // final table is independent of batch membership (the oracle
      // materializes both covering windows per event); an id%3 split
      // serves
      sc.stageBatches(3, graft.Tables.events(s, d)
        .select((col("event_id") % 3).as("b"),
          to_json(struct(col("event_id"), unix_micros(col("ts")).as("us"),
            col("event_type")))))
      sc.memory(sc.feed("event_id BIGINT, us BIGINT, event_type STRING")
          .withColumn("ts", timestamp_micros(col("us")))
          .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
            col("event_type"))
          .agg(count(lit(1)).as("n")), "complete")
        .select(unix_micros(col("window.start")).as("win_us"),
          col("event_type"), col("n"))
    },

    // T29 (r14): EXACTLY-ONCE PARQUET FILE SINK under the external
    // oracle — the one sink class t22–t28 left engine-graded: the memory
    // sink and foreachBatch grade operator state, but a production
    // stream lands in FILES, where exactly-once rests on the sink's
    // transactional _spark_metadata log (a file becomes visible only
    // when its batch commits; a directory listing would also count
    // orphans from failed batches). The event feed streams one file per
    // trigger through a projection into a parquet sink (append mode, its
    // own checkpoint), and the finished output is read back through the
    // metadata-aware reader and hash-compared to DuckDB's recompute from
    // the raw events — any dropped batch, double-committed file, or
    // projection drift breaks it. Fresh sink+checkpoint dirs per run
    // keep the entry rerun-deterministic.
    scenario("t29_stream_file_sink", parts = 8) { (s, d, sc) =>
      // a stateless per-row projection into the transactional file sink
      // lands every row exactly once regardless of batch membership (the
      // oracle recomputes from the raw events); an id%3 split serves
      sc.stageBatches(3, graft.Tables.events(s, d)
        .select((col("event_id") % 3).as("b"),
          to_json(struct(col("event_id"), col("user_id"), col("event_type"),
            col("value")))))
      sc.drain(sc.feed("event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("CAST(ROUND(value * 1e2, 0) AS BIGINT)").as("cents"))
        .writeStream.format("parquet").option("path", sc.path("out"))
        .option("checkpointLocation", sc.path("ckpt")).outputMode("append"))
      s.read.parquet(sc.path("out"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("cents"))
    },

    // T30 (r14): EXACTLY-ONCE RESUME ACROSS RUNS under the external
    // oracle — Trigger.AvailableNow, the trigger a cron-scheduled
    // incremental backfill actually uses (process everything available
    // in bounded batches, then TERMINATE; processAllAvailable is a test
    // harness, not a deployment mode). Two separate runs share one
    // checkpoint: run 1 lands the even half of the events, MORE files
    // arrive, run 2 must pick up ONLY the new ones — re-processing run
    // 1's files doubles rows, missing the delivery drops them, and the
    // final parquet output must hash-equal every event exactly once.
    // This is the across-RESTART half of the exactly-once contract
    // (t1/t29 grade within-run); the checkpoint + sink metadata log
    // carry it.
    scenario("t30_available_now_resume", parts = 8) { (s, d, sc) =>
      // one collect stages run 1's files now and run 2's delivery after
      // the first drain: a stateless projection through the checkpointed
      // file source lands every row exactly once regardless of file
      // membership (the oracle recomputes from the raw events); id%4
      // quarters give 2 files per run
      val rows = graft.Tables.events(s, d)
        .select(col("event_id"),
          to_json(struct(col("event_id"), col("user_id"), col("event_type"))))
        .collect().toSeq
      def runOnce(run: Int): Unit = {
        (0 to 1).foreach(q => sc.stage("feed", run * 2 + q,
          rows.filter(r => r.getLong(0) % 2 == run && (r.getLong(0) / 2) % 2 == q)
            .map(_.getString(1))))
        sc.drain(sc.feed("event_id BIGINT, user_id BIGINT, event_type STRING")
          .writeStream.format("parquet").option("path", sc.path("out"))
          .option("checkpointLocation", sc.path("ckpt")).outputMode("append"),
          availableNow = true)
      }
      runOnce(0)
      runOnce(1) // the between-runs delivery: odd half, 2 new files
      s.read.parquet(sc.path("out"))
        .select(col("event_id"), col("user_id"), col("event_type"))
    },

    // T31 (r15): WATERMARK LATE-DROP under the external oracle — the
    // t5 semantics, previously the last engine-graded aggregation
    // class (VERDICT r14 item 2). Batch membership is PINNED by
    // stamped feed mtimes: batch 0 carries events with id%3≠0, batch 1
    // the id%3=0 remainder — by then the watermark stands at
    // max(batch-0 event time) − 15 days, so about half of batch 1 is
    // PROVABLY late (its 5-minute window closed below the watermark)
    // and must be dropped, while the other half must merge into open
    // windows. Two sentinel 'flush' rows (batches 2/3, +30d/+60d)
    // push the watermark past every real window so append mode emits
    // them all; the sentinels filter out of the result. DuckDB
    // recomputes the kept set from the same split + watermark rule —
    // a row dropped too eagerly, kept too long, or a window emitted
    // with the late rows included all break the hash. The 15-day delay
    // is dividable by the window width and the fixture's µs-fraction
    // max timestamp is not window-aligned at any SF (checked), so the
    // ≤-vs-< boundary convention is inert.
    //
    // Batch 1 is a sentinel AT max(batch-0 time): Spark's stateful
    // operators filter late rows against the PREVIOUS batch's
    // watermark (eventTimeWatermarkForLateEvents — one-batch lag,
    // verified empirically: without the spacer, batch-1 late rows
    // sail through against watermark 0) while eviction uses the
    // current one; the spacer batch brings the batch-0 watermark into
    // force for the late batch without advancing it further.
    scenario("t31_watermark_late_drop", parts = 8) { (s, d, sc) =>
      // one collect feeds every driver decision and all five staged
      // batches. Windowed counts and max-based watermark progression
      // are order-independent within a batch; the id%3 split and the
      // sentinel rows are value-identical. The emptiness requires fire
      // BEFORE any max() so a broken fixture fails with the diagnostic,
      // not a NoSuchElementException (ADVICE r17).
      val rows = graft.Tables.events(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("us"),
          to_json(struct(col("event_id"), unix_micros(col("ts")).as("us"),
            col("event_type"))).as("js"))
        .collect()
      require(rows.exists(_.getLong(0) % 3 != 0) &&
          rows.exists(_.getLong(0) % 3 == 0),
        "t31: fixture must carry events on both sides of the id%3 split")
      val maxUs = rows.iterator.map(_.getLong(1)).max
      val maxAUs = rows.iterator.filter(_.getLong(0) % 3 != 0)
        .map(_.getLong(1)).max
      def flush(b: Int, us: Long): String =
        s"""{"event_id":${-b},"us":$us,"event_type":"flush"}"""
      sc.stage("feed", 0,
        rows.toSeq.filter(_.getLong(0) % 3 != 0).map(_.getString(2)))
      sc.stage("feed", 1, Seq(flush(1, maxAUs))) // spacer: wm now in force
      sc.stage("feed", 2,
        rows.toSeq.filter(_.getLong(0) % 3 == 0).map(_.getString(2)))
      sc.stage("feed", 3, Seq(flush(3, maxUs + 30L * 86400000000L)))
      sc.stage("feed", 4, Seq(flush(4, maxUs + 60L * 86400000000L)))
      sc.memory(sc.feed("event_id BIGINT, us BIGINT, event_type STRING")
          .withColumn("ts", timestamp_micros(col("us")))
          .withWatermark("ts", "15 days")
          .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(unix_micros(col("window.start")).as("win_us"),
            col("event_type"), col("n")), "append")
        .filter(col("event_type") =!= "flush")
    },

    // T32 (r15): INTERVAL-JOIN EVICTION under the external oracle —
    // t8b's left-outer stream-stream join with REALISTIC watermarks
    // (t23 pins the join under an infinite watermark; this pins the
    // state lifecycle). Click batch 0 + recent purchases (within 3
    // days of the fixture max) batch 0 arrive on time; older purchases
    // arrive in batch 1,
    // AFTER the watermark has advanced to min(max click, max recent
    // purchase) − 5 days, so purchases below it are LATE-DROPPED —
    // they produce neither a pair nor an outer-null row (the row
    // vanishes: the observable half of eviction) — while late-but-
    // above-watermark purchases must still find every qualifying click
    // in state (Spark's eviction threshold wm−interval is exactly
    // calibrated so non-late inputs never miss an evicted partner;
    // OVER-eviction would drop pairs and break the hash). Outer nulls
    // for never-matched purchases emit once the sentinel batches push
    // the watermark past their timestamps. Sub-day µs timestamps make
    // every boundary convention tie-free (checked per SF).
    scenario("t32_interval_join_eviction", parts = 4) { (s, d, sc) =>
      // one collect feeds every driver decision and all nine staged
      // batches. Join matching and max-based watermark progression are
      // order-independent within a batch; the click/purchase/cut
      // memberships and sentinel rows are value-identical.
      val rows = graft.Tables.events(s, d)
        .select(col("event_type"), unix_micros(col("ts")).as("us"),
          to_json(struct(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"), col("event_type"))).as("js"))
        .collect()
      val clicks = rows.filter(_.getString(0) == "click")
      val purchases = rows.filter(_.getString(0) == "purchase")
      // ADVICE r15: derive the recent/old purchase cut from the
      // fixture's own time range instead of a fixed epoch — max(us) −
      // 3 days keeps the original geometry (cut above the 5-day
      // watermark, so live AND dropped old purchases both exist) at
      // any fixture date range; the oracle computes the identical cut.
      // The emptiness requires fire BEFORE any max so a broken fixture
      // fails with the diagnostic, not an opaque error (ADVICE r17).
      require(rows.nonEmpty && clicks.nonEmpty && purchases.nonEmpty,
        "t32: fixture must carry clicks plus purchases")
      val maxUs = rows.iterator.map(_.getLong(1)).max
      val cutUs = maxUs - 3L * 86400000000L
      val pa = purchases.filter(_.getLong(1) >= cutUs)
      val pOld = purchases.filter(_.getLong(1) < cutUs)
      require(pa.nonEmpty && pOld.nonEmpty,
        "t32: fixture must carry clicks plus purchases on both sides of the cut")
      val maxCUs = clicks.iterator.map(_.getLong(1)).max
      val maxPaUs = pa.iterator.map(_.getLong(1)).max
      def one(b: Int, us: Long, typ: String): String =
        s"""{"event_id":${-b},"user_id":-1,"us":$us,"event_type":"$typ"}"""
      // slot-1 spacers AT each side's batch-0 max: the t31 one-batch
      // watermark lag — the late purchase batch must arrive with the
      // batch-0 watermark already in force, not advanced further
      sc.stage("clicks", 0, clicks.toSeq.map(_.getString(2)))
      sc.stage("clicks", 1, Seq(one(1, maxCUs, "spacer")))
      sc.stage("clicks", 2, Seq(one(2, maxUs + 30L * 86400000000L, "flush")))
      sc.stage("clicks", 3, Seq(one(3, maxUs + 60L * 86400000000L, "flush")))
      sc.stage("purchases", 0, pa.toSeq.map(_.getString(2)))
      sc.stage("purchases", 1, Seq(one(4, maxPaUs, "spacer")))
      sc.stage("purchases", 2, pOld.toSeq.map(_.getString(2)))
      sc.stage("purchases", 3, Seq(one(5, maxUs + 30L * 86400000000L, "flush")))
      sc.stage("purchases", 4, Seq(one(6, maxUs + 60L * 86400000000L, "flush")))
      def feed(name: String): DataFrame =
        sc.feed("event_id BIGINT, user_id BIGINT, us BIGINT, event_type STRING", name)
          .withColumn("ts", timestamp_micros(col("us")))
      sc.memory(intervalJoinLeftOuter(feed("purchases"), feed("clicks"),
          watermark = "5 days", interval = "4 hours")
        .select(col("p_id"), col("c_id"), col("p_user").as("user_id")), "append")
        .filter(col("user_id") >= 0)
    },

    // T33 (r15): ARBITRARY STATEFUL PROCESSOR under the external
    // oracle — t11's transformWithState running stats graded by DuckDB
    // (VERDICT r14 item 9, the last hand-rolled state machine still
    // self-graded). Three mtime-pinned batches partition the events by
    // id%3; update mode emits each active user's CUMULATIVE
    // (n, total, distinct types) once per batch, so the finished table
    // is the full per-batch state trajectory, which DuckDB recomputes
    // with windowed cumulative sums + a first-seen-batch type count.
    // Values ride as exact whole-double cents (order-independent FP).
    scenario("t33_stateful_running_stats", parts = 8, rocksDb = true) { (s, d, sc) =>
      sc.memory(runningStats(centsEvents(s, d, sc)).toDF(), "update")
    },

    // T34 (r15): t7's flatMapGroupsWithState sessionizer under the same
    // external grading — the cumulative (n, total) trajectory plus the
    // closed_by_timeout=false flag of the NoTimeout deterministic mode.
    // (The RocksDB provider is harmless for flatMapGroupsWithState.)
    scenario("t34_stateful_sessionize", parts = 8, rocksDb = true) { (s, d, sc) =>
      sc.memory(sessionize(centsEvents(s, d, sc), timeoutMs = 0).toDF(), "append")
    },

    // T35 (r16): UPSERT REPLAY GATE under the external oracle — t9's
    // effectively-once foreachBatch sink graded by DuckDB (VERDICT r15
    // item 4). Three mtime-pinned batches (id%3) flow through
    // [[upsertSink]] into an [[UpsertStore]]; then the last batch's
    // COMMIT MARKER is deleted from the checkpoint and the query
    // restarts — the file source re-delivers that batch with the same
    // id (the crash-after-sink-commit-before-checkpoint-commit replay),
    // and the store's batch high-water gate must turn it away
    // (gateSkips ≥ 1 pins that the replay actually happened). The
    // final store IS the output: latest event per user under the
    // (ts, event_id) total order, which DuckDB recomputes from the raw
    // events — a lost batch, a double-applied replay (the store's
    // latest-wins merge is value-idempotent, but a broken gate plus a
    // non-idempotent future merge is exactly what this guards), or a
    // tie broken differently all break the hash.
    scenario("t35_upsert_replay_gate", parts = 8) { (s, d, sc) =>
      val evs = centsEvents(s, d, sc)
      val store = new UpsertStore
      def run(): Unit =
        sc.drain(upsertSink(evs, store).option("checkpointLocation", sc.path("ckpt")))
      run()
      sc.dropLastCommit("ckpt")
      run()
      require(store.gateSkips >= 1,
        "t35: the replayed batch never reached the gate")
      import s.implicits._
      store.rows.toSeq
        .map { case (k, (us, id, v)) => (k, us, id, v.toLong) }
        .toDF("user_id", "us", "event_id", "cents")
    },

    // T36 (r16): SCD2 TEMPORAL ENRICHMENT under the external oracle —
    // t14's stream-side slowly-changing-dimension join graded by
    // DuckDB. The dimension derives from the customer table with a
    // fixture-derived cutover (max event time − 15 days): customers
    // c%7=3 have NO history (their events drop — the unmatched arm),
    // customers c%5=0 have history STARTING at the cutover (events
    // before it predate every version and drop — the temporal-miss
    // arm), everyone else upgrades tier at the cutover (half-open
    // [from, to): the minute-of event enriches against the NEW
    // version). Batching is irrelevant to the per-row stream-static
    // join — the three id%3 batches pin the harness shape, and the
    // oracle recomputes every (event, version-at-event-time) pair.
    scenario("t36_scd2_enrich", parts = 8) { (s, d, sc) =>
      // one collect feeds the cutover derivation and all three staged
      // batches: the per-row stream-static join is order-independent and
      // the id%3 batch membership is the identical row multiset
      val rows = sc.stageBatches(3, graft.Tables.events(s, d)
        .select((col("event_id") % 3).as("b"), unix_micros(col("ts")).as("us"),
          to_json(struct(col("event_id"), unix_micros(col("ts")).as("us"),
            col("user_id")))))
      require(rows.nonEmpty, "t36: fixture events are empty")
      val cutUs = rows.iterator.map(_.getLong(1)).max -
        15L * 86400000000L
      val cust = graft.Tables.customer(s, d)
        .filter(col("c_custkey") % 7 =!= 3)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      val v2 = cust.select(col("user_id"),
        concat(col("c_mktsegment"), lit("_v2")).as("tier"),
        timestamp_micros(lit(cutUs)).as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"))
      val v1 = cust.filter(col("user_id") % 5 =!= 0)
        .select(col("user_id"), col("c_mktsegment").as("tier"),
          timestamp_micros(lit(0L)).as("valid_from"),
          timestamp_micros(lit(cutUs)).as("valid_to"))
      // the static side of a stream join is re-executed EVERY micro-
      // batch — materialize the key-sized dimension once so each of the
      // ≥3 triggers rebuilds only the broadcast, not the scan + union.
      // (Released by ContextCleaner GC when the entry's frames drop —
      // the documented pagerank pattern; entry-scoped, key-sized.)
      val dim = v1.unionByName(v2).localCheckpoint()
      sc.memory(enrichScd2(sc.feed("event_id BIGINT, us BIGINT, user_id BIGINT")
          .withColumn("ts", timestamp_micros(col("us"))), dim, "user_id")
        .select(col("event_id"), col("tier")), "append")
    },

    // T37 (r16): STREAMING INCREMENTAL DEDUP under the external oracle
    // — t15's within-stream content dedup + standing-corpus anti-join
    // graded by DuckDB. The fixture plants no exact text duplicates at
    // small SFs, so the feed RE-SHIPS documents across batches (the
    // crawler re-fetch): batch b carries the id%3=b slice PLUS every
    // id%5=0 document of the previous slice — cross-batch duplicates
    // the dedup state must absorb. The standing corpus is src0/src1's
    // digest set (stream-static anti join), so those documents never
    // emit even on first sight. Output is DIGEST-level (each surviving
    // content exactly once): a failed state lookup re-emits a digest, a
    // leaky anti-join emits a corpus digest, an over-eager drop loses
    // one — all hash-visible. Which same-text doc_id survives is
    // engine-unspecified, so doc-level columns stay out by design.
    scenario("t37_stream_incremental_dedup", parts = 8) { (s, d, sc) =>
      // output is the emitted digest SET (dedup state absorbs re-ships;
      // duplicates are byte-identical), so only batch membership matters
      // and the id%3 + id%5 re-ship memberships are identical row
      // multisets
      val rows = graft.Tables.documents(s, d)
        .select(col("doc_id"),
          to_json(struct(col("doc_id"), col("text"))))
        .collect().toSeq
      def slice(b: Int) = rows.filter(_.getLong(0) % 3 == b)
      def reship(b: Int) = slice(b).filter(_.getLong(0) % 5 == 0)
      sc.stage("feed", 0, slice(0).map(_.getString(1)))
      sc.stage("feed", 1, (slice(1) ++ reship(0)).map(_.getString(1)))
      sc.stage("feed", 2, (slice(2) ++ reship(1)).map(_.getString(1)))
      // digest-sized static side, re-executed every micro-batch by the
      // stream-static anti join — materialize once instead of hashing
      // the src0/src1 text per trigger. (Released by ContextCleaner GC
      // when the entry's frames drop; entry-scoped, digest-sized.)
      val corpus = graft.Tables.documents(s, d)
        .filter(col("source").isin("src0", "src1"))
        .select(md5(col("text")
          .cast(org.apache.spark.sql.types.BinaryType)).as("text_md5"))
        .distinct().localCheckpoint()
      // constant event time + a years-wide watermark: the dedup state
      // must span every batch (t15's bounded-state lateness semantics
      // are t5/t31's subject, not this entry's)
      val in = sc.feed("doc_id BIGINT, text STRING")
        .withColumn("ts", timestamp_micros(lit(1700000000000000L)))
      sc.memory(streamingDedup(in, corpus, watermark = "3650 days")
        .select(col("text_md5")), "append")
    },

    // T38 (r16): CORRUPT-RECORD QUARANTINE under the external oracle —
    // t12's 24/7-ingest failure mode graded by DuckDB: a continuously
    // tailing NDJSON stream must quarantine malformed lines (not die,
    // not silently drop). The feed plants DETERMINISTIC corruption —
    // every id%7=0 document's JSON line loses its closing brace (raw
    // text staging; a json writer could never produce it) across three
    // id%3 mtime-pinned batches. PERMISSIVE parse with a corrupt-record
    // column nulls every schema field of a bad line; the running
    // complete-mode audit (quarantined × lang counts + char totals) is
    // the final table, which the oracle recomputes from the same %7
    // rule — a dropped bad line, a died stream, or a half-parsed row
    // leaking field values all break the hash.
    scenario("t38_stream_corrupt_quarantine", parts = 8) { (s, d, sc) =>
      // the corruption expression runs in the projection, the driver
      // only groups the finished lines: the complete-mode audit is a
      // whole-feed aggregate, so only batch membership matters and the
      // id%3 split is the identical row multiset
      sc.stageBatches(3, graft.Tables.documents(s, d)
        .withColumn("js",
          to_json(struct(col("doc_id"), col("lang"), col("n_chars"))))
        .select((col("doc_id") % 3).as("b"),
          when(col("doc_id") % 7 === 0,
            expr("substring(js, 1, length(js) - 1)"))
          .otherwise(col("js"))))
      // PERMISSIVE is the JSON reader's default mode, and
      // `_corrupt_record` its default corrupt-record column
      // (spark.sql.columnNameOfCorruptRecord): naming it in the schema
      // is what quarantines a malformed line into it
      sc.memory(sc.feed(
          "doc_id BIGINT, lang STRING, n_chars BIGINT, _corrupt_record STRING")
        .groupBy(col("_corrupt_record").isNotNull.as("quarantined"),
          col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("bigint").as("chars_total")), "complete")
    },

    // T39 (r17): STREAMING APPEND INTO A GOVERNED TABLE — the
    // lakehouse ingest loop end-to-end: foreachBatch micro-batches
    // commit into a partitioned CATALOG table through the TableCommit
    // manifest protocol (plans/StreamTableAppend), with the batch
    // high-water riding the commit's own `note` lines — transactional
    // with the data, which is the only placement that survives the
    // crash-between-sink-commit-and-checkpoint-commit replay. The
    // entry stages three id%3 batches, runs the stream (each batch =
    // one OCC manifest commit minting its b partition), then runs the
    // nightly OPTIMIZE (m40's compaction — whose commit carries NO
    // high-water note, so a latest-manifest-only gate would forget
    // the high-water RIGHT HERE; the gate's all-manifests scan is
    // what the replay pins), then injects the t35 crash: the last
    // checkpoint commit marker is deleted and the restarted query
    // re-delivers batch 2 under the same id — the manifest high-water
    // must turn it away (skips ≥ 1) or the final table carries batch
    // 2 twice and the hash breaks. At 100 TB this is the streaming
    // CDC feed + nightly compactor sharing one commit log: each batch
    // costs O(batch), compaction costs O(fragmented slice), and the
    // shared OCC lock means they can never silently interleave.
    scenario("t39_stream_table_append", parts = 8) { (s, d, sc) =>
      // pre-create the location: CREATE TABLE probes it for stream-sink
      // metadata and logs a spurious WARN stack when it's absent
      new java.io.File(sc.path("table")).mkdirs()
      s.sql(
        s"""CREATE TABLE ${sc.table} (event_id BIGINT, user_id BIGINT, us BIGINT,
           |  cents BIGINT, b INT) USING parquet PARTITIONED BY (b)
           |LOCATION '${sc.path("table")}'""".stripMargin)
      // each batch is one manifest commit of a key-disjoint row set —
      // order within a batch never reaches the output (the table is read
      // back as rows) — and the id%3 batch membership is the identical
      // row multiset
      sc.stageBatches(3, graft.Tables.events(s, d)
        .select((col("event_id") % 3).as("b"),
          to_json(struct(col("event_id"), unix_micros(col("ts")).as("us"),
            col("user_id"),
            expr("CAST(ROUND(value * 1e2, 0) AS BIGINT)").as("cents")))))
      val in = sc.feed("event_id BIGINT, us BIGINT, user_id BIGINT, cents BIGINT")
        .select(col("event_id"), col("user_id"), col("us"), col("cents"),
          (col("event_id") % 3).cast("int").as("b"))
      val skips = new java.util.concurrent.atomic.AtomicInteger(0)
      def run(): Unit = sc.drain(in.writeStream
        .foreachBatch { (df: DataFrame, id: Long) =>
          // the micro-batch lands parallel (fragmented) files — the
          // reality OPTIMIZE exists for
          val frag = df.repartition(6, col("user_id"))
          if (!graft.plans.StreamTableAppend.appendBatch(s, sc.table, frag, id))
            skips.incrementAndGet(): Unit
        }
        .option("checkpointLocation", sc.path("ckpt")))
      run()
      graft.plans.Compaction.compact(s, sc.table, maxFilesPerDir = 4)
      sc.dropLastCommit("ckpt")
      run()
      require(skips.get >= 1, "t39: the replayed batch never hit the gate")
      s.sql(s"SELECT event_id, user_id, us, cents, b FROM ${sc.table}")
    }
  )

  val oracles: Map[String, String] = Map(
    // the batch side of the parity contract: plain GROUP BY over the
    // same events, window start = epoch-aligned 5-minute floor in µs
    "t22_stream_batch_parity" ->
      """SELECT (epoch_us(ts) // 300000000) * 300000000 AS win_us,
        |  event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    // t23: the batch side of the interval-join parity — a plain per-user
    // range join over the same events (30 min = 1.8e9 µs look-back)
    "t23_stream_interval_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us, event_type
        |  FROM events
        |), p AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT * FROM e WHERE event_type = 'click')
        |SELECT p.event_id AS p_id, c.event_id AS c_id,
        |  p.user_id AS user_id
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.us >= p.us - 1800000000 AND c.us <= p.us""".stripMargin,

    // t24: the batch side of the session-merge parity — island
    // sessionization (break when the per-user delta reaches the
    // 30-minute gap; the fixture has no exact-gap deltas, so the
    // boundary convention is inert)
    "t24_stream_session_merge" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us FROM events
        |), m AS (
        |  SELECT user_id, us,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
        |              >= 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e
        |), s AS (
        |  SELECT user_id, us,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m
        |)
        |SELECT user_id, MIN(us) AS s_start_us, COUNT(*) AS n
        |FROM s GROUP BY user_id, sid""".stripMargin,

    // t25: the post-loop state recomputed from the raw orders — the
    // sql13 FULL JOIN form minus NOT MATCHED BY SOURCE (t-only rows
    // persist), with op='D' as the u.n >= 5 predicate on both the
    // matched-delete and the skipped-insert arm
    "t25_stream_cdc_apply" ->
      """WITH t AS (
        |  SELECT o_custkey AS custkey, COUNT(*) AS n,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
        |), u AS (
        |  SELECT o_custkey AS custkey, COUNT(*) AS n,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 1e2, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY 1
        |)
        |SELECT COALESCE(t.custkey, u.custkey) AS custkey,
        |  CASE WHEN t.custkey IS NOT NULL AND u.custkey IS NOT NULL THEN t.n + u.n
        |       WHEN t.custkey IS NOT NULL THEN t.n ELSE u.n END AS n,
        |  CASE WHEN t.custkey IS NOT NULL AND u.custkey IS NOT NULL THEN t.cents + u.cents
        |       WHEN t.custkey IS NOT NULL THEN t.cents ELSE u.cents END AS cents
        |FROM t FULL JOIN u ON t.custkey = u.custkey
        |WHERE NOT (t.custkey IS NOT NULL AND u.custkey IS NOT NULL AND u.n >= 5)
        |  AND NOT (t.custkey IS NULL AND u.n >= 5)""".stripMargin,

    // t26: the batch side of the dedup parity — each event exactly once
    "t26_stream_dedup" ->
      "SELECT event_id, user_id, event_type FROM events",

    // t27: the batch side of the enrich parity — the same dimension
    // join and GROUP BY over the raw tables
    "t27_stream_static_enrich" ->
      """SELECT c.c_mktsegment, e.event_type, COUNT(*) AS n
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2""".stripMargin,

    // t30: the across-run parity — every event exactly once no matter
    // which run delivered it
    "t30_available_now_resume" ->
      "SELECT event_id, user_id, event_type FROM events",

    // t29: the batch side of the file-sink parity — every event exactly
    // once, with the projection recomputed
    "t29_stream_file_sink" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(ROUND(value * 1e2, 0) AS BIGINT) AS cents
        |FROM events""".stripMargin,

    // t28: both covering 10-minute windows per event made explicit —
    // the floor-to-5-minute start and its predecessor
    "t28_stream_sliding_window" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS us, event_type FROM events
        |), w AS (
        |  SELECT (us // 300000000) * 300000000 AS win_us, event_type FROM e
        |  UNION ALL
        |  SELECT (us // 300000000) * 300000000 - 300000000, event_type FROM e
        |)
        |SELECT win_us, event_type, COUNT(*) AS n
        |FROM w GROUP BY 1, 2""".stripMargin,

    // t31: the watermark rule recomputed — after batch 0 (id%3≠0) the
    // watermark is max(batch-0 time) − 15 days; a batch-1 row survives
    // iff its 5-minute window's END is still above that
    "t31_watermark_late_drop" ->
      """WITH e AS (
        |  SELECT event_id, epoch_us(ts) AS us, event_type FROM events
        |), a AS (SELECT * FROM e WHERE event_id % 3 <> 0),
        |b AS (SELECT * FROM e WHERE event_id % 3 = 0),
        |wm AS (SELECT MAX(us) - 1296000000000 AS w1 FROM a),
        |kept AS (
        |  SELECT us, event_type FROM a
        |  UNION ALL
        |  SELECT b.us, b.event_type FROM b, wm
        |  WHERE (b.us // 300000000) * 300000000 + 300000000 > wm.w1
        |)
        |SELECT (us // 300000000) * 300000000 AS win_us, event_type,
        |  COUNT(*) AS n
        |FROM kept GROUP BY 1, 2""".stripMargin,

    // t32: live purchases = the on-time recent set plus the late set
    // above the watermark (min(max click, max recent purchase) − 5
    // days); each live purchase left-joins every click in its 4-hour
    // look-back — a below-watermark purchase contributes NOTHING (no
    // pair, no null row)
    "t32_interval_join_eviction" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us, event_type
        |  FROM events
        |), cut AS (SELECT MAX(us) - 259200000000 AS c FROM e),
        |c AS (SELECT * FROM e WHERE event_type = 'click'),
        |pa AS (SELECT e.* FROM e, cut WHERE event_type = 'purchase'
        |       AND us >= cut.c),
        |pb AS (SELECT e.* FROM e, cut WHERE event_type = 'purchase'
        |       AND us < cut.c),
        |wm AS (SELECT LEAST((SELECT MAX(us) FROM c),
        |                    (SELECT MAX(us) FROM pa))
        |         - 432000000000 AS w1),
        |live AS (
        |  SELECT event_id, user_id, us FROM pa
        |  UNION ALL
        |  SELECT pb.event_id, pb.user_id, pb.us FROM pb, wm
        |  WHERE pb.us >= wm.w1
        |)
        |SELECT l.event_id AS p_id, c.event_id AS c_id, l.user_id
        |FROM live l LEFT JOIN c ON c.user_id = l.user_id
        |  AND c.us >= l.us - 14400000000 AND c.us <= l.us""".stripMargin,

    // t33: the per-batch state trajectory recomputed — cumulative
    // count/sum up to each active batch, distinct types by first-seen
    // batch; one row per (user, batch with that user's events)
    "t33_stateful_running_stats" ->
      """WITH e AS (
        |  SELECT user_id, event_id % 3 AS b, event_type,
        |    CAST(CAST(ROUND(value * 1e2, 0) AS BIGINT) AS DOUBLE) AS cents
        |  FROM events
        |), per AS (
        |  SELECT user_id, b, COUNT(*) AS n_b, SUM(cents) AS s_b
        |  FROM e GROUP BY 1, 2
        |), ft AS (
        |  SELECT user_id, event_type, MIN(b) AS fb FROM e GROUP BY 1, 2
        |), cum AS (
        |  SELECT user_id, b,
        |    SUM(n_b) OVER (PARTITION BY user_id ORDER BY b) AS n_events,
        |    SUM(s_b) OVER (PARTITION BY user_id ORDER BY b) AS total_value
        |  FROM per
        |)
        |SELECT c.user_id, CAST(c.n_events AS BIGINT) AS n_events,
        |  CAST(c.total_value AS DOUBLE) AS total_value,
        |  CAST((SELECT COUNT(*) FROM ft
        |        WHERE ft.user_id = c.user_id AND ft.fb <= c.b) AS BIGINT)
        |    AS n_types
        |FROM cum c""".stripMargin,

    // t34: same trajectory minus the type count, plus the NoTimeout
    // mode's constant closed_by_timeout flag
    "t34_stateful_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id % 3 AS b,
        |    CAST(CAST(ROUND(value * 1e2, 0) AS BIGINT) AS DOUBLE) AS cents
        |  FROM events
        |), per AS (
        |  SELECT user_id, b, COUNT(*) AS n_b, SUM(cents) AS s_b
        |  FROM e GROUP BY 1, 2
        |), cum AS (
        |  SELECT user_id, b,
        |    SUM(n_b) OVER (PARTITION BY user_id ORDER BY b) AS n_events,
        |    SUM(s_b) OVER (PARTITION BY user_id ORDER BY b) AS total_value
        |  FROM per
        |)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(total_value AS DOUBLE) AS total_value,
        |  FALSE AS closed_by_timeout
        |FROM cum""".stripMargin,

    // t35: the final upsert store recomputed — latest event per user
    // under the (ts, event_id) total order the store's merge guard
    // implements; the replayed batch must leave this invariant intact
    "t35_upsert_replay_gate" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CAST(ROUND(value * 1e2, 0) AS BIGINT) AS cents
        |  FROM events
        |), r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
        |  FROM e
        |)
        |SELECT user_id, us, event_id, cents FROM r WHERE rn = 1""".stripMargin,

    // t36: every (event, dimension-version-at-event-time) pair
    // recomputed — c%7=3 users have no history (drop), c%5=0 users'
    // history starts at the cut (pre-cut events drop), everyone
    // upgrades to the _v2 tier at the half-open cut
    "t36_scd2_enrich" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events
        |), cut AS (SELECT MAX(us) - 1296000000000 AS c FROM e)
        |SELECT e.event_id,
        |  CASE WHEN e.us >= cut.c THEN c.c_mktsegment || '_v2'
        |       ELSE c.c_mktsegment END AS tier
        |FROM e CROSS JOIN cut
        |JOIN customer c ON e.user_id = c.c_custkey
        |WHERE c.c_custkey % 7 <> 3
        |  AND (c.c_custkey % 5 <> 0 OR e.us >= cut.c)""".stripMargin,

    // t37: each surviving content digest exactly once — every document
    // digest minus the standing src0/src1 corpus, no matter how many
    // batches re-shipped it
    "t37_stream_incremental_dedup" ->
      """WITH corpus AS (
        |  SELECT DISTINCT md5(text) AS text_md5 FROM documents
        |  WHERE source IN ('src0', 'src1')
        |)
        |SELECT DISTINCT md5(text) AS text_md5 FROM documents
        |WHERE md5(text) NOT IN (SELECT text_md5 FROM corpus)""".stripMargin,

    // t38: the quarantine audit recomputed from the planted %7 rule —
    // corrupt lines null every schema field (lang and chars fall out of
    // their groups entirely), valid lines aggregate per lang
    "t38_stream_corrupt_quarantine" ->
      """WITH d AS (
        |  SELECT doc_id % 7 = 0 AS quarantined,
        |    CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
        |    CASE WHEN doc_id % 7 = 0 THEN NULL ELSE n_chars END AS n_chars
        |  FROM documents
        |)
        |SELECT quarantined, lang, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_total
        |FROM d GROUP BY 1, 2""".stripMargin,

    // t39: the governed table after ingest + compaction + replay must
    // hold every event EXACTLY once with its batch assignment — a
    // re-applied replay doubles batch 2's rows, a lost append drops a
    // third of them, a compaction defect perturbs anything
    "t39_stream_table_append" ->
      """SELECT event_id, user_id, epoch_us(ts) AS us,
        |  CAST(ROUND(value * 1e2, 0) AS BIGINT) AS cents,
        |  CAST(event_id % 3 AS INT) AS b
        |FROM events""".stripMargin
  )
}
