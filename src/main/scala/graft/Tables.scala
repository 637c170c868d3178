package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver fixture tables (TESTDATA.md / FIXTURES.md §1).
  *
  * Every query in the engine takes `(spark, sfDir)` and loads its inputs
  * through here, so the scan path (vectorized parquet reader, pushdown,
  * pruning) is uniform. At 100 TB these would be partitioned/bucketed
  * catalog tables; the single-parquet layout is the driver's fixture shape.
  */
object Tables {
  /** Query signature used across the whole engine. */
  type Q = (SparkSession, String) => DataFrame

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Loaded-frame memo: a DataFrame is an immutable analyzed plan, so the
  // same (session, dir, table) triple can be handed out again — saving
  // the per-call file listing, parquet footer schema read, and analysis
  // that every one of the ~106 inventory queries would otherwise repeat.
  // Bounded: |sessions| × |dirs| × 10 tables, all plan objects.
  //
  // Two contracts (ADVICE r4):
  //  - FIXTURE DIRS ARE IMMUTABLE for the life of a session: the memo
  //    caches the first load's file index, so rewriting a table's parquet
  //    under the same path in the same session would serve a stale
  //    listing. Tests that rewrite inputs use fresh temp dirs.
  //  - Entries of STOPPED sessions are evicted on the next load (a
  //    DataFrame strongly references its session, so a weak-keyed map
  //    would never collect; an explicit sweep is the reliable form).
  private val loaded =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    loaded.keySet.removeIf(_._1.sparkContext.isStopped)
    // every query loads through here, so this is where the engine's
    // session-default planner rules attach (bounded-interval range joins
    // plan bucketed — graft.plans.RangeJoinRewrite)
    plans.RangeJoinRewrite.ensureRegistered(spark)
    loaded.computeIfAbsent((spark, dir, name), _ =>
      if (name == "events") canonicalEvents(spark.read.parquet(s"$dir/events.parquet"))
      else spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** Normalize `events.ts` to the engine's canonical TimestampType
    * regardless of the fixture's physical parquet annotation — writers
    * upgrade and the stored timestamp unit drifts (a 100 TB lake sees
    * this daily; the driver's fixture regen reproduced it in round 7:
    * TIMESTAMP(NANOS) → timestamp[us]).
    *
    *  - TIMESTAMP(NANOS): Spark reads it as LongType under
    *    `nanosAsLong`; rebuild with timestamp_micros(ns div 1000). The
    *    fixture's ns values are µs-exact (epoch_ns % 1000 == 0), so
    *    this is lossless.
    *  - timestamp[us] without UTC adjustment: Spark reads
    *    TIMESTAMP_NTZ; cast to TimestampType (identity under the
    *    engine's required UTC session timezone).
    *  - Already TimestampType: pass through.
    */
  private def canonicalEvents(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, max}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        // div-1000 is only valid when the int64 really is epoch-NANOS
        // (the nanosAsLong read path). A future fixture storing plain
        // int64 MICROS with no timestamp annotation would be silently
        // scaled 1000× — fail loudly instead (ADVICE r8): epoch-nanos
        // for any plausible date (≥ 1973) exceed 1e17, epoch-micros
        // stay below 4.1e15 until the year 2100. One tiny agg job,
        // memoized with the load.
        val mx = raw.agg(max(col("ts"))).head()
        if (!mx.isNullAt(0) && mx.getLong(0) < 100000000000000000L)
          throw new IllegalStateException(
            s"events.ts int64 max=${mx.getLong(0)} is not epoch-nanos " +
              "magnitude; refusing the div-1000 nanos rebuild")
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case _             => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Session conf required to read the fixtures. `nanosAsLong` lets the
    * old-shape `events.ts` (parquet TIMESTAMP(NANOS)) load at all — it is
    * a no-op for µs-annotated files — and UTC pins the NTZ→TZ cast in
    * [[canonicalEvents]] plus all datetime function semantics to the
    * oracle's timezone.
    */
  val requiredConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC")

  /** One per-JVM scratch root, created on first use and deleted at JVM
    * exit, so concurrent JVMs never read, overwrite or delete each
    * other's entry outputs, feeds or checkpoints. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft_scratch")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile))
    dir
  }

  /** An entry's scratch path under the per-JVM root. */
  def scratch(name: String): String = scratchRoot.resolve(name).toString

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  /** documents loads through [[fanOut]]: every consumer runs CPU-heavy
    * per-row text work (tokenize/shingle/regex/hash), which a one-row-
    * group fixture file would otherwise serialize onto a single task.
    * Filters and pruning still push past the repartition to the scan
    * (PushDownPredicates handles RepartitionByExpression). */
  def documents(s: SparkSession, d: String): DataFrame =
    fanOut(load(s, d, "documents"),
      org.apache.spark.sql.functions.col("doc_id"))
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Small-input fan-out guard for CPU-heavy per-row transforms (shingle
    * generation, tokenization, vector math): a sub-split input file plans
    * fewer scan tasks than cores, serializing the expensive map work onto
    * one thread. When the planned scan parallelism is below the session
    * default, hash-repartition on `key` — the shuffled payload is by
    * definition tiny (it fit in fewer splits than cores). At 100 TB the
    * scan itself yields thousands of splits and this is an explicit no-op,
    * so no production-scale data ever takes the extra shuffle.
    *
    * Planned parallelism is ESTIMATED from optimizer statistics
    * (ceil(sizeInBytes / maxPartitionBytes) — the same arithmetic file
    * split planning uses, minus small-file packing, which only makes the
    * estimate lower and the guard more willing to fan out). The previous
    * probe, `df.rdd.getNumPartitions`, forced physical planning + RDD
    * lineage construction on every documents()/orders() load; stats are
    * available from the optimized logical plan without either. Leaves
    * without real stats default to Long.MaxValue sizeInBytes and fall
    * through to the no-op branch — correct, since fanOut is only applied
    * to file scans, and an unknown-size input should not pay a shuffle.
    */
  def fanOut(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val maxSplit = BigInt(df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val plannedSplits = (bytes + maxSplit - 1) / maxSplit
    if (plannedSplits >= cores) df
    else df.repartition(fanOutWidth(bytes, cores), key)
  }

  /** Fan-out width scales with DATA, not core count: at fixture scale a
    * full core-count fan-out schedules mostly-empty tasks whose fixed
    * ~100-200 ms plan-closure cost dominates the stage (measured: a
    * 32-task aggregate over 5000 rows spent ~8 CPU-s on overhead).
    * ~256 KB per task keeps per-task work meaningful, a floor of
    * min(8, cores) keeps CPU-heavy transforms parallel without ever
    * exceeding the core count (ADVICE r4: the old max(8) outranked the
    * cores cap on <8-core sessions), and the cores cap restores
    * full-width behavior as soon as data justifies it.
    */
  def fanOutWidth(bytes: BigInt, cores: Int): Int =
    (bytes / 262144).max(math.min(8, cores)).min(cores).toInt
}
