package graft

import org.apache.spark.sql.SparkSession

/** The engine's recommended session configuration, written down as code
  * (SURVEY §4.3's 100 TB notes). Local runs and tests use a subset; a
  * cluster deployment applies `recommended` wholesale. Every entry
  * exists because of a concrete failure mode at scale, noted inline.
  */
object Tuning {

  /** Confs that hold from local[32] to a 1000-executor cluster. */
  val recommended: Map[String, String] = Map(
    // the engine's extension point: native SQL functions, the as-of-join
    // strategy, the range-join rewrite, and the MERGE INTO resolution
    // rule (the last one has NO late-attach path — analyzer rules can
    // only be injected at session build, unlike the optimizer rules and
    // functions which ensureRegistered/ensureFunctions can add later)
    "spark.sql.extensions" -> "graft.GraftExtensions",
    // AQE: runtime re-planning is the first line against skew and stale
    // size estimates; coalescing keeps reducer counts matched to data.
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // Coalescing floor: AQE merges reduce partitions by BYTES, but the
    // engine's expensive reduce stages are CPU-dense and byte-light
    // (TopK buffer merges, pair verifies over broadcast dims: ~100 KB of
    // ids standing for seconds of CPU). The 1 MB default floor collapsed
    // those to 2-3 tasks (measured: l3b's final top-k merge, l2e's
    // verify). 64 KB keeps parallelismFirst's total/parallelism target
    // effective for them; genuinely tiny exchanges still coalesce.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "65536",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // A skewed partition is split when 5× the median and > 256 MB —
    // tighter than default so a hot minhash bucket or hot user_id splits
    // before it OOMs a task.
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "5.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256m",
    // Scan granularity: 128 MB splits keep ~1 task per HDFS/S3 block;
    // smaller wastes scheduler cycles at 100 TB (800k tasks is fine,
    // 8M is not).
    "spark.sql.files.maxPartitionBytes" -> "134217728",
    // Broadcast thresholds, split by estimate quality. The STATIC
    // threshold drives compile-time estimates (file size × pruned-column
    // ratio, NO filter selectivity) — at 64 MB a 110 MB fact table
    // reading 4 of 16 columns "fits" and Spark collects millions of rows
    // to the driver (measured: +2.4 s driver hash-relation build on Q3
    // at sf1, and unbounded at 100 TB). 16 MB keeps true dimension
    // tables (region/nation/part/customer) on the broadcast path while
    // fact-side estimates fall through to shuffle joins. The ADAPTIVE
    // threshold then re-promotes at runtime from MEASURED shuffle bytes,
    // so a filtered fact side that really is small still broadcasts —
    // estimates lie, runtime sizes don't.
    "spark.sql.autoBroadcastJoinThreshold" -> "16777216",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "16777216",
    // Deterministic oracle parity: timezone pinned, nanos handled.
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // Shuffle compression + zstd: shuffle volume is the 100 TB cost
    // center; zstd trades ~5% CPU for ~30% fewer bytes than lz4.
    "spark.io.compression.codec" -> "zstd",
    "spark.sql.parquet.compression.codec" -> "zstd",
    // Runtime bloom-filter semi-join reduction (InjectRuntimeFilter):
    // when a join's creation side carries a selective filter, a
    // might_contain probe is injected into the other side's scan so the
    // fact table drops non-joining rows BEFORE the shuffle. Enabled
    // explicitly; the size thresholds stay at their defaults (creation
    // side ≤ 10 MB builds, application side ≥ 10 GB applies) so the
    // reduction engages exactly where it pays — a 100 TB probe side —
    // and fixture-scale plans stay clean. j16 is the demonstrating
    // entry; PlanSpec pins the filter's appearance at scale thresholds.
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    // InferFiltersFromGenerate synthesizes `size(genInput) > 0` from an
    // explode, and predicate pushdown then substitutes projected aliases
    // INTO that filter. When the generator input is a higher-order
    // transform over a projected token array, the substituted filter
    // re-evaluates the array expression inside the lambda per element —
    // O(tokens²) per document (measured: 7× the entire shingle query).
    // The rule's upside (skipping rows with empty arrays pre-Generate)
    // is noise for text pipelines where arrays are almost never empty.
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    // Checkpoint and metadata-log files on local disk through java.nio:
    // Hadoop's local FS forks a chmod and four readlinks per file without
    // libhadoop, ~21 process spawns per micro-batch (measured: walCommit
    // 28.5 ms and commitOffsets 27.4 ms of a 3-game pull, almost all of
    // it spawns). Other schemes keep Spark's own manager.
    streaming.LocalCheckpointFiles.ConfKey ->
      classOf[streaming.LocalCheckpointFiles].getName,
    // Each streaming query clones the session, and a clone with artifact
    // isolation gets its own class loader, which is part of the codegen
    // cache key: every runStream recompiled its identical classes (4 per
    // incremental pull, 51 ms). The engine adds no jars or artifacts at
    // runtime, so one shared loader loses nothing.
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** Shuffle partition count: ~2 partitions per core, floor of 2× the
    * default parallelism — at 100 TB override with (input bytes /
    * target partition size) instead.
    */
  def shufflePartitions(spark: SparkSession): Int =
    math.max(spark.sparkContext.defaultParallelism * 2, 32)

  def apply(builder: SparkSession.Builder): SparkSession.Builder =
    recommended.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
}
