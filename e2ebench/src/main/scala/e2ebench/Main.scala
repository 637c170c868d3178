package e2ebench

import graft.pipeline.EtlConfig
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark process: builds the `Tuning`-configured session, sets
  * up one workload, measures it for `--seconds`, checks every output and
  * prints a report whose last line is the JSON result.
  *
  *   e2ebench.Main --workload backfill|incremental|pgn_roundtrip
  *     --seed N --seconds S --trace 0|1 --work DIR
  *     [--scale full|tiny] [--corrupt] [--trace-out FILE]
  *   e2ebench.Main --setup-only --work DIR
  *
  * Untraced, the JSON metrics are the end-to-end ones; traced, runs
  * alternate between untraced and traced and the JSON metrics are the
  * per-layer ones, each the mean per traced run over the runs that have
  * it.
  * Set-up time is measured by the caller, from process start to the
  * `E2E_SETUP` line.
  */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1, seconds: Double = 10,
      trace: Boolean = false, work: Path = Paths.get("."), tiny: Boolean = false,
      corrupt: Boolean = false, setupOnly: Boolean = false, traceOut: Option[Path] = None)

  @annotation.tailrec
  private def parse(a: List[String], o: Opts): Opts = a match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = Paths.get(v)))
    case "--scale" :: v :: t => parse(t, o.copy(tiny = v == "tiny"))
    case "--trace-out" :: v :: t => parse(t, o.copy(traceOut = Some(Paths.get(v))))
    case "--corrupt" :: t => parse(t, o.copy(corrupt = true))
    case "--setup-only" :: t => parse(t, o.copy(setupOnly = true))
    case x :: _ => throw new IllegalArgumentException(s"unknown argument '$x'")
  }

  /** End-to-end metrics, reported untraced. */
  val EndToEnd: Seq[(String, String)] = Seq("games_per_s" -> "1/s",
    "run_s_p50" -> "s", "run_s_p90" -> "s", "cpu_s_per_kgame" -> "s",
    "driver_heap_peak_mb" -> "MB")

  /** Per-layer metrics, reported traced (the two `setup.*` ones are added
    * by the caller). */
  val PerLayer: Seq[(String, String)] = Seq(
    "client.fetch_s" -> "s", "client.bytes" -> "bytes", "client.attempts" -> "count",
    "client.retries" -> "count", "client.useful_attempt_ratio" -> "ratio",
    "extract.run_s" -> "s", "extract.self_s" -> "s", "extract.bytes_written" -> "bytes",
    "extract.files" -> "count", "extract.alloc_bytes_per_game" -> "bytes",
    "stream.run_s" -> "s", "stream.latestOffset_ms" -> "ms", "stream.getBatch_ms" -> "ms",
    "stream.queryPlanning_ms" -> "ms", "stream.addBatch_ms" -> "ms",
    "stream.walCommit_ms" -> "ms", "stream.commitOffsets_ms" -> "ms",
    "stream.triggers" -> "count", "stream.start_stop_ms" -> "ms",
    "scan.puzzle_games_s" -> "s",
    "batch.run_with_metrics_s" -> "s", "batch.run_s" -> "s",
    "pgn.render_all_s" -> "s", "pgn.bytes_written" -> "bytes", "pgn.files" -> "count",
    "pgn_read.s" -> "s", "pgn_read.partitions" -> "count", "pgn_read.bytes" -> "bytes",
    "pgn_read.visible_frac" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms",
    "spark.planning_ms" -> "ms", "spark.codegen_compiles" -> "count",
    "spark.codegen_compile_ms" -> "ms", "spark.task_run_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.max_task_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "trace.overhead_frac" -> "ratio")

  /** Span name → per-layer time metric (total, or self time). */
  private val SpanMetrics: Seq[(String, String, Boolean)] = Seq(
    ("client.fetch", "client.fetch_s", false), ("extract.run", "extract.run_s", false),
    ("extract.run", "extract.self_s", true), ("stream.run", "stream.run_s", false),
    ("scan.puzzle_games", "scan.puzzle_games_s", false),
    ("batch.run_with_metrics", "batch.run_with_metrics_s", false),
    ("batch.run", "batch.run_s", false), ("pgn.render_all", "pgn.render_all_s", false),
    ("pgn_read.load", "pgn_read.s", false))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Percentile interpolated between the two nearest order statistics
    * (the default of numpy and of R's `quantile`), so that with the few
    * runs a workload makes p90 is not just the slowest one. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val h = q * (s.size - 1)
      val lo = math.floor(h).toInt
      s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList, Opts())
    val code = try run(o) catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.out.flush()
    sys.exit(code)
  }

  private def run(o: Opts): Int = {
    Files.createDirectories(o.work)
    val cpus = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = graft.Tuning(EtlConfig.sessionBuilder(EtlConfig(master = s"local[$cpus]")))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    val t1 = System.nanoTime()
    spark.range(1).count()
    val t2 = System.nanoTime()
    println(s"E2E_SETUP session_s=${(t1 - t0) / 1e9} first_action_s=${(t2 - t1) / 1e9}")
    System.out.flush()
    // a set-up sample ends here: nothing after the first action is measured
    if (o.setupOnly) Runtime.getRuntime.halt(0)
    try {
      spark.sparkContext.setLogLevel("WARN")
      measure(spark, o)
    } finally spark.stop()
  }

  private def measure(spark: SparkSession, o: Opts): Int = {
    val tracer = new Tracer
    val ctx = new Ctx(spark, o.seed, o.work, tracer, o.corrupt)
    def size(full: Int, tiny: Int): Int = if (o.tiny) tiny else full
    val oks = mutable.ArrayBuffer.empty[Boolean]

    val tSet = System.nanoTime()
    // traced, the set-up's own extract calls form the "setup" run
    if (o.trace) tracer.start("setup")
    val w: Workload =
      try o.workload match {
        case "backfill" => new Backfill(ctx, size(30000, 3000), size(5, 3))
        // a fifth of first attempts refused is an assumption: the export
        // API publishes no refusal rate, and it asks a refused client to
        // wait a minute, which `Retry-After: 0` leaves out; what is
        // measured is the retry's round trip, not the wait
        case "incremental" => new Incremental(ctx, 20 * math.ceil(o.seconds).toInt + 40, 0.2)
        case "pgn_roundtrip" => new PgnRoundtrip(ctx, size(10000, 2000), size(4, 2))
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      } finally tracer.stop()
    // warm-up: the first runs fill the JIT and codegen caches; they are
    // checked but not timed
    val tWarm = System.nanoTime()
    for (_ <- 1 to w.warmups) oks += w.once().ok
    println(f"workload ${o.workload}: set-up ${(tWarm - tSet) / 1e9}%.1f s, " +
      f"warm-up ${(System.nanoTime() - tWarm) / 1e9}%.1f s (${w.warmups} runs), " +
      f"filter pass rate ${w.passRate * 100}%.2f %%")

    val records = mutable.ArrayBuffer.empty[(RunRecord, Boolean)]
    val tLoop = System.nanoTime()
    def elapsed = (System.nanoTime() - tLoop) / 1e9
    def have(traced: Boolean) = records.exists(_._2 == traced)
    var i = 0
    // a run is started while it is expected to end less than half a run
    // past the measuring time (its cost taken from the previous one)
    var cost = 0.0
    def due = elapsed + cost / 2 < o.seconds
    try {
      while (w.more && (records.isEmpty || due || !w.atBoundary ||
          (o.trace && !(have(true) && have(false))))) {
        val started = elapsed
        val traced = o.trace && i % 2 == 1
        if (traced) tracer.start(s"run-$i")
        val rec =
          try tracer.span("run")(w.once())
          catch {
            case e: Exception =>
              e.printStackTrace()
              RunRecord(Double.NaN, Double.NaN, 0, Map.empty, Map.empty, ok = false)
          } finally tracer.stop()
        records += rec -> traced
        oks += rec.ok
        cost = elapsed - started
        i += 1
      }
      if (o.trace) tracer.start("probe")
      try {
        if (o.trace) oks ++= ctx.listening(w.probes())
        w.readback()
      } finally tracer.stop()
    } finally w.close()

    val untraced = records.toSeq.collect { case (r, false) if !r.wallS.isNaN => r }
    val attempted = oks.size
    val failed = oks.count(!_)
    val walls = untraced.map(_.wallS)
    val games = untraced.map(_.games).sum
    // a run in which no GC started has no heap figure
    val heaps = untraced.map(_.heapAfterGc).filter(_.nonEmpty)
    val e2e = Map(
      "games_per_s" -> games / walls.sum,
      "run_s_p50" -> median(walls),
      "run_s_p90" -> percentile(walls, 0.9),
      "cpu_s_per_kgame" -> untraced.map(_.cpuS).sum / games * 1000,
      "driver_heap_peak_mb" -> median(heaps.map(_.max / 1048576.0)))
    val readbackRate = if (ctx.readbackS > 0) ctx.readbackVisible / ctx.readbackS else 0.0

    println(s"-- ${o.workload} seed ${o.seed}: ${walls.size} untraced runs" +
      (if (o.trace) s", ${records.count(_._2)} traced runs" else "") +
      walls.map(w => f"$w%.3f").mkString(" (wall s: ", " ", ")"))
    EndToEnd.foreach { case (k, u) =>
      val n =
        if (k.startsWith("run_s")) s"  (n=${walls.size})"
        else if (k == "driver_heap_peak_mb") s"  (n=${heaps.size}: runs with a GC in them, " +
          s"of ${walls.size}; ${heaps.map(_.size).sum} GCs)"
        else ""
      println(f"  $k%-26s ${e2e(k)}%14.4f $u$n")
    }
    println(f"  ${"readback_games_per_s"}%-26s $readbackRate%14.4f 1/s  " +
      s"(${ctx.readbackVisible} games visible in ${ctx.readbackS} s)")
    println(f"  ${"readback_visible_frac"}%-26s ${ctx.readbackVisible.toDouble / math.max(1, ctx.readbackWritten)}%14.4f ratio  " +
      s"(${ctx.readbackVisible} of ${ctx.readbackWritten} written games)")
    println(f"  ${"failed_frac"}%-26s ${failed.toDouble / math.max(1, attempted)}%14.4f ratio  " +
      s"($failed of $attempted runs)")

    val values: Seq[(String, Option[Double], String)] =
      if (!o.trace) EndToEnd.map { case (k, u) => (k, Some(e2e(k)), u) }
      else {
        val layers = perLayer(tracer, records.toSeq)
        o.traceOut.foreach { p =>
          Files.createDirectories(p.getParent)
          Files.write(p, tracer.spansJson.getBytes("UTF-8"))
        }
        println("  self time per span, median over the runs that have it:")
        selfTimes(tracer).foreach { case (n, s) => println(f"    $n%-26s $s%12.4f s") }
        PerLayer.map { case (k, u) => (k, layers.get(k), u) }
      }
    // a metric no run produced is left out, and the result is not correct
    val metrics = values.collect { case (k, Some(v), u) if !v.isNaN && !v.isInfinite => (k, v, u) }
    val missing = values.map(_._1).filterNot(metrics.map(_._1).toSet)
    if (missing.nonEmpty) println(s"  no value for: ${missing.mkString(", ")}")
    val ok = failed == 0 && records.exists(r => !r._1.wallS.isNaN) && missing.isEmpty
    val json = metrics.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }
      .mkString(", ")
    println(s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, "metrics": {$json}}""")
    0
  }

  private def selfTimes(t: Tracer): Seq[(String, Double)] = {
    val byRun = t.layerTimes.filter(_._1 != "setup").values.toSeq
    byRun.flatMap(_.keys).distinct.sorted.map { n =>
      n -> median(byRun.flatMap(_.get(n).map(_._2)))
    }
  }

  /** Per-layer metrics: the mean per traced run over the runs that have
    * the metric (ratios from the summed parts). `spark.*` counts come from
    * the timed traced runs only; the set-up and probe runs add the layers
    * a workload's own path does not reach. */
  private def perLayer(t: Tracer, records: Seq[(RunRecord, Boolean)]): Map[String, Double] = {
    val times = t.layerTimes
    val counters = t.runCounters
    val perRun = (times.keySet ++ counters.keySet).toSeq.map { r =>
      val lt = times.getOrElse(r, Map.empty)
      val spans = SpanMetrics.flatMap { case (span, k, self) =>
        lt.get(span).map { case (total, selfS) => k -> (if (self) selfS else total) }
      }
      counters.getOrElse(r, Map.empty)
        .filter { case (k, _) => r.startsWith("run-") || !k.startsWith("spark.") } ++ spans
    }
    def has(ks: String*) = perRun.filter(m => ks.forall(m.contains))
    def sum(runs: Seq[Map[String, Double]], k: String) = runs.map(_(k)).sum
    def ratio(num: String, den: String) = {
      val runs = has(num, den)
      if (sum(runs, den) > 0) Some(sum(runs, num) / sum(runs, den)) else None
    }
    val means = PerLayer.map(_._1).flatMap { k =>
      val runs = has(k)
      if (runs.isEmpty) None
      else if (k == "spark.max_task_s") Some(k -> runs.map(_(k)).max)
      else Some(k -> sum(runs, k) / runs.size)
    }.toMap
    val startStop = has("stream.run_s", "stream.triggerExecution_ms")
      .map(m => m("stream.run_s") * 1000 - m("stream.triggerExecution_ms"))
    val walls = records.collect { case (r, traced) if !r.wallS.isNaN => traced -> r.wallS }
    val overhead = median(walls.collect { case (true, w) => w }) /
      median(walls.collect { case (false, w) => w }) - 1
    means ++ Seq(
      ratio("client.served", "client.attempts").map("client.useful_attempt_ratio" -> _),
      ratio("extract.alloc_bytes", "extract.games").map("extract.alloc_bytes_per_game" -> _),
      ratio("pgn_read.games", "pgn_read.written").map("pgn_read.visible_frac" -> _),
      startStop.headOption.map(_ => "stream.start_stop_ms" -> startStop.sum / startStop.size),
      Some("trace.overhead_frac" -> overhead)).flatten
  }
}
