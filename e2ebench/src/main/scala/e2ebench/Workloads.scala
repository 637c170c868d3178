package e2ebench

import graft.pipeline.{ChessPipeline, Extract, LichessClient, LichessConfig}
import graft.sources.Pgn
import java.nio.file.{Files, Path}

/** One workload: set-up happens in the constructor, `once()` makes one
  * run (timed section, then the output check), `probes()` adds the
  * traced-only calls, `close()` removes everything it wrote. */
trait Workload {
  /** Share of the input games that pass the pipeline's filter. */
  def passRate: Double
  def once(): RunRecord
  /** The puzzle generator's read of the latest run's output. */
  def readback(): Unit
  def more: Boolean = true
  /** Untimed runs before the measured ones: enough that the run walls
    * have stopped falling as the JIT compiles the pipeline's code. */
  def warmups: Int = 6
  /** Whether the measuring may stop after the latest run. */
  def atBoundary: Boolean = true
  def probes(): Seq[Boolean]
  def close(): Unit
}

/** Pieces shared by the workloads: the fetch closure handed to
  * `Extract.run`, the traced extract and stream calls, and the stub's
  * per-run counters. */
abstract class PipelineSteps(ctx: Ctx) extends Workload {
  import ctx.tracer

  protected def fetcher(client: LichessClient): (Option[Long], Long) => Iterator[String] =
    (since, until) => tracer.span("client.fetch")(client.fetch(since, until))

  protected def extract(ex: Extract, fetch: (Option[Long], Long) => Iterator[String],
      raw: Path, until: Long): Unit = tracer.span("extract.run") {
    val a0 = ctx.allocatedBytes
    val out = ex.run(fetch, raw, until)
    if (tracer.enabled) {
      tracer.add("extract.alloc_bytes", (ctx.allocatedBytes - a0).toDouble)
      tracer.add("extract.files", out.size.toDouble)
      tracer.add("extract.bytes_written", out.map(Files.size).getOrElse(0L).toDouble)
    }
  }

  protected def stream(raw: Path, out: Path, ckpt: Path): Unit =
    tracer.span("stream.run")(ChessPipeline.runStream(ctx.spark, raw.toString,
      out.toString, ckpt.toString))

  /** Runs `body`, adding the stub's counter deltas to the current run. */
  protected def counted[T](stub: Stub)(body: => T): T = {
    val before = Seq(stub.attempts.get, stub.retries.get, stub.served.get,
      stub.bytes.get, stub.games.get)
    try body
    finally if (tracer.enabled) {
      val after = Seq(stub.attempts.get, stub.retries.get, stub.served.get,
        stub.bytes.get, stub.games.get)
      Seq("client.attempts", "client.retries", "client.served", "client.bytes",
        "extract.games").zip(after.zip(before)).foreach { case (k, (a, b)) =>
        tracer.add(k, (a - b).toDouble)
      }
    }
  }

  /** Traced-only: `puzzleGames` and `Pgn.renderAll` over `raw`, each
    * forced through the noop sink. */
  protected def scanProbes(raw: Path): Unit = {
    def noop(ds: org.apache.spark.sql.Dataset[_]): Unit =
      ds.write.format("noop").mode("overwrite").save()
    tracer.span("scan.puzzle_games")(noop(ChessPipeline.puzzleGames(ctx.spark, raw.toString)))
    tracer.span("pgn.render_all")(noop(Pgn.renderAll(
      ChessPipeline.puzzleGames(ctx.spark, raw.toString))))
  }

  /** Both batch entry points over `raw`, writing under `dir`; returns
    * the metrics `runWithMetrics` observed. */
  protected def runBatch(raw: Path, dir: Path): Map[String, Any] = {
    val m = tracer.span("batch.run_with_metrics")(
      ChessPipeline.runWithMetrics(ctx.spark, raw.toString, dir.resolve("pgn").toString))
    tracer.span("batch.run")(ChessPipeline.run(ctx.spark, raw.toString,
      dir.resolve("text").toString))
    m
  }

  /** Checks both outputs of [[runBatch]] and its observed game count. */
  protected def checkBatch(dir: Path, m: Map[String, Any], expected: Digest,
      what: String): Seq[Boolean] = {
    val observed = m.get("n_games").contains(expected.count)
    if (!observed)
      System.err.println(s"[check] $what: runWithMetrics observed $m, expected ${expected.count}")
    Seq(observed && ctx.check(s"$what runWithMetrics", PgnCheck.partFiles(dir.resolve("pgn")), expected),
      ctx.check(s"$what run", PgnCheck.partFiles(dir.resolve("text")), expected))
  }

  protected def batchProbe(raw: Path, expected: Digest, what: String): Seq[Boolean] = {
    val dir = ctx.freshDir("batch-probe")
    try checkBatch(dir, runBatch(raw, dir), expected, what)
    finally ctx.delete(dir)
  }

  /** Traced-only: one `runStream` over `raw` into a fresh directory. */
  protected def streamProbe(raw: Path, expected: Digest): Boolean = {
    val dir = ctx.freshDir("stream-probe")
    try {
      stream(raw, dir.resolve("out"), dir.resolve("ckpt"))
      ctx.check("stream probe", PgnCheck.partFiles(dir.resolve("out")), expected)
    } finally ctx.delete(dir)
  }
}

/** `[since, until)` window ends: window w holds games `[bounds(w),
  * bounds(w + 1))`. A window ends just after its last game; an empty one
  * ends at the next game, so it still moves the watermark forward. */
object Windows {
  /** Bounds of `windows` equal windows over `games` games. */
  def even(games: Int, windows: Int): IndexedSeq[Int] =
    (0 to windows).map(w => (games.toLong * w / windows).toInt)

  def untils(db: GameDb, bounds: IndexedSeq[Int]): IndexedSeq[Long] =
    bounds.indices.tail.map { w =>
      val (lo, hi) = (bounds(w - 1), bounds(w))
      if (hi > lo) db.createdAt(hi - 1) + 1 else db.createdAt(lo)
    }
}

/** A user-history backfill: every window through `Extract.run`, then one
  * `runStream` drains the raw zone to PGN. One run is one such pass, in
  * its own directory; the latest one stays for the read-back and the
  * traced probes. */
final class Backfill(ctx: Ctx, games: Int, windows: Int) extends PipelineSteps(ctx) {
  private val dbDir = ctx.freshDir("db")
  private val db = Gen.generate(ctx.seed, Mix.History, games,
    math.max(windows, ctx.cpus), dbDir, ctx.cpus)
  private val stub = new Stub(db, ctx.seed, 0.0)
  private val client = new LichessClient(LichessConfig(stub.url, "bench", max = games))
  private val untils = Windows.untils(db, Windows.even(games, windows))
  private val expected = db.expected(0, games)
  private var kept: Option[Path] = None

  def passRate: Double = db.passRate

  def once(): RunRecord = {
    kept.foreach(ctx.delete)
    val dir = ctx.freshDir("pass")
    kept = Some(dir)
    val ex = new Extract(dir.resolve("state"))
    val fetch = fetcher(client)
    val out = dir.resolve("out")
    val (_, t) = ctx.timed(counted(stub) {
      untils.foreach(extract(ex, fetch, dir.resolve("raw"), _))
      stream(dir.resolve("raw"), out, dir.resolve("ckpt"))
    })
    t.record(games, ctx.check("backfill", PgnCheck.partFiles(out), expected))
  }

  def readback(): Unit = kept.foreach(d => ctx.readback(d.resolve("out"), expected.count))

  def probes(): Seq[Boolean] = kept.toSeq.flatMap { dir =>
    scanProbes(dir.resolve("raw"))
    batchProbe(dir.resolve("raw"), expected, "backfill probe")
  }

  def close(): Unit = {
    stub.stop()
    kept.foreach(ctx.delete)
    ctx.delete(dbDir)
  }
}

/** The reference's production cadence: scheduled extract + `runStream`
  * runs against one growing raw directory and checkpoint, each fetching
  * at most `LichessConfig.max` (3) games, with a seeded share of first
  * attempts refused by the stub. One run is one scheduled
  * extract+transform.
  *
  * The reference gives no schedule and no traffic figures, so the games
  * that arrive between two pulls are an assumption: one active player
  * finishes 2, 0, 4, 1, 0 and 3 games in six consecutive intervals, and
  * the schedule repeats. So a third of the pulls find nothing new (no
  * raw file is written, and `runStream` finds no new input), and one in
  * six finds more games than `max` (the fourth is cut off, as the
  * reference's request parameter does). Every seed serves the same 1.5
  * games per run over a cycle, and the measuring ends after whole
  * cycles. */
final class Incremental(ctx: Ctx, maxRuns: Int, refuseShare: Double)
    extends PipelineSteps(ctx) {
  private val cycle = IndexedSeq(2, 0, 4, 1, 0, 3)
  // the seed picks where in the cycle the schedule starts; never on an
  // empty interval, because no raw directory exists before the first file
  private val sizes = {
    val starts = cycle.indices.filter(cycle(_) > 0)
    val k = starts(Math.floorMod(ctx.seed, starts.size.toLong).toInt)
    IndexedSeq.tabulate(maxRuns)(r => cycle((r + k) % cycle.size))
  }
  private val bounds = sizes.scanLeft(0)(_ + _)
  private val dbDir = ctx.freshDir("db")
  // one game past the last window, so every window has a finite end
  private val db = Gen.generate(ctx.seed, Mix.History, bounds.last + 1, 1, dbDir, 1)
  private val stub = new Stub(db, ctx.seed, refuseShare)
  private val cfg = LichessConfig(stub.url, "bench")
  private val client = new LichessClient(cfg)
  private val untils = Windows.untils(db, bounds)
  private val dir = ctx.freshDir("stream")
  private val ex = new Extract(dir.resolve("state"))
  private val raw = dir.resolve("raw")
  private val out = dir.resolve("out")
  private var runs = 0
  private var seen = Set.empty[Path]

  def passRate: Double = db.passRate

  override def more: Boolean = runs < maxRuns
  // the walls of non-empty runs fall until about the 30th run
  override def warmups: Int = 4 * cycle.size
  override def atBoundary: Boolean = runs % cycle.size == 0

  def once(): RunRecord = {
    val (lo, hi) = window(runs)
    val until = untils(runs)
    runs += 1
    val fetch = fetcher(client)
    val (_, t) = ctx.timed(counted(stub) {
      extract(ex, fetch, raw, until)
      stream(raw, out, dir.resolve("ckpt"))
    })
    val fresh = PgnCheck.partFiles(out).filterNot(seen)
    seen ++= fresh
    t.record(hi - lo, ctx.check(s"incremental run $runs", fresh, db.expected(lo, hi)))
  }

  def probes(): Seq[Boolean] = {
    scanProbes(raw)
    batchProbe(raw, served, "incremental probe")
  }

  /** Expected projection of everything served so far. */
  private def served: Digest = (0 until runs).map(window)
    .map { case (lo, hi) => db.expected(lo, hi) }.foldLeft(Digest.Empty)(_ + _)

  /** Games `[lo, hi)` the stub serves for run `r`: the window's first
    * `max`, oldest first. */
  private def window(r: Int): (Int, Int) = (bounds(r), math.min(bounds(r + 1), bounds(r) + cfg.max))

  def readback(): Unit = ctx.readback(out, served.count)

  def close(): Unit = {
    stub.stop()
    ctx.delete(dir)
    ctx.delete(dbDir)
  }
}

/** A raw zone of long mate/standard games, staged through the extract
  * path during set-up. One run is `runWithMetrics` (the DSv2 `pgn` sink)
  * then `run` (global numbering); the latest run's two outputs are read
  * back. */
final class PgnRoundtrip(ctx: Ctx, games: Int, windows: Int) extends PipelineSteps(ctx) {
  private val raw = ctx.freshDir("raw")
  private val (expected, rate) = {
    val dbDir = ctx.freshDir("db")
    try {
      val db = Gen.generate(ctx.seed, Mix.LongMates, games,
        math.max(windows, ctx.cpus), dbDir, ctx.cpus)
      val stub = new Stub(db, ctx.seed, 0.0)
      try {
        val client = new LichessClient(LichessConfig(stub.url, "bench", max = games))
        val ex = new Extract(dbDir.resolve("state"))
        counted(stub)(Windows.untils(db, Windows.even(games, windows))
          .foreach(extract(ex, fetcher(client), raw, _)))
      } finally stub.stop()
      (db.expected(0, games), db.passRate)
    } finally ctx.delete(dbDir)
  }

  def passRate: Double = rate

  // the walls fall until about the 12th run
  override def warmups: Int = 10

  private var kept: Option[Path] = None

  def once(): RunRecord = {
    kept.foreach(ctx.delete)
    val dir = ctx.freshDir("pass")
    kept = Some(dir)
    val (m, t) = ctx.timed(runBatch(raw, dir))
    t.record(games, checkBatch(dir, m, expected, "pgn_roundtrip").forall(identity))
  }

  def readback(): Unit = kept.foreach { d =>
    ctx.readback(d.resolve("pgn"), expected.count)
    ctx.readback(d.resolve("text"), expected.count)
  }

  def probes(): Seq[Boolean] = {
    scanProbes(raw)
    Seq(streamProbe(raw, expected))
  }

  def close(): Unit = {
    kept.foreach(ctx.delete)
    ctx.delete(raw)
  }
}
