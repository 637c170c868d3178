package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.pipeline.{ChessPipeline, Extract}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Crash injection for [[Extract]]: wherever a run dies, the rerun and
  * the file stream behind it output every game exactly once, counted
  * through the `pgn` reader.
  *
  * The rename of the staging file is the commit point. A crash before it
  * leaves no visible raw file and the old watermark; a crash after it and
  * before the watermark leaves a published window, which the rerun
  * commits without fetching it again. A killed process runs no cleanup,
  * so its leftovers are built on disk directly, as CommitAtomicitySpec
  * builds its crash points; failures the JVM survives go through
  * `Extract.run` itself.
  */
class ExtractCrashSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  /** The export API's games: `g10` … `g100`, created at 10 … 100 ms. */
  private val created = 10L to 100L by 10L
  private def line(ts: Long): String = IncrementalPipelineSpec.game(s"g$ts")
  private def ids(until: Long): Seq[String] = created.filter(_ < until).map(t => s"g$t").sorted

  /** One pipeline's directories: the extract's state, the raw zone, and
    * the stream's output and checkpoint. */
  private final class Pipeline {
    private val root = freshDir("extract_crash")
    val state: Path = root.resolve("state")
    val raw: Path = root.resolve("raw")
    val ex = new Extract(state)
    /** Every window the fake API was asked for. */
    var windows = Vector.empty[(Option[Long], Long)]

    def fetch(since: Option[Long], until: Long): Iterator[String] = {
      windows :+= (since -> until)
      created.iterator.filter(t => since.forall(_ <= t) && t < until).map(line)
    }

    def extract(until: Long): Option[Path] = ex.run(fetch, raw, until)

    /** Drains the raw zone; returns the ids of every game output so far. */
    def stream(): Seq[String] = {
      val out = root.resolve("out").toString
      ChessPipeline.runStream(spark, raw.toString, out, root.resolve("ckpt").toString)
      spark.read.format("pgn").load(out).select("game_id").collect().map(_.getString(0)).toSeq.sorted
    }

    def rawNames: Seq[String] = names(raw)
  }

  private def names(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toVector.sorted finally s.close()
  }

  /** What a process killed while writing leaves: a staging file. */
  private def leaveStaging(dir: Path, name: String, text: String): Path =
    Files.write(dir.resolve(s".$name.tmp"), text.getBytes(UTF_8))

  test("crash after the fetch: the rerun fetches the window again, and its games " +
      "come out once") {
    val p = new Pipeline
    p.extract(50L)
    assert(p.stream() === ids(50L))
    // killed with the whole window [50, 80) in its staging file, unpublished
    leaveStaging(p.raw, "games_50_80.ndjson", Seq(50L, 60L, 70L).map(line).mkString("", "\n", "\n"))
    assert(p.stream() === ids(50L)) // the file stream skips the dot-file
    assert(p.ex.loadWatermark() === Some(50L))

    p.extract(120L)
    assert(p.windows.last === (Some(50L) -> 120L))
    assert(p.rawNames === Seq("games_0_50.ndjson", "games_50_120.ndjson"))
    assert(p.stream() === ids(120L))
  }

  test("crash mid-write: no visible raw file, the staging file is removed on rerun, " +
      "the watermark is unchanged") {
    val p = new Pipeline
    p.extract(50L)
    assert(p.stream() === ids(50L))

    // the body breaks after two of the window's lines
    val broken: (Option[Long], Long) => Iterator[String] = (since, until) =>
      p.fetch(since, until).take(2) ++ Iterator.continually[String](
        throw new java.io.IOException("connection reset")).take(1)
    intercept[java.io.IOException](p.ex.run(broken, p.raw, 80L))
    assert(p.rawNames === Seq("games_0_50.ndjson"))
    assert(p.ex.loadWatermark() === Some(50L))

    // then a process is killed with a torn staging file
    leaveStaging(p.raw, "games_50_90.ndjson", line(50L) + "\n" + line(60L).take(40))
    assert(p.stream() === ids(50L))
    assert(p.ex.loadWatermark() === Some(50L))

    p.extract(120L)
    assert(p.rawNames === Seq("games_0_50.ndjson", "games_50_120.ndjson"))
    assert(p.ex.loadWatermark() === Some(120L))
    assert(p.stream() === ids(120L))
  }

  test("crash after the rename and before the watermark: a later run commits the " +
      "published window without fetching it again") {
    val p = new Pipeline
    p.extract(50L)
    // the watermark's staging path is taken, so the run fails right after
    // publishing [50, 80)
    val blocker = Files.createDirectories(p.state.resolve(".last_timestamp.txt.tmp"))
    intercept[java.io.IOException](p.extract(80L))
    assert(p.rawNames === Seq("games_0_50.ndjson", "games_50_80.ndjson"))
    assert(p.ex.loadWatermark() === Some(50L))
    assert(p.stream() === ids(80L)) // the stream has taken the window
    Files.deleteIfExists(blocker) // the process restarts

    // the rerun's end is later, as Main's `until = now` makes it
    p.extract(120L)
    assert(p.windows.last === (Some(80L) -> 120L))
    assert(p.rawNames ===
      Seq("games_0_50.ndjson", "games_50_80.ndjson", "games_80_120.ndjson"))
    assert(p.ex.loadWatermark() === Some(120L))
    assert(p.stream() === ids(120L))
  }

  test("a rerun of a published window with the same end rewrites the same name") {
    val p = new Pipeline
    p.extract(50L)
    val blocker = Files.createDirectories(p.state.resolve(".last_timestamp.txt.tmp"))
    intercept[java.io.IOException](p.extract(80L))
    assert(p.stream() === ids(80L))
    Files.deleteIfExists(blocker)

    p.extract(80L)
    assert(p.windows.last === (Some(50L) -> 80L))
    assert(p.rawNames === Seq("games_0_50.ndjson", "games_50_80.ndjson"))
    assert(p.stream() === ids(80L)) // a name the stream has seen is not read again
    p.extract(120L)
    assert(p.stream() === ids(120L))
  }

  test("an interrupted watermark write leaves the old value or the new one, " +
      "never a torn file") {
    val p = new Pipeline
    p.extract(50L)
    // killed while writing the next watermark: a torn staging file beside it
    leaveStaging(p.state, "last_timestamp.txt", "8")
    assert(p.ex.loadWatermark() === Some(50L))
    p.extract(120L)
    assert(p.ex.loadWatermark() === Some(120L))
    assert(names(p.state) === Seq("last_timestamp.txt"))
    assert(p.stream() === ids(120L))

    // a reader polling while the watermark moves sees only whole values
    val ex = new Extract(freshDir("extract_wm"))
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Option[Long]]]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() =>
      while (!stop.get()) reads.add(scala.util.Try(ex.loadWatermark()).toEither))
    reader.start()
    try (1L to 200L).foreach(u => ex.run((_, _) => Iterator.empty, p.raw, u))
    finally { stop.set(true); reader.join() }
    val seen = reads.asScala.toVector
    assert(seen.collectFirst { case Left(e) => e } === None)
    val values = seen.collect { case Right(Some(v)) => v }
    assert(values === values.sorted) // never torn, never back to an older value
    assert(ex.loadWatermark() === Some(200L))
  }
}
