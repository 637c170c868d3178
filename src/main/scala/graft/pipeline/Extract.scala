package graft.pipeline

import java.io.Writer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import graft.AtomicFile

/** Driver-side incremental extraction (SURVEY.md §2A R1–R3).
  *
  * The reference pulls `[since, until)` windows from a games-export REST
  * API and advances `last_timestamp.txt` on HTTP 200 *before* parsing or
  * writing — at-most-once, a crash after the save loses the batch
  * (/root/reference/etl/extract.py:72-73; SURVEY §4.2). This module keeps
  * the monotone-window intent but commits the watermark only AFTER the
  * NDJSON file is durably written, with deterministic file names keyed by
  * the window — at-least-once + idempotent = effectively exactly-once
  * when the downstream consumer (the T1 file stream) dedups by file name.
  *
  * A run streams the fetched lines into `games_<since>_<until>.ndjson`
  * through an [[AtomicFile]] staged as the hidden
  * `.games_<since>_<until>.ndjson.tmp` (the file stream and
  * `spark.read.json` skip dot-files), then fsyncs the directory. Its
  * rename is the commit point: before it no reader can see any of the
  * window, after it the window is whole and durable. The watermark is
  * then published the same way, so it holds the old value or the new
  * one, never a torn one. Memory stays one line plus the I/O buffers,
  * whatever the window's size.
  *
  * A run first repairs what a crashed one left: it deletes stale staging
  * files, and when the window starting at the committed watermark was
  * already published with an earlier end `u` (the crash fell between the
  * rename and the watermark), it commits `u` and fetches `[u, until)`
  * only. Re-fetching `[since, until)` under a new name would publish that
  * window's games twice. With `u == until` the rerun rewrites the same
  * name, which the file stream has already seen.
  *
  * The fetcher is injected (`(since, until) => lines`), so tests use a
  * fake and production wires any HTTP client — no network dependency in
  * the engine itself. A fetch that fails, up front or part-way through
  * its lines, fails the run: nothing is published and the watermark
  * stays. An iterator that is `AutoCloseable` is closed when the run ends.
  * One extract runs at a time per state and raw directory.
  */
class Extract(stateDir: Path) {

  private val wmFile = stateDir.resolve("last_timestamp.txt")

  /** The committed watermark; a file that does not hold one number (torn
    * or garbled) fails with [[Extract.BadWatermark]], naming file and content. */
  def loadWatermark(): Option[Long] = Option.when(Files.exists(wmFile)) {
    val text = new String(Files.readAllBytes(wmFile), UTF_8)
    text.trim.toLongOption.getOrElse(throw new Extract.BadWatermark(wmFile, text))
  }

  private def saveWatermark(ts: Long): Unit =
    Extract.writeAtomically(wmFile)(_.write(ts.toString))

  /** The watermark a run starts from, after repairing what a crashed run
    * left in `rawDir` (see the class comment). */
  private def recover(rawDir: Path, until: Long): Option[Long] = {
    val since = loadWatermark()
    if (!Files.isDirectory(rawDir)) return since
    val prefix = Extract.windowPrefix(since)
    var published = Option.empty[Long]
    val entries = Files.newDirectoryStream(rawDir)
    try entries.forEach { f =>
      val name = f.getFileName.toString
      if (name.startsWith(".games_") && name.endsWith(".tmp")) Files.delete(f)
      else if (name.startsWith(prefix) && name.endsWith(".ndjson"))
        name.substring(prefix.length, name.length - ".ndjson".length).toLongOption
          .filter(_ < until)
          .foreach(u => published = Some(published.fold(u)(math.max(_, u))))
    } finally entries.close()
    published.foreach(saveWatermark)
    published.orElse(since)
  }

  /** One extraction run: fetch `[since, until)`, publish its lines as one
    * NDJSON file, then (and only then) advance the watermark. Returns the
    * published file; an empty window publishes none and creates no
    * `rawDir`.
    */
  def run(fetch: (Option[Long], Long) => Iterator[String], rawDir: Path,
      until: Long): Option[Path] = {
    val since = recover(rawDir, until)
    val lines = fetch(since, until)
    try {
      val written = Option.when(lines.hasNext) {
        // Deterministic name keyed by the window → a retried run overwrites
        // the same file instead of duplicating records downstream.
        val target = rawDir.resolve(s"${Extract.windowPrefix(since)}$until.ndjson")
        Extract.writeAtomically(target) { out =>
          lines.foreach { line => out.write(line); out.write('\n') }
        }
        target
      }
      saveWatermark(until) // durable write happened first (R2 fix)
      written
    } finally lines match {
      case c: AutoCloseable => c.close()
      case _ =>
    }
  }
}

object Extract {
  def apply(stateDir: String): Extract = new Extract(Paths.get(stateDir))

  final class BadWatermark(file: Path, content: String) extends IllegalStateException(
    s"watermark file $file holds no timestamp: \"$content\"")

  /** The raw file name of a window from `since`, up to its end. */
  private def windowPrefix(since: Option[Long]): String = s"games_${since.getOrElse(0L)}_"

  /** Writes `target` all or nothing, as UTF-8 text, through an
    * [[AtomicFile]] staged as `.<name>.tmp`, then fsyncs the directory. */
  private def writeAtomically(target: Path)(write: Writer => Unit): Unit = {
    val f = new AtomicFile(target.resolveSibling(s".${target.getFileName}.tmp"), target)
    try { write(f.writer); f.commit() } finally f.cancel()
    AtomicFile.syncDir(target.getParent)
  }
}
