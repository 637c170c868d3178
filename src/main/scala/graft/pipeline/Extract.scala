package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

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
  * The fetcher is injected (`(since, until) => lines`), so tests use a
  * fake and production wires any HTTP client — no network dependency in
  * the engine itself.
  */
class Extract(stateDir: Path) {

  private val wmFile = stateDir.resolve("last_timestamp.txt")

  /** The committed watermark; a file that does not hold one number (torn
    * or garbled) fails with [[Extract.BadWatermark]], naming file and content. */
  def loadWatermark(): Option[Long] = Option.when(Files.exists(wmFile)) {
    val text = new String(Files.readAllBytes(wmFile), UTF_8)
    text.trim.toLongOption.getOrElse(throw new Extract.BadWatermark(wmFile, text))
  }

  private def saveWatermark(ts: Long): Unit = {
    Files.createDirectories(stateDir)
    Files.write(wmFile, ts.toString.getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** One extraction run: fetch `[since, until)`, write NDJSON, then (and
    * only then) advance the watermark. Returns the written file, if any.
    */
  def run(fetch: (Option[Long], Long) => Iterator[String], rawDir: Path,
      until: Long): Option[Path] = {
    val since = loadWatermark()
    val lines = fetch(since, until).toSeq
    val written = if (lines.nonEmpty) {
      Files.createDirectories(rawDir)
      // Deterministic name keyed by the window → a retried run overwrites
      // the same file instead of duplicating records downstream.
      val target = rawDir.resolve(s"games_${since.getOrElse(0L)}_$until.ndjson")
      Files.write(target, lines.mkString("", "\n", "\n").getBytes(UTF_8))
      Some(target)
    } else None
    saveWatermark(until) // durable write happened first (R2 fix)
    written
  }
}

object Extract {
  def apply(stateDir: String): Extract = new Extract(Paths.get(stateDir))

  final class BadWatermark(file: Path, content: String) extends IllegalStateException(
    s"watermark file $file holds no timestamp: \"$content\"")
}
