package graft

import java.io.{BufferedOutputStream, BufferedWriter, OutputStream, OutputStreamWriter, Writer}
import java.nio.channels.{Channels, FileChannel}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.StandardOpenOption.{CREATE, READ, TRUNCATE_EXISTING, WRITE}

/** A local file published all or nothing: bytes go to `staging` (the
  * caller's hidden name beside `target`), and [[commit]] makes them
  * durable (flush, fsync) before one atomic step makes them visible as
  * `target`. Until then no reader sees any of them; a crash leaves at
  * most the staging file, which the caller's next run may truncate or
  * delete. The rename is durable only once the directory is fsynced too:
  * each caller decides when, with [[AtomicFile.syncDir]].
  *
  * Not thread-safe; `commit` and `cancel` are idempotent, and after
  * either one the other does nothing.
  */
final class AtomicFile(staging: Path, target: Path) {
  Files.createDirectories(target.getParent)
  private val ch = FileChannel.open(staging, CREATE, WRITE, TRUNCATE_EXISTING)
  private var done = false
  private var text: Writer = null

  /** The file's bytes, buffered 64 KB at a time. */
  val out: OutputStream = new BufferedOutputStream(Channels.newOutputStream(ch), 1 << 16)

  /** The file as UTF-8 text, over [[out]]; malformed text throws, as it
    * does through `Files.newBufferedWriter`. */
  def writer: Writer = {
    if (text == null) text = new BufferedWriter(new OutputStreamWriter(out, UTF_8.newEncoder()))
    text
  }

  /** Fsyncs the bytes, then publishes them: renamed over `target` in one
    * atomic step, or, with `replace = false`, hard-linked to it, which
    * throws `java.nio.file.FileAlreadyExistsException` when `target`
    * exists. The staging file is gone afterwards, whatever happened. */
  def commit(replace: Boolean = true): Unit = if (!done) {
    done = true
    try {
      try {
        if (text != null) text.flush() else out.flush()
        ch.force(true)
      } finally ch.close()
      if (replace) Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
      else Files.createLink(target, staging)
    } finally Files.deleteIfExists(staging)
  }

  /** Discards the bytes; `target` stays as it was. */
  def cancel(): Unit = if (!done) {
    done = true
    try ch.close() finally Files.deleteIfExists(staging)
  }
}

object AtomicFile {

  /** Makes the renames and deletes in `dir` so far durable. */
  def syncDir(dir: Path): Unit = {
    val d = FileChannel.open(dir, READ)
    try d.force(true) finally d.close()
  }
}
