package e2ebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The benchmark's own reading of the pipeline's PGN output, kept apart
  * from the engine's `pgn` reader: every `part-*` file of a directory is
  * split at `[Game N]` lines, and each block's seven fields are digested
  * the way [[Gen]] digests the expected projection.
  */
object PgnCheck {
  private val Header = """\[Game \d+\]""".r
  private val Tag = """\[([A-Za-z ]+) "(.*)"\]""".r
  private val Fields = Array("Game ID", "White", "Black", "Opening Eco",
    "Opening Name", "Game Winner")

  /** Regular `part-*` files of `dir`, sorted by name. */
  def partFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-") && Files.isRegularFile(p))
        .toVector.sortBy(_.getFileName.toString)
      finally s.close()
    }

  def bytes(files: Seq[Path]): Long = files.map(Files.size).sum

  def digest(files: Seq[Path]): Digest = files.map(digestFile).foldLeft(Digest.Empty)(_ + _)

  def digestFile(file: Path): Digest = {
    var n = 0L; var h = 0L
    val tags = new java.util.HashMap[String, String]
    val moves = new java.lang.StringBuilder
    var inBlock = false; var inMoves = false
    def flush(): Unit = if (inBlock) {
      val f = new Array[String](7)
      var i = 0
      while (i < 6) { f(i) = tags.get(Fields(i)); i += 1 }
      f(6) = moves.toString.trim
      n += 1; h += Digest.of(f)
    }
    val lines = Files.lines(file, UTF_8)
    try lines.iterator().asScala.foreach { line =>
      if (line.startsWith("[Game ") && Header.matches(line)) {
        flush(); tags.clear(); moves.setLength(0); inBlock = true; inMoves = false
      } else if (inMoves) {
        if (moves.length > 0) moves.append('\n')
        moves.append(line)
      } else if (line.trim.isEmpty) {
        if (inBlock) inMoves = true
      } else line match {
        case Tag(k, v) => tags.put(k, v)
        case _ =>
      }
    } finally lines.close()
    flush()
    Digest(n, h)
  }

  /** Drops the first game block of the first of `files` that has one
    * (self-test: a corrupted output must fail the check). */
  def dropOneBlock(files: Seq[Path]): Boolean =
    files.exists { f =>
      val lines = Files.readAllLines(f, UTF_8).asScala.toVector
      val starts = lines.indices.filter(i => Header.matches(lines(i)))
      starts.nonEmpty && {
        val end = if (starts.size > 1) starts(1) else lines.size
        Files.write(f, (lines.take(starts.head) ++ lines.drop(end)).asJava, UTF_8)
        true
      }
    }
}
