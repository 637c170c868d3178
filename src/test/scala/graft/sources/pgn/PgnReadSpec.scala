package graft.sources.pgn

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import graft.sources.Pgn
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The `pgn` reader's block parse, its memory and its file handle: the
  * shapes a hand-written or foreign PGN file may take, an allocation
  * bound that does not grow with the file, and a close on early stop. */
class PgnReadSpec extends AnyFunSuite with graft.SparkTestBase with graft.TempDirs {

  /** `n` blocks of 40-move games, as the pgn writer lays them out. */
  private def games(n: Int): String = {
    val sb = new StringBuilder
    val moves = (1 to 40).map(m => s"$m. e4 e5").mkString(" ")
    for (i <- 1 to n) {
      if (i > 1) sb.append("\n")
      sb.append(s"[Game $i]\n")
      Pgn.tags.foreach { case (_, tag) => sb.append(s"""[$tag "$tag $i"]\n""") }
      sb.append(s"\n$moves\n")
    }
    sb.toString
  }

  test("CRLF, unknown tags, escaped quotes and tag-only blocks read as before") {
    val dir = freshDir("pgn_shape")
    Files.write(dir.resolve("shape.pgn"), Seq(
      "[Game 1]",
      """[Event "Rated"]""",
      """[Game ID "g1"]""",
      """[White "None"]""",
      """[Black "?"]""",
      """[Opening Eco "B20"]""",
      """[Opening Name "Sicilian \"Wing\" Gambit"]""",
      """[Game Winner "black"]""",
      "",
      "1. e4 c5  ",
      "2. Nf3 d6  ",
      "",
      "[Game 2]",
      """[Game ID "g2"]""",
      "").mkString("\r\n").getBytes(UTF_8))
    val got = spark.read.format("pgn").load(dir.toString).collect().sortBy(_.getString(0)).toSeq
    assert(got === Seq(
      Row("g1", null, null, "B20", """Sicilian \"Wing\" Gambit""", "black",
        "1. e4 c5  \n2. Nf3 d6"),
      Row("g2", null, null, null, null, null, "")))
  }

  test("reading a file whole allocates at most 4 times its size") {
    val file = freshDir("pgn_alloc").resolve("big.pgn")
    Files.write(file, games(10000).getBytes(UTF_8))
    val size = Files.size(file)
    assert(size > (5L << 20))
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val thread = Thread.currentThread.getId
    val before = mx.getThreadAllocatedBytes(thread)
    val r = new PgnReader(file.toString, 0L, size, Pgn.schema)
    var n = 0
    try while (r.next()) n += 1 finally r.close()
    val allocated = mx.getThreadAllocatedBytes(thread) - before
    assert(n === 10000)
    assert(allocated <= 4 * size, s"$allocated bytes allocated to read $size")
  }

  test("a read stopped after one row closes its file") {
    assume(new java.io.File("/proc/self/fd").isDirectory, "needs /proc/self/fd")
    val file = freshDir("pgn_early").resolve("many.pgn")
    Files.write(file, games(2000).getBytes(UTF_8))
    def firstRow(): Array[Row] =
      spark.read.format("pgn").load(file.getParent.toString).limit(1).collect()
    /** What this JVM's open file descriptors point at. */
    def openFiles: Seq[String] = new java.io.File("/proc/self/fd").listFiles().toSeq
      .flatMap(fd => scala.util.Try(Files.readSymbolicLink(fd.toPath).toString).toOption)
    val target = file.toRealPath().toString
    assert(firstRow().length === 1)
    val before = openFiles.size
    for (_ <- 1 to 200) {
      assert(firstRow().length === 1)
      assert(openFiles.count(_ == target) === 0)
    }
    assert(openFiles.size === before)
  }
}
