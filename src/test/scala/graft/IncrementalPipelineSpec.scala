package graft

import graft.pipeline.{ChessPipeline, EtlConfig}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end incremental chess pipeline (R4/R11 via AvailableNow) and
  * the R12 config loader.
  */
class IncrementalPipelineSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  import IncrementalPipelineSpec.game

  test("streaming pipeline processes each raw file exactly once (R4/R11)") {
    val raw = freshDir("chess_raw")
    val out = freshDir("chess_out").toString
    val ckpt = freshDir("chess_ckpt").toString

    def countGames(): Long =
      spark.read.text(out).filter("value like '[Game ID%'").count()
    // the puzzle generator's read: committed files only, every game
    def readGames(): Long = spark.read.format("pgn").load(out).count()

    java.nio.file.Files.write(raw.resolve("f1.ndjson"),
      (game("a1") + "\n" + game("a2")).getBytes)
    ChessPipeline.runStream(spark, raw.toString, out, ckpt)
    assert(countGames() === 2)
    assert(readGames() === 2)
    // games are separated by one empty line, as in the golden file
    val text = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath))).mkString
    assert(text.contains("e4 e5\n\n[Game 2]\n"), text)

    // a part file the sink never committed (a crashed attempt's leftover)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "part-00099-stale.txt"),
      "[Game 1]\n[Game ID \"stale\"]\n\ne4\n")

    // second run with one new file: only the new games are appended
    java.nio.file.Files.write(raw.resolve("f2.ndjson"), game("b1").getBytes)
    ChessPipeline.runStream(spark, raw.toString, out, ckpt)
    assert(countGames() === 3) // 3, not 5 — f1 not reprocessed
    assert(readGames() === 3) // the stale part is not output
  }

  test("a second runStream on the session, over a new raw file, compiles no code") {
    val raw = freshDir("chess_raw")
    val out = freshDir("chess_out").toString
    val ckpt = freshDir("chess_ckpt").toString
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    java.nio.file.Files.write(raw.resolve("f1.ndjson"), game("c1").getBytes)
    ChessPipeline.runStream(spark, raw.toString, out, ckpt)
    val before = compiles()
    java.nio.file.Files.write(raw.resolve("f2.ndjson"), game("c2").getBytes)
    ChessPipeline.runStream(spark, raw.toString, out, ckpt)
    // the query's cloned session shares the class loader, so the codegen
    // cache (keyed by loader and source) serves every class again
    assert(compiles() - before === 0)
    assert(spark.read.format("pgn").load(out).count() === 2)
  }

  test("EtlConfig parses the reference's yaml shape (R12)") {
    val f = freshDir("etl").resolve("etl.yml")
    java.nio.file.Files.write(f,
      """# spark config
        |master: local[2]
        |executor_memory: 2g
        |executor_cores: 3
        |raw_data_path: /data/raw
        |transformed_data_path: /data/out
        |""".stripMargin.getBytes)
    val c = EtlConfig.fromYaml(f.toString)
    assert(c.master === "local[2]")
    assert(c.executorMemory === "2g")
    assert(c.executorCores === 3)
    assert(c.rawDataPath === "/data/raw")
    assert(c.transformedDataPath === "/data/out")
    assert(c.checkpointPath === "data/checkpoints") // default
  }
}

object IncrementalPipelineSpec {
  /** One raw NDJSON game that passes the mate + standard filter. */
  def game(id: String): String =
    s"""{"id":"$id","variant":"standard","status":"mate","winner":"white","moves":"e4 e5","players":{"white":{"user":{"name":"w"}},"black":{"user":{"name":"b"}}},"opening":{"eco":"C20","name":"KP"}}"""
}
