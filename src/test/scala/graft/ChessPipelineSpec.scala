package graft

import graft.pipeline.ChessPipeline
import graft.sources.Pgn
import org.scalatest.funsuite.AnyFunSuite

/** Reference-parity tests: R5–R10 semantics + the S7 golden PGN. */
class ChessPipelineSpec extends AnyFunSuite with SparkTestBase with TempDirs {

  private lazy val games =
    ChessPipeline.puzzleGames(spark, ChessPipeline.samplePath)

  test("SparkEntry.entry returns rows (driver t1 smoke surface)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("filter keeps only mate+standard games (R7)") {
    assert(games.collect().map(_.game_id).sorted.toSeq ===
      Seq("game0001", "game0002", "game0007", "game0008", "game0010"))
  }

  test("nested projection is total on missing structs (R8/P2/P6)") {
    val byId = games.collect().map(g => g.game_id -> g).toMap
    assert(byId("game0007").white_name.isEmpty) // anonymous player
    assert(byId("game0007").black_name.contains("mia"))
    assert(byId("game0008").opening_eco.isEmpty) // opening struct absent
    assert(byId("game0001").winner.contains("white"))
  }

  test("PGN rendering matches the golden file (S7/R10)") {
    // Pgn.render reads a PuzzleGame's fields in the pgn schema's order
    assert(org.apache.spark.sql.Encoders.product[graft.sources.PuzzleGame]
      .schema.fieldNames.toSeq === Pgn.schema.fieldNames.toSeq)
    val got = Pgn.renderToString(games)
    val want = scala.io.Source.fromResource("graft/golden.pgn").mkString
    assert(got === want)
  }

  test("PGN DSv2 round trip preserves every field incl. nulls") {
    import spark.implicits._
    val out = freshDir("pgn_rt").toString
    games.toDF().write.format("pgn").mode("overwrite").save(out)
    val back = spark.read.format("pgn").load(out)
      .as[graft.sources.PuzzleGame].collect()
      .sortBy(_.game_id)
    val want = games.collect().sortBy(_.game_id)
    assert(back.toSeq === want.toSeq)
    // pruned scan only materializes requested columns (pushed into scan)
    val pruned = spark.read.format("pgn").load(out).select("game_id")
    val desc = pruned.queryExecution.executedPlan.toString
    assert(pruned.collect().map(_.getString(0)).sorted ===
      want.map(_.game_id).sorted)
    assert(desc.contains("columns=game_id"), desc)
  }

  test("PGN sink writes once per partition via committer, content preserved") {
    import spark.implicits._
    val out = freshDir("pgn_sink").toString
    Pgn.write(games, out)
    val back = spark.read.text(out)
    assert(back.filter("value like '[Game ID%'").count() === 5)
    // the pgn reader sees every game of the text sink's part files
    val read = spark.read.format("pgn").load(out)
      .as[graft.sources.PuzzleGame].collect().sortBy(_.game_id)
    assert(read.toSeq === games.collect().sortBy(_.game_id).toSeq)
  }

  test("DSV2 format(\"pgn\") writes committed per-partition pgn files") {
    val out = freshDir("pgn_dsv2").toString
    def write(df: org.apache.spark.sql.DataFrame, mode: String): Unit =
      df.write.mode(mode).format("graft.sources.pgn.PgnDataSource").save(out)
    // overwrite leaves only the new write's parts
    write(games.toDF().repartition(3), "overwrite")
    write(games.toDF().coalesce(1), "overwrite")
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".pgn"))
    assert(files.length === 1)
    val content = new String(java.nio.file.Files.readAllBytes(files.head.toPath))
    assert(content.split("\\[Game ID").length - 1 === 5)
    assert(!content.contains(".tmp"))
    // one file in game_id order: the golden layout
    assert(content === scala.io.Source.fromResource("graft/golden.pgn").mkString)
    val e = intercept[UnsupportedOperationException](write(games.toDF(), "append"))
    assert(e.getMessage.contains("only with mode(\"overwrite\")"), e.getMessage)
    assert(spark.read.format("pgn").load(out).count() === 5)
  }

  /** `part-*` files of `dir`, in name order. */
  private def parts(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
    Option(dir.toFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("part-")).map(_.toPath).sortBy(_.getFileName.toString)

  test("run numbers games globally across parts, in game_id order") {
    val sample = scala.io.Source.fromResource("graft/lichess_sample.ndjson").getLines().toVector
    val raw = freshDir("pgn_multi_raw")
    // 3 files of 200 games (100 puzzle games each); every file's ids
    // spread over the whole id range, so each range partition draws on
    // every scan partition
    for (f <- 0 until 3) {
      val lines = for (k <- 0 until 20; line <- sample) yield {
        val copy = f * 20 + k
        line.replaceFirst("^\\{\"id\":\"(game\\d+)\"",
          f"{\"id\":\"${copy * 7 % 60}%02d-$$1\"")
      }
      java.nio.file.Files.write(raw.resolve(s"games_$f.ndjson"), lines.mkString("", "\n", "\n").getBytes)
    }
    val out = freshDir("pgn_multi_out")
    ChessPipeline.run(spark, raw.toString, out.toString)
    val files = parts(out)
    assert(files.size > 1, files)
    assert(files.forall(_.getFileName.toString.endsWith(".pgn")), files)
    val text = files.map(f => new String(java.nio.file.Files.readAllBytes(f))).mkString
    val numbers = "(?m)^\\[Game (\\d+)\\]$".r.findAllMatchIn(text).map(_.group(1).toInt).toSeq
    assert(numbers === (1 to 300))
    val ids = "(?m)^\\[Game ID \"([^\"]*)\"\\]$".r.findAllMatchIn(text).map(_.group(1)).toSeq
    assert(ids.size === 300 && ids === ids.sorted)
    assert(text === Pgn.renderToString(ChessPipeline.puzzleGames(spark, raw.toString)))
  }

  test("run on input without puzzle games leaves an empty, readable output") {
    val out = freshDir("pgn_empty_out")
    val noPuzzles = freshDir("pgn_no_puzzles")
    java.nio.file.Files.write(noPuzzles.resolve("games.ndjson"),
      scala.io.Source.fromResource("graft/lichess_sample.ndjson").getLines()
        .filterNot(_.contains("\"status\":\"mate\"")).mkString("", "\n", "\n").getBytes)
    // an empty raw directory plans no scan partition at all
    for (raw <- Seq(noPuzzles, freshDir("pgn_empty_raw"))) {
      ChessPipeline.run(spark, ChessPipeline.samplePath, out.toString)
      assert(parts(out).nonEmpty)
      ChessPipeline.run(spark, raw.toString, out.toString)
      assert(out.toFile.list().toSeq === Nil)
      assert(spark.read.format("pgn").load(out.toString).count() === 0)
    }
  }

  test("observed metrics ride the sink job — no extra count scans (R6)") {
    val out = freshDir("pgn_obs").toString
    val metrics = ChessPipeline.runWithMetrics(spark, ChessPipeline.samplePath, out)
    assert(metrics.get("n_games") === Some(5L))
    assert(metrics.get("n_decided") === Some(5L))
  }

  test("fixed schema agrees with inference on every touched field (S2≡S3)") {
    import org.apache.spark.sql.functions._
    val cols = Seq(col("id"), col("status"), col("variant"), col("winner"),
      col("players.white.user.name"), col("players.black.user.name"),
      col("opening.eco"), col("opening.name"), size(col("clocks")))
    val fixed = ChessPipeline.readGames(spark, ChessPipeline.samplePath).select(cols: _*)
    val inferred = spark.read.json(ChessPipeline.samplePath).select(cols: _*)
    assert(fixed.except(inferred).count() === 0)
    assert(inferred.except(fixed).count() === 0)
  }
}
