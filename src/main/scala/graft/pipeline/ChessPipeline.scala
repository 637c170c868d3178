package graft.pipeline

import graft.sources.{ChessModel, Pgn, PuzzleGame}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's own query, Spark-first (SURVEY.md §7.3 minimum slice):
  * NDJSON scan (fixed schema) → conjunctive filter → nested projection →
  * typed Dataset → PGN files. One codegen span from scan to shuffle —
  * versus the reference's 4 jobs + inference scan per file (SURVEY
  * §3.2-3.3).
  */
object ChessPipeline {

  /** Resource-shipped Lichess-shaped sample, copied once per JVM to a
    * file of its own (deleted on exit) so both Spark and the DuckDB
    * oracle can read it while other JVMs do the same.
    */
  lazy val samplePath: String = {
    val target = java.nio.file.Files.createTempFile("graft_lichess_sample", ".ndjson")
    target.toFile.deleteOnExit()
    val in = getClass.getResourceAsStream("/graft/lichess_sample.ndjson")
    require(in != null, "lichess_sample.ndjson missing from classpath")
    try java.nio.file.Files.write(target, in.readAllBytes()) finally in.close()
    target.toString
  }

  /** R5: scan with the fixed schema (no inference job). */
  def readGames(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(ChessModel.gameSchema).json(path)

  /** R7+R8+R9: filter mate+standard, project/flatten the 7 fields, and
    * switch to the typed Dataset — the reference's `.rdd.map(parse_game)`
    * is just an Encoder here (no engine escape, codegen survives). Batch
    * and streaming `games` alike.
    */
  private def toPuzzleGames(games: DataFrame): Dataset[PuzzleGame] = {
    val spark = games.sparkSession
    import spark.implicits._
    games
      .filter(col("status") === "mate" && col("variant") === "standard")
      .select(
        col("id").as("game_id"),
        col("players.white.user.name").as("white_name"),
        col("players.black.user.name").as("black_name"),
        col("opening.eco").as("opening_eco"),
        col("opening.name").as("opening_name"),
        col("winner"),
        col("moves"))
      .as[PuzzleGame]
  }

  /** The puzzle games of the NDJSON at `path`. */
  def puzzleGames(spark: SparkSession, path: String): Dataset[PuzzleGame] =
    toPuzzleGames(readGames(spark, path))

  /** R10: end-to-end batch run, NDJSON in → [[Pgn.write]]'s sized range
    * sort and numbered `pgn` write: `part-NNNNN-<id>.pgn` files (no
    * `_SUCCESS`) numbered `[Game 1]…[Game N]` across the parts in name order.
    */
  def run(spark: SparkSession, inputPath: String, outDir: String): Unit =
    Pgn.write(puzzleGames(spark, inputPath), outDir)

  /** R6 fix: the reference issues two extra count() jobs per file for
    * audit logging (/root/reference/etl/transform.py:96,113). `observe`
    * rides the single sink job — same numbers, zero extra scans.
    */
  def runWithMetrics(spark: SparkSession, inputPath: String,
      outDir: String): Map[String, Any] = {
    val obs = new org.apache.spark.sql.Observation("chess_metrics")
    puzzleGames(spark, inputPath).toDF()
      .observe(obs,
        count(lit(1)).as("n_games"),
        count(col("winner")).as("n_decided"))
      .write.mode("overwrite")
      .format("graft.sources.pgn.PgnDataSource").save(outDir)
    obs.get
  }

  /** R4/R11 as Structured Streaming: watch `rawDir` for NDJSON files,
    * process each exactly once (checkpoint-tracked), append rendered PGN
    * blocks to `outDir`. `Trigger.AvailableNow` = the reference's "drain
    * the backlog then exit" batch loop, crash-safe. Numbering is
    * per-micro-batch-partition (streaming has no global order), so each
    * appended file is a standalone PGN collection — the reference's
    * per-source-file semantics.
    */
  def runStream(spark: SparkSession, rawDir: String, outDir: String,
      checkpointDir: String): Unit = {
    import spark.implicits._
    val games = toPuzzleGames(
      spark.readStream.schema(ChessModel.gameSchema).json(rawDir))
    val rendered = games.mapPartitions { it =>
      var n = 0L
      it.map { g => n += 1; Pgn.render(g, n) }
    }
    val q = rendered.writeStream
      .format("text").option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
