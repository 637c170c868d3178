package graft.sources

import org.apache.spark.sql.types._

/** The reference's 7-field output projection
  * (/root/reference/etl/transform.py:66-74).
  */
case class PuzzleGame(
    game_id: String,
    white_name: Option[String],
    black_name: Option[String],
    opening_eco: Option[String],
    opening_name: Option[String],
    winner: Option[String],
    moves: Option[String])

object ChessModel {
  private def user = StructType(Seq(
    StructField("name", StringType), StructField("id", StringType)))
  private def player = StructType(Seq(
    StructField("user", user), StructField("rating", LongType),
    StructField("ratingDiff", LongType)))

  /** The Lichess games-export payload — the reference's raw zone
    * (SURVEY.md §1.3; fields per the request params of its
    * `etl/extract.py:57-66`). A fixed StructType replacing the reference's
    * per-file inference (its `etl/transform.py:94`) — at scale, inference
    * is an extra full scan per batch (SURVEY §4.2).
    */
  val gameSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("rated", BooleanType),
    StructField("variant", StringType),
    StructField("speed", StringType),
    StructField("perf", StringType),
    StructField("createdAt", LongType),
    StructField("lastMoveAt", LongType),
    StructField("status", StringType),
    StructField("winner", StringType),
    StructField("moves", StringType),
    StructField("players", StructType(Seq(
      StructField("white", player), StructField("black", player)))),
    StructField("opening", StructType(Seq(
      StructField("eco", StringType), StructField("name", StringType),
      StructField("ply", LongType)))),
    StructField("clock", StructType(Seq(
      StructField("initial", LongType), StructField("increment", LongType),
      StructField("totalTime", LongType)))),
    StructField("clocks", ArrayType(LongType)),
    StructField("analysis", ArrayType(StructType(Seq(
      StructField("eval", LongType), StructField("mate", LongType),
      StructField("best", StringType), StructField("variation", StringType),
      StructField("judgment", StructType(Seq(
        StructField("name", StringType), StructField("comment", StringType))))))))))
}
