package graft.sources

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The PGN output format (SURVEY.md §2A R10, S7) — the reference's
  * `write_to_pgn` (its `etl/transform.py:36-54`). Every writer
  * (`renderAll`/`write`, `ChessPipeline.runStream`, the DSv2 `pgn` sink)
  * and the `format("pgn")` reader take the format from here: one
  * column ↔ tag table and one block renderer. Output goes through Spark's
  * committer instead of concurrent appends to a shared file (the
  * reference's race, SURVEY §4.2 — deliberately fixed).
  *
  * Deviations from the reference, by design:
  *  - game numbering is global and deterministic (ascending game_id),
  *    not a per-partition counter;
  *  - null fields render as "?" (PGN convention), not Python's "None".
  */
object Pgn {

  /** Column ↔ tag table, in block order. The last column, `moves`, is no
    * tag: it is the movetext after the block's empty line.
    */
  val tags: IndexedSeq[(String, String)] = IndexedSeq(
    "game_id" -> "Game ID", "white_name" -> "White", "black_name" -> "Black",
    "opening_eco" -> "Opening Eco", "opening_name" -> "Opening Name",
    "winner" -> "Game Winner")

  /** Columns of a block — [[PuzzleGame]]'s fields, in the same order. */
  val schema: StructType =
    StructType((tags.map(_._1) :+ "moves").map(StructField(_, StringType)))

  /** Appends game `n`'s block to `out`: the `[Game n]` line, one line per
    * tag, an empty line and the movetext, without a newline after it. A
    * block numbered n > 1 starts with the empty line that separates it
    * from game n-1, so a numbering's blocks joined by "\n" and ended by
    * "\n" are the golden layout. `field(i)` is column i of [[schema]],
    * null when unknown.
    */
  def appendBlock(out: Appendable, n: Long, field: Int => String): Unit = {
    def value(i: Int): String = { val v = field(i); if (v == null) "?" else v }
    if (n > 1) out.append('\n')
    out.append("[Game ").append(n.toString).append("]\n")
    for (i <- tags.indices)
      out.append('[').append(tags(i)._2).append(" \"").append(value(i)).append("\"]\n")
    out.append('\n').append(value(tags.length))
  }

  /** [[appendBlock]] of one game, as a string (a text sink's row). */
  def render(g: PuzzleGame, n: Long): String = {
    val sb = new java.lang.StringBuilder(256)
    appendBlock(sb, n, i => g.productElement(i) match {
      case Some(v: String) => v
      case v: String => v
      case _ => null
    })
    sb.toString
  }

  /** Deterministically numbered PGN blocks (sorted by game_id). The
    * global numbering needs a total order: zipWithIndex keeps it
    * distributed (two passes, no single-partition collapse). A text sink
    * writes one numbering cut into part files: concatenated in name
    * order, they are the golden layout.
    */
  def renderAll(games: Dataset[PuzzleGame]): Dataset[String] = {
    val spark = games.sparkSession
    import spark.implicits._
    val numbered = games.orderBy("game_id").rdd.zipWithIndex()
      .map { case (g, i) => render(g, i + 1) }
    spark.createDataset(numbered)
  }

  /** Write one .pgn-part per partition via the file committer (atomic,
    * idempotent under task retry — the R10 fix).
    */
  def write(games: Dataset[PuzzleGame], outDir: String): Unit =
    renderAll(games).write.mode("overwrite").text(outDir)

  /** The whole output as a single string (golden-file tests). */
  def renderToString(games: Dataset[PuzzleGame]): String =
    renderAll(games).collect().mkString("", "\n", "\n")
}
