package graft.sources

import graft.sources.pgn.PgnBatchWrite
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The PGN output format (SURVEY.md §2A R10, S7) — the reference's
  * `write_to_pgn` (its `etl/transform.py:36-54`). Every writer
  * (`renderAll`/`write`, `ChessPipeline.runStream`, the DSv2 `pgn` sink)
  * and the `format("pgn")` reader take the format from here: one
  * column ↔ tag table and one block renderer. Output goes through a
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

  /** Column i of [[schema]] in `row`, which holds it at `ordinals(i)`. */
  private[sources] def field(row: InternalRow, ordinals: Array[Int])(i: Int): String =
    if (row.isNullAt(ordinals(i))) null else row.getUTF8String(ordinals(i)).toString

  /** [[appendBlock]], as a string (a text sink's row). */
  private def block(n: Long, field: Int => String): String = {
    val sb = new java.lang.StringBuilder(256)
    appendBlock(sb, n, field)
    sb.toString
  }

  /** [[block]] of one game. */
  def render(g: PuzzleGame, n: Long): String = block(n, i => g.productElement(i) match {
    case Some(v: String) => v
    case v: String => v
    case _ => null
  })

  /** The global numbering (ascending game_id), kept distributed: `games`
    * range-partitioned as many ways as its scans have partitions (Spark's
    * `FilePartition` rule; at least one) and sorted within each. One job
    * counts each partition's games; `f` gets the sorted rows, each
    * partition's first game number minus one and the row ordinal of each
    * [[schema]] column. `f` must run over these rows, not a re-planned
    * sort: the range bounds come from a sample taken per execution.
    */
  private def numbered[T](games: Dataset[PuzzleGame])(
      f: (RDD[InternalRow], Array[Long], Array[Int]) => T): T = {
    val scans = games.queryExecution.sparkPlan.collectLeaves()
      .map(_.execute().getNumPartitions).sum
    val sorted = games.toDF().repartitionByRange(math.max(1, scans), col("game_id"))
      .sortWithinPartitions("game_id")
    val qe = sorted.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("pgn numbering")) {
      val rows = qe.toRdd
      val counts = rows.sparkContext.runJob(rows, (it: Iterator[InternalRow]) => it.size.toLong)
      f(rows, counts.scanLeft(0L)(_ + _), schema.fieldNames.map(sorted.schema.fieldIndex))
    }
  }

  /** Globally numbered PGN blocks, one per game, in game_id order. */
  def renderAll(games: Dataset[PuzzleGame]): Dataset[String] = {
    val spark = games.sparkSession
    import spark.implicits._
    numbered(games)((rows, starts, ordinals) =>
      spark.createDataset(rows.mapPartitionsWithIndex { (p, it) =>
        var n = starts(p)
        it.map { row => n += 1; block(n, field(row, ordinals)) }
      }))
  }

  /** Writes the global numbering as `part-NNNNN-<write id>.pgn` files, one
    * per non-empty range partition, through the `pgn` sink's writer and
    * overwrite commit: concatenated in name order, they are the golden
    * layout. A failed write leaves the directory's old entries.
    */
  def write(games: Dataset[PuzzleGame], outDir: String): Unit =
    numbered(games)((rows, starts, ordinals) => new PgnBatchWrite(outDir,
      java.util.UUID.randomUUID().toString, ordinals, starts(_)).write(rows))

  /** The whole output as a single string (golden-file tests). */
  def renderToString(games: Dataset[PuzzleGame]): String =
    renderAll(games).collect().mkString("", "\n", "\n")
}
