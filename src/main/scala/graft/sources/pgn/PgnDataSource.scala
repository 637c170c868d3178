package graft.sources.pgn

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util
import graft.sources.Pgn
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.v2.DataWritingSparkTask
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 `format("pgn")` (SURVEY §4.3's optional S7 ergonomics):
  * `puzzleGames.toDF.write.format("pgn").mode("overwrite").save(dir)`.
  *
  * Each task writes one standalone .pgn file through a temp-file +
  * commit-rename protocol (idempotent under task retry — the committer
  * discipline the reference's shared-append sink lacked, SURVEY §2A
  * R10). Through `format("pgn")`, game numbering restarts per file,
  * matching the reference's per-output-file `[Game N]` semantics without
  * its cross-partition interleaving race. `graft.sources.Pgn.write`
  * (`ChessPipeline.run`) drives the same writer and commit with each
  * part's start offset, so its parts carry one global numbering. Only
  * `overwrite` is supported: once every task has committed, the job
  * commit deletes everything else in the directory.
  */
class PgnDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pgn"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Pgn.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new PgnTable(properties.get("path"))
}

private[pgn] class PgnTable(path: String) extends Table
    with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  override def name(): String = s"pgn:$path"
  override def schema(): StructType = Pgn.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder =
    // files above splitSize are planned as boundary-aligned byte ranges
    // (PgnBatch.planInputPartitions); 128 MB default mirrors
    // spark.sql.files.maxPartitionBytes
    new PgnScanBuilder(path, options.getLong("splitSize", 128L << 20))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = {
        if (!overwrite) throw new UnsupportedOperationException(
          s"format(\"pgn\") writes only with mode(\"overwrite\"), not append: $path")
        new Write {
          override def toBatch: BatchWrite = new PgnBatchWrite(path, info.queryId(),
            Pgn.schema.fieldNames.map(info.schema().fieldIndex))
        }
      }
    }
}

/** One overwrite of `path`, and the factory of its part writers:
  * `ordinals(i)` is the input ordinal of column i of [[Pgn.schema]], and
  * partition p's games are numbered from `start(p) + 1`. */
private[sources] class PgnBatchWrite(path: String, writeId: String, ordinals: Array[Int],
    start: Int => Long = _ => 0L) extends BatchWrite with DataWriterFactory {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = this

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new PgnWriter(path, f"part-$partitionId%05d-$writeId.pgn", ordinals, taskId,
      start(partitionId))

  /** Writes partition p of `rows` as part p in one job, through Spark's
    * DSv2 task protocol, then commits; if the job fails, aborts the parts
    * already committed. */
  def write(rows: RDD[InternalRow]): Unit = {
    val messages = new Array[WriterCommitMessage](rows.getNumPartitions)
    try rows.sparkContext.runJob(rows, (ctx: TaskContext, it: Iterator[InternalRow]) =>
      DataWritingSparkTask.run(this, ctx, it, useCommitCoordinator(), Map.empty).writerCommitMessage,
      (p: Int, m: WriterCommitMessage) => messages(p) = m)
    catch { case t: Throwable => abort(messages); throw t }
    commit(messages)
  }

  /** Overwrite: the directory's other entries go only after every task of
    * this write has committed, so a failed write leaves them readable. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val parts = committed(messages).map(_.getFileName.toString).toSet
    val s = Files.list(Files.createDirectories(Paths.get(path)))
    try s.forEach { p =>
      if (!parts(p.getFileName.toString))
        org.apache.commons.io.FileUtils.forceDelete(p.toFile)
    } finally s.close()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    committed(messages).foreach(Files.deleteIfExists)

  private def committed(messages: Array[WriterCommitMessage]): Seq[Path] =
    messages.toSeq.collect { case PgnCommit(f) if f.nonEmpty => Paths.get(f) }
}

private[pgn] case class PgnCommit(file: String) extends WriterCommitMessage

/** Writes one part file, its games numbered from `start + 1`;
  * `ordinals(i)` is the input ordinal of column i of [[Pgn.schema]]. */
private[pgn] class PgnWriter(dir: String, name: String, ordinals: Array[Int],
    taskId: Long, start: Long) extends DataWriter[InternalRow] {

  private val tmp = Paths.get(dir, s".$name-$taskId.tmp")
  private val dst = Paths.get(dir, name)
  Files.createDirectories(tmp.getParent)
  private val out = Files.newBufferedWriter(tmp)
  private var n = start

  override def write(row: InternalRow): Unit = {
    n += 1
    Pgn.appendBlock(out, n, Pgn.field(row, ordinals))
    out.write('\n')
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    if (n == start) { Files.deleteIfExists(tmp); PgnCommit("") }
    else {
      Files.move(tmp, dst, StandardCopyOption.REPLACE_EXISTING)
      PgnCommit(dst.toString)
    }
  }

  override def abort(): Unit = { out.close(); Files.deleteIfExists(tmp) }
  override def close(): Unit = ()
}
