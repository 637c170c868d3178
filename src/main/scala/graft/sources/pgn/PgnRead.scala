package graft.sources.pgn

import graft.sources.Pgn
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Read side of `format("pgn")` — parses the blocks every [[Pgn]] writer (and
  * the reference's `write_to_pgn`, `/root/reference/etl/transform.py:
  * 36-54`) emits back into rows, making PGN a full round-trip source.
  *
  * Splitting: files larger than `splitSize` (read option, default
  * 128 MB) are planned as byte-range partitions aligned to `[Game N]`
  * block boundaries with Hadoop text-split semantics — a block belongs
  * to the split where it STARTS; a reader scans past its range end to
  * finish a spanning block, and a reader whose range begins mid-block
  * skips forward to the first boundary. Small files stay one partition
  * each. Column pruning is pushed into the scan: projected schemas
  * materialize only the requested fields. `"?"` round-trips to NULL
  * (the PGN unknown-value convention the writer encodes — lossy only
  * for a literal "?" player name).
  */
object PgnParse {

  private val TagRe = """\[([A-Za-z ]+) "(.*)"\]""".r

  /** Column of each tag of [[Pgn.tags]]. */
  private val columnOf: Map[String, String] = Pgn.tags.map(_.swap).toMap

  /** Parse one file's text into field maps (column → value). */
  def parseBlocks(text: String): Seq[Map[String, String]] =
    text.split("(?m)(?=^\\[Game \\d+\\]$)").toIndexedSeq
      .filter(_.trim.nonEmpty)
      .map { block =>
        val lines = block.linesIterator.toVector
        val fields = lines.flatMap {
          case TagRe(k, v) => columnOf.get(k).map(_ -> v)
          case _ => None
        }.toMap
        val blank = lines.indexWhere(_.trim.isEmpty)
        val moves =
          if (blank >= 0) lines.drop(blank + 1).mkString("\n").trim else ""
        fields + (Pgn.schema.last.name -> moves)
      }

  private val GameBytes = "[Game ".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Byte-level twin of the parser's `^\[Game \d+\]$` boundary test:
    * does `b(i)` start a game-header LINE (`[Game <digits>]` then EOL or
    * EOF)? The digits-then-`]` check is what separates the block marker
    * from the `[Game ID "…"]` tag line two bytes later. ASCII-only
    * matching is multibyte-safe: every matched byte is < 0x80, so an
    * offset landing inside a UTF-8 sequence can never false-positive.
    */
  def isGameStart(b: Array[Byte], i: Int): Boolean = {
    if (i + GameBytes.length >= b.length) return false
    var j = 0
    while (j < GameBytes.length) {
      if (b(i + j) != GameBytes(j)) return false
      j += 1
    }
    var k = i + GameBytes.length
    var digits = 0
    while (k < b.length && b(k) >= '0' && b(k) <= '9') { digits += 1; k += 1 }
    digits > 0 && k < b.length && b(k) == ']' &&
      (k + 1 == b.length || b(k + 1) == '\n' || b(k + 1) == '\r')
  }
}

private[pgn] class PgnScanBuilder(path: String, splitSize: Long) extends ScanBuilder
    with SupportsPushDownRequiredColumns {
  private var required: StructType = Pgn.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new Scan {
    override def readSchema(): StructType = required
    override def toBatch: Batch = new PgnBatch(path, required, splitSize)
    override def description(): String =
      s"PgnScan(path=$path, columns=${required.fieldNames.mkString(",")})"
  }
}

private[pgn] case class PgnInputPartition(file: String, start: Long, end: Long)
  extends InputPartition

private[pgn] class PgnBatch(dir: String, required: StructType, splitSize: Long)
    extends Batch {
  /** The files Spark's own file index lists for `dir` — the committed
    * output of any writer: hidden and `_` files are skipped, and a
    * streaming sink's `_spark_metadata` log is followed. */
  override def planInputPartitions(): Array[InputPartition] =
    SparkSession.active.read.text(dir).inputFiles.sorted.flatMap { f =>
      val file = new org.apache.hadoop.fs.Path(f).toUri.getPath
      val size = java.nio.file.Files.size(java.nio.file.Paths.get(file))
      if (size <= splitSize) Seq(PgnInputPartition(file, 0L, size))
      else (0L until size by splitSize)
        .map(off => PgnInputPartition(file, off, math.min(off + splitSize, size)))
    }
  override def createReaderFactory(): PartitionReaderFactory =
    new PgnReaderFactory(required)
}

private[pgn] class PgnReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PgnInputPartition]
    new PgnReader(p.file, p.start, p.end, required)
  }
}

private[pgn] class PgnReader(file: String, start: Long, end: Long,
    required: StructType) extends PartitionReader[InternalRow] {
  private val fields = required.fieldNames
  private val blocks = PgnSplitReader.read(file, start, end).iterator
  private var current: InternalRow = _

  override def next(): Boolean =
    if (!blocks.hasNext) false
    else {
      val block = blocks.next()
      val row = new GenericInternalRow(fields.length)
      var i = 0
      while (i < fields.length) {
        val v = block.getOrElse(fields(i), "?")
        row.update(i, if (v == "?" || v == "None") null else UTF8String.fromString(v))
        i += 1
      }
      current = row
      true
    }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** Range-aware block extraction shared by every PGN partition reader.
  * Memory stays bounded by the split size plus the tail of one spanning
  * block (game blocks are KB-scale), never the whole file.
  */
private[pgn] object PgnSplitReader {
  private val Chunk = 1 << 20

  def read(file: String, start: Long, end: Long): Seq[Map[String, String]] = {
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(file), java.nio.file.StandardOpenOption.READ)
    try {
      // var, not val: if the file is truncated after ch.size() is
      // sampled, a short read marks the new EOF here — otherwise the
      // cEnd loop below (whose only exit is `pos >= size`) would spin
      // on a position that can never advance.
      var size = ch.size()
      // Read from start-1 so a boundary at exactly `start` is visible as
      // preceded-by-'\n' (the previous split cuts at that same newline).
      val readFrom = if (start == 0L) 0L else start - 1
      val buf = new java.io.ByteArrayOutputStream(
        math.min(end - readFrom + Chunk, Int.MaxValue.toLong).toInt)
      var pos = readFrom
      def readUpTo(target: Long): Unit = {
        while (pos < target && pos < size) {
          val want = math.min(Chunk.toLong, math.min(target, size) - pos).toInt
          val bb = java.nio.ByteBuffer.allocate(want)
          val n = ch.read(bb, pos)
          if (n <= 0) { size = pos; return } // concurrent truncation: treat as EOF
          buf.write(bb.array(), 0, n)
          pos += n
        }
      }
      // +64-byte lookahead pad past `end`: the boundary test for a
      // `[Game N]` line STARTING just before the range edge needs to see
      // the digits/`]`/EOL that may lie beyond it.
      readUpTo(end + 64)
      var bytes = buf.toByteArray
      val endOff = (end - readFrom).toInt

      def boundaryAt(b: Array[Byte], i: Int): Boolean =
        (i == 0 && start == 0L || i > 0 && b(i - 1) == '\n') &&
          PgnParse.isGameStart(b, i)

      // First block boundary STARTING in [start, end) — absent means
      // this whole range is interior to a block the previous split owns.
      var b0 = -1
      var i = if (start == 0L) 0 else 1
      while (b0 < 0 && i < math.min(endOff, bytes.length)) {
        if (boundaryAt(bytes, i)) b0 = i else i += 1
      }
      if (b0 < 0) return Seq.empty

      // Content end: first boundary at global position ≥ `end` (that
      // block belongs to the next split), extending the buffer past the
      // range as needed to finish the spanning block.
      val scanFloor = math.max(b0 + 1, endOff)
      var cEnd = -1
      var j = scanFloor
      while (cEnd < 0) {
        while (cEnd < 0 && j < bytes.length) {
          if (boundaryAt(bytes, j)) cEnd = j else j += 1
        }
        if (cEnd < 0) {
          if (pos >= size) cEnd = bytes.length
          else {
            // need more bytes: isGameStart also returns false near the
            // array edge, so re-scan from just before the old tail
            readUpTo(pos + Chunk)
            bytes = buf.toByteArray
            j = math.max(j - 32, scanFloor)
          }
        }
      }
      PgnParse.parseBlocks(new String(bytes, b0, cEnd - b0,
        java.nio.charset.StandardCharsets.UTF_8))
    } finally ch.close()
  }
}
