package graft.sources.pgn

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.Arrays
import graft.sources.Pgn
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Read side of `format("pgn")` — parses the blocks every [[Pgn]] writer (and
  * the reference's `write_to_pgn`, `/root/reference/etl/transform.py:
  * 36-54`) emits back into rows, making PGN a full round-trip source.
  *
  * Splitting: files larger than `spark.sql.files.maxPartitionBytes` are
  * planned as byte ranges of that size, with Hadoop text-split semantics:
  * a block belongs to the range where its `[Game N]` line STARTS; a
  * reader reads past its range end to finish a spanning block, and a
  * reader whose range begins mid-block skips forward to the first
  * boundary. Smaller files stay one partition each. Column pruning is
  * pushed into the scan: projected schemas materialize only the requested
  * fields. `"?"` and `"None"` read as NULL (the PGN unknown-value
  * convention the writer encodes, and the reference's rendering of a
  * missing value — lossy only for a literal "?" or "None" player name).
  */
private[pgn] class PgnScanBuilder(path: String) extends ScanBuilder
    with SupportsPushDownRequiredColumns {
  private var required: StructType = Pgn.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new Scan {
    override def readSchema(): StructType = required
    override def toBatch: Batch = new PgnBatch(path, required)
    override def description(): String =
      s"PgnScan(path=$path, columns=${required.fieldNames.mkString(",")})"
  }
}

private[pgn] case class PgnInputPartition(file: String, start: Long, end: Long)
  extends InputPartition

/** One read of `dir`, and the factory of its partition readers. */
private[pgn] class PgnBatch(dir: String, required: StructType)
    extends Batch with PartitionReaderFactory {
  /** The files Spark's own file index lists for `dir` — the committed
    * output of any writer: hidden and `_` files are skipped, and a
    * streaming sink's `_spark_metadata` log is followed. */
  override def planInputPartitions(): Array[InputPartition] = {
    val split = SQLConf.get.filesMaxPartitionBytes
    SparkSession.active.read.text(dir).inputFiles.sorted.flatMap { f =>
      val file = new org.apache.hadoop.fs.Path(f).toUri.getPath
      val size = Files.size(Paths.get(file))
      if (size <= split) Seq(PgnInputPartition(file, 0L, size))
      else (0L until size by split)
        .map(off => PgnInputPartition(file, off, math.min(off + split, size)))
    }
  }
  override def createReaderFactory(): PartitionReaderFactory = this

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PgnInputPartition]
    new PgnReader(p.file, p.start, p.end, required)
  }
}

/** The blocks of `file` whose `[Game N]` line starts in `[start, end)`,
  * as rows of `required`, one block per `next()`. The file is read once,
  * line by line, through one 64 KB buffer: a task holds one block's
  * lines, never its split. Lines end at `\n`, and a `\r` before it is
  * dropped. In a block, a `[<Tag> "<value>"]` line of a [[Pgn.tags]] tag
  * sets its column; the movetext is every line after the first blank
  * one, trimmed.
  */
private[pgn] class PgnReader(file: String, start: Long, end: Long,
    required: StructType) extends PartitionReader[InternalRow] {
  private val names = required.fieldNames
  /** The tag of each required tag column, and the column's ordinal. */
  private val tags = Pgn.tags.collect {
    case (col, tag) if names.contains(col) => (tag.getBytes(US_ASCII), names.indexOf(col))
  }.toArray
  private val movesAt = names.indexOf(Pgn.schema.last.name)

  private val ch = FileChannel.open(Paths.get(file), StandardOpenOption.READ)
  private val buf = ByteBuffer.allocate(1 << 16).flip()
  /** File offset of `buf(0)`. */
  private var bufAt = math.max(start - 1, 0L)
  ch.position(bufAt)
  /** The current line, `line(0 until len)`, at file offset `lineAt`;
    * `len` is -1 at the end of the file. */
  private var line = new Array[Byte](256)
  private var len = 0
  private var lineAt = 0L
  private var moves = new Array[Byte](256)
  private var current: GenericInternalRow = _

  // From start - 1, the first line is partial (or the empty end of the
  // previous split's last line), so a boundary at `start` is seen whole.
  if (start > 0) readLine()
  readLine()

  /** Refills the spent buffer; false at the end of the file. */
  private def fill(): Boolean = {
    bufAt += buf.limit()
    val n = ch.read(buf.clear())
    buf.flip()
    n > 0
  }

  private def readLine(): Unit = {
    lineAt = bufAt + buf.position()
    len = 0
    var eol = false
    while (!eol && (buf.hasRemaining || fill())) {
      val from = buf.position()
      var i = from
      while (i < buf.limit() && buf.get(i) != '\n') i += 1
      line = fit(line, len + i - from)
      buf.get(line, len, i - from)
      len += i - from
      eol = buf.hasRemaining
      if (eol) buf.get()
    }
    if (!eol && len == 0) len = -1
    else if (len > 0 && line(len - 1) == '\r') len -= 1
  }

  private def fit(a: Array[Byte], n: Int): Array[Byte] =
    if (n <= a.length) a else Arrays.copyOf(a, math.max(2 * a.length, n))

  private def blank: Boolean = {
    var i = 0
    while (i < len && PgnReader.space(line(i))) i += 1
    i == len
  }

  /** The line is `[Game <digits>]` (a lone `\r` may follow). */
  private def gameStart: Boolean = {
    var k = PgnReader.Game.length
    if (len <= k || !Arrays.equals(line, 0, k, PgnReader.Game, 0, k)) return false
    while (k < len && line(k) >= '0' && line(k) <= '9') k += 1
    k > PgnReader.Game.length && k < len && line(k) == ']' &&
      (k + 1 == len || line(k + 1) == '\r')
  }

  /** If the line is `[<Tag> "<value>"]`, the tag letters and spaces, of a
    * required tag column, sets that column of the current row. */
  private def tag(): Unit =
    if (len >= 6 && line(0) == '[' && line(len - 2) == '"' && line(len - 1) == ']') {
      var q = 1
      while (q < len && PgnReader.tagChar(line(q))) q += 1
      if (q >= 3 && q < len - 2 && line(q) == '"' && line(q - 1) == ' ') {
        var t = 0
        while (t < tags.length && !Arrays.equals(line, 1, q - 1, tags(t)._1, 0, tags(t)._1.length))
          t += 1
        if (t < tags.length) current.update(tags(t)._2, PgnReader.value(line, q + 1, len - 2))
      }
    }

  override def next(): Boolean = {
    while (len >= 0 && lineAt < end && !gameStart) readLine()
    if (len < 0 || lineAt >= end) return false
    current = new GenericInternalRow(names.length)
    var n = -1 // bytes of movetext, -1 before the first blank line
    readLine()
    while (len >= 0 && !gameStart) {
      tag()
      if (n < 0) { if (blank) n = 0 }
      else if (movesAt >= 0) {
        moves = fit(moves, n + len + 1)
        System.arraycopy(line, 0, moves, n, len)
        moves(n + len) = '\n'
        n += len + 1
      }
      readLine()
    }
    if (movesAt >= 0) {
      var a = 0
      var b = math.max(n, 0)
      while (a < b && PgnReader.space(moves(a))) a += 1
      while (b > a && PgnReader.space(moves(b - 1))) b -= 1
      current.update(movesAt, PgnReader.value(moves, a, b))
    }
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = ch.close()
}

private object PgnReader {
  val Game: Array[Byte] = "[Game ".getBytes(US_ASCII)
  private val NoneText = "None".getBytes(US_ASCII)

  /** `String.trim`'s whitespace; UTF-8 multibyte bytes are negative. */
  def space(b: Byte): Boolean = b >= 0 && b <= ' '

  def tagChar(b: Byte): Boolean = b == ' ' || b >= 'A' && b <= 'Z' || b >= 'a' && b <= 'z'

  /** `b(from until to)` as a string, NULL for an unknown value. */
  def value(b: Array[Byte], from: Int, to: Int): UTF8String =
    if (to - from == 1 && b(from) == '?' || Arrays.equals(b, from, to, NoneText, 0, 4)) null
    else UTF8String.fromBytes(Arrays.copyOfRange(b, from, to))
}
