package graft.operators

import graft.Tables
import graft.Tables.Q
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One media record: opaque payload + typed metadata (the multimodal
  * column pattern — image/audio/video travel as `binary` plus a struct).
  */
case class MediaRow(doc_id: Long, payload: Array[Byte], format: String,
    width: Int, height: Int)

/** Extracted features for a media record. */
case class MediaFeatures(doc_id: Long, byte_len: Int, first_byte: Int,
    last_byte: Int, checksum: Long)

/** Multimodal column handling (SURVEY.md §2B L8 + builder-prompt
  * multimodal inventory).
  *
  * The real content here is the Spark-side plumbing — schema (BinaryType
  * payload + metadata struct), partition-parallel batch iteration via
  * `mapPartitions` on a typed Dataset, and binary-safe round-trips. The
  * decode kernel itself is a clearly-marked deterministic STUB (this
  * container has no image/audio codecs): it derives features from the
  * raw bytes only, so the pipeline shape, encoders, and batch boundaries
  * are all real and testable.
  */
object Multimodal {

  /** Fixture adapter: documents.text bytes stand in for a media payload. */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      col("text").cast(BinaryType).as("payload"),
      struct(
        lit("fake/raw").as("format"),
        col("n_chars").cast(IntegerType).as("width"),
        lit(1).as("height")).as("meta"))

  /** STUB decode kernel — deterministic byte-level features in place of a
    * real image/audio decoder. Signature and batch shape (an Iterator per
    * partition, so codec state could be reused across a batch) mirror the
    * real thing; only the body is fake.
    */
  def decodeStub(rows: Iterator[MediaRow]): Iterator[MediaFeatures] =
    rows.map { r =>
      val n = r.payload.length
      MediaFeatures(
        doc_id = r.doc_id,
        byte_len = n,
        first_byte = if (n > 0) r.payload(0) & 0xff else -1,
        last_byte = if (n > 0) r.payload(n - 1) & 0xff else -1,
        checksum = r.payload.foldLeft(0L)((a, b) => (a * 131 + (b & 0xff)) % 1000000007L))
    }

  /** Typed decode pipeline: binary column → partition-batched stub decode. */
  def decodeFeatures(s: SparkSession, d: String): Dataset[MediaFeatures] = {
    import s.implicits._
    mediaTable(s, d)
      .select(col("doc_id"), col("payload"), col("meta.format").as("format"),
        col("meta.width").as("width"), col("meta.height").as("height"))
      .as[MediaRow]
      .mapPartitions(decodeStub)
  }

  /** STUB resize kernel: a real implementation would decode, scale to
    * `targetW`×`targetH`, and re-encode; the stub derives a deterministic
    * synthetic payload of the right conceptual shape (targetW*targetH
    * bytes, sampled cyclically from the source) so partitioning, schema,
    * and size accounting behave like the real thing.
    */
  def resizeStub(payload: Array[Byte], targetW: Int, targetH: Int): Array[Byte] = {
    val out = new Array[Byte](math.max(targetW * targetH, 0))
    var i = 0
    while (i < out.length) {
      out(i) = if (payload.nonEmpty) payload(i % payload.length) else 0
      i += 1
    }
    out
  }

  /** STUB frame sampler: a real implementation would demux a video and
    * decode every `stride`-th frame; the stub splits the payload into
    * fixed-size pseudo-frames and keeps every `stride`-th chunk.
    */
  def frameSampleStub(payload: Array[Byte], frameBytes: Int,
      stride: Int): Seq[Array[Byte]] =
    payload.grouped(math.max(frameBytes, 1)).grouped(math.max(stride, 1))
      .map(_.head).toSeq

  val queries: Map[String, Q] = Map(
    // L8: multimodal pass-through — binary payload survives projection,
    // repartition, and re-read untouched (checked via digest + length).
    "l8_multimodal_passthrough" -> ((s, d) => {
      mediaTable(s, d)
        .repartition(8, col("doc_id"))
        .select(col("doc_id"),
          length(col("payload")).as("byte_len"),
          md5(col("payload")).as("payload_md5"),
          col("meta.format").as("format"),
          col("meta.width").as("width"))
    }),

    // L8e: the binaryFile SOURCE — real multimodal lakes store one FILE
    // per asset (image/audio), not binary columns; Spark's built-in
    // binaryFile DSv2 source is how a 100 TB image corpus actually
    // enters the engine (path, length, content per file; partition-
    // parallel listing + read). The fixture materializes a doc subset
    // as .bin files from the EXECUTORS (foreachPartition — at cluster
    // scale the same code writes to shared storage through the Hadoop
    // FS API; local /tmp is the fixture stand-in), reads them back
    // through binaryFile, recovers the key from the PATH (the lake
    // convention: identity lives in the filename), and digest-checks
    // the payload against the source-of-truth table via the oracle.
    "l8e_multimodal_binaryfile" -> ((s, d) => {
      val dirStr = Tables.freshScratch("l8e_assets", d)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dirStr))
      mediaTable(s, d).filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), col("payload"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(dirStr, f"doc_${r.getLong(0)}%09d.bin"),
              r.getAs[Array[Byte]](1))
          }
        }
      s.read.format("binaryFile").load(dirStr)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
            .cast(LongType).as("doc_id"),
          col("length").as("byte_len"),
          md5(col("content")).as("payload_md5"))
    }),

    // L8b: stub decode features through the typed mapPartitions path.
    // The byte-derived features are mirrored exactly in the oracle SQL,
    // so even the stub is correctness-checked end to end.
    "l8b_multimodal_decode" -> ((s, d) => decodeFeatures(s, d).toDF()),

    // L8c: RESIZE through the typed partition-batched path — the stub
    // scales every payload to a fixed 16×8 "thumbnail" (128 bytes,
    // cyclically sampled); schema, batch iteration, and output size
    // accounting are the real pipeline, and the oracle reconstructs the
    // exact resized bytes so even the stub kernel is hash-checked.
    "l8c_multimodal_resize" -> ((s, d) => {
      import s.implicits._
      mediaTable(s, d)
        .select(col("doc_id"), col("payload"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"))
        .as[MediaRow]
        .mapPartitions(rows => rows.map(r => (r.doc_id, resizeStub(r.payload, 16, 8))))
        .toDF("doc_id", "resized")
        .select(col("doc_id"),
          length(col("resized")).as("out_len"),
          md5(col("resized")).as("out_md5"))
    }),

    // L8d: FRAME SAMPLING — the video-shaped op: split the payload into
    // fixed 32-byte pseudo-frames, keep every 3rd, account for kept
    // frames/bytes and hash the kept stream. Same typed mapPartitions
    // plumbing; oracle rebuilds the kept byte ranges with substring
    // arithmetic (ASCII corpus ⇒ chars ≡ bytes, the l10 precedent).
    "l8d_multimodal_framesample" -> ((s, d) => {
      import s.implicits._
      mediaTable(s, d)
        .select(col("doc_id"), col("payload"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"))
        .as[MediaRow]
        .mapPartitions(rows => rows.map { r =>
          val frames = frameSampleStub(r.payload, 32, 3)
          (r.doc_id, frames.length, frames.toArray.flatten)
        })
        .toDF("doc_id", "n_frames", "kept")
        .select(col("doc_id"), col("n_frames"),
          length(col("kept")).as("bytes_kept"),
          md5(col("kept")).as("kept_md5"))
    })
  )

  val oracles: Map[String, String] = Map(
    "l8_multimodal_passthrough" ->
      """SELECT doc_id,
        |  CAST(strlen(text) AS INT) AS byte_len,
        |  md5(text) AS payload_md5,
        |  'fake/raw' AS format,
        |  CAST(n_chars AS INT) AS width
        |FROM documents""".stripMargin,

    // l8e: the oracle recomputes digest/length from the source table for
    // the same subset — agreement proves the executor-side file writes,
    // the binaryFile read, and the path-derived keys are all lossless.
    "l8e_multimodal_binaryfile" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS byte_len,
        |  md5(text) AS payload_md5
        |FROM documents WHERE doc_id % 50 = 0""".stripMargin,

    "l8b_multimodal_decode" ->
      """SELECT doc_id,
        |  CAST(strlen(text) AS INT) AS byte_len,
        |  ascii(substring(text, 1, 1)) AS first_byte,
        |  ascii(substring(text, -1, 1)) AS last_byte,
        |  CAST(list_reduce(
        |    list_prepend(CAST(0 AS HUGEINT),
        |      list_transform(range(1, strlen(text) + 1),
        |        i -> CAST(ascii(substring(text, CAST(i AS INT), 1)) AS HUGEINT))),
        |    (a, b) -> (a * 131 + b) % 1000000007) AS BIGINT) AS checksum
        |FROM documents""".stripMargin,

    "l8c_multimodal_resize" ->
      """SELECT doc_id,
        |  CAST(128 AS INT) AS out_len,
        |  md5(array_to_string(
        |    list_transform(range(0, 128),
        |      i -> substring(text, CAST(i % strlen(text) AS INT) + 1, 1)),
        |    '')) AS out_md5
        |FROM documents""".stripMargin,

    "l8d_multimodal_framesample" ->
      """WITH m AS (
        |  SELECT doc_id, text, strlen(text) AS n FROM documents
        |), k AS (
        |  SELECT doc_id, CAST(ceil(ceil(n / 32.0) / 3.0) AS INT) AS n_frames,
        |    array_to_string(
        |      list_transform(range(0, CAST(ceil(ceil(n / 32.0) / 3.0) AS BIGINT)),
        |        f -> substring(text, CAST(f * 96 AS INT) + 1, 32)),
        |      '') AS kept
        |  FROM m
        |)
        |SELECT doc_id, n_frames,
        |  CAST(strlen(kept) AS INT) AS bytes_kept,
        |  md5(kept) AS kept_md5
        |FROM k""".stripMargin
  )
}
