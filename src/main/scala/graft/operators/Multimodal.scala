package graft.operators

import graft.{GraftQuery, QueryGroup, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns (NORTH-STAR): media as opaque `binary` columns with
  * typed metadata, plus a decode/feature-extract stage.
  *
  * No image/audio libraries exist in this container, so the DECODE step is
  * a clearly-marked deterministic stub ([[Multimodal.StubCodec]], one
  * implementation of the [[Multimodal.MediaCodec]] seam); everything
  * Spark-side — binary column handling, metadata struct schema, typed
  * Dataset + mapPartitions batch shape, partitioning — is real and tested
  * (MultimodalSpec).
  *
  * 100 TB notes: media payloads dominate bytes; keep them in their own
  * parquet column (columnar pruning skips them unless projected) and
  * partition by media type/date. The mapPartitions decode is the one
  * operator family where per-partition imperative code is justified
  * (SURVEY preference order (d)): codec calls are opaque to Catalyst.
  * Batch shape matters at scale: the iterator-in/iterator-out contract
  * below never materializes a partition in memory.
  */
object Multimodal extends QueryGroup {

  /** Typed row feeding the decode stage. */
  final case class MediaIn(doc_id: Long, mime: String, payload: Array[Byte])
  final case class MediaFeatures(
      doc_id: Long, mime: String, n_bytes: Int,
      b_low: Int, b_mid: Int, b_high: Int, checksum: Long)
  final case class Frame(doc_id: Long, frame_idx: Int, offset: Int, checksum: Long)
  final case class Resized(doc_id: Long, orig_bytes: Int, resized_bytes: Int,
      resized_checksum: Long)

  /** The CODEC SEAM (r8 verdict item 6): a real deployment implements
    * this against actual image/audio/video libraries (JNI codecs etc.)
    * and passes it to [[decodeFeatures]]/[[frameSample]]/[[resizeMedia]]
    * — the Spark-side plumbing (binary columns, typed Dataset batch
    * shape, iterator-in/iterator-out mapPartitions, partitioning) is
    * codec-agnostic and stays identical. Implementations must be
    * Serializable: the instance ships to executors inside the
    * mapPartitions closure. [[StubCodec]] is the deterministic in-repo
    * stand-in the oracled registry rows run (no media libraries exist in
    * this container). */
  trait MediaCodec extends Serializable {
    /** Whole-payload decode + feature extraction. */
    def decode(m: MediaIn): MediaFeatures
    /** Frame extraction (the video shape) — multi-row-per-input; must
      * stream (an Iterator, not a materialized Seq) so a long video
      * never lives in memory at once. */
    def frames(m: MediaIn): Iterator[Frame]
    /** Downsample/resize — binary-in/binary-out, summarized. */
    def resize(m: MediaIn): Resized
  }

  /** The stubbed codec: deterministic pseudo-features from the raw bytes
    * so tests and the DuckDB oracle can pin exact outputs. */
  object StubCodec extends MediaCodec {
    def decode(m: MediaIn): MediaFeatures = {
      val bytes = m.payload
      var low = 0; var mid = 0; var high = 0; var sum = 0L
      var i = 0
      while (i < bytes.length) {
        val b = bytes(i) & 0xff
        if (b < 85) low += 1 else if (b < 170) mid += 1 else high += 1
        sum = sum * 31 + b
        i += 1
      }
      MediaFeatures(m.doc_id, m.mime, bytes.length, low, mid, high, sum)
    }

    /** Fixed 64-byte "frames", every 4th kept. */
    def frames(m: MediaIn): Iterator[Frame] = {
      val frameSize = 64
      val stride = 4
      val nFrames = (m.payload.length + frameSize - 1) / frameSize
      (0 until nFrames by stride).iterator.map { i =>
        val off = i * frameSize
        val end = math.min(off + frameSize, m.payload.length)
        var sum = 0L
        var j = off
        while (j < end) { sum = sum * 31 + (m.payload(j) & 0xff); j += 1 }
        Frame(m.doc_id, i, off, sum)
      }
    }

    /** Deterministic 4:1 byte downsample. */
    def resize(m: MediaIn): Resized = {
      val resized = Array.range(0, m.payload.length, 4).map(m.payload(_))
      var sum = 0L
      resized.foreach(b => sum = sum * 31 + (b & 0xff))
      Resized(m.doc_id, m.payload.length, resized.length, sum)
    }
  }

  /** Decode/feature-extract `media` (doc_id, mime, payload) with `codec`
    * — iterator-in/iterator-out, never materializing a partition. */
  def decodeFeatures(media: DataFrame, codec: MediaCodec): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select("doc_id", "mime", "payload").as[MediaIn]
      .mapPartitions(_.map(codec.decode)).toDF()
  }

  /** Frame-sample `media` with `codec` — the flatMap multi-row shape. */
  def frameSample(media: DataFrame, codec: MediaCodec): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select("doc_id", "mime", "payload").as[MediaIn]
      .mapPartitions(_.flatMap(codec.frames)).toDF()
  }

  /** Resize `media` with `codec` — binary-in/binary-out, summarized. */
  def resizeMedia(media: DataFrame, codec: MediaCodec): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select("doc_id", "mime", "payload").as[MediaIn]
      .mapPartitions(_.map(codec.resize)).toDF()
  }

  /** Deterministic mime assignment standing in for a real media catalog. */
  private def mimeOf = when(col("doc_id") % 3 === 0, "image/jpeg")
    .when(col("doc_id") % 3 === 1, "audio/wav")
    .otherwise("video/mp4")

  /** The mm_* rows' media source: documents with the UTF-8 bytes of the
    * text as `payload` (the "media" stand-in). */
  private def payloadDocs(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).withColumn("payload", encode(col("text"), "UTF-8"))

  /** Oracle CTEs `h` and `b (doc_id, bytes)`: each document's UTF-8 byte
    * stream, parsed back from `hex(encode(text))`. */
  private val PayloadBytes = """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
      b AS (
        SELECT doc_id,
               [16 * (strpos('0123456789ABCDEF', hx[2*i-1]) - 1)
                  + (strpos('0123456789ABCDEF', hx[2*i]) - 1)
                FOR i IN range(1, len(hx) // 2 + 1)] AS bytes
        FROM h),"""

  /** Oracle column `chk_u`: the ×31 rolling checksum of byte list `bytes`
    * in HUGEINT arithmetic mod 2^64. */
  private def unsignedChecksum(bytes: String): String =
    s"""list_reduce(
                 list_prepend(CAST(0 AS HUGEINT),
                              list_transform($bytes, x -> CAST(x AS HUGEINT))),
                 (acc, x) -> (acc * 31 + x) % 18446744073709551616) AS chk_u"""

  /** Oracle column `alias`: `chk_u` mapped back to the signed Long the
    * codec emits. */
  private def signedChecksum(alias: String): String =
    s"""CAST(CASE WHEN chk_u >= 9223372036854775808
                       THEN chk_u - 18446744073709551616 ELSE chk_u END AS BIGINT)
               AS $alias"""

  /** Binary payload + metadata struct assembly and projection; payload is
    * the UTF-8 bytes of the text (the "media" stand-in). Oracle checks the
    * byte lengths and mime routing. */
  private val mmBinaryMeta = GraftQuery(
    "mm_binary_meta",
    (s, dir) =>
      payloadDocs(s, dir)
        .withColumn("media", struct(
          mimeOf.as("mime"),
          length(col("payload")).as("n_bytes"),
          col("source").as("origin")))
        .select(
          col("doc_id"),
          col("media.mime").as("mime"),
          col("media.n_bytes").as("n_bytes"),
          col("media.origin").as("origin"))
        .orderBy(col("doc_id").asc_nulls_first),
    Some("""
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'image/jpeg'
                  WHEN doc_id % 3 = 1 THEN 'audio/wav'
                  ELSE 'video/mp4' END AS mime,
             CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
             source AS origin
      FROM documents
      ORDER BY doc_id ASC NULLS FIRST"""))

  /** Decode/feature-extract over binary payloads via typed mapPartitions —
    * the real batch plumbing around the stubbed codec. Deterministic, and
    * since r6 DuckDB-oracled: the oracle re-derives the UTF-8 byte stream
    * by parsing hex(encode(text)), recounts the byte-range histogram, and
    * replays the wrapping ×31 checksum in HUGEINT arithmetic mod 2^64
    * (mapped back to the signed Long). MultimodalSpec keeps the exact
    * output pins. */
  private val mmDecodeFeatures = GraftQuery(
    "mm_decode_features",
    (s, dir) =>
      decodeFeatures(
        payloadDocs(s, dir).withColumn("mime", mimeOf),
        StubCodec)
        .orderBy(col("doc_id").asc_nulls_first),
    Some(s"""
      $PayloadBytes
      f AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image/jpeg'
                    WHEN doc_id % 3 = 1 THEN 'audio/wav'
                    ELSE 'video/mp4' END AS mime,
               CAST(len(bytes) AS INTEGER) AS n_bytes,
               CAST(len(list_filter(bytes, x -> x < 85)) AS INTEGER) AS b_low,
               CAST(len(list_filter(bytes, x -> x >= 85 AND x < 170)) AS INTEGER) AS b_mid,
               CAST(len(list_filter(bytes, x -> x >= 170)) AS INTEGER) AS b_high,
               ${unsignedChecksum("bytes")}
        FROM b)
      SELECT doc_id, mime, n_bytes, b_low, b_mid, b_high,
             ${signedChecksum("checksum")}
      FROM f
      ORDER BY doc_id ASC NULLS FIRST"""))

  /** Frame sampling: split each payload into fixed 64-byte "frames", keep
    * every 4th (the video frame-sample shape: decode is stubbed, the
    * multi-row-per-input batch plumbing — flatMap via mapPartitions — is
    * real). Deterministic; pinned in MultimodalSpec. */
  private val mmFrameSample = GraftQuery(
    "mm_frame_sample",
    (s, dir) =>
      frameSample(
        payloadDocs(s, dir).withColumn("mime", mimeOf),
        StubCodec)
        .orderBy(col("doc_id").asc_nulls_first, col("frame_idx").asc_nulls_first),
    // Oracled (r6): same hex-parse byte stream + HUGEINT wrapping
    // checksum as mm_decode_features, per 64-byte frame at stride 4.
    Some(s"""
      $PayloadBytes
      n AS (SELECT doc_id, bytes,
                   CAST((len(bytes) + 63) // 64 AS INTEGER) AS nf
            FROM b),
      fr AS (
        SELECT n.doc_id, CAST(u.i AS INTEGER) AS frame_idx,
               CAST(u.i * 64 AS INTEGER) AS "offset",
               bytes[u.i * 64 + 1 : least(u.i * 64 + 64, len(bytes))] AS fb
        FROM n, UNNEST(range(0, n.nf, 4)) AS u(i))
      SELECT doc_id, frame_idx, "offset",
             ${signedChecksum("checksum")}
      FROM (
        SELECT doc_id, frame_idx, "offset",
               ${unsignedChecksum("fb")}
        FROM fr)
      ORDER BY doc_id ASC NULLS FIRST, frame_idx ASC NULLS FIRST"""))

  /** Resize stage (stubbed codec): deterministic 4:1 byte downsample of the
    * payload — a real resize would hand the bytes to an image library; the
    * binary-in/binary-out plumbing, sizes and checksums are what the
    * pipeline contracts on. */
  private val mmResize = GraftQuery(
    "mm_resize",
    (s, dir) =>
      resizeMedia(
        payloadDocs(s, dir).withColumn("mime", mimeOf),
        StubCodec)
        .orderBy(col("doc_id").asc_nulls_first),
    // Oracled (r6): the 4:1 downsample is an index-stepped comprehension
    // over the hex-parsed byte stream; checksum as in mm_decode_features.
    Some(s"""
      $PayloadBytes
      r AS (
        SELECT doc_id, CAST(len(bytes) AS INTEGER) AS orig_bytes,
               [bytes[i] FOR i IN range(1, len(bytes) + 1) IF (i - 1) % 4 = 0] AS rb
        FROM b)
      SELECT doc_id, orig_bytes,
             CAST(len(rb) AS INTEGER) AS resized_bytes,
             ${signedChecksum("resized_checksum")}
      FROM (
        SELECT doc_id, orig_bytes, rb,
               ${unsignedChecksum("rb")}
        FROM r)
      ORDER BY doc_id ASC NULLS FIRST"""))

  override def queries: Seq[GraftQuery] =
    Seq(mmBinaryMeta, mmDecodeFeatures, mmFrameSample, mmResize)
}
