package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads are opaque
  * `binary` columns with typed metadata, processed batch-at-a-time
  * inside partitions. PNG payloads get a REAL header decode
  * ([[decodePng]]: signature, chunk walk, big-endian IHDR fields,
  * CRC-32 validation — the public PNG spec, no codec deps); payloads
  * in formats this container has no codec for fall back to a
  * clearly-marked deterministic stub. Everything Spark-side (schema,
  * partition-local batching, output shape, metadata propagation) is
  * real and tested either way.
  *
  * Scale design: payload bytes never pass through a shuffle — the
  * decode/featurize step is `mapPartitions` (narrow, no exchange), and
  * downstream joins/aggregations happen on the extracted fixed-size
  * features, not the blobs. Partition sizing is the reader's
  * `maxPartitionBytes` concern; rows stay self-contained.
  */
object MultimodalOps {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("byte_len", IntegerType, nullable = false),
      StructField("sha", StringType, nullable = false),
      StructField("mime", StringType, nullable = false))), nullable = false)))

  /** Wrap a text corpus as fake media rows: payload = UTF-8 bytes,
    * metadata derived with native expressions.
    */
  def asMedia(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol).as("media_id"),
      col(textCol).cast(BinaryType).as("payload"),
      struct(
        length(col(textCol).cast(BinaryType)).as("byte_len"),
        sha2(col(textCol).cast(BinaryType), 256).as("sha"),
        lit("application/octet-stream").as("mime")).as("meta"))

  /** Wrap a text corpus as genuine PNG-framed media rows: each payload
    * is a structurally valid PNG prefix — 8-byte signature, a full
    * IHDR chunk (big-endian length/type/data/CRC-32, width = text byte
    * length, height = doc_id mod 240 + 1, bit depth 8, color type 2) —
    * followed by an IDAT chunk carrying the UTF-8 text as its data.
    * Built entirely from native column expressions (`unhex(lpad(hex))`
    * for big-endian u32, `crc32` for the chunk checksum), so
    * construction stays in whole-stage codegen; [[decodePng]] must
    * round-trip every planted field, CRC included, for q60's oracle
    * hash to match.
    */
  def asPngMedia(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def be4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      unhex(lpad(hex(c), 8, "0"))
    val textBin = col(textCol).cast(BinaryType)
    val w = length(textBin)
    val h = (col(idCol) % 240 + 1).cast(IntegerType)
    val ihdrData = concat(be4(w), be4(h), lit(Array[Byte](8, 2, 0, 0, 0)))
    val ihdr = concat(be4(lit(13)), lit("IHDR".getBytes("US-ASCII")), ihdrData,
      be4(crc32(concat(lit("IHDR".getBytes("US-ASCII")), ihdrData))))
    val sig = lit(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    val payload = concat(sig, ihdr, be4(w), lit("IDAT".getBytes("US-ASCII")), textBin)
    docs.select(
      col(idCol).as("media_id"),
      payload.as("payload"),
      struct(
        length(payload).as("byte_len"),
        sha2(payload, 256).as("sha"),
        lit("image/png").as("mime")).as("meta"))
  }

  /** A parsed PNG IHDR. `crcOk` is the stored chunk CRC-32 checked
    * against one recomputed over the chunk type + data. */
  final case class PngHeader(
      width: Int, height: Int, bitDepth: Int, colorType: Int,
      nextChunkLen: Int, crcOk: Boolean)

  /** REAL PNG header decode (public spec, no codec deps): validate the
    * 8-byte signature, require the first chunk to be a 13-byte IHDR
    * (the spec mandates IHDR first), read the big-endian fields,
    * recompute the CRC-32 over type+data against the stored one, and
    * peek the following chunk's length (the chunk-walk step a
    * metadata scanner takes toward IDAT). Returns None for anything
    * that is not a well-formed PNG prefix.
    */
  def decodePng(p: Array[Byte]): Option[PngHeader] = {
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    if (p == null || p.length < 37) return None
    var i = 0
    while (i < 8) { if ((p(i) & 0xff) != sig(i)) return None; i += 1 }
    def be4(o: Int): Long =
      ((p(o) & 0xffL) << 24) | ((p(o + 1) & 0xffL) << 16) |
        ((p(o + 2) & 0xffL) << 8) | (p(o + 3) & 0xffL)
    if (be4(8) != 13L) return None
    if (p(12) != 'I' || p(13) != 'H' || p(14) != 'D' || p(15) != 'R') return None
    val crc = new java.util.zip.CRC32()
    crc.update(p, 12, 17) // chunk type + 13 data bytes
    Some(PngHeader(
      width = be4(16).toInt, height = be4(20).toInt,
      bitDepth = p(24) & 0xff, colorType = p(25) & 0xff,
      nextChunkLen = be4(33).toInt,
      crcOk = crc.getValue == be4(29)))
  }

  final case class MediaFeatures(media_id: Long, byte_len: Int, features: Array[Float])

  /** Feature extraction dispatcher: PNG payloads decode for real —
    * [width, height, bitDepth, colorType, pixel count, isPng = 1,
    * payload length, next-chunk (IDAT) length], every value derived
    * from parsed structure and exact in float32 at sane image sizes —
    * and a payload that fails the parse (or its CRC) falls back to
    * [[byteOctileFeatures]].
    */
  def decode(payload: Array[Byte]): Array[Float] =
    decodePng(payload) match {
      case Some(h) if h.crcOk => Array(
        h.width.toFloat, h.height.toFloat, h.bitDepth.toFloat, h.colorType.toFloat,
        (h.width.toLong * h.height).toFloat, 1f,
        payload.length.toFloat, h.nextChunkLen.toFloat)
      case _ => byteOctileFeatures(payload)
    }

  /** STUB fallback for media formats this container has no codec for —
    * a real deployment would hand these to an image/audio library in
    * the same partition-local tier. Deterministic fake: 8 features,
    * each the mean of one byte-range octile. Keeps the exact batch
    * shape (bytes in, fixed-size float vector out) a Pandas-UDF/
    * `mapInPandas` decode would have.
    */
  def byteOctileFeatures(payload: Array[Byte]): Array[Float] = {
    val dim = 8
    if (payload == null || payload.isEmpty) return Array.fill(dim)(0f)
    val out = new Array[Float](dim)
    val chunk = math.max(1, payload.length / dim)
    var j = 0
    while (j < dim) {
      val from = j * chunk
      val to = math.min(payload.length, from + chunk)
      var s = 0L; var i = from
      while (i < to) { s += payload(i) & 0xff; i += 1 }
      out(j) = if (to > from) s.toFloat / (to - from) else 0f
      j += 1
    }
    out
  }

  /** Partition-local featurize: the decode boundary runs once per
    * partition over an iterator of rows (batch shape), never on the
    * driver; output is a typed Dataset of fixed-size vectors.
    */
  def featurize(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("media_id"), col("payload"), col("meta.byte_len").as("byte_len"))
      .as[(Long, Array[Byte], Int)]
      .mapPartitions(_.map { case (id, payload, len) =>
        MediaFeatures(id, len, decode(payload))
      })
  }

  /** "Frame sampling": `n` evenly-spaced fixed-width byte slices of
    * the payload (the video-keyframe access pattern), as a pure
    * column expression over binary. Positions are explicit integer
    * arithmetic (floor division) so the q82 oracle mirrors them
    * exactly.
    */
  def frameSample(payload: org.apache.spark.sql.Column, n: Int, width: Int): org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(n - 1)), i => {
      val pos = floor((i * greatest(length(payload) - width, lit(1))) / n)
        .cast("int") + 1
      payload.substr(pos, lit(width))
    })
}
