package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column support: image/audio/video as opaque `binary`
  * payloads plus a typed metadata struct, with partition-parallel
  * decode / feature-extract / resize / frame-sample stages.
  *
  * The actual media codecs are STUBBED (this container has no image or
  * audio libraries): [[decodeStub]] derives deterministic fake features
  * from the bytes. Everything Spark-side — schema, batch shape,
  * mapPartitions plumbing, partitioning — is real and tested, so a real
  * codec drops into [[decodeStub]] without touching the pipeline.
  */
object Multimodal extends Serializable {

  /** Canonical multimodal record schema. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType),
    StructField("media_type", StringType),
    StructField("meta", StructType(Seq(
      StructField("origin", StringType),
      StructField("n_bytes", LongType))))))

  /** Wrap any table with a binary column into media records. */
  def toMediaFrame(df: DataFrame, idCol: String, binCol: String,
      originCol: String, mediaType: String): DataFrame =
    df.select(
      col(idCol).cast(LongType).as("media_id"),
      col(binCol).as("payload"),
      lit(mediaType).as("media_type"),
      struct(
        col(originCol).as("origin"),
        octet_length(col(binCol)).cast(LongType).as("n_bytes")).as("meta"))

  /** STUB decode: a real implementation would decode image bytes to
    * (h, w, channels) and pixel stats. This deterministic fake derives
    * "dimensions" and a luminance-like mean from the payload bytes so
    * the downstream plumbing (schema, batching, partition parallelism)
    * is exercised honestly.
    */
  def decodeStub(payload: Array[Byte]): (Int, Int, Double) = {
    if (payload == null || payload.isEmpty) (0, 0, 0.0)
    else {
      val h = 1 + (math.abs(payload.head.toInt) % 64)
      val w = 1 + (payload.length % 1024)
      var sum = 0L
      var i = 0
      while (i < payload.length) { sum += (payload(i) & 0xff); i += 1 }
      (h, w, sum.toDouble / payload.length)
    }
  }

  /** Feature extraction over media records — one pass per partition,
    * constant memory, no driver involvement.
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("height", IntegerType),
      StructField("width", IntegerType),
      StructField("mean_intensity", DoubleType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media
      .select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val (h, w, m) = decodeStub(r.getAs[Array[Byte]]("payload"))
          Row(r.getLong(0), h, w, m)
        }
      }(enc)
  }

  /** "Resize" stage stub: truncate payloads to a byte budget (a real
    * impl re-encodes); demonstrates binary-in/binary-out partition maps.
    */
  def resizeStub(media: DataFrame, maxBytes: Int): DataFrame =
    media.withColumn(
      "payload",
      expr(s"CASE WHEN octet_length(payload) > $maxBytes " +
        s"THEN substring(payload, 1, $maxBytes) ELSE payload END"))

  /** Batched embedding stub — the Scala analog of a `mapInPandas`
    * inference stage: payloads are processed in FIXED-SIZE BATCHES per
    * partition (`grouped(batchSize)`), the shape a real vision/audio
    * model needs (one forward pass per batch, constant memory). The
    * stub "model" derives a deterministic dim-`dim` float vector from
    * a rolling byte hash; results are independent of batch size and
    * partitioning — asserted by spec — so a real model drops in
    * without touching the pipeline.
    */
  def batchedEmbedStub(media: DataFrame, dim: Int, batchSize: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType))))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media
      .select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // one "forward pass" per batch: embed every payload in it
          batch.map { r =>
            val p = r.getAs[Array[Byte]]("payload")
            val v = new Array[Float](dim)
            if (p != null) {
              var h = 1125899906842597L // large prime seed
              var i = 0
              while (i < p.length) {
                h = h * 31 + (p(i) & 0xff)
                v(math.floorMod(i, dim)) += ((h >>> 32).toInt % 1000) / 1000.0f
                i += 1
              }
            }
            Row(r.getLong(0), v.toSeq)
          }
        }
      }(enc)
  }

  // ------------------------------------------------------ header parsing

  /** REAL (non-stub) media header parsing: container-format sniffing and
    * dimension/audio-parameter extraction for PNG, JPEG and WAV are pure
    * byte arithmetic — no codec library — and are exactly what a
    * curation pipeline runs FIRST at 100 TB: filter by resolution /
    * sample rate / format from a few header bytes before paying any
    * full decode. Pixel/sample decode stays stubbed ([[decodeStub]]);
    * this stage is honest.
    *
    * Every accessor is bounds-checked; truncated or corrupt payloads
    * yield null fields, never exceptions (a 100 TB corpus WILL contain
    * garbage bytes).
    */
  final case class MediaHeader(
      format: String, // "png" | "jpeg" | "wav" | "unknown"
      width: Option[Int],
      height: Option[Int],
      sampleRate: Option[Int],
      channels: Option[Int])

  private def be16(p: Array[Byte], i: Int): Int =
    ((p(i) & 0xff) << 8) | (p(i + 1) & 0xff)
  private def be32(p: Array[Byte], i: Int): Int =
    ((p(i) & 0xff) << 24) | ((p(i + 1) & 0xff) << 16) |
      ((p(i + 2) & 0xff) << 8) | (p(i + 3) & 0xff)
  private def le16(p: Array[Byte], i: Int): Int =
    (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8)
  private def le32(p: Array[Byte], i: Int): Int =
    (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8) |
      ((p(i + 2) & 0xff) << 16) | ((p(i + 3) & 0xff) << 24)
  private def ascii(p: Array[Byte], i: Int, s: String): Boolean =
    i + s.length <= p.length &&
      (0 until s.length).forall(j => (p(i + j) & 0xff) == s.charAt(j))

  private val pngSig =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** PNG: 8-byte signature, then the IHDR chunk must come first —
    * width/height are the two big-endian ints at offsets 16/20.
    */
  private def parsePng(p: Array[Byte]): MediaHeader =
    if (p.length >= 24 && ascii(p, 12, "IHDR")) {
      val w = be32(p, 16); val h = be32(p, 20)
      if (w > 0 && h > 0) MediaHeader("png", Some(w), Some(h), None, None)
      else MediaHeader("png", None, None, None, None)
    } else MediaHeader("png", None, None, None, None)

  /** JPEG: walk the marker stream from SOI; any SOFn frame header
    * (0xC0-0xCF except the non-frame C4/C8/CC) carries height then width
    * as big-endian shorts after the 1-byte precision. Standalone markers
    * (RSTn, TEM) have no length field.
    */
  private def parseJpeg(p: Array[Byte]): MediaHeader = {
    var i = 2
    while (i + 1 < p.length) {
      if ((p(i) & 0xff) != 0xff) return MediaHeader("jpeg", None, None, None, None)
      var j = i
      while (j + 1 < p.length && (p(j + 1) & 0xff) == 0xff) j += 1
      val m = if (j + 1 < p.length) p(j + 1) & 0xff else 0
      if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
        if (j + 8 < p.length) {
          val h = be16(p, j + 5); val w = be16(p, j + 7)
          return if (w > 0 && h > 0)
            MediaHeader("jpeg", Some(w), Some(h), None, None)
          else MediaHeader("jpeg", None, None, None, None)
        } else return MediaHeader("jpeg", None, None, None, None)
      } else if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
        i = j + 2
      } else if (m == 0xd9) {
        return MediaHeader("jpeg", None, None, None, None)
      } else if (j + 3 < p.length) {
        i = j + 2 + be16(p, j + 2)
      } else return MediaHeader("jpeg", None, None, None, None)
    }
    MediaHeader("jpeg", None, None, None, None)
  }

  /** WAV: RIFF/WAVE container; walk chunks until `fmt ` (chunks are
    * even-padded), whose body holds channels (LE16 at +2) and sample
    * rate (LE32 at +4).
    */
  private def parseWav(p: Array[Byte]): MediaHeader = {
    var i = 12
    while (i + 8 <= p.length) {
      val size = le32(p, i + 4)
      if (size < 0) return MediaHeader("wav", None, None, None, None)
      if (ascii(p, i, "fmt ") && size >= 16 && i + 8 + 16 <= p.length) {
        val ch = le16(p, i + 10); val sr = le32(p, i + 12)
        return if (ch > 0 && sr > 0)
          MediaHeader("wav", None, None, Some(sr), Some(ch))
        else MediaHeader("wav", None, None, None, None)
      }
      i += 8 + size + (size & 1)
    }
    MediaHeader("wav", None, None, None, None)
  }

  /** MP4 / ISO-BMFF: a sequence of `[BE32 size]["type"]` boxes; video
    * dimensions live at moov → trak → tkhd, whose body ends with width
    * and height as 16.16 fixed-point BE32s (v0 body offsets 76/80, v1
    * — 64-bit times — 88/92). The first trak with nonzero dims wins
    * (audio traks carry 0×0). Boxes with size < 8 (0 = to-EOF, 1 =
    * 64-bit largesize) stop the walk — null fields, never a throw.
    */
  private def parseMp4(p: Array[Byte]): MediaHeader = {
    def findBox(from: Int, to: Int, typ: String): Option[(Int, Int)] = {
      var i = from
      while (i + 8 <= to) {
        val size = be32(p, i)
        if (size < 8) return None
        val end = i.toLong + size
        if (end > to) return None
        if (ascii(p, i + 4, typ)) return Some((i + 8, end.toInt))
        i = end.toInt
      }
      None
    }
    def tkhdDims(hs: Int, he: Int): Option[(Int, Int)] =
      if (hs >= he || hs >= p.length) None
      else {
        val off = hs + (if ((p(hs) & 0xff) == 1) 88 else 76)
        if (off + 8 <= he && off + 8 <= p.length) {
          val w = be32(p, off) >>> 16
          val h = be32(p, off + 4) >>> 16
          if (w > 0 && h > 0) Some((w, h)) else None
        } else None
      }
    val dims = findBox(0, p.length, "moov").flatMap { case (ms, me) =>
      var cur = ms
      var found: Option[(Int, Int)] = None
      while (found.isEmpty && cur < me) {
        findBox(cur, me, "trak") match {
          case None => cur = me
          case Some((ts, te)) =>
            found = findBox(ts, te, "tkhd").flatMap((tkhdDims _).tupled)
            cur = te
        }
      }
      found
    }
    dims match {
      case Some((w, h)) => MediaHeader("mp4", Some(w), Some(h), None, None)
      case None         => MediaHeader("mp4", None, None, None, None)
    }
  }

  /** WebP: RIFF/WEBP container; the first image chunk carries the
    * dimensions in one of three encodings — `VP8 ` (lossy: 3-byte frame
    * tag, 9D 01 2A sync, then 14-bit LE dims), `VP8L` (lossless: 0x2F
    * signature, then width−1 / height−1 as 14-bit fields of a LE32),
    * `VP8X` (extended: canvas width−1 / height−1 as LE24s at payload
    * offsets 4/7).
    */
  private def parseWebp(p: Array[Byte]): MediaHeader = {
    def le24(i: Int): Int =
      (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8) | ((p(i + 2) & 0xff) << 16)
    val none = MediaHeader("webp", None, None, None, None)
    var i = 12
    while (i + 8 <= p.length) {
      val size = le32(p, i + 4)
      if (size < 0) return none
      val body = i + 8
      if (ascii(p, i, "VP8 ")) {
        return if (body + 10 <= p.length &&
          (p(body + 3) & 0xff) == 0x9d && (p(body + 4) & 0xff) == 0x01 &&
          (p(body + 5) & 0xff) == 0x2a) {
          val w = le16(p, body + 6) & 0x3fff
          val h = le16(p, body + 8) & 0x3fff
          if (w > 0 && h > 0) MediaHeader("webp", Some(w), Some(h), None, None)
          else none
        } else none
      } else if (ascii(p, i, "VP8L")) {
        return if (body + 5 <= p.length && (p(body) & 0xff) == 0x2f) {
          val bits = le32(p, body + 1)
          val w = (bits & 0x3fff) + 1
          val h = ((bits >>> 14) & 0x3fff) + 1
          MediaHeader("webp", Some(w), Some(h), None, None)
        } else none
      } else if (ascii(p, i, "VP8X")) {
        return if (body + 10 <= p.length) {
          MediaHeader("webp",
            Some(le24(body + 4) + 1), Some(le24(body + 7) + 1), None, None)
        } else none
      }
      i = body + size + (size & 1)
    }
    none
  }

  /** GIF: 6-byte version signature, then the logical screen descriptor's
    * little-endian width/height shorts at offsets 6/8.
    */
  private def parseGif(p: Array[Byte]): MediaHeader =
    if (p.length >= 10) {
      val w = le16(p, 6); val h = le16(p, 8)
      if (w > 0 && h > 0) MediaHeader("gif", Some(w), Some(h), None, None)
      else MediaHeader("gif", None, None, None, None)
    } else MediaHeader("gif", None, None, None, None)

  /** Sniff the container by magic bytes (each magic needs only its own
    * length: 8 for PNG, 2 for JPEG, 6 for GIF, 12 for RIFF/WAVE and
    * RIFF/WEBP, 8+ for ISO-BMFF's `ftyp`) and parse its header.
    */
  def parseHeader(p: Array[Byte]): MediaHeader =
    if (p == null || p.length < 2) MediaHeader("unknown", None, None, None, None)
    else if (p.length >= 8 && (0 until 8).forall(j => p(j) == pngSig(j)))
      parsePng(p)
    else if ((p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8) parseJpeg(p)
    else if (ascii(p, 0, "GIF87a") || ascii(p, 0, "GIF89a")) parseGif(p)
    else if (p.length >= 12 && ascii(p, 0, "RIFF") && ascii(p, 8, "WAVE"))
      parseWav(p)
    else if (p.length >= 12 && ascii(p, 0, "RIFF") && ascii(p, 8, "WEBP"))
      parseWebp(p)
    else if (p.length >= 8 && ascii(p, 4, "ftyp")) parseMp4(p)
    else MediaHeader("unknown", None, None, None, None)

  /** Header-parse stage over media records: one bounds-checked byte walk
    * per row, partition-parallel, no decode. Null-safe on any garbage.
    */
  def parseHeaders(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("channels", IntegerType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media
      .select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val h = parseHeader(r.getAs[Array[Byte]]("payload"))
          Row(r.getLong(0), h.format,
            h.width.map(Int.box).orNull, h.height.map(Int.box).orNull,
            h.sampleRate.map(Int.box).orNull, h.channels.map(Int.box).orNull)
        }
      }(enc)
  }

  // ----------------------------------------------------- header builders

  /** Minimal VALID PNG (signature + IHDR + IEND; CRCs zeroed — every
    * header-level parser including [[parsePng]] reads dims without
    * checksumming). Builders exist so specs and the differential oracle
    * query can synthesize real container bytes deterministically.
    */
  def buildPng(width: Int, height: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(8 + 25 + 12)
    b.put(pngSig)
    b.putInt(13).put("IHDR".getBytes("US-ASCII"))
    b.putInt(width).putInt(height)
    b.put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    b.putInt(0) // IHDR CRC (zeroed)
    b.putInt(0).put("IEND".getBytes("US-ASCII")).putInt(0)
    b.array()
  }

  /** Minimal VALID JPEG: SOI, one SOF0 frame header (8-bit precision,
    * 3 components), EOI.
    */
  def buildJpeg(width: Int, height: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(2 + 19 + 2)
    b.put(0xff.toByte).put(0xd8.toByte)
    b.put(0xff.toByte).put(0xc0.toByte).putShort(17.toShort)
    b.put(8.toByte)
    b.putShort(height.toShort).putShort(width.toShort)
    b.put(3.toByte)
    for (c <- 1 to 3) { b.put(c.toByte).put(0x11.toByte).put(0.toByte) }
    b.put(0xff.toByte).put(0xd9.toByte)
    b.array()
  }

  /** Minimal VALID GIF89a: signature + logical screen descriptor +
    * trailer (no global color table, no image data — header-complete).
    */
  def buildGif(width: Int, height: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer
      .allocate(14).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("GIF89a".getBytes("US-ASCII"))
    b.putShort(width.toShort).putShort(height.toShort)
    b.put(0.toByte).put(0.toByte).put(0.toByte)
    b.put(0x3b.toByte)
    b.array()
  }

  /** Minimal VALID WAV: RIFF/WAVE with a 16-byte PCM `fmt ` chunk and an
    * empty `data` chunk.
    */
  def buildWav(sampleRate: Int, channels: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer
      .allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val blockAlign = channels * 2
    b.put("RIFF".getBytes("US-ASCII")).putInt(36)
    b.put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
    b.putShort(1.toShort).putShort(channels.toShort)
    b.putInt(sampleRate).putInt(sampleRate * blockAlign)
    b.putShort(blockAlign.toShort).putShort(16.toShort)
    b.put("data".getBytes("US-ASCII")).putInt(0)
    b.array()
  }

  /** Minimal VALID MP4 (ISO-BMFF): `ftyp` box + `moov`/`trak`/`tkhd`
    * with a version-0 track header carrying the 16.16 fixed-point
    * dimensions (unity matrix, zeroed times — header-complete, no
    * media data, like every builder here).
    */
  def buildMp4(width: Int, height: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(16 + 8 + 8 + 92)
    b.putInt(16).put("ftyp".getBytes("US-ASCII"))
      .put("isom".getBytes("US-ASCII")).putInt(0)
    b.putInt(8 + 8 + 92).put("moov".getBytes("US-ASCII"))
    b.putInt(8 + 92).put("trak".getBytes("US-ASCII"))
    b.putInt(92).put("tkhd".getBytes("US-ASCII"))
    b.putInt(0) // version 0 + flags
    b.putInt(0).putInt(0) // creation_time, modification_time
    b.putInt(1) // track_ID
    b.putInt(0) // reserved
    b.putInt(0) // duration
    b.putLong(0L) // reserved[2]
    b.putShort(0).putShort(0).putShort(0).putShort(0) // layer/alt/vol/res
    b.putInt(0x00010000).putInt(0).putInt(0) // unity matrix
    b.putInt(0).putInt(0x00010000).putInt(0)
    b.putInt(0).putInt(0).putInt(0x40000000)
    b.putInt(width << 16).putInt(height << 16)
    b.array()
  }

  /** Minimal VALID WebP, one builder per dimension encoding the parser
    * supports: lossy `VP8 ` (sync code + 14-bit LE dims), lossless
    * `VP8L` (0x2F + packed 14-bit fields), extended `VP8X` (LE24
    * canvas−1 fields). Dims must fit 14 bits for the first two.
    */
  def buildWebpLossy(width: Int, height: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer
      .allocate(12 + 8 + 10).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(4 + 8 + 10)
      .put("WEBP".getBytes("US-ASCII"))
    b.put("VP8 ".getBytes("US-ASCII")).putInt(10)
    b.put(0.toByte).put(0.toByte).put(0.toByte) // frame tag
    b.put(0x9d.toByte).put(0x01.toByte).put(0x2a.toByte) // sync code
    b.putShort((width & 0x3fff).toShort).putShort((height & 0x3fff).toShort)
    b.array()
  }

  def buildWebpLossless(width: Int, height: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer
      .allocate(12 + 8 + 5).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(4 + 8 + 5)
      .put("WEBP".getBytes("US-ASCII"))
    b.put("VP8L".getBytes("US-ASCII")).putInt(5)
    b.put(0x2f.toByte)
    b.putInt(((width - 1) & 0x3fff) | (((height - 1) & 0x3fff) << 14))
    b.array()
  }

  def buildWebpX(width: Int, height: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer
      .allocate(12 + 8 + 10).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(4 + 8 + 10)
      .put("WEBP".getBytes("US-ASCII"))
    b.put("VP8X".getBytes("US-ASCII")).putInt(10)
    b.putInt(0) // flags + reserved
    val w1 = width - 1; val h1 = height - 1
    b.put((w1 & 0xff).toByte).put(((w1 >> 8) & 0xff).toByte)
      .put(((w1 >> 16) & 0xff).toByte)
    b.put((h1 & 0xff).toByte).put(((h1 >> 8) & 0xff).toByte)
      .put(((h1 >> 16) & 0xff).toByte)
    b.array()
  }

  /** Frame-sample stub for "video": emit every k-th byte-window as a
    * frame row (a real impl samples decoded frames).
    */
  def frameSample(media: DataFrame, frameBytes: Int, everyK: Int): DataFrame =
    media
      .select(
        col("media_id"),
        posexplode(expr(
          s"""transform(
             |  sequence(0, greatest(CAST(octet_length(payload) / ($frameBytes * $everyK) AS INT) - 1, 0)),
             |  i -> substring(payload, i * $frameBytes * $everyK + 1, $frameBytes))
             |""".stripMargin)).as(Seq("frame_no", "frame_bytes")))
      .withColumn("frame_digest", md5(col("frame_bytes")))
}
