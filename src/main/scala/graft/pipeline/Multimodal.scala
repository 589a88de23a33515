package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / resize / frame-sample
  * stages as partition-local transforms.
  *
  * The codec work is behind [[MediaDecoder]]. The default [[HeaderDecoder]]
  * is REAL: it parses PNG/JPEG/GIF container headers (dimensions, depth,
  * channels) in pure JVM code. Pixel-level decode needs image libraries this
  * container lacks, so [[StubDecoder]] remains as the documented deterministic
  * fake for that layer; swapping in a JNI/FFmpeg/ImageIO decoder changes no
  * plan shape. The Spark-side contract — schema, batch shape, partition-local
  * execution, no shuffle — is real and tested either way.
  */
object Multimodal {

  /** Canonical media struct schema: binary payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("data", BinaryType),
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("n_frames", IntegerType)))

  val featureSchema: StructType = StructType(Seq(
    StructField("ok", BooleanType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("features", ArrayType(FloatType))))

  /** Decoder contract: bytes -> (ok, width, height, features). Implementations
    * must be Serializable (shipped to executors) and stateless or
    * thread-confined; one instance is created per partition.
    */
  trait MediaDecoder extends Serializable {
    def decode(bytes: Array[Byte], mime: String): (Boolean, Int, Int, Array[Float])
  }

  /** Deterministic fake decoder: derives dimensions and a `featureDim`-length
    * feature vector from a rolling hash of the payload. Real decode
    * (ImageIO/FFmpeg) drops in behind the same trait.
    */
  final class StubDecoder(featureDim: Int = 16) extends MediaDecoder {
    override def decode(bytes: Array[Byte], mime: String): (Boolean, Int, Int, Array[Float]) = {
      if (bytes == null || bytes.isEmpty) return (false, 0, 0, Array.empty)
      var h = 1125899906842597L
      var i = 0
      while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
      val w = 64 + math.abs(h % 1024).toInt
      val ht = 64 + math.abs((h >> 10) % 1024).toInt
      val feats = Array.tabulate(featureDim) { d =>
        val hd = h * (d * 2654435761L + 1)
        ((hd % 1000).toFloat / 1000.0f)
      }
      (true, w, ht, feats)
    }
  }

  /** Pure-JVM header decoder — the DEFAULT. Parses real container headers
    * with no image libraries: PNG IHDR (width, height, bit depth, color
    * type), JPEG SOF0/1/2 (dimensions, precision, components), GIF87a/89a
    * logical-screen dimensions. Features = [width, height, depth, channels]
    * so downstream feature plumbing (similarity, quality filters on
    * resolution) runs on REAL metadata. Pixel decode / resampling remains a
    * plug-in ([[StubDecoder]] documents the fake; an ImageIO/FFmpeg decoder
    * drops in behind the same trait). Format detection is by magic bytes —
    * the mime string is advisory only.
    */
  final class HeaderDecoder extends MediaDecoder {
    override def decode(bytes: Array[Byte], mime: String): (Boolean, Int, Int, Array[Float]) = {
      if (bytes == null || bytes.length < 10) return (false, 0, 0, Array.empty)
      def u8(i: Int): Int = bytes(i) & 0xFF
      def be32(i: Int): Int = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
      def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
      def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
      // PNG: signature, then the IHDR chunk is REQUIRED to be first
      if (bytes.length >= 33 &&
          u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' && u8(3) == 'G' &&
          u8(4) == 0x0D && u8(5) == 0x0A && u8(6) == 0x1A && u8(7) == 0x0A &&
          bytes(12) == 'I' && bytes(13) == 'H' && bytes(14) == 'D' && bytes(15) == 'R') {
        val w = be32(16); val h = be32(20)
        val bitDepth = u8(24); val colorType = u8(25)
        val channels = colorType match {
          case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4; case _ => 0
        }
        if (w <= 0 || h <= 0) return (false, 0, 0, Array.empty)
        return (true, w, h, Array(w.toFloat, h.toFloat, bitDepth.toFloat, channels.toFloat))
      }
      // JPEG: FF D8, then marker segments until a start-of-frame
      if (u8(0) == 0xFF && u8(1) == 0xD8) {
        var i = 2
        while (i + 3 < bytes.length) {
          if (u8(i) != 0xFF) return (false, 0, 0, Array.empty)
          val marker = u8(i + 1)
          if (marker == 0xFF) { i += 1 } // fill byte
          else if ((marker >= 0xD0 && marker <= 0xD9) || marker == 0x01) { i += 2 } // standalone
          else {
            val len = be16(i + 2)
            if (len < 2 || i + 2 + len > bytes.length) return (false, 0, 0, Array.empty)
            // SOF0 (baseline) / SOF1 (extended) / SOF2 (progressive).
            // The segment-length guard above only proves len bytes exist; the
            // SOF reads below need the 8-byte fixed prefix (precision, dims,
            // component count) — a truncated SOF (len < 8) is malformed.
            if (marker == 0xC0 || marker == 0xC1 || marker == 0xC2) {
              if (len < 8 || i + 10 > bytes.length) return (false, 0, 0, Array.empty)
              val precision = u8(i + 4)
              val h = be16(i + 5); val w = be16(i + 7)
              val components = u8(i + 9)
              if (w <= 0 || h <= 0) return (false, 0, 0, Array.empty)
              return (true, w, h,
                Array(w.toFloat, h.toFloat, precision.toFloat, components.toFloat))
            }
            i += 2 + len
          }
        }
        return (false, 0, 0, Array.empty)
      }
      // GIF87a / GIF89a: 6-byte signature then LE16 width, height
      if (bytes.length >= 10 && bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F' &&
          bytes(3) == '8' && (bytes(4) == '7' || bytes(4) == '9') && bytes(5) == 'a') {
        val w = le16(6); val h = le16(8)
        if (w <= 0 || h <= 0) return (false, 0, 0, Array.empty)
        return (true, w, h, Array(w.toFloat, h.toFloat, 8f, 3f))
      }
      (false, 0, 0, Array.empty)
    }
  }

  /** Schema of [[probeMedia]]'s output struct: container-level metadata for
    * image AND audio/video payloads. Image formats fill width/height;
    * audio/video fill duration_ms (+ n_frames for WAV sample frames); fields
    * a format does not carry are null.
    */
  val probeSchema: StructType = StructType(Seq(
    StructField("ok", BooleanType),
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("n_frames", IntegerType)))

  /** Probe result: None fields = the container does not carry that metadata. */
  final case class MediaInfo(ok: Boolean, format: String,
                             width: Option[Int] = None, height: Option[Int] = None,
                             durationMs: Option[Long] = None, nFrames: Option[Int] = None)

  /** Pure-JVM container metadata prober. Images delegate to [[HeaderDecoder]]
    * (PNG IHDR / JPEG SOF / GIF screen descriptor); audio/video parse the
    * real container structure with no codec libraries:
    *
    *  - WAV/RIFF: `fmt ` chunk byte rate + block align, `data` chunk size →
    *    duration_ms = dataSize * 1000 / byteRate, n_frames = sample frames
    *    (dataSize / blockAlign).
    *  - MP4/ISO-BMFF (`ftyp` brand): walks top-level boxes to `moov`, then
    *    `mvhd` (v0 or v1) → duration_ms = duration * 1000 / timescale.
    *
    * Format detection is by magic bytes only; any parse error or truncated
    * structure yields ok=false (callers never see a throw).
    */
  object ContainerProbe extends Serializable {
    private val img = new HeaderDecoder
    private val bad = MediaInfo(ok = false, format = null)

    def probe(bytes: Array[Byte]): MediaInfo = {
      if (bytes == null || bytes.length < 12) return bad
      try {
        def u8(i: Int): Int = bytes(i) & 0xFF
        def ascii(i: Int, n: Int) = new String(bytes, i, n, "ISO-8859-1")
        if (u8(0) == 0x89 && u8(1) == 'P') probeImage(bytes, "png")
        else if (u8(0) == 0xFF && u8(1) == 0xD8) probeImage(bytes, "jpeg")
        else if (ascii(0, 3) == "GIF") probeImage(bytes, "gif")
        else if (ascii(0, 4) == "RIFF" && ascii(8, 4) == "WAVE") parseWav(bytes)
        else if (ascii(4, 4) == "ftyp") parseMp4(bytes)
        else bad
      } catch { case _: Throwable => bad }
    }

    private def probeImage(bytes: Array[Byte], format: String): MediaInfo = {
      val (ok, w, h, _) = img.decode(bytes, "")
      if (ok) MediaInfo(ok = true, format, width = Some(w), height = Some(h)) else bad
    }

    private def parseWav(b: Array[Byte]): MediaInfo = {
      def le32(i: Int): Long =
        ((b(i) & 0xFFL)) | ((b(i + 1) & 0xFFL) << 8) | ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)
      def le16(i: Int): Int = (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
      var i = 12
      var byteRate = 0L
      var blockAlign = 0
      var dataSize = -1L
      while (i + 8 <= b.length) {
        val id = new String(b, i, 4, "ISO-8859-1")
        val sz = le32(i + 4)
        if (sz > b.length) return bad // declared chunk larger than the payload
        if (id == "fmt " && i + 8 + 16 <= b.length) {
          byteRate = le32(i + 16)
          blockAlign = le16(i + 20)
        } else if (id == "data" && dataSize < 0) dataSize = sz
        i += 8 + sz.toInt + (sz.toInt & 1) // RIFF chunks are word-aligned
      }
      if (byteRate <= 0 || dataSize < 0) bad
      else MediaInfo(ok = true, "wav",
        durationMs = Some(dataSize * 1000L / byteRate),
        nFrames = if (blockAlign > 0) Some((dataSize / blockAlign).toInt) else None)
    }

    private def parseMp4(b: Array[Byte]): MediaInfo = {
      def be32(i: Int): Long =
        ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) | ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)
      def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
      // (payloadStart, boxEnd) of the first box of `tpe` in [start, end)
      def findBox(start: Int, end: Int, tpe: String): Option[(Int, Int)] = {
        var i = start
        while (i + 8 <= end) {
          var sz = be32(i)
          var hdr = 8
          if (sz == 1L && i + 16 <= end) { sz = be64(i + 8); hdr = 16 }
          else if (sz == 0L) sz = (end - i).toLong // box extends to end of file
          if (sz < hdr || i + sz > end) return None
          if (new String(b, i + 4, 4, "ISO-8859-1") == tpe) return Some((i + hdr, i + sz.toInt))
          i += sz.toInt
        }
        None
      }
      val mvhd = for {
        moov <- findBox(0, b.length, "moov")
        box <- findBox(moov._1, moov._2, "mvhd")
      } yield box
      mvhd match {
        case Some((hs, he)) =>
          val version = b(hs) & 0xFF
          if (version == 1 && hs + 32 <= he) {
            val timescale = be32(hs + 20)
            val duration = be64(hs + 24)
            if (timescale > 0) MediaInfo(ok = true, "mp4", durationMs = Some(duration * 1000L / timescale)) else bad
          } else if (version == 0 && hs + 20 <= he) {
            val timescale = be32(hs + 12)
            val duration = be32(hs + 16)
            if (timescale > 0) MediaInfo(ok = true, "mp4", durationMs = Some(duration * 1000L / timescale)) else bad
          } else bad
        case None => bad
      }
    }
  }

  /** Wrap raw binary + mime columns into the canonical media struct. */
  def asMedia(data: Column, mime: Column): Column =
    struct(data.as("data"), mime.as("mime"),
      lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
      lit(null).cast("long").as("duration_ms"), lit(null).cast("int").as("n_frames"))

  /** Decode/feature-extract stage: partition-local mapPartitions (the Scala
    * analogue of the reference's mapInPandas batch UDFs) — decoder instantiated
    * once per partition, rows streamed, no shuffle, schema appended as a
    * `featureSchema` struct column.
    */
  def extractFeatures(df: DataFrame, mediaCol: String,
                      decoder: MediaDecoder = new HeaderDecoder,
                      outCol: String = "media_features"): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+ StructField(outCol, featureSchema))
    val mediaIdx = inSchema.fieldIndex(mediaCol)
    val nFields = mediaSchema.length
    val rdd = df.queryExecution.toRdd.mapPartitions { iter =>
      // decoder is reused across the partition; rows copied out of the unsafe buffer
      iter.map { internal =>
        val row = internal.copy()
        val (ok, w, h, feats) =
          if (row.isNullAt(mediaIdx)) (false, 0, 0, Array.empty[Float])
          else {
            val media = row.getStruct(mediaIdx, nFields)
            if (media.isNullAt(0)) (false, 0, 0, Array.empty[Float])
            else try decoder.decode(media.getBinary(0),
              if (media.isNullAt(1)) "" else media.getUTF8String(1).toString)
            catch {
              // one corrupt payload must not fail the job: any decoder error
              // (bounds, codec, OOM-adjacent) degrades to ok=false for the row
              case _: Throwable => (false, 0, 0, Array.empty[Float])
            }
          }
        val featStruct = org.apache.spark.sql.catalyst.InternalRow(
          ok, w, h, org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(feats))
        new org.apache.spark.sql.catalyst.expressions.JoinedRow(
          row, org.apache.spark.sql.catalyst.InternalRow(featStruct))
          : org.apache.spark.sql.catalyst.InternalRow
      }
    }
    graftInternalCreate(spark, rdd, outSchema)
  }

  /** Container-metadata probe stage: like [[extractFeatures]] but emits the
    * [[probeSchema]] struct (format + width/height + duration_ms/n_frames)
    * so audio/video metadata is first-class, not dead schema. Partition-local
    * (`queryExecution.toRdd.mapPartitions`), no shuffle, parse errors degrade
    * to ok=false per row.
    */
  def probeMedia(df: DataFrame, mediaCol: String,
                 outCol: String = "media_info"): DataFrame = {
    val spark = df.sparkSession
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+ StructField(outCol, probeSchema))
    val mediaIdx = inSchema.fieldIndex(mediaCol)
    val nFields = mediaSchema.length
    val rdd = df.queryExecution.toRdd.mapPartitions { iter =>
      iter.map { internal =>
        val row = internal.copy()
        val info =
          if (row.isNullAt(mediaIdx)) ContainerProbe.probe(null)
          else {
            val media = row.getStruct(mediaIdx, nFields)
            if (media.isNullAt(0)) ContainerProbe.probe(null)
            else ContainerProbe.probe(media.getBinary(0))
          }
        val infoStruct = org.apache.spark.sql.catalyst.InternalRow(
          info.ok,
          if (info.format == null) null else org.apache.spark.unsafe.types.UTF8String.fromString(info.format),
          info.width.map(Int.box).orNull,
          info.height.map(Int.box).orNull,
          info.durationMs.map(Long.box).orNull,
          info.nFrames.map(Int.box).orNull)
        new org.apache.spark.sql.catalyst.expressions.JoinedRow(
          row, org.apache.spark.sql.catalyst.InternalRow(infoStruct))
          : org.apache.spark.sql.catalyst.InternalRow
      }
    }
    graftInternalCreate(spark, rdd, outSchema)
  }

  // bridge helpers implemented via GraftColumnBridge-style internal access
  private def graftInternalCreate(spark: org.apache.spark.sql.SparkSession,
                                  rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                                  schema: StructType): DataFrame =
    org.apache.spark.sql.GraftDatasetBridge.ofRows(spark, rdd, schema)
}
