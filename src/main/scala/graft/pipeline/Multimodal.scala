package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed by batched per-partition functions (the
  * Scala analog of Pandas UDFs over mapInPandas).
  *
  * Decoding is REAL for the formats the stock JDK ships codecs for:
  * `ImageIO` (PNG/JPEG/GIF/BMP — width/height/bands) and
  * `javax.sound.sampled` (WAV/AU/AIFF — channels/duration). Formats the
  * JDK ships no codec for (webp, mp3, mp4 video) get a pure-JVM HEADER
  * parse — dims/channels/duration live in the container header and need
  * no pixel/sample codec (`decodeWebP`/`decodeMp3`/`decodeMp4`); a failed
  * header parse is a TYPED rejection (`unsupported:<fmt>`, -1 sentinel
  * dims), and full pixel/sample decode for them slots in behind the
  * `decodeTyped` seam via JNI/javacpp, executor-side. Unrecognized
  * payloads fall back to `decodeStub`'s deterministic fake metadata,
  * keeping the extraction total (a poison payload must not kill a 100 TB
  * job).
  *
  * Scale notes: binary payloads stay columnar in parquet; feature extraction
  * and image resize are narrow mapPartitions (no shuffle); never collect
  * payloads to the driver.
  */
object Multimodal {

  /** Media metadata: images fill width/height/channels, audio fills
    * channels/duration, the stub fills all four deterministically. */
  case class MediaMeta(width: Int, height: Int, nChannels: Int, durationMs: Long)

  /** STUB decoder: deterministic function of the payload bytes only —
    * the total fallback for bytes no JDK codec accepts. */
  def decodeStub(bytes: Array[Byte]): MediaMeta = {
    val n = bytes.length
    MediaMeta(
      width = 16 + (n % 64),
      height = 16 + ((n / 64) % 64),
      nChannels = 3,
      durationMs = n.toLong * 10)
  }

  /** Real image decode on the stock JDK (PNG/JPEG/GIF/BMP/WBMP): None when
    * no installed reader accepts the bytes. */
  def decodeImage(bytes: Array[Byte]): Option[MediaMeta] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else Some(MediaMeta(img.getWidth, img.getHeight,
        img.getRaster.getNumBands, 0L))
    } catch { case _: Exception => None }

  /** Real audio header decode on the stock JDK (WAV/AU/AIFF): duration from
    * frame count / frame rate without decoding samples. */
  def decodeAudio(bytes: Array[Byte]): Option[MediaMeta] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        val frames = in.getFrameLength
        val ms =
          if (fmt.getFrameRate > 0 && frames >= 0)
            (frames * 1000.0 / fmt.getFrameRate).toLong
          else 0L
        Some(MediaMeta(0, 0, fmt.getChannels, ms))
      } finally in.close()
    } catch { case _: Exception => None }

  /** Magic-byte format classification, including formats we RECOGNIZE but
    * the stock JDK cannot decode (webp, mp3, mp4/mov video): those must
    * surface as typed rejections, never as the stub's fake dimensions.
    * WebP is sniffed BEFORE the RIFF-audio family (it shares the RIFF
    * container magic). */
  def sniffFormat(b: Array[Byte]): String =
    if (b.length >= 12 &&
        b(0) == 'R'.toByte && b(1) == 'I'.toByte && b(2) == 'F'.toByte && b(3) == 'F'.toByte &&
        b(8) == 'W'.toByte && b(9) == 'E'.toByte && b(10) == 'B'.toByte && b(11) == 'P'.toByte)
      "webp"
    else if (b.length >= 3 &&
        b(0) == 'I'.toByte && b(1) == 'D'.toByte && b(2) == '3'.toByte)
      "mp3" // ID3v2-tagged stream
    else if (b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xe0) == 0xe0)
      "mp3" // bare MPEG audio sync frame
    else if (b.length >= 8 &&
        b(4) == 'f'.toByte && b(5) == 't'.toByte && b(6) == 'y'.toByte && b(7) == 'p'.toByte)
      "mp4" // ISO BMFF (mp4/mov/m4a) ftyp box
    else if (b.length >= 4 && (b(0) & 0xff) == 0x89 && b(1) == 'P'.toByte) "png"
    else if (b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) "jpeg"
    else if (b.length >= 4 && b(0) == 'G'.toByte && b(1) == 'I'.toByte && b(2) == 'F'.toByte) "gif"
    else if (b.length >= 4 && b(0) == 'B'.toByte && b(1) == 'M'.toByte) "bmp"
    else if (b.length >= 4 &&
        b(0) == 'R'.toByte && b(1) == 'I'.toByte && b(2) == 'F'.toByte && b(3) == 'F'.toByte)
      "wav"
    else if (b.length >= 4 &&
        b(0) == 'F'.toByte && b(1) == 'O'.toByte && b(2) == 'R'.toByte && b(3) == 'M'.toByte)
      "aiff"
    else if (b.length >= 4 &&
        b(0) == '.'.toByte && b(1) == 's'.toByte && b(2) == 'n'.toByte && b(3) == 'd'.toByte)
      "au"
    else "unknown"

  /** Sentinel meta for typed rejections: all dimensions -1, never the
    * stub's deterministic fakes — downstream filters can tell "we could
    * not decode this KNOWN format" from "opaque payload". */
  val UnsupportedMeta: MediaMeta = MediaMeta(-1, -1, -1, -1L)

  // ---- pure-JVM header-metadata parsers (no codec needed) ----
  // MediaMeta is METADATA (dims/channels/duration), and for webp/mp3/mp4
  // that lives in the container header — parseable without any pixel or
  // sample codec. Full decode (pixels, samples, frames) still sits behind
  // the JNI/javacpp seam; a failed header parse falls back to the typed
  // rejection, never the stub.

  /** WebP dims from the container header: VP8 (lossy) frame tag, VP8L
    * (lossless) 14-bit packed dims, VP8X (extended) 24-bit canvas. */
  def decodeWebP(b: Array[Byte]): Option[MediaMeta] = {
    if (b.length < 30) return None
    def u16(i: Int) = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    def u24(i: Int) = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16)
    new String(b, 12, 4, "ISO-8859-1") match {
      case "VP8 " => // lossy: 3-byte frame tag, then 9d 01 2a sync, dims u16le
        if ((b(23) & 0xff) == 0x9d && (b(24) & 0xff) == 0x01 && (b(25) & 0xff) == 0x2a)
          Some(MediaMeta(u16(26) & 0x3fff, u16(28) & 0x3fff, 3, 0L))
        else None
      case "VP8L" => // lossless: 0x2f signature, then width-1/height-1 as 14-bit LE fields
        if ((b(20) & 0xff) != 0x2f) None
        else {
          val v = (b(21) & 0xff) | ((b(22) & 0xff) << 8) |
            ((b(23) & 0xff) << 16) | ((b(24) & 0xff) << 24)
          Some(MediaMeta((v & 0x3fff) + 1, ((v >> 14) & 0x3fff) + 1, 4, 0L))
        }
      case "VP8X" => // extended: canvas dims as 24-bit LE minus one
        Some(MediaMeta(u24(24) + 1, u24(27) + 1, 4, 0L))
      case _ => None
    }
  }

  /** MP3 channels + CBR duration estimate from the first MPEG-1 Layer III
    * frame header (after an optional ID3v2 tag). VBR streams get the
    * first-frame bitrate extrapolated — a documented estimate, still real
    * header data, never fake dims. */
  def decodeMp3(b: Array[Byte]): Option[MediaMeta] = {
    var off = 0
    if (b.length >= 10 && b(0) == 'I'.toByte && b(1) == 'D'.toByte && b(2) == '3'.toByte) {
      val size = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
      off = 10 + size
    }
    if (off < 0 || off + 4 > b.length) return None
    val h1 = b(off + 1) & 0xff; val h2 = b(off + 2) & 0xff; val h3 = b(off + 3) & 0xff
    if ((b(off) & 0xff) != 0xff || (h1 & 0xe0) != 0xe0) return None
    if ((h1 & 0x18) != 0x18 || (h1 & 0x06) != 0x02) return None // MPEG-1 Layer III only
    val bitrates = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
    val rates = Array(44100, 48000, 32000, 0)
    val br = bitrates((h2 >> 4) & 0xf)
    if (br == 0 || rates((h2 >> 2) & 3) == 0) return None
    val channels = if (((h3 >> 6) & 3) == 3) 1 else 2
    Some(MediaMeta(0, 0, channels, (b.length - off).toLong * 8 / br))
  }

  /** MP4/ISO-BMFF duration (moov/mvhd) + first video track dims
    * (trak/tkhd, 16.16 fixed point), via a bounds-checked box walk. */
  def decodeMp4(b: Array[Byte]): Option[MediaMeta] = {
    def u32(i: Int): Long = ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
    def cc(i: Int) = new String(b, i, 4, "ISO-8859-1")
    // first box named `name` scanning [start, end): (contentStart, boxEnd)
    def findBox(start: Int, end: Int, name: String): Option[(Int, Int)] = {
      var off = start
      while (off + 8 <= end) {
        val size = u32(off)
        if (size < 8 || off + size > end) return None
        if (cc(off + 4) == name) return Some((off + 8, off + size.toInt))
        off += size.toInt
      }
      None
    }
    try {
      val (moovS, moovE) = findBox(0, b.length, "moov").getOrElse(return None)
      val (mvhdS, _) = findBox(moovS, moovE, "mvhd").getOrElse(return None)
      val ver = b(mvhdS) & 0xff
      val (timescale, duration) =
        if (ver == 1) (u32(mvhdS + 20), (u32(mvhdS + 24) << 32) | u32(mvhdS + 28))
        else (u32(mvhdS + 12), u32(mvhdS + 16))
      if (timescale == 0) return None
      var w = 0; var h = 0
      var from = moovS
      var more = true
      while (more && w == 0) {
        findBox(from, moovE, "trak") match {
          case Some((tS, tE)) =>
            findBox(tS, tE, "tkhd").foreach { case (kS, kE) =>
              val base = if ((b(kS) & 0xff) == 1) kS + 88 else kS + 76
              if (base + 8 <= kE) {
                val tw = (u32(base) >> 16).toInt
                val th = (u32(base + 4) >> 16).toInt
                if (tw > 0 && th > 0) { w = tw; h = th }
              }
            }
            from = tE // siblings are contiguous: next scan starts at this box's end
          case None => more = false
        }
      }
      Some(MediaMeta(w, h, if (w > 0) 3 else 0, duration * 1000 / timescale))
    } catch { case _: Exception => None }
  }

  /** Typed total decode: (status, meta) where status is
    *  - `ok:<fmt>`          — real decode succeeded (JDK codec for
    *                          images/audio; pure-JVM header-metadata
    *                          parse for webp/mp3/mp4);
    *  - `unsupported:<fmt>` — format recognized but its header would not
    *                          parse; meta is the -1 sentinel. Full
    *                          pixel/sample decode for these formats slots
    *                          in behind this seam via JNI/javacpp,
    *                          executor-side;
    *  - `badheader:<fmt>`   — magic bytes said JDK-decodable but the
    *                          parse failed (lying/truncated header); stub
    *                          meta keeps the extraction total;
    *  - `stub`              — unrecognized payload, deterministic stub. */
  def decodeTyped(bytes: Array[Byte]): (String, MediaMeta) = sniffFormat(bytes) match {
    case f @ ("png" | "jpeg" | "gif" | "bmp") =>
      decodeImage(bytes) match {
        case Some(m) => (s"ok:$f", m)
        case None => (s"badheader:$f", decodeStub(bytes))
      }
    case f @ ("wav" | "aiff" | "au") =>
      decodeAudio(bytes) match {
        case Some(m) => (s"ok:$f", m)
        case None => (s"badheader:$f", decodeStub(bytes))
      }
    case f @ ("webp" | "mp3" | "mp4") =>
      (f match {
        case "webp" => decodeWebP(bytes)
        case "mp3" => decodeMp3(bytes)
        case _ => decodeMp4(bytes)
      }) match {
        case Some(m) => (s"ok:$f", m)
        case None => (s"unsupported:$f", UnsupportedMeta)
      }
    case _ => ("stub", decodeStub(bytes))
  }

  /** Total decode: real image / real audio when the magic bytes say so
    * (then the real parse still falls back to the stub on a lying header),
    * typed -1 sentinel for recognized-but-undecodable formats, stub
    * otherwise — non-media payloads never pay a codec probe. */
  def decode(bytes: Array[Byte]): MediaMeta = decodeTyped(bytes)._2

  /** Deterministic synthetic PNG (really encoded — tests and benchmarks
    * exercise the full encode→decode loop through ImageIO). */
  def syntheticPng(width: Int, height: Int, seed: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var h = seed * 6364136223846793005L + 1442695040888963407L
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        h ^= h << 13; h ^= h >>> 7; h ^= h << 17
        img.setRGB(x, y, (h & 0xffffff).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real image resize (decode → Graphics2D bilinear draw → PNG encode):
    * None when the payload is not a decodable image. A narrow per-row
    * transform — use inside mapPartitions, payloads never leave executors. */
  def resizeImage(bytes: Array[Byte], width: Int, height: Int): Option[Array[Byte]] =
    try {
      val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (src == null) None
      else {
        val dst = new java.awt.image.BufferedImage(
          width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = dst.createGraphics()
        try {
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(src, 0, 0, width, height, null)
        } finally g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(dst, "png", bos)
        Some(bos.toByteArray)
      }
    } catch { case _: Exception => None }

  /** Attach an opaque binary payload + media type (here derived from text;
    * in production these are real image/audio bytes). */
  def withBinaryPayload(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("payload", encode(col(textCol), "UTF-8"))
      .withColumn("media_type", lit("application/octet-stream"))

  private val featureSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("first_byte", IntegerType, nullable = false),
    StructField("checksum", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_channels", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("media_status", StringType, nullable = false)))

  /** Batched per-partition feature extraction over the binary column:
    * REAL decode (JDK image/audio codecs, typed rejection for recognized-
    * but-undecodable formats, stub fallback) per payload. `media_status`
    * carries the decode verdict (`ok:png`, `unsupported:webp`, ...).
    * Narrow transform: each partition is processed independently. */
  def extractFeatures(df: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = df.sparkSession
    val rows = df.select(col(idCol).cast(LongType), col("payload")).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        val (status, meta) = decodeTyped(bytes)
        var checksum = 0L
        var i = 0
        while (i < bytes.length) { checksum = (checksum + (bytes(i) & 0xff)) % 997; i += 1 }
        Row(id, bytes.length.toLong,
          if (bytes.length > 0) bytes(0) & 0xff else -1,
          checksum, meta.width, meta.height, meta.nChannels, meta.durationMs,
          status)
      }
    }
    spark.createDataFrame(rows, featureSchema)
  }

  /** Attach a REALLY-encoded synthetic PNG per row, dims a pure function of
    * the id (`width = 8 + id % 16`, `height = 8 + id % 7`) so a decode
    * downstream is verifiable arithmetically. Narrow mapPartitions — the
    * image-bytes generator stays on executors, like a fetch-from-blob-store
    * stage would. */
  def synthesizeImages(df: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false),
      StructField("media_type", StringType, nullable = false)))
    val rows = df.select(col(idCol).cast(LongType)).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val png = syntheticPng((8 + id % 16).toInt, (8 + id % 7).toInt, id)
        Row(id, png, "image/png")
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Frame-sampling plumbing stub: emits every `stride`-th chunk of the
    * payload as a "frame" row (1:N explode, the real shape of video
    * frame extraction). */
  def sampleFrames(df: DataFrame, idCol: String = "doc_id", stride: Int = 64): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame", BinaryType, nullable = false)))
    val rows = df.select(col(idCol).cast(LongType), col("payload")).rdd.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        bytes.grouped(stride).zipWithIndex.map { case (chunk, i) => Row(id, i, chunk) }
      }
    }
    spark.createDataFrame(rows, schema)
  }
}
