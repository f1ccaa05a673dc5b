package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: opaque `binary` payloads with typed
  * metadata, plus a partition-wise "decode / feature-extract" stage.
  *
  * The real pipeline shape for a 100 TB corpus: payloads stay opaque
  * binary; metadata (modality, codec, dims, durations) rides alongside in
  * typed columns; decode/resize/frame-sample runs partition-wise in
  * batches (the JVM analogue of `mapInPandas`) so codec state is
  * initialized once per partition, not per row.
  *
  * Decode status: REAL for all common image formats — [[decodeMedia]]
  * parses 24-bit BMP with pure byte arithmetic and JPEG / PNG / GIF via
  * `javax.imageio.ImageIO` (standard JDK, java.desktop module, fully
  * headless — no native library needed), producing dimensions + mean RGB
  * under one contract. 16-bit PCM WAV audio (sample rate, duration,
  * amplitude stats) is likewise parsed with byte arithmetic. Video
  * containers (MP4/WebM) and MP3 get REAL envelope metadata — duration,
  * dimensions, bitrate, sample rate — via pure box/frame-header walks
  * ([[containerMeta]]); only their compressed sample DATA remains behind
  * the deterministic stub (`decodeOne`), because decoding it genuinely
  * requires codec libraries (ffmpeg et al.) the JDK does not ship; a
  * deployment swaps only that body. The Spark-side plumbing — schema,
  * binary handling, partitioning, per-partition batch shape — is real
  * and tested either way.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("codec", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true)
    )), nullable = true)
  ))

  /** Wrap any table with an id + string column into the media schema,
    * treating the string's UTF-8 bytes as the opaque payload.
    */
  def asMedia(df: DataFrame, idCol: String, payloadCol: String, modality: String): DataFrame =
    df.select(
      col(idCol).cast(LongType).as("media_id"),
      lit(modality).as("modality"),
      encode(col(payloadCol), "UTF-8").as("payload"),
      struct(
        lit("raw").as("codec"),
        lit(null).cast(IntegerType).as("width"),
        lit(null).cast(IntegerType).as("height"),
        lit(null).cast(LongType).as("duration_ms")).as("meta"))

  /** Pure-expression payload metrics — anything derivable WITHOUT a codec
    * stays a codegen'd Column over the binary payload; only the actual
    * decode belongs in the partition-wise [[extractFeatures]] hook.
    * (Routing these through the hook forfeits whole-stage codegen for no
    * reason.)
    */
  def nBytes(payload: Column): Column = coalesce(octet_length(payload), lit(0)).cast(LongType)

  private val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("checksum", LongType, nullable = false),
    StructField("feature", ArrayType(DoubleType, containsNull = false), nullable = false)
  ))

  /** Partition-wise decode/feature-extract over media rows, batched like a
    * Pandas-UDF pipeline. The per-byte "decode" is a deterministic stub
    * (rolling checksum + an 8-dim byte-histogram "embedding"); a real
    * deployment swaps ONLY the body of `decodeOne`.
    */
  def extractFeatures(media: DataFrame, batchSize: Int = 256): DataFrame = {
    media
      .select("media_id", "modality", "payload")
      .mapPartitions { rows =>
        // One-time per-partition "codec init" happens here in a real decoder.
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val id = r.getLong(0)
            val modality = r.getString(1)
            val payload = if (r.isNullAt(2)) Array.empty[Byte] else r.getAs[Array[Byte]](2)
            val (checksum, hist) = decodeOne(payload)
            Row(id, modality, payload.length.toLong, checksum, hist.toSeq)
          }
        }
      }(Encoders.row(featureSchema))
  }

  /** Frame sampling over an opaque media payload: every `stride`-th
    * fixed-size chunk, as (media_id, frame_idx, frame_bytes) rows.
    *
    * For byte-addressable formats this is pure expressions (sequence →
    * explode → substring), fully codegen'd — sampling 1B payloads never
    * leaves Tungsten. Codec-addressable formats (video GOPs, audio
    * packets) swap in [[sampleFramesDecoded]], the partition-wise hook.
    */
  def sampleFrames(media: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    val nFrames = ceil(octet_length(col("payload")).cast("double") / frameBytes).cast("int")
    media
      .select(
        col("media_id"),
        explode(sequence(lit(0), greatest(nFrames - 1, lit(0)), lit(stride))).as("frame_idx"),
        col("payload"))
      .select(
        col("media_id"),
        col("frame_idx"),
        substring(col("payload"), col("frame_idx") * frameBytes + 1, lit(frameBytes)).as("frame_bytes"))
      .filter(octet_length(col("frame_bytes")) > 0)
  }

  private val frameSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("frame_bytes", BinaryType, nullable = true)
  ))

  /** Partition-wise frame sampling for codec-addressable media — the
    * `mapInPandas`-shaped hook where a real decoder (initialized once per
    * partition) would seek keyframes. The STUB slices fixed-size chunks,
    * matching [[sampleFrames]] exactly (asserted in tests).
    */
  def sampleFramesDecoded(media: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    media
      .select("media_id", "payload")
      .mapPartitions { rows =>
        // Real codecs initialize their decoder state here, once.
        rows.flatMap { r =>
          val id = r.getLong(0)
          val payload = if (r.isNullAt(1)) Array.empty[Byte] else r.getAs[Array[Byte]](1)
          val nFrames = math.max(1, (payload.length + frameBytes - 1) / frameBytes)
          (0 until nFrames by stride).iterator
            .map(i => Row(id, i, payload.slice(i * frameBytes, math.min((i + 1) * frameBytes, payload.length))))
            .filter(_.getAs[Array[Byte]](2).nonEmpty)
        }
      }(Encoders.row(frameSchema))
  }

  /** Resize metadata projection — the codec-free half of an image resize:
    * recompute target dims preserving aspect ratio as pure expressions.
    * The pixel work belongs in the [[extractFeatures]]-style hook; this
    * keeps the metadata column flowing through codegen.
    */
  def resizeMeta(media: DataFrame, maxDim: Int): DataFrame = {
    val w = col("meta.width").cast("double")
    val h = col("meta.height").cast("double")
    val scale = least(lit(1.0), lit(maxDim) / greatest(w, h))
    media.withColumn(
      "resize_meta",
      struct(
        round(w * scale).cast(IntegerType).as("target_width"),
        round(h * scale).cast(IntegerType).as("target_height"),
        scale.as("scale")))
  }

  /** STUB decode for formats the JDK cannot decode — video containers
    * (MP4/WebM) and compressed audio (MP3/AAC/Opus), which need external
    * codec libraries (ffmpeg et al.): rolling checksum + 8-bin byte
    * histogram as a deterministic fake feature vector. Images (BMP via
    * byte arithmetic, JPEG/PNG/GIF via ImageIO) and PCM WAV are decoded
    * for REAL above; a deployment swaps only this body.
    */
  private def decodeOne(payload: Array[Byte]): (Long, Array[Double]) = {
    var checksum = 0L
    val hist = new Array[Double](8)
    var i = 0
    while (i < payload.length) {
      val b = payload(i) & 0xff
      checksum = checksum * 31 + b
      hist(b % 8) += 1.0
      i += 1
    }
    val total = math.max(1.0, payload.length.toDouble)
    (checksum, hist.map(_ / total))
  }

  // ==========================================================================
  // REAL decode — BMP (byte arithmetic), JPEG/PNG/GIF (javax.imageio,
  // standard JDK, headless), PCM WAV (byte arithmetic). Dimensions + mean
  // RGB channels for images; sample rate / duration + mean-abs / RMS
  // amplitude for audio. Only video containers and compressed audio remain
  // behind the documented stub — those need external codecs (ffmpeg) the
  // JDK does not ship.
  // ==========================================================================

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], off: Int): Int =
    le16(b, off) | (le16(b, off + 2) << 16)

  /** Decoded-media row: `format` is what the magic bytes identified
    * ("bmp" | "wav" | "opaque"); image fields null for audio and vice
    * versa; `feature` = mean-RGB (bmp), [meanAbs, rms] amplitude (wav), or
    * the byte-histogram fallback (opaque).
    */
  val decodedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("feature", ArrayType(DoubleType, containsNull = false), nullable = false)
  ))

  /** Validated uncompressed-24-bit-BMP header: Some((dataOffset, width,
    * heightRaw, rowSize)) iff the pixel walk is fully in-bounds — the ONE
    * hardened gate both BMP consumers ([[decodeBmp]] means,
    * [[PerceptualHash.dhashBmp]]) go through, so adversarial-header fixes
    * land once. Guards, in order: magic + minimum size; 24 bpp
    * uncompressed; positive dims; data offset inside the payload; row
    * size computed in Long (24·width overflows Int near width 2^27); and
    * the row-count bound expressed as a DIVISION (`height >
    * available/rowSize`) because the multiplication `rowSize·height` can
    * wrap Long for adversarial width×height. After these, rowSize·height
    * ≤ payload length ≤ Int.MaxValue, so Int arithmetic is safe.
    */
  private[graft] def bmpHeader(p: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    if (p.length < 54 || p(0) != 'B' || p(1) != 'M') return None
    val dataOffset = le32(p, 10)
    val width = le32(p, 18)
    val heightRaw = le32(p, 22)
    val height = math.abs(heightRaw)
    val bpp = le16(p, 28)
    val compression = le32(p, 30)
    if (bpp != 24 || compression != 0 || width <= 0 || height == 0 || heightRaw == Int.MinValue)
      return None
    if (dataOffset < 54 || dataOffset > p.length) return None
    val rowSizeL = ((24L * width + 31) / 32) * 4
    if (height > (p.length - dataOffset).toLong / rowSizeL) return None
    Some((dataOffset, width, heightRaw, rowSizeL.toInt))
  }

  /** Uncompressed 24-bit BMP: (width, height, [meanR, meanG, meanB]).
    * Rows are bottom-up (or top-down when height < 0) and padded to 4-byte
    * multiples; pixels are stored B,G,R. Channel means are /255-normalized.
    */
  private[graft] def decodeBmp(p: Array[Byte]): Option[(Int, Int, Array[Double])] = {
    val (dataOffset, width, heightRaw, rowSize) = bmpHeader(p).getOrElse(return None)
    val height = math.abs(heightRaw)
    var (sr, sg, sb) = (0.0, 0.0, 0.0)
    var row = 0
    while (row < height) {
      val base = dataOffset + row * rowSize
      var c = 0
      while (c < width) {
        sb += (p(base + c * 3) & 0xff)
        sg += (p(base + c * 3 + 1) & 0xff)
        sr += (p(base + c * 3 + 2) & 0xff)
        c += 1
      }
      row += 1
    }
    val n = width.toDouble * height * 255.0
    Some((width, height, Array(sr / n, sg / n, sb / n)))
  }

  /** Magic-byte sniff for the compressed image formats ImageIO handles.
    * Cheap reject before paying for a decoder lookup on non-image payloads.
    */
  private[graft] def imageFormat(p: Array[Byte]): Option[String] = {
    if (p.length < 8) None
    else if ((p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8 && (p(2) & 0xff) == 0xff) Some("jpeg")
    else if ((p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') Some("png")
    else if (p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8') Some("gif")
    else None
  }

  /** JPEG / PNG / GIF via `javax.imageio.ImageIO` — standard JDK
    * (java.desktop), decodes headlessly with no native dependency.
    * Returns (width, height, [meanR, meanG, meanB]) /255-normalized,
    * the same feature contract as [[decodeBmp]]. Channel means are taken
    * over the decoded ARGB pixels (alpha ignored), one row-batch of ints
    * at a time to bound allocation on large images.
    */
  private[graft] def decodeImage(p: Array[Byte]): Option[(Int, Int, Array[Double])] = {
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
      if (img == null) return None
      val w = img.getWidth; val h = img.getHeight
      if (w <= 0 || h <= 0) return None
      var (sr, sg, sb) = (0.0, 0.0, 0.0)
      val rowBuf = new Array[Int](w)
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, rowBuf, 0, w)
        var x = 0
        while (x < w) {
          val argb = rowBuf(x)
          sr += (argb >>> 16) & 0xff
          sg += (argb >>> 8) & 0xff
          sb += argb & 0xff
          x += 1
        }
        y += 1
      }
      val n = w.toDouble * h * 255.0
      Some((w, h, Array(sr / n, sg / n, sb / n)))
    } catch {
      case _: Exception => None // corrupt payload → caller falls back to opaque
    }
  }

  /** PCM WAV (16-bit): (durationMs, [meanAbs, rms]) with amplitudes
    * normalized to [0, 1] by 32768. Walks RIFF chunks for `fmt ` + `data`.
    */
  private[operators] def decodeWav(p: Array[Byte]): Option[(Long, Array[Double])] = {
    if (p.length < 44 || p(0) != 'R' || p(1) != 'I' || p(2) != 'F' || p(3) != 'F' ||
        p(8) != 'W' || p(9) != 'A' || p(10) != 'V' || p(11) != 'E') return None
    var off = 12
    var sampleRate = 0; var channels = 0; var bits = 0; var fmtCode = 0
    var dataOff = -1; var dataLen = 0
    while (off + 8 <= p.length) {
      val id = new String(p.slice(off, off + 4), "US-ASCII")
      val size = le32(p, off + 4)
      if (id == "fmt " && off + 24 <= p.length) {
        fmtCode = le16(p, off + 8)
        channels = le16(p, off + 10)
        sampleRate = le32(p, off + 12)
        bits = le16(p, off + 22)
      } else if (id == "data") {
        dataOff = off + 8
        dataLen = math.min(size, p.length - dataOff)
      }
      off += 8 + size + (size & 1) // chunks are word-aligned
    }
    if (fmtCode != 1 || bits != 16 || sampleRate <= 0 || channels <= 0 || dataOff < 0) return None
    val bytesPerSec = sampleRate.toLong * channels * (bits / 8)
    val durationMs = dataLen * 1000L / bytesPerSec
    var sumAbs = 0.0; var sumSq = 0.0; var i = dataOff; var n = 0L
    while (i + 1 < dataOff + dataLen) {
      val s = (le16(p, i) << 16 >> 16) / 32768.0 // sign-extend 16-bit LE
      sumAbs += math.abs(s); sumSq += s * s; n += 1
      i += 2
    }
    val cnt = math.max(1L, n).toDouble
    Some((durationMs, Array(sumAbs / cnt, math.sqrt(sumSq / cnt))))
  }

  // ==========================================================================
  // Container METADATA — MP4/ISO-BMFF and WebM/EBML box walks, MP3 frame-
  // header walk. Pure byte arithmetic (no codec): duration, dimensions,
  // bitrate, sample rate. This shrinks the "opaque" class to actual
  // sample DATA decode (which genuinely needs ffmpeg-class codecs); the
  // container envelope is readable with ~150 LoC of public-spec parsing.
  // ==========================================================================

  private def be16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
  private def be32(b: Array[Byte], off: Int): Long =
    ((be16(b, off).toLong << 16) | be16(b, off + 2)) & 0xffffffffL
  private def be64(b: Array[Byte], off: Int): Long =
    (be32(b, off) << 32) | be32(b, off + 4)

  /** Parsed container envelope: image/video dims when the container
    * declares them, duration, and (audio) bitrate / sample rate.
    */
  final case class ContainerMeta(
      container: String,
      width: Option[Int],
      height: Option[Int],
      durationMs: Option[Long],
      bitrateKbps: Option[Int],
      sampleRate: Option[Int])

  /** MP4 / ISO-BMFF (ISO 14496-12): walk top-level boxes to `moov`, read
    * `mvhd` (timescale + duration, version 0 or 1) and every `trak/tkhd`
    * (16.16 fixed-point width/height; audio traks carry zeros, so take
    * the max across traks). Box sizes: 32-bit, 1 = 64-bit largesize
    * follows, 0 = to end of payload.
    */
  private[graft] def parseMp4(p: Array[Byte]): Option[ContainerMeta] = {
    if (p.length < 16 || !(p(4) == 'f' && p(5) == 't' && p(6) == 'y' && p(7) == 'p')) return None
    var durationMs: Option[Long] = None
    var w = 0; var h = 0

    def boxes(off: Long, end: Long)(f: (String, Long, Long) => Unit): Unit = {
      var o = off
      while (o + 8 <= end) {
        val size32 = be32(p, o.toInt)
        val name = new String(p, o.toInt + 4, 4, "US-ASCII")
        val (cStart, cEnd) =
          if (size32 == 1 && o + 16 <= end) (o + 16, o + be64(p, o.toInt + 8))
          else if (size32 == 0) (o + 8, end)
          else (o + 8, o + size32)
        if (cEnd <= o || cEnd > end) return // corrupt size: stop the walk
        f(name, cStart, cEnd)
        o = cEnd
      }
    }

    boxes(0, p.length) {
      case ("moov", mS, mE) =>
        boxes(mS, mE) {
          case ("mvhd", cS, _) if cS + 32 <= p.length =>
            // The guard covers the deepest fixed-offset read (v1 duration
            // at content+24..32) — a corrupt size field must not let the
            // reads run past the payload at file end.
            val v = p(cS.toInt) & 0xff
            val (ts, dur) =
              if (v == 1) (be32(p, cS.toInt + 20), be64(p, cS.toInt + 24))
              else (be32(p, cS.toInt + 12), be32(p, cS.toInt + 16))
            if (ts > 0) durationMs = Some(dur * 1000L / ts)
          case ("trak", tS, tE) =>
            boxes(tS, tE) {
              // cS < p.length guard: an empty tkhd box (size 8) ending at
              // the file edge puts cS == p.length — the version read must
              // not run past the payload.
              case ("tkhd", cS, _) if cS < p.length =>
                val v = p(cS.toInt) & 0xff
                val base = if (v == 1) cS.toInt + 88 else cS.toInt + 76
                if (base + 8 <= p.length) {
                  w = math.max(w, (be32(p, base) >> 16).toInt)
                  h = math.max(h, (be32(p, base + 4) >> 16).toInt)
                }
              case _ =>
            }
          case _ =>
        }
      case _ =>
    }
    Some(ContainerMeta("mp4",
      if (w > 0) Some(w) else None, if (h > 0) Some(h) else None,
      durationMs, None, None))
  }

  /** Minimal EBML walk for WebM/Matroska: `Segment → Info` gives
    * TimecodeScale (ns/tick, default 1 000 000) and Duration (float
    * ticks); `Segment → Tracks → TrackEntry → Video` gives
    * PixelWidth/PixelHeight. Vints: leading-zero count of the first byte
    * gives the length; the marker bit is masked for sizes but kept for
    * IDs (per convention).
    */
  private[graft] def parseWebm(p: Array[Byte]): Option[ContainerMeta] = {
    if (p.length < 4 || be32(p, 0) != 0x1a45dfa3L) return None

    // (value, bytesConsumed); keepMarker for element IDs.
    def vint(off: Int, keepMarker: Boolean): Option[(Long, Int)] = {
      if (off >= p.length) return None
      val first = p(off) & 0xff
      if (first == 0) return None
      val len = Integer.numberOfLeadingZeros(first) - 24 + 1
      if (off + len > p.length) return None
      var v = if (keepMarker) first.toLong else (first & (0xff >>> len)).toLong
      var i = 1
      while (i < len) { v = (v << 8) | (p(off + i) & 0xff); i += 1 }
      Some((v, len))
    }

    var timecodeScale = 1000000L
    var durationTicks: Option[Double] = None
    var w = 0; var h = 0

    def walk(off: Int, end: Int, depth: Int): Unit = {
      var o = off
      while (o < end) {
        val idr = vint(o, keepMarker = true).getOrElse(return)
        val szr = vint(o + idr._2, keepMarker = false).getOrElse(return)
        val cS = o + idr._2 + szr._2
        val cE = math.min(end.toLong, cS.toLong + szr._1).toInt
        if (cE < cS) return
        idr._1 match {
          // Depth cap: real WebM nesting here is ≤4 (Segment → Tracks →
          // TrackEntry → Video), but the container ids include 1-byte
          // codes (0xae, 0xe0) a crafted payload can repeat every 2
          // bytes — unbounded recursion would StackOverflowError (an
          // Error, escaping the never-throw contract). Beyond the cap
          // the element is skipped as a leaf.
          case 0x18538067L | 0x1549a966L | 0x1654ae6bL | 0xaeL | 0xe0L if depth < 8 =>
            walk(cS, cE, depth + 1) // Segment / Info / Tracks / TrackEntry / Video
          case 0x2ad7b1L =>
            var v = 0L; var i = cS
            while (i < cE) { v = (v << 8) | (p(i) & 0xff); i += 1 }
            if (v > 0) timecodeScale = v
          case 0x4489L =>
            if (cE - cS == 4)
              durationTicks = Some(java.lang.Float.intBitsToFloat(be32(p, cS).toInt).toDouble)
            else if (cE - cS == 8)
              durationTicks = Some(java.lang.Double.longBitsToDouble(be64(p, cS)))
          case 0xb0L | 0xbaL =>
            var v = 0L; var i = cS
            while (i < cE) { v = (v << 8) | (p(i) & 0xff); i += 1 }
            if (idr._1 == 0xb0L) w = math.max(w, v.toInt) else h = math.max(h, v.toInt)
          case _ => // skip leaf
        }
        o = cE
      }
    }
    walk(0, p.length, 0)
    val durationMs = durationTicks.map(t => (t * timecodeScale / 1e6).round)
    Some(ContainerMeta("webm",
      if (w > 0) Some(w) else None, if (h > 0) Some(h) else None,
      durationMs, None, None))
  }

  private val mp3BitratesV1L3 = // kbps, index 1..14 (0/15 invalid)
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
  private val mp3BitratesV2L3 =
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0)
  private val mp3SampleRatesV1 = Array(44100, 48000, 32000, 0)

  /** MP3 (MPEG-1/2 Layer III): skip an ID3v2 tag (syncsafe size), then
    * walk frame headers — 11-bit sync, version/layer bits, bitrate and
    * sample-rate indices, padding — summing samples per frame (1152 for
    * MPEG-1, 576 for MPEG-2/2.5) for an exact duration even under VBR.
    * Reports the first frame's bitrate and the stream sample rate.
    */
  private[graft] def parseMp3(p: Array[Byte]): Option[ContainerMeta] = {
    var off = 0
    if (p.length >= 10 && p(0) == 'I' && p(1) == 'D' && p(2) == '3') {
      val tagSize = ((p(6) & 0x7f) << 21) | ((p(7) & 0x7f) << 14) |
        ((p(8) & 0x7f) << 7) | (p(9) & 0x7f)
      off = 10 + tagSize
    }
    var frames = 0L
    var totalSamples = 0L
    var sampleRate = 0
    var firstBitrate = 0
    while (off + 4 <= p.length) {
      if ((p(off) & 0xff) != 0xff || (p(off + 1) & 0xe0) != 0xe0) {
        // lost sync: stop at the first non-frame byte after >=1 frame,
        // fail if we never found one
        return if (frames > 0)
          Some(ContainerMeta("mp3", None, None,
            Some(totalSamples * 1000L / sampleRate), Some(firstBitrate), Some(sampleRate)))
        else None
      }
      val versionBits = (p(off + 1) >> 3) & 3 // 3 = MPEG1, 2 = MPEG2, 0 = MPEG2.5
      val layerBits = (p(off + 1) >> 1) & 3   // 1 = Layer III
      val bitrateIdx = (p(off + 2) >> 4) & 15
      val srIdx = (p(off + 2) >> 2) & 3
      val padding = (p(off + 2) >> 1) & 1
      if (layerBits != 1 || versionBits == 1 || bitrateIdx == 0 || bitrateIdx == 15 || srIdx == 3)
        return None
      val v1 = versionBits == 3
      val bitrate = (if (v1) mp3BitratesV1L3 else mp3BitratesV2L3)(bitrateIdx)
      val sr = mp3SampleRatesV1(srIdx) / (if (v1) 1 else if (versionBits == 2) 2 else 4)
      val frameLen = (if (v1) 144000 else 72000) * bitrate / sr + padding
      if (frameLen <= 4) return None
      if (frames == 0) { firstBitrate = bitrate; sampleRate = sr }
      else if (sr != sampleRate) return None // sample rate is fixed per stream
      frames += 1
      totalSamples += (if (v1) 1152 else 576)
      off += frameLen
    }
    if (frames == 0) None
    else Some(ContainerMeta("mp3", None, None,
      Some(totalSamples * 1000L / sampleRate), Some(firstBitrate), Some(sampleRate)))
  }

  /** FLAC (xiph.org spec): "fLaC" magic, then metadata blocks — the
    * mandatory first STREAMINFO block (type 0, 34 bytes) packs the
    * sample rate (20 bits), channels, bits/sample and the 36-bit total
    * sample count; duration = samples / rate. Pure header arithmetic —
    * no frame decode.
    */
  private[graft] def parseFlac(p: Array[Byte]): Option[ContainerMeta] = {
    if (p.length < 8 || p(0) != 'f' || p(1) != 'L' || p(2) != 'a' || p(3) != 'C') return None
    var off = 4
    while (off + 4 <= p.length) {
      val blockType = p(off) & 0x7f
      val last = (p(off) & 0x80) != 0
      val len = (((p(off + 1) & 0xff) << 16) | ((p(off + 2) & 0xff) << 8) | (p(off + 3) & 0xff))
      val c = off + 4
      if (blockType == 0 && len >= 34 && c + 18 <= p.length) {
        val sr = ((p(c + 10) & 0xff) << 12) | ((p(c + 11) & 0xff) << 4) | ((p(c + 12) & 0xff) >> 4)
        val totalSamples =
          ((p(c + 13) & 0x0fL) << 32) | ((p(c + 14) & 0xffL) << 24) |
            ((p(c + 15) & 0xffL) << 16) | ((p(c + 16) & 0xffL) << 8) | (p(c + 17) & 0xffL)
        if (sr <= 0) return None
        val durationMs = if (totalSamples > 0) Some(totalSamples * 1000L / sr) else None
        return Some(ContainerMeta("flac", None, None, durationMs, None, Some(sr)))
      }
      if (last || len < 0) return None
      off = c + len
    }
    None
  }

  /** Ogg (RFC 3533) page walk with a Vorbis identification header: the
    * first page's packet ("vorbis") declares sample rate and
    * nominal bitrate; the LAST page's granule position is the absolute
    * sample count, so duration = granule / rate — exact even for VBR,
    * mirroring the MP3 frame walk. CRCs are not verified (metadata walk,
    * not integrity check).
    */
  private[graft] def parseOgg(p: Array[Byte]): Option[ContainerMeta] = {
    if (p.length < 27 || p(0) != 'O' || p(1) != 'g' || p(2) != 'g' || p(3) != 'S') return None
    def le64(b: Array[Byte], o: Int): Long =
      (le32(b, o).toLong & 0xffffffffL) | ((le32(b, o + 4).toLong & 0xffffffffL) << 32)
    var off = 0
    var rate = 0
    var nominalBps = 0
    var lastGranule = -1L
    var firstPage = true
    while (off + 27 <= p.length &&
      p(off) == 'O' && p(off + 1) == 'g' && p(off + 2) == 'g' && p(off + 3) == 'S') {
      val granule = le64(p, off + 6)
      val nsegs = p(off + 26) & 0xff
      if (off + 27 + nsegs > p.length) return None
      var payloadLen = 0
      var s = 0
      while (s < nsegs) { payloadLen += p(off + 27 + s) & 0xff; s += 1 }
      val c = off + 27 + nsegs
      if (c + payloadLen > p.length) return None
      if (firstPage && payloadLen >= 28 && p(c) == 0x01 &&
        p(c + 1) == 'v' && p(c + 2) == 'o' && p(c + 3) == 'r' &&
        p(c + 4) == 'b' && p(c + 5) == 'i' && p(c + 6) == 's') {
        rate = le32(p, c + 12)
        nominalBps = le32(p, c + 20)
      }
      if (granule >= 0) lastGranule = math.max(lastGranule, granule)
      firstPage = false
      off = c + payloadLen
    }
    if (rate <= 0) return None
    // Split-form duration (⌊g/r⌋·1000 + ⌊(g mod r)·1000/r⌋ ≡ ⌊g·1000/r⌋
    // exactly) — an adversarial last-page granule near Long.MaxValue must
    // degrade cleanly, not overflow `g·1000` into a negative duration.
    // `g mod r < r ≤ 2³¹`, so the remainder product always fits; the
    // quotient term can still overflow when rate < 1000 (⌊g/r⌋·1000 >
    // Long.MaxValue), and a duration that big is a corrupt header —
    // report the envelope without a duration rather than a garbage one.
    val durationMs =
      if (lastGranule > 0 && lastGranule / rate <= Long.MaxValue / 1000)
        Some(lastGranule / rate * 1000L + lastGranule % rate * 1000L / rate)
      else None
    Some(ContainerMeta("ogg", None, None, durationMs,
      if (nominalBps > 0) Some(nominalBps / 1000) else None, Some(rate)))
  }

  private val adtsSampleRates = Array(
    96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
    16000, 12000, 11025, 8000, 7350, 0, 0, 0)

  /** AAC ADTS (ISO 14496-3): 12-bit sync + layer 00 frame headers with a
    * 13-bit frame length; each frame carries (rdb + 1) × 1024 samples.
    * Walking every frame sums exact samples (VBR-safe, like the MP3
    * walk); the reported bitrate is the measured average over the walked
    * bytes (ADTS declares none).
    */
  private[graft] def parseAdts(p: Array[Byte]): Option[ContainerMeta] = {
    var off = 0
    var frames = 0L
    var totalSamples = 0L
    var totalBytes = 0L
    var sampleRate = 0
    while (off + 7 <= p.length) {
      if ((p(off) & 0xff) != 0xff || (p(off + 1) & 0xf6) != 0xf0) {
        return finishAdts(frames, totalSamples, totalBytes, sampleRate)
      }
      val srIdx = (p(off + 2) >> 2) & 0x0f
      val sr = adtsSampleRates(srIdx)
      val frameLen = ((p(off + 3) & 0x03) << 11) | ((p(off + 4) & 0xff) << 3) | ((p(off + 5) & 0xff) >> 5)
      val rdb = (p(off + 6) & 0x03) + 1
      if (sr <= 0 || frameLen < 7) return None
      if (frames == 0) sampleRate = sr
      else if (sr != sampleRate) return None // fixed per stream
      frames += 1
      totalSamples += rdb * 1024L
      totalBytes += frameLen
      off += frameLen
    }
    finishAdts(frames, totalSamples, totalBytes, sampleRate)
  }

  private def finishAdts(
      frames: Long, totalSamples: Long, totalBytes: Long, sampleRate: Int
  ): Option[ContainerMeta] =
    if (frames == 0) None
    else {
      val durationMs = totalSamples * 1000L / sampleRate
      val kbps = if (durationMs > 0) Some((totalBytes * 8L / durationMs).toInt) else None
      Some(ContainerMeta("aac", None, None, Some(durationMs), kbps, Some(sampleRate)))
    }

  val containerMetaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("container", StringType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("bitrate_kbps", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true)
  ))

  /** Partition-wise container-metadata extraction, dispatching on magic
    * bytes: MP4 ("ftyp" at offset 4), WebM (EBML header), FLAC ("fLaC"),
    * Ogg ("OggS"), MP3 (ID3 tag or frame sync), AAC ADTS (layer-00
    * sync) — the MP3/ADTS syncwords overlap, but each parser's
    * layer-bits check rejects the other's frames, so the order is safe.
    * Unrecognized payloads → container "opaque", all fields null. Same
    * batch shape as [[decodeMedia]].
    */
  def containerMeta(media: DataFrame, batchSize: Int = 256): DataFrame = {
    media
      .select("media_id", "payload")
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val id = r.getLong(0)
            val p = if (r.isNullAt(1)) Array.empty[Byte] else r.getAs[Array[Byte]](1)
            // Belt over the parsers' own bounds guards: ANY parse failure
            // on a corrupt/adversarial payload degrades that row to
            // "opaque" — a 100 TB scan must never die on one bad blob.
            val meta = scala.util.Try(
              parseMp4(p).orElse(parseWebm(p)).orElse(parseFlac(p)).orElse(parseOgg(p))
                .orElse(parseMp3(p)).orElse(parseAdts(p)))
              .toOption.flatten
              .getOrElse(ContainerMeta("opaque", None, None, None, None, None))
            Row(id, meta.container,
              meta.width.orNull, meta.height.orNull, meta.durationMs.orNull,
              meta.bitrateKbps.orNull, meta.sampleRate.orNull)
          }
        }
      }(Encoders.row(containerMetaSchema))
  }

  /** Partition-wise REAL decode, dispatching on magic bytes: BMP (byte
    * arithmetic) and JPEG/PNG/GIF (ImageIO) → dims + mean RGB; PCM WAV
    * audio → duration + amplitude stats; anything else (video, compressed
    * audio, corrupt payloads) → the byte-histogram fallback with format
    * "opaque". Same batch shape as [[extractFeatures]] (codec state, were
    * one needed, would initialize once per partition).
    */
  def decodeMedia(media: DataFrame, batchSize: Int = 256): DataFrame = {
    media
      .select("media_id", "payload")
      .mapPartitions { rows =>
        // ImageIO is headless-safe for decoding; pin it explicitly so a
        // misconfigured executor JVM never tries to touch a display, and
        // skip its disk cache (payloads are in-memory byte arrays).
        System.setProperty("java.awt.headless", "true")
        javax.imageio.ImageIO.setUseCache(false)
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val id = r.getLong(0)
            val p = if (r.isNullAt(1)) Array.empty[Byte] else r.getAs[Array[Byte]](1)
            decodeBmp(p) match {
              case Some((w, h, rgb)) => Row(id, "bmp", w, h, null, rgb.toSeq)
              case None =>
                imageFormat(p).flatMap(fmt => decodeImage(p).map(d => (fmt, d))) match {
                  case Some((fmt, (w, h, rgb))) => Row(id, fmt, w, h, null, rgb.toSeq)
                  case None =>
                    decodeWav(p) match {
                      case Some((ms, amp)) => Row(id, "wav", null, null, ms, amp.toSeq)
                      case None =>
                        val (_, hist) = decodeOne(p)
                        Row(id, "opaque", null, null, null, hist.toSeq)
                    }
                }
            }
          }
        }
      }(Encoders.row(decodedSchema))
  }
}
