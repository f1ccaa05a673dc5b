package graft.harness

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/** Deterministic container-payload generators for the oracle harness:
  * given a doc id, emit a tiny VALID MP4 / MP3 / WebM byte stream whose
  * metadata (dims, duration, bitrate) is a closed-form function of the
  * id. The correctness driver can then check
  * [[graft.operators.Multimodal.containerMeta]] against plain SQL on
  * doc_id — builder (writes boxes) and parser (walks boxes) are
  * independent code paths, so the oracle genuinely exercises the parse.
  *
  * Parameter map (id = doc_id):
  *   - id % 6 == 0 → MP4:  width 16 + id%64, height 16 + (7·id)%64,
  *     timescale 1000, duration 500 + id%1000 ticks → duration_ms same.
  *   - id % 6 == 1 → MP3:  MPEG-1 Layer III, 128 kbps, 44100 Hz,
  *     5 + id%20 frames → duration_ms = frames·1152·1000 / 44100 (floor).
  *   - id % 6 == 2 → WebM: width 32 + id%128, height 32 + (3·id)%128,
  *     TimecodeScale 1 000 000 ns, Duration 250 + id%500 ticks (ms).
  *   - id % 6 == 3 → FLAC: 44100 Hz, total samples (10 + id%50)·4410 →
  *     duration_ms = (10 + id%50)·100 exactly.
  *   - id % 6 == 4 → Ogg/Vorbis: 44100 Hz, nominal 112000 bps → 112
  *     kbps, last-page granule (20 + id%100)·441 →
  *     duration_ms = (20 + id%100)·10 exactly.
  *   - id % 6 == 5 → AAC ADTS: 44100 Hz, 3 + id%15 frames of 200 bytes,
  *     1024 samples each → duration_ms = frames·1024·1000 / 44100
  *     (floor), bitrate_kbps = frames·200·8 / duration_ms (floor).
  */
object MediaFixtures {

  private def be16(o: ByteArrayOutputStream, v: Int): Unit = {
    o.write((v >>> 8) & 0xff); o.write(v & 0xff)
  }
  private def be32(o: ByteArrayOutputStream, v: Long): Unit = {
    be16(o, ((v >>> 16) & 0xffff).toInt); be16(o, (v & 0xffff).toInt)
  }
  private def box(name: String, content: Array[Byte]): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    be32(o, content.length + 8L)
    o.write(name.getBytes("US-ASCII"))
    o.write(content)
    o.toByteArray
  }

  def mp4Payload(id: Long): Array[Byte] = {
    val width = 16 + (id % 64).toInt
    val height = 16 + ((7 * id) % 64).toInt
    val duration = 500 + (id % 1000)

    val ftyp = {
      val o = new ByteArrayOutputStream()
      o.write("isom".getBytes("US-ASCII")); be32(o, 0L)
      box("ftyp", o.toByteArray)
    }
    val mvhd = {
      val o = new ByteArrayOutputStream()
      be32(o, 0L)          // version 0 + flags
      be32(o, 0L); be32(o, 0L) // creation, modification
      be32(o, 1000L)       // timescale
      be32(o, duration)    // duration (ticks = ms at timescale 1000)
      be32(o, 0x00010000L) // rate 1.0
      be16(o, 0x0100)      // volume 1.0
      o.write(new Array[Byte](10)) // reserved
      o.write(new Array[Byte](36)) // matrix
      o.write(new Array[Byte](24)) // pre_defined
      be32(o, 2L)          // next_track_ID
      box("mvhd", o.toByteArray)
    }
    val tkhd = {
      val o = new ByteArrayOutputStream()
      be32(o, 0L)          // version 0 + flags
      be32(o, 0L); be32(o, 0L) // creation, modification
      be32(o, 1L)          // track_ID
      be32(o, 0L)          // reserved
      be32(o, duration)    // duration
      o.write(new Array[Byte](8)) // reserved
      be16(o, 0); be16(o, 0)      // layer, alternate_group
      be16(o, 0); be16(o, 0)      // volume (video: 0), reserved
      o.write(new Array[Byte](36)) // matrix
      be32(o, width.toLong << 16)  // 16.16 fixed
      be32(o, height.toLong << 16)
      box("tkhd", o.toByteArray)
    }
    val moov = box("moov", box("trak", tkhd) ++ mvhd)
    ftyp ++ moov
  }

  def mp3Payload(id: Long): Array[Byte] = {
    val frames = 5 + (id % 20).toInt
    val frameLen = 144000 * 128 / 44100 // 417, no padding
    val o = new ByteArrayOutputStream()
    var f = 0
    while (f < frames) {
      o.write(0xff); o.write(0xfb) // sync + MPEG1 + Layer III + no CRC
      o.write(0x90)                // bitrate idx 9 (128k), 44100, no pad
      o.write(0x00)
      var i = 4
      while (i < frameLen) { o.write(((id + f + i) & 0xff).toInt); i += 1 }
      f += 1
    }
    o.toByteArray
  }

  def webmPayload(id: Long): Array[Byte] = {
    val width = 32 + (id % 128).toInt
    val height = 32 + ((3 * id) % 128).toInt
    val durationTicks = (250 + (id % 500)).toFloat

    def elem(idBytes: Array[Int], content: Array[Byte]): Array[Byte] = {
      require(content.length <= 126)
      val o = new ByteArrayOutputStream()
      idBytes.foreach(o.write)
      o.write(0x80 | content.length) // 1-byte size vint
      o.write(content)
      o.toByteArray
    }
    def uint(v: Long, n: Int): Array[Byte] =
      (1 to n).map(i => ((v >>> (8 * (n - i))) & 0xff).toByte).toArray

    val ebml = elem(Array(0x1a, 0x45, 0xdf, 0xa3), Array.empty)
    val info = elem(Array(0x15, 0x49, 0xa9, 0x66),
      elem(Array(0x2a, 0xd7, 0xb1), uint(1000000L, 3)) ++
        elem(Array(0x44, 0x89), uint(java.lang.Float.floatToIntBits(durationTicks).toLong & 0xffffffffL, 4)))
    val video = elem(Array(0xe0),
      elem(Array(0xb0), uint(width.toLong, 2)) ++ elem(Array(0xba), uint(height.toLong, 2)))
    val tracks = elem(Array(0x16, 0x54, 0xae, 0x6b), elem(Array(0xae), video))
    val segment = elem(Array(0x18, 0x53, 0x80, 0x67), info ++ tracks)
    ebml ++ segment
  }

  def flacPayload(id: Long): Array[Byte] = {
    val totalSamples = (10 + id % 50) * 4410
    val o = new ByteArrayOutputStream()
    o.write("fLaC".getBytes("US-ASCII"))
    o.write(0x80) // last block + type 0 (STREAMINFO)
    o.write(0); be16(o, 34) // 3-byte length
    be16(o, 4096); be16(o, 4096) // min/max block size
    o.write(new Array[Byte](6))  // min/max frame size (unknown)
    // 20-bit sample rate 44100 | 3-bit channels-1 (1) | 5-bit bps-1 (15)
    // | 36-bit total samples, packed MSB-first into 8 bytes.
    val sr = 44100L
    val packed = (sr << 44) | (1L << 41) | (15L << 36) | totalSamples
    (0 until 8).foreach(i => o.write(((packed >>> (8 * (7 - i))) & 0xff).toInt))
    o.write(new Array[Byte](16)) // MD5
    o.toByteArray
  }

  def oggPayload(id: Long): Array[Byte] = {
    val granule = (20 + id % 100) * 441
    def le32o(o: ByteArrayOutputStream, v: Long): Unit =
      (0 until 4).foreach(i => o.write(((v >>> (8 * i)) & 0xff).toInt))
    def page(typeFlag: Int, gran: Long, seq: Int, payload: Array[Byte]): Array[Byte] = {
      require(payload.length < 255)
      val o = new ByteArrayOutputStream()
      o.write("OggS".getBytes("US-ASCII")); o.write(0); o.write(typeFlag)
      (0 until 8).foreach(i => o.write(((gran >>> (8 * i)) & 0xff).toInt))
      le32o(o, 0x6772L); le32o(o, seq.toLong); le32o(o, 0L) // serial, seq, crc (unchecked)
      o.write(1); o.write(payload.length) // one lacing segment
      o.write(payload)
      o.toByteArray
    }
    val idHeader = {
      val o = new ByteArrayOutputStream()
      o.write(0x01); o.write("vorbis".getBytes("US-ASCII"))
      le32o(o, 0L)      // version
      o.write(2)        // channels
      le32o(o, 44100L)  // sample rate
      le32o(o, 0L); le32o(o, 112000L); le32o(o, 0L) // br max/nominal/min
      o.write(0xb8); o.write(0x01) // blocksizes + framing
      o.toByteArray
    }
    page(0x02, 0L, 0, idHeader) ++ page(0x04, granule, 1, Array[Byte](0x00))
  }

  def adtsPayload(id: Long): Array[Byte] = {
    val frames = (3 + id % 15).toInt
    val frameLen = 200
    val o = new ByteArrayOutputStream()
    var f = 0
    while (f < frames) {
      o.write(0xff); o.write(0xf1)  // sync + MPEG-4 + layer 00 + no CRC
      o.write((1 << 6) | (4 << 2))  // AAC-LC, sample-rate index 4 (44100)
      o.write((2 << 6) | ((frameLen >> 11) & 0x03)) // 2 channels + len hi
      o.write((frameLen >> 3) & 0xff)               // len mid
      o.write(((frameLen & 0x07) << 5) | 0x1f)      // len lo + buffer fullness
      o.write(0xfc)                                 // fullness lo + rdb = 0 (1 block)
      var i = 7
      while (i < frameLen) { o.write(((id + f + i) & 0xff).toInt); i += 1 }
      f += 1
    }
    o.toByteArray
  }

  // ==========================================================================
  // Synthetic bitmaps with closed-form dHash — the perceptual-hash oracle
  // fixture. Each id's 9×8 24-bit BMP is constructed so its dHash
  // ([[graft.operators.PerceptualHash]] convention: 8 rows × 8
  // horizontal comparisons, bit r*8+c set iff cell (r,c+1) > cell (r,c))
  // is EXACTLY [[dhashTarget]]: families of 5 ids (fam = id / 5) share a
  // hash-derived base pattern, and variant v = id % 5 flips bit v-1
  // (v = 0 keeps the base). Within a family, Hamming distances are
  // closed-form (1 against the base, 2 between flipped variants) and
  // expressible in plain SQL; across families the 64-bit base hashes are
  // far apart (min distance asserted in tests), so the expected pair set
  // at maxHamming = 2 is exactly the within-family pairs.
  // ==========================================================================

  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The dHash value [[bmpPayload]]'s image realizes, closed-form in id. */
  def dhashTarget(id: Long): Long = {
    val base = splitmix64(id / 5)
    val v = id % 5
    base ^ (if (v == 0) 0L else 1L << (v - 1))
  }

  /** A 9×8 24-bit grayscale BMP (bottom-up rows) whose dHash is exactly
    * [[dhashTarget]](id): each row walks left→right from gray 128,
    * stepping +8 where the target bit is 1 (next cell strictly brighter)
    * and -8 where it is 0. At the 9×8 native dHash resolution the
    * average-pool is the identity, so builder (writes pixels) and hasher
    * (pools + compares) are independent code paths over the same
    * closed-form expectation.
    */
  def bmpPayload(id: Long): Array[Byte] = bmpForHash(dhashTarget(id))

  /** The 9×8 grayscale BMP realizing an ARBITRARY 64-bit dHash — the
    * builder half shared by [[bmpPayload]] and the video frame fixture.
    */
  def bmpForHash(h: Long): Array[Byte] = {
    val g = Array.ofDim[Int](8, 9)
    var r = 0
    while (r < 8) {
      g(r)(0) = 128
      var c = 0
      while (c < 8) {
        val bit = (h >>> (r * 8 + c)) & 1L
        g(r)(c + 1) = g(r)(c) + (if (bit == 1L) 8 else -8)
        c += 1
      }
      r += 1
    }
    val width = 9; val height = 8
    val rowSize = ((24 * width + 31) / 32) * 4 // 28: 27 pixel bytes + 1 pad
    val o = new ByteArrayOutputStream()
    def le16o(v: Int): Unit = { o.write(v & 0xff); o.write((v >>> 8) & 0xff) }
    def le32o(v: Int): Unit = { le16o(v & 0xffff); le16o((v >>> 16) & 0xffff) }
    o.write('B'); o.write('M')
    le32o(54 + rowSize * height) // file size
    le32o(0)                     // reserved
    le32o(54)                    // pixel data offset
    le32o(40)                    // BITMAPINFOHEADER size
    le32o(width); le32o(height)  // height > 0 → bottom-up
    le16o(1); le16o(24)          // planes, bpp
    le32o(0)                     // BI_RGB (uncompressed)
    le32o(rowSize * height)      // image size
    le32o(2835); le32o(2835)     // 72 dpi
    le32o(0); le32o(0)           // palette counts
    var fileRow = 0
    while (fileRow < height) {
      val imageRow = height - 1 - fileRow // bottom-up
      var c = 0
      while (c < width) {
        val v = g(imageRow)(c)
        o.write(v); o.write(v); o.write(v) // B, G, R — gray
        c += 1
      }
      var pad = width * 3
      while (pad < rowSize) { o.write(0); pad += 1 }
      fileRow += 1
    }
    o.toByteArray
  }

  /** BMP frame byte size at the fixed 9×8 fixture geometry: 54-byte
    * headers + 8 rows × 28 bytes (27 pixel bytes word-padded to 28) —
    * the `frameBytes` every video fixture entry passes.
    */
  val BmpFrameBytes: Int = 54 + 8 * 28

  /** Frames per fixture video clip. */
  val VideoFrames: Int = 6

  /** The dHash of frame `j` of fixture video `id`, closed-form: the
    * [[dhashTarget]] family scheme lifted to frame SETS — families of 5
    * (`fam = id / 5`), variant `v = id % 5` shares its first
    * `VideoFrames − v` frames with the family (seeded by `(fam, j)`)
    * and fills the rest with clip-unique frames (seeded by `(id, j)`),
    * so `shared_frames(a, b) = VideoFrames − max(v_a, v_b)` within a
    * family and ~0 across families — a plain-SQL pair oracle.
    */
  def videoFrameTarget(id: Long, j: Int): Long = {
    val fam = id / 5
    val v = id % 5
    if (j < VideoFrames - v) splitmix64(fam * 131 + j + 0x51dE0FaaL)
    else splitmix64(id * 131 + j + 0x0cafef00dL)
  }

  /** A fixture video clip: [[VideoFrames]] stored raw 9×8 BMP frames
    * concatenated ([[Multimodal.sampleFrames]]' fixed-size lattice at
    * `frameBytes = BmpFrameBytes`), frame `j` realizing
    * [[videoFrameTarget]](id, j).
    */
  def videoPayload(id: Long): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    var j = 0
    while (j < VideoFrames) {
      o.write(bmpForHash(videoFrameTarget(id, j)))
      j += 1
    }
    o.toByteArray
  }

  /** (media_id, payload) frame of fixture video clips, one per input
    * id — generated partition-wise.
    */
  def syntheticVideos(ids: DataFrame): DataFrame = {
    ids.mapPartitions(_.map { r =>
      val id = r.getLong(0)
      Row(id, videoPayload(id))
    })(Encoders.row(mediaIdPayloadSchema))
  }

  /** (media_id, payload) frame of synthetic dHash-oracle bitmaps, one per
    * input id — generated partition-wise like [[syntheticContainers]].
    */
  def syntheticBitmaps(ids: DataFrame): DataFrame = {
    ids.mapPartitions(_.map { r =>
      val id = r.getLong(0)
      Row(id, bmpPayload(id))
    })(Encoders.row(mediaIdPayloadSchema))
  }

  /** The audio fingerprint [[wavPayload]]'s clip realizes, closed-form
    * in id — the [[dhashTarget]] family scheme (families of 5, variant
    * v flips bit v−1) with an independent seed stream, so the SQL
    * oracle is the same within-family pair set.
    */
  def afpTarget(id: Long): Long = {
    val base = splitmix64(id / 5 + 0xa0d10aL)
    val v = id % 5
    base ^ (if (v == 0) 0L else 1L << (v - 1))
  }

  /** A canonical PCM-16 mono WAV (8 kHz, 3 × 4096 samples) whose
    * Haitsma–Kalker fingerprint is exactly [[afpTarget]](id): one pure
    * tone per log band, each tone pinned to an exact DFT bin of the
    * 4096-sample frame (rectangular window + integer bin = zero
    * leakage), amplitudes realizing a band-energy staircase whose
    * difference-of-differences signs ARE the target bits (frame 0 flat;
    * frame n adds ±δ per band pair per target bit, telescoped from the
    * top band so all energies stay positive). Builder (synthesizes
    * samples) and hasher (FFT + band sums + sign comparisons) are
    * independent code paths over the same closed-form expectation.
    */
  def wavPayload(id: Long): Array[Byte] =
    wavBytes(8000, wavSamples(id))

  /** [[wavPayload]] with `shiftSamples` leading silence — the OFFSET
    * re-encode fixture for the multi-anchor shift tolerance: anchor
    * `shiftSamples / AnchorHop` of the padded clip sees the original
    * signal exactly, so original and copy share an identical anchor
    * fingerprint and pair at Hamming 0 (shiftSamples must be a multiple
    * of [[graft.operators.AudioFingerprint.AnchorHop]] and small enough
    * that the aligned anchor is within MaxAnchors).
    */
  def wavPayloadShifted(id: Long, shiftSamples: Int): Array[Byte] = {
    require(shiftSamples > 0 &&
      shiftSamples % graft.operators.AudioFingerprint.AnchorHop == 0,
      s"shift must be a positive AnchorHop multiple, got $shiftSamples")
    wavBytes(8000, new Array[Double](shiftSamples) ++ wavSamples(id))
  }

  private def wavSamples(id: Long): Array[Double] = {
    import graft.operators.AudioFingerprint.{bandEdges, FrameLen, NumBands, NumFrames, FreqLo, FreqHi}
    val target = afpTarget(id)
    val sr = 8000
    val bins = Array.tabulate(NumBands) { m =>
      val k = math.round(math.sqrt(bandEdges(m) * bandEdges(m + 1)) * FrameLen / sr).toInt
      val fk = k.toDouble * sr / FrameLen
      // The hasher's own bin→band mapping must route this tone back to
      // band m — shared function, no hand-copied formula to drift.
      require(fk >= FreqLo && fk < FreqHi &&
        graft.operators.AudioFingerprint.bandIndex(fk) == m,
        s"wavPayload: tone bin $k leaks out of band $m")
      k
    }
    val C = 5.0; val dlt = 0.05
    val e = Array.ofDim[Double](NumFrames, NumBands)
    var n = 0
    while (n < NumFrames) {
      e(n)(NumBands - 1) = C
      var m = NumBands - 2
      while (m >= 0) {
        val d =
          if (n == 0) 0.0
          else {
            val d1 = if (((target >>> m) & 1L) == 1L) dlt else -dlt
            if (n == 1) d1
            else d1 + (if (((target >>> (32 + m)) & 1L) == 1L) dlt else -dlt)
          }
        e(n)(m) = e(n)(m + 1) + d
        m -= 1
      }
      n += 1
    }
    val gain = 300.0
    val x = new Array[Double](NumFrames * FrameLen)
    n = 0
    while (n < NumFrames) {
      var m = 0
      while (m < NumBands) {
        val a = math.sqrt(e(n)(m)) * gain
        val w = 2.0 * math.Pi * bins(m) / FrameLen
        // Rotating-phasor recurrence: sin(w·t) = Im(e^{iwt}) — two
        // multiplies per sample instead of a Math.sin call (this
        // synthesis runs per bench pass over the whole fixture corpus;
        // drift over 4096 steps is ~1e-13, far below the ±0.5
        // quantization the fingerprint margins already absorb).
        val cw = math.cos(w); val sw = math.sin(w)
        var cr = 1.0; var ci = 0.0
        var t = 0
        while (t < FrameLen) {
          x(n * FrameLen + t) += a * ci
          val ncr = cr * cw - ci * sw
          ci = cr * sw + ci * cw
          cr = ncr
          t += 1
        }
        m += 1
      }
      n += 1
    }
    x
  }

  /** Canonical RIFF/WAVE PCM-16 mono container around `x`. */
  private def wavBytes(sr: Int, x: Array[Double]): Array[Byte] = {
    val dataLen = x.length * 2
    val o = new ByteArrayOutputStream()
    def le16o(v: Int): Unit = { o.write(v & 0xff); o.write((v >>> 8) & 0xff) }
    def le32o(v: Int): Unit = { le16o(v & 0xffff); le16o((v >>> 16) & 0xffff) }
    o.write("RIFF".getBytes("US-ASCII")); le32o(36 + dataLen)
    o.write("WAVE".getBytes("US-ASCII"))
    o.write("fmt ".getBytes("US-ASCII")); le32o(16)
    le16o(1); le16o(1)       // PCM, mono
    le32o(sr); le32o(sr * 2) // sample rate, byte rate
    le16o(2); le16o(16)      // block align, bits per sample
    o.write("data".getBytes("US-ASCII")); le32o(dataLen)
    var i = 0
    while (i < x.length) {
      le16o(math.round(x(i)).toInt & 0xffff)
      i += 1
    }
    o.toByteArray
  }

  /** (media_id, payload) frame of synthetic fingerprint-oracle WAV
    * clips, one per input id — generated partition-wise.
    */
  def syntheticWavs(ids: DataFrame): DataFrame = {
    ids.mapPartitions(_.map { r =>
      val id = r.getLong(0)
      Row(id, wavPayload(id))
    })(Encoders.row(mediaIdPayloadSchema))
  }

  /** (media_id, payload) frame of OFFSET-re-encode pairs: ids pair up
    * by `fam = id / 2` — the even member is a clean clip (one base
    * signal per family), the odd member the SAME signal padded with
    * `(1 + fam % 3) · AnchorHop` samples of leading silence. Each pair
    * shares exactly one aligned anchor fingerprint, so the within-pair
    * Hamming-0 match is the closed-form oracle for the multi-anchor
    * shift tolerance.
    *
    * Shifts stop at 3 hops: every clip's frame 0 is spectrally FLAT by
    * construction ([[wavSamples]] — the difference-of-differences bits
    * live in frames 1–2), so a misaligned window whose signal part lies
    * entirely inside frame 0 is identical ACROSS families (silence +
    * flat staircase), and at shift ≥ 2 frames those degenerate windows
    * would cross-pair unrelated clips — a real perceptual-hash property
    * (silence matches silence), not a fixture artifact, kept out of the
    * oracle by capping the shift so every anchor window reaches the
    * family-specific frame 1.
    */
  def syntheticWavsShifted(ids: DataFrame): DataFrame = {
    ids.mapPartitions(_.map { r =>
      val id = r.getLong(0)
      val fam = id / 2
      val base = fam * 5 // one afpTarget family seed per shift family
      val payload =
        if (id % 2 == 0) wavPayload(base)
        else wavPayloadShifted(base,
          (1 + (fam % 3).toInt) * graft.operators.AudioFingerprint.AnchorHop)
      Row(id, payload)
    })(Encoders.row(mediaIdPayloadSchema))
  }

  def payloadFor(id: Long): Array[Byte] = (id % 6) match {
    case 0 => mp4Payload(id)
    case 1 => mp3Payload(id)
    case 2 => webmPayload(id)
    case 3 => flacPayload(id)
    case 4 => oggPayload(id)
    case _ => adtsPayload(id)
  }

  private val mediaIdPayloadSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true)))

  /** (media_id, payload) frame of synthetic container payloads, one per
    * input id — generated partition-wise (pure function of the id; no
    * driver-side materialization).
    */
  def syntheticContainers(ids: DataFrame): DataFrame = {
    ids.mapPartitions(_.map { r =>
      val id = r.getLong(0)
      Row(id, payloadFor(id))
    })(Encoders.row(mediaIdPayloadSchema))
  }
}
