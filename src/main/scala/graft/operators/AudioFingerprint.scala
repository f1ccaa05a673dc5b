package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Audio perceptual-fingerprint dedup: Haitsma–Kalker-shaped spectral
  * fingerprints (Haitsma & Kalker, "A Highly Robust Audio Fingerprinting
  * System", ISMIR 2002) over decoded PCM-WAV payloads, Hamming-banded
  * candidate generation, exact-Hamming verification — the audio half of
  * the multimodal near-dup family ([[PerceptualHash]] is the image
  * half; byte-identical copies are caught by payload hashing, the
  * fingerprint additionally catches re-encodes, level changes and
  * slight edits, which dominate real audio duplication).
  *
  * Fingerprint convention (FIXED — committed fixtures depend on it):
  * an ANCHOR at sample offset `a` hashes the 3 × 4096 samples starting
  * there as three non-overlapping frames; anchors stride by
  * [[AnchorHop]] (half a frame, ≤ [[MaxAnchors]] per clip — the
  * published HK overlapping-frame remedy for offset/trimmed re-encodes,
  * which share an aligned anchor with their original and therefore an
  * identical anchor fingerprint). Per anchor, each frame's
  * rectangular-window DFT energies
  * sum into 33 log-spaced frequency bands between 300 Hz and 2000 Hz
  * (edges `e_j = 300·(2000/300)^(j/33)`, the published band layout);
  * bit `(n−1)·32 + m` of the 64-bit fingerprint (frame n ∈ {1, 2},
  * band-pair m ∈ {0..31}) is set iff the energy-difference-of-
  * differences `(E(n,m) − E(n,m+1)) − (E(n−1,m) − E(n−1,m+1))` is
  * strictly positive — the sign of the time-and-frequency derivative,
  * which survives volume, EQ tilt and re-encoding, is what makes this a
  * perceptual (not cryptographic) hash. Payloads that are not PCM-WAV,
  * are shorter than 3 frames, or whose sample rate cannot carry the
  * 2 kHz band (sr < 4000) produce no signature.
  *
  * Decode coverage: canonical RIFF/WAVE PCM (format 1), 16-bit, any
  * channel count (channels average to mono) — the uncompressed
  * interchange format, parsed by byte arithmetic like [[Multimodal]]'s
  * BMP walk. Compressed codecs stay out of scope (the public-knowledge
  * container boundary [[Multimodal.containerMeta]] documents).
  *
  * Scale shape: fingerprinting is one partition-wise decode pass (the
  * payload never shuffles — 8 bytes of signature per clip leave the
  * scan); pairing reuses [[Dedup.hammingBandPairs]] — 4×16-bit chunk
  * banding with the bucket-size skew cap, exact `bit_count` verify, and
  * an identical-hash pre-pass so mass-duplicate clips surface as
  * O(cluster) star pairs instead of blowing a bucket.
  */
object AudioFingerprint {

  private[graft] val FrameLen = 4096
  private[graft] val NumFrames = 3
  private[graft] val NumBands = 33
  private[graft] val FreqLo = 300.0
  private[graft] val FreqHi = 2000.0

  /** Band edges `e_0 .. e_33` (log-spaced, the HK layout). */
  private[graft] val bandEdges: Array[Double] =
    Array.tabulate(NumBands + 1)(j =>
      FreqLo * math.pow(FreqHi / FreqLo, j.toDouble / NumBands))

  /** Log-band index of frequency `f` — THE bin→band mapping, shared by
    * the coverage check, the energy loop and the fixture builder so the
    * three can never drift. Caller guarantees FreqLo ≤ f < FreqHi.
    */
  private[graft] def bandIndex(f: Double): Int =
    math.min(NumBands - 1,
      (NumBands * math.log(f / FreqLo) / math.log(FreqHi / FreqLo)).toInt)

  /** Band coverage is a function of the sample rate ALONE (bin spacing
    * sr/FrameLen grows with sr, so hi-res rates can leave the narrow
    * low bands with zero DFT bins — their sign bits would degenerate):
    * memoize the verdict per distinct sr instead of re-scanning 2048
    * bins per clip. Per-JVM map — executors each build their own.
    */
  private val coverageBySr =
    new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Boolean]()
  private def allBandsCovered(sr: Int): Boolean =
    coverageBySr.computeIfAbsent(sr, _ => {
      val counts = new Array[Int](NumBands)
      var k = 1
      while (k < FrameLen / 2) {
        val f = k.toDouble * sr / FrameLen
        if (f >= FreqLo && f < FreqHi) counts(bandIndex(f)) += 1
        k += 1
      }
      java.lang.Boolean.valueOf(!counts.contains(0))
    })

  /** Canonical RIFF/WAVE PCM-16 parse → (sampleRate, mono samples).
    * Chunk-walks fmt/data (extra chunks tolerated); anything not
    * format-1 16-bit is None — loud refusal belongs to container
    * gates, a fingerprint pass just skips what it cannot hash.
    */
  private[graft] def wavPcm(p: Array[Byte]): Option[(Int, Array[Double])] = {
    def le16(o: Int): Int = (p(o) & 0xff) | ((p(o + 1) & 0xff) << 8)
    def le32(o: Int): Long =
      (le16(o).toLong & 0xffffL) | ((le16(o + 2).toLong & 0xffffL) << 16)
    if (p.length < 44) return None
    if (!(p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E')) return None
    var off = 12
    // (format, channels, sampleRate, bitsPerSample) — all four fields
    // read from the SAME fmt chunk in one walk, so a malformed WAV with
    // two fmt chunks can't mix fields across them.
    var fmt: Option[(Int, Int, Int, Int)] = None
    var data: Option[(Int, Int)] = None // (offset, length)
    while (off + 8 <= p.length && (fmt.isEmpty || data.isEmpty)) {
      val name = new String(p, off, 4, "US-ASCII")
      val size = le32(off + 4)
      if (size < 0 || off + 8 + size > p.length) return None
      if (name == "fmt " && size >= 16 && fmt.isEmpty)
        fmt = Some((le16(off + 8), le16(off + 10), le32(off + 12).toInt,
          le16(off + 8 + 14)))
      if (name == "data") data = Some((off + 8, size.toInt))
      off += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
    }
    val (format, channels, sr, bitsPerSample) = fmt.getOrElse(return None)
    val (dOff, dLen) = data.getOrElse(return None)
    if (format != 1 || channels < 1 || sr <= 0) return None
    if (bitsPerSample != 16) return None
    val bytesPerFrame = 2 * channels
    val n = dLen / bytesPerFrame
    val mono = new Array[Double](n)
    var i = 0
    while (i < n) {
      var s = 0.0
      var c = 0
      while (c < channels) {
        val o = dOff + i * bytesPerFrame + 2 * c
        s += ((p(o) & 0xff) | (p(o + 1).toInt << 8)).toShort.toDouble
        c += 1
      }
      mono(i) = s / channels
      i += 1
    }
    Some((sr, mono))
  }

  /** In-place iterative radix-2 complex FFT (Cooley–Tukey), length a
    * power of two — textbook form, enough for the fixed 4096 frame.
    */
  private[graft] def fft(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    var j = 0
    var i = 1
    while (i < n) { // bit-reversal permutation
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      i += 1
    }
    var len = 2
    while (len <= n) {
      val ang = -2.0 * math.Pi / len
      val wr = math.cos(ang); val wi = math.sin(ang)
      var base = 0
      while (base < n) {
        var cr = 1.0; var ci = 0.0
        var k = 0
        while (k < len / 2) {
          val ur = re(base + k); val ui = im(base + k)
          val vr = re(base + k + len / 2) * cr - im(base + k + len / 2) * ci
          val vi = re(base + k + len / 2) * ci + im(base + k + len / 2) * cr
          re(base + k) = ur + vr; im(base + k) = ui + vi
          re(base + k + len / 2) = ur - vr; im(base + k + len / 2) = ui - vi
          val ncr = cr * wr - ci * wi
          ci = cr * wi + ci * wr; cr = ncr
          k += 1
        }
        base += len
      }
      len <<= 1
    }
  }

  /** Anchor stride for the multi-anchor (shift-tolerant) fingerprints:
    * half a frame, the published HK remedy for the fixed-window blind
    * spot — a copy offset/trimmed by any multiple of the hop shares an
    * aligned anchor with its original, so the two clips carry an
    * IDENTICAL anchor signature and pair at Hamming 0. [[MaxAnchors]]
    * bounds per-clip decode work (FFTs = 3 × anchors): tolerance is
    * shifts up to `(MaxAnchors − 1) · AnchorHop` samples (≈1.8 s at
    * 8 kHz), provided ≥ 3 frames of audio remain shared.
    */
  private[graft] val AnchorHop = FrameLen / 2
  private[graft] val MaxAnchors = 8

  /** Validated decode shared by the fingerprint entry points: None when
    * the payload cannot carry a fingerprint (wrong container/codec, too
    * short, sample rate below 2·FreqHi, or an empty band at this sample
    * rate — e.g. 96 kHz → 23.4 Hz bin spacing vs band 0's ~17 Hz width,
    * see [[allBandsCovered]]).
    */
  private def decoded(payload: Array[Byte]): Option[(Int, Array[Double])] = {
    val (sr, mono) = wavPcm(payload).getOrElse(return None)
    if (sr < 2 * FreqHi.toInt) return None
    if (mono.length < NumFrames * FrameLen) return None
    if (!allBandsCovered(sr)) return None
    Some((sr, mono))
  }

  /** The 64-bit HK hash of the 3 frames starting at sample `off` —
    * caller guarantees `off + NumFrames·FrameLen ≤ mono.length` and
    * band coverage.
    */
  private def hashAt(mono: Array[Double], sr: Int, off: Int): Long = {
    val energies = Array.ofDim[Double](NumFrames, NumBands)
    var n = 0
    while (n < NumFrames) {
      val re = new Array[Double](FrameLen)
      val im = new Array[Double](FrameLen)
      System.arraycopy(mono, off + n * FrameLen, re, 0, FrameLen)
      fft(re, im)
      var k = 1
      while (k < FrameLen / 2) {
        val f = k.toDouble * sr / FrameLen
        if (f >= FreqLo && f < FreqHi)
          energies(n)(bandIndex(f)) += re(k) * re(k) + im(k) * im(k)
        k += 1
      }
      n += 1
    }
    var hash = 0L
    var fn = 1
    while (fn < NumFrames) {
      var b = 0
      while (b < NumBands - 1) {
        val dd = (energies(fn)(b) - energies(fn)(b + 1)) -
          (energies(fn - 1)(b) - energies(fn - 1)(b + 1))
        if (dd > 0) hash |= 1L << ((fn - 1) * 32 + b)
        b += 1
      }
      fn += 1
    }
    hash
  }

  /** The ANCHOR-0 64-bit HK fingerprint of a PCM-WAV payload, or None
    * when the payload cannot carry it — the single-signature face the
    * streaming twin keys its per-event state on (bounded decode cost
    * per arrival). Batch/ingest paths use [[fingerprints]], which adds
    * the shifted anchors.
    */
  def fingerprint(payload: Array[Byte]): Option[Long] =
    decoded(payload).map { case (sr, mono) => hashAt(mono, sr, 0) }

  /** ALL anchor fingerprints of a PCM-WAV payload: one 64-bit HK hash
    * per [[AnchorHop]]-strided window that fully fits (≤ [[MaxAnchors]],
    * duplicates collapsed). A clip of exactly 3 frames carries one
    * anchor (identical to [[fingerprint]]); longer clips additionally
    * carry the shifted views that make offset/trimmed re-encodes pair —
    * see [[AnchorHop]] for the tolerance contract.
    */
  def fingerprints(payload: Array[Byte]): Seq[Long] =
    decoded(payload) match {
      case None => Nil
      case Some((sr, mono)) =>
        val fit = (mono.length - NumFrames * FrameLen) / AnchorHop + 1
        val nAnchors = math.min(MaxAnchors, fit)
        (0 until nAnchors).map(a => hashAt(mono, sr, a * AnchorHop)).distinct
    }

  private val sigSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("afp", LongType, nullable = false)))

  /** (media_id, afp) signatures — one partition-wise decode pass, no
    * payload shuffle; undecodable payloads drop (they cannot near-dup).
    * One row per DISTINCT anchor fingerprint ([[fingerprints]]): a
    * 3-frame clip carries exactly one, longer clips up to [[MaxAnchors]]
    * — the shift-tolerant multi-anchor shape every batch/ingest pairing
    * path consumes (pairs report the MIN Hamming over anchor combos).
    */
  def signatures(
      media: DataFrame,
      idCol: String = "media_id",
      payloadCol: String = "payload"
  ): DataFrame = {
    media
      .select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .mapPartitions(_.flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
        else fingerprints(r.getAs[Array[Byte]](1))
          .map(h => Row(r.getLong(0), h)).iterator
      })(Encoders.row(sigSchema))
  }

  /** Near-dup pairs `(doc_a, doc_b, hamming)` at Hamming ≤ `maxHamming`
    * over the corpus' fingerprints — identical-hash star pre-pass +
    * [[Dedup.hammingBandPairs]], the [[PerceptualHash.dedup]] shape.
    */
  def dedup(
      media: DataFrame,
      maxHamming: Int = 2,
      maxBucketSize: Int = 256,
      idCol: String = "media_id",
      payloadCol: String = "payload"
  ): DataFrame =
    // The lineage cut is load-bearing: the signature frame feeds three
    // consumers (identical-hash window, banding join sides) and without
    // it every consumer re-DECODES the corpus — FFT work × 3.
    dedupFromSignatures(
      graft.plans.Materialize(signatures(media, idCol, payloadCol)),
      maxHamming, maxBucketSize)

  /** Incremental audio near-dup: a shard of clips against the PERSISTED
    * fingerprint index of the corpus ([[signatures]] output) — only the
    * shard is DECODED; the corpus contributes its 8-byte fingerprints.
    * Output exactly equals [[dedup]] over (corpus ∪ shard) restricted
    * to pairs touching ≥ 1 shard id (ids must be disjoint) — the
    * [[PerceptualHash.dedupIncremental]] contract, audio edition.
    */
  def dedupIncremental(
      shard: DataFrame,
      corpusSigs: DataFrame,
      maxHamming: Int = 2,
      maxBucketSize: Int = 256,
      idCol: String = "media_id",
      payloadCol: String = "payload"
  ): DataFrame = {
    // Same load-bearing cut as [[dedup]]: the shard decodes ONCE.
    dedupIncrementalSigs(
      graft.plans.Materialize(signatures(shard, idCol, payloadCol)),
      corpusSigs, maxHamming, maxBucketSize)
  }

  /** [[dedupIncremental]] when the SHARD's fingerprints are already in
    * hand (the shard-ingest step just persisted them as its state
    * increment) — skips the second WAV-parse + FFT pass over the shard
    * payloads, which dominates this operator's cost. Both frames are
    * [[signatures]] output; shard ids must be disjoint from corpus ids.
    */
  def dedupIncrementalSigs(
      shardSigs: DataFrame,
      corpusSigs: DataFrame,
      maxHamming: Int = 2,
      maxBucketSize: Int = 256
  ): DataFrame = {
    require(corpusSigs.columns.sorted.sameElements(Array("afp", "media_id")),
      s"not an audio signatures frame (columns ${corpusSigs.columns.mkString(",")}); " +
        "build it with AudioFingerprint.signatures")
    require(shardSigs.columns.sorted.sameElements(Array("afp", "media_id")),
      s"not an audio signatures frame (columns ${shardSigs.columns.mkString(",")}); " +
        "build it with AudioFingerprint.signatures")
    Dedup.sigDedupIncremental(
      shardSigs.select(col("media_id").cast("long"), col("afp").cast("long").as("sig")),
      corpusSigs.select(col("media_id").cast("long"), col("afp").cast("long").as("sig")),
      maxHamming, maxBucketSize)
  }

  private def dedupFromSignatures(
      sigs: DataFrame,
      maxHamming: Int,
      maxBucketSize: Int
  ): DataFrame =
    // The shared 64-bit-signature core (Dedup.sigDedupPairs) — one
    // implementation for the image and audio families.
    Dedup.sigDedupPairs(
      sigs.select(col("media_id"), col("afp").as("sig")),
      maxHamming, maxBucketSize)
}
