package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Video near-dup over STORED-RAW-FRAME clips — the third leg of the
  * multimodal family beside [[PerceptualHash]] (image) and
  * [[AudioFingerprint]] (audio). A clip is a concatenation of
  * fixed-size stored raw frames (`frameBytes` each — the
  * [[Multimodal.sampleFrames]] lattice; decoding COMPRESSED codecs
  * stays out of scope, the public-knowledge container boundary
  * [[Multimodal.containerMeta]] documents). Every `stride`-th frame
  * gets a 64-bit dHash ([[PerceptualHash.dhash]] — BMP walk native,
  * ImageIO fallback), and clips roll up to pair level by the count of
  * SHARED frame signatures (exact equality — re-encoded near-identical
  * frames hash identically under dHash's sign structure, which is the
  * perceptual point), the winnowing join shape: a clip pair with
  * `shared_frames ≥ minShared` is a near-dup, and the ubiquity cap
  * drops signatures held by more than `maxBucketSize` clips (black
  * frames, title cards, station idents — exactly the mass-shared
  * frames that would otherwise go quadratic AND that carry no
  * dedup signal).
  *
  * Scale shape: one partition-wise slice+hash pass per clip — the
  * payload never shuffles, 8 bytes per sampled frame leave the scan;
  * pairing is [[Dedup.fpSharedPairs]] (ubiquity-capped inverted-index
  * join, output-sized shuffles).
  */
object VideoFingerprint {

  private val sigSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("vfp", LongType, nullable = false)))

  /** (media_id, vfp) per-frame signatures, DISTINCT per clip (a clip
    * repeating a frame carries it once — the shared-count metric is
    * over frame SETS, like winnowing's fingerprint sets). One
    * partition-wise decode pass; frames that fail to hash (not a raw
    * frame this parser reads) drop.
    */
  def signatures(
      media: DataFrame,
      frameBytes: Int,
      stride: Int = 1,
      idCol: String = "media_id",
      payloadCol: String = "payload"
  ): DataFrame = {
    require(frameBytes > 0, s"frameBytes must be positive, got $frameBytes")
    require(stride > 0, s"stride must be positive, got $stride")
    val frames = Multimodal.sampleFrames(
      media.select(col(idCol).cast("long").as("media_id"),
        col(payloadCol).cast("binary").as("payload")),
      frameBytes, stride)
    frames.select("media_id", "frame_bytes")
      .mapPartitions(_.flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
        else PerceptualHash.dhash(r.getAs[Array[Byte]](1))
          .map(h => Row(r.getLong(0), h)).iterator
      })(Encoders.row(sigSchema))
      .dropDuplicates("media_id", "vfp")
  }

  /** The DISTINCT sorted per-frame signature set of ONE clip payload —
    * the single-row form of [[signatures]], byte-identical to the
    * DataFrame lattice (same `ceil(len / frameBytes)` frame count, same
    * stride walk, same dropped-empty-slice rule; parity asserted in
    * ExtensionsSpec) so the streaming twin
    * ([[graft.streaming.StreamingPredicates.videoNearDupStream]]) and
    * the batch operator agree signature-for-signature.
    */
  def clipSignatures(
      payload: Array[Byte], frameBytes: Int, stride: Int = 1): Array[Long] = {
    require(frameBytes > 0, s"frameBytes must be positive, got $frameBytes")
    require(stride > 0, s"stride must be positive, got $stride")
    if (payload == null || payload.isEmpty) return Array.empty[Long]
    val nFrames = (payload.length + frameBytes - 1) / frameBytes
    val out = scala.collection.mutable.SortedSet.empty[Long]
    var i = 0
    while (i < nFrames) {
      val slice = java.util.Arrays.copyOfRange(
        payload, i * frameBytes, math.min((i + 1) * frameBytes, payload.length))
      if (slice.nonEmpty) PerceptualHash.dhash(slice).foreach(out += _)
      i += stride
    }
    out.toArray
  }

  /** Near-dup clip pairs `(doc_a, doc_b, shared_frames)` with
    * `shared_frames ≥ minShared` distinct frame signatures in common —
    * [[Dedup.fpSharedPairs]] over the clip corpus' frame signatures.
    */
  def dedup(
      media: DataFrame,
      frameBytes: Int,
      minShared: Long = 2L,
      stride: Int = 1,
      maxBucketSize: Int = 256,
      idCol: String = "media_id",
      payloadCol: String = "payload"
  ): DataFrame =
    // Lineage cut: the signature frame feeds the ubiquity count and
    // both join sides — without it every consumer re-slices and
    // re-hashes the whole clip corpus.
    Dedup.fpSharedPairs(
      graft.plans.Materialize(
        signatures(media, frameBytes, stride, idCol, payloadCol)
          .select(col("media_id").as("doc_id"), col("vfp").as("fp"))),
      minShared, maxBucketSize)
      .withColumnRenamed("shared_fps", "shared_frames")

  /** Incremental video near-dup: a shard of clips against the PERSISTED
    * frame-signature index of the corpus ([[signatures]] output) — only
    * the shard is ever sliced and hashed; the corpus contributes its
    * 8-byte signatures. Output exactly equals [[dedup]] over
    * (corpus ∪ shard) restricted to pairs touching ≥ 1 shard id (the
    * ubiquity cap re-evaluates over the union, as in batch; ids must
    * be disjoint).
    */
  def dedupIncremental(
      shard: DataFrame,
      corpusSigs: DataFrame,
      frameBytes: Int,
      minShared: Long = 2L,
      stride: Int = 1,
      maxBucketSize: Int = 256,
      idCol: String = "media_id",
      payloadCol: String = "payload"
  ): DataFrame =
    dedupIncrementalSigs(
      graft.plans.Materialize(
        signatures(shard, frameBytes, stride, idCol, payloadCol)),
      corpusSigs, minShared, maxBucketSize)

  /** [[dedupIncremental]] when the SHARD's signatures are already in
    * hand (the shard-ingest step just persisted them as its state
    * increment) — skips the second slice+hash pass over the shard
    * payloads. Both frames are [[signatures]] output.
    */
  def dedupIncrementalSigs(
      shardSigs: DataFrame,
      corpusSigs: DataFrame,
      minShared: Long = 2L,
      maxBucketSize: Int = 256
  ): DataFrame = {
    require(corpusSigs.columns.sorted.sameElements(Array("media_id", "vfp")),
      s"not a video signatures frame (columns ${corpusSigs.columns.mkString(",")}); " +
        "build it with VideoFingerprint.signatures")
    require(shardSigs.columns.sorted.sameElements(Array("media_id", "vfp")),
      s"not a video signatures frame (columns ${shardSigs.columns.mkString(",")}); " +
        "build it with VideoFingerprint.signatures")
    Dedup.fpSharedPairsIncremental(
      shardSigs.select(col("media_id").cast("long").as("doc_id"), col("vfp").as("fp")),
      corpusSigs.select(col("media_id").cast("long").as("doc_id"), col("vfp").as("fp")),
      minShared, maxBucketSize)
      .withColumnRenamed("shared_fps", "shared_frames")
  }
}
