package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Texts

/** Deduplication operators for document corpora at training-data scale.
  *
  * Scale notes: exact dedup is one hash-aggregate shuffle on the text (or
  * its hash); MinHash-LSH shuffles only (band_id, band_hash, doc_id) pairs
  * — b rows per doc, never the text — and joins candidates within tiny
  * hash buckets, so the quadratic verify step touches only bucket-local
  * pairs. Signatures are computed with pure array expressions (no UDFs,
  * no explode) to stay inside whole-stage codegen.
  */
object Dedup {

  /** Exact duplicate groups by full text equality: one representative
    * (min doc_id) per group plus the duplicate count.
    *
    * Shuffles the full text as the group key — exact and SQL-oracle
    * friendly; prefer [[exactByHash]] at corpus scale.
    */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .groupBy(col(textCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))
      .select(col("keep_id"), col("n_docs"))

  /** Exact-dedup scale shape: group on (xxhash64(text), length(text)) —
    * the shuffle carries 16 bytes per document instead of the document.
    * A collision would need equal 64-bit hashes AND equal lengths on
    * different texts (~2⁻⁶⁴ per candidate pair); deployments that must
    * be collision-proof re-verify groups with a second keyed hash.
    */
  def exactByHash(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .groupBy(xxhash64(col(textCol)).as("__h"), length(col(textCol)).as("__len"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))
      .select(col("keep_id"), col("n_docs"))

  /** SOFT dedup — reweight instead of remove: every copy of a
    * duplicated text is KEPT and assigned weight `1 / group size`, so a
    * weighted sampler or loss sees each distinct text with total mass 1
    * (the downweighting alternative to removal when hard dedup would
    * bias the mix — the repeat-discounting regime data-constrained
    * scaling work studies, e.g. Muennighoff et al., "Scaling
    * Data-Constrained Language Models", NeurIPS 2023).
    *
    * Scale shape: the [[exactByHash]] discipline — group sizes
    * aggregate on the 16-byte `(xxhash64, length)` key (map-side
    * combine; the text never shuffles) and join back on the same thin
    * key. Weights are deterministic, so the catalog oracle replays
    * exactly (grouped on the text itself — the 2⁻⁶⁴-collision
    * [[exactByHash]] caveat applies here identically).
    *
    * @return (doc_id, n_copies, weight) — one row per INPUT doc.
    */
  def softDedupWeights(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val sizes = docs
      .groupBy(xxhash64(col(textCol)).as("__h"), length(col(textCol)).as("__l"))
      .agg(count(lit(1)).as("n_copies"))
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        xxhash64(col(textCol)).as("__h"), length(col(textCol)).as("__l"))
      .join(sizes, Seq("__h", "__l"))
      .select(col("doc_id"), col("n_copies"),
        round(lit(1.0) / col("n_copies"), 6).as("weight"))
  }

  /** MinHash signature as a column expression: for each of `numHashes`
    * seeded hash functions, the min `xxhash64` over the document's distinct
    * word `shingleN`-gram shingles. NOTE: `transform` is an interpreted
    * higher-order function — fine for tests/small frames; the scale path is
    * [[minhashSignatures]] (explode + codegen hash-aggregate).
    */
  def minhashSignature(text: org.apache.spark.sql.Column, numHashes: Int, shingleN: Int) = {
    val sh = Texts.distinctShingles(text, shingleN)
    array((0 until numHashes).map { i =>
      coalesce(array_min(transform(sh, s => xxhash64(lit(i), s))), lit(Long.MaxValue))
    }: _*)
  }

  /** Per-document minhash banding computed in COMPILED Scala —
    * bit-identical to the expression forms ([[minhashSignature]] for the
    * signature, `concat_ws` of `Texts.distinctShingles` for the packed
    * shingles, `xxhash64(band, sig…)` for the band buckets; parity
    * asserted in ExtensionsSpec against the expressions themselves and
    * in StreamingSpec end-to-end vs batch). The streaming ingest path
    * uses this instead of the expressions because Catalyst evaluates
    * higher-order array lambdas INTERPRETED, per element: 64 hash
    * lambdas × shingles × re-derived shingle arrays measured ~400×
    * slower than this single-pass loop (the batch path keeps its own
    * codegen explode+aggregate shape and doesn't need this).
    *
    * Faithfulness notes: `lower` is `UTF8String.toLowerCase` (Spark's
    * `lower()`, not java.lang.String's), the token split keeps trailing
    * empties (Spark `split(_, "\\s+")` = limit −1), shingle joining and
    * first-occurrence dedup match `concat_ws`/`array_distinct`, and the
    * hashes chain exactly like the `XxHash64` expression
    * (`hashInt(seed_child, 42)` then per-child continuation).
    *
    * @return None when the doc has no shingles (< `shingleN` tokens) —
    *         the expression path's `size(__sh) > 0` filter; otherwise
    *         (packed shingles joined by `sep`, band bucket hashes).
    */
  private[graft] def minhashBandRow(
      text: String,
      numHashes: Int,
      bands: Int,
      shingleN: Int,
      sep: String): Option[(String, Array[Long])] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.types.UTF8String
    // Null text banded to nothing, like the expression path (null
    // shingle array → filtered) — a bad row must not kill the stream.
    if (text == null) return None
    val rowsPerBand = numHashes / bands
    val toks = UTF8String.fromString(text).toLowerCase.toString.split("\\s+", -1)
    if (toks.length < shingleN) return None
    val distinct = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + shingleN <= toks.length) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < shingleN) { sb.append(' ').append(toks(i + j)); j += 1 }
      distinct.add(sb.toString)
      i += 1
    }
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val it = distinct.iterator()
    val packed = new java.lang.StringBuilder()
    var firstSh = true
    while (it.hasNext) {
      val s = it.next()
      if (!firstSh) packed.append(sep)
      packed.append(s)
      firstSh = false
      val u = UTF8String.fromString(s)
      var seed = 0
      while (seed < numHashes) {
        val h = XXH64.hashUTF8String(u, XXH64.hashInt(seed, 42L))
        if (h < sig(seed)) sig(seed) = h
        seed += 1
      }
    }
    val buckets = Array.tabulate(bands) { b =>
      var h = XXH64.hashInt(b, 42L)
      var r = 0
      while (r < rowsPerBand) { h = XXH64.hashLong(sig(b * rowsPerBand + r), h); r += 1 }
      h
    }
    Some((packed.toString, buckets))
  }

  /** Distinct word n-gram shingles as rows `(doc_id, s)` — the corpus-scale
    * shingle path: posexplode tokens, assemble n-grams with `lead` over a
    * per-doc window, dedupe. Fully codegen-friendly; the array-expression
    * variant (`Texts.distinctShingles`) costs ~1 ms/doc because Spark
    * evaluates higher-order array lambdas interpreted, per element.
    * The repartition parallelizes single-partition input files AND
    * pre-clusters by doc_id for the window and downstream group-bys.
    */
  def shingleRows(
      docs: DataFrame,
      shingleN: Int,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    windowRows(docs, shingleN, textCol, idCol)
      .select(col("doc_id"), col("w").as("s"))
      .dropDuplicates("doc_id", "s")

  /** MinHash signatures for a whole corpus: shingle rows → one codegen'd
    * hash-aggregate taking `numHashes` `min(xxhash64(seed, s))` columns.
    * Docs with fewer than `shingleN` tokens produce no signature.
    *
    * @return (doc_id, h0..h{numHashes-1})
    */
  def minhashSignatures(
      docs: DataFrame,
      numHashes: Int,
      shingleN: Int,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val mins = (0 until numHashes).map(i => min(xxhash64(lit(i), col("s"))).as(s"h$i"))
    shingleRows(docs, shingleN, textCol, idCol).groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** MinHash + LSH near-duplicate candidate pairs, verified by exact
    * Jaccard over distinct shingles.
    *
    * Pipeline: signature (narrow) → band rows (explode b id-only rows/doc)
    * → bucket-size cap → bucket self-join on (band, band hash) → distinct
    * candidate id pairs → re-attach shingle arrays by doc_id → exact
    * Jaccard → threshold filter.
    *
    * Scale safeguards (both essential at corpus scale):
    *   - the bucket join carries ONLY (band, bucket, doc_id) — shingle
    *     arrays are re-joined after pair dedup, so the potentially
    *     quadratic stage shuffles a few dozen bytes per row;
    *   - buckets larger than `maxBucketSize` are dropped before the join
    *     (standard skew guard: giant buckets are low-information, and true
    *     near-dup pairs almost surely co-occur in another, smaller band
    *     bucket out of the `bands` chances).
    *
    * @return (doc_a, doc_b, jaccard) with doc_a < doc_b.
    */
  /** The per-document minhash index: one row per doc carrying its
    * distinct-shingle set (for exact-Jaccard verification) and all
    * `numHashes` min-hash columns (for LSH banding) — computed in ONE
    * shingle pass + one per-doc hash-aggregate (shingleRows pre-clusters
    * by doc_id, so the aggregate is shuffle-free).
    *
    * This is both [[minhashLsh]]'s internal frame and the PERSISTED
    * contract for [[minhashLshIncremental]]: write it once per corpus
    * (`index.write.bucketBy(n, "doc_id").saveAsTable(...)` on a cluster —
    * the verification join then reads it pre-clustered), then dedup each
    * incoming shard against it without ever re-shingling the corpus.
    *
    * Covers EVERY doc: `(ehash, elen)` (the 64-bit exact-text hash plus
    * the text length — the same compound key as [[exactByHash]], so a
    * bare hash collision cannot conflate distinct texts) drives the
    * incremental exact-duplicate pre-pass, so even docs too short to
    * shingle (null signature columns, empty `sh`) are dedupable against
    * the corpus. Only rows with non-null signatures are banded.
    *
    * FORMAT NOTE: `ehash` was added in the round-6 index format and
    * `elen` in round-7 — [[minhashLshIncremental]] refuses an index
    * missing either column with an explicit re-index message rather than
    * failing downstream with an unresolved-column error.
    *
    * @return (doc_id, ehash: long, elen: int, sh: array<string>,
    *         h0..h{numHashes-1}: long — null when the doc has no shingles)
    */
  def minhashIndex(
      docs: DataFrame,
      numHashes: Int = 64,
      shingleN: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val mins = (0 until numHashes).map(i => min(xxhash64(lit(i), col("s"))).as(s"h$i"))
    val sigs = shingleRows(docs, shingleN, textCol, idCol)
      .groupBy("doc_id")
      .agg(collect_set(col("s")).as("sh"), mins: _*)
    // The ehash side carries 16 bytes/doc through one hash-join; the
    // aggregate side is already clustered by doc_id from shingleRows'
    // repartition. Left join keeps shingle-less docs (null h*, empty sh).
    docs
      .select(
        col(idCol).as("doc_id"),
        xxhash64(col(textCol)).as("ehash"),
        length(col(textCol)).as("elen"))
      .join(sigs, Seq("doc_id"), "left")
      .withColumn("sh", coalesce(col("sh"), array().cast("array<string>")))
  }

  /** (doc_id, band, bucket) rows from an index frame's signature columns:
    * hash each `rowsPerBand`-wide slice to one bucket key per band — a
    * narrow projection, ids and 16-byte keys only.
    */
  private def bandRowsOf(perDoc: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    perDoc
      .select(
        col("doc_id"),
        explode(array((0 until bands).map { b =>
          val slice = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
          struct(
            lit(b).as("band"),
            xxhash64(lit(b) +: slice: _*).as("bucket"))
        }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
  }

  /** MinHash + LSH near-duplicate pairs with an exact-duplicate pre-pass:
    * identical texts collapse to one representative (min doc_id), emitted
    * as linear star pairs `(rep, member, jaccard = 1.0)`; banding and
    * verification then run on representatives only. Same rationale and
    * transitive-closure equivalence as [[simhash]] — mass-identical
    * boilerplate can no longer be silently dropped by `maxBucketSize`,
    * and (a strict improvement) identical docs too short to shingle are
    * now reported too.
    */
  def minhashLsh(
      docs: DataFrame,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleN: Int = 3,
      maxBucketSize: Int = 64,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")

    val (reps, star) = exactClusters(docs, textCol, idCol)
    val starPairs = star.withColumn("jaccard", lit(1.0))

    // The index frame feeds everything and is materialized once — it has
    // three consumers (band rows + both verification join sides).
    // Materialize (not persist): blocks are freed by the ContextCleaner
    // when the frame goes out of scope, where a CacheManager entry would
    // leak per call and mask timings of later runs. collect_set order is
    // arbitrary; array_intersect/array_union sizes are order-invariant.
    val perDoc = graft.plans.Materialize(
      minhashIndex(reps, numHashes, shingleN, textCol, idCol))

    val shingled = perDoc.select(col("doc_id"), col("sh"))

    val bandRows = bandRowsOf(perDoc.filter(col("h0").isNotNull), numHashes, bands)

    // Bucket-size cap via a window count: partitions by (band, bucket),
    // which the self-join below then reuses — no extra shuffle.
    val wBucket = Window.partitionBy("band", "bucket")
    val capped = bandRows
      .withColumn("bsize", count(lit(1)).over(wBucket))
      .filter(col("bsize") <= maxBucketSize)
      .select("band", "bucket", "doc_id")

    val a = capped.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
    val b = capped.select(col("band"), col("bucket"), col("doc_id").as("doc_b"))
    val candidates = a
      .join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")

    candidates
      .join(shingled.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(shingled.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn(
        "jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .unionByName(starPairs)
  }

  /** Incremental near-dup detection: dedup an incoming shard against an
    * existing corpus INDEX ([[minhashIndex]], typically persisted as a
    * bucketed table) — the production ingest loop. The corpus is never
    * re-shingled: its band rows and shingle sets are narrow projections of
    * the index. Emits exactly the [[minhashLsh]]-on-the-union pairs that
    * involve at least one new document (corpus-internal pairs were
    * reported when the corpus itself was ingested); the bucket-size cap is
    * evaluated over the COMBINED band rows, so results match the full run
    * (DedupIncrementalSpec asserts parity, jaccard values included).
    *
    * Scale shape: the index is touched only by COLUMNAR SCANS — a
    * shard-restriction pre-pass (broadcast semi-joins on the shard's
    * exact-cluster keys and 64-bit band buckets) cuts the union to the
    * corpus rows that can reach a shard-touching pair BEFORE any
    * exchange, exactly (identical text implies identical cluster key
    * and band rows, so clusters and probed buckets are retrieved whole;
    * everything outside the cut lands only in buckets whose candidate
    * join has an empty new-doc side).
    *
    * New doc ids must be disjoint from the index's ids.
    *
    * @param index the persisted [[minhashIndex]] of the existing corpus,
    *              built with the SAME numHashes/shingleN.
    * @return (doc_a, doc_b, jaccard) with doc_a < doc_b, each pair
    *         touching ≥1 new doc.
    */
  def minhashLshIncremental(
      newDocs: DataFrame,
      index: DataFrame,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleN: Int = 3,
      maxBucketSize: Int = 64,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // Explicit format gate: an index persisted before the exact-dup
    // columns existed would otherwise die mid-plan on an
    // unresolved-column error. Fail fast with the remedy instead.
    require(index.columns.contains("ehash") && index.columns.contains("elen"),
      "corpus index is missing the exact-duplicate columns (ehash, elen) — " +
        "it was persisted with an older minhashIndex format; re-index the " +
        "corpus with minhashIndex (same numHashes/shingleN) before " +
        "incremental dedup")

    val newPerDoc = graft.plans.Materialize(
      minhashIndex(newDocs, numHashes, shingleN, textCol, idCol))

    // SHARD-RESTRICTION pre-pass (the chunkKeys discipline, minhash
    // face): identical text implies identical (ehash, elen) AND
    // identical band rows, so an exact cluster — and every member of
    // every shard-probed band bucket — is retrieved whole or not at
    // all: union-level rep election, star pairs, and bucket caps are
    // unchanged on the cut, and corpus rows outside it land only in
    // non-probed buckets, whose candidate joins have an empty new-doc
    // side. (The one theoretical exception: a 2^-64 xxhash64+length
    // collision — same (ehash, elen), different text — makes a
    // "cluster" whose members' band rows differ, so the band-bucket
    // path can retrieve it partially; the shard-key path still
    // retrieves any cluster the shard itself touches whole.) The index is touched only by COLUMNAR SCANS (a map-side
    // band explode + broadcast semi-joins) — never a corpus-sized
    // exchange. Broadcasts are shard-bounded: cluster keys and band
    // keys come from the shard (ingest batches are sized), and the
    // touched-id set is the shard's 64-bit-bucket collision set —
    // near-dup candidates, not the corpus.
    val shardClusterKeys = newPerDoc.select("ehash", "elen").distinct()
    val shardBandKeys = bandRowsOf(
        newPerDoc.filter(col("h0").isNotNull), numHashes, bands)
      .select("band", "bucket").distinct()
    val touchedBandIds = bandRowsOf(
        index.filter(col("h0").isNotNull), numHashes, bands)
      .join(broadcast(shardBandKeys), Seq("band", "bucket"), "left_semi")
      .select("doc_id").distinct()
    val restrictedIndex = graft.plans.Materialize(
      index.join(broadcast(shardClusterKeys), Seq("ehash", "elen"), "left_semi")
        .unionByName(
          index.join(broadcast(touchedBandIds), Seq("doc_id"), "left_semi"))
        .dropDuplicates("doc_id"))

    // Union-level exact clusters from the `(ehash, elen)` columns — the
    // incremental face of [[minhashLsh]]'s pre-pass, WITHOUT re-hashing
    // any corpus text: rep = min doc_id across corpus + shard (the
    // (doc_id, __new) struct-min carries whether the rep is a new doc),
    // star pairs touching >=1 new doc are emitted at jaccard 1.0, and
    // only representatives proceed to banding — so results still match
    // the full run on the union exactly.
    val unionIds = newPerDoc
      .select(col("doc_id"), col("ehash"), col("elen"), lit(true).as("__new"))
      .unionByName(
        restrictedIndex.select(col("doc_id"), col("ehash"), col("elen"), lit(false).as("__new")))
    val wEhash = Window.partitionBy("ehash", "elen")
    val repStruct = min(struct(col("doc_id"), col("__new"))).over(wEhash)
    val withRep = unionIds
      .withColumn("__rep", repStruct.getField("doc_id"))
      .withColumn("__repNew", repStruct.getField("__new"))
    val starPairs = withRep
      .filter(col("doc_id") =!= col("__rep") && (col("__new") || col("__repNew")))
      .select(col("__rep").as("doc_a"), col("doc_id").as("doc_b"), lit(1.0).as("jaccard"))
    val repIds = withRep.filter(col("doc_id") === col("__rep")).select("doc_id", "__new")

    // Combined band rows over REPRESENTATIVES, tagged by side: the cap
    // must see TOTAL bucket size (a bucket can be degenerate only across
    // the union), and the candidate join's left side is restricted to new
    // docs so no corpus-internal pair is ever generated. Shingle-less
    // reps (null signatures) are exact-dedupable only.
    val newReps = newPerDoc
      .join(repIds.filter(col("__new")).select("doc_id"), Seq("doc_id"), "left_semi")
    val corpusReps = restrictedIndex
      .join(repIds.filter(!col("__new")).select("doc_id"), Seq("doc_id"), "left_semi")
    val allBands = bandRowsOf(newReps.filter(col("h0").isNotNull), numHashes, bands)
      .withColumn("__new", lit(true))
      .unionByName(
        bandRowsOf(corpusReps.filter(col("h0").isNotNull), numHashes, bands)
          .withColumn("__new", lit(false)))
    val wBucket = Window.partitionBy("band", "bucket")
    val capped = allBands
      .withColumn("bsize", count(lit(1)).over(wBucket))
      .filter(col("bsize") <= maxBucketSize)
      .select(col("band"), col("bucket"), col("doc_id"), col("__new"))

    val a = capped.filter(col("__new"))
      .select(col("band"), col("bucket"), col("doc_id").as("ida"))
    val b = capped.select(col("band"), col("bucket"), col("doc_id").as("idb"))
    val candidates = a
      .join(b, Seq("band", "bucket"))
      .filter(col("ida") =!= col("idb"))
      .select(
        least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")

    val shingled = newPerDoc.select(col("doc_id"), col("sh"))
      .unionByName(restrictedIndex.select(col("doc_id"), col("sh")))

    candidates
      .join(shingled.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(shingled.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn(
        "jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .unionByName(starPairs)
  }

  /** Duplicate CLUSTERS from near-dup pairs: connected components with the
    * min doc id as each cluster's representative — the step that turns any
    * pairwise dedup output ([[minhashLsh]], [[ngramJaccard]], [[simhash]],
    * [[embeddingNearDup]]) into an actionable keep/drop decision (keep the
    * representative, drop the rest).
    *
    * Algorithm: iterative min-label propagation — each round every node
    * takes the min of its own label and its neighbors' labels, until a
    * fixpoint (≤ graph diameter rounds; duplicate clusters are small and
    * dense, so typically 2-3). Each round is one co-partitioned join + one
    * map-side-combining aggregate on the node id, with a lineage cut per
    * round ([[graft.plans.Materialize]]) so the plan stays flat. The edge
    * list carries only id pairs. (For adversarial long-chain graphs the
    * alternating large-star/small-star variant halves round counts; dedup
    * graphs don't need it.)
    *
    * @return (doc_id, cluster_rep) for every node that appears in `pairs`
    *         (singleton documents have no row — they are their own keeper).
    */
  def duplicateClusters(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b"
  ): DataFrame = {
    // The per-round lineage cut is load-bearing here, not an optimization:
    // without it, round k's plan nests k self-joins and the convergence
    // count() re-executes the whole chain — combinatorial blow-up. So it
    // cuts under `spark.graft.checkpoint=off` (plan-inspection mode) too.
    val e = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
    // The symmetric edge list is STATIC across rounds — materialize it
    // hash(dst)-partitioned once, so every round's neighbor join
    // re-exchanges only the (much thinner, shrinking-churn) label side,
    // never the edges.
    val edges = graft.plans.Materialize.always(
      e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
        .repartition(col("dst")))
    var labels = graft.plans.Materialize.always(
      edges.select(col("src").as("id")).distinct().withColumn("lbl", col("id")))
    var changed = 1L
    while (changed > 0) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("lbl").as("dlbl")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min("dlbl").as("nlbl"))
      // The previous label rides the materialized frame as `old`, so the
      // convergence check is a filter-count over the cut blocks instead
      // of a second labels join (one fewer join + scan per round).
      val next = graft.plans.Materialize.always(
        labels
          .join(neighborMin, Seq("id"), "left")
          .select(
            col("id"),
            least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"),
            col("lbl").as("old")))
      changed = next.filter(col("lbl") =!= col("old")).count()
      labels = next.select("id", "lbl")
    }
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_rep"))
  }

  /** Quality-aware keep/drop decision over near-dup clusters: instead of
    * [[duplicateClusters]]' min-id representative, keep the HIGHEST-scored
    * member of each cluster (ties → min id) — the policy real pipelines
    * run ("keep the longest / highest-quality copy", e.g. the document
    * selection step in CCNet-style curation), since crawl order is
    * arbitrary but quality is not.
    *
    * `scores` is any `(doc_id, score)` frame — document length, an LM
    * perplexity rank, a classifier margin. Plan shape: the cluster pass is
    * [[duplicateClusters]] unchanged; the selection adds one co-keyed join
    * (cluster rows × scores, both keyed by doc_id) and one window over
    * `cluster_rep` — near-dup clusters are small and numerous, so the
    * window partitions are tiny and the extra cost is one thin shuffle of
    * `(doc_id, cluster_rep, score)` rows.
    *
    * @return (doc_id, cluster_rep, score, keep) for every clustered doc —
    *         exactly one `keep=true` row per cluster. Singletons (docs in
    *         no pair) have no row; they are implicitly kept, as in
    *         [[duplicateClusters]].
    */
  def keepBest(
      pairs: DataFrame,
      scores: DataFrame,
      idCol: String = "doc_id",
      scoreCol: String = "score"
  ): DataFrame = {
    val clusters = duplicateClusters(pairs)
    val scored = clusters.join(
      scores.select(col(idCol).cast("long").as("doc_id"),
        col(scoreCol).as("score")),
      Seq("doc_id"))
    val w = Window.partitionBy("cluster_rep")
      .orderBy(col("score").desc, col("doc_id").asc)
    scored
      .withColumn("keep", row_number().over(w) === 1)
      .select("doc_id", "cluster_rep", "score", "keep")
  }

  /** Exact embedding-cosine near-dup pairs: all (a < b) pairs with
    * cosine ≥ threshold. O(N²) by design — the SQL-oracle-friendly
    * reference path; [[embeddingNearDup]] is the LSH-bucketed scale path.
    */
  def embeddingNearDupExact(
      vectors: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val a = vectors.select(col(idCol).as("doc_a"), col(vecCol).as("va"))
    val b = vectors.select(col(idCol).as("doc_b"), col(vecCol).as("vb"))
    a.crossJoin(b)
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), Similarity.cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Embedding-cosine near-dup pairs at corpus scale: banded
    * random-hyperplane LSH buckets ([[Similarity.hyperplaneBuckets]])
    * generate candidates, exact cosine verifies. Same scale safeguards as
    * [[minhashLsh]]: the candidate join and pair dedup shuffle ids only
    * (vectors re-join after), and buckets above `maxBucketSize` are
    * dropped before the quadratic self-join.
    *
    * @return (doc_a, doc_b, cos) with doc_a < doc_b, cos ≥ threshold.
    */
  def embeddingNearDup(
      vectors: DataFrame,
      threshold: Double,
      bands: Int = 32,
      bitsPerBand: Int = 4,
      maxBucketSize: Int = 256,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val base = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    val wBucket = Window.partitionBy("band", "bucket")
    val capped = Similarity.hyperplaneBuckets(base, bands, bitsPerBand, "id", "v")
      .withColumn("bsize", count(lit(1)).over(wBucket))
      .filter(col("bsize") <= maxBucketSize)
      .select("band", "bucket", "id")

    val a = capped.select(col("band"), col("bucket"), col("id").as("doc_a"))
    val b = capped.select(col("band"), col("bucket"), col("id").as("doc_b"))
    val pairs = a
      .join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")

    pairs
      .join(base.select(col("id").as("doc_a"), col("v").as("va")), Seq("doc_a"))
      .join(base.select(col("id").as("doc_b"), col("v").as("vb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), Similarity.cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup semantic dedup (Abbas, Tirumala, Simig, Ganguli & Morcos,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", 2023, arXiv:2303.09540): cluster
    * the embedding space with the IVF coarse quantizer
    * ([[Similarity.ivfCentroids]] — k-means, hash-seeded), compare
    * cosine ONLY within a cluster, and whenever two members are semantic
    * duplicates (cosine ≥ threshold) drop the one MORE similar to its
    * cluster centroid — the paper's keep-the-least-typical rule (ties
    * broken by ascending id). A member is kept iff no preceding member
    * (lower centroid-sim, then lower id) in its cluster duplicates it —
    * one local, deterministic pass, no iterative components.
    *
    * Scale shape (the paper's tractability argument): clustering bounds
    * the quadratic comparison to within-cluster pairs — O(N²/nlist)
    * total at balanced clusters, and the auto `nlist = ⌈√N⌉` makes that
    * O(N^1.5). The only corpus-sized exchange is the self-join keyed on
    * the cluster id (parallelism = nlist); centroid assignment and
    * scoring are map-side against the broadcast centroid array (zero
    * exchanges). Duplicate relations that cross cluster boundaries are
    * missed by design; `nprobe > 1` soft-assigns each vector to its
    * `nprobe` nearest clusters for the comparison (relations compared
    * when ANY probed cluster is shared), recovering boundary pairs for
    * an `nprobe×` comparison volume — measured pair recall vs the exact
    * all-pairs oracle is committed in RECALL.json and asserted in
    * ExtensionsSpec. `nprobe = 1` is the paper's exact procedure.
    *
    * @return (idCol, cid, csim, keep) — one row per input vector: its
    *         primary cluster, centroid cosine, and the keep/drop
    *         decision.
    */
  def semDeDup(
      vectors: DataFrame,
      threshold: Double = 0.95,
      nlist: Int = 0,
      nprobe: Int = 1,
      refineIters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val resolvedNlist = Similarity.resolveNlist(vectors, nlist, idCol)
    val cents = graft.plans.Materialize(
      Similarity.ivfCentroids(vectors, resolvedNlist, refineIters, idCol, vecCol))
    semDeDup(vectors, cents, threshold, nprobe, idCol, vecCol)
  }

  /** [[semDeDup]] against a fitted centroid table ([[Similarity.ivfCentroids]],
    * fresh or read back from storage) — the persistable-cluster-state
    * overload: the centroid fit is the only corpus-global step, so with
    * it persisted the whole decision pass is one map-side assignment plus
    * the cluster-keyed comparison join.
    */
  def semDeDup(
      vectors: DataFrame,
      centroids: DataFrame,
      threshold: Double,
      nprobe: Int,
      idCol: String,
      vecCol: String
  ): DataFrame = {
    val probed = semProbed(vectors, centroids, nprobe, idCol, vecCol)
    semDecide(probed, probed, threshold, idCol)
  }

  /** Incremental SemDeDup: keep/drop decisions for an incoming shard
    * against a standing corpus, reusing PERSISTED cluster state (the
    * centroid table) instead of refitting — completing the shard-ingest
    * story ([[minhashLshIncremental]] / [[embeddingNearDupIncremental]]
    * for the semantic family).
    *
    * Semantics: a shard member's decision in the one-pass keep rule
    * depends only on members PRECEDING it in the keep order (ascending
    * centroid-sim, ties by id) — and precedence is a function of the
    * vectors, not of the predecessors' own keep status. Standing-corpus
    * rows are frozen (ingest never revisits them), so shard-row output is
    * EXACTLY the full-corpus [[semDeDup]] run (same centroids) restricted
    * to shard ids — parity asserted in ExtensionsSpec. New ids must be
    * disjoint from corpus ids.
    *
    * Scale shape: assignment stays map-side for both frames; the only
    * corpus-sized exchange is the cluster-keyed comparison join, now with
    * the shard on the probe side — comparison volume is
    * O(|shard|·cluster), not O(N²/nlist).
    *
    * @return (idCol, cid, csim, keep) for the SHARD rows only.
    */
  def semDeDupIncremental(
      newVectors: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      threshold: Double = 0.95,
      nprobe: Int = 1,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val newProbed = semProbed(newVectors, centroids, nprobe, idCol, vecCol)
    val allProbed = newProbed.unionByName(
      semProbed(corpus, centroids, nprobe, idCol, vecCol))
    semDecide(newProbed, allProbed, threshold, idCol)
  }

  /** One probed row per (vector, one of its nprobe nearest clusters);
    * cid/csim stay the PRIMARY cluster — the keep order and the output
    * are single-assignment regardless of nprobe.
    */
  private def semProbed(
      vectors: DataFrame,
      centroids: DataFrame,
      nprobe: Int,
      idCol: String,
      vecCol: String
  ): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val base = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    Similarity.scoredCentroids(base, centroids)
      .select(
        col("id"),
        col("v"),
        element_at(col("ranked"), 1).getField("cid").as("cid"),
        element_at(col("ranked"), 1).getField("csim").as("csim"),
        explode(slice(col("ranked"), 1, nprobe)).as("t"))
      .select(col("id"), col("v"), col("cid"), col("csim"), col("t.cid").as("pcid"))
  }

  /** The keep/drop pass over probed rows: a `deciding` member x drops
    * when some `pool` member y sharing a probed cluster and PRECEDING it
    * in the keep order (ascending centroid-sim, ties by id) has
    * cosine(x, y) >= threshold. The cheap precedence predicate runs
    * before the cosine.
    */
  private def semDecide(
      deciding: DataFrame,
      pool: DataFrame,
      threshold: Double,
      idCol: String
  ): DataFrame = {
    val other = pool
      .select(col("pcid"), col("id").as("idb"), col("v").as("vb"), col("csim").as("csimb"))
    val dropped = deciding.join(other, Seq("pcid"))
      .filter(col("idb") =!= col("id"))
      .filter(col("csimb") < col("csim") ||
        (col("csimb") === col("csim") && col("idb") < col("id")))
      .filter(Similarity.cosine(col("v"), col("vb")) >= threshold)
      .select(col("id"))
      .distinct()

    deciding
      .select(col("id"), col("cid"), col("csim"))
      .dropDuplicates("id")
      .join(dropped.withColumn("__drop", lit(true)), Seq("id"), "left")
      .select(
        col("id").as(idCol),
        col("cid"),
        col("csim"),
        not(coalesce(col("__drop"), lit(false))).as("keep"))
  }

  /** Incremental embedding near-dup: an incoming shard of vectors against
    * the standing corpus — the ingest-loop shape ([[minhashLshIncremental]]
    * for embeddings). The hyperplane signatures are DETERMINISTIC
    * functions of the vector (hash-seeded planes, no fitted state), so
    * both frames bucket identically with no persisted index beyond the
    * corpus itself; the bucket-size cap is evaluated over the COMBINED
    * bucket rows and the candidate join's left side is restricted to new
    * ids, so results equal [[embeddingNearDup]] on the union restricted
    * to pairs touching ≥1 new vector (parity asserted in tests). New ids
    * must be disjoint from corpus ids. Scale shape: the corpus is
    * touched only by COLUMNAR SCANS — bucket signatures project
    * map-side during the scan, the cap is an aggregate bounded by the
    * bands × 2^bitsPerBand keyspace (broadcast back as a filter), and
    * the shard side broadcasts into the candidate join, so no
    * corpus-sized row set is ever shuffled.
    *
    * @return (doc_a, doc_b, cos) with doc_a < doc_b, cos ≥ threshold,
    *         each pair touching ≥1 new vector.
    */
  def embeddingNearDupIncremental(
      newVectors: DataFrame,
      corpus: DataFrame,
      threshold: Double,
      bands: Int = 32,
      bitsPerBand: Int = 4,
      maxBucketSize: Int = 256,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val newBase = graft.plans.Materialize(
      newVectors.select(col(idCol).as("id"), col(vecCol).as("v")))
    val corpusBase = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))

    // ZERO-corpus-exchange shape: signatures are deterministic per
    // vector, so the corpus' bucket rows compute MAP-SIDE (projection
    // during the scan). The bucket keyspace is bands × 2^bitsPerBand —
    // small by construction — so the cap is an AGGREGATE whose exchange
    // carries at most that many rows (map-side combine), broadcast back
    // as a semi-join filter; the probe side (shard rows in surviving
    // buckets, shard-bounded) broadcasts against the corpus bucket
    // stream, so candidate generation never shuffles a corpus row
    // either. The only shuffles left are the shard-side cut, the pair
    // dedup (output-sized), and the verify join — where the candidate
    // side is the small one.
    val shardBuckets = graft.plans.Materialize(
      Similarity.hyperplaneBuckets(newBase, bands, bitsPerBand, "id", "v"))
    val corpusBuckets = Similarity
      .hyperplaneBuckets(corpusBase, bands, bitsPerBand, "id", "v")
    val allBuckets = shardBuckets.withColumn("__new", lit(true))
      .unionByName(corpusBuckets.withColumn("__new", lit(false)))
    val okBuckets = allBuckets
      .groupBy("band", "bucket").agg(count(lit(1)).as("bsize"))
      .filter(col("bsize") <= maxBucketSize)
      .select("band", "bucket")

    val a = shardBuckets
      .join(broadcast(okBuckets), Seq("band", "bucket"), "left_semi")
      .select(col("band"), col("bucket"), col("id").as("ida"))
    val b = allBuckets
      .join(broadcast(okBuckets), Seq("band", "bucket"), "left_semi")
      .select(col("band"), col("bucket"), col("id").as("idb"))
    val pairs = b
      .join(broadcast(a), Seq("band", "bucket"))
      .filter(col("ida") =!= col("idb"))
      .select(
        least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")

    val vecs = newBase.unionByName(corpusBase)
    pairs
      .join(vecs.select(col("id").as("doc_a"), col("v").as("va")), Seq("doc_a"))
      .join(vecs.select(col("id").as("doc_b"), col("v").as("vb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), Similarity.cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Ranked inverted shingle index for the prefix-filtered exact joins:
    * `(doc_id, n, s, rk)` where `n` is the doc's distinct-shingle count
    * and `rk` ranks the doc's shingles by ascending corpus document
    * frequency (ties by shingle value) — a GLOBAL order shared by every
    * doc, so "the rk ≤ p rarest shingles of a doc" is a well-defined
    * prefix in the AllPairs sense. Materialized once (the
    * [[graft.plans.Materialize]] lineage cut): every caller feeds it to
    * three consumers — two candidate-join sides and the verification
    * arrays — and the df join + two windows are too expensive to
    * recompute per consumer.
    */
  private def rankedShingleIndex(inv0: DataFrame): DataFrame =
    graft.plans.Materialize(rankedShingleRows(inv0))

  /** The un-materialized [[rankedShingleIndex]] — used directly by
    * [[ngramIndex]], whose single consumer is a parquet write (a
    * lineage cut there would double the I/O for nothing).
    */
  private def rankedShingleRows(inv0: DataFrame): DataFrame =
    // Document frequency as a whole-partition window count instead of
    // the former groupBy(s) + join back: that shape consumed `inv0`
    // TWICE (the window branch and the dfreq branch — the expensive
    // shingle explode ran once per branch) and paid a third exchange
    // for the aggregate side. Here inv0 computes once and the plan is
    // exactly two exchanges: hash(s) for the df window, hash(doc_id)
    // shared by the n window and the rk sort. Identical values — a
    // partition-wide count over s IS count(*) group by s.
    inv0
      .withColumn("df", count(lit(1)).over(Window.partitionBy("s")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
      .select(col("doc_id"), col("n"), col("s"), col("rk"))

  /** Prefix-length bound `|x| − ⌈t·|x|⌉ + 1` (pigeonhole: a doc meeting
    * overlap ⌈t·|x|⌉ with anything must put at least one SHARED shingle
    * among its that-many rarest). The 1e-9 slack keeps `ceil` from
    * rounding a float-noise hair above an exact integer — it can only
    * lengthen the prefix, never break completeness.
    */
  private def prefixLen(n: org.apache.spark.sql.Column, t: Double) =
    n - ceil(lit(t) * n - lit(1e-9)) + 1

  /** Exact n-gram-Jaccard near-dup pairs, prefix-filtered (AllPairs /
    * PPJoin family — Bayardo et al., "Scaling Up All Pairs Similarity
    * Search", WWW 2007): instead of the naive co-occurrence join on
    * EVERY shared shingle (quadratic in document frequency — stopwords
    * make it explode), candidates come from joining only each doc's
    * `|x| − ⌈t·|x|⌉ + 1` RAREST shingles (global df order). The prefix
    * lemma makes this exact: J(A,B) ≥ t forces an overlap ≥ ⌈t·|x|⌉ on
    * both sides, so the two prefixes must share a shingle. A length
    * filter (`min ≥ t·max`, also implied by J ≥ t) and the PPJoin
    * positional filter prune further, then
    * surviving pairs get their true intersection from a map-side
    * `array_intersect` over per-doc shingle arrays (the [[minhashLsh]]
    * verification shape — candidate-count rows shuffled once, no
    * per-shingle row explosion). Same results as the naive co-occurrence
    * plan with far less quadratic work; note the output itself can be
    * Ω(pairs) on low-entropy corpora — no candidate scheme beats the
    * size of the answer.
    */
  def ngramJaccard(
      docs: DataFrame,
      threshold: Double,
      shingleN: Int = 1,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val inv = rankedShingleIndex(shingleRows(docs, shingleN, textCol, idCol))
    val prefix = inv.filter(col("rk") <= prefixLen(col("n"), threshold))
    val pa = prefix.select(col("s"), col("doc_id").as("doc_a"),
      col("n").as("n_a"), col("rk").as("rk_a"))
    val pb = prefix.select(col("s"), col("doc_id").as("doc_b"),
      col("n").as("n_b"), col("rk").as("rk_b"))
    // Positional filter (PPJoin, Xiao et al. WWW'08): the globally first
    // shared shingle of a qualifying pair generates a row whose ranks
    // bound the overlap by 1 + min(remaining-suffix lengths); rows that
    // can't reach the required overlap ⌈t/(1+t)·(n_a+n_b)⌉ die map-side
    // BEFORE the pair-dedup shuffle (keep-if-any-row-passes is complete
    // because that first shared shingle minimizes both ranks at once).
    val cand = pa.join(pb, Seq("s"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(least(col("n_a"), col("n_b")) >=
        lit(threshold) * greatest(col("n_a"), col("n_b")) - lit(1e-9))
      .filter(lit(1) + least(col("n_a") - col("rk_a"), col("n_b") - col("rk_b")) >=
        ceil(lit(threshold / (1 + threshold)) * (col("n_a") + col("n_b")) - lit(1e-9)))
      .select("doc_a", "doc_b", "n_a", "n_b")
      .dropDuplicates("doc_a", "doc_b")
    // Verify: per-doc shingle arrays (the rk window already clustered inv
    // by doc_id, so the collect_set aggregate is shuffle-free), joined to
    // the candidate pairs, intersected map-side.
    val sets = inv.groupBy("doc_id").agg(collect_set(col("s")).as("sh"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Exact n-gram CONTAINMENT near-dup pairs — the asymmetric overlap
    * `|A∩B| / min(|A|, |B|)` (Broder's containment, "On the resemblance
    * and containment of documents", SEQUENCES 1997): catches SUBSET
    * duplication — a short document embedded verbatim in a longer one
    * (boilerplate-wrapped articles, quoted reposts, page-in-site) —
    * which symmetric Jaccard structurally misses because the big
    * document's union denominator dilutes the overlap toward 0 however
    * complete the containment is. Prefix-filtered like [[ngramJaccard]],
    * with the asymmetric twist the min-denominator forces: containment
    * only bounds the overlap against the SMALLER set (⌈t·min⌉), so the
    * candidate join pairs each doc's rarest-shingle prefix against the
    * FULL index (not prefix×prefix — the larger doc's matching shingle
    * can sit anywhere in its frequency order), and there is no length
    * filter (a 4-word doc can be fully contained in a 4000-word one —
    * that asymmetry is the operator's entire point). Thresholds are NOT
    * comparable between the two metrics (containment ≥ jaccard always).
    *
    * @return (doc_a, doc_b, containment) with doc_a < doc_b; the
    *         contained (smaller-set) side is whichever of the two has
    *         min n — the pair orientation stays id-ordered.
    */
  def ngramContainment(
      docs: DataFrame,
      threshold: Double,
      shingleN: Int = 1,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val inv = rankedShingleIndex(shingleRows(docs, shingleN, textCol, idCol))
    val prefix = inv.filter(col("rk") <= prefixLen(col("n"), threshold))
    val pa = prefix.select(col("s"), col("doc_id").as("doc_x"),
      col("n").as("n_x"), col("rk").as("rk_x"))
    val full = inv.select(col("s"), col("doc_id").as("doc_y"),
      col("n").as("n_y"), col("rk").as("rk_y"))
    val cand = pa.join(full, Seq("s"))
      .filter(col("doc_x") =!= col("doc_y"))
      // Positional filter, min-denominator form: required overlap is
      // ⌈t·min⌉; the first shared shingle bounds what's reachable.
      .filter(lit(1) + least(col("n_x") - col("rk_x"), col("n_y") - col("rk_y")) >=
        ceil(lit(threshold) * least(col("n_x"), col("n_y")) - lit(1e-9)))
      .select(
        least(col("doc_x"), col("doc_y")).as("doc_a"),
        greatest(col("doc_x"), col("doc_y")).as("doc_b"),
        when(col("doc_x") < col("doc_y"), col("n_x")).otherwise(col("n_y")).as("n_a"),
        when(col("doc_x") < col("doc_y"), col("n_y")).otherwise(col("n_x")).as("n_b"))
      .dropDuplicates("doc_a", "doc_b")
    val sets = inv.groupBy("doc_id").agg(collect_set(col("s")).as("sh"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("containment",
        col("inter").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
  }

  /** Persistable inverted shingle index for the incremental ngram ops:
    * `(doc_id, s, n, rk)` — the corpus's distinct doc-shingle rows with
    * each doc's set size `n` and a per-doc shingle permutation `rk`
    * (1..n, ranked by ascending df within THIS build, ties by shingle).
    * All four columns are pure functions of the indexed docs, so the
    * index is ADDITIVE: batches written independently union into the
    * standing corpus index with zero recompute — `n` because docs never
    * span batches, `rk` because the incremental probes only use a
    * prefix's SIZE (per-doc pigeonhole: ANY `n − ⌈t·n⌉ + 1` of a doc's
    * shingles must contain an element of every qualifying overlap),
    * never a cross-doc rank order, so a batch-local ranking stays valid
    * forever. Ascending-df-at-build-time simply picks the statistically
    * rarest shingles for the stored prefixes — better candidate
    * selectivity, not a correctness requirement.
    *
    * Write once per batch (bucketed by `s` in production so shard joins
    * co-locate); build with the SAME shingleN — it rides on the `n`
    * column's schema metadata and survives a parquet round-trip, so a
    * config-mismatched index fails fast instead of silently producing
    * wrong pairs.
    */
  def ngramIndex(
      docs: DataFrame,
      shingleN: Int = 1,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("shingle_n", shingleN.toLong).build()
    rankedShingleRows(shingleRows(docs, shingleN, textCol, idCol))
      .select(col("doc_id"), col("s"), col("n").as("n", meta), col("rk"))
  }

  /** Shared entry validation for the incremental ngram ops: column
    * shape, then the shingleN the index was built with (metadata-borne —
    * see [[ngramIndex]]).
    */
  private def requireNgramIndex(
      index: DataFrame, shingleN: Int, where: String): Unit = {
    require(index.columns.sorted.sameElements(Array("doc_id", "n", "rk", "s")),
      s"not an ngramIndex frame (columns ${index.columns.mkString(",")}); " +
        "re-build it with Dedup.ngramIndex (same shingleN)")
    val meta = index.schema("n").metadata
    require(meta.contains("shingle_n"),
      s"$where: index carries no shingle_n metadata — " +
        "re-build it with Dedup.ngramIndex")
    require(meta.getLong("shingle_n") == shingleN.toLong,
      s"$where: index was built with shingle_n=${meta.getLong("shingle_n")} " +
        s"but the query uses shingle_n=$shingleN — re-index with Dedup.ngramIndex")
  }

  /** Shard shingle rows with the per-doc set size `n` — the probe-side
    * frame every incremental ngram op starts from, materialized because
    * each op consumes it 3–4 times (df delta, probe ranking, build
    * side, verification sets). O(shard) work only.
    */
  private def shardShingleFrame(
      newDocs: DataFrame, shingleN: Int, textCol: String, idCol: String): DataFrame =
    graft.plans.Materialize(
      shingleRows(newDocs, shingleN, textCol, idCol)
        .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id"))))

  /** Union-level document frequencies restricted to SHARD-PRESENT
    * shingles — the only shingles a shard doc's probe prefix can rank
    * by. The corpus contribution is a semi-restricted aggregate over the
    * persisted index: a columnar SCAN (linear I/O, the same cost class
    * as the substring family's count-index read), but only rows whose
    * shingle the shard contains enter the shuffle — per-shard shuffle
    * work is O(shard-related rows), never O(corpus).
    */
  private def shardRestrictedDf(shard: DataFrame, index: DataFrame): DataFrame = {
    val shardDf = shard.groupBy("s").agg(count(lit(1)).as("df_s"))
    val corpusDf = index.join(shardDf.select("s"), Seq("s"), "leftsemi")
      .groupBy("s").agg(count(lit(1)).as("df_c"))
    shardDf.join(corpusDf, Seq("s"), "left")
      .select(col("s"), (col("df_s") + coalesce(col("df_c"), lit(0L))).as("df"))
  }

  /** Incremental exact n-gram Jaccard: an incoming shard's shingles
    * probed against the persisted [[ngramIndex]] — the corpus is never
    * re-shingled, re-ranked or re-counted. Output exactly equals
    * [[ngramJaccard]] over (corpus ∪ shard) restricted to pairs touching
    * ≥1 shard id (parity asserted; ids must be disjoint).
    *
    * Scale shape — per-shard work is O(shard + candidates), never
    * O(union): the only corpus-wide step left is the columnar SCAN of
    * the index (same cost class as the substring family's count-index
    * read — I/O, no shuffle of non-matching rows). Candidate generation
    * is shard-PREFIX × union-FULL: the per-doc pigeonhole makes it
    * complete without any shared global order — J(x,y) ≥ t forces
    * overlap ≥ ⌈t·n_x⌉, so any `n_x − ⌈t·n_x⌉ + 1` of x's shingles
    * contain an overlap element — which is what lets corpus docs
    * participate WITHOUT recomputing their ranks under the union's
    * document frequencies (the old shape re-derived union df + per-doc
    * rank windows over ALL persisted rows each shard, making ingest ≈
    * recuration). The shard's probe prefixes still rank by TRUE union df
    * (shard counts + a shard-semi-restricted corpus aggregate) for
    * selectivity; the length filter and a one-sided positional filter
    * (valid per-doc: the first shared shingle in x's own order bounds
    * the overlap by `1 + n_x − rk_x`) prune map-side; verification
    * aggregates shingle sets only for candidate docs.
    */
  def ngramJaccardIncremental(
      newDocs: DataFrame,
      index: DataFrame,
      threshold: Double,
      shingleN: Int = 1,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    requireNgramIndex(index, shingleN, "ngramJaccardIncremental")
    val shard = shardShingleFrame(newDocs, shingleN, textCol, idCol)
    val probe = shard.join(shardRestrictedDf(shard, index), Seq("s"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
      .filter(col("rk") <= prefixLen(col("n"), threshold))
      .select(col("s"), col("doc_id").as("doc_x"),
        col("n").as("n_x"), col("rk").as("rk_x"))
    val build = index.select(col("s"), col("doc_id").as("doc_y"), col("n").as("n_y"))
      .unionByName(shard.select(col("s"), col("doc_id").as("doc_y"), col("n").as("n_y")))
    val cand = graft.plans.Materialize(
      probe.join(build, Seq("s"))
        .filter(col("doc_x") =!= col("doc_y"))
        .filter(least(col("n_x"), col("n_y")) >=
          lit(threshold) * greatest(col("n_x"), col("n_y")) - lit(1e-9))
        .filter(lit(1) + col("n_x") - col("rk_x") >=
          ceil(lit(threshold / (1 + threshold)) * (col("n_x") + col("n_y")) - lit(1e-9)))
        .select(
          least(col("doc_x"), col("doc_y")).as("doc_a"),
          greatest(col("doc_x"), col("doc_y")).as("doc_b"),
          when(col("doc_x") < col("doc_y"), col("n_x")).otherwise(col("n_y")).as("n_a"),
          when(col("doc_x") < col("doc_y"), col("n_y")).otherwise(col("n_x")).as("n_b"))
        .dropDuplicates("doc_a", "doc_b"))
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
    val sets = index.select("doc_id", "s")
      .unionByName(shard.select("doc_id", "s"))
      .join(candIds, Seq("doc_id"), "leftsemi")
      .groupBy("doc_id").agg(collect_set(col("s")).as("sh"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Incremental exact n-gram CONTAINMENT: an incoming shard's shingles
    * probed against the persisted [[ngramIndex]] — the corpus is never
    * re-shingled, re-ranked or re-counted ([[ngramJaccardIncremental]]'s
    * shape, containment edition). Containment's required overlap is
    * `⌈t·min(n_x, n_y)⌉` — only the SMALLER doc's prefix is guaranteed
    * to witness a qualifying pair — so candidates need BOTH
    * orientations: (1) shard-PREFIX × union-FULL (the shard doc is the
    * smaller side), with the probe prefixes union-df-ranked exactly like
    * the Jaccard op; (2) the index's STORED per-doc prefixes × the
    * shard's full rows (a small corpus doc embedded in a big shard doc).
    * Orientation 2 is what the stored `rk` permutation exists for: the
    * per-doc pigeonhole needs only the prefix's SIZE (`n − ⌈t·n⌉ + 1` of
    * the doc's shingles, ANY of them), so the write-time batch-local
    * ranking stays complete forever and corpus prefixes never recompute
    * — the filter is a map-side scan predicate over index rows. The
    * shard side of that join broadcasts (an ingest shard is bounded;
    * the corpus side must stream past it, not shuffle).
    *
    * Output exactly equals [[ngramContainment]] over (corpus ∪ shard)
    * restricted to pairs touching ≥1 shard id (parity asserted in
    * ExtensionsSpec; ids must be disjoint).
    */
  def ngramContainmentIncremental(
      newDocs: DataFrame,
      index: DataFrame,
      threshold: Double,
      shingleN: Int = 1,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    requireNgramIndex(index, shingleN, "ngramContainmentIncremental")
    val shard = shardShingleFrame(newDocs, shingleN, textCol, idCol)
    val pShard = shard.join(shardRestrictedDf(shard, index), Seq("s"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
      .filter(col("rk") <= prefixLen(col("n"), threshold))
      .select(col("s"), col("doc_id").as("doc_x"),
        col("n").as("n_x"), col("rk").as("rk_x"))
    val fullAll = index.select(col("s"), col("doc_id").as("doc_y"), col("n").as("n_y"))
      .unionByName(shard.select(col("s"), col("doc_id").as("doc_y"), col("n").as("n_y")))
    val pIdx = index.filter(col("rk") <= prefixLen(col("n"), threshold))
      .select(col("s"), col("doc_id").as("doc_x"),
        col("n").as("n_x"), col("rk").as("rk_x"))
    val fullShard = broadcast(
      shard.select(col("s"), col("doc_id").as("doc_y"), col("n").as("n_y")))
    val cand = graft.plans.Materialize(
      pShard.join(fullAll, Seq("s"))
        .unionByName(pIdx.join(fullShard, Seq("s")))
        .filter(col("doc_x") =!= col("doc_y"))
        // One-sided positional filter (valid per-doc: the first shared
        // shingle in x's OWN order bounds the overlap by 1 + n_x − rk_x
        // — no cross-doc rank comparison, so batch-local ranks qualify).
        .filter(lit(1) + col("n_x") - col("rk_x") >=
          ceil(lit(threshold) * least(col("n_x"), col("n_y")) - lit(1e-9)))
        .select(
          least(col("doc_x"), col("doc_y")).as("doc_a"),
          greatest(col("doc_x"), col("doc_y")).as("doc_b"),
          when(col("doc_x") < col("doc_y"), col("n_x")).otherwise(col("n_y")).as("n_a"),
          when(col("doc_x") < col("doc_y"), col("n_y")).otherwise(col("n_x")).as("n_b"))
        .dropDuplicates("doc_a", "doc_b"))
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
    val sets = index.select("doc_id", "s")
      .unionByName(shard.select("doc_id", "s"))
      .join(candIds, Seq("doc_id"), "leftsemi")
      .groupBy("doc_id").agg(collect_set(col("s")).as("sh"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("containment",
        col("inter").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
  }

  /** SimHash near-dup pairs: 64-bit signatures, banded into 4×16-bit
    * chunks for candidate generation (Hamming distance ≤ k implies some
    * chunk matches for k < 4), verified by exact Hamming distance.
    */
  /** SimHash signatures for a whole corpus via the codegen'd explode +
    * aggregate path (same rationale as [[minhashSignatures]]): per bit,
    * sum ±1 votes from each token's xxhash64 bit, emit the sign bit.
    */
  def simhashSignatures(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val ex = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(Texts.tokens(col("__text"))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val votes = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"v$b")
    }
    ex.groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(
        col("doc_id"),
        (0 until 64)
          .map(b => when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _)
          .as("sig"))
  }

  /** SimHash near-dup pairs with an exact-duplicate pre-pass.
    *
    * Identical texts are first collapsed to one representative per
    * exact-hash cluster (min doc_id), emitted as linear STAR pairs
    * `(rep, member, hamming = 0)` — so a corpus with millions of copies
    * of the same boilerplate (the exact input dedup targets) reports its
    * duplicates in O(cluster) pairs instead of being silently dropped by
    * the bucket cap (or exploding into O(cluster²) pairs). Banding then
    * runs on representatives only; rep-level near-dup pairs plus the star
    * edges give the same transitive closure (connected components) as
    * all-pairs output. After the pre-pass, the `maxBucketSize` skew guard
    * only ever drops DISTINCT texts that collide on a 16-bit chunk —
    * inspect [[simhashCappedBuckets]] to see what a given cap would drop.
    */
  def simhash(
      docs: DataFrame,
      maxHamming: Int = 3,
      maxBucketSize: Int = 256,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val (reps, star) = exactClusters(docs, textCol, idCol)
    val starPairs = star.withColumn("hamming", lit(0))
    hammingBandPairs(simhashSignatures(reps, textCol, idCol), maxHamming, maxBucketSize)
      .unionByName(starPairs)
  }

  /** Persistable SimHash index: `(doc_id, ehash, elen, sig)` — the
    * exact-text compound key (so union-level exact clusters never
    * re-read corpus text) plus the 64-bit signature. Write once per
    * corpus; shard ingest goes through [[simhashIncremental]]. Docs with
    * no tokens carry a null `sig` (they band nowhere but still join
    * exact clusters). SimHash signatures are deterministic functions of
    * the text, so index and fresh computation always agree.
    */
  def simhashIndex(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    docs
      .select(
        col(idCol).as("doc_id"),
        xxhash64(col(textCol)).as("ehash"),
        length(col(textCol)).cast("long").as("elen"))
      .join(simhashSignatures(docs, textCol, idCol), Seq("doc_id"), "left")

  /** Incremental SimHash near-dup: an incoming shard against the
    * PERSISTED [[simhashIndex]] of the corpus — the shard is tokenized
    * and signed, the corpus contributes only its `(id, ehash, elen,
    * sig)` index rows (never re-tokenized). Union-level exact clusters
    * rebuild from the compound keys (a small-id shard doc can take over
    * a cluster's representative, reshaping its star pairs — same
    * contract as the other `*Incremental` families), banding runs over
    * the union's distinct-text representatives' signatures.
    *
    * Scale shape (the [[sigDedupIncremental]] discipline, cluster
    * edition): the corpus index is touched only by COLUMNAR SCANS. The
    * star pass cuts the union to exact-(ehash, elen) matches of the
    * shard (broadcast semi-join — tiny). The band pass pays exactly ONE
    * thin exchange: a map-side chunk explode + broadcast semi-join on
    * the shard's probed 4×16-bit buckets feeds a
    * (chunk, key, ehash, elen) aggregate electing each cluster's union
    * rep bucket-locally — exact because identical text implies an
    * identical signature, so a cluster's members share its buckets —
    * with the cap window and probe-broadcast candidate join reusing
    * that partitioning. Pairs between two corpus reps are never
    * generated; a non-probed bucket holds no shard rep, so its pairs
    * were corpus-internal and discarded in the old symmetric join
    * anyway.
    *
    * @return (doc_a, doc_b, hamming) — exactly [[simhash]] over
    *         (corpus ∪ shard) restricted to pairs touching ≥1 shard id
    *         (parity asserted in DedupIncrementalSpec). Shard ids must
    *         be disjoint from the index's.
    */
  def simhashIncremental(
      newDocs: DataFrame,
      index: DataFrame,
      maxHamming: Int = 3,
      maxBucketSize: Int = 256,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(index.columns.sorted.sameElements(Array("doc_id", "ehash", "elen", "sig")),
      s"not a simhashIndex frame (columns ${index.columns.mkString(",")}); " +
        "re-build it with Dedup.simhashIndex")
    // Materialized: the shard index feeds the star pass, the band pass,
    // and the key broadcasts — without the cut, tokenize+sign would
    // re-run per consumer.
    val shardIdx = graft.plans.Materialize(simhashIndex(newDocs, textCol, idCol))

    // STAR pass — exact-text clusters keyed (ehash, elen). Only
    // clusters holding >= 1 shard doc can emit a shard-touching star
    // pair, so the union the rep-election window sees is cut to corpus
    // rows whose compound key the shard holds (broadcast semi-join —
    // exact equality, tiny cut; a touched cluster is retrieved whole).
    // No distinct on the broadcast side: the broadcast hash table
    // dedups keys itself, and the relation is shard-bounded either way.
    val starUnion = index
      .join(broadcast(shardIdx.select("ehash", "elen")), Seq("ehash", "elen"), "left_semi")
      .select(col("doc_id"), col("ehash"), col("elen"), lit(false).as("__shard"))
      .unionByName(shardIdx
        .select(col("doc_id"), col("ehash"), col("elen"), lit(true).as("__shard")))
    val wKey = Window.partitionBy("ehash", "elen")
    val withRep = starUnion
      .withColumn("__rep", min(col("doc_id")).over(wKey))
      .withColumn("__repShard",
        max(when(col("doc_id") === col("__rep"), col("__shard"))).over(wKey))
    val starPairs = withRep.filter(col("doc_id") =!= col("__rep"))
      .filter(col("__shard") || col("__repShard"))
      .select(col("__rep").as("doc_a"), col("doc_id").as("doc_b"))
      .withColumn("hamming", lit(0))

    // BAND pass — the shared single-thin-exchange core, cluster edition
    // (key = (ehash, elen)). Hash-collision clusters (same compound
    // key, DIFFERENT text — a 2^-64 xxhash64+length collision) band on
    // the REP's signature in batch; the core's rep-sig filter keeps a
    // bucket row only when the elected member's own signature occupies
    // that bucket, which matches batch except that a collision cluster
    // split across buckets can additionally band on a non-rep member's
    // signature — extra verified-Hamming candidates (an output
    // superset), never a missed batch pair.
    val bandPairs = incrementalBandPairs(
      index
        .select(col("doc_id"), col("ehash"), col("elen"), col("sig"),
          lit(false).as("__shard"))
        .unionByName(shardIdx.select(col("doc_id"), col("ehash"),
          col("elen"), col("sig"), lit(true).as("__shard"))),
      shardIdx, Seq("ehash", "elen"), repSigFilter = true,
      maxHamming, maxBucketSize)
      .groupBy("doc_a", "doc_b").agg(min(col("hamming")).as("hamming"))

    bandPairs.unionByName(starPairs)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Shared 64-bit-signature batch dedup core (image dHash / audio HK
    * fingerprints — one OR MORE long signatures per item; the audio
    * family emits one per shift anchor): identical-signature star
    * pre-pass (mass duplicates surface as O(cluster) pairs around the
    * min-id rep, never a quadratic bucket) + [[hammingBandPairs]] over
    * the per-signature reps. Multi-signature items can surface a pair
    * through several anchor combos (star AND band); the final per-pair
    * MIN collapses them — with one sig per item it is a no-op on an
    * already-unique pair set. Input `(media_id, sig)`; output
    * `(doc_a, doc_b, hamming)`.
    */
  private[operators] def sigDedupPairs(
      sigs: DataFrame,
      maxHamming: Int,
      maxBucketSize: Int
  ): DataFrame = {
    val wHash = Window.partitionBy("sig")
    val withRep = sigs.withColumn("__rep", min(col("media_id")).over(wHash))
    val reps = withRep.filter(col("media_id") === col("__rep"))
      .select(col("media_id").as("doc_id"), col("sig"))
    val starPairs = withRep.filter(col("media_id") =!= col("__rep"))
      .select(col("__rep").as("doc_a"), col("media_id").as("doc_b"))
      .withColumn("hamming", lit(0))
    hammingBandPairs(reps, maxHamming, maxBucketSize)
      .unionByName(starPairs)
      .groupBy("doc_a", "doc_b").agg(min(col("hamming")).as("hamming"))
  }

  /** Exploded (chunk, key) rows of a 64-bit signature's four 16-bit
    * bands — the shard-restriction key of [[incrementalBandPairs]],
    * which feeds it NON-NULL signatures only (null-sig clusters pair
    * through the callers' null-safe STAR passes, never through banding
    * — matching batch, where the null XOR in the verify filter drops
    * any null band candidate).
    */
  private def chunkKeys(sig: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    explode(array((0 until 4).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(sig, c * 16).bitwiseAND(0xffffL).as("key"))
    }: _*))

  /** The shared ONE-thin-exchange incremental BAND pass (simhash's
    * (ehash, elen) cluster edition and the raw-signature families):
    * the union's chunk rows (null sigs excluded) cut map-side to the
    * shard's probed buckets, then ONE (chunk, key)-partitioned
    * aggregate elects each cluster's union representative
    * bucket-locally — exact because a cluster's members share its
    * buckets — with the bucket-size cap window and the probe-broadcast
    * candidate join both REUSING that partitioning; candidates verify
    * with exact `bit_count(xor)`. `union` carries
    * (doc_id, sig, __shard) + `clusterCols`; `repSigFilter` keeps a
    * bucket row only when the elected member's own signature occupies
    * the bucket — required when the cluster key is NOT the signature
    * itself. Returns RAW verified (doc_a, doc_b, hamming) pairs;
    * callers union their star passes and apply the per-pair MIN.
    */
  private def incrementalBandPairs(
      union: DataFrame,
      shardSigs: DataFrame,
      clusterCols: Seq[String],
      repSigFilter: Boolean,
      maxHamming: Int,
      maxBucketSize: Int): DataFrame = {
    val probedKeys = shardSigs.filter(col("sig").isNotNull)
      .select(chunkKeys(col("sig")).as("ck"))
      .select(col("ck.chunk").as("chunk"), col("ck.key").as("key"))
      .distinct()
    val carried =
      (Seq("doc_id", "sig", "__shard") ++ clusterCols).distinct.map(c => col(c))
    val unionChunks = union
      .filter(col("sig").isNotNull)
      .select(carried :+ chunkKeys(col("sig")).as("ck"): _*)
      .select(carried :+ col("ck.chunk").as("chunk") :+ col("ck.key").as("key"): _*)
      .join(broadcast(probedKeys), Seq("chunk", "key"), "left_semi")
    // ONE exchange for the whole band pass: the up-front (chunk, key)
    // partitioning satisfies the aggregate's superset clustering and
    // the cap window both — neither re-shuffles.
    val bucketReps0 = unionChunks
      .repartition(col("chunk"), col("key"))
      .groupBy("chunk", ("key" +: clusterCols): _*)
      .agg(min(struct(col("doc_id"), col("__shard"), col("sig"))).as("__r"))
      .select(col("chunk"), col("key"),
        col("__r").getField("doc_id").as("doc_id"),
        col("__r").getField("__shard").as("__repShard"),
        col("__r").getField("sig").as("sig"))
    val bucketReps =
      if (!repSigFilter) bucketReps0
      else bucketReps0.filter(expr("(shiftright(sig, chunk * 16) & 65535) = key"))
    val wChunk = Window.partitionBy("chunk", "key")
    val capped = bucketReps
      .withColumn("bsize", count(lit(1)).over(wChunk))
      .filter(col("bsize") <= maxBucketSize)
      .select(col("chunk"), col("key"), col("doc_id"), col("sig"), col("__repShard"))
    val probe = capped.filter(col("__repShard"))
      .select(col("chunk"), col("key"), col("doc_id").as("doc_p"), col("sig").as("sig_p"))
    val build = capped
      .select(col("chunk"), col("key"), col("doc_id").as("doc_q"), col("sig").as("sig_q"))
    build.join(broadcast(probe), Seq("chunk", "key"))
      .filter(col("doc_p") =!= col("doc_q"))
      .withColumn("hamming", bit_count(col("sig_p").bitwiseXOR(col("sig_q"))))
      .filter(col("hamming") <= maxHamming)
      .select(
        least(col("doc_p"), col("doc_q")).as("doc_a"),
        greatest(col("doc_p"), col("doc_q")).as("doc_b"),
        col("hamming"))
  }

  /** [[sigDedupPairs]] over (corpus ∪ shard) restricted to pairs
    * touching ≥ 1 shard id — the incremental contract both perceptual
    * families share. Both inputs `(media_id, sig)`; shard ids must be
    * disjoint from corpus ids.
    *
    * Scale shape (asymmetric, like the ngram incremental joins): the
    * corpus index is touched only by COLUMNAR SCANS. The star pass cuts
    * the union to exact-sig matches of the shard (broadcast semi-join —
    * tiny). The band pass pays exactly ONE exchange, and a THIN one: a
    * map-side chunk explode + broadcast semi-join on the shard's
    * probed 4×16-bit bucket keys feeds a (chunk, key, sig) aggregate
    * that elects each signature's union rep bucket-locally — exact
    * because a signature's whole cluster shares its buckets — with the
    * cap window and the probe-broadcast candidate join both reusing that
    * partitioning.
    * Per-shard pair work is O(shard-rows × bucket), never
    * O(union-bucket²), and no corpus-sized row set is ever shuffled.
    * Output is provably identical to filtering the symmetric self-join:
    * every surviving pair touches a shard rep, and pairs between two
    * shard reps simply arrive from both probe directions before the
    * final per-pair MIN.
    */
  private[graft] def sigDedupIncremental(
      shardSigs: DataFrame,
      corpusSigs: DataFrame,
      maxHamming: Int,
      maxBucketSize: Int
  ): DataFrame = {
    val shard = graft.plans.Materialize(shardSigs.select(col("media_id"), col("sig")))

    // STAR pass — exact-signature clusters. Only clusters holding >= 1
    // shard signature can emit a shard-touching star pair, so the union
    // the rep-election window sees is cut to corpus rows whose sig the
    // shard holds (broadcast semi-join on the shard's distinct sigs —
    // exact equality, so the cut stays tiny whatever the corpus). A
    // shard clip with a smaller id can take over an existing cluster's
    // representative (same contract as simhashIncremental), so the
    // election must see both sides of every touched cluster — and a
    // touched cluster is retrieved whole (sig equality).
    // No distinct on the broadcast side: the broadcast hash table
    // dedups keys itself, and the relation is shard-bounded either way.
    // NULL-SAFE key (<=>): batch's Window.partitionBy("sig") groups
    // null signatures into one cluster and star-pairs them, so a
    // null-sig shard item must retrieve its null-sig corpus twins here
    // too — a plain equi-join would silently drop them.
    val starUnion = corpusSigs.select(col("media_id"), col("sig"))
      .join(broadcast(shard.select(col("sig").as("__ssig"))),
        col("sig") <=> col("__ssig"), "left_semi")
      .select(col("media_id"), col("sig"), lit(false).as("__shard"))
      .unionByName(shard.select(col("media_id"), col("sig"), lit(true).as("__shard")))
    val wHash = Window.partitionBy("sig")
    val withRep = starUnion
      .withColumn("__rep", min(col("media_id")).over(wHash))
      .withColumn("__repShard", max(when(col("media_id") === col("__rep"), col("__shard"))).over(wHash))
    val starPairs = withRep.filter(col("media_id") =!= col("__rep"))
      .filter(col("__shard") || col("__repShard"))
      .select(col("__rep").as("doc_a"), col("media_id").as("doc_b"))
      .withColumn("hamming", lit(0))

    // BAND pass — the shared single-thin-exchange core, raw-signature
    // edition (cluster key = the signature itself, so every bucket row
    // trivially carries its own sig and no rep-sig filter is needed).
    // Batch parity: pairs between two corpus reps are never generated
    // (probe is shard-rep-only) and were discarded by the old
    // symmetric-join filter anyway; the final per-pair MIN is required
    // for the multi-anchor audio shape.
    val bandPairs = incrementalBandPairs(
      corpusSigs.select(col("media_id").as("doc_id"), col("sig"),
          lit(false).as("__shard"))
        .unionByName(shard.select(col("media_id").as("doc_id"),
          col("sig"), lit(true).as("__shard"))),
      shard, Seq("sig"), repSigFilter = false, maxHamming, maxBucketSize)

    bandPairs.unionByName(starPairs)
      .groupBy("doc_a", "doc_b").agg(min(col("hamming")).as("hamming"))
      .select("doc_a", "doc_b", "hamming")
  }

  /** Banded Hamming near-dup pairs over 64-bit signatures — the shared
    * core of [[simhash]] and [[graft.operators.PerceptualHash.dedup]]:
    * signatures band into 4×16-bit chunks (Hamming ≤ k implies some
    * chunk matches for k < 4 — guaranteed recall at the small distances
    * these operators run at), candidates verify with exact
    * `bit_count(xor)`. Input: one `(doc_id, sig)` row per DISTINCT
    * signature-bearing doc (callers run their exact pre-pass first, so a
    * mass-duplicate cluster reports as O(cluster) star pairs instead of
    * hitting the cap).
    *
    * Scale shape: the chunk join shuffles (chunk, key, id, sig) rows only
    * — ~28 bytes flat; the bucket-size cap (same skew guard as
    * [[minhashLsh]]) stops a degenerate corpus — millions of DISTINCT
    * docs colliding on one 16-bit chunk key — from making the self-join
    * quadratic in one bucket. The window partitions by (chunk, key),
    * which the join reuses.
    */
  private[graft] def hammingBandPairs(
      sigs: DataFrame,
      maxHamming: Int,
      maxBucketSize: Int
  ): DataFrame = {
    val chunks = sigs.select(
      col("doc_id"),
      col("sig"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"), shiftright(col("sig"), c * 16).bitwiseAND(0xffffL).as("key"))
      }: _*)).as("ck"))
      .select(col("doc_id"), col("sig"), col("ck.chunk"), col("ck.key"))

    val wChunk = Window.partitionBy("chunk", "key")
    val capped = chunks
      .withColumn("bsize", count(lit(1)).over(wChunk))
      .filter(col("bsize") <= maxBucketSize)
      .select(col("chunk"), col("key"), col("doc_id"), col("sig"))

    val a = capped.select(col("chunk"), col("key"), col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = capped.select(col("chunk"), col("key"), col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    // Verify map-side BEFORE the pair shuffle, then take the per-pair
    // MIN: with one sig per doc this is exactly the old
    // dedup-then-verify (all rows of a pair carry the same sigs); with
    // MULTI-sig docs (the audio multi-anchor shape) it is the only
    // correct order — an arbitrary row kept before verification could
    // carry a far anchor combo and drop a pair whose nearest combo
    // qualifies.
    a.join(b, Seq("chunk", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .groupBy("doc_a", "doc_b").agg(min(col("hamming")).as("hamming"))
      .select("doc_a", "doc_b", "hamming")
  }

  /** Exact-text clusters for the near-dup pre-passes ([[simhash]],
    * [[minhashLsh]]): returns (representatives frame — original columns,
    * one row per distinct text; star-pair frame —
    * `(doc_a = rep, doc_b = member)` for every non-representative
    * member; callers attach their metric column — hamming 0 / jaccard
    * 1.0). One hash-exchange on the 64-bit text hash; the
    * explode/signature work downstream then runs once per DISTINCT text,
    * not once per copy, and a mass-identical cluster surfaces as
    * O(cluster) star pairs instead of being silently dropped by a
    * bucket-size cap (or exploding into O(cluster²) pairs).
    */
  private def exactClusters(
      docs: DataFrame,
      textCol: String,
      idCol: String
  ): (DataFrame, DataFrame) = {
    // (hash, length) key — the same documented [[exactByHash]] key: a
    // bare 64-bit collision would otherwise report two DISTINCT texts as
    // exact duplicates AND hide the non-representative from banding,
    // losing its true near-duplicates.
    val wHash = Window.partitionBy("__ehash", "__elen")
    val withRep = docs
      .withColumn("__ehash", xxhash64(col(textCol)))
      .withColumn("__elen", length(col(textCol)))
      .withColumn("__rep", min(col(idCol)).over(wHash))
    val reps = withRep.filter(col(idCol) === col("__rep")).drop("__ehash", "__elen", "__rep")
    val starPairs = withRep
      .filter(col(idCol) =!= col("__rep"))
      .select(col("__rep").as("doc_a"), col(idCol).as("doc_b"))
    (reps, starPairs)
  }

  /** Positioned k-token windows `(doc_id, pos, w)` — one row per token
    * position, `w` = the k tokens starting there joined by a single
    * space. Same codegen shape as [[shingleRows]] (posexplode + `lead`
    * over a per-doc window) but keeps the position and emits every
    * occurrence, because span detection needs both.
    */
  private[operators] def windowRows(
      docs: DataFrame,
      k: Int,
      textCol: String,
      idCol: String
  ): DataFrame = {
    require(k >= 1, s"window size must be >= 1, got $k")
    val toks = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(split(lower(col("__text")), "\\s+")).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val parts = (0 until k).map {
      case 0 => col("tok")
      case i => lead(col("tok"), i).over(w)
    }
    toks
      .select(col("doc_id"), col("pos"), concat_ws(" ", parts: _*).as("w"),
        (if (k == 1) lit(true) else parts.last.isNotNull).as("__complete"))
      .filter(col("__complete"))
      .drop("__complete")
  }

  /** Exact duplicate-SPAN detection — the "exact substring dedup" of Lee,
    * Ippolito, Nystrom, Zhang, Eck, Callison-Burch & Carlini,
    * "Deduplicating Training Data Makes Language Models Better" (2022,
    * arXiv:2107.06499), re-expressed relationally: a k-token window is
    * *duplicated* when the same k tokens occur at >= 2 positions anywhere
    * in the corpus (another doc or the same doc — self-repetition is
    * duplication too); a doc's duplicated windows merge into maximal
    * spans wherever their k-token coverages overlap (window starts less
    * than k apart).
    *
    * The paper builds a single-machine suffix array; the relational
    * equivalent is an inverted window index: a MAP-SIDE-COMBINED count
    * finds duplicated keys (a hot boilerplate window leaves each mapper
    * as one partial row — no single-task giant group, unlike an
    * analytic count over the key), a key-clustered semi-join streams
    * the surviving occurrences, and one doc-keyed shuffle re-clusters
    * the duplicated positions for the gaps-and-islands merge. Every
    * shuffled row is a thin `(doc_id, pos[, key])`; the doc-keyed
    * exchange carries only the duplicated fraction of positions.
    *
    * `hashWindows = true` is the corpus-scale key: windows shuffle as a
    * compound `(xxhash64(w), length(w))` — 16 bytes instead of ~k words —
    * with the same collision contract as [[exactByHash]]. The default
    * string key is exact and SQL-oracle friendly; both keys are asserted
    * result-identical on the fixture corpus in DedupSpec.
    *
    * @return one row per merged span: `(doc_id, span_start, span_len,
    *         n_windows)` — token index of the span start, tokens covered,
    *         and how many duplicated windows merged into it.
    */
  def duplicateSpans(
      docs: DataFrame,
      k: Int,
      textCol: String = "text",
      idCol: String = "doc_id",
      hashWindows: Boolean = false
  ): DataFrame = {
    val keyed = keyedWindows(docs, k, textCol, idCol, hashWindows)
    // Two-phase count + semi-join rather than an analytic count over the
    // window key: a count(*) OVER (PARTITION BY key) buffers every
    // occurrence of a key in one window group, and a boilerplate window
    // repeated millions of times (the operator's headline case) is a
    // single-task giant group. The aggregate combines map-side (a hot
    // key leaves each mapper as ONE partial row) and the semi-join
    // STREAMS the occurrences — same key-clustered shuffle, no per-key
    // buffering.
    val dupKeys = keyed
      .groupBy("__wk", "__wl")
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2)
      .select("__wk", "__wl")
    val hits = keyed
      .join(dupKeys, Seq("__wk", "__wl"), "leftsemi")
      .select("doc_id", "pos")
    spansFromHits(hits, k)
  }

  /** [[windowRows]] under the span operators' shuffle key: the window
    * string itself (`hashWindows = false` — exact, oracle-friendly) or
    * the compound `(xxhash64(w), length(w))` (16 bytes at corpus scale,
    * [[exactByHash]] collision contract).
    */
  private def keyedWindows(
      docs: DataFrame,
      k: Int,
      textCol: String,
      idCol: String,
      hashWindows: Boolean
  ): DataFrame = {
    val win = windowRows(docs, k, textCol, idCol)
    if (hashWindows)
      win.select(col("doc_id"), col("pos"),
        xxhash64(col("w")).as("__wk"), length(col("w")).as("__wl"))
    else
      win.select(col("doc_id"), col("pos"), col("w").as("__wk"), lit(0).as("__wl"))
  }

  /** Gaps-and-islands merge of duplicated window positions `(doc_id,
    * pos)` into maximal spans: a new island starts where the previous
    * duplicated window's k-token coverage no longer overlaps (gap >= k).
    */
  private def spansFromHits(hits: DataFrame, k: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val runs = byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hits
      .withColumn("__brk",
        when(lag(col("pos"), 1).over(byDoc).isNull
          .or(col("pos") - lag(col("pos"), 1).over(byDoc) >= k), 1).otherwise(0))
      .withColumn("__g", sum(col("__brk")).over(runs))
      .groupBy(col("doc_id"), col("__g"))
      .agg(min(col("pos")).as("span_start"), max(col("pos")).as("__e"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
        (col("__e") - col("span_start") + k).cast("long").as("span_len"),
        col("n_windows"))
  }

  /** The persisted inverted window index for
    * [[duplicateSpansIncremental]]: one row per distinct window key with
    * its corpus occurrence count. Write once per corpus (bucket by `wk`
    * on a cluster so shard joins read it pre-clustered); the build
    * config `(k, hashed)` rides on the `n` column's schema metadata —
    * it survives a parquet round-trip, so a config-mismatched index
    * fails fast with a remedy instead of silently producing wrong spans.
    *
    * @return (wk, wl, n) — key columns match the `hashWindows` mode.
    */
  def substringIndex(
      docs: DataFrame,
      k: Int,
      textCol: String = "text",
      idCol: String = "doc_id",
      hashWindows: Boolean = false
  ): DataFrame = {
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("k", k.toLong).putBoolean("hashed", hashWindows).build()
    keyedWindows(docs, k, textCol, idCol, hashWindows)
      .groupBy(col("__wk").as("wk"), col("__wl").as("wl"))
      .agg(count(lit(1)).as("n"))
      .select(col("wk"), col("wl"), col("n").as("n", meta))
  }

  /** The duplicate-span TRANSFORM: every doc with its duplicated spans
    * excised — the text actually fed to training after
    * [[duplicateSpans]] detection. Policy: drop EVERY duplicated token
    * (both/all occurrences — the aggressive variant; dropping all-but-one
    * needs a global owner per window cluster, which no longer
    * decomposes into per-doc relational passes). Tokens are rejoined
    * with single spaces in original case and order; docs with no
    * duplicated spans round-trip their (whitespace-normalized) text
    * unchanged, fully-duplicated docs come back empty.
    *
    * Scale shape: spans explode back into (doc_id, pos) drop rows —
    * only the duplicated fraction — and anti-join the token rows on the
    * doc_id clustering both sides already carry; the rebuild is one
    * per-doc sort_array over the doc's own tokens (same cost class as
    * carrying the text).
    *
    * @return (doc_id, text) with duplicated spans removed.
    */
  def removeDuplicateSpans(
      docs: DataFrame,
      k: Int,
      textCol: String = "text",
      idCol: String = "doc_id",
      hashWindows: Boolean = false
  ): DataFrame =
    removeSpans(docs, duplicateSpans(docs, k, textCol, idCol, hashWindows),
      textCol, idCol)

  /** Incremental [[removeDuplicateSpans]]: excise from an incoming shard
    * every ≥`k`-token span whose windows are duplicated within
    * (standing corpus ∪ shard) — window counts come from the persisted
    * [[substringIndex]] ([[duplicateSpansIncremental]]); the corpus is
    * never re-tokenized. The shard's rewrites equal the full transform
    * over the union restricted to shard docs; already-released corpus
    * docs are not retroactively re-cut when the shard supplies a
    * window's second occurrence (the first-wins ingest asymmetry).
    */
  def removeDuplicateSpansIncremental(
      newDocs: DataFrame,
      index: DataFrame,
      k: Int,
      textCol: String = "text",
      idCol: String = "doc_id",
      hashWindows: Boolean = false
  ): DataFrame =
    removeSpans(newDocs,
      duplicateSpansIncremental(newDocs, index, k, textCol, idCol, hashWindows),
      textCol, idCol)

  /** Excise the given span frame `(doc_id, span_start, span_len, …)`
    * from `docs` — the rebuild shared by the one-shot and incremental
    * transforms (policy and scale shape documented on
    * [[removeDuplicateSpans]]).
    */
  private def removeSpans(
      docs: DataFrame,
      spans: DataFrame,
      textCol: String,
      idCol: String
  ): DataFrame = {
    val dropPos = spans
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_start") + col("span_len") - 1)).as("__pos"))
    // Original-case tokens: positions align with the lowercased windows
    // because the split is identical.
    val toks = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(split(col("__text"), "\\s+")).as(Seq("__pos", "__tok")))
      .select(col("doc_id"), col("__pos").cast("long").as("__pos"), col("__tok"))
    val rebuilt = toks
      .join(dropPos, Seq("doc_id", "__pos"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(
        transform(sort_array(collect_list(struct(col("__pos"), col("__tok")))),
          x => x.getField("__tok")), " ").as("text"))
    // Fully-duplicated docs lose every token row — restore them as empty.
    docs.select(col(idCol).as("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
  }

  /** Corpus-wide LINE-level dedup — C4's "discard any repeated line"
    * stage (Raffel et al., "Exploring the Limits of Transfer Learning
    * with a Unified Text-to-Text Transformer", JMLR 2020 §2.2) / the
    * CCNet paragraph dedup: split every document into `sep`-delimited
    * lines, keep each duplicated line's FIRST corpus occurrence
    * (minimum `(doc_id, line_no)`), drop every other occurrence, and
    * reassemble documents from their surviving lines. Lines with fewer
    * than `minLineChars` non-whitespace characters are EXEMPT (always
    * kept): deduping "", "-", or bullet markers would destroy document
    * structure, and exempting them also removes the hottest keys
    * (blank lines) from the shuffle.
    *
    * Scale shape: line occurrences explode map-side; the first-
    * occurrence table is ONE partial-aggregatable `groupBy(line)`
    * (`count` + `min(struct(doc_id, line_no))` — map-side combine
    * collapses hot boilerplate keys before the exchange, where a
    * window over a line partition would funnel a 10⁹-repeat footer
    * through one task); occurrences re-join that table on the line key
    * (a join, so AQE can skew-split it) and documents reassemble with
    * one doc-key aggregate. Deterministic, hash-free — an exact SQL
    * oracle replays it (the catalog's `dedup_lines` gate).
    *
    * @return (doc_id, text, n_kept, n_dropped) — every input doc
    *         survives; one whose every line was a later duplicate
    *         comes back empty (filter `n_kept > 0` to drop husks).
    */
  def dedupLines(
      docs: DataFrame,
      minLineChars: Int = 10,
      sep: String = "\n",
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(minLineChars >= 1, s"minLineChars must be >= 1, got $minLineChars")
    val lines = lineRows(docs, sep, textCol, idCol)
    val firsts = lines
      .filter(lineEligible(minLineChars))
      .groupBy("line")
      .agg(min(struct(col("doc_id"), col("line_no"))).as("__first"))
      .select(col("line"), col("__first.doc_id").as("first_doc"),
        col("__first.line_no").as("first_line"))
    rebuildLines(docs, keepAgainstFirsts(lines, firsts), sep, textCol, idCol)
  }

  private def lineRows(
      docs: DataFrame, sep: String, textCol: String, idCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("doc_id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("line_no", "line")))

  private def lineEligible(minLineChars: Int) =
    length(regexp_replace(col("line"), "\\s", "")) >= minLineChars

  /** Keep a line occurrence iff it is unindexed (exempt or unseen) or IS
    * its line's recorded first occurrence.
    */
  private def keepAgainstFirsts(lines: DataFrame, firsts: DataFrame): DataFrame =
    lines.join(firsts, Seq("line"), "left")
      .filter(col("first_doc").isNull ||
        (col("doc_id") === col("first_doc") && col("line_no") === col("first_line")))

  private def rebuildLines(
      docs: DataFrame, kept: DataFrame,
      sep: String, textCol: String, idCol: String): DataFrame = {
    val rebuilt = kept
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(sort_array(collect_list(struct(col("line_no"), col("line")))),
            x => x.getField("line")), sep).as(textCol),
        count(lit(1)).as("n_kept"))
    docs.select(col(idCol).cast("long").as("doc_id"),
      (size(split(col(textCol), java.util.regex.Pattern.quote(sep)))).as("__n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col(textCol), lit("")).as(textCol),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Persistable first-occurrence line index for incremental ingest:
    * `(line, first_doc, first_line)`, one row per distinct ELIGIBLE
    * (≥ `minLineChars` non-space chars) line — the arrival history
    * [[dedupLinesIncremental]] rewrites new shards against. Stores the
    * line text (exactness, SQL-replayable); a deployment trading 2⁻⁶⁴
    * collisions for index bytes can key on `(xxhash64(line),
    * length(line))` instead, the [[exactByHash]] stance.
    */
  def lineIndex(
      docs: DataFrame,
      minLineChars: Int = 10,
      sep: String = "\n",
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    lineRows(docs, sep, textCol, idCol)
      .filter(lineEligible(minLineChars))
      .groupBy("line")
      .agg(min(struct(col("doc_id"), col("line_no"))).as("__first"))
      .select(col("line"), col("__first.doc_id").as("first_doc"),
        col("__first.line_no").as("first_line"))

  /** The rows an incoming shard ADDS to a standing [[lineIndex]]: its
    * within-shard first occurrences of lines the index has never seen.
    * Persist by appending (the append-only accumulation convention —
    * the index is the arrival history, so precedence is ingest order).
    */
  def lineIndexIncrement(
      newDocs: DataFrame,
      index: DataFrame,
      minLineChars: Int = 10,
      sep: String = "\n",
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(index.columns.sorted.sameElements(Array("first_doc", "first_line", "line")),
      s"not a lineIndex frame (columns ${index.columns.mkString(",")}); " +
        "build it with Dedup.lineIndex (same minLineChars and sep)")
    // Shard-restriction (the exact-key discipline): only index lines the
    // SHARD also holds can decide the anti-join, so the index side cuts
    // to an 8-byte-hash broadcast semi-join match BEFORE any exchange —
    // hash false positives merely survive into the exact `line` equality
    // below. Materialized: the line rows feed the broadcast and the
    // anti-join both.
    val rows = graft.plans.Materialize(
      lineRows(newDocs, sep, textCol, idCol).filter(lineEligible(minLineChars)))
    val touched = index.select("line").join(
      broadcast(rows.select(xxhash64(col("line")).as("__lh"))),
      xxhash64(col("line")) === col("__lh"), "left_semi")
    rows
      .join(touched, Seq("line"), "left_anti")
      .groupBy("line")
      .agg(min(struct(col("doc_id"), col("line_no"))).as("__first"))
      .select(col("line"), col("__first.doc_id").as("first_doc"),
        col("__first.line_no").as("first_line"))
  }

  /** `foreachBatch` ingest sink for STREAMING line dedup — the
    * continuous-crawl face of [[dedupLinesIncremental]]: each
    * micro-batch rewrites its docs against the line index of every
    * PRIOR batch, writes the survivors (`n_kept > 0`) to
    * `standingDir/docs/batch=<id>` and its own [[lineIndexIncrement]]
    * rows to `standingDir/index/batch=<id>` (both mode overwrite, the
    * [[graft.operators.Profiling.profileSink]] convention). Keying both
    * writes on the batchId AND reading the index EXCLUDING the batch's
    * own dir makes the sink idempotent under foreachBatch's
    * at-least-once contract: a re-delivered batch recomputes against
    * the identical prior-index view and overwrites its own two dirs
    * byte-identically — the self-exclusion matters, because reading its
    * own stale increment back would anti-join the recomputation to
    * empty and silently ERASE index rows. After any batch,
    * `spark.read.parquet(standingDir + "/docs")` is the line-deduped
    * corpus ingested so far; precedence is arrival order (batch id,
    * then (doc_id, line_no) within a batch).
    */
  def lineDedupSink(
      standingDir: String,
      minLineChars: Int = 10,
      sep: String = "\n",
      textCol: String = "text",
      idCol: String = "doc_id"
  ): (DataFrame, Long) => Unit = (batch, batchId) => {
    val spark = batch.sparkSession
    val idxRoot = new org.apache.hadoop.fs.Path(s"$standingDir/index")
    val fs = idxRoot.getFileSystem(spark.sessionState.newHadoopConf())
    // Only batch=<id> dirs are index increments: a PRE-commit crashed
    // compaction can leave a stale _compact_tmp beside them, and reading
    // it WITH the batch dirs it was folded from would duplicate every
    // index row (the line join then fans out occurrences downstream). A
    // POST-commit crash (_compact_commit present) is worse — some batch
    // dirs are already deleted and only the tmp is complete — so refuse
    // until the compaction is resumed.
    val priorDirs =
      if (!fs.exists(idxRoot)) Array.empty[String]
      else {
        StateCompaction.requireNoWedge(fs, idxRoot, "lineDedupSink",
          "re-run compactLineIndexDir to resume it before ingesting")
        fs.listStatus(idxRoot)
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
          .map(_.getPath.toString)
          .filterNot(_.endsWith(s"batch=$batchId"))
      }
    val prior =
      if (priorDirs.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("line",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("first_doc",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("first_line",
              org.apache.spark.sql.types.IntegerType))))
      else spark.read.parquet(priorDirs.toIndexedSeq: _*)
        .select("line", "first_doc", "first_line")
    dedupLinesIncremental(batch, prior, minLineChars, sep, textCol, idCol)
      .filter(col("n_kept") > 0)
      .write.mode("overwrite").parquet(s"$standingDir/docs/batch=$batchId")
    lineIndexIncrement(batch, prior, minLineChars, sep, textCol, idCol)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$standingDir/index/batch=$batchId")
  }

  /** Offline compaction for a [[lineDedupSink]] standing INDEX dir
    * (`<standingDir>/index`): replace the accumulated `batch=<id>`
    * subdirectories with ONE plain-union rewrite. Index rows are
    * DISJOINT across batches by construction (each increment anti-joins
    * every prior batch), so the union IS the standing index and
    * compaction preserves arrival precedence exactly — no merge
    * algebra needed, unlike the profile fold. Same offline contract as
    * [[graft.operators.Profiling.compactProfileDir]]: stop the stream
    * CLEANLY first (a re-delivered uncommitted batch would rewrite its
    * own dir after its rows were folded into the compacted one, and the
    * sink's self-excluding prior read would then see those lines
    * twice). The compacted dir is `batch=c<maxId>` — the `c` prefix
    * stays disjoint from every numeric batchId a resumed stream writes.
    *
    * Crash-safe via [[StateCompaction.compactBatchDir]]'s commit-marker
    * protocol — a crash at any point (including mid-delete, when the
    * tmp is the only complete copy of already-deleted batch dirs)
    * resumes losslessly on the next run.
    */
  def compactLineIndexDir(spark: SparkSession, indexDir: String): Unit =
    StateCompaction.compactBatchDir(
      spark, indexDir, select = Seq("line", "first_doc", "first_line"))

  /** Incremental [[dedupLines]]: rewrite an incoming shard against the
    * standing [[lineIndex]] — the corpus is never re-exploded. A shard
    * line already in the index drops every shard occurrence (the index
    * holds its first arrival); an unindexed eligible line keeps exactly
    * its within-shard first occurrence; exempt short lines always
    * survive. When shard ids follow corpus ids (the ingest-order
    * invariant the `_incr` family assumes), results exactly equal
    * [[dedupLines]] over (corpus ∪ shard) restricted to shard docs
    * (parity asserted in ExtensionsSpec); update the standing index by
    * appending [[lineIndexIncrement]]'s rows.
    */
  def dedupLinesIncremental(
      newDocs: DataFrame,
      index: DataFrame,
      minLineChars: Int = 10,
      sep: String = "\n",
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(minLineChars >= 1, s"minLineChars must be >= 1, got $minLineChars")
    val increment =
      lineIndexIncrement(newDocs, index, minLineChars, sep, textCol, idCol)
    val lines = graft.plans.Materialize(lineRows(newDocs, sep, textCol, idCol))
    // Shard-restriction: the firsts join can only match lines the shard
    // holds — cut the index side via the 8-byte-hash broadcast before
    // the exact-equality join (false positives just fail to match).
    val touchedIdx = index.join(
      broadcast(lines.select(xxhash64(col("line")).as("__lh"))),
      xxhash64(col("line")) === col("__lh"), "left_semi")
    rebuildLines(newDocs,
      keepAgainstFirsts(lines, touchedIdx.unionByName(increment)), sep, textCol, idCol)
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    * 2003): hash every k-token window, slide a w-wide window over the
    * hash sequence, select each window's minimum — rightmost on ties,
    * the paper's standard winnowing rule (NOT the stateful
    * prefer-previous-selection "robust winnowing" variant) — and dedupe
    * selections. Guarantee: any shared run of ≥ w+k-1 tokens between two
    * docs yields ≥1 shared fingerprint; expected density 2/(w+1).
    *
    * Short docs: a doc with ≥1 window hash but fewer than w of them has
    * no complete w-window; its whole hash sequence selects as ONE
    * degenerate window (so bit-identical short docs still pair — the
    * paper assumes n ≥ w and says nothing here). Docs with < k tokens
    * have no hashes at all and are OUT OF SCOPE for this family — run
    * them through [[exact]]/[[exactByHash]], the same division of labor
    * as MinHash's shingle-less docs.
    *
    * The sliding min is a w-row frame — O(n·w) per doc with w a SMALL
    * CONSTANT (default 4), unlike the data-sized rolling windows the
    * growing-frame discipline forbids; selection happens entirely on the
    * doc_id clustering windowRows established (the rightmost-min is one
    * `min(struct(hash, -pos))` — no second pass, no self-join).
    *
    * @return (doc_id, fp, fp_pos) — the selected hash and the token
    *         position of the window it hashes.
    */
  def winnowFingerprints(
      docs: DataFrame,
      k: Int = 5,
      w: Int = 4,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    winnowSelections(docs, k, w, textCol, idCol).distinct()

  /** Pre-distinct winnow selections — one row per (complete or
    * degenerate) w-window with its picked (fp, fp_pos); [[winnow]]
    * dedupes on (doc_id, fp) directly so the pair path pays ONE
    * aggregate pass, not a positional distinct followed by another.
    */
  private def winnowSelections(
      docs: DataFrame,
      k: Int,
      w: Int,
      textCol: String,
      idCol: String
  ): DataFrame = {
    require(w >= 1, s"winnow window must be >= 1, got $w")
    val h = windowRows(docs, k, textCol, idCol)
      .select(col("doc_id"), col("pos"), xxhash64(col("w")).as("__h"))
    val byDoc = Window.partitionBy("doc_id")
    val frame = byDoc.orderBy("pos").rowsBetween(Window.currentRow, w - 1)
    h
      .withColumn("__pick", min(struct(col("__h"), (-col("pos")).as("__np"))).over(frame))
      .withColumn("__cnt", count(lit(1)).over(frame))
      .withColumn("__n", count(lit(1)).over(byDoc))
      // Complete w-windows select; the tail's short frames would
      // over-select positions the paper's definition never visits. A doc
      // with fewer than w hashes keeps exactly its pos-0 frame — the
      // whole sequence as one degenerate window.
      .filter(col("__cnt") === w || (col("__n") < w && col("pos") === 0))
      .select(col("doc_id"), col("__pick.__h").as("fp"),
        (-col("__pick.__np")).cast("long").as("fp_pos"))
  }

  /** Winnowing near-dup candidates: doc pairs sharing ≥ `minShared`
    * selected fingerprints, by inverted index on the fingerprint hash —
    * the [[ngramJaccard]] join shape over the winnowed (≈ 2/(w+1)
    * density) selection instead of every shingle. Fingerprints shared by
    * more than `maxBucketSize` docs are dropped before the quadratic
    * join (map-side-combined count + semi-join — the skew discipline):
    * a ubiquitous fingerprint is boilerplate, not evidence.
    *
    * @return (doc_a, doc_b, shared_fps) with doc_a < doc_b.
    */
  def winnow(
      docs: DataFrame,
      minShared: Long = 2L,
      k: Int = 5,
      w: Int = 4,
      maxBucketSize: Int = 256,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    fpSharedPairs(
      winnowSelections(docs, k, w, textCol, idCol)
        .select(col("doc_id"), col("fp")).distinct(),
      minShared, maxBucketSize)

  /** Shared exact-fingerprint co-occurrence core (winnowing over text,
    * per-frame dHashes over raw-frame video — any family whose item is
    * a SET of 64-bit fingerprints and whose pair metric is the shared
    * count): ubiquity cap (a fingerprint in more than `maxBucketSize`
    * items — boilerplate k-grams, black frames, title cards — is
    * dropped before it can go quadratic), inverted-index self-join,
    * per-pair count ≥ `minShared`. Input `(doc_id, fp)` DISTINCT rows;
    * output `(doc_a, doc_b, shared_fps)`.
    */
  private[operators] def fpSharedPairs(
      fps: DataFrame,
      minShared: Long,
      maxBucketSize: Int
  ): DataFrame = {
    // Window-based ubiquity cap (the [[hammingBandPairs]] shape): ONE
    // fp-keyed exchange that the self-join below then REUSES — the
    // groupBy+semi-join alternative pays the aggregate exchange plus a
    // join that re-shuffles both sides.
    val kept = fps
      .withColumn("__b", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("__b") <= maxBucketSize)
      .select("doc_id", "fp")
    val a = kept.select(col("fp"), col("doc_id").as("doc_a"))
    val b = kept.select(col("fp"), col("doc_id").as("doc_b"))
    a.join(b, Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** [[fpSharedPairs]] over (corpus ∪ shard) restricted to pairs
    * touching ≥ 1 shard id — the winnow/video incremental contract:
    * the ubiquity cap re-evaluates over the UNION (a fingerprint the
    * shard pushes past the cap stops pairing, exactly as in batch), the
    * candidate join's probe side restricts to shard docs. Shard-internal
    * pairs reach the join from both sides, hence the distinct-fp count.
    * Both inputs `(doc_id, fp)` distinct rows; ids must be disjoint.
    */
  private[operators] def fpSharedPairsIncremental(
      shardFps: DataFrame,
      corpusFps: DataFrame,
      minShared: Long,
      maxBucketSize: Int
  ): DataFrame = {
    // SHARD-RESTRICTION pre-pass (the additive-ngram discipline): every
    // emitted pair shares a fingerprint with a shard doc, so the union
    // the cap window and join below see can be cut to corpus rows whose
    // fp the shard holds — a broadcast semi-join on the shard's
    // DISTINCT fp set (bounded by the ingest batch size: fingerprint
    // sets are per-doc-bounded — winnowing density / sampled frames);
    // the corpus index is touched only by a columnar scan. Exactness:
    // the ubiquity count of a shard-held fp sees all its union rows,
    // and a corpus-only fp produced no pairs before (probe side is
    // shard-only) — its cap decision is irrelevant.
    val touched = corpusFps.join(
      broadcast(shardFps.select("fp")), Seq("fp"), "left_semi")
    // Window-based ubiquity cap over the restricted union (one fp
    // exchange, reused by the join below) with the shard flag carried
    // through, so the probe restriction is a map-side filter — no id
    // semi-join.
    val all = touched.select(col("doc_id"), col("fp"), lit(false).as("__shard"))
      .unionByName(shardFps.select(col("doc_id"), col("fp"), lit(true).as("__shard")))
    val kept = all
      .withColumn("__b", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("__b") <= maxBucketSize)
      .select("doc_id", "fp", "__shard")
    val aShard = kept.filter(col("__shard"))
      .select(col("fp"), col("doc_id").as("doc_x"))
    val b = kept.select(col("fp"), col("doc_id").as("doc_y"))
    aShard.join(b, Seq("fp"))
      .filter(col("doc_x") =!= col("doc_y"))
      .select(col("fp"),
        least(col("doc_x"), col("doc_y")).as("doc_a"),
        greatest(col("doc_x"), col("doc_y")).as("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(countDistinct(col("fp")).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** Persistable winnowing index: the corpus's distinct `(doc_id, fp)`
    * selected-fingerprint rows — exactly the pair path's input, ≈
    * 2/(w+1) of the k-gram density. Write once per corpus; shard ingest
    * goes through [[winnowIncremental]] without re-fingerprinting the
    * corpus. Build with the SAME k/w.
    */
  def winnowIndex(
      docs: DataFrame,
      k: Int = 5,
      w: Int = 4,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    winnowSelections(docs, k, w, textCol, idCol)
      .select(col("doc_id"), col("fp")).distinct()

  /** Incremental winnowing near-dup: an incoming shard fingerprinted and
    * joined against the persisted [[winnowIndex]] — the corpus is never
    * re-fingerprinted. The ubiquity cap is evaluated over the COMBINED
    * fingerprint rows and the candidate join's one side is restricted to
    * shard docs, so results exactly equal [[winnow]] over
    * (corpus ∪ shard) restricted to pairs touching ≥1 shard id (parity
    * asserted in ExtensionsSpec; ids must be disjoint). Shard-internal
    * pairs reach the join from both sides, hence the distinct-fp count.
    *
    * @return (doc_a, doc_b, shared_fps) with doc_a < doc_b, each pair
    *         touching ≥1 shard doc.
    */
  def winnowIncremental(
      newDocs: DataFrame,
      index: DataFrame,
      minShared: Long = 2L,
      k: Int = 5,
      w: Int = 4,
      maxBucketSize: Int = 256,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(index.columns.sorted.sameElements(Array("doc_id", "fp")),
      s"not a winnowIndex frame (columns ${index.columns.mkString(",")}); " +
        "re-build it with Dedup.winnowIndex (same k and w)")
    fpSharedPairsIncremental(
      winnowIndex(newDocs, k, w, textCol, idCol), index.select("doc_id", "fp"),
      minShared, maxBucketSize)
  }

  /** Incremental duplicate-span detection: span output for an incoming
    * SHARD against a persisted [[substringIndex]], without re-windowing
    * the corpus — the 100 TB ingest shape (index once per corpus, each
    * shard pays only its own windows + one count join on the window
    * key). A window is duplicated when shard-internal + indexed-corpus
    * occurrences total >= 2, so the output EXACTLY equals
    * [[duplicateSpans]] over corpus ∪ shard restricted to shard doc ids
    * (parity asserted in ExtensionsSpec; shard and corpus ids must be
    * disjoint).
    */
  def duplicateSpansIncremental(
      newDocs: DataFrame,
      index: DataFrame,
      k: Int,
      textCol: String = "text",
      idCol: String = "doc_id",
      hashWindows: Boolean = false
  ): DataFrame = {
    // Explicit config gate (metadata survives parquet): a k or key-mode
    // mismatch would silently mis-join and report wrong spans.
    require(index.columns.sorted.sameElements(Array("n", "wk", "wl")),
      s"not a substringIndex frame (columns ${index.columns.mkString(",")}) — " +
        "build the corpus index with substringIndex")
    val m = index.schema("n").metadata
    require(m.contains("k") && m.contains("hashed"),
      "corpus index carries no build config — it was not written by " +
        "substringIndex; re-index the corpus")
    require(m.getLong("k") == k.toLong && m.getBoolean("hashed") == hashWindows,
      s"corpus index was built with k=${m.getLong("k")} hashed=${m.getBoolean("hashed")} " +
        s"but this query asks k=$k hashed=$hashWindows — re-index or match the config")

    val keyed = keyedWindows(newDocs, k, textCol, idCol, hashWindows)
    val shardCnt = graft.plans.Materialize(
      keyed.groupBy("__wk", "__wl").agg(count(lit(1)).as("__cs")))
    // Shard-restriction: index counts matter only for window keys the
    // shard holds — a broadcast semi-join on the shard's (already
    // hashed) key set cuts the index to a columnar scan, never a
    // per-shard shuffle of corpus-wide window counts.
    val idxTouched = index.join(
      broadcast(shardCnt.select(col("__wk").as("wk"), col("__wl").as("wl"))),
      Seq("wk", "wl"), "left_semi")
    val dupKeys = shardCnt
      .join(idxTouched.select(col("wk").as("__wk"), col("wl").as("__wl"), col("n")),
        Seq("__wk", "__wl"), "left")
      .filter(col("__cs") + coalesce(col("n"), lit(0L)) >= 2)
      .select("__wk", "__wl")
    val hits = keyed.join(dupKeys, Seq("__wk", "__wl"), "leftsemi").select("doc_id", "pos")
    spansFromHits(hits, k)
  }

  /** Per-document rollup of [[duplicateSpans]]: every input doc with its
    * duplicated-window count, merged-span count, duplicated-token
    * coverage, and total token count (zeros for clean docs). The group-by
    * and the final join both reuse the spans' doc_id clustering; the
    * totals side is a map-only projection of the input.
    *
    * @return (doc_id, dup_windows, dup_spans, covered_tokens, total_tokens)
    */
  def duplicateSpanSummary(
      docs: DataFrame,
      k: Int,
      textCol: String = "text",
      idCol: String = "doc_id",
      hashWindows: Boolean = false
  ): DataFrame = {
    val perDoc = duplicateSpans(docs, k, textCol, idCol, hashWindows)
      .groupBy("doc_id")
      .agg(sum(col("n_windows")).as("dup_windows"), count(lit(1)).as("dup_spans"),
        sum(col("span_len")).as("covered_tokens"))
    val totals = docs.select(col(idCol).as("doc_id"),
      size(split(lower(col(textCol)), "\\s+")).cast("long").as("total_tokens"))
    totals
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        col("total_tokens"))
  }

  /** Observability companion for [[simhash]]'s skew guard: the (chunk,
    * key, bsize) buckets a given `maxBucketSize` would drop — after the
    * exact-duplicate pre-pass, i.e. buckets of DISTINCT texts colliding
    * on a 16-bit signature chunk. Empty result = the cap is lossless on
    * this corpus.
    */
  def simhashCappedBuckets(
      docs: DataFrame,
      maxBucketSize: Int = 256,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val (reps, _) = exactClusters(docs, textCol, idCol)
    simhashSignatures(reps, textCol, idCol)
      .select(
        col("doc_id"),
        explode(array((0 until 4).map { c =>
          struct(lit(c).as("chunk"), shiftright(col("sig"), c * 16).bitwiseAND(0xffffL).as("key"))
        }: _*)).as("ck"))
      .groupBy(col("ck.chunk").as("chunk"), col("ck.key").as("key"))
      .agg(count(lit(1)).as("bsize"))
      .filter(col("bsize") > maxBucketSize)
  }
}
