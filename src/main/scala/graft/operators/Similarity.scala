package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k (cross join of queries × corpus —
  * correct, O(Q·N), broadcast the query side). Scale path: LSH-bucketed
  * ANN via deterministic random-hyperplane signatures — candidates only
  * within matching buckets, recall traded via band count.
  *
  * Dot products and norms are pure `zip_with`/`aggregate` expressions —
  * no UDFs.
  */
object Similarity {

  /** Cosine similarity of two float-array columns (double math), via the
    * codegen'd `FloatVectorCosine` expression — the higher-order
    * `zip_with`/`aggregate` formulation evaluates interpreted per element,
    * which dominates candidate scoring at corpus scale.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.cosine(a, b)

  /** The interpreted higher-order formulation, kept as the semantic
    * cross-check for the native expression (ExtensionsSpec asserts
    * agreement). Products round through float here, so low bits differ
    * from the double-math expression.
    */
  private[graft] def cosineInterpreted(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0d), (acc, v) => acc + v * v))
    val nb = sqrt(aggregate(b, lit(0.0d), (acc, v) => acc + v * v))
    dot / (na * nb)
  }

  /** Brute-force cosine top-k neighbors for each query vector.
    * The query side is broadcast; ranking is per-query via a window.
    *
    * @return (query_id, neighbor_id, rank, sim) with rank 1..k,
    *         self-matches excluded, ties broken by neighbor_id.
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = broadcast(q)
      .crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * xxhash64 folded into [-1, 1). Same on every executor — no state.
    */
  private def planeComponent(plane: Int, dim: Column): Column =
    (pmod(xxhash64(lit(plane), dim), lit(20001L)) - 10000L).cast("double") / 10000.0

  /** Random-hyperplane signature bit for one plane: sign of <v, plane>. */
  private[operators] def planeBit(vec: Column, plane: Int): Column = {
    val dot = aggregate(
      zip_with(vec, sequence(lit(0), size(vec) - 1), (v, i) => v * planeComponent(plane, i)),
      lit(0.0d),
      (acc, v) => acc + v)
    when(dot >= 0, lit(1L)).otherwise(lit(0L))
  }

  /** Resolve an `nlist` request: positive = explicit (validated ≥ 1);
    * `<= 0` = auto-derive `max(16, ceil(√N))` from the corpus size — the
    * standard IVF heuristic balancing the per-row centroid scan (O(nlist))
    * against cluster size (O(N/nlist)), with a floor because probe-join
    * parallelism is BOUNDED BY nlist: candidate scoring runs over at most
    * `nlist` cluster partitions per probe wave, so a small explicit nlist
    * on a big corpus serializes the probe join (at 1B vectors, √N ≈ 31623
    * clusters of ~31k vectors each — thousands-way probe parallelism and
    * a ~93 MB broadcast centroid array at 768 dims, both fine; nlist=16
    * there would mean 16-way probes over 62M-vector clusters).
    * The derivation costs one `count()` of the corpus ids — noise next to
    * the eager Lloyd fit that follows.
    */
  private[graft] def resolveNlist(corpus: DataFrame, nlist: Int, idCol: String): Int =
    if (nlist > 0) nlist
    else resolveNlistN(corpus.select(idCol).count(), nlist)

  /** [[resolveNlist]] from an already-known corpus count — callers that
    * need the count for other derivations too (e.g. the rerank budget)
    * pay the corpus scan once and share it.
    */
  private[graft] def resolveNlistN(n: Long, nlist: Int): Int =
    if (nlist > 0) nlist
    else math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Resolve an `nprobe` request: positive = explicit; `<= 0` = the
    * configured fraction of the resolved centroid count —
    * `ceil(spark.graft.ivf.nprobeFraction · nlist)`, default 0.625 (the
    * same 10-of-16 probing ratio the committed RECALL.json numbers were
    * measured at).
    *
    * The probing fraction is DATA-DEPENDENT, and both regimes are
    * measured in RECALL.json:
    *   - Near-uniform vectors (no cluster structure — the IVF worst
    *     case, and what the driver's synthetic fixture is): the
    *     `nprobe_sweep` (sf0.1, auto nlist=45, k=5) reads recall 0.514
    *     at `⌈√nlist⌉`, 0.677 at 0.25·nlist, 0.797 at 0.4, 0.872 at 0.5
    *     and 0.935 at 0.625 — 0.625 is the cheapest swept fraction
    *     holding the asserted 0.9 bar, hence the conservative default.
    *   - Clustered corpora (what real embedding corpora are — the
    *     `mog_nprobe_sweep` over the deterministic mixture-of-Gaussians
    *     fixture, [[graft.harness.SyntheticEmbeddings]]): the textbook
    *     `⌈√nlist⌉` probes (a ~15% corpus scan) already hold ≥ 0.9, so
    *     set `spark.graft.ivf.nprobeFraction` ≈ `√nlist / nlist` (or
    *     pass explicit `nprobe`) and scan 4× less than the default.
    * The default favors correctness on adversarially-unclustered data;
    * the knob (session-wide) or the explicit parameter (per call) buys
    * the clustered-corpus speedup once the corpus is known to cluster.
    */
  private[graft] def resolveNprobe(nprobe: Int, nlist: Int): Int =
    if (nprobe > 0) nprobe
    else {
      val frac = org.apache.spark.sql.SparkSession.getActiveSession
        .flatMap(_.conf.getOption("spark.graft.ivf.nprobeFraction"))
        .map(_.toDouble)
        .getOrElse(0.625)
      require(frac > 0 && frac <= 1.0,
        s"spark.graft.ivf.nprobeFraction must be in (0, 1], got $frac")
      math.max(1, math.ceil(frac * nlist).toInt)
    }

  /** All centroids collapsed into ONE row holding an array of
    * (cid, cv) structs — the broadcastable unit for per-row centroid
    * scoring. The global aggregate moves only `nlist` rows.
    */
  private def centroidArray(centroids: DataFrame): DataFrame =
    centroids.groupBy().agg(collect_list(struct(col("cid"), col("cv"))).as("cents"))

  /** Comparator for (csim, cid) structs: best score first, ties broken by
    * ascending centroid id — the same total order the previous
    * window-argmax used.
    */
  private def byScoreDesc(l: Column, r: Column): Column =
    when(l.getField("csim") > r.getField("csim"), -1)
      .when(l.getField("csim") < r.getField("csim"), 1)
      .when(l.getField("cid") < r.getField("cid"), -1)
      .when(l.getField("cid") > r.getField("cid"), 1)
      .otherwise(0)

  /** Per-vector centroid scores, sorted best-first — computed entirely
    * map-side against the broadcast centroid array (a `transform` over
    * `nlist` elements per row, each a codegen'd cosine).
    */
  private[operators] def scoredCentroids(base: DataFrame, centroids: DataFrame): DataFrame =
    base
      .crossJoin(broadcast(centroidArray(centroids)))
      .withColumn(
        "ranked",
        array_sort(
          transform(col("cents"), c =>
            struct(cosine(col("v"), c.getField("cv")).as("csim"), c.getField("cid").as("cid"))),
          byScoreDesc _))
      .drop("cents")

  /** Assign every vector to its max-cosine centroid.
    *
    * Scale shape: the former formulation (crossJoin to N×nlist rows, then
    * `row_number` over `partitionBy(id)`) shuffled every exploded row WITH
    * its full vector — ~50 TB per Lloyd pass at 1B×768-dim. This one tags
    * each row in place from the broadcast centroid array: ZERO exchanges
    * over the corpus (PlanAudit asserts it).
    */
  private[graft] def assignToCentroids(base: DataFrame, centroids: DataFrame): DataFrame =
    // ONE fused codegen loop per row (cosine + running argmax over the
    // broadcast centroid array) instead of [[scoredCentroids]]'s
    // interpreted transform + full comparator sort — the assignment
    // needs only the winner, and at nlist=√N candidates per corpus row
    // the per-element lambda interpretation and struct allocation were
    // the Lloyd pass's measured CPU (480 s task-time on a 50×-replicated
    // corpus, core-ratio-flattening allocator pressure; OPTIMIZATION_r17).
    // Same winner by construction: cosine arithmetic is the identical
    // expression, selection is the byScoreDesc total order (csim desc,
    // cid asc). scoredCentroids remains for the probe paths, which need
    // the full ranking.
    base.crossJoin(broadcast(centroidArray(centroids)))
      .withColumn("cid",
        org.apache.spark.sql.graft.VectorExpressions.cosArgMaxCid(col("v"), col("cents")))
      .drop("cents")

  /** IVF (inverted-file) approximate nearest neighbors.
    *
    * Fit: `nlist` seed centroids chosen deterministically as the vectors
    * with the smallest `xxhash64(id)` (a seedless pseudo-random sample),
    * then `refineIters` Lloyd iterations: assign vectors to their
    * max-cosine centroid, recompute each centroid as the element-wise
    * cluster mean (posexplode → per-(cluster, dim) avg → re-assemble).
    * `spark.graft.ivf.fitFraction` (default 1.0) fits Lloyd on a
    * deterministic hash sample of the corpus — at billions of vectors the
    * centroid estimate converges on a small fraction, so the per-iteration
    * explode-shuffle is bounded by the sample, not the corpus. Assign:
    * each vector to its max-cosine centroid. Probe: each query scans only
    * the `nprobe` clusters whose centroids score highest, then exact
    * cosine + per-query top-k.
    *
    * Scale shape: assignment and probe selection both score against the
    * centroid set collapsed into one broadcast array row and rank with a
    * per-row `array_sort` — no N×nlist explode, no window shuffle; the
    * corpus is never exchanged for either step (PlanAudit asserts zero
    * exchanges on the assignment plan). The only corpus shuffle in the
    * whole operator is the probe↔cluster join that IVF is — and its
    * parallelism is bounded by `nlist` (one cluster = one join key), so
    * `nlist = 0` (the default) auto-derives `max(16, ⌈√N⌉)` via
    * [[resolveNlist]] and `nprobe = 0` keeps the recall-calibrated
    * 0.625·nlist probing fraction via [[resolveNprobe]].
    *
    * Filtered serving: plain IVF fits at serve time from the corpus
    * frame, so a metadata predicate composes directly —
    * `ivfTopK(queries, corpus.filter(pred), …)` IS the filtered serve
    * (the filter sits below the fit and the probe join by
    * construction; scale nprobe by ~1/selectivity, the same guidance
    * [[ProductQuant.ivfPqTopKFiltered]] documents). A dedicated
    * operator exists only for the PERSISTED-index path, where the
    * predicate must ride the stored codes (attrCols) instead of a
    * corpus frame that is no longer scanned.
    */
  def ivfTopK(
      vectors: DataFrame,
      k: Int,
      nlist: Int = 0,
      nprobe: Int = 0,
      refineIters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame =
    ivfTopK(vectors, vectors, k, nlist, nprobe, refineIters, idCol, vecCol)

  /** Asymmetric IVF ANN: a (typically small) query frame against a big
    * corpus — the production retrieval shape. The index (centroid fit +
    * corpus assignment) depends only on the corpus; queries are scored
    * against the broadcast centroid array map-side and meet the corpus
    * only at the per-cluster join. Both frames must share the id/vector
    * column names; ids must not collide across frames (equal ids are
    * treated as the same document and self-excluded).
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nlist: Int,
      nprobe: Int,
      refineIters: Int,
      idCol: String,
      vecCol: String
  ): DataFrame = {
    val resolvedNlist = resolveNlist(corpus, nlist, idCol)
    ivfTopK(queries, corpus, ivfCentroids(corpus, resolvedNlist, refineIters, idCol, vecCol),
      k, resolveNprobe(nprobe, resolvedNlist), idCol, vecCol)
  }

  /** Fit the IVF centroid table once — `nlist` rows of `(cid, cv)`, the
    * persistable index contract (mirror of [[Dedup.minhashIndex]] for
    * ANN): write it out after one fit, then hand it to the
    * centroid-taking [[ivfTopK]] overload so repeated query batches skip
    * the Lloyd fit entirely.
    *
    * Seeds are the `nlist` vectors with smallest `xxhash64(id)` (a
    * seedless pseudo-random sample), refined by `refineIters` Lloyd
    * iterations (assign → element-wise cluster mean).
    * `spark.graft.ivf.fitFraction` (default 1.0) fits on a deterministic
    * hash sample of the corpus — at billions of vectors the centroid
    * estimate converges on a small fraction, so the per-iteration
    * explode-shuffle is bounded by the sample, not the corpus.
    */
  def ivfCentroids(
      corpus: DataFrame,
      nlist: Int = 0,
      refineIters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val resolvedNlist = resolveNlist(corpus, nlist, idCol)
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))

    // Deterministic Lloyd-fit sample: hash-gated on id (stable under any
    // partitioning, unlike DataFrame.sample) — 1.0 keeps the full corpus.
    val fitFraction = corpus.sparkSession.conf
      .get("spark.graft.ivf.fitFraction", "1.0").toDouble
    val fitBase =
      if (fitFraction >= 1.0) base
      else base.filter(
        pmod(xxhash64(col("id"), lit("ivf-fit")), lit(1000000L)) <
          lit((fitFraction * 1000000).toLong))

    var centroids = fitBase
      .withColumn("__h", xxhash64(col("id")))
      .orderBy("__h")
      .limit(resolvedNlist)
      .select(col("id").as("cid"), col("v").as("cv"))

    // Lloyd refinement over the fit sample. Centroid means are float-cast
    // so `cv` keeps the array<float> type the cosine expression expects;
    // empty clusters simply drop out (their seed stops attracting vectors).
    for (_ <- 1 to math.max(0, refineIters)) {
      centroids = assignToCentroids(fitBase, centroids)
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg(avg("x").as("m"))
        .groupBy("cid")
        .agg(collect_list(struct(col("pos"), col("m"))).as("dims"))
        .select(
          col("cid"),
          transform(array_sort(col("dims")), d => d.getField("m").cast("float")).as("cv"))
      centroids = graft.plans.Materialize(centroids, eager = true)
    }
    centroids
  }

  /** Corpus clustering as a first-class operator — the ANN coarse
    * quantizer IS the k-means clusterer, so topic bucketing /
    * diversity-aware sampling / SemDeDup-style grouping reuse the exact
    * fit machinery ([[ivfCentroids]]: deterministic hash seeding + Lloyd
    * refinement, optionally on a hash sample) and the zero-exchange
    * map-side assignment (broadcast centroid array, no N×k explode).
    * Pass `centroids` to assign against a PERSISTED fit (fit-once /
    * assign-many, like the other `_idx` surfaces).
    *
    * @return `(idCol, cluster, csim)` — the max-cosine centroid id and
    *         its 6-dp cosine (the confidence/radius signal a diversity
    *         sampler or drift monitor reads).
    */
  def clusterAssign(
      corpus: DataFrame,
      nlist: Int = 0,
      refineIters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      centroids: Option[DataFrame] = None
  ): DataFrame = {
    val cents = centroids.getOrElse(ivfCentroids(corpus, nlist, refineIters, idCol, vecCol))
    scoredCentroids(corpus.select(col(idCol).as("id"), col(vecCol).as("v")), cents)
      .select(col("id").as(idCol),
        element_at(col("ranked"), 1).getField("cid").as("cluster"),
        round(element_at(col("ranked"), 1).getField("csim"), 6).as("csim"))
  }

  /** Query a fitted centroid table ([[ivfCentroids]], fresh or read back
    * from storage): corpus assignment and query probes are both map-side
    * against the broadcast centroid array; the only shuffle is the
    * probe↔cluster join.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      k: Int,
      nprobe: Int,
      idCol: String,
      vecCol: String
  ): DataFrame = {
    // nprobe <= 0 against a pre-fitted index: derive from the actual
    // centroid count (nlist rows — the count is free).
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    ivfCandidateFrame(queries, corpus, centroids, nprobe, idCol, vecCol)
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosine(col("qv"), col("v")).as("sim"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** The probe↔cluster candidate join of [[ivfTopK]], BEFORE the exact
    * cosine + dedup + rank — `(query_id, qv, cid, id, v)`, vectors still
    * attached (zero plan change for the serving path, which continues
    * from this frame). Exposed for the composed oracles: probe selection
    * rides the hash-seeded Lloyd fit (no SQL form), so the candidate
    * pairs are pinned and the cosine + ranking replay in DuckDB
    * ([[graft.tools.PinnedOracleGen]]).
    */
  private[graft] def ivfCandidateFrame(
      queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      nprobe: Int, idCol: String, vecCol: String): DataFrame = {
    val resolvedNprobe =
      if (nprobe > 0) nprobe else resolveNprobe(nprobe, centroids.count().toInt)
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val qBase = queries.select(col(idCol).as("id"), col(vecCol).as("v"))

    val assigned = assignToCentroids(base, centroids)

    // Top-nprobe clusters per query: slice of the same per-row ranked
    // centroid array — map-side, no window, queries keep their vectors
    // local until the cluster join.
    val probes = scoredCentroids(qBase, centroids)
      .select(col("id").as("query_id"), col("v").as("qv"),
        explode(slice(col("ranked"), 1, resolvedNprobe)).as("t"))
      .select(col("query_id"), col("qv"), col("t.cid"))

    probes
      .join(assigned, Seq("cid"))
      .filter(col("query_id") =!= col("id"))
  }

  /** Per-band hyperplane bucket keys as ONE `array<long>` column (index =
    * band) — the shared signature for batch bucketing and streaming state
    * routing ([[graft.streaming.StreamingPredicates.embeddingNearDupStream]]):
    * both paths derive the SAME xxhash64-seeded plane bits, so stream and
    * batch agree bucket-for-bucket with no fitted state.
    */
  private[graft] def bandBucketArray(vec: Column, bands: Int, bitsPerBand: Int): Column =
    array((0 until bands).map { band =>
      (0 until bitsPerBand)
        .map(bit => planeBit(vec, band * bitsPerBand + bit) * lit(1L << bit))
        .reduce(_ + _)
    }: _*)

  /** [[bandBucketArray]] computed in COMPILED Scala — bit-identical to
    * the expression form (parity asserted in ExtensionsSpec): same
    * xxhash64-folded plane components (`hashInt(plane,42)` →
    * `hashInt(dim,·)`, pmod 20001 − 10000, /1e4), same index-order
    * double accumulation, same sign rule. Takes doubles so BOTH vector
    * dtypes keep their old semantics (float widens exactly; double was
    * never truncated by the expression path). Null vectors return null —
    * the expression form's behavior (`posexplode`/state routing then
    * drops the row instead of a one-bad-row NPE killing the job). The
    * expression form's `aggregate(zip_with(...))` lambdas are evaluated
    * INTERPRETED per element by Catalyst — bands × bits × dim boxed
    * evals per row — so the streaming ingest path (and any per-row hot
    * loop) uses this single-pass version instead.
    */
  private[graft] def hplaneBandRow(
      vec: Array[Double], bands: Int, bitsPerBand: Int): Array[Long] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    if (vec == null) return null
    Array.tabulate(bands) { band =>
      var bucket = 0L
      var bit = 0
      while (bit < bitsPerBand) {
        val plane = band * bitsPerBand + bit
        val hp = XXH64.hashInt(plane, 42L)
        var dot = 0.0
        var i = 0
        while (i < vec.length) {
          val comp = (Math.floorMod(XXH64.hashInt(i, hp), 20001L) - 10000L).toDouble / 10000.0
          dot += vec(i) * comp
          i += 1
        }
        if (dot >= 0) bucket += (1L << bit)
        bit += 1
      }
      bucket
    }
  }

  /** (id, band, bucket) rows from banded random-hyperplane signatures —
    * the shared LSH bucketing for ANN top-k and embedding near-dup.
    * Carries ids only; vectors are dropped before any shuffle. Buckets
    * come from the compiled [[hplaneBandRow]] (bit-identical to the
    * expression form, which Catalyst would evaluate interpreted per
    * element — bands × bits × dim boxed lambda evals per row).
    */
  /** Boxed entry point for the UDF boundary: tolerates null ELEMENTS the
    * way the expression form did — a null component nulls every plane
    * dot, each bit takes the `otherwise(0)` branch, and the vector lands
    * in bucket 0 of every band (its candidate pairs are then discarded
    * by the null cosine at verification, exactly as before) — instead of
    * the primitive-array deserializer throwing and killing the job on
    * one bad row. Null vectors still yield null (row dropped).
    */
  private[graft] def hplaneBandRowBoxed(
      vec: Seq[java.lang.Double], bands: Int, bitsPerBand: Int): Array[Long] =
    if (vec == null) null
    else if (vec.exists(_ == null)) Array.fill(bands)(0L)
    else hplaneBandRow(vec.map(_.doubleValue).toArray, bands, bitsPerBand)

  def hyperplaneBuckets(
      vectors: DataFrame,
      bands: Int,
      bitsPerBand: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val bandUdf = udf((v: Seq[java.lang.Double]) => hplaneBandRowBoxed(v, bands, bitsPerBand))
    // array<double>: exact for float input (widening), unchanged for
    // double input — the dtypes the expression form handled. Null
    // vectors produce a null bucket array → posexplode drops the row,
    // as before.
    vectors.select(
      col(idCol).as("id"),
      posexplode(bandUdf(col(vecCol).cast("array<double>"))).as(Seq("band", "bucket")))
  }

  /** LSH-bucketed approximate nearest neighbors: `bands` signatures of
    * `bitsPerBand` hyperplane bits each; vectors sharing any band bucket
    * become candidates, then exact cosine + per-query top-k.
    *
    * Scale shape (mirrors [[Dedup.minhashLsh]]): the candidate join and
    * the pair dedup shuffle ONLY (band, bucket, id) / (query_id,
    * neighbor_id) — at 1B×768-dim, carrying vector payloads through those
    * shuffles would dominate the exchange; instead the (much smaller)
    * deduped pair set re-joins the vectors before scoring.
    */
  def lshTopK(
      vectors: DataFrame,
      k: Int,
      bands: Int = 32,
      bitsPerBand: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame =
    lshTopK(vectors, vectors, k, bands, bitsPerBand, idCol, vecCol)

  /** Asymmetric LSH ANN: a (typically small) query frame against a big
    * corpus. Both sides are bucketed with the SAME deterministic
    * hyperplanes, so signatures agree across frames; the candidate join
    * still carries ids only, and with a small query side Catalyst/AQE
    * broadcasts the query buckets — the corpus bucket rows never shuffle.
    * Ids must not collide across frames (equal ids are treated as the
    * same document and self-excluded).
    */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      bands: Int,
      bitsPerBand: Int,
      idCol: String,
      vecCol: String
  ): DataFrame = {
    val qBase = queries.select(col(idCol).as("id"), col(vecCol).as("v"))
    val cBase = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))

    val pairs = lshCandidates(queries, corpus, bands, bitsPerBand, idCol, vecCol)

    val candidates = pairs
      .join(qBase.select(col("id").as("query_id"), col("v").as("qv")), Seq("query_id"))
      .join(cBase.select(col("id").as("neighbor_id"), col("v").as("cv")), Seq("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    candidates.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** The LSH candidate-pair set — `(query_id, neighbor_id)`, distinct,
    * self-excluded — factored out of [[lshTopK]] (which ranks exactly
    * this set by exact cosine). Exposed for the composed oracles: the
    * bucketing is xxhash64-seeded (no SQL form), so the pairs are pinned
    * and the cosine + ranking replay in DuckDB
    * ([[graft.tools.PinnedOracleGen]]).
    */
  private[graft] def lshCandidates(
      queries: DataFrame, corpus: DataFrame,
      bands: Int, bitsPerBand: Int,
      idCol: String, vecCol: String): DataFrame = {
    val qBase = queries.select(col(idCol).as("id"), col(vecCol).as("v"))
    val cBase = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val a = hyperplaneBuckets(qBase, bands, bitsPerBand, "id", "v")
      .select(col("band"), col("bucket"), col("id").as("query_id"))
    val b = hyperplaneBuckets(cBase, bands, bitsPerBand, "id", "v")
      .select(col("band"), col("bucket"), col("id").as("neighbor_id"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
  }
}
