package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Product quantization (PQ) for approximate nearest neighbors — the
  * memory shape that makes 100 TB-scale ANN feasible (Jégou, Douze,
  * Schmid, "Product Quantization for Nearest Neighbor Search", IEEE
  * TPAMI 2011): each unit-normalized vector is split into `m` subspaces
  * and every subspace quantized to one of `ks` learned codewords, so a
  * 768-dim float vector (3 KB) compresses to `m` small codes (8–16
  * bytes) — the full corpus code table fits where the raw vectors never
  * could, and candidate scoring never touches a float vector.
  *
  * Query scoring is ADC (asymmetric distance computation): per query,
  * one dot product per (subspace, codeword) builds an `m × ks` lookup
  * table; each candidate's approximate cosine is then `m` table lookups
  * summed — a STATIC chain of codegen'd `element_at` adds, no vector
  * math on the scan. The top `k·rerankFactor` ADC candidates are
  * re-ranked with exact cosine against the original vectors (the
  * standard PQ refinement), so reported `sim` values are exact.
  *
  * Scale shape: codebook fit runs per-subspace Lloyd on the (optionally
  * `spark.graft.ivf.fitFraction`-sampled) corpus with map-side
  * assignment against broadcast codewords — the corpus is never
  * exchanged. Encoding is one map-side pass (broadcast codebooks). The
  * ADC scan routes by query-table size: a genuinely small query frame
  * broadcasts its lookup tables across the code rows; a large one (and
  * the self-join form always — there the "query table" IS the corpus)
  * takes a bucketed shuffle join instead, replicating only the thin
  * m-byte code rows, so no corpus-sized frame is ever broadcast.
  * Candidate rows carry (query_id, neighbor_id, adc) ONLY — the query
  * vector joins back after the per-query candidate cut, never riding
  * across the scan. The interpreted higher-order lambdas (normalize,
  * per-subspace argmin) run on the index-BUILD path once per corpus,
  * not on the per-pair scan.
  */
/** Run independent Spark-action thunks as concurrent jobs on a bounded
  * pool. Spark schedules concurrent actions from multiple threads fairly;
  * each thunk's lineage is untouched, so results are identical to a
  * serial loop — only the end-to-end latency changes.
  */
private[graft] object ConcurrentFits {

  /** Default pool width: wide enough for every subspace fit of a
    * production PQ (m = 16) in one wave.
    */
  private val FitParallelism = 16

  def run[T](thunks: Seq[() => T], parallelism: Int = FitParallelism): Seq[T] = {
    if (thunks.lengthCompare(1) <= 0) return thunks.map(_.apply())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, thunks.length))
    try {
      val futures = thunks.map(t =>
        pool.submit(new java.util.concurrent.Callable[T] { def call(): T = t() }))
      futures.map { f =>
        // Surface the ORIGINAL exception (not an ExecutionException
        // wrapper) and cancel the not-yet-started fits instead of
        // waiting out the whole wave — a failed subspace fit should
        // read like the former serial loop's failure, just sooner.
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            futures.foreach(_.cancel(false))
            throw e.getCause
        }
      }
    } finally pool.shutdownNow()
  }
}

/** A fitted IVF-PQ index — the three persistable frames the serving path
  * needs, fit ONCE per corpus ([[ProductQuant.ivfPqIndex]]):
  *
  *   - `centroids` (cid, cv): the coarse IVF quantizer
  *     ([[Similarity.ivfCentroids]] contract);
  *   - `codebooks` (m, cid, cv): the per-subspace PQ codewords
  *     ([[ProductQuant.pqCodebooks]] contract);
  *   - `codes` (id, cid, codes): every corpus vector's coarse cluster id
  *     plus its byte-packed PQ codes ([[ProductQuant.pqEncodePacked]]
  *     layout) — m+12 bytes per vector, the frame the ADC scan runs on.
  *
  * `save` writes the three frames as parquet under one directory;
  * `load` reads them back in the serving job. A query batch against the
  * index-taking [[ProductQuant.ivfPqTopK]] overload then pays only the
  * map-side probe selection + the cluster-keyed ADC join — never the two
  * Lloyd fits (coarse + codebooks), which dominate wall-time at query
  * time and are pure waste when the corpus hasn't changed. This is the
  * billion-vector serving loop: refit on ingest cadence, query on demand.
  */
final case class IvfPqIndex(
    centroids: DataFrame,
    codebooks: DataFrame,
    codes: DataFrame) {

  /** Persist all three frames under `dir` (parquet, overwrite) — dir
    * names from [[ProductQuant.IndexComponents]], the shared layout
    * contract the fsck checks against.
    */
  def save(dir: String): Unit =
    ProductQuant.IndexComponents.zip(Seq(centroids, codebooks, codes))
      .foreach { case (name, df) =>
        df.write.mode("overwrite").parquet(s"$dir/$name")
      }
}

object IvfPqIndex {

  /** Read an index written by [[IvfPqIndex.save]]. Row order is
    * immaterial: every consumer either sorts (codebook layout, centroid
    * ranking) or is order-independent (the ADC join).
    */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String): IvfPqIndex = {
    val Seq(cents, books, codes) = ProductQuant.IndexComponents
      .map(name => spark.read.parquet(s"$dir/$name"))
    IvfPqIndex(cents, books, codes)
  }
}

object ProductQuant {

  /** Version of the deterministic fit procedure behind [[ivfPqIndex]]
    * (seeding, Lloyd update, encode layout). BUMP THIS whenever a change
    * alters fit OUTPUT bits — consumers that cache fitted indexes on disk
    * (e.g. the harness catalog) key their cache on it, so a stale index
    * from older fit code refits instead of silently diverging from a
    * fresh fit.
    */
  val indexFormatVersion: Int = 2

  private def dot(a: Column, b: Column): Column = VectorExpressions.dot(a, b)
  private def l2sq(a: Column, b: Column): Column = VectorExpressions.l2sq(a, b)

  /** Unit-L2 normalization (float array out): after it, dot == cosine,
    * which is what lets the ADC tables approximate cosine similarity.
    */
  private def normalized(v: Column): Column = {
    val norm = sqrt(aggregate(v, lit(0.0d), (acc, x) => acc + x * x))
    transform(v, x => (x / norm).cast("float"))
  }

  /** Comparator for (d, cid) structs: smallest distance first, ties by
    * ascending codeword id.
    */
  private def byDistAsc(l: Column, r: Column): Column =
    when(l.getField("d") < r.getField("d"), -1)
      .when(l.getField("d") > r.getField("d"), 1)
      .when(l.getField("cid") < r.getField("cid"), -1)
      .when(l.getField("cid") > r.getField("cid"), 1)
      .otherwise(0)

  /** Fit the per-subspace codebooks — `(m, cid, cv)` rows with cid dense
    * in `0 until <codewords in subspace m>`; the persistable PQ index
    * contract (pair it with [[pqEncode]] output, as
    * [[Similarity.ivfCentroids]] pairs with its assignment).
    *
    * Seeds per subspace are the `ks` sub-vectors with smallest
    * `xxhash64(id, m)` (deterministic), refined by `refineIters` Lloyd
    * iterations under squared-L2 (the PQ assignment metric); empty
    * codewords drop out and ids are re-densified, so downstream layouts
    * are always gap-free. Honors `spark.graft.ivf.fitFraction`.
    *
    * All `m` subspace fits run as ONE combined frame keyed by `mi`
    * (each vector exploded into its m sub-vectors in one pass): a full
    * fit is `refineIters + 1` corpus scans and ~3 jobs total at any m,
    * where the former per-subspace chains re-scanned the corpus
    * m·(refineIters+1) times across ~3·m concurrently-submitted jobs.
    */
  def pqCodebooks(
      corpus: DataFrame,
      m: Int = 16,
      ks: Int = 32,
      refineIters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val dims = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dims % m == 0, s"vector dim $dims is not divisible by m=$m subspaces")
    val sub = dims / m

    val fitFraction = graft.GraftConf.IvfFitFraction(corpus.sparkSession)
    val rawBase = {
      val b = corpus.select(col(idCol).as("id"), col(vecCol).as("__raw"))
      if (fitFraction >= 1.0) b
      else b.filter(
        pmod(xxhash64(col("id"), lit("pq-fit")), lit(1000000L)) <
          lit((fitFraction * 1000000).toLong))
    }
    // Normalization (an interpreted higher-order lambda) runs AFTER the
    // adaptive repartition below, so a low-parallelism input (one tiny
    // parquet file = 1-2 scan tasks locally) doesn't serialize the whole
    // fit's per-row math onto one core. The repartition only fires when
    // the scan has fewer partitions than the session's parallelism — at
    // corpus scale the scan already has thousands of splits and no
    // exchange is added.
    val fitBase = graft.plans.ParallelFloor(rawBase)
      .select(col("id"), normalized(col("__raw")).as("v"))

    // Dense 0-based numbering of ≤ks rows PER SUBSPACE without a
    // partition-less window (WindowExec's single-partition warning would
    // drown out real ones in CI logs): collapse each subspace to one
    // row, sort, posexplode — the position IS the dense id. Only ever
    // applied to ≤ m·ks rows. Per-subspace content and order are
    // identical to the former per-subspace global collapse (same
    // struct(orderCol, payload) sort key within each `mi` group).
    def denseIdsByMi(df: DataFrame, orderCol: String, payloadCol: String): DataFrame =
      df.groupBy("mi")
        .agg(sort_array(collect_list(struct(col(orderCol), col(payloadCol)))).as("__arr"))
        .select(col("mi"), posexplode(col("__arr")).as(Seq("cid", "__t")))
        .select(col("mi"), col("cid"), col(s"__t.$payloadCol").as("cv"))

    // ALL m subspace fits run as ONE combined frame keyed by `mi`: the
    // former per-subspace chains (m independent seed-take + eager-Lloyd
    // job sequences, submitted concurrently) re-scanned the corpus
    // m·(refineIters+1) times and paid ~3·m small-job latencies; the
    // combined form explodes each vector into its m sub-vectors in one
    // pass, so a full fit is refineIters+1 corpus scans and ~3 jobs
    // TOTAL, at any m. Per-subspace arithmetic is unchanged: seeds are
    // the same per-mi top-ks by xxhash64(id, mi); assignment joins each
    // row to its own subspace's broadcast codewords (same argmin
    // expression); the Lloyd mean groups by (mi, cid, pos) — the same
    // groups the per-mi fits aggregated, with the same per-partition
    // accumulation order (explode preserves row order), so results are
    // bit-identical modulo the aggregate merge-order ulp the fits
    // already carry run-to-run (parity checked against the per-mi fits,
    // OPTIMIZATION_r16, and asserted by the golden suite).
    val sbAll = fitBase.select(
      col("id"),
      posexplode(array((0 until m).map(mi =>
        slice(col("v"), mi * sub + 1, sub)): _*)).as(Seq("mi", "sv")))

    // Seeds: per subspace, the ks rows with the smallest xxhash64(id, mi)
    // — selected on a THIN (mi, id, hash) frame (no vector math rides
    // the sort subtrees), with the ≤ m·ks winners' sub-vectors joined
    // back map-side afterwards (broadcast of the winner set; the
    // normalization projection evaluates only for matching rows).
    //
    // ONE id-column scan for all m subspaces (§6): the former form was m
    // separate `orderBy(hash).limit(ks)` branches unioned — m full
    // column-pruned corpus passes per fit. Here every partition keeps m
    // bounded ks-smallest heaps over the codegen-projected hashes (m·ks
    // tuples per task, no shuffle of the n·m hash rows), and the global
    // per-mi top-ks runs as a window over the ≤ P·m·ks partial winners.
    // Winner sets are identical (same per-mi ks-smallest-hash criterion;
    // ties across equal 64-bit hashes were already selection-ambiguous
    // in the TakeOrdered form).
    val seedIds = {
      val mLoc = m
      val ksLoc = ks
      val hashed = rawBase.select(
        col("id") +: (0 until m).map(mi =>
          xxhash64(col("id"), lit(mi)).as(s"__h$mi")): _*)
      val candSchema = StructType(Seq(
        StructField("mi", IntegerType, nullable = false),
        StructField("id", hashed.schema("id").dataType),
        StructField("__h", LongType, nullable = false)))
      val cand = hashed.mapPartitions { it =>
        // Max-heaps of (h, id) by h: the root is the worst survivor, so
        // a smaller incoming hash evicts it; equal hashes keep the
        // earlier arrival (scan order — deterministic for a fixed input).
        val heaps = Array.fill(mLoc)(
          scala.collection.mutable.PriorityQueue.empty[(Long, Any)](
            Ordering.by((t: (Long, Any)) => t._1)))
        it.foreach { row =>
          val id = row.get(0)
          var mi = 0
          while (mi < mLoc) {
            val h = row.getLong(1 + mi)
            val hp = heaps(mi)
            if (hp.size < ksLoc) hp.enqueue((h, id))
            else if (h < hp.head._1) { hp.dequeue(); hp.enqueue((h, id)) }
            mi += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (hp, mi) =>
          hp.iterator.map { case (h, id) => Row(mi, id, h) }
        }
      }(Encoders.row(candSchema))
      val wSeed = Window.partitionBy("mi").orderBy("__h")
      cand.withColumn("__rn", row_number().over(wSeed))
        .filter(col("__rn") <= ks).drop("__rn")
    }
    val seedRows = fitBase
      .join(broadcast(seedIds), Seq("id"))
      .select(col("mi"),
        slice(col("v"), col("mi") * sub + 1, lit(sub)).as("sv"), col("__h"))
    var cents = denseIdsByMi(seedRows, "__h", "sv")

    for (_ <- 1 to math.max(0, refineIters)) {
      cents = assignSubByMi(sbAll, cents)
        .select(col("mi"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("mi", "cid", "pos")
        .agg(avg("x").as("mn"))
        .groupBy("mi", "cid")
        .agg(collect_list(struct(col("pos"), col("mn"))).as("dims"))
        .select(
          col("mi"),
          col("cid"),
          transform(array_sort(col("dims")), d => d.getField("mn").cast("float")).as("cv"))
      cents = graft.plans.Materialize(cents)
    }
    // Re-densify ids (empty codewords drop out during Lloyd) so code
    // values always index the per-subspace codeword list positionally.
    // Materialized HERE (m·ks rows): the codebook frame has several
    // consumers in every caller (driver layout collect, the broadcast
    // codebook array, the ADC tables) — without the cut each one would
    // re-execute the whole fit lineage, and the per-mi regroup's tiny
    // hash exchange would ride into consumer plans (PlanAudit's encode
    // budget counts it against the corpus-exchange-free contract).
    graft.plans.Materialize(
      denseIdsByMi(cents, "cid", "cv")
        .select(col("mi").as("m"), col("cid"), col("cv")))
  }

  /** Map-side sub-vector assignment against the per-subspace broadcast
    * codewords: (mi, id, sv) → (mi, sv, cid of the L2-nearest codeword
    * AMONG SUBSPACE mi's codewords) — the combined-frame form of
    * the former per-subspace assignSub, same argmin expression per row.
    */
  private def assignSubByMi(sbAll: DataFrame, cents: DataFrame): DataFrame = {
    val arr = cents.groupBy("mi").agg(collect_list(struct(col("cid"), col("cv"))).as("cb"))
    // Fused codegen argmin (same l2sq arithmetic, same byDistAsc
    // selection order) — the former interpreted transform + comparator
    // sort allocated a struct per codeword per row and was the PQ
    // Lloyd pass's measured CPU (see Similarity.assignToCentroids).
    sbAll.join(broadcast(arr), Seq("mi"))
      .select(
        col("mi"),
        col("sv"),
        VectorExpressions.l2ArgMinCid(col("sv"), col("cb")).as("cid"))
  }

  /** Driver-side codebook layout: (subspace count, per-subspace codeword
    * counts, flattened-table offsets, sub-dim) — `ks` rows per subspace at
    * most, so the collect is trivially small.
    */
  private def layoutOf(codebooks: DataFrame): (Int, Array[Int], Array[Int], Int) = {
    val counts = codebooks.groupBy("m").count().orderBy("m")
      .collect().map(r => (r.getInt(0), r.getLong(1).toInt))
    val mCount = counts.length
    require(counts.map(_._1).sameElements(0 until mCount), "codebook subspaces must be dense")
    val sizes = counts.map(_._2)
    val offsets = sizes.scanLeft(0)(_ + _).dropRight(1)
    val sub = codebooks.select(size(col("cv"))).head().getInt(0)
    (mCount, sizes, offsets, sub)
  }

  /** The codebooks collapsed to ONE broadcastable row, sorted by (m, cid)
    * so per-subspace slices are positional.
    */
  private def codebookArray(codebooks: DataFrame): DataFrame =
    codebooks.groupBy()
      .agg(sort_array(collect_list(struct(col("m"), col("cid"), col("cv")))).as("cb"))

  /** Encode every corpus vector to its `m` codeword ids in ONE map-side
    * pass (broadcast codebooks, zero corpus exchanges): (id, codes).
    */
  def pqEncode(
      corpus: DataFrame,
      codebooks: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val (mCount, _, _, sub) = layoutOf(codebooks)
    val base = corpus.select(col(idCol).as("id"), normalized(col(vecCol)).as("v"))
    base.crossJoin(broadcast(codebookArray(codebooks)))
      .select(
        col("id"),
        array((0 until mCount).map { mi =>
          val cands = filter(col("cb"), c => c.getField("m") === mi)
          element_at(
            array_sort(
              transform(cands, c =>
                struct(
                  l2sq(slice(col("v"), mi * sub + 1, sub), c.getField("cv")).as("d"),
                  c.getField("cid").as("cid"))),
              byDistAsc _),
            1).getField("cid")
        }: _*).as("codes"))
  }

  /** [[pqEncode]] in the PRODUCTION memory layout: codes packed into a
    * `binary` column, ONE byte per subspace — `m` bytes/vector flat
    * (measured 16 bytes/vector at m=16 in RECALL.json), versus
    * ~4·m + 16 for the `array<int>` form. Requires every subspace's
    * codeword count ≤ 256 (the standard ks=256 operating point is the
    * ceiling); still one map-side pass, zero corpus exchanges. This is
    * the frame the ADC scans in [[pqTopK]]/[[ivfPqTopK]] run on.
    */
  def pqEncodePacked(
      corpus: DataFrame,
      codebooks: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val (_, sizes, _, sub) = layoutOf(codebooks)
    require(sizes.forall(_ <= 256),
      s"byte-packed PQ codes need <=256 codewords per subspace, got max ${sizes.max}")
    // One fused codegen loop per row (see fusedCodes) — [[pqEncode]]'s
    // array<int> form remains as the readable per-subspace reference
    // (ExtensionsSpec asserts the two agree).
    corpus.select(col(idCol).as("id"), normalized(col(vecCol)).as("v"))
      .crossJoin(broadcast(codebookArray(codebooks)))
      .select(col("id"),
        VectorExpressions.pqEncodePacked(col("v"), col("cb"), sizes.toSeq, sub).as("codes"))
  }

  /** PQ ANN top-k, self-join form (fit + encode + scan in one call).
    *
    * Defaults (m=16, ks=32, auto re-rank budget) measure 0.94+ recall@5
    * on both fixture corpora (RECALL.json); recall rises monotonically
    * in m, ks and the re-rank budget — the measured sweep spans 0.38
    * (m=8, ks=16, 20 candidates) to 1.00 (m=16, ks=32, 48+ candidates at
    * sf0.001; m=32 at sf0.1). The production operating point ks=256
    * (1 byte/code, m bytes/vector — the scan runs on [[pqEncodePacked]]'s
    * binary layout at every ks) is measured in RECALL.json
    * (`sim_ann_pq_ks256`).
    *
    * `rerankFactor > 0` re-ranks exactly `rerankFactor·k` ADC
    * candidates; `<= 0` (default) auto-derives the budget as
    * `max(8k, ⌈2√N⌉)` — a FIXED budget goes stale as the corpus grows
    * (the same 40 candidates are 40% of a 100-vector corpus but 0.004%
    * of a million), so the budget must scale with N to hold a recall
    * bar. The derivation costs one corpus `count()`.
    */
  def pqTopK(
      vectors: DataFrame,
      k: Int,
      m: Int = 16,
      ks: Int = 32,
      refineIters: Int = 2,
      rerankFactor: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame =
    pqTopK(vectors, vectors, k, m, ks, refineIters, rerankFactor, idCol, vecCol)

  /** IVF-PQ ANN, self-join form — the paper's combined index and the
    * billion-scale operating shape: a coarse IVF quantizer routes each
    * query to its `nprobe` closest clusters, and only THOSE clusters'
    * PQ codes are ADC-scanned (≈ nprobe/nlist of the corpus instead of
    * all of it); survivors re-rank exactly. nlist/nprobe `<= 0`
    * auto-derive as in [[Similarity.ivfTopK]]; the re-rank budget
    * auto-scales as in [[pqTopK]].
    */
  def ivfPqTopK(
      vectors: DataFrame,
      k: Int,
      nlist: Int = 0,
      nprobe: Int = 0,
      m: Int = 16,
      ks: Int = 32,
      refineIters: Int = 2,
      rerankFactor: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame =
    ivfPqTopK(vectors, vectors, k, nlist, nprobe, m, ks, refineIters, rerankFactor, idCol, vecCol)

  /** Asymmetric IVF-PQ ANN (query frame vs corpus). The index side —
    * coarse centroids, cluster assignment, PQ codes — depends only on
    * the corpus; queries meet it at the probe↔cluster join carrying
    * their ADC tables. The one corpus-sized exchange is that join (keyed
    * by cluster id, parallelism = nlist, rows = m-byte codes + cid) —
    * exactly the IVF probe shuffle, but over codes instead of vectors.
    */
  def ivfPqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      nlist: Int,
      nprobe: Int,
      m: Int,
      ks: Int,
      refineIters: Int,
      rerankFactor: Int,
      idCol: String,
      vecCol: String
  ): DataFrame = {
    // ONE corpus count serves both derivations (auto-nlist and the
    // auto-rerank budget) — at corpus scale each count() is a full scan.
    val corpusN =
      if (nlist <= 0 || rerankFactor <= 0) Some(corpus.select(idCol).count())
      else None
    val resolvedNlist =
      if (nlist > 0) nlist else Similarity.resolveNlistN(corpusN.get, nlist)
    val resolvedNprobe = Similarity.resolveNprobe(corpus.sparkSession, nprobe, resolvedNlist)
    serveIvfPq(
      queries, corpus,
      ivfPqIndex(corpus, resolvedNlist, m, ks, refineIters, idCol, vecCol),
      None, k, resolvedNprobe, rerankFactor, idCol, vecCol, corpusN)
  }

  /** Fit the full IVF-PQ index for a corpus — the fit-once half of the
    * serving loop (see [[IvfPqIndex]]). The coarse-centroid fit and the
    * PQ codebook fit are independent chains of Spark jobs and run as
    * concurrent actions; corpus assignment, encoding and the serving
    * attributes are ONE fused map-side projection against the broadcast
    * fit results ([[fusedCodes]]) — the index build exchanges nothing
    * beyond the fits themselves.
    */
  /** @param attrCols metadata columns of `corpus` to STORE IN THE INDEX
    *                  alongside each row's codes (serving attributes for
    *                  [[ivfPqTopKFiltered]] — category, language, date
    *                  bucket). They ride the thin codes rows, so a
    *                  filtered serve prunes map-side with no extra join;
    *                  keep them small (the codes frame is the index's
    *                  memory footprint).
    */
  def ivfPqIndex(
      corpus: DataFrame,
      nlist: Int = 0,
      m: Int = 16,
      ks: Int = 32,
      refineIters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      attrCols: Seq[String] = Nil
  ): IvfPqIndex = {
    val resolvedNlist = Similarity.resolveNlist(corpus, nlist, idCol)
    val Seq(cents, codebooks) = ConcurrentFits.run(Seq(
      () => graft.plans.Materialize(
        Similarity.ivfCentroids(corpus, resolvedNlist, refineIters, idCol, vecCol)),
      // pqCodebooks materializes its own result (several consumers).
      () => pqCodebooks(corpus, m, ks, refineIters, idCol, vecCol)))
    IvfPqIndex(cents, codebooks,
      fusedCodes(corpus, cents, codebooks, attrCols, idCol, vecCol))
  }

  /** The (id, cid, codes[, attrs…]) index rows in ONE map-side pass:
    * coarse assignment (broadcast centroid array), PQ encoding
    * (broadcast codebook array) and the serving attributes are all
    * per-row functions of the SAME corpus row, so computing them in one
    * projection replaces the former three-way id-keyed join — which
    * sort-merge-shuffled the corpus twice (assign side + encode side,
    * plus once more per attr join) purely to re-unite columns that had
    * never left the row. Zero corpus exchanges; bit-identical values
    * (same assignment/encode expressions, same inputs).
    */
  private def fusedCodes(
      corpus: DataFrame,
      cents: DataFrame,
      codebooks: DataFrame,
      attrCols: Seq[String],
      idCol: String,
      vecCol: String): DataFrame = {
    attrCols.foreach(a => require(corpus.columns.contains(a),
      s"attrCols: corpus has no column '$a' (have ${corpus.columns.mkString(", ")})"))
    val (mCount, sizes, _, sub) = layoutOf(codebooks)
    require(sizes.forall(_ <= 256),
      s"byte-packed PQ codes need <=256 codewords per subspace, got max ${sizes.max}")
    // NOTE: no parallelism floor here, deliberately — the encode path's
    // ZERO-exchange shape is a PlanAudit-asserted contract (the corpus
    // is never exchanged to build the index); a floor exchange would be
    // a local-scan-only win bought by weakening that 100 TB evidence.
    val base = corpus.select(
      Seq(col(idCol).as("id"), col(vecCol).as("v"),
        normalized(col(vecCol)).as("__vn")) ++ attrCols.map(col): _*)
    Similarity.assignToCentroids(base, cents)
      .crossJoin(broadcast(codebookArray(codebooks)))
      .select(
        Seq(
          col("id"),
          col("cid"),
          // Whole encode in ONE codegen loop (per-subspace l2sq argmin
          // over the (m, cid)-sorted flat codebook, byte out per mi) —
          // the former form ran m interpreted filter passes over the
          // m·ks-element array plus m interpreted sort-argmins per row.
          VectorExpressions.pqEncodePacked(
            col("__vn"), col("cb"), sizes.toSeq, sub).as("codes")) ++
          attrCols.map(col): _*)
  }

  /** Append a new shard to a fitted IVF-PQ index WITHOUT refitting — the
    * ingest half of the serving loop: the shard is assigned to the
    * EXISTING coarse centroids and encoded against the EXISTING codebooks
    * (both map-side, zero shard exchanges beyond the thin id join), and
    * its (id, cid, codes) rows union into the index. Because per-vector
    * assignment and encoding are deterministic functions of (vector,
    * centroids, codebooks), the appended index is bit-identical to
    * encoding corpus ∪ shard against the same fits in one pass (asserted
    * in ExtensionsSpec) — so ingest cadence and refit cadence decouple:
    * append every shard, refit (a new [[ivfPqIndex]]) only when the
    * embedding distribution has drifted enough that quantization error
    * degrades recall (monitor via a recall probe on held-out queries).
    * New ids must be disjoint from indexed ids.
    */
  def ivfPqIndexAppend(
      newVectors: DataFrame,
      index: IvfPqIndex,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): IvfPqIndex = {
    // An index built with attrCols must receive them from the shard too
    // — unionByName fails loudly on the column-set mismatch otherwise.
    val attrCols = index.codes.columns.filterNot(Seq("id", "cid", "codes").contains).toSeq
    val shardCodes = fusedCodes(
      newVectors, index.centroids, index.codebooks, attrCols, idCol, vecCol)
    index.copy(codes = index.codes.unionByName(shardCodes))
  }

  /** DELETION PROPAGATION over a fitted IVF-PQ index — the takedown /
    * erasure pass, completing the append-without-refit serving loop's
    * symmetric half: the purged vectors' `(id, cid, codes)` rows leave
    * the index (anti-join — codes rows are per-vector independent, like
    * [[ivfPqIndexAppend]]'s are), so no probe can ever return them,
    * while the coarse centroids and codebooks STAY — they are fit
    * artifacts, and serving correctness is top-k over the remaining
    * codes against whatever fits the index carries. A heavily-purged
    * index drifts exactly like a heavily-appended one (the fits no
    * longer reflect the corpus); the same [[servingRecall]] monitor
    * decides when to refit. Ids must be integral on both sides — a
    * lossy cast would silently purge nothing, the worst failure mode a
    * takedown can have. Purging ids already absent is a no-op; an
    * all-purged index serves empty results (delete it instead).
    */
  def ivfPqIndexPurge(index: IvfPqIndex, purgeIds: DataFrame): IvfPqIndex = {
    // Shared takedown guards (single column, integral both sides,
    // cast-long/distinct key frame) — one implementation for every
    // purge entry point, so the guards cannot drift.
    val keys = StateCompaction.purgeKeyFrame(purgeIds, "ivfPqIndexPurge")
    StateCompaction.requireIntegralPurgeCol(
      index.codes.schema("id").dataType, "id", "ivfPqIndexPurge",
      "a lossy cast would silently purge nothing")
    index.copy(codes = index.codes.join(broadcast(keys),
      col("id").cast("long") === col("__purge_id"), "left_anti"))
  }

  /** The three parquet dirs a persisted [[IvfPqIndex]] comprises — the
    * single source of truth for [[IvfPqIndex.save]]/load and
    * [[ivfPqIndexFsck]], so the health check cannot drift from the
    * layout it checks.
    */
  private[graft] val IndexComponents = Seq("centroids", "codebooks", "codes")

  /** Health check for a persisted IVF-PQ index layout — the
    * [[graft.operators.StateCompaction.fsck]] /
    * [[graft.operators.Retrieval.fsckIndex]] analogue for the ANN
    * serving state: the promote/alert gate runs it before pointing
    * serving at a copied or long-retained index. Driver-side dir
    * METADATA only (no data read — the content-integrity manifest is
    * [[Integrity.stamp]]'s job):
    *
    *   - `missing_component`: one of centroids/codebooks/codes is gone —
    *     a partial copy or a manual deletion; the index cannot load.
    *   - `partial_write`: a component dir exists but carries no
    *     `_SUCCESS` job marker — [[IvfPqIndex.save]]'s overwrite crashed
    *     mid-write and the part files are not trustworthy; re-save from
    *     the source index.
    *   - `orphan_tmp`: a `_temporary` dir inside a component — a
    *     crashed write's scratch; rows are whatever the last COMPLETE
    *     job committed, the scratch just wastes space.
    *   - `foreign_entry`: a non-hidden name under the root that is not
    *     a component dir — not this layout's; a wrong-path write or a
    *     second index nested where serving expects one.
    *
    * A healthy index reports ZERO rows — the empty result IS the
    * health proof, matching the other fsck faces.
    *
    * @return DataFrame (chk, item, detail), ordered by (chk, item).
    */
  def ivfPqIndexFsck(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(root), s"ivfPqIndexFsck: no such dir $dir")
    val findings = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    IndexComponents.foreach { c =>
      val p = new org.apache.hadoop.fs.Path(root, c)
      if (!fs.exists(p))
        findings += (("missing_component", c,
          "component dir is gone (partial copy or manual deletion) — " +
            "the index cannot load; re-save it from the source index"))
      else {
        if (!fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
          findings += (("partial_write", c,
            "no _SUCCESS job marker — the overwrite crashed mid-write " +
              "and the part files are partial; re-save the index"))
        if (fs.exists(new org.apache.hadoop.fs.Path(p, "_temporary")))
          findings += (("orphan_tmp", s"$c/_temporary",
            "crashed write scratch; committed rows are intact, the " +
              "scratch just wastes space — safe to delete"))
      }
    }
    fs.listStatus(root)
      .filter(st => !IndexComponents.contains(st.getPath.getName))
      .map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
      .foreach { n =>
        findings += (("foreign_entry", n,
          "not part of the centroids/codebooks/codes layout — a " +
            "wrong-path write or a nested second index"))
      }
    import spark.implicits._
    findings.sortBy(f => (f._1, f._2)).toSeq.toDF("chk", "item", "detail")
  }

  /** Measured recall@k of a fitted index on a held-out query frame — the
    * drift monitor for the append-without-refit loop ([[ivfPqIndexAppend]]):
    * as appended shards move the embedding distribution away from the
    * fitted centroids/codebooks, quantization error grows and this number
    * falls; refit (a fresh [[ivfPqIndex]]) when it crosses the serving
    * bar. Cost: one exact brute-force pass over queries × corpus plus one
    * served batch — size the held-out query frame accordingly (hundreds,
    * not millions).
    */
  def servingRecall(
      queries: DataFrame,
      corpus: DataFrame,
      index: IvfPqIndex,
      k: Int,
      nprobe: Int = 0,
      rerankFactor: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): Double = {
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(queries, corpus, k, idCol, vecCol))
    if (exact.isEmpty) return 1.0
    val got = pairs(ivfPqTopK(queries, corpus, index, k, nprobe, rerankFactor, idCol, vecCol))
    got.intersect(exact).size.toDouble / exact.size
  }

  /** Query a fitted IVF-PQ index ([[ivfPqIndex]], fresh or [[IvfPqIndex.load]]ed
    * back from storage) — the serving-path overload (mirror of the
    * centroid-taking [[Similarity.ivfTopK]] and the codebook-taking
    * [[pqTopK]]): every query batch pays only the map-side probe
    * selection + the cluster-keyed ADC join + the exact re-rank, never
    * the Lloyd fits. `corpus` supplies the original vectors for the exact
    * re-rank (and the auto re-rank budget) — it is touched only AFTER the
    * per-query candidate cut, `rerankCands` rows per query.
    *
    * `nprobe <= 0` derives from the index's actual centroid count
    * (`nlist` rows — the count is free); the result is bit-identical to
    * the one-shot [[ivfPqTopK]] at the same parameters (asserted via a
    * parquet round-trip in ExtensionsSpec).
    */
  def ivfPqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      index: IvfPqIndex,
      k: Int,
      nprobe: Int,
      rerankFactor: Int,
      idCol: String,
      vecCol: String
  ): DataFrame =
    serveIvfPq(queries, corpus, index, None, k, nprobe, rerankFactor, idCol, vecCol)

  /** Filtered ANN serve: [[ivfPqTopK]] restricted to corpus rows passing
    * `pred`, a predicate over ATTRIBUTE COLUMNS STORED IN THE INDEX
    * (`attrCols` at [[ivfPqIndex]] build time) — the FAISS-IDSelector /
    * filtered-HNSW serving shape. The filter applies to the codes frame
    * BELOW the probe join, as a map-side Filter on the codes scan: rows
    * failing it are never ADC-scored, never join a probe, and add ZERO
    * exchanges (no id-keyed semi-join — the attributes travel with the
    * codes). Per-query results are the top-k among PASSING rows only,
    * with the rerank budget auto-derived from the FILTERED corpus size
    * so low-selectivity predicates keep their candidate depth.
    *
    * Recall note (measured in RECALL.json, `ivfpq_filtered`): a
    * selective filter makes the TRUE top-k farther away (the k-th
    * PASSING neighbor is weaker than the k-th overall), so at fixed
    * nprobe more of the answer set lives in unprobed clusters — recall
    * DEGRADES with selectivity on unclustered corpora. Standard
    * practice, followed by the catalog configuration: scale the probe
    * budget with 1/selectivity (≈ nprobe/selectivity capped at nlist,
    * FAISS's `IndexIVF` filtered-search guidance) and let the rerank
    * budget auto-derive from the filtered count. An ad-hoc predicate on
    * columns NOT in the index requires a rebuild with the column added
    * (or a pre-filtered id semi-join, which pays an id-keyed exchange of
    * the thin codes — deliberately not offered here; store serving
    * attributes in the index).
    */
  def ivfPqTopKFiltered(
      queries: DataFrame,
      corpus: DataFrame,
      index: IvfPqIndex,
      pred: Column,
      k: Int,
      nprobe: Int = 0,
      rerankFactor: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame =
    serveIvfPq(queries, corpus, index, Some(pred), k, nprobe, rerankFactor, idCol, vecCol)

  private def serveIvfPq(
      queries: DataFrame,
      corpus: DataFrame,
      index: IvfPqIndex,
      pred: Option[Column],
      k: Int,
      nprobe: Int,
      rerankFactor: Int,
      idCol: String,
      vecCol: String,
      knownCorpusCount: Option[Long] = None
  ): DataFrame = {
    val cents = index.centroids
    val codebooks = index.codebooks
    val resolvedNprobe =
      if (nprobe > 0) nprobe
      else Similarity.resolveNprobe(corpus.sparkSession, nprobe, cents.select("cid").count().toInt)
    val (mCount, _, offsets, sub) = layoutOf(codebooks)

    val codesWithCid = pred.map(index.codes.filter(_)).getOrElse(index.codes)

    val rerankCands =
      if (rerankFactor > 0) rerankFactor * k
      else math.max(8 * k, math.ceil(2 * math.sqrt(
        (if (pred.isDefined) codesWithCid.select("id").count()
         else knownCorpusCount.getOrElse(corpus.select(idCol).count()))
          .toDouble)).toInt)

    // Query side: top-nprobe clusters AND the ADC table, one row per
    // (query, probed cluster). Candidate rows stay vector-free — the
    // original query vector joins back only after the per-query cut.
    val qBase = queries.select(
      col(idCol).as("id"), col(vecCol).as("v"), normalized(col(vecCol)).as("qn"))
    val qTab = Similarity.scoredCentroids(qBase.select("id", "v"), cents)
      .join(qBase.select(col("id"), col("qn")), Seq("id"))
      .crossJoin(broadcast(codebookArray(codebooks)))
      .select(
        col("id").as("query_id"),
        explode(slice(col("ranked"), 1, resolvedNprobe)).as("t"),
        flatten(array((0 until mCount).map { mi =>
          transform(
            filter(col("cb"), c => c.getField("m") === mi),
            c => dot(slice(col("qn"), mi * sub + 1, sub), c.getField("cv")))
        }: _*)).as("tab"))
      .select(col("query_id"), col("t.cid"), col("tab"))

    // ADC score: one fused codegen'd loop over the packed bytes (same
    // doubles, same summation order as the former element_at chain).
    val adcScore = VectorExpressions.pqAdcScore(col("codes"), col("tab"), offsets.toSeq)
    val wAdc = Window.partitionBy("query_id").orderBy(col("adc").desc, col("neighbor_id"))
    val candidates = qTab
      .join(codesWithCid, Seq("cid"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"), adcScore.as("adc"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= rerankCands)

    val qVecs = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val cVecs = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    candidates
      .join(qVecs, Seq("query_id"))
      .join(cVecs, Seq("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        Similarity.cosine(col("qv"), col("cv")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Asymmetric PQ ANN: ADC-scan the corpus CODES with per-query lookup
    * tables, keep the top `k·rerankFactor` per query, re-rank those with
    * exact cosine. Ids must not collide across frames (equal ids are the
    * same document, self-excluded).
    *
    * Scan routing: the per-query lookup tables are `Σks·8 ≈ m·ks·8`
    * bytes each, so a query frame is broadcastable only while
    * `|Q|·m·ks·8` stays under [[AdcBroadcastMaxBytes]] (64 MB ≈ 16k
    * queries at m=16, ks=32). Beyond that — and
    * ALWAYS in the self-join form, where the query frame is the corpus
    * itself — the scan becomes a bucketed shuffle join: queries hash
    * into `min(shuffle.partitions, ⌈|Q|/64⌉)` buckets (each query's
    * table shuffles ONCE), the thin (id, m-byte codes) rows replicate
    * across the buckets, and the per-query candidate cut runs as a
    * window over (bucket, query_id) — satisfied by the join's own
    * bucket partitioning, so the Q×N candidate frame is never
    * re-exchanged. Both routes produce the identical candidate set
    * (exhaustive ADC), so recall is route-independent. Note the shuffle
    * route's replication factor: every code row is emitted once per
    * bucket — O(nb·N) shuffled rows, nb ≤ `spark.sql.shuffle.partitions`
    * — which is the exhaustive scan's O(Q·N) pair volume made explicit
    * (each replicated row is m bytes + id, and it meets ~Q/nb queries in
    * its bucket). The exhaustive scan is O(Q·N) compute by design — for
    * corpus-scale query sets prefer [[ivfPqTopK]], which prunes the pair
    * space by cluster routing instead of replicating codes.
    *
    * @return (query_id, neighbor_id, rank, sim) — `sim` is the EXACT
    *         cosine (re-rank output), rank 1..k by sim desc.
    */
  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      m: Int,
      ks: Int,
      refineIters: Int,
      rerankFactor: Int,
      idCol: String,
      vecCol: String
  ): DataFrame =
    pqTopK(
      queries, corpus,
      pqCodebooks(corpus, m, ks, refineIters, idCol, vecCol),
      k, rerankFactor, idCol, vecCol)

  /** Query a fitted PQ codebook table ([[pqCodebooks]], fresh or read
    * back from storage) — the persistable-index overload (mirror of the
    * centroid-taking [[Similarity.ivfTopK]]): fit once per corpus, then
    * every query batch pays only the map-side encode + the ADC scan,
    * never the Lloyd fits.
    */
  def pqTopK(
      queries: DataFrame,
      corpus: DataFrame,
      codebooks: DataFrame,
      k: Int,
      rerankFactor: Int,
      idCol: String,
      vecCol: String
  ): DataFrame = pqScan(queries, corpus, codebooks, k, rerankFactor, idCol, vecCol)

  /** The broadcast budget of the ADC scan's per-query lookup tables. */
  private[graft] val AdcBroadcastMaxBytes: Long = 64L << 20

  /** [[pqTopK]] over fitted codebooks, with the broadcast route taken
    * while the query tables fit `adcBroadcastMaxBytes`.
    */
  private[graft] def pqScan(
      queries: DataFrame,
      corpus: DataFrame,
      codebooks: DataFrame,
      k: Int,
      rerankFactor: Int,
      idCol: String,
      vecCol: String,
      adcBroadcastMaxBytes: Long = AdcBroadcastMaxBytes
  ): DataFrame = {
    val spark = corpus.sparkSession
    val (mCount, sizes, offsets, sub) = layoutOf(codebooks)

    // Re-rank budget: explicit, or auto-scaled with the corpus (see
    // scaladoc) — the exact re-rank then touches `rerankCands` original
    // vectors per query regardless of corpus size.
    val corpusCount = corpus.select(idCol).count()
    val rerankCands =
      if (rerankFactor > 0) rerankFactor * k
      else math.max(8 * k, math.ceil(2 * math.sqrt(corpusCount.toDouble)).toInt)

    val codes = pqEncodePacked(corpus, codebooks, idCol, vecCol)

    // Per-query ADC tables: dot(query sub-vector, codeword) for every
    // (subspace, codeword), flattened positionally to match `offsets`.
    // The normalized copy feeds only the tables; the ORIGINAL vector
    // (bit-exact re-rank input) joins back post-cut via `qVecs`.
    val qBase = queries.select(
      col(idCol).as("query_id"), normalized(col(vecCol)).as("qn"))
    val qTab = qBase
      .crossJoin(broadcast(codebookArray(codebooks)))
      .select(
        col("query_id"),
        flatten(array((0 until mCount).map { mi =>
          transform(
            filter(col("cb"), c => c.getField("m") === mi),
            c => dot(slice(col("qn"), mi * sub + 1, sub), c.getField("cv")))
        }: _*)).as("tab"))

    // The ADC scan: approximate cosine = m byte-indexed lookups in ONE
    // fused codegen'd loop; code rows never carry vectors.
    val adcScore = VectorExpressions.pqAdcScore(col("codes"), col("tab"), offsets.toSeq)

    val qCount =
      if (queries eq corpus) corpusCount else queries.select(idCol).count()
    val tabBytes = sizes.sum.toLong * 8 + 32
    val useBroadcast =
      !(queries eq corpus) && qCount * tabBytes <= adcBroadcastMaxBytes

    val candidates =
      if (useBroadcast) {
        val wAdc = Window.partitionBy("query_id").orderBy(col("adc").desc, col("neighbor_id"))
        codes
          .crossJoin(broadcast(qTab))
          .filter(col("query_id") =!= col("id"))
          .select(col("query_id"), col("id").as("neighbor_id"), adcScore.as("adc"))
          .withColumn("arank", row_number().over(wAdc))
          .filter(col("arank") <= rerankCands)
          .drop("arank")
      } else {
        val nb = math.max(1L, math.min(
          spark.conf.get("spark.sql.shuffle.partitions", "200").toLong,
          (qCount + 63) / 64)).toInt
        // shuffle_hash on the query side: build the per-bucket tab map,
        // stream the replicated codes — and the hint forecloses a
        // stats-mislead broadcast of the tabs (the exact plan this
        // routing exists to prevent).
        val qB = qTab.withColumn(
          "__b", pmod(xxhash64(col("query_id")), lit(nb.toLong)).cast("int"))
          .hint("shuffle_hash")
        val codesRep = codes.withColumn("__b", explode(sequence(lit(0), lit(nb - 1))))
        // __b is a pure function of query_id, so ranking within
        // (__b, query_id) IS the per-query rank — and the window's
        // clustering requirement is already met by the join's __b hash
        // partitioning, so the Q×N candidate frame adds no exchange.
        val wAdc = Window.partitionBy("__b", "query_id")
          .orderBy(col("adc").desc, col("neighbor_id"))
        codesRep
          .join(qB, Seq("__b"))
          .filter(col("query_id") =!= col("id"))
          .select(col("__b"), col("query_id"), col("id").as("neighbor_id"), adcScore.as("adc"))
          .withColumn("arank", row_number().over(wAdc))
          .filter(col("arank") <= rerankCands)
          .drop("__b", "arank")
      }

    // Exact re-rank over the surviving candidate set only — the original
    // query vectors meet `rerankCands` rows per query here, not the scan.
    val qVecs = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val cVecs = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    candidates
      .join(qVecs, Seq("query_id"))
      .join(cVecs, Seq("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        Similarity.cosine(col("qv"), col("cv")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
