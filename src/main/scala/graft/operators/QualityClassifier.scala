package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-based document quality filtering — the GPT-3/CCNet curation
  * stage (Brown et al. 2020 trained a linear classifier to separate
  * curated reference text from raw crawl; CCNet uses an LM the same way):
  * a logistic regression over hashed bag-of-n-gram features, trained IN
  * Spark and applied map-side.
  *
  * Scale shape:
  *
  *   - features are hashed presence indicators (`xxhash64 mod dim`,
  *     unigrams + bigrams — the fastText hashing trick), so the model is
  *     a FIXED-width weight table regardless of vocabulary: `dim` rows,
  *     broadcastable forever;
  *   - training is batch gradient descent where each iteration is two
  *     map-side-combined aggregates (per-doc margin sum, then per-feature
  *     residual sum) against BROADCAST weights — the corpus is never
  *     collected, only the `dim`-bounded gradient vector is (the same
  *     bounded-collect discipline as the BPE learn);
  *   - scoring is one broadcast join + per-doc aggregate — no fit, the
  *     serve-many shape (train on a labeled reference sample, score every
  *     incoming shard).
  *
  * Determinism: zero-initialized weights, fixed learning rate, no
  * RNG/time — the fitted model is a pure function of the corpus (scores
  * are rounded before ranking/output wherever cross-engine or cross-run
  * bit-stability matters; double-sum ulp drift is far below the rounding
  * grain).
  */
object QualityClassifier {

  /** Version stamp of the fit/feature recipe (hashing scheme, Adagrad
    * schedule, normalization). BUMP whenever a change alters the learned
    * weights — cache directories key on it (the ivfpq
    * `indexFormatVersion` pattern), so a persisted model fit by OLDER
    * code refits instead of silently serving stale scores.
    */
  val modelFormatVersion = 3

  /** Distinct hashed features of each document: unigrams and bigrams of
    * the whitespace tokens, `xxhash64(gram, "qc") mod dim`, each carrying
    * the per-document normalized value `x = 1/√n_d` (n_d = the document's
    * distinct feature count) — the feature vector is unit-L2, the
    * standard conditioning for logistic GD. Un-normalized presence makes
    * the fit oscillate (margins over ~hundreds of slots saturate the
    * sigmoid and training collapses to the majority class — observed
    * directly on the fixture corpus). One thin (doc_id, feat, x)
    * frame — text leaves the plan here.
    */
  def hashedFeatures(
      docs: DataFrame,
      dim: Int,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val toks = filter(split(lower(col(textCol)), " "), t => t =!= "")
    val grams = concat(
      toks,
      when(size(toks) >= 2,
        zip_with(slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
          (a, b) => concat_ws(" ", a, b)))
        .otherwise(array().cast("array<string>")))
    // ONE exchange for the whole feature pipeline: hash(doc_id)
    // partitioning satisfies the (doc_id, feat) distinct as a subset
    // clustering AND the per-doc normalization window AND every
    // downstream doc-keyed aggregate (margins/score) — the former
    // distinct-then-window shape paid two full exchanges of the
    // exploded feature rows for the same result.
    val w = Window.partitionBy("doc_id")
    docs
      .select(col(idCol).as("doc_id"), explode(grams).as("gram"))
      .select(col("doc_id"), pmod(xxhash64(col("gram"), lit("qc")), lit(dim.toLong)).cast("int").as("feat"))
      .repartition(col("doc_id"))
      .distinct()
      .withColumn("x", lit(1.0) / sqrt(count(lit(1)).over(w)))
  }

  /** Training blocks up to this size iterate on the driver (see [[train]]). */
  private val LocalBlocksMaxBytes: Long = 32L << 20

  /** Fit logistic weights on a labeled corpus (`labelCol` ∈ {0, 1}) with
    * Adagrad steps (Duchi, Hazan & Singer, JMLR 2011) — the per-feature
    * adaptive rate is what makes few-iteration batch fitting work on
    * sparse text, where the discriminative features (e.g. language
    * stopwords) are rare: plain GD at any fixed rate either oscillates or
    * crawls (measured 0.61–0.86 accuracy after 400 iterations on the
    * fixture task), Adagrad reaches 0.97 in 32.
    *
    * Per iteration: ONE zero-shuffle mapPartitions job over the cached
    * CSR doc blocks ([[compactBlocks]]) computes margins, residuals
    * `p − y` and the dense per-partition gradient in a single pass;
    * only a `dim+1`-double array per partition reaches the driver
    * (bounded, like the former ≤ dim+1-row collect), then the
    * driver-side update `w ← w − lr·ĝ/√(Σ ĝ²)` with `ĝ = grad/N + l2·w`.
    * [[gradientFrame]] is the SQL-equivalent specification of the step
    * (parity asserted in QualityClassifierSpec). Returns the weight
    * table `(feat, w)` with the bias at `feat = −1` — a persistable
    * model frame ([[score]] consumes it, fresh or read back from
    * parquet).
    */
  def train(
      docs: DataFrame,
      labelCol: String,
      dim: Int = 1024,
      iters: Int = 32,
      lr: Double = 2.0,
      l2: Double = 1e-6,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val spark = docs.sparkSession
    val labeled = docs.select(col(idCol).as("doc_id"), col(labelCol).cast("double").as("y"))
    // The bias rides as pseudo-feature −1 with x = 1 on every document, so
    // margin = Σ w_f·x_f ALREADY includes it and one aggregate per
    // iteration yields the whole gradient (bias included) — one Spark
    // action per step instead of two (halves the fit's job count, which
    // is pure scheduler overhead at bench scale).
    // Materialized PRE-PARTITIONED on doc_id: every iteration groups by
    // (doc_id, y) and then joins the residuals back on doc_id — with the
    // cached frame already hash(doc_id)-partitioned, the margin
    // aggregate (subset clustering) and the residual join are both
    // exchange-free, leaving the tiny ≤dim+1-row feat aggregate as the
    // ONLY per-iteration shuffle (PlanAudit asserts it). One up-front
    // exchange buys `iters`×2 fewer stages — at bench scale the fit is
    // scheduler-bound, and at corpus scale it is exactly the shuffle
    // volume this removes.
    val feats = trainingFeatures(docs, labelCol, dim, idCol, textCol)
    val n = labeled.count().toDouble
    require(n > 0, "cannot train on an empty corpus")

    // Compact the hash(doc_id)-partitioned feature frame ONCE into
    // per-partition CSR doc blocks and iterate over THOSE: each Adagrad
    // step is then a single zero-shuffle mapPartitions job (dense
    // per-partition gradient arrays of dim+1 doubles, summed on the
    // driver in partition order) instead of the former broadcast-join +
    // two hash aggregates + feat exchange + collect — the exact same
    // margin/residual/gradient arithmetic over the exact same per-doc
    // row groups ([[gradientFrame]] stays as the SQL-equivalent spec and
    // QualityClassifierSpec asserts parity), just without `iters`×
    // multi-stage scheduler latency. Per-group double-sum order shifts,
    // which is the run-to-run ulp envelope the pinned-margin oracles
    // already tolerate (PinnedOracleSpec compares at the rounded-quality
    // grain for exactly this reason). At corpus scale the win is the
    // same: the only remaining per-iteration traffic is one dim+1-double
    // array per partition to the driver.
    val blocks = compactBlocks(feats, dim)
    val sc = spark.sparkContext
    val w = new Array[Double](dim)
    val acc = Array.fill(dim)(1e-8)
    var bias = 0.0
    var accBias = 1e-8
    try {
      // Scale-adaptive iteration engine: each distributed step is one
      // tiny job whose ~40 ms scheduler round-trip dominates at bench
      // scale (×iters). When the compacted blocks fit
      // [[LocalBlocksMaxBytes]] (32 MB), collect
      // them ONCE and run the steps on the driver — the same
      // [[blockGradient]] per block, blocks folded in the same partition
      // order, so the learned weights are BIT-IDENTICAL to the
      // distributed path (asserted in QualityClassifierSpec); zero jobs
      // per iteration. A corpus-scale training frame exceeds the bound
      // and keeps the distributed path unchanged.
      val localBlocks: Option[Array[DocBlocks]] = {
        val bytes = blocks
          .map(b => 8L * b.ys.length + 4L * b.offsets.length +
            4L * b.feats.length + 8L * b.xs.length)
          .collect().sum
        if (bytes <= LocalBlocksMaxBytes) Some(blocks.collect()) else None
      }
      for (_ <- 1 to iters) {
        val g = localBlocks match {
          case Some(bs) => localGradient(bs, dim, w, bias)
          case None     => rddGradient(blocks, dim, w, bias, sc)
        }
        var f = 0
        while (f < dim) {
          val gf = g(f) / n + l2 * w(f)
          acc(f) += gf * gf
          w(f) -= lr * gf / math.sqrt(acc(f))
          f += 1
        }
        val gBias = g(dim) / n
        accBias += gBias * gBias
        bias -= lr * gBias / math.sqrt(accBias)
      }
    } finally blocks.unpersist(blocking = false)
    weightsDf(spark, w, bias)
  }

  /** Per-partition CSR layout of the training frame: doc d of a
    * partition owns rows `offsets(d) until offsets(d+1)` of the parallel
    * `feats`/`xs` arrays (bias rows keep feat = −1), with label `ys(d)`.
    * Docs appear in first-encounter order and rows in partition row
    * order — the same accumulation order the former per-group hash
    * aggregate used.
    */
  private[graft] final case class DocBlocks(
      ys: Array[Double],
      offsets: Array[Int],
      feats: Array[Int],
      xs: Array[Double])

  /** ONE Adagrad iteration's gradient over the compacted blocks — the
    * zero-shuffle execution of [[gradientFrame]]'s arithmetic: index f
    * of the returned array is grad_f = Σ_d∋f (σ(margin_d) − y_d)·x_df
    * for f < dim, index dim is the bias gradient (pseudo-feature −1).
    * One mapPartitions job; a dim+1-double array per partition crosses
    * to the driver, summed in partition order.
    */
  private[graft] def rddGradient(
      blocks: org.apache.spark.rdd.RDD[DocBlocks],
      dim: Int,
      w: Array[Double],
      bias: Double,
      sc: org.apache.spark.SparkContext,
      treeFoldMinPartitions: Int = TreeFoldMinPartitions): Array[Double] = {
    val wB = sc.broadcast((w.clone(), bias))
    try {
      val perPart = blocks.map { part =>
        val (wCur, biasCur) = wB.value
        QualityClassifier.blockGradient(part, wCur, biasCur)
      }
      pairwiseFold(perPart, dim, treeFoldMinPartitions)
    } finally wB.destroy()
  }

  /** One block's dense gradient — the shared per-partition kernel of
    * [[rddGradient]] (executor side) and [[localGradient]] (driver
    * side): identical code, so the two engines agree bit-for-bit.
    */
  private[graft] def blockGradient(
      part: DocBlocks, wCur: Array[Double], biasCur: Double): Array[Double] = {
    val grad = new Array[Double](wCur.length + 1)
    var d = 0
    while (d < part.ys.length) {
      var margin = 0.0
      var i = part.offsets(d)
      val end = part.offsets(d + 1)
      while (i < end) {
        val f = part.feats(i)
        margin += (if (f < 0) biasCur else wCur(f)) * part.xs(i)
        i += 1
      }
      val r = 1.0 / (1.0 + math.exp(-margin)) - part.ys(d)
      i = part.offsets(d)
      while (i < end) {
        val f = part.feats(i)
        grad(if (f < 0) wCur.length else f) += r * part.xs(i)
        i += 1
      }
      d += 1
    }
    grad
  }

  /** Driver-local iteration step over collected blocks (see [[train]]'s
    * scale switch): per-block gradients in parallel on driver cores
    * (read-only inputs, results slotted by block index), then folded
    * SEQUENTIALLY in block (= partition) order — the exact arithmetic
    * and association of the distributed collect+fold path.
    */
  private[graft] def localGradient(
      bs: Array[DocBlocks], dim: Int, w: Array[Double], bias: Double): Array[Double] = {
    val grads = new Array[Array[Double]](bs.length)
    java.util.stream.IntStream.range(0, bs.length).parallel()
      .forEach(i => grads(i) = blockGradient(bs(i), w, bias))
    grads.foldLeft(new Array[Double](dim + 1)) { (a, p) =>
      var i = 0
      while (i < a.length) { a(i) += p(i); i += 1 }
      a
    }
  }

  private val TreeFoldMinPartitions = 1024

  /** Sum the per-partition gradient arrays with BOUNDED driver inflow.
    *
    * Up to `treeMin` partitions ([[TreeFoldMinPartitions]] = 1024 by
    * default), the arrays collect straight to the driver and fold in
    * partition order — one dim+1-double array per partition, ≤ ~8 MB at
    * dim=1024, and bit-identical to the historical linear fold. Above
    * that (the 100 TB regime: 10⁴–10⁵ partitions would push 80–800 MB
    * through the driver per iteration, ×32 iterations — guide §5
    * driver-as-bottleneck), a deterministic two-level fold runs first:
    * partitions group into ⌈√P⌉-sized contiguous pid ranges, each group
    * sums IN PID ORDER on an executor, and the driver folds the ⌈√P⌉
    * group sums in group order — deterministic at any scale (every fold
    * is explicitly ordered), with driver inflow √P·(dim+1)·8 bytes. The
    * two associativity shapes differ at float-ulp only, the run-to-run
    * envelope the rounded-grain pinned oracles already tolerate; the
    * threshold keeps bench-scale fits on the historical single-stage
    * path (no extra shuffle per iteration where the driver is nowhere
    * near its inflow bound).
    */
  private def pairwiseFold(
      perPart: org.apache.spark.rdd.RDD[Array[Double]], dim: Int, treeMin: Int): Array[Double] = {
    def sumInto(a: Array[Double], p: Array[Double]): Array[Double] = {
      var i = 0
      while (i < a.length) { a(i) += p(i); i += 1 }
      a
    }
    val parts = perPart.getNumPartitions
    if (parts <= treeMin)
      perPart.collect().foldLeft(new Array[Double](dim + 1))(sumInto)
    else {
      val groupSize = math.ceil(math.sqrt(parts.toDouble)).toInt
      val nGroups = (parts + groupSize - 1) / groupSize
      perPart
        .mapPartitionsWithIndex((pid, it) => it.map(g => (pid, g)))
        .groupBy(t => t._1 / groupSize, nGroups)
        .map { case (gid, ts) =>
          (gid, ts.toSeq.sortBy(_._1).map(_._2)
            .foldLeft(new Array[Double](dim + 1))(sumInto))
        }
        .collect().sortBy(_._1).map(_._2)
        .foldLeft(new Array[Double](dim + 1))(sumInto)
    }
  }

  /** Compact `feats` (one materialized pass) into cached per-partition
    * [[DocBlocks]] — the frame [[train]]'s per-iteration zero-shuffle
    * gradient jobs scan. One element per partition; doc grouping is
    * in-partition only — CORRECTNESS PRECONDITION: the input must be
    * hash(doc_id)-partitioned (a doc split across partitions would yield
    * two partial margins and a wrong gradient). [[trainingFeatures]], the
    * one caller, establishes it with its up-front repartition; any new
    * caller must do the same.
    */
  private[graft] def compactBlocks(
      feats: DataFrame, dim: Int): org.apache.spark.rdd.RDD[DocBlocks] = {
    val rdd = feats.select(col("doc_id"), col("y"), col("feat"), col("x"))
      .rdd
      .mapPartitions { rows =>
        val docIdx = new scala.collection.mutable.HashMap[Any, Int]()
        val ys = new scala.collection.mutable.ArrayBuffer[Double]()
        val docFeats = new scala.collection.mutable.ArrayBuffer[
          scala.collection.mutable.ArrayBuffer[Int]]()
        val docXs = new scala.collection.mutable.ArrayBuffer[
          scala.collection.mutable.ArrayBuffer[Double]]()
        rows.foreach { row =>
          // Null doc_id/label would silently coerce (null key grouping /
          // getDouble(null) = 0.0) where the SQL gradientFrame spec
          // would drop the doc — fail loudly instead.
          require(!row.isNullAt(0) && !row.isNullAt(1),
            "compactBlocks: null doc_id or label in the training frame")
          val d = docIdx.getOrElseUpdate(row.get(0), {
            ys += row.getDouble(1)
            docFeats += new scala.collection.mutable.ArrayBuffer[Int]()
            docXs += new scala.collection.mutable.ArrayBuffer[Double]()
            ys.length - 1
          })
          val f = row.getInt(2)
          require(f >= -1 && f < dim, s"feature id $f outside [-1, $dim)")
          docFeats(d) += f
          docXs(d) += row.getDouble(3)
        }
        val offsets = new Array[Int](ys.length + 1)
        var d = 0
        while (d < ys.length) { offsets(d + 1) = offsets(d) + docFeats(d).length; d += 1 }
        Iterator.single(DocBlocks(
          ys.toArray, offsets,
          docFeats.iterator.flatten.toArray, docXs.iterator.flatten.toArray))
      }
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rdd
  }

  /** ONE Adagrad iteration's gradient frame — margin_d = Σ_f w_f·x_df
    * (bias included as pseudo-feature −1); p = σ(margin); r = p − y;
    * grad_f = Σ_d∋f r_d·x_df — ≤ dim+1 rows out. Factored out so
    * PlanAudit can assert the iteration's plan shape: with `feats`
    * cached hash(doc_id)-partitioned (see [[train]]), the margin
    * aggregate (subset clustering) and the residual join reuse that
    * partitioning and the ONLY exchange is the tiny per-feature
    * aggregate.
    */
  private[graft] def gradientFrame(feats: DataFrame, wDf: DataFrame): DataFrame = {
    val residuals = feats
      .join(broadcast(wDf), Seq("feat"), "left")
      .groupBy("doc_id", "y")
      .agg(coalesce(sum(col("w") * col("x")), lit(0.0)).as("margin"))
      .select(col("doc_id"),
        (lit(1.0) / (lit(1.0) + exp(-col("margin"))) - col("y")).as("r"))
    feats.join(residuals, Seq("doc_id"))
      .groupBy("feat").agg(sum(col("r") * col("x")).as("g"))
  }

  /** The materialized, hash(doc_id)-partitioned per-document feature
    * frame [[train]] iterates over — exposed for the plan audit.
    */
  private[graft] def trainingFeatures(
      docs: DataFrame, labelCol: String, dim: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val labeled = docs.select(col(idCol).as("doc_id"), col(labelCol).cast("double").as("y"))
    graft.plans.Materialize(
      hashedFeatures(docs, dim, idCol, textCol).join(labeled, Seq("doc_id"))
        .unionByName(labeled.select(
          col("doc_id"), lit(-1).as("feat"), lit(1.0).as("x"), col("y")))
        .repartition(col("doc_id")))
  }

  /** The `(feat, w)` weight frame, bias at `feat = −1`; zero weights are
    * kept so the frame's width is always exactly `dim + 1` (self-
    * describing — scoring derives nothing from config).
    */
  private def weightsDf(
      spark: org.apache.spark.sql.SparkSession,
      w: Array[Double],
      bias: Double): DataFrame = {
    import spark.implicits._
    (w.zipWithIndex.map { case (v, i) => (i, v) } :+ (-1, bias))
      .toSeq.toDF("feat", "w")
  }

  /** Pre-sigmoid margins of a fitted model: `(doc_id, m)` with
    * m = Σ w_f·x_f + bias, full double precision. This is the quantity
    * the composed DuckDB oracles pin as literal VALUES (the hashed
    * feature lookup has no SQL form, but σ + rounding do — see
    * [[graft.tools.PinnedOracleGen]]); [[score]] is one sigmoid away.
    */
  def margins(
      docs: DataFrame,
      model: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val dim = model.where(col("feat") >= 0).count().toInt
    val bias = model.where(col("feat") === -1).head().getDouble(1)
    hashedFeatures(docs, dim, idCol, textCol)
      .join(broadcast(model.where(col("feat") >= 0)), Seq("feat"), "left")
      .groupBy("doc_id")
      .agg(coalesce(sum(col("w") * col("x")), lit(0.0)).as("margin"))
      .select(col("doc_id").as(idCol), (col("margin") + bias).as("m"))
  }

  /** Score documents with a fitted model: `(doc_id, quality)` where
    * quality = σ(Σ w_f + bias), rounded to 4 decimals. One broadcast join
    * + per-doc aggregate — zero corpus-sized exchanges beyond the feature
    * explode's own doc-keyed aggregate.
    */
  def score(
      docs: DataFrame,
      model: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame =
    margins(docs, model, idCol, textCol)
      .select(col(idCol),
        round(lit(1.0) / (lit(1.0) + exp(-col("m"))), 4).as("quality"))
}
