package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{EventBounds, TemporalBounds}
import graft.operators.{EventBoundAgg, TemporalWindowAgg}
import graft.plans.{WindowNode, WindowTree}
import graft.sources.{PredicateFrames, Tables}

/** Physical-plan audit: prints exchange counts and pushdown evidence for
  * the core operators, the artifacts backing the scale-design claims in
  * README.md. Run: `sbt "runMain graft.tools.PlanAudit"`.
  */
object PlanAudit {

  private def exchanges(df: DataFrame): Int = {
    val plan = df.queryExecution.executedPlan.toString
    "Exchange hashpartitioning".r.findAllIn(plan).length +
      "Exchange rangepartitioning".r.findAllIn(plan).length
  }

  private def audit(name: String, df: DataFrame, expectMaxExchanges: Int): Unit = {
    val n = exchanges(df)
    val flag = if (n <= expectMaxExchanges) "OK " else "HOT"
    println(f"$flag $name%-28s exchanges=$n (budget $expectMaxExchanges)")
    if (n > expectMaxExchanges) df.explain("formatted")
  }

  def main(args: Array[String]): Unit = {
    // plan-shape audit: AQE rewrites plans at runtime, disable for a
    // stable static view
    val spark = graft.Sessions.local(8, "spark.sql.adaptive.enabled" -> "false")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"

    // Ingest budgets: skew-safe collapse = 2 exchanges (full-key group-by
    // shuffle, then the COLLAPSED rows repartition to subject_id);
    // direct mode = 1 (repartition raw, group in place). The adaptive
    // default must shortcut a small input straight to direct — 1 exchange,
    // no sampling job.
    val preds = Tables.eventsAsPredicates(spark, dir, Seq("click", "purchase", "error"))
    audit("ingest_collapse(adaptive)", preds, 1)
    spark.conf.set("spark.graft.collapse", "skew-safe")
    val predsSafe = Tables.eventsAsPredicates(spark, dir, Seq("click", "purchase", "error"))
    audit("ingest_collapse(skew-safe)", predsSafe, 2)
    spark.conf.set("spark.graft.collapse", "direct")
    val predsDirect = Tables.eventsAsPredicates(spark, dir, Seq("click", "purchase", "error"))
    audit("ingest_collapse(direct)", predsDirect, 1)
    spark.conf.unset("spark.graft.collapse")

    // Adaptive decision quality: sampled statistics must route a skewed /
    // duplicate-heavy corpus to skew-safe and a uniform one to direct
    // (forced full sample + no size shortcut for determinism).
    import spark.implicits._
    def synth(f: Int => Long) = (1 to 4000)
      .map(i => (f(i), java.sql.Timestamp.valueOf(f"1989-01-01 ${i % 24}%02d:00:00")))
      .toDF("subject_id", "timestamp")
    def decide(df: org.apache.spark.sql.DataFrame) =
      graft.sources.PredicateFrames.chooseCollapseMode(df, smallInputBytes = 0L, sampleFraction = 1.0)
    val modeUniform = decide(synth(_.toLong))
    val modeSkewed = decide(synth(i => if (i % 2 == 0) 42L else i.toLong))
    val adaptOk = modeUniform == "direct" && modeSkewed == "skew-safe"
    println(s"${if (adaptOk) "OK " else "HOT"} adaptive collapse decision     uniform=$modeUniform skewed=$modeSkewed")

    // Over a canonical frame cached sorted-within-partitions, every
    // per-subject operator must add ZERO exchanges above the cache — one
    // partitioning for the whole pipeline.
    val canonical = preds
      .withColumn(TemporalWindowAgg.TsUs, unix_micros(col("timestamp")))
      .sortWithinPartitions(col("subject_id"), col(TemporalWindowAgg.TsUs))
      .persist()
    canonical.count()
    def aboveCache(df: DataFrame): Int = {
      val plan = df.queryExecution.executedPlan.toString.split("InMemoryRelation").head
      "Exchange hashpartitioning".r.findAllIn(plan).length +
        "Exchange rangepartitioning".r.findAllIn(plan).length
    }
    def auditCached(name: String, df: DataFrame, budget: Int): Unit = {
      val n = aboveCache(df)
      val flag = if (n <= budget) "OK " else "HOT"
      println(f"$flag $name%-28s exchanges=$n (budget $budget)")
      if (n > budget) df.explain("formatted")
    }
    auditCached("temporal_window", TemporalWindowAgg(canonical, TemporalBounds(true, 86400000000L, true, 0L)), 0)
    auditCached("event_bound", EventBoundAgg(canonical, EventBounds(true, "is_purchase", true, 0L)), 0)
    auditCached("event_bound_offset", EventBoundAgg(canonical, EventBounds(true, "is_purchase", true, 3600000000L)), 0)

    // Parquet pushdown: filter + projection must reach the scan.
    val scan = Tables.table(spark, dir, "lineitem")
      .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select("l_orderkey", "l_quantity")
    val scanPlan = scan.queryExecution.executedPlan.toString
    val pushed = scanPlan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate")
    val pruned = scanPlan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_shipdate")
    println(s"${if (pushed) "OK " else "HOT"} parquet filter pushdown        pushed=$pushed")
    println(s"${if (pruned) "OK " else "HOT"} parquet column pruning          pruned=$pruned")
    if (!pushed || !pruned) scan.explain("formatted")

    // Sort elimination: over the canonical frame (cached sorted-within-
    // partitions on (subject_id, __ts_us)), window operators must NOT
    // re-sort. Count sorts only above the cache boundary — the cached
    // plan's own materialization sort is printed inside InMemoryRelation.
    val overCached = TemporalWindowAgg(canonical, TemporalBounds(true, 86400000000L, true, 0L))
    val planAboveCache =
      overCached.queryExecution.executedPlan.toString.split("InMemoryRelation").head
    val nSorts = "Sort ".r.findAllIn(planAboveCache).length
    println(s"${if (nSorts == 0) "OK " else "HOT"} window sort reuse              sorts=$nSorts")

    // Codegen'd operators carry a "*(stageId)" prefix in the plan string.
    val wsPlan = TemporalWindowAgg(preds, TemporalBounds(true, 86400000000L, true, 0L))
      .queryExecution.executedPlan.toString
    val codegenOps = "\\*\\(\\d+\\)".r.findAllIn(wsPlan).length
    println(s"${if (codegenOps > 0) "OK " else "HOT"} codegen'd operators            n=$codegenOps")

    // Subset-key co-partitioning: a join on (subject_id, timestamp) over
    // two branches of the hash(subject_id)-partitioned frame must add NO
    // exchange (requireAllClusterKeysForCoPartition=false — without it,
    // EnsureRequirements re-shuffles BOTH sides of every such join to
    // hash(subject_id, timestamp): 2 extra full-data shuffles per join at
    // 100 TB). Regression guard for Tables.configure/tune.
    val anchors = canonical.filter(col("is_click") > 0).select("subject_id", "timestamp")
    val joined = canonical.join(anchors, Seq("subject_id", "timestamp"), "inner")
    val nJoinEx = aboveCache(joined)
    println(s"${if (nJoinEx == 0) "OK " else "HOT"} co-partitioned anchor join     extra exchanges=$nJoinEx")
    if (nJoinEx != 0) joined.explain("formatted")

    // Window-tree kernel: one sorted pass per subject adds NO exchange over
    // the hash(subject_id)-partitioned frame, and neither an exchange nor a
    // sort over a bucketed table sorted on (subject_id, timestamp) (one file
    // per bucket: the frame's partitions map one-to-one onto the buckets).
    val tree = WindowNode("trigger", None, children = Seq(
      WindowNode("gap.end", Some(TemporalBounds(true, 86400000000L, true)), Map("is_purchase" -> (None, Some(0L))),
        Seq(WindowNode("target.end", Some(EventBounds(false, "is_purchase", true, 0L)))))))
    val kernelEx = exchanges(WindowTree(tree, "is_click", preds)) - exchanges(preds)
    PredicateFrames.writeBucketed(preds, "graft_audit_bucketed",
      buckets = spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val overBucketed = WindowTree(tree, "is_click", PredicateFrames.readBucketed(spark, "graft_audit_bucketed"))
    val (bucketedEx, bucketedSorts) =
      (exchanges(overBucketed), "Sort ".r.findAllIn(overBucketed.queryExecution.executedPlan.toString).length)
    val kernelOk = kernelEx == 0 && bucketedEx == 0 && bucketedSorts == 0
    println(s"${if (kernelOk) "OK " else "HOT"} window-tree kernel             added exchanges=$kernelEx " +
      s"over bucketed: exchanges=$bucketedEx sorts=$bucketedSorts")
    if (!kernelOk) overBucketed.explain("formatted")
    spark.sql("DROP TABLE IF EXISTS graft_audit_bucketed")

    // Extension-operator plan shapes. Packing: one exchange (the bucket
    // repartition) feeds the per-bucket running-sum window. Decontaminate:
    // the probe side must arrive by BROADCAST (no shuffle of corpus text),
    // shingle explode + per-doc distinct-count reuse the doc_id clustering.
    val docsT = Tables.table(spark, dir, "documents")
    audit("packing", graft.operators.Packing.packSequences(docsT, 512, 8), 1)
    val decon = graft.operators.Decontaminate.matches(
      docsT.filter(col("doc_id") >= 5), docsT.filter(col("doc_id") < 5))
    val deconPlan = decon.queryExecution.executedPlan.toString
    val deconBroadcast = deconPlan.contains("BroadcastHashJoin") || deconPlan.contains("BroadcastExchange")
    println(s"${if (deconBroadcast) "OK " else "HOT"} decontaminate broadcast probe  broadcast=$deconBroadcast")
    audit("decontaminate", decon, 2)

    // Quota sampling: the giant-group guard. The hash-threshold
    // pre-filter (__r < __thr, thresholds from a BROADCAST group-count
    // join) must execute BELOW the per-group rank window, so the
    // single-partition sort ranks only ~slack×quota survivors — never
    // the raw group (the 90%-English 100 TB scale-killer).
    val quotaPlan = graft.operators.Sampling
      .quotaSample(docsT, Map("en" -> 50L, "es" -> 20L))
      .queryExecution.executedPlan.toString
    val quotaWinAt = quotaPlan.indexOf("Window")
    // Catalyst folds the pre-filter into the broadcast join condition:
    // BroadcastHashJoin [...], (__r#L < least(2^32, ceil(...))), below
    // the Window in the top-down plan print.
    val quotaPreAt =
      "__r#\\d+L? < least\\(".r.findFirstMatchIn(quotaPlan).map(_.start).getOrElse(-1)
    val quotaBroadcast = quotaPlan.contains("BroadcastHashJoin")
    val quotaOk = quotaWinAt >= 0 && quotaPreAt > quotaWinAt && quotaBroadcast
    println(s"${if (quotaOk) "OK " else "HOT"} quota-sample pre-filter        " +
      s"filterBelowRank=${quotaPreAt > quotaWinAt} countsBroadcast=$quotaBroadcast")
    if (!quotaOk) println(quotaPlan)

    // Token-budget sample: same giant-group guard as quota, but the cut
    // is a cumulative-token window — the pre-filter must still execute
    // below it (so the window sums ~slack×budget/total of the group).
    val tokFrame = docsT.withColumn("n_tokens",
      size(split(lower(col("text")), " ")).cast("long"))
    val tbDf = graft.operators.Sampling.tokenBudgetSample(
      tokFrame, Map("en" -> 3000L, "es" -> 1000L))
    audit("sample_token_budget", tbDf, 2)
    val tbPlan = tbDf.queryExecution.executedPlan.toString
    val tbWinAt = tbPlan.indexOf("Window")
    val tbPreAt = "__r#\\d+L? < least\\(".r.findFirstMatchIn(tbPlan).map(_.start).getOrElse(-1)
    println(s"${if (tbWinAt >= 0 && tbPreAt > tbWinAt) "OK " else "HOT"} token-budget pre-filter        filterBelowWindow=${tbPreAt > tbWinAt}")

    // Rank-based quality cut: the rank and the group count share ONE
    // window partitioning — a single exchange total.
    audit("quality_rank_filter(op)", graft.operators.Sampling.topFractionByScore(
      docsT.withColumn("score", col("doc_id").cast("double")), 0.8), 1)

    // Fractional-epoch upsampling: literal factor map + generated
    // sequence explode — purely map-side.
    audit("sample_upsample", graft.operators.Sampling.upsampleRepeats(
      docsT, Map("en" -> 1.0, "fr" -> 2.5)), 0)

    // No-split FFD packing: one bucket-key exchange, FFD inside the
    // partition.
    audit("text_packing_bins", graft.operators.Packing.packGreedyBins(
      docsT, budgetTokens = 128, buckets = 8), 1)

    // Temperature mixing sample: quota arithmetic stays IN-PLAN (group
    // counts + the one-row Σ n^α both arrive by broadcast — no driver
    // collect of group statistics); exchanges = the count aggregate +
    // the per-group rank window re-cluster.
    audit("sample_temperature",
      graft.operators.Sampling.temperatureSample(docsT, totalN = 100, alpha = 0.5), 3)

    // UniMax waterfilling: corpus-sized data crosses ONE exchange (the
    // map-side-combined (group, tokens) aggregate); everything after —
    // the cap cumsum, prefix test, and threshold windows — runs on the
    // group-cardinality frame (single-partition window exchanges over
    // ≤ thousands of rows at any corpus scale).
    audit("sample_mix_unimax", graft.operators.Sampling.unimaxPlan(
      docsT.withColumn("n_tokens",
        org.apache.spark.sql.functions.length(col("text")).cast("long")),
      totalTokens = 36000L, maxEpochs = 2.0), 2) // measured 1: all windows reuse one single-partition exchange

    // UniMax EXECUTED: corpus-sized data never shuffles — the plan's
    // aggregate is the only exchange and its group-cardinality result
    // arrives back by broadcast; the copies explode map-side.
    audit("sample_unimax", graft.operators.Sampling.unimaxSample(
      docsT.withColumn("n_tokens",
        org.apache.spark.sql.functions.length(col("text")).cast("long")),
      totalTokens = 36000L, maxEpochs = 2.0), 2) // measured 1: the plan aggregate

    // Token-id packing: corpus-sized data crosses the vocab count
    // aggregate and ONE bucket repartition; the vocab itself is a
    // TakeOrdered (no global sort) arriving back by broadcast, and the
    // chunker is a compiled row loop over the sorted partition.
    audit("text_pack_ids", graft.operators.Packing.packTokenIds(
      docsT, graft.operators.Packing.rankVocab(docsT, 200),
      budgetTokens = 64, buckets = 8), 3) // measured 2: vocab count agg + bucket repartition

    // Subword token-id packing (the sink_tokens bpe/unigram path): the
    // tokenize is map-side (broadcast merge table inside ONE
    // mapPartitions), so the pack keeps the word path's exchange budget
    // — piece-vocab count aggregate + bucket repartition, nothing more.
    audit("text_pack_ids(bpe)", {
      val stream = graft.operators.Packing.tokenStream(docsT,
        graft.operators.Packing.BpeTokenizer(
          graft.functions.Bpe.learnMerges(docsT, numMerges = 16)))
      graft.operators.Packing.packTokenIdsFrom(stream,
        graft.operators.Packing.rankVocabFromTokens(stream, 200),
        budgetTokens = 64, buckets = 8)
    }, 3) // measured 2: vocab count agg + bucket repartition

    // Trigram language ID: the doc_id repartition is the ONE exchange of
    // corpus-sized data — n-gram explode, (doc, tg) count, per-doc rank
    // window, per-(doc, lang) distance aggregate and argmin window all
    // reuse hash(doc_id); the language/profile tables arrive by
    // broadcast. The trailing und-fallback join may re-exchange the thin
    // id set, hence the bound of 2.
    audit("langid_trigram", graft.operators.LangIdTrigram.classifyAll(docsT), 2)

    // IVF centroid assignment: scoring against the broadcast centroid
    // array must tag each vector in place — zero hash/range exchanges of
    // the corpus (the former crossJoin + window argmax shuffled N×nlist
    // rows carrying full vectors; regression guard for that scale-killer).
    val embT = Tables.table(spark, dir, "embeddings")
    val embBase = embT.select(col("vec_id").as("id"), col("embedding").as("v"))
    val embCents = embBase.limit(4).select(col("id").as("cid"), col("v").as("cv"))
    audit("ivf_assignment", graft.operators.Similarity.assignToCentroids(embBase, embCents), 0)

    // PQ encode: one map-side pass against broadcast codebooks — zero
    // hash/range exchanges of the corpus (the codes come out of the same
    // scan that read the vectors; only the tiny codebook aggregate moves).
    val pqBooks = graft.operators.ProductQuant.pqCodebooks(embT, m = 8, ks = 8, refineIters = 1)
    audit("pq_encode", graft.operators.ProductQuant.pqEncode(embT, pqBooks), 0)

    // PQ ADC scan routing. Self-join form: the "query table" is the
    // corpus, so its ADC tables must NEVER arrive by broadcast (the
    // O(N·m·ks) driver/executor OOM shape) — required plan is the
    // bucketed shuffle join (hashpartitioning(__b)) with the per-query
    // cut reusing that partitioning. Asymmetric small-query form: the
    // broadcast IS the right plan — assert it stays.
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    def tabBroadcasts(df: DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case b: BroadcastExchangeExec if b.output.exists(_.name == "tab") => b
      }.length
    val pqSelf = graft.operators.ProductQuant
      .pqTopK(embT, k = 5, m = 8, ks = 8, refineIters = 1)
    val selfTabBc = tabBroadcasts(pqSelf)
    val selfPlan = pqSelf.queryExecution.executedPlan.toString
    val selfBucketed = "hashpartitioning\\(__b".r.findFirstIn(selfPlan).isDefined
    val pqSelfOk = selfTabBc == 0 && selfBucketed
    println(s"${if (pqSelfOk) "OK " else "HOT"} pq self-join ADC routing       " +
      s"tabBroadcasts=$selfTabBc bucketedShuffle=$selfBucketed")
    if (!pqSelfOk) pqSelf.explain("formatted")
    val pqAsym = graft.operators.ProductQuant.pqTopK(
      embT.filter(col("vec_id") < 20), embT.filter(col("vec_id") >= 20),
      k = 5, m = 8, ks = 8, refineIters = 1, rerankFactor = 8,
      idCol = "vec_id", vecCol = "embedding")
    val asymTabBc = tabBroadcasts(pqAsym)
    println(s"${if (asymTabBc == 1) "OK " else "HOT"} pq small-query ADC broadcast   tabBroadcasts=$asymTabBc")

    // SemDeDup: centroid assignment/scoring must stay map-side — the
    // ONLY hash exchanges of corpus-sized data are the cluster-keyed
    // self-join sides (+ the dropped-id distinct and decision join),
    // never an N×nlist explode. Budget: 6 (2 join inputs, distinct
    // partial/final, left-join sides).
    audit("semdedup", graft.operators.Dedup.semDeDup(
      embT, threshold = 0.4, nlist = 4, nprobe = 2, refineIters = 1), 6)

    // Incremental SemDeDup (persisted centroids, shard vs corpus): same
    // map-side assignment story — only cluster-keyed exchanges, same
    // budget as the full run.
    val semCents = graft.plans.Materialize(
      graft.operators.Similarity.ivfCentroids(
        embT.filter(col("vec_id") < 400), nlist = 4, refineIters = 1),
      eager = true)
    audit("semdedup_incr", graft.operators.Dedup.semDeDupIncremental(
      embT.filter(col("vec_id") >= 400), embT.filter(col("vec_id") < 400),
      semCents, threshold = 0.4, nprobe = 2), 6)

    // Perceptual-hash signatures: one partition-wise decode pass — the
    // image payloads must never shuffle (only 8-byte signatures leave
    // the scan), so the signature frame has ZERO exchanges.
    val bitmaps = graft.harness.MediaFixtures.syntheticBitmaps(
      docsT.select(col("doc_id")))
    audit("phash_signatures", graft.operators.PerceptualHash.signatures(bitmaps), 0)

    // Perceptual-hash dedup: signature-only exchanges downstream of the
    // decode scan (identical-hash window, chunk-band window + join, pair
    // dedup, star union) — every shuffled row is ≤ ~28 bytes. Budget 6.
    audit("phash_dedup", graft.operators.PerceptualHash.dedup(bitmaps), 6)

    // Incremental phash: shard decode + signature-level banding over the
    // union + the two touching-shard flag joins — corpus payloads never
    // enter the plan (the index is the 16-byte (id, hash) rows).
    val phashIdx = graft.plans.Materialize(graft.operators.PerceptualHash.signatures(
      bitmaps.filter(col("media_id") < 250)), eager = true)
    audit("phash_dedup(incr)", graft.operators.PerceptualHash.dedupIncremental(
      bitmaps.filter(col("media_id") >= 250), phashIdx), 6)

    // Audio-fingerprint dedup mirrors the phash shapes exactly: the FFT
    // decode is one partition-wise pass (ZERO exchanges on the signature
    // frame — 8 bytes per clip leave the scan), and everything shuffled
    // downstream is signature-sized.
    val wavs = graft.harness.MediaFixtures.syntheticWavs(
      docsT.select(col("doc_id")))
    audit("afp_signatures", graft.operators.AudioFingerprint.signatures(wavs), 0)
    audit("afp_dedup", graft.operators.AudioFingerprint.dedup(wavs), 6)
    val afpIdx = graft.plans.Materialize(graft.operators.AudioFingerprint.signatures(
      wavs.filter(col("media_id") < 250)), eager = true)
    audit("afp_dedup(incr)", graft.operators.AudioFingerprint.dedupIncremental(
      wavs.filter(col("media_id") >= 250), afpIdx), 6)

    // Exact duplicate-span detection: duplicated keys come from a
    // MAP-SIDE-COMBINED count + semi-join (a hot boilerplate window
    // leaves each mapper as one partial row; no single-task analytic
    // group). Exchanges = doc_id repartition, the key-keyed count
    // aggregate, and the doc-keyed islands re-cluster — the budget of 3
    // holds because the tiny duplicated-key side of the semi-join
    // broadcasts at this scale (at cluster scale AQE makes the same
    // call); a shuffled semi-join would add one. Summary adds the
    // totals join sides (thin per-doc rows), budget 5.
    audit("dedup_substring(spans)",
      graft.operators.Dedup.duplicateSpans(docsT, k = 5, hashWindows = true), 3)
    audit("dedup_substring(summary)",
      graft.operators.Dedup.duplicateSpanSummary(docsT, k = 5, hashWindows = true), 5)

    // Incremental spans: the shard pays its own windows + one count join
    // against the persisted index — the corpus is never re-windowed
    // (nothing in this plan touches corpus text; budget = shard
    // repartition, shard count aggregate, index join sides, islands
    // re-cluster).
    val subIdx = graft.operators.Dedup.substringIndex(
      docsT.filter(col("doc_id") < 450), k = 5, hashWindows = true)
    audit("dedup_substring(incr)", graft.operators.Dedup.duplicateSpansIncremental(
      docsT.filter(col("doc_id") >= 450), subIdx, k = 5, hashWindows = true), 6)

    // Span removal: spans explode into thin (doc_id, pos) drop rows and
    // anti-join the token rows on the doc_id clustering both sides carry;
    // budget = span detection (3) + token repartition + rebuild/restore
    // joins.
    audit("dedup_substring(remove)",
      graft.operators.Dedup.removeDuplicateSpans(docsT, k = 5, hashWindows = true), 7)

    // Line dedup (C4 repeated-line discard): first-occurrence table is a
    // partial-aggregatable line-key groupBy (map-side combine collapses
    // hot boilerplate keys — deliberately NOT a window, so AQE can also
    // skew-split the join back); budget = line agg + occurrence-side
    // join shuffle + doc reassembly agg + restore join.
    audit("dedup_lines", graft.operators.Dedup.dedupLines(docsT), 5)

    // LM SERVING: scoring a shard against a fitted LM frame must never
    // re-aggregate corpus counts — no token-keyed hash exchange at all;
    // just the broadcast LM join, the per-doc aggregate, and the ordered
    // output.
    val lmFit = graft.operators.Vocabulary.unigramLm(docsT.filter(col("doc_id") < 250), vocabSize = 20)
    val lmServe = graft.operators.Vocabulary.perplexity(
      docsT.filter(col("doc_id") >= 250), lmFit, "text", "doc_id")
    audit("text_perplexity(serve)", lmServe, 2)

    // Bigram serving, same contract: a MATERIALIZED (≈ parquet-loaded)
    // LM must score with only the doc_id re-cluster + ordered output —
    // both lookup tables broadcast, no token-keyed exchange, no fit.
    val biLm = graft.plans.Materialize(
      graft.operators.Vocabulary.bigramLm(
        docsT.filter(col("doc_id") < 250), vocabSize = 20, bigramSize = 200),
      eager = true)
    audit("text_perplexity(bigram)", graft.operators.Vocabulary.perplexityBigram(
      docsT.filter(col("doc_id") >= 250), biLm, "text", "doc_id"), 2)

    // Winnowing: selection (sliding constant-w min) runs entirely on the
    // windowRows doc clustering — one exchange; the pair path adds the
    // fp-keyed count/semi-join and the inverted-index join.
    audit("winnow_fingerprints", graft.operators.Dedup.winnowFingerprints(docsT), 1)
    audit("dedup_winnow", graft.operators.Dedup.winnow(docsT), 6)

    // Vocabulary top-k: global top-k must compile to TakeOrdered (a
    // per-partition k-heap merged on the driver), NEVER a full sort of
    // the gram counts; exchanges = doc_id repartition + the two-phase
    // distinct aggregate on the gram.
    val topk = graft.operators.Vocabulary.topKNgrams(docsT, n = 2, k = 100)
    val topkPlan = topk.queryExecution.executedPlan.toString
    val takeOrdered = topkPlan.contains("TakeOrderedAndProject")
    println(s"${if (takeOrdered) "OK " else "HOT"} topk-ngrams TakeOrdered        present=$takeOrdered")
    if (!takeOrdered) println(topkPlan)
    audit("text_topk_ngrams", topk, 3)

    // Perplexity scoring: the fitted LM (bounded vocab) must arrive by
    // BROADCAST — the corpus token rows never hash-exchange on the token
    // for scoring (the only token-keyed exchange is the count fit); the
    // per-doc aggregate is the one other corpus-sized exchange.
    val ppl = graft.operators.Vocabulary.perplexity(docsT, vocabSize = 20)
    val lmBc = ppl.queryExecution.executedPlan.collect {
      case b: BroadcastExchangeExec if b.output.exists(_.name == "__logp") => b
    }.length
    println(s"${if (lmBc == 1) "OK " else "HOT"} perplexity LM broadcast        lmBroadcasts=$lmBc")
    audit("text_perplexity", ppl, 3)

    // DSIR importance resampling: BOTH feature LMs (target + raw) must
    // arrive at the scoring pass by BROADCAST — the corpus token rows
    // never token-exchange for scoring; the corpus-sized exchanges are
    // the two bounded count fits and the per-doc weight aggregate. The
    // Gumbel top-k must run as TakeOrdered (per-partition k-heap) — the
    // only range exchange allowed is the k-row output re-order.
    val dsir = graft.operators.ImportanceSampling.importanceResample(
      docsT, docsT.filter(col("lang") === "en"), k = 20, vocabSize = 50)
    val dsirLmBc = dsir.queryExecution.executedPlan.collect {
      case b: BroadcastExchangeExec
        if b.output.exists(o => o.name == "__tl" || o.name == "__rl") => b
    }.length
    println(s"${if (dsirLmBc == 2) "OK " else "HOT"} dsir two-LM broadcast          lmBroadcasts=$dsirLmBc")
    audit("sample_importance", dsir, 6)

    // Bloom decontamination: the probe side must reach the corpus as the
    // broadcast (word, bits) BITMAP — never as broadcast probe strings on
    // the pre-pass path; the exact verify join sees only bloom survivors.
    val bloomDf = graft.operators.Decontaminate.matchesBloom(
      docsT.filter(col("doc_id") >= 5), docsT.filter(col("doc_id") < 5),
      shingleN = 3, bloomBits = 1L << 14)
    val bitsBc = bloomDf.queryExecution.executedPlan.collect {
      case b: BroadcastExchangeExec if b.output.exists(_.name == "__bits") => b
    }.length
    println(s"${if (bitsBc == 1) "OK " else "HOT"} bloom-decontam bitmap bcast    bitmapBroadcasts=$bitsBc")
    audit("text_decontaminate_bloom", bloomDf, 8)

    // IVF-PQ serving path (persisted index): the query-time plan must
    // contain NO Lloyd refinement (the posexplode → per-dim avg shape) —
    // fits happened at index-build time — and its exchanges are bounded
    // by the probe join + candidate cut + re-rank joins.
    val idxCorpus = embT.filter(col("vec_id") >= 20)
    val servedIdx = graft.operators.ProductQuant.ivfPqIndex(
      idxCorpus, nlist = 4, m = 8, ks = 8, refineIters = 1)
    val served = graft.operators.ProductQuant.ivfPqTopK(
      embT.filter(col("vec_id") < 20), idxCorpus, servedIdx,
      k = 5, nprobe = 2, rerankFactor = 8, idCol = "vec_id", vecCol = "embedding")
    val servedPlan = served.queryExecution.optimizedPlan.toString
    val servedLloyd = "posexplode".r.findAllIn(servedPlan).length
    println(s"${if (servedLloyd == 0) "OK " else "HOT"} ivfpq serving: no query-time fit posexplode=$servedLloyd")
    // Measured 4: probe↔codes cluster join, candidate-cut window, and
    // the two re-rank vector joins — the serving floor.
    audit("ivfpq_serving", served, 4)

    // Filtered serve: the metadata predicate (attr stored in the index)
    // must sit BELOW the cid probe join — a map-side Filter on the codes
    // side, so non-matching rows are never ADC-scored — and must add no
    // id-keyed semi-join (and therefore no exchange) over the unfiltered
    // serving floor.
    // Persisted index (the serving shape): attrs are stored parquet
    // columns, so the predicate audits as a Filter above the codes scan.
    val fDir = java.nio.file.Files.createTempDirectory("audit-ivfpq-f").toString
    graft.operators.ProductQuant.ivfPqIndex(
      embT.withColumn("cat", (col("vec_id") % 5).cast("int")),
      nlist = 4, m = 8, ks = 8, refineIters = 1, attrCols = Seq("cat")).save(fDir)
    val fIdx = graft.operators.IvfPqIndex.load(spark, fDir)
    val servedF = graft.operators.ProductQuant.ivfPqTopKFiltered(
      embT.filter(col("vec_id") < 20), embT, fIdx, col("cat") === 0,
      k = 5, nprobe = 2, rerankFactor = 8)
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Join => LJoin}
    val fPlan = servedF.queryExecution.optimizedPlan
    val fBelow = fPlan.collectFirst {
      case j: LJoin if j.condition.exists(_.references.exists(_.name == "cid")) => j
    }.exists(j => (j.left.collectFirst {
      case f: LFilter if f.condition.references.exists(_.name == "cat") => f
    } orElse j.right.collectFirst {
      case f: LFilter if f.condition.references.exists(_.name == "cat") => f
    }).isDefined)
    val fNoSemi = !fPlan.toString.contains("LeftSemi")
    println(s"${if (fBelow && fNoSemi) "OK " else "HOT"} ivfpq filtered: pred below probe " +
      s"filterBelowProbe=$fBelow noIdSemiJoin=$fNoSemi")
    audit("ivfpq_serving(filtered)", servedF, 4)

    // Incremental simhash: shard tokenize+sign + the union-level exact
    // clustering and banding over thin (id, ehash, elen, sig) rows —
    // corpus text never enters the plan.
    val shIdx = graft.plans.Materialize(graft.operators.Dedup.simhashIndex(
      docsT.filter(col("doc_id") < 250)), eager = true)
    audit("dedup_simhash(incr)", graft.operators.Dedup.simhashIncremental(
      docsT.filter(col("doc_id") >= 250), shIdx), 6)

    // Incremental exact jaccard against the ADDITIVE (doc_id, s, n, rk)
    // index: the union is touched only by the shard-semi-restricted df
    // aggregate and the candidate/verify joins — no union-level rank
    // windows or df groupBys remain (the r13 scale fix). Budget counts
    // above the shard/candidate Materialize cuts: shard df delta +
    // semi-restricted corpus df + probe ranking window + candidate join
    // + candidate-id semi + sets aggregate + two verify joins.
    val ngIdx = graft.plans.Materialize(graft.operators.Dedup.ngramIndex(
      docsT.filter(col("doc_id") < 250)), eager = true)
    audit("dedup_ngram_jaccard(incr)", graft.operators.Dedup.ngramJaccardIncremental(
      docsT.filter(col("doc_id") >= 250), ngIdx, threshold = 0.8), 9)
    // The plan must NOT re-derive union-level ranks: no window function
    // may consume the union (index ∪ shard) — the shard-side ranking
    // window is the only one allowed, and it sits over shard rows.
    locally {
      val plan = graft.operators.Dedup.ngramJaccardIncremental(
        docsT.filter(col("doc_id") >= 250), ngIdx, threshold = 0.8)
        .queryExecution.optimizedPlan
      import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
      val windows = plan.collect { case w: LWindow => w }
      println(s"${if (windows.length <= 1) "OK " else "HOT"} ngram_incr: " +
        s"window count ${windows.length} (shard ranking only; union must stay window-free)")
    }

    // Incremental video near-dup: shard slice+hash is one partition-wise
    // pass; the union sees only the thin (media_id, vfp) ubiquity cap +
    // inverted-index join — corpus payloads never enter the plan.
    val vids = graft.harness.MediaFixtures.syntheticVideos(
      docsT.select(col("doc_id")))
    val vFrameBytes = graft.harness.MediaFixtures.BmpFrameBytes
    audit("video_signatures", graft.operators.VideoFingerprint.signatures(
      vids, vFrameBytes), 1)
    audit("video_dedup", graft.operators.VideoFingerprint.dedup(
      vids, vFrameBytes, minShared = 3L), 4)
    val vIdx = graft.plans.Materialize(graft.operators.VideoFingerprint.signatures(
      vids.filter(col("media_id") < 250), vFrameBytes), eager = true)
    audit("video_dedup(incr)", graft.operators.VideoFingerprint.dedupIncremental(
      vids.filter(col("media_id") >= 250), vIdx, vFrameBytes, minShared = 3L), 4)

    // Incremental winnow: shard fingerprints + union-level ubiquity
    // cap and inverted-index join over thin (doc_id, fp) rows — corpus
    // text never enters the plan.
    val wnIdx = graft.plans.Materialize(graft.operators.Dedup.winnowIndex(
      docsT.filter(col("doc_id") < 250)), eager = true)
    audit("dedup_winnow(incr)", graft.operators.Dedup.winnowIncremental(
      docsT.filter(col("doc_id") >= 250), wnIdx), 6)

    // URL curation: parse/normalize is a pure map (ZERO exchanges); the
    // url-level dedup pays exactly its one thin (url_norm, id) aggregate
    // exchange; the blocklisted domain counts pay one. These also guard
    // the compact-expression contract — the earlier split/element_at
    // domain form exploded under pushdown substitution and fell out of
    // codegen (janino 64 KB), which an exchange audit alone cannot see,
    // so assert the whole-stage-codegen spans compile (no fallback).
    val urlDocs = docsT.withColumn("url",
      concat(lit("https://www."), col("source"), lit(".com/"), col("lang")))
    audit("url_normalize", graft.operators.UrlCuration.parseUrls(urlDocs), 0)
    audit("dedup_url", graft.operators.UrlCuration.dedupByUrl(urlDocs), 1)
    audit("url_domain_filter", graft.operators.UrlCuration.domainCounts(
      urlDocs, blocked = Seq("src2.com")), 1)
    // Incremental URL dedup: the shard pays its own parse + aggregate,
    // plus the index join sides — NOTHING in the plan re-parses corpus
    // urls (the index arrives pre-normalized).
    val urlIdx = graft.plans.Materialize(graft.operators.UrlCuration.urlIndex(
      urlDocs.filter(col("doc_id") < 250)), eager = true)
    audit("dedup_url(incr)", graft.operators.UrlCuration.dedupByUrlIncremental(
      urlDocs.filter(col("doc_id") >= 250), urlIdx), 3)

    // Deletion propagation: the purge rewrite is a broadcast anti-join —
    // the release/index side must stream through the scan with ZERO
    // shuffle exchanges (a takedown pass over a 100 TB release is one
    // read + one write, never a shuffle). Audited on the frame shape the
    // purge folds run (purgeRelease/purgeShardState build exactly this).
    val purgeKeys = spark.range(16).select(col("id").as("__purge_id"))
    audit("release_purge(rewrite)",
      docsT.join(broadcast(purgeKeys),
        col("doc_id").cast("long") === col("__purge_id"), "left_anti"), 0)
    // With fallback disabled a codegen compile failure THROWS instead of
    // silently degrading to interpreted execution.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val urlCodegenOk = try {
      graft.operators.UrlCuration.domainCounts(urlDocs, blocked = Seq("src2.com"))
        .collect()
      graft.operators.UrlCuration.dedupByUrl(urlDocs).collect()
      true
    } catch { case _: Throwable => false }
    finally spark.conf.set("spark.sql.codegen.fallback", "true")
    println(s"${if (urlCodegenOk) "OK " else "HOT"} url-curation codegen compiles  ok=$urlCodegenOk")

    // Context-window chunking: pure map-side generate — ZERO exchanges,
    // the explode count is closed-form in the document length.
    audit("text_chunk", graft.operators.Chunking.chunk(docsT, 120, 24), 0)

    // BM25: the postings build is the only corpus-sized shuffle; the
    // probe set and its derived per-term stats all broadcast. Budget
    // covers the un-materialized postings subtree recomputing under the
    // stats/df/score consumers (a serve-many deployment persists
    // postings — the index overload's plan is the thin slice).
    val probes = Seq((1L, "src1 en"), (2L, "src2 de"))
      .toDF("query_id", "query_text")
    val bm = graft.operators.Retrieval.bm25TopK(probes, docsT.withColumn(
      "text", concat_ws(" ", col("source"), col("lang"))), k = 5)
    audit("search_bm25", bm, 8)
    val bmPlan = bm.queryExecution.executedPlan.toString
    val bmBroadcasts = "BroadcastExchange".r.findAllIn(bmPlan).length
    println(s"${if (bmBroadcasts >= 3) "OK " else "HOT"} bm25 probe-side broadcasts     n=$bmBroadcasts (qTerms, df, stats)")

    // Standing-index serve: corpus stats fold from the additive manifest
    // (rows = batches, never docs) and the postings scan must PRUNE to
    // the probed term buckets — the tb partition filter has to reach the
    // FileSourceScan, or a 100 TB index would be read wholesale per probe.
    val bmDocs = docsT.withColumn(
      "text", concat_ws(" ", col("source"), col("lang")))
    val bmIdxDir = java.nio.file.Files.createTempDirectory("pa_bm25").toString + "/idx"
    graft.operators.Retrieval.appendIndex(
      bmDocs.filter(col("doc_id") % 2 === 0), bmIdxDir, "0", buckets = 16)
    graft.operators.Retrieval.appendIndex(
      bmDocs.filter(col("doc_id") % 2 =!= 0), bmIdxDir, "1", buckets = 16)
    val bmServe = graft.operators.Retrieval.bm25TopKIndexed(
      spark, probes, bmIdxDir, k = 5)
    // 5 = qTerms distinct ×2 (probe-sized), df aggregate + score groupBy
    // + rank window (all over the PRUNED bucket slice — query-term-bounded,
    // never corpus-sized; the manifest stats agg is a SinglePartition fold).
    audit("search_bm25_serve", bmServe, 5)
    val bmScans = bmServe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val bmPruned = bmScans.exists(f =>
      f.requiredSchema.fieldNames.contains("term") &&
        f.partitionFilters.exists(_.toString.contains("tb")))
    println(s"${if (bmPruned) "OK " else "HOT"} bm25 serve bucket pruning      " +
      s"partitionFilters-on-tb=$bmPruned (scans=${bmScans.length})")

    // BPE apply: broadcast ranks + mapPartitions — ZERO exchanges (the
    // learn phase's word-count aggregate is the only corpus-sized step,
    // and it runs once per corpus snapshot, not per tokenize).
    val tinyMerges = graft.functions.Bpe.learnMerges(
      docsT.limit(20), numMerges = 4, vocabLimit = 50)
    audit("text_bpe_apply", graft.functions.Bpe.tokenCounts(docsT, tinyMerges), 0)
    // Byte-level mode shares the apply loop — same zero-exchange bar.
    val tinyByteMerges = graft.functions.Bpe.learnMerges(
      docsT.limit(20), numMerges = 4, vocabLimit = 50, byteLevel = true)
    audit("text_bpe_apply(bytes)", graft.functions.Bpe.tokenCounts(
      docsT, tinyByteMerges, byteLevel = true), 0)

    // Crawl-text cleaning: pure regexp projection — ZERO exchanges.
    audit("text_clean", docsT.select(col("doc_id"),
      graft.functions.Texts.cleanText(col("text")).as("cleaned")), 0)

    // Snapshot diff: each side collapses to (id, md5) BEFORE the one
    // id-keyed full-outer join — two exchanges, text never shuffled.
    audit("corpus_diff", graft.operators.SnapshotDiff.diff(
      docsT, docsT.filter(col("doc_id") % 7 =!= 0)), 2)

    // Whole-table sketch profile: ONE global aggregate (map-side sketch
    // partials → single-partition combine) + the #columns-row output
    // sort — only per-partition sketch state ever moves.
    audit("corpus_profile", graft.operators.Profiling.corpusProfile(docsT), 2)
    // Incremental profile: each shard pays ONE sketch-state aggregate;
    // the fold moves only #columns-row profile frames (sketch blobs).
    audit("corpus_profile(incr)", graft.operators.Profiling.profileFromShards(
      graft.operators.Profiling.mergeShardProfiles(
        graft.operators.Profiling.shardProfile(docsT.filter(col("doc_id") < 250))
          .unionByName(graft.operators.Profiling.shardProfile(
            docsT.filter(col("doc_id") >= 250))))), 1)
    // Log-bucket quantile sketch: one explode pass + one thin
    // (column, sign, bucket) aggregate per shard; quantile read-off
    // windows run on bucket-cardinality frames.
    audit("corpus_quantiles(incr)", graft.operators.Profiling.quantilesFromLogSketch(
      graft.operators.Profiling.mergeLogSketches(
        graft.operators.Profiling.logQuantileSketch(docsT.filter(col("doc_id") < 250))
          .unionByName(graft.operators.Profiling.logQuantileSketch(
            docsT.filter(col("doc_id") >= 250))))), 7)

    // Shuffle-shard: one shard-keyed exchange + in-shard rank — no
    // global sort / range partitioning anywhere in the plan.
    val shuf = graft.operators.Sampling.shuffleShards(docsT, numShards = 8)
    audit("shuffle_shard", shuf, 1)
    val shufRange = "Exchange rangepartitioning".r
      .findAllIn(shuf.queryExecution.executedPlan.toString).length
    println(s"${if (shufRange == 0) "OK " else "HOT"} shuffle-shard no global sort   rangeExchanges=$shufRange")

    // Quality-classifier SCORING (the serve-many shape): broadcast model
    // join + per-doc aggregate — ONE exchange total: the feature
    // pipeline's single hash(doc_id) repartition satisfies the distinct
    // (subset clustering), the normalization window AND the per-doc
    // margin aggregate; the corpus never meets a corpus-sized side.
    val qcModel = graft.operators.QualityClassifier.train(
      docsT.limit(40).withColumn("y", (col("lang") === "en").cast("int")),
      labelCol = "y", dim = 64, iters = 2)
    val qcScore = graft.operators.QualityClassifier.score(docsT, qcModel)
    audit("quality_model_score", qcScore, 1)
    val qcBroadcasts = "BroadcastExchange".r
      .findAllIn(qcScore.queryExecution.executedPlan.toString).length
    println(s"${if (qcBroadcasts >= 1) "OK " else "HOT"} quality model broadcast        n=$qcBroadcasts")

    // Quality-classifier FIT iteration. The live fit now runs each
    // Adagrad step as ONE zero-shuffle mapPartitions job over cached
    // per-partition CSR doc blocks (only a dim+1-double array per
    // partition reaches the driver); gradientFrame remains the
    // SQL-equivalent specification of that step (QualityClassifierSpec
    // asserts numeric parity between the two), and its plan — margin
    // aggregate (subset clustering), residual join, per-feature
    // aggregate — must keep carrying exactly ONE exchange: the
    // ≤dim+1-row feature rollup.
    val qcFeats = graft.operators.QualityClassifier.trainingFeatures(
      docsT.limit(40).withColumn("y", (col("lang") === "en").cast("int")), "y", 64)
    audit("quality_model_fit_iter",
      graft.operators.QualityClassifier.gradientFrame(qcFeats, qcModel), 1)

    // The declarative 7-step curation pipeline composed: its exchange
    // count is the SUM of its steps' audited budgets (clean/langid/
    // quality/split map-side; dedup_exact one agg + semi-join; quota
    // count+rank; shuffle one shard exchange + id join) — composition
    // must not add plan shapes of its own.
    val curationYaml =
      """steps:
        |  - clean: {}
        |  - langid_keep: { langs: [en, es, fr] }
        |  - quality: { min_tokens: 10 }
        |  - dedup_exact: {}
        |  - quota: { group: lang, quotas: { en: 60, es: 25, fr: 15 } }
        |  - split: { train: 0.8, val: 0.1, test: 0.1 }
        |  - shuffle: { shards: 4 }
        |""".stripMargin
    audit("curation_pipeline", graft.operators.CurationPipeline.fromYaml(
      docsT, curationYaml), 5)

    // As-of join: the union+window formulation must plan ONE key exchange
    // and NO join operator — the whole point versus the quadratic
    // range-join + argmax shape; nearest shares the single sort (both
    // directional frames ride one window ordering).
    val asofL = canonical.select(col("subject_id"), col("timestamp").as("lt"))
    val asofR = canonical.select(col("subject_id"), col("timestamp").as("rt"),
      col("is_click").as("r_clicks"))
    val asofDf = graft.operators.AsOfJoin.backward(
      asofL, asofR, Seq("subject_id"), "lt", "rt")
    auditCached("join_asof", asofDf, 1)
    val asofPlan = asofDf.queryExecution.executedPlan.toString
    val asofJoinFree = !asofPlan.toLowerCase.contains("join")
    println(s"${if (asofJoinFree) "OK " else "HOT"} as-of join-operator-free       joinFree=$asofJoinFree")
    val nearestPlan = graft.operators.AsOfJoin.nearest(
      asofL, asofR, Seq("subject_id"), "lt", "rt")
      .queryExecution.executedPlan.toString.split("InMemoryRelation").head
    val nearestSorts = "Sort ".r.findAllIn(nearestPlan).length
    println(s"${if (nearestSorts <= 2) "OK " else "HOT"} as-of nearest sort reuse       sorts=$nearestSorts")

    // PCA projection: map-side only against literal components — zero
    // exchanges, zero joins (the fit's moment pass is its own one-scan
    // job and is not part of the serving plan).
    val pcaModel = graft.operators.EmbeddingProjection.fitPca(
      Tables.table(spark, dir, "embeddings"), k = 4)
    audit("embedding_pca(project)", graft.operators.EmbeddingProjection.projectPca(
      Tables.table(spark, dir, "embeddings"), pcaModel), 0)

    // Cluster assignment against persisted centroids (the assign-many
    // serve path): broadcast centroid array only — ZERO corpus exchanges.
    val clusterCents = graft.plans.Materialize(
      graft.operators.Similarity.ivfCentroids(embT, nlist = 8), eager = true)
    audit("cluster_assign(serve)", graft.operators.Similarity.clusterAssign(
      embT, centroids = Some(clusterCents)), 0)

    // LM-side curation pipeline: decontaminate (broadcast probe shingles)
    // + self-perplexity (broadcast LM) + exact dedup compose within the
    // sum of their individual budgets.
    val lmYaml =
      """steps:
        |  - clean: {}
        |  - decontaminate: { probes: eval }
        |  - perplexity: { max_ppl: 300, vocab: 20 }
        |  - dedup_exact: {}
        |""".stripMargin
    audit("curation_pipeline_lm", graft.operators.CurationPipeline.fromYaml(
      docsT.filter(col("doc_id") >= 5), lmYaml,
      aux = Map("eval" -> docsT.filter(col("doc_id") < 5))), 9)

    // Mixing pipeline: quality (0) + exact dedup (agg + semi join) +
    // upsample (map-side in place, 0) + keyed shuffle-shard (window
    // exchange + join-back).
    val mixYaml =
      """steps:
        |  - quality: { min_tokens: 10 }
        |  - dedup_exact: {}
        |  - upsample: { group: lang, factors: { en: 1.0, fr: 2.5 } }
        |  - shuffle: { shards: 4 }
        |""".stripMargin
    audit("curation_pipeline_mix", graft.operators.CurationPipeline.fromYaml(
      docsT, mixYaml), 4)

    // Web pipeline: url_dedup (thin url_norm agg + id semi-join) FIRST —
    // the compiler enforces the byte-cost-pre-pass order — then exact-
    // substring span removal (window counts + id-clustered rebuild +
    // join-back) and a map-side token gate on the rewritten text.
    val webYaml =
      """steps:
        |  - url_dedup: {}
        |  - substring_remove: { k: 5 }
        |  - quality: { min_tokens: 5 }
        |""".stripMargin
    audit("curation_pipeline_web", graft.operators.CurationPipeline.fromYaml(
      urlDocs, webYaml), 6)

    // Gopher-rule pipeline: repetition gate (two thin doc-keyed
    // aggregates + semi-join) + map-side quality gate + exact dedup.
    val gopherYaml =
      """steps:
        |  - repetition: { max_dup_token_frac: 0.6, max_top_bigram_frac: 0.05 }
        |  - quality: { min_tokens: 10 }
        |  - dedup_exact: {}
        |""".stripMargin
    audit("curation_pipeline_gopher", graft.operators.CurationPipeline.fromYaml(
      docsT, gopherYaml), 4)

    // Release capstone: all nine steps composed. Selection stages are
    // thin (url_norm agg, metric aggs, hash picks) + the shard window.
    val releaseYaml =
      """steps:
        |  - url_dedup: {}
        |  - clean: {}
        |  - langid_keep: { langs: [en, es, fr] }
        |  - quality: { min_tokens: 10 }
        |  - repetition: { max_dup_token_frac: 0.6 }
        |  - dedup_exact: {}
        |  - quota: { group: lang, quotas: { en: 60, es: 25, fr: 15 } }
        |  - split: { train: 0.8, val: 0.1, test: 0.1 }
        |  - shuffle: { shards: 4 }
        |""".stripMargin
    audit("curation_release", graft.operators.CurationPipeline.fromYaml(
      urlDocs, releaseYaml), 7)

    // The C4 chain: line dedup (line agg + occurrence join + doc
    // rebuild/restore), exact dedup (thin hash agg + semi-join), gopher
    // (pure map-side regexp filter — free). Budget = line dedup's 5 +
    // dedup_exact's 2.
    audit("curation_pipeline_c4", graft.operators.CurationPipeline.fromYaml(
      docsT,
      "steps:\n  - dedup_lines: { min_chars: 10 }\n  - dedup_exact: {}\n  - gopher\n"), 7)

    // The crawl-to-corpus C4 capstone: strip_html + c4_filter + gopher
    // are pure map-side (regexp/HOF columns — zero exchanges of their
    // own); the budget is line dedup's 5 + dedup_exact's 2.
    audit("curation_pipeline_c4_web", graft.operators.CurationPipeline.fromYaml(
      docsT.withColumn("text",
        concat(lit("<p>"), col("text"), lit(".</p><p>shared nav line etc.</p>"))),
      "steps:\n  - strip_html\n  - c4_filter: { min_words: 3, min_sentences: 1 }\n" +
        "  - dedup_lines: { min_chars: 10 }\n  - dedup_exact: {}\n  - gopher\n"), 8)

    // Soft dedup + weighted draw: group sizes on the thin 16-byte key,
    // join back, Gumbel keys map-side, TakeOrdered pick, semi-join —
    // the text shuffles only for the final row carry.
    audit("curation_pipeline_soft", graft.operators.CurationPipeline.fromYaml(
      docsT, "steps:\n  - dedup_soft\n  - weighted_sample: { k: 50 }\n"), 5)

    // Tokenizer release QA: the token stream collapses per doc (one
    // map-side-combinable exchange), joins the thin per-doc text
    // metrics on the id key, and rolls up per language — the vocab is
    // a broadcast (no exchange of its own).
    audit("tokenizer_stats", graft.operators.Packing.tokenizerStats(
      docsT, graft.operators.Packing.WordTokenizer,
      graft.operators.Packing.rankVocab(docsT, vocabSize = 20)), 4)

    // The composed media chain: container_meta's envelope walk is a
    // partition-wise map (no exchange of its own), its keep a thin
    // id semi-join; dedup_phash adds the signature banding + component
    // fold over thin (id, hash) rows — payload bytes shuffle only for
    // the final row carry.
    audit("curation_pipeline_media", {
      val ids = docsT.select(col("doc_id"), col("lang"))
      val media = graft.harness.MediaFixtures.syntheticContainers(ids.select("doc_id"))
        .select(col("media_id").as("doc_id"), col("payload").as("media"))
      val thumbs = graft.harness.MediaFixtures.syntheticBitmaps(ids.select("doc_id"))
        .select(col("media_id").as("doc_id"), col("payload").as("thumb"))
      graft.operators.CurationPipeline.fromYaml(
        ids.join(media, "doc_id").join(thumbs, "doc_id"),
        "steps:\n  - container_meta: { formats: [mp4, webm, mp3], max_duration_ms: 900, payload_col: media }\n" +
          "  - dedup_phash: { max_hamming: 2, payload_col: thumb }\n")
    }, 5)

    // O(n) window frames: bounded rolling sums must compile to GROWING
    // (unboundedpreceding → bound) frames only — a sliding frame
    // re-aggregates its buffer per row, O(n·k), quadratic on heavy
    // subjects. Guard for the prefix-difference formulation.
    val framePlan = TemporalWindowAgg(preds, TemporalBounds(false, 86400000000L, false, 0L))
      .queryExecution.analyzed.toString
    val slidingFrames = "specifiedwindowframe\\(RangeFrame, (?!unboundedpreceding)".r
      .findAllIn(framePlan).length
    println(s"${if (slidingFrames == 0) "OK " else "HOT"} growing-frame windows          sliding=$slidingFrames")

    spark.stop()
  }
}
