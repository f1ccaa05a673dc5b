package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Vocabulary}
import graft.sources.Tables

/** Text-pipeline scaling probe: duplicate-span detection, top-k
  * vocabulary, and LM-perplexity scoring at 1×/k×/K× the sf0.1 documents
  * corpus — the measurement behind the "window-key analytic scales
  * linearly" and "LM serving pays no fit" claims in BENCH_NOTES.
  *
  * Replicas are SALTED (every token suffixed with its copy index), so
  * copies collide with themselves exactly like the base corpus but never
  * with each other — the duplicated-window FRACTION stays constant as
  * the corpus grows, which is the honest scaling experiment (bare
  * replication would make every window a duplicate, the degenerate
  * worst case). Copy 0 keeps the original text, so ×1 matches the bench
  * numbers.
  *
  * Run: `sbt "runMain graft.tools.TextScaleProbe [sfDir] [k] [K]"`;
  * results are committed to BENCH_NOTES.md.
  */
object TextScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val midCopies = args.lift(1).map(_.toInt).getOrElse(10)
    val bigCopies = args.lift(2).map(_.toInt).getOrElse(50)
    val spark = graft.Sessions.local(graft.Sessions.envCpus(32))
    spark.sparkContext.setLogLevel("ERROR")

    val base = Tables.table(spark, sfDir, "documents").select("doc_id", "text")
    // Offset by max(doc_id)+1, not count(): sparse ids would otherwise
    // collide across copies and interleave two docs' position spaces.
    val idStride = base.agg(max(col("doc_id"))).head().getLong(0) + 1L

    def replicated(k: Int): DataFrame =
      (0 until k).map { i =>
        val salted =
          if (i == 0) col("text")
          else regexp_replace(col("text"), "\\S+", "$0_" + i)
        base.select((col("doc_id") + lit(i * idStride)).as("doc_id"), salted.as("text"))
      }.reduce(_ unionByName _).cache()

    // Warm-up: tiny end-to-end runs so JIT/codegen compilation doesn't
    // land in the first timed pass.
    Dedup.duplicateSpanSummary(base.limit(50), k = 5, hashWindows = true)
      .write.format("noop").mode("overwrite").save()
    Vocabulary.perplexity(base.limit(50), vocabSize = 20)
      .write.format("noop").mode("overwrite").save()

    def time(f: => Unit): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }
    def loadavg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    def measure(label: String, corpus: DataFrame): String = {
      val n = corpus.count() // materialize the cache before timing
      val tSpans = time {
        Dedup.duplicateSpanSummary(corpus, k = 5, hashWindows = true)
          .write.format("noop").mode("overwrite").save()
      }
      val tTopk = time {
        Vocabulary.topKNgrams(corpus, n = 2, k = 100)
          .write.format("noop").mode("overwrite").save()
      }
      val tPplOneShot = time {
        Vocabulary.perplexity(corpus, vocabSize = 1 << 16)
          .write.format("noop").mode("overwrite").save()
      }
      // Serving: score against a PRE-FIT LM (fit excluded, the
      // fit-once/score-many shape) — materialized once outside the timer.
      val lm = graft.plans.Materialize(
        Vocabulary.unigramLm(corpus, vocabSize = 1 << 16))
      val tPplServe = time {
        Vocabulary.perplexity(corpus, lm, "text", "doc_id")
          .write.format("noop").mode("overwrite").save()
      }
      // URL-level dedup on a synthetic url column: host carries the
      // copy index so copies never collide with each other (the same
      // constant-dup-fraction discipline as the salted text), ~1/60 of
      // each copy's rows share a canonical key within the copy.
      val withUrl = corpus.withColumn("url", concat(
        lit("HTTPS://WWW.c"), (col("doc_id") / idStride).cast("long"),
        lit("-s"), col("doc_id") % 97, lit(".co.uk/Page"), col("doc_id") % 23,
        lit("?b=2&a=1&utm_copy="), col("doc_id")))
      val tUrl = time {
        graft.operators.UrlCuration.dedupByUrl(withUrl)
          .write.format("noop").mode("overwrite").save()
      }
      // BM25: the postings build is the corpus-sized cost (one explode +
      // map-side-combined aggregate); serving a probe batch against the
      // PRE-BUILT index is the fit-once/query-many shape. Probe terms hit
      // only copy 0 (salting renames every other copy's tokens) — the
      // honest serve shape: pruning happens at the broadcast join, and
      // the build still processes every copy.
      val tBm25Index = time {
        graft.operators.Retrieval.postings(corpus)
          .write.format("noop").mode("overwrite").save()
      }
      val post = graft.plans.Materialize(
        graft.operators.Retrieval.postings(corpus))
      val probes = spark.createDataFrame(Seq(
        (1L, "spark join"), (2L, "window merge sort"), (3L, "vector hash batch")))
        .toDF("query_id", "query_text")
      val tBm25Serve = time {
        graft.operators.Retrieval.bm25TopK(probes, post, 10, 1.2, 0.75)
          .write.format("noop").mode("overwrite").save()
      }
      // BPE: learn = one corpus-sized word count + bounded driver merge
      // loop; apply = broadcast ranks + mapPartitions, embarrassingly
      // parallel (the per-shard tokenize cost at ingest).
      val tBpeLearn = time {
        graft.functions.Bpe.learnMerges(corpus, numMerges = 64, vocabLimit = 4096)
          .write.format("noop").mode("overwrite").save()
      }
      val merges = graft.functions.Bpe.learnMerges(corpus, numMerges = 64, vocabLimit = 4096)
      val tBpeApply = time {
        graft.functions.Bpe.tokenCounts(corpus, merges)
          .write.format("noop").mode("overwrite").save()
      }
      // Quality classifier: train = iters × one bounded-collect aggregate
      // (corpus size enters only through the per-iteration aggregate);
      // score = broadcast join + per-doc aggregate, the per-shard cost.
      val labeled = corpus.withColumn("y",
        (pmod(xxhash64(col("doc_id")), lit(2L)) === 0L).cast("int"))
      val tQcTrain = time {
        graft.operators.QualityClassifier.train(labeled, "y", dim = 1024, iters = 8)
          .write.format("noop").mode("overwrite").save()
      }
      val qcModel = graft.operators.QualityClassifier.train(labeled, "y", dim = 1024, iters = 8)
      val tQcScore = time {
        graft.operators.QualityClassifier.score(corpus, qcModel)
          .write.format("noop").mode("overwrite").save()
      }
      // Corpus-wide line dedup: the lined decoration gives every doc a
      // shared header (ONE corpus-wide hot line — the case the map-side-
      // combined first-occurrence aggregate exists for) plus salted
      // doc-specific lines; cost is the line explode + line-key
      // aggregate + occurrence join + doc-key rebuild.
      val lined = corpus.select(col("doc_id"),
        concat_ws("\n",
          substring(col("text"), 1, 60),
          lit("shared boilerplate header line"),
          substring(col("text"), 61, 60)).as("text"))
      val tLines = time {
        Dedup.dedupLines(lined, minLineChars = 10)
          .write.format("noop").mode("overwrite").save()
      }
      corpus.unpersist()
      f"""{"corpus": "$label", "docs": $n, "substring_secs": $tSpans%.2f, "topk_secs": $tTopk%.2f, "ppl_oneshot_secs": $tPplOneShot%.2f, "ppl_serve_secs": $tPplServe%.2f, "serve_fraction": ${tPplServe / math.max(tPplOneShot, 1e-9)}%.2f, "url_dedup_secs": $tUrl%.2f, "bm25_index_secs": $tBm25Index%.2f, "bm25_serve_secs": $tBm25Serve%.2f, "bpe_learn_secs": $tBpeLearn%.2f, "bpe_apply_secs": $tBpeApply%.2f, "qc_train8_secs": $tQcTrain%.2f, "qc_score_secs": $tQcScore%.2f, "dedup_lines_secs": $tLines%.2f}"""
    }

    val loadStart = loadavg()
    val r1 = measure("sf0.1 x1", replicated(1))
    val rMid = measure(s"sf0.1 x$midCopies", replicated(midCopies))
    val rBig = measure(s"sf0.1 x$bigCopies", replicated(bigCopies))
    println(
      f"""{"text_scaling": [\n  $r1,\n  $rMid,\n  $rBig\n], "loadavg_start": $loadStart%.2f, "loadavg_end": ${loadavg()}%.2f, "note": "best-of-2 per timing; salted replicas keep the dup fraction constant"}""")
    spark.stop()
  }
}
