package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.ProductQuant
import graft.sources.Tables

/** ANN fit-vs-scan wall-time split at 1× and 10× the sf0.1 embedding
  * corpus — the measurement behind the "fit-latency-dominated" claim and
  * the persisted-index serving story: `ivfPqIndex` (the two Lloyd fits +
  * encode) is the per-corpus cost, `ivfPqTopK(queries, corpus, index)`
  * (probe + ADC scan + re-rank) is the per-query-batch cost a serving
  * loop actually pays. The 10× corpus replicates the real table with
  * offset ids (same distribution, no synthetic shortcuts).
  *
  * Run: `sbt "runMain graft.tools.AnnScaleProbe [sfDir] [copies]"`;
  * results are committed to BENCH_NOTES.md.
  */
object AnnScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = graft.Sessions.local(graft.Sessions.envCpus(32))
    spark.sparkContext.setLogLevel("ERROR")

    val emb = Tables.table(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val n1 = emb.count()

    // Warm-up: one tiny end-to-end one-shot so JIT/codegen compilation
    // doesn't land in the first timed fit.
    ProductQuant.ivfPqTopK(emb.filter(col("vec_id") < 200), k = 3, nlist = 4,
      m = 8, ks = 8, refineIters = 1)
      .write.format("noop").mode("overwrite").save()

    def replicated(k: Int): DataFrame =
      (0 until k)
        .map(i => emb.select((col("vec_id") + lit(i * n1)).as("vec_id"), col("embedding")))
        .reduce(_ unionByName _)
        .cache()

    // Best-of-2 per measurement (the Bench noise rule — this box is
    // shared and a single contended sample misleads).
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
      val queries = corpus.filter(col("vec_id") < 100)
      // Fit: the full persistable index (coarse centroids + codebooks +
      // packed codes), built ONCE — the best-of-2 timing refits, and the
      // last fit's index is reused (cached) for the serve measurement,
      // mirroring a serving job that reads codes from storage instead of
      // recomputing the encode.
      var idx: graft.operators.IvfPqIndex = null
      val tFit = time {
        if (idx != null) idx.codes.unpersist()
        val i = ProductQuant.ivfPqIndex(corpus, m = 16, ks = 32)
        idx = i.copy(codes = i.codes.cache())
        idx.codes.write.format("noop").mode("overwrite").save()
      }
      // Serve: one 100-query batch against the fitted index.
      val tServe = time {
        ProductQuant.ivfPqTopK(queries, corpus, idx, k = 5, nprobe = 0,
          rerankFactor = 0, idCol = "vec_id", vecCol = "embedding")
          .write.format("noop").mode("overwrite").save()
      }
      // And the one-shot path (fit + serve fused) for the total a
      // non-index user pays per batch.
      val tOneShot = time {
        ProductQuant.ivfPqTopK(queries, corpus, 5, 0, 0, 16, 32, 2, 0, "vec_id", "embedding")
          .write.format("noop").mode("overwrite").save()
      }
      idx.codes.unpersist()
      corpus.unpersist() // the next scale's run must not share this cache
      f"""{"corpus": "$label", "n": $n, "fit_secs": $tFit%.2f, "serve_secs": $tServe%.2f, "one_shot_secs": $tOneShot%.2f, "serve_fraction_of_one_shot": ${tServe / math.max(tOneShot, 1e-9)}%.2f}"""
    }

    val loadStart = loadavg()
    val r1 = measure("sf0.1 x1", replicated(1))
    val r10 = measure(s"sf0.1 x$copies", replicated(copies))
    println(
      f"""{"ann_fit_vs_scan": [\n  $r1,\n  $r10\n], "loadavg_start": $loadStart%.2f, "loadavg_end": ${loadavg()}%.2f, "note": "best-of-2 per timing"}""")
    spark.stop()
  }
}
