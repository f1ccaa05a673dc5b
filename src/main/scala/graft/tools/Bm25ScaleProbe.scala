package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Retrieval
import graft.sources.Tables

/** BM25 serve-path scaling probe: the flat persisted-postings serve
  * (search_bm25_idx shape — full postings scan + per-probe corpus-stats
  * aggregate) against the standing term-bucketed layout
  * (bm25TopKIndexed — manifest stats + partition-pruned scan) at
  * 1×/k×/K× the sf0.1 documents corpus. The measurement behind the
  * "serving touches nothing corpus-sized" claim in BENCH_NOTES.
  *
  * Replicas are SALTED (TextScaleProbe's trick): copy i suffixes every
  * token with `_i`, so the corpus and its vocabulary both grow ×K while
  * the probe's query terms keep hitting only the base-vocabulary
  * postings — the realistic serve case where the index dwarfs any one
  * query's slice.
  *
  * Run: `sbt "runMain graft.tools.Bm25ScaleProbe [sfDir] [k] [K]"`;
  * results are committed to BENCH_NOTES.md.
  */
object Bm25ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val midCopies = args.lift(1).map(_.toInt).getOrElse(16)
    val bigCopies = args.lift(2).map(_.toInt).getOrElse(64)
    val spark = graft.Sessions.local(graft.Sessions.envCpus(32))
    spark.sparkContext.setLogLevel("ERROR")

    val base = Tables.table(spark, sfDir, "documents").select("doc_id", "text")
    val idStride = base.agg(max(col("doc_id"))).head().getLong(0) + 1L
    def replicated(k: Int): DataFrame =
      (0 until k).map { i =>
        val salted =
          if (i == 0) col("text")
          else regexp_replace(col("text"), "\\S+", "$0_" + i)
        base.select((col("doc_id") + lit(i * idStride)).as("doc_id"),
          salted.as("text"))
      }.reduce(_ unionByName _)

    val qs = spark.createDataFrame(Seq(
      (1L, "spark join"), (2L, "window merge sort"), (3L, "vector hash batch")))
      .toDF("query_id", "query_text")

    def timed(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    def medianOf3(f: => Long): (Double, Long) = {
      val rs = (1 to 3).map(_ => timed(f))
      (rs.map(_._1).sorted.apply(1), rs.head._2)
    }

    println(f"[bm25probe] sfDir=$sfDir copies=1/$midCopies/$bigCopies " +
      f"loadavg=${java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage}%.1f")
    Seq(1, midCopies, bigCopies).foreach { k =>
      val corpus = replicated(k)
      val root = java.nio.file.Files.createTempDirectory(s"bm25probe_$k").toString
      // Flat persisted postings (the search_bm25_idx serve shape).
      val tFlatBuild = timed {
        Retrieval.postings(corpus).write.mode("overwrite")
          .parquet(s"$root/flat")
        0L
      }._1
      val flat = spark.read.parquet(s"$root/flat")
      val (tFlat, nFlat) = medianOf3 {
        Retrieval.bm25TopK(qs, flat, k = 10, k1 = 1.2, b = 0.75).count()
      }
      // Standing bucketed layout (one append = one corpus snapshot).
      val tIdxBuild = timed {
        Retrieval.appendIndex(corpus, s"$root/idx", "0", buckets = 64)
        0L
      }._1
      val (tIdx, nIdx) = medianOf3 {
        Retrieval.bm25TopKIndexed(spark, qs, s"$root/idx", k = 10).count()
      }
      require(nFlat == nIdx, s"row mismatch at x$k: flat=$nFlat idx=$nIdx")
      val rows = flat.count()
      println(f"[bm25probe] x$k%-3d postings=$rows%9d " +
        f"build flat=$tFlatBuild%6.2fs idx=$tIdxBuild%6.2fs | " +
        f"serve flat=$tFlat%6.2fs idx=$tIdx%6.2fs (x${tFlat / tIdx}%.1f)")
      def rmrf(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
      }
      rmrf(new java.io.File(root))
    }
    spark.stop()
  }
}
