package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{IvfPqIndex, ProductQuant}

/** Regenerates the dense-ranks VALUES tuples inside the
  * `search_hybrid_idx` oracle (QueryCatalog): the entry's BM25 half and
  * the RRF fusion are exact SQL, but its dense half is the hash-seeded
  * IVF-PQ serve — deterministic, yet with no SQL form — so the oracle
  * pins those ranks as a literal VALUES table (the golden-fixture
  * convention, inlined). If the sf0.01 embeddings fixture regenerates
  * (HybridOracleSpec cancels with a hint pointing here):
  *
  *   1. replace the tuple rows between `FROM (VALUES` and
  *      `) dv(query_id, doc_id, dr))` in the search_hybrid_idx oracle
  *      string (QueryCatalog.scala) with the block printed below —
  *      the printed rows match that SQL's layout exactly;
  *   2. update `expectedEmbFp` in HybridOracleSpec with the printed
  *      fingerprint;
  *   3. re-run GoldenGen for the golden fixtures (same regeneration).
  *
  * Run: `sbt "runMain graft.tools.HybridOracleGen [sfDir]"`
  */
object HybridOracleGen {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Sessions.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val fp = e.agg(bit_xor(xxhash64(col("vec_id"), col("embedding").cast("string"))))
      .head().getLong(0)
    val idx = ProductQuant.ivfPqIndex(e, nlist = 16, m = 16, ks = 32)
    val rows = ProductQuant.ivfPqTopK(
      e.filter(col("vec_id") < 3), e, idx, 20, 12, 0, "vec_id", "embedding")
      .select("query_id", "neighbor_id", "rank")
      .orderBy("query_id", "rank").collect()
      .map(r => s"(${r.getLong(0)}, ${r.getLong(1)}, ${r.get(2)})")
    // Same 5-tuple-per-line layout as the oracle string, ready to paste
    // between `FROM (VALUES` and `) dv(query_id, doc_id, dr))`.
    println("----- search_hybrid_idx dense VALUES rows (paste into QueryCatalog) -----")
    rows.grouped(5).zipWithIndex.foreach { case (g, i) =>
      val sep = if ((i + 1) * 5 >= rows.length) "" else ","
      println("              |    " + g.mkString(", ") + sep)
    }
    println("----- HybridOracleSpec expectedEmbFp -----")
    println(s"    val expectedEmbFp = ${fp}L")
    spark.stop()
  }
}
