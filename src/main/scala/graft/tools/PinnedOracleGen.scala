package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{CurationPipeline, Dedup, Profiling, QualityClassifier, Similarity}

/** Regenerates `graft.harness.PinnedOracles` — the literal VALUES pins
  * inside the composed DuckDB oracles (the search_hybrid_idx pattern,
  * applied to the quality-model and corpus-profile entries): the
  * relational arithmetic of each entry is exact SQL the driver's DuckDB
  * replays from the raw tables, and only the part with no SQL form is
  * pinned —
  *
  *   - the quality model's PRE-SIGMOID margins (the hashed-feature
  *     lookup is xxhash64-seeded; σ, rounding, the ≥ 0.5 gate and the
  *     downstream exact-dedup all stay SQL),
  *   - corpus_profile's SKETCH columns (HLL distinct estimates and
  *     approx quantiles are engine-specific; every exact stat —
  *     counts, nulls, min/max, means — stays SQL).
  *
  * PinnedOracleSpec keeps the pins honest: it refits/recomputes against
  * the live sf0.01 fixture every test run and fails with a "re-run
  * PinnedOracleGen" hint when they drift (fit-recipe change), or
  * cancels when the fixture itself regenerated (then EVERY golden needs
  * regenerating — rerun GoldenGen too, and update the fingerprint).
  *
  * Run: `sbt "runMain graft.tools.PinnedOracleGen [sfDir [outFile]]"`,
  * then commit the rewritten PinnedOracles.scala.
  */
object PinnedOracleGen {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1)
      .getOrElse("src/main/scala/graft/harness/PinnedOracles.scala")
    val spark = graft.Sessions.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val rendered = render(spark, sfDir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outFile), rendered.getBytes("UTF-8"))
    println(s"wrote $outFile")
    spark.stop()
  }

  /** The documents-table fingerprint the pins are valid for — ALL five
    * columns (the margins read text+lang, the profile reads everything),
    * unlike GoldenOracleSpec's doc_id⊕text half.
    */
  def docsFingerprint(d: org.apache.spark.sql.DataFrame): Long =
    d.agg(bit_xor(xxhash64(
      col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))))
      .head().getLong(0)

  /** `(doc_id, m)` margin tuples of the dim-1024 is-English fit at
    * `iters` iterations — Double.toString round-trips shortest-repr, so
    * DuckDB parses back the identical bits.
    */
  def marginRows(
      spark: SparkSession, sfDir: String, iters: Int): Seq[String] = {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val model = QualityClassifier.train(
      d.withColumn("is_en", (col("lang") === "en").cast("int")),
      labelCol = "is_en", dim = 1024, iters = iters)
    QualityClassifier.margins(d, model).orderBy("doc_id").collect()
      .map(r => s"(${r.getLong(0)}, ${r.getDouble(1)})").toSeq
  }

  /** `(col, distinct_est, q25, q50, q75)` sketch tuples of
    * corpus_profile over the documents table.
    */
  def sketchRows(spark: SparkSession, sfDir: String): Seq[String] = {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    Profiling.flattenQuantiles(Profiling.corpusProfile(d))
      .select("column", "distinct_est", "q25", "q50", "q75")
      .orderBy("column").collect()
      .map(r => s"('${r.getString(0)}', ${r.getLong(1)}, " +
        s"${r.getDouble(2)}, ${r.getDouble(3)}, ${r.getDouble(4)})").toSeq
  }

  private def estOf(p: org.apache.spark.sql.DataFrame): Map[String, Long] =
    p.select("column", "distinct_est").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** HLL distinct-estimate pins for the three profile-family diff/incr
    * entries, replicating each entry's exact frames: (diff old/new,
    * incr merged, incr-diff shardA/merged).
    */
  def profileFamilyRows(
      spark: SparkSession, sfDir: String): (Seq[String], Seq[String], Seq[String]) = {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val full = estOf(Profiling.corpusProfile(d))
    val drifted = d.filter(col("doc_id") % 2 === 0)
      .withColumn("lang", when(col("doc_id") % 4 =!= 0, col("lang")))
    val dnew = estOf(Profiling.corpusProfile(drifted))
    val shardA = Profiling.shardProfile(d.filter(col("doc_id") < 250))
    val shardB = Profiling.shardProfile(d.filter(col("doc_id") >= 250))
    val merged = estOf(Profiling.profileFromShards(
      Profiling.mergeShardProfiles(shardA.unionByName(shardB))))
    // The incr_diff ENTRY materializes shard A's profile (it serves both
    // sides there) — the HLL sketch BINARY depends on that plan shape,
    // so the replication must match it exactly or the merged estimates
    // drift by a few counts.
    val shardAm = graft.plans.Materialize(
      Profiling.shardProfile(d.filter(col("doc_id") < 250)))
    val aOnly = estOf(Profiling.profileFromShards(
      Profiling.mergeShardProfiles(shardAm)))
    val mergedAB = estOf(Profiling.profileFromShards(
      Profiling.mergeShardProfiles(shardAm.unionByName(shardB))))
    val cols = full.keys.toSeq.sorted
    (cols.map(c => s"('$c', ${full(c)}, ${dnew(c)})"),
      cols.map(c => s"('$c', ${merged(c)})"),
      cols.map(c => s"('$c', ${aOnly(c)}, ${mergedAB(c)})"))
  }

  /** bit_xor(xxhash64(vec_id, embedding)) over the embeddings table —
    * the fixture half the ANN candidate pins depend on (the
    * HybridOracleSpec convention).
    */
  def embFingerprint(e: org.apache.spark.sql.DataFrame): Long =
    e.agg(bit_xor(xxhash64(col("vec_id"), col("embedding").cast("string"))))
      .head().getLong(0)

  /** `(query_id, neighbor_id)` candidate-pair pins for the four non-PQ
    * ANN entries — the hash-bucketed / Lloyd-probed candidate SET is the
    * only non-SQL part of those operators (the exact cosine + top-k
    * ranking over it replays in DuckDB). Each set replicates its entry's
    * frames via the operators' own candidate faces.
    */
  def annCandidateRows(
      spark: SparkSession, sfDir: String): Seq[(String, Seq[String])] = {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
        .distinct().orderBy("query_id", "neighbor_id").collect()
        .map(r => s"(${r.getLong(0)}, ${r.getLong(1)})").toSeq
    def ivfCands(qs: org.apache.spark.sql.DataFrame,
        corpus: org.apache.spark.sql.DataFrame,
        nlist: Int, nprobe: Int, refineIters: Int) = {
      val rn = Similarity.resolveNlist(corpus, nlist, "vec_id")
      val cents = Similarity.ivfCentroids(corpus, rn, refineIters, "vec_id", "embedding")
      Similarity.ivfCandidateFrame(qs, corpus, cents,
          Similarity.resolveNprobe(nprobe, rn), "vec_id", "embedding")
        .select(col("query_id"), col("id").as("neighbor_id"))
    }
    Seq(
      "annLshCandidates" -> rows(Similarity.lshCandidates(
        e.filter(col("vec_id") < 50), e.filter(col("vec_id") < 50),
        32, 4, "vec_id", "embedding")),
      "annLshQCandidates" -> rows(Similarity.lshCandidates(
        e.filter(col("vec_id") < 20), e.filter(col("vec_id") >= 20),
        32, 4, "vec_id", "embedding")),
      "annIvfCandidates" -> rows(ivfCands(
        e.filter(col("vec_id") < 100), e.filter(col("vec_id") < 100), 0, 0, 2)),
      "annIvfQCandidates" -> rows(ivfCands(
        e.filter(col("vec_id") < 20), e.filter(col("vec_id") >= 20), 16, 12, 2)))
  }

  /** The dedup/cluster-family pins. Two kinds:
    *
    *   - RECALL-MISS pins (`embLshMiss`, `embdedupMiss`): for the
    *     embedding near-dup entries everything EXCEPT the LSH candidate
    *     generation is SQL (exact cosine, threshold, rounding, cluster
    *     election) — so the pin records only the true pairs the banding
    *     MISSED (exact-all-pairs minus banded), usually empty. A `(-1,
    *     -1)` sentinel keeps the VALUES list non-empty.
    *   - VERIFIED-PAIR pins (`simdedupPairs`, `winnowPairs`): simhash
    *     hamming and winnow fingerprint counts have no SQL form, so the
    *     verified pair set itself is pinned; the quality gate, the
    *     connected-component keeper election (recursive CTE) and the
    *     split assignment still replay in SQL.
    */
  def dedupFamilyRows(
      spark: SparkSession, sfDir: String): Seq[(String, Seq[String])] = {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def pairRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
        .distinct().orderBy("doc_a", "doc_b").collect()
        .map(r => s"(${r.getLong(0)}, ${r.getLong(1)})").toSeq
    def missRows(exact: org.apache.spark.sql.DataFrame,
        banded: org.apache.spark.sql.DataFrame): Seq[String] =
      "(-1, -1)" +: pairRows(
        exact.select("doc_a", "doc_b")
          .except(banded.select("doc_a", "doc_b")))
    def gated(minTokens: Int) = CurationPipeline.fromYaml(d,
      s"steps:\n  - quality: { min_tokens: $minTokens }\n")
    val gatedEmb10 = e.join(
      gated(10).select(col("doc_id").as("vec_id")), Seq("vec_id"))
    // Streaming replay of the same near-dup topology — the entry's own
    // replay, reproduced verbatim so the miss set reflects exactly what
    // the stream surfaced.
    val streamOut = {
      import spark.implicits._
      val rows = e.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
        .map { case (id, v) =>
          (id, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), v) }
      val batches = graft.harness.StreamReplay.timeOrderedBatches(rows, 4)
      graft.harness.StreamReplay.replay(spark, batches, df =>
        graft.streaming.StreamingPredicates.embeddingNearDupStream(
          df.toDF("vec_id", "timestamp", "embedding")
            .withWatermark("timestamp", "1 hour"),
          threshold = 0.4, bands = 32, bitsPerBand = 2).toDF())
    }
    Seq(
      "embLshMiss" -> missRows(
        Dedup.embeddingNearDupExact(e, threshold = 0.4),
        Dedup.embeddingNearDup(e, threshold = 0.4, bands = 32, bitsPerBand = 2)),
      "embIncrMiss" -> missRows(
        Dedup.embeddingNearDupExact(e, threshold = 0.4)
          .filter(col("doc_a") >= 400 || col("doc_b") >= 400),
        Dedup.embeddingNearDupIncremental(
          e.filter(col("vec_id") >= 400), e.filter(col("vec_id") < 400),
          threshold = 0.4, bands = 32, bitsPerBand = 2)),
      "embStreamMiss" -> missRows(
        Dedup.embeddingNearDupExact(e, threshold = 0.4), streamOut),
      "embdedupMiss" -> missRows(
        Dedup.embeddingNearDupExact(gatedEmb10, threshold = 0.4),
        Dedup.embeddingNearDup(gatedEmb10, threshold = 0.4, bands = 32, bitsPerBand = 2)),
      "simdedupPairs" -> pairRows(
        Dedup.simhash(gated(5), maxHamming = 10, maxBucketSize = 256)),
      "winnowPairs" -> pairRows(
        Dedup.winnow(gated(10), minShared = 2, k = 5, w = 4, maxBucketSize = 256)))
  }

  private def block(rows: Seq[String], perLine: Int): String =
    rows.grouped(perLine).map(_.mkString(", ")).mkString(",\n    |")

  def render(spark: SparkSession, sfDir: String): String = {
    val fp = docsFingerprint(spark.read.parquet(s"$sfDir/documents.parquet"))
    val m16 = block(marginRows(spark, sfDir, iters = 16), 3)
    val m32 = block(marginRows(spark, sfDir, iters = 32), 3)
    val sk = block(sketchRows(spark, sfDir), 1)
    val (diffRows, incrRows, incrDiffRows) = profileFamilyRows(spark, sfDir)
    val skDiff = block(diffRows, 1)
    val skIncr = block(incrRows, 1)
    val skIncrDiff = block(incrDiffRows, 1)
    val embFp = embFingerprint(spark.read.parquet(s"$sfDir/embeddings.parquet"))
    val ann = (annCandidateRows(spark, sfDir) ++ dedupFamilyRows(spark, sfDir))
      .map { case (name, rows) =>
      // JVM class files cap a String constant at 64 KB — the bigger
      // candidate sets split into ~3k-tuple literals concatenated at
      // class init (chunks are complete tuple lists, so the comma-join
      // restores one VALUES list).
      val chunks = rows.grouped(3000).map(c => block(c, 8)).toSeq
      val lits = chunks
        .map(c => "    \"\"\"" + c + "\"\"\".stripMargin.replace(\"\\n\", \" \")")
        .mkString(",\n")
      s"""|
          |  /** Pinned id pairs (${rows.length} tuples) — see
          |    * PinnedOracleGen.annCandidateRows / dedupFamilyRows.
          |    */
          |  val $name: String = Seq(
          |$lits).mkString(", ")""".stripMargin
    }.mkString("\n")
    s"""package graft.harness
       |
       |/** GENERATED by `runMain graft.tools.PinnedOracleGen` — do not edit by
       |  * hand. Literal VALUES pins for the composed DuckDB oracles whose
       |  * relational arithmetic is exact SQL but whose fit/sketch inputs have
       |  * no SQL form (see PinnedOracleGen's scaladoc for the pattern and
       |  * PinnedOracleSpec for the drift guard). Valid for the sf0.01
       |  * documents fixture fingerprinted below.
       |  */
       |private[graft] object PinnedOracles {
       |
       |  /** bit_xor(xxhash64(doc_id, text, lang, source, n_chars)) over the
       |    * sf0.01 documents table the pins were generated from.
       |    */
       |  val docsFp: Long = ${fp}L
       |
       |  /** bit_xor(xxhash64(vec_id, embedding)) over the sf0.01 embeddings
       |    * table (the ANN candidate pins' fixture half).
       |    */
       |  val embFp: Long = ${embFp}L
       |
       |  /** (doc_id, m) pre-sigmoid margins, is-English logistic fit,
       |    * dim = 1024, 16 Adagrad iterations (curation_pipeline_qmodel's
       |    * serve model).
       |    */
       |  val qmodelMargins16: String =
       |    \"\"\"$m16\"\"\".stripMargin.replace("\\n", " ")
       |
       |  /** Same fit at 32 iterations (text_quality_model / _idx /
       |    * streaming_quality_replay).
       |    */
       |  val qmodelMargins32: String =
       |    \"\"\"$m32\"\"\".stripMargin.replace("\\n", " ")
       |
       |  /** (col, distinct_est, q25, q50, q75) — corpus_profile's sketch
       |    * columns (HLL + approx quantiles) per documents column.
       |    */
       |  val profileSketch: String =
       |    \"\"\"$sk\"\"\".stripMargin.replace("\\n", " ")
       |
       |  /** (col, distinct_old, distinct_new) — corpus_profile_diff's HLL
       |    * estimates over documents and its deterministic drifted view.
       |    */
       |  val profileDiffSketch: String =
       |    \"\"\"$skDiff\"\"\".stripMargin.replace("\\n", " ")
       |
       |  /** (col, distinct_est) — corpus_profile_incr's MERGED-HLL
       |    * estimates (two shard sketches folded).
       |    */
       |  val profileIncrSketch: String =
       |    \"\"\"$skIncr\"\"\".stripMargin.replace("\\n", " ")
       |
       |  /** (col, distinct_a, distinct_ab) — corpus_profile_incr_diff's
       |    * estimates for shard A alone and the A∪B fold.
       |    */
       |  val profileIncrDiffSketch: String =
       |    \"\"\"$skIncrDiff\"\"\".stripMargin.replace("\\n", " ")
       |$ann
       |}
       |""".stripMargin
  }
}
