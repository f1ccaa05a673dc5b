package graft.harness

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.DerivedPredicateDef
import graft.functions.Texts
import graft.model.{Closed, EventBounds, TemporalBounds}
import graft.operators._
import graft.sources.Tables

/** The driver-facing operator catalog: one named query per operator ID in
  * SURVEY.md §2 (plus the §2.10 scale extensions), each with an equivalent
  * DuckDB oracle SQL over the same parquet tables.
  *
  * Conventions keeping the DuckDB hash-compare exact:
  *   - every aggregate/computed column aliased identically on both sides;
  *   - deterministic ORDER BY on every query;
  *   - `events.ts` is TIMESTAMP_NS in parquet — Spark reads via
  *     [[Tables.events]] (µs truncation), oracles use CAST(ts AS TIMESTAMP)
  *     which truncates identically;
  *   - no floating-point aggregation except where rounded or exactly
  *     reproducible.
  */
object QueryCatalog {

  final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      bench: Boolean = false,
      // Fit-heavy bench entries (iterative Lloyd/Adagrad/merge fits, or
      // serve-from-index entries whose first run builds the index): Bench
      // gives these ONE untimed warm-up execution so JIT + fit-cache
      // effects don't leak into the timed best-of-N (r8 recorded ivfpq
      // raw runs of [52.7, 12.2, 6.1] s — the 52.7 is warm-up, not work).
      warmup: Boolean = false)

  private val predTypes = Seq("click", "purchase", "error")

  /** Collapsed per-(subject, µs-timestamp) predicate frame over events. */
  private def preds(s: SparkSession, dir: String): DataFrame =
    Tables.eventsAsPredicates(s, dir, predTypes)

  /** The same frame as a DuckDB CTE. */
  private val predsCte =
    """WITH p AS (
      |  SELECT user_id AS subject_id, CAST(ts AS TIMESTAMP) AS timestamp,
      |         CAST(SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS is_click,
      |         CAST(SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS is_purchase,
      |         CAST(SUM(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS is_error
      |  FROM events GROUP BY 1, 2)
      |""".stripMargin

  private def docs(s: SparkSession, dir: String) = Tables.table(s, dir, "documents")

  /** Session-scratch directory under /tmp, deleted at JVM exit: the
    * release/state/checkpoint entries need a fresh path per invocation
    * (their sinks write eagerly at compile — concurrent runs on a shared
    * path would clobber each other mid-read), but UUID-fresh paths that
    * are never reclaimed accumulate unboundedly across harness/bench
    * runs. Spark's shutdown hook reaps everything registered, after the
    * SparkContext stops; the returned frames stay readable for the whole
    * session (deletion is at exit, never eager — many entries hand back
    * LAZY frames over these paths).
    */
  private def cleanupAtExit(path: String): String = {
    org.apache.spark.sql.graft.ScratchDirs.deleteAtShutdown(new java.io.File(path)); path
  }
  private def scratchDir(prefix: String, sfDir: String): String =
    cleanupAtExit(s"/tmp/${prefix}_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}_" +
      java.util.UUID.randomUUID().toString.take(8))

  /** The fit-once / serve-many quality-model cache path shared by
    * text_quality_model_idx and streaming_quality_replay. Keyed by the
    * fit-recipe version AND a cheap corpus fingerprint (row count + max
    * doc_id + total text bytes): a /tmp model fit by older code OR
    * against since-regenerated fixture data must refit, not silently
    * serve stale scores into goldens/bench. The fingerprint aggregate
    * itself is memoized per sf dir for the session — serving entries
    * must not pay a corpus scan per invocation (the general serve-path
    * rule: fingerprint once at fit/ingest time, never per query); a
    * mid-SESSION testdata regeneration is not a supported shape (the
    * driver regenerates between rounds, i.e. between JVMs).
    */
  private val qmodelDirBySf =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def qualityModelDir(s: SparkSession, dir: String): String =
    qmodelDirBySf.computeIfAbsent(dir, _ => {
      val fp = docs(s, dir).agg(
        count(lit(1)), max(col("doc_id")),
        coalesce(sum(octet_length(col("text")).cast("long")), lit(0L))).head()
      s"/tmp/graft_qmodel_v${QualityClassifier.modelFormatVersion}_d1024_i32_" +
        s"n${fp.getLong(0)}_m${fp.getLong(1)}_b${fp.getLong(2)}_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
    })

  /** Composed oracle for the quality-model scorers (the
    * search_hybrid_idx SQL×VALUES pattern): the hashed-feature lookup
    * has no SQL form, so the PRE-SIGMOID margins are pinned
    * ([[PinnedOracles]], drift-guarded by PinnedOracleSpec + regenerated
    * by graft.tools.PinnedOracleGen), while σ and the 4-dp rounding —
    * the serve arithmetic — replay in DuckDB.
    */
  private def qualityScoreSql(margins: String): String =
    s"""WITH m AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(m AS DOUBLE) AS m
       |  FROM (VALUES $margins) v(doc_id, m))
       |SELECT doc_id, ROUND(1.0 / (1.0 + EXP(-m)), 4) AS quality
       |FROM m ORDER BY doc_id""".stripMargin

  /** Per-column EXACT profile stats over `src` (a table or CTE name) as
    * a 5-row UNION ALL — the shared relational half of the
    * profile-family composed oracles (rows, nulls, min/max, raw mean;
    * string columns profile their LENGTH, the corpusProfile
    * convention).
    */
  private def profileStatsSql(src: String): String =
    Seq("doc_id" -> true, "lang" -> false, "n_chars" -> true,
      "source" -> false, "text" -> false).map { case (c, isNum) =>
      val mean = if (isNum) s"CAST($c AS DOUBLE)" else s"CAST(LENGTH($c) AS DOUBLE)"
      s"SELECT '$c' AS c, '${if (isNum) "bigint" else "string"}' AS dt, " +
        s"CAST(COUNT(*) AS BIGINT) AS rows_, " +
        s"CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_, " +
        s"CAST(MIN($c) AS VARCHAR) AS min_val, CAST(MAX($c) AS VARCHAR) AS max_val, " +
        s"AVG($mean) AS mean_ FROM $src"
    }.mkString(" UNION ALL ")

  /** The profile-diff composed oracle shared by corpus_profile_diff and
    * corpus_profile_incr_diff: all ratios/fracs/means replay exactly in
    * SQL over the two sides; only the HLL estimates feeding
    * distinct_ratio are pinned (per column, both sides).
    */
  private def profileDiffSql(
      pins: String, oldSrc: String, newSrc: String, pre: String): String =
    s"""WITH pin AS (SELECT c, CAST(dold AS DOUBLE) AS d_old,
       |    CAST(dnew AS DOUBLE) AS d_new FROM (VALUES $pins) v(c, dold, dnew)),
       |$pre
       |o AS (${profileStatsSql(oldSrc)}),
       |n AS (${profileStatsSql(newSrc)})
       |SELECT o.c AS "column", o.dt AS dtype_old, n.dt AS dtype_new,
       |  ROUND(CAST(n.rows_ AS DOUBLE) / o.rows_, 6) AS rows_ratio,
       |  ROUND(CAST(o.nulls_ AS DOUBLE) / GREATEST(o.rows_, 1), 6) AS null_frac_old,
       |  ROUND(CAST(n.nulls_ AS DOUBLE) / GREATEST(n.rows_, 1), 6) AS null_frac_new,
       |  ROUND(p.d_new / p.d_old, 6) AS distinct_ratio,
       |  ROUND(o.mean_, 4) AS mean_old, ROUND(n.mean_, 4) AS mean_new,
       |  ROUND(n.mean_ / o.mean_, 6) AS mean_ratio
       |FROM o JOIN n ON n.c = o.c JOIN pin p ON p.c = o.c ORDER BY 1""".stripMargin

  /** Composed oracle for the non-PQ ANN entries: the hash-bucketed /
    * Lloyd-probed CANDIDATE pairs are pinned ([[PinnedOracles]] — no SQL
    * form), while the exact cosine over the raw embeddings and the
    * top-k ranking (desc sim, neighbor-id tiebreak) replay in DuckDB —
    * the serve arithmetic is the validated half, exactly the
    * search_hybrid dense-pin pattern one level deeper.
    */
  private def annCosineTopKSql(pins: String, k: Int): String =
    s"""WITH cand AS (SELECT CAST(q AS BIGINT) AS query_id,
       |    CAST(c AS BIGINT) AS neighbor_id FROM (VALUES $pins) v(q, c)),
       |sc AS (SELECT cand.query_id, cand.neighbor_id,
       |    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
       |      CAST(ce.embedding AS DOUBLE[])) AS sim
       |  FROM cand JOIN embeddings qe ON qe.vec_id = cand.query_id
       |  JOIN embeddings ce ON ce.vec_id = cand.neighbor_id)
       |SELECT query_id, neighbor_id, CAST(rk AS INT) AS rnk FROM (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, neighbor_id) AS rk FROM sc)
       |WHERE rk <= $k ORDER BY query_id, rnk""".stripMargin

  /** The connected-component keeper election of Dedup.duplicateClusters
    * as SQL CTEs over a `pairs(a, b)` CTE: symmetric edge closure, a
    * recursive reachability CTE (UNION set semantics terminates it), the
    * min-id representative, and `drops` = every non-representative
    * member. Requires the oracle to open with WITH RECURSIVE.
    */
  private val clusterDropCtes: String =
    """edges AS (SELECT a AS src, b AS dst FROM pairs
      |  UNION SELECT b, a FROM pairs),
      |reach AS (SELECT src AS id, src AS r FROM edges
      |  UNION SELECT e.src, t.r FROM edges e JOIN reach t ON t.id = e.dst),
      |drops AS (SELECT id FROM (
      |  SELECT id, MIN(r) AS rep FROM reach GROUP BY id) WHERE id <> rep)""".stripMargin

  /** The whitespace-token quality gate (`quality: { min_tokens: n }`) in
    * the oracle's tokenization (the text_quality convention). */
  private def qualityGateSql(minTokens: Int): String =
    s"len(string_split(lower(text), ' ')) >= $minTokens"

  /** documents with a deterministic 4-line decoration (doc-specific
    * substrings + a corpus-wide boilerplate header + a footer shared by
    * every third doc) — the line-dedup fixture, reproduced verbatim in
    * [[dedupLinesOracle]]'s `lined` CTE.
    */
  private def linedDocs(s: SparkSession, dir: String) =
    docs(s, dir).select(col("doc_id"),
      concat_ws("\n",
        substring(col("text"), 1, 40),
        lit("shared boilerplate header line"),
        substring(col("text"), 41, 40),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("promo footer visit example dot com"))
          .otherwise(substring(col("text"), 81, 40))).as("text"))

  /** The composed [[linedDocs]] line-dedup replay; `finalPred` restricts
    * the output docs (TRUE = full corpus; the `_incr` entry filters to
    * the shard — first-occurrence precedence is doc_id order either way).
    */
  private def dedupLinesOracle(finalPred: String): String =
    s"""WITH lined AS (
       |  SELECT doc_id,
       |    concat_ws(chr(10),
       |      substring(text, 1, 40),
       |      'shared boilerplate header line',
       |      substring(text, 41, 40),
       |      CASE WHEN doc_id % 3 = 0 THEN 'promo footer visit example dot com'
       |           ELSE substring(text, 81, 40) END) AS text
       |  FROM documents),
       |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined),
       |lp AS (SELECT doc_id, UNNEST(range(0, len(ls))) AS line_no, ls FROM l0),
       |l AS (SELECT doc_id, line_no, ls[line_no + 1] AS line FROM lp),
       |f AS (
       |  SELECT line, doc_id AS fdoc, line_no AS fno FROM (
       |    SELECT line, doc_id, line_no,
       |      ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
       |    FROM l
       |    WHERE len(regexp_replace(line, '\\s', '', 'g')) >= 10) WHERE rn = 1),
       |kept AS (
       |  SELECT l.doc_id, l.line_no, l.line
       |  FROM l LEFT JOIN f ON l.line = f.line
       |  WHERE f.fdoc IS NULL OR (l.doc_id = f.fdoc AND l.line_no = f.fno)),
       |reb AS (
       |  SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text,
       |    COUNT(*) AS n_kept
       |  FROM kept GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(r.text, '') AS text,
       |  COALESCE(r.n_kept, 0) AS n_kept,
       |  len(string_split(d.text, chr(10))) - COALESCE(r.n_kept, 0) AS n_dropped
       |FROM lined d LEFT JOIN reb r USING (doc_id)
       |WHERE $finalPred
       |ORDER BY d.doc_id""".stripMargin

  /** The 7-step declarative curation pipeline both `curation_pipeline`
    * and `curation_funnel` run.
    */
  private val curationYaml =
    """steps:
      |  - clean: {}
      |  - langid_keep: { langs: [en, es, fr] }
      |  - quality: { min_tokens: 10 }
      |  - dedup_exact: {}
      |  - quota: { group: lang, quotas: { en: 60, es: 25, fr: 15 } }
      |  - split: { train: 0.8, val: 0.1, test: 0.1 }
      |  - shuffle: { shards: 4 }
      |""".stripMargin

  /** The same pipeline as composed DuckDB CTEs (each stage the proven
    * oracle form of its operator): `c` clean → `lk` langid keep → `q`
    * quality → `d` exact dedup → `kept` quota → `sp` split → `sh` shard.
    */
  /** The stopword-hit columns of the langid SQL form — ONE builder
    * shared by every composed oracle that embeds the langid step, so a
    * list change cannot silently diverge between them.
    */
  private lazy val stopwordHitsSql: String =
    graft.functions.Texts.stopwords.toSeq.sortBy(_._1).map { case (l, ws) =>
      s"len(list_intersect(string_split(lower(text), ' '), [${ws.map(w => s"'$w'").mkString(",")}])) AS h_$l"
    }.mkString(", ")

  private lazy val curationCtes: String = {
    val hits = stopwordHitsSql
    s"""WITH c AS (SELECT doc_id, lang,
       |    trim(regexp_replace(regexp_replace(text, '[\\x00-\\x1F\\x7F]', ' ', 'g'), ' {2,}', ' ', 'g')) AS text
       |  FROM documents),
       |h AS (SELECT doc_id, lang, text, $hits FROM c),
       |g AS (SELECT *, GREATEST(h_de, h_en, h_es, h_fr, h_zh) AS g FROM h),
       |lid AS (SELECT doc_id, lang, text, CASE WHEN g = 0 THEN 'und'
       |  WHEN h_zh = g THEN 'zh' WHEN h_fr = g THEN 'fr' WHEN h_es = g THEN 'es'
       |  WHEN h_en = g THEN 'en' ELSE 'de' END AS pred FROM g),
       |lk AS (SELECT * FROM lid WHERE pred IN ('en', 'es', 'fr')),
       |q AS (SELECT * FROM lk WHERE len(string_split(lower(text), ' ')) >= 10),
       |d AS (SELECT * FROM q WHERE doc_id IN (SELECT MIN(doc_id) FROM q GROUP BY text)),
       |r AS (SELECT doc_id, lang, (doc_id % 1048576) * 2654435761 % 4294967296 AS rnd FROM d),
       |k AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY rnd, doc_id) AS rk FROM r),
       |kept AS (SELECT * FROM k WHERE (lang = 'en' AND rk <= 60)
       |   OR (lang = 'es' AND rk <= 25) OR (lang = 'fr' AND rk <= 15)),
       |sp AS (SELECT *, CASE WHEN rnd < 429496729 THEN 'test'
       |  WHEN rnd < 3865470566 THEN 'train' ELSE 'val' END AS split FROM kept),
       |sh AS (SELECT *, rnd % 4 AS shard FROM sp)""".stripMargin
  }
  private def emb(s: SparkSession, dir: String) = Tables.table(s, dir, "embeddings")

  /** The MediaFixtures container-metadata expectation as closed-form SQL
    * in doc_id — shared by the direct parse entry
    * (`multimodal_container_meta`) and the WebDataset round-trip
    * (`scan_tar_media`), which must agree byte-for-byte.
    */
  private val containerMetaSql =
    """SELECT doc_id AS media_id,
      |  CASE doc_id % 6 WHEN 0 THEN 'mp4' WHEN 1 THEN 'mp3' WHEN 2 THEN 'webm'
      |       WHEN 3 THEN 'flac' WHEN 4 THEN 'ogg' ELSE 'aac' END AS container,
      |  CAST(CASE doc_id % 6 WHEN 0 THEN 16 + doc_id % 64
      |       WHEN 2 THEN 32 + doc_id % 128 END AS INT) AS width,
      |  CAST(CASE doc_id % 6 WHEN 0 THEN 16 + (7 * doc_id) % 64
      |       WHEN 2 THEN 32 + (3 * doc_id) % 128 END AS INT) AS height,
      |  CAST(CASE doc_id % 6 WHEN 0 THEN 500 + doc_id % 1000
      |       WHEN 1 THEN ((5 + doc_id % 20) * 1152 * 1000) // 44100
      |       WHEN 2 THEN 250 + doc_id % 500
      |       WHEN 3 THEN (10 + doc_id % 50) * 100
      |       WHEN 4 THEN (20 + doc_id % 100) * 10
      |       ELSE ((3 + doc_id % 15) * 1024 * 1000) // 44100 END AS BIGINT) AS duration_ms,
      |  CAST(CASE doc_id % 6 WHEN 1 THEN 128 WHEN 4 THEN 112
      |       WHEN 5 THEN ((3 + doc_id % 15) * 200 * 8)
      |            // (((3 + doc_id % 15) * 1024 * 1000) // 44100) END AS INT) AS bitrate_kbps,
      |  CAST(CASE WHEN doc_id % 6 IN (1, 3, 4, 5) THEN 44100 END AS INT) AS sample_rate
      |FROM documents ORDER BY 1""".stripMargin

  /** Per-(shard, lang) rollup of the WebDataset round trip — shared by
    * the batch `scan_tar` entry and `streaming_scan_tar_replay`, whose
    * outputs must agree byte-for-byte.
    */
  private val tarRollupSql =
    """SELECT doc_id % 4 AS shard, lang, CAST(COUNT(*) AS BIGINT) AS n,
      |CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Full SQL replay of the tokenize → rank-vocab → per-bucket ordinal
    * chunking chain (Packing.rankVocab + packTokenIds at vocab=1000,
    * budget=128, buckets=8) — shared by `text_pack_ids` (in-memory) and
    * `release_tokens_tar` (decoded from the binary shards), which must
    * agree with it AND each other.
    */
  private val packIdsOracleSql =
    """WITH t0 AS (SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks FROM documents),
      |tp AS (SELECT doc_id, UNNEST(range(0, len(toks))) AS pos, toks FROM t0),
      |t AS (SELECT doc_id, pos, toks[pos + 1] AS tok FROM tp),
      |cnt AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY 1),
      |voc AS (SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS INT) AS tok_id
      |  FROM (SELECT * FROM cnt ORDER BY c DESC, tok LIMIT 1000)),
      |m AS (SELECT t.doc_id, t.pos, COALESCE(v.tok_id, 0) AS tok_id, t.doc_id % 8 AS bucket
      |  FROM t LEFT JOIN voc v USING (tok)),
      |g AS (SELECT bucket, tok_id,
      |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id, pos) - 1 AS gp FROM m),
      |q AS (SELECT bucket, tok_id, gp // 128 AS seq, gp % 128 AS idx FROM g)
      |SELECT CAST(bucket AS INT) AS bucket, CAST(seq AS BIGINT) AS seq,
      |  CAST(COUNT(*) AS INT) AS n, CAST(SUM(tok_id) AS BIGINT) AS sum_ids,
      |  CAST(MAX(CASE WHEN idx = 0 THEN tok_id END) AS INT) AS first_id
      |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** [[packIdsOracleSql]] with the corpus replaced by the
    * quality(10)+dedup_exact curated selection — the
    * `curation_release_tokens` gate (same vocab/budget/buckets).
    */
  private val packIdsCuratedOracleSql =
    """WITH q0 AS (SELECT doc_id, text FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 10),
      |dsel AS (SELECT * FROM q0 WHERE doc_id IN (SELECT MIN(doc_id) FROM q0 GROUP BY text)),
      |""".stripMargin +
      packIdsOracleSql.replace("WITH t0", "t0").replace("FROM documents)", "FROM dsel)")

  /** The SHARD-INGEST replay of [[packIdsCuratedOracleSql]]: the same
    * quality+exact curated selection over two ingest-ordered shards
    * (first-wins, so the union equals the batch selection), but the
    * frequency-ranked vocab fits on SHARD 0's curated tokens ONLY (the
    * fit-once/serve-many contract of the terminal `sink_tokens` step in
    * shard mode) and each shard packs independently with its buckets
    * shifted to `doc_id % 8 + label*8` — the (bucket, seq) keyspace of
    * the accumulated release.
    */
  /** The proven BM25 oracle (fixed 3-query probe set, k = 10) — ONE
    * definition shared by search_bm25 / search_bm25_idx /
    * search_bm25_serve / streaming_bm25_replay and, with a corpus
    * filter, search_bm25_purge: an oracle fix must not have to land in
    * five places. `where` is appended to the documents CTE.
    */
  private def bm25OracleSql(where: String = ""): String =
    s"""WITH d AS (SELECT doc_id,
       |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks FROM documents$where),
       |p AS (SELECT doc_id, len(toks) AS dl, UNNEST(toks) AS term FROM d),
       |post AS (SELECT term, doc_id, dl, CAST(COUNT(*) AS BIGINT) AS tf FROM p GROUP BY 1, 2, 3),
       |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
       |  FROM (SELECT doc_id, ANY_VALUE(dl) AS dl FROM post GROUP BY 1)),
       |q0 AS (SELECT * FROM (VALUES (1, 'spark join'), (2, 'window merge sort'),
       |    (3, 'vector hash batch')) v(query_id, qt)),
       |q AS (SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id,
       |    UNNEST(list_filter(string_split(lower(qt), ' '), x -> x <> '')) AS term FROM q0),
       |rel AS (SELECT p.term, p.doc_id, p.tf, p.dl FROM post p
       |  WHERE p.term IN (SELECT DISTINCT term FROM q)),
       |dfT AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM rel GROUP BY 1),
       |sc AS (SELECT q.query_id, r.doc_id,
       |    SUM(LN(1.0 + (g.n_docs - t.df + 0.5) / (t.df + 0.5)) *
       |        (r.tf * 2.2 / (r.tf + 1.2 * (1.0 - 0.75 + 0.75 * r.dl / g.avgdl)))) AS raw
       |  FROM rel r JOIN q ON q.term = r.term JOIN dfT t ON t.term = r.term CROSS JOIN g
       |  GROUP BY 1, 2),
       |rk AS (SELECT query_id, doc_id, ROUND(raw, 4) AS score,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY ROUND(raw, 4) DESC, doc_id) AS rank FROM sc)
       |SELECT query_id, doc_id, CAST(rank AS INT) AS rank, score
       |FROM rk WHERE rank <= 10 ORDER BY 1, 3""".stripMargin

  private val incrTokensOracleSql =
    """WITH q0 AS (SELECT doc_id, text FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 10),
      |dsel AS (SELECT *, CASE WHEN doc_id < 250 THEN 0 ELSE 1 END AS lab FROM q0
      |  WHERE doc_id IN (SELECT MIN(doc_id) FROM q0 GROUP BY text)),
      |t0 AS (SELECT doc_id, lab,
      |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks FROM dsel),
      |tp AS (SELECT doc_id, lab, UNNEST(range(0, len(toks))) AS pos, toks FROM t0),
      |t AS (SELECT doc_id, lab, pos, toks[pos + 1] AS tok FROM tp),
      |cnt AS (SELECT tok, COUNT(*) AS c FROM t WHERE lab = 0 GROUP BY 1),
      |voc AS (SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS INT) AS tok_id
      |  FROM (SELECT * FROM cnt ORDER BY c DESC, tok LIMIT 1000)),
      |m AS (SELECT t.doc_id, t.lab, t.pos, COALESCE(v.tok_id, 0) AS tok_id,
      |    t.doc_id % 8 AS bucket FROM t LEFT JOIN voc v USING (tok)),
      |g AS (SELECT lab, bucket, tok_id,
      |    ROW_NUMBER() OVER (PARTITION BY lab, bucket ORDER BY doc_id, pos) - 1 AS gp FROM m),
      |q AS (SELECT lab * 8 + bucket AS bucket, tok_id, gp // 128 AS seq, gp % 128 AS idx FROM g)
      |SELECT CAST(bucket AS INT) AS bucket, CAST(seq AS BIGINT) AS seq,
      |  CAST(COUNT(*) AS INT) AS n, CAST(SUM(tok_id) AS BIGINT) AS sum_ids,
      |  CAST(MAX(CASE WHEN idx = 0 THEN tok_id END) AS INT) AS first_id
      |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Shared CTE chain for the dedup_ngram step oracles: trigram word
    * shingles of source CTE `src` (doc_id, lang, text) through the
    * qualifying-pair set `jp` under `jpPredicate` (which may reference
    * `inter`, `na.n`, `nb.n`). Spliced into the WITH RECURSIVE blocks
    * below — one copy of the shingle/pair replay, three consumers.
    */
  private def ngramPairCtes(src: String, jpPredicate: String): String =
    raw"""sl AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM $src),
         |sh0 AS (SELECT doc_id, UNNEST(list_transform(range(1, len(t) - 1),
         |    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS s
         |  FROM sl WHERE len(t) >= 3),
         |sh AS (SELECT DISTINCT doc_id, s FROM sh0),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS (SELECT doc_a, doc_b FROM pairs
         |  JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
         |  WHERE $jpPredicate)""".stripMargin

  /** The min-id connected-components drop set over `jp` (recursive
    * transitive closure): `dr.u` holds every doc reachable from a
    * smaller id — the docs a min-id-keep clustering drops.
    */
  private val ngramClosureCtes: String =
    """e AS (SELECT doc_a AS u, doc_b AS v FROM jp
      |      UNION ALL SELECT doc_b, doc_a FROM jp),
      |reach AS (SELECT u, u AS m FROM (SELECT DISTINCT u FROM e)
      |  UNION SELECT e.u, r.m FROM e JOIN reach r ON e.v = r.u),
      |dr AS (SELECT u FROM reach GROUP BY u HAVING MIN(m) < u)""".stripMargin

  /** documents + a deterministic synthetic `url` column — closed-form in
    * (doc_id, lang, source), reproduced verbatim in [[urlCte]], the same
    * fixture pattern the multimodal oracles use. The decorations exercise
    * every normalization rule: scheme/host case, `www.`, default port,
    * multi-part suffix (`.co.uk`, `.com.cn`), trailing slash, tracking
    * params, param order, fragment. Docs sharing (source, lang,
    * doc_id%10) but differing in parity produce RAW-distinct urls that
    * normalize EQUAL — real normalization-induced duplicates for
    * [[graft.operators.UrlCuration.dedupByUrl]].
    */
  private def docsWithUrl(s: SparkSession, dir: String): DataFrame = {
    // The closed-form url expression below is LARGE, and every downstream
    // parse (scheme/host/path/query/domain) would re-inline it — the
    // stacked tree blows the whole-stage-codegen unit past janino's
    // limits (16k+ generated lines, observed compile failure → interpreted
    // fallback). A real corpus carries url as a STORED column; the
    // materialize reproduces that shape, so the UrlCuration operators
    // compile to the same small codegen units they get in production.
    val p = (col("doc_id") % 10).cast("int")
    val even = col("doc_id") % 2 === 0
    val tld = when(p === 0, lit(".co.uk"))
      .when(col("lang") === "de", ".de")
      .when(col("lang") === "fr", ".fr")
      .when(col("lang") === "zh", ".com.cn")
      .when(col("lang") === "es", ".es")
      .otherwise(".com")
    graft.plans.Materialize(docs(s, dir).withColumn("url", concat(
      when(even, "HTTPS://").otherwise("https://"),
      when(even, "WWW.").otherwise(lit("")),
      when(even, upper(col("source"))).otherwise(col("source")),
      tld,
      when(p % 3 === 0, ":443").otherwise(lit("")),
      lit("/"), col("lang"), lit("/Page"), p.cast("string"),
      when(p % 5 === 0, "/").otherwise(lit("")),
      when(p % 4 === 0,
        when(even, "?utm_source=feed&b=2&a=1").otherwise("?b=2&a=1"))
        .when(p % 4 === 1, "?a=1&b=2").otherwise(lit("")),
      when(!even, "#frag").otherwise(lit("")))))
  }

  /** The [[docsWithUrl]] fixture + [[graft.operators.UrlCuration]]
    * normalization as DuckDB CTEs (`du` → raw url, `urls` → doc_id, url,
    * url_norm, host, domain) — regex/HOF constructs chosen to evaluate
    * identically in Java regex and DuckDB's RE2.
    */
  private val urlCte =
    """WITH du AS (
      |  SELECT doc_id, lang, source, n_chars,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END) ||
      |    (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END) ||
      |    (CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END) ||
      |    (CASE WHEN doc_id % 10 = 0 THEN '.co.uk' WHEN lang = 'de' THEN '.de'
      |          WHEN lang = 'fr' THEN '.fr' WHEN lang = 'zh' THEN '.com.cn'
      |          WHEN lang = 'es' THEN '.es' ELSE '.com' END) ||
      |    (CASE WHEN (doc_id % 10) % 3 = 0 THEN ':443' ELSE '' END) ||
      |    '/' || lang || '/Page' || CAST(doc_id % 10 AS VARCHAR) ||
      |    (CASE WHEN (doc_id % 10) % 5 = 0 THEN '/' ELSE '' END) ||
      |    (CASE WHEN (doc_id % 10) % 4 = 0 THEN
      |            (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1' ELSE '?b=2&a=1' END)
      |          WHEN (doc_id % 10) % 4 = 1 THEN '?a=1&b=2' ELSE '' END) ||
      |    (CASE WHEN doc_id % 2 = 1 THEN '#frag' ELSE '' END) AS url
      |  FROM documents),
      |parsed AS (
      |  -- Mirrors UrlCuration's compact forms: one host regex on the
      |  -- lowered url, default ports stripped scheme-independently,
      |  -- eTLD+1 in one leftmost-first alternation regex (identical
      |  -- semantics in Java regex and DuckDB's RE2).
      |  SELECT doc_id, url, n_chars,
      |    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS sch,
      |    regexp_replace(regexp_replace(
      |      regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#]*)', 1),
      |      ':(80|443)$', ''), '^www\.', '') AS host0,
      |    regexp_replace(regexp_extract(url,
      |      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '') AS path,
      |    COALESCE(regexp_extract(url, '^[^#]*?\?([^#]*)', 1), '') AS qs,
      |    -- COALESCE: DuckDB array_to_string([]) is NULL, Spark's is ''.
      |    COALESCE(array_to_string(list_sort(list_filter(
      |      string_split(regexp_extract(url, '^[^#]*?\?([^#]*)', 1), '&'),
      |      x -> x <> '' AND NOT regexp_matches(x,
      |        '^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|ref|ref_src)='))), '&'), '') AS qn
      |  FROM du),
      |normed AS (
      |  SELECT doc_id, url, n_chars,
      |    CASE WHEN host0 = '' THEN NULL ELSE host0 END AS host,
      |    CASE WHEN host0 = '' THEN url
      |         ELSE sch || '://' || host0 || path ||
      |              (CASE WHEN qn = '' THEN '' ELSE '?' || qn END) END AS url_norm
      |  FROM parsed),
      |urls AS (
      |  SELECT doc_id, url, url_norm, host, n_chars,
      |    COALESCE(NULLIF(regexp_extract(host,
      |      '([^.]+\.(?:co\.uk|org\.uk|ac\.uk|gov\.uk|co\.jp|ne\.jp|or\.jp|com\.au|net\.au|org\.au|com\.br|com\.cn|com\.mx|com\.tr|com\.sg|com\.hk|co\.in|co\.kr|co\.za)|[^.]+\.[^.]+)$',
      |      1), ''), host) AS domain
      |  FROM normed)
      |""".stripMargin

  /** Composed oracle for the SHARD-INGEST release: the full-corpus
    * replay of url_dedup → dedup_lines → dedup_exact → perplexity over
    * the lined [[docsWithUrl]] fixture, with the LM fit restricted to
    * shard 0's survivors (doc_id < 250 — the fit-once/serve-many scope
    * the incremental run actually has). First-wins dedups are
    * prefix-closed, so shard 0's curated frame IS the full chain
    * restricted to doc_id < 250.
    */
  private val incrReleaseCtes: String = urlCte +
    s""", lined AS (
       |  SELECT doc_id, lang,
       |    concat_ws(chr(10),
       |      substring(text, 1, 40),
       |      'shared boilerplate header line',
       |      substring(text, 41, 40),
       |      CASE WHEN doc_id % 3 = 0 THEN 'promo footer visit example dot com'
       |           ELSE substring(text, 81, 40) END) AS text
       |  FROM documents),
       |ukeep AS (SELECT MIN(doc_id) AS doc_id FROM urls GROUP BY url_norm),
       |d1 AS (SELECT l.doc_id, l.lang, l.text FROM lined l JOIN ukeep USING (doc_id)),
       |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d1),
       |lp AS (SELECT doc_id, UNNEST(range(0, len(ls))) AS line_no, ls FROM l0),
       |l AS (SELECT doc_id, line_no, ls[line_no + 1] AS line FROM lp),
       |f AS (
       |  SELECT line, doc_id AS fdoc, line_no AS fno FROM (
       |    SELECT line, doc_id, line_no,
       |      ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
       |    FROM l
       |    WHERE len(regexp_replace(line, '\\s', '', 'g')) >= 10) WHERE rn = 1),
       |kept AS (
       |  SELECT l.doc_id, l.line_no, l.line
       |  FROM l LEFT JOIN f ON l.line = f.line
       |  WHERE f.fdoc IS NULL OR (l.doc_id = f.fdoc AND l.line_no = f.fno)),
       |reb AS (
       |  SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text
       |  FROM kept GROUP BY doc_id),
       |ekeep AS (SELECT MIN(doc_id) AS doc_id FROM reb GROUP BY text),
       |d3 AS (SELECT r.doc_id, d1.lang, r.text
       |       FROM reb r JOIN ekeep USING (doc_id) JOIN d1 USING (doc_id)),
       |-- Tokenization must match Vocabulary.tokenRows on MULTI-LINE text:
       |-- Spark SQL's split is limit -1 over whitespace RUNS, so a
       |-- trailing newline yields a trailing EMPTY token (scored OOV) —
       |-- regexp_split_to_array has the same keep-empties semantics.
       |ftok AS (SELECT UNNEST(regexp_split_to_array(lower(text), '\\s+')) AS tok
       |         FROM d3 WHERE doc_id < 250),
       |fcnt AS (SELECT tok, COUNT(*) AS c FROM ftok GROUP BY 1),
       |ftot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM fcnt),
       |fvoc AS (SELECT tok, c FROM fcnt ORDER BY c DESC, tok LIMIT 20),
       |fvs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM fvoc),
       |flm AS (SELECT tok, LN((c + 1) / (t + v + 1)) AS logp
       |        FROM fvoc CROSS JOIN ftot CROSS JOIN fvs),
       |stok AS (SELECT doc_id,
       |           UNNEST(regexp_split_to_array(lower(text), '\\s+')) AS tok FROM d3),
       |ssc AS (SELECT doc_id, COALESCE(logp, LN(1 / (t + v + 1))) AS lp
       |        FROM stok LEFT JOIN flm USING (tok) CROSS JOIN ftot CROSS JOIN fvs),
       |sagg AS (SELECT doc_id, -AVG(lp) AS nll FROM ssc GROUP BY 1),
       |pkeep AS (SELECT doc_id FROM sagg WHERE ROUND(EXP(nll), 4) <= 150)
       |""".stripMargin

  private val incrReleaseOracle: String = incrReleaseCtes +
    """SELECT d3.doc_id, d3.lang, d3.text FROM d3 JOIN pkeep USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Per-probe fate + winner over the same composed shard-ingest chain:
    * shard splits are id-ordered (shard 0 = doc_id < 250), so the
    * standing first-wins keepers equal each key group's global MIN id —
    * which is exactly what ukeep/ekeep already compute.
    */
  private val explainShardOracle: String = incrReleaseCtes +
    """, probes AS (SELECT UNNEST(range(250, 350)) AS doc_id
      |    UNION ALL SELECT 10 UNION ALL SELECT 9999),
      |uwin AS (SELECT u.doc_id, m.win FROM urls u JOIN
      |  (SELECT url_norm, MIN(doc_id) AS win FROM urls GROUP BY 1) m
      |  USING (url_norm)),
      |ewin AS (SELECT r.doc_id, m.win FROM reb r JOIN
      |  (SELECT text, MIN(doc_id) AS win FROM reb GROUP BY 1) m
      |  USING (text)),
      |fates AS (SELECT p.doc_id,
      |  CASE WHEN p.doc_id NOT IN (SELECT doc_id FROM lined WHERE doc_id >= 250)
      |         THEN 'absent'
      |       WHEN p.doc_id NOT IN (SELECT doc_id FROM ukeep) THEN 'url_dedup'
      |       WHEN p.doc_id NOT IN (SELECT doc_id FROM reb) THEN 'dedup_lines'
      |       WHEN p.doc_id NOT IN (SELECT doc_id FROM d3) THEN 'dedup_exact'
      |       WHEN p.doc_id NOT IN (SELECT doc_id FROM pkeep) THEN 'perplexity'
      |       ELSE 'kept' END AS fate
      |  FROM probes p)
      |SELECT f.doc_id, f.fate,
      |  CASE WHEN f.fate = 'url_dedup' THEN (SELECT win FROM uwin WHERE uwin.doc_id = f.doc_id)
      |       WHEN f.fate = 'dedup_exact' THEN (SELECT win FROM ewin WHERE ewin.doc_id = f.doc_id)
      |       ELSE NULL END AS winner
      |FROM fates f ORDER BY 1""".stripMargin

  // ==========================================================================
  // §2.1 scans / sources / sinks
  // ==========================================================================

  private val scans = Seq(
    Q("scan_csv", (s, dir) => {
      val csvDir = s"/tmp/graft_csv_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      if (!new java.io.File(csvDir, "_SUCCESS").exists()) {
        Tables.table(s, dir, "events")
          .select("event_id", "user_id", "event_type")
          .write.mode("overwrite").option("header", "true").csv(csvDir)
      }
      s.read.option("header", "true").option("inferSchema", "true").csv(csvDir)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }, Some("SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1 ORDER BY 1")),

    Q("scan_parquet", (s, dir) =>
      Tables.table(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity").cast("long").as("qty"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
             |CAST(l_quantity AS BIGINT) AS qty FROM lineitem
             |WHERE l_shipdate < TIMESTAMP '1997-01-01' ORDER BY 1, 2""".stripMargin)),

    Q("sink_parquet", (s, dir) => {
      val out = s"/tmp/graft_sink_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      Tables.table(s, dir, "orders")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out).orderBy("o_orderstatus")
    }, Some("SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY 1 ORDER BY 1")),

    Q("shard_expand", (s, dir) => {
      val out = s"/tmp/graft_shards_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      if (!new java.io.File(out).exists()) {
        Tables.events(s, dir)
          .withColumn("shard", pmod(col("user_id"), lit(2)))
          .write.mode("overwrite").partitionBy("shard").parquet(out)
      }
      s.read.parquet(out)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    }, Some("SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1 ORDER BY 1")),

    Q("ts_parse", (s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id"), to_timestamp(
          date_format(col("ts"), "yyyy-MM-dd HH:mm"), "yyyy-MM-dd HH:mm").as("tp"))
        .groupBy("user_id")
        .agg(min("tp").as("min_tp"), max("tp").as("max_tp"))
        .orderBy("user_id"),
      Some("""SELECT user_id,
             |MIN(strptime(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M'), '%Y-%m-%d %H:%M')) AS min_tp,
             |MAX(strptime(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M'), '%Y-%m-%d %H:%M')) AS max_tp
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("schema_validate", (s, dir) => {
      val df = Tables.events(s, dir)
        .withColumn("user_id", col("user_id").cast("long"))
        .withColumn("categorical_value", lit(null).cast("string"))
      df.agg(
        count(lit(1)).as("n_rows"),
        count(col("value")).as("n_value"),
        count(col("categorical_value")).as("n_cat"))
    }, Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(COUNT(value) AS BIGINT) AS n_value,
              |CAST(0 AS BIGINT) AS n_cat FROM events""".stripMargin))
  )

  // ==========================================================================
  // §2.2 projections / filters / predicate compiler
  // ==========================================================================

  private def sumPerUser(s: SparkSession, dir: String, cond: org.apache.spark.sql.Column, as: String) =
    Tables.events(s, dir)
      .groupBy(col("user_id").as("subject_id"))
      .agg(sum(cond.cast("long")).as(as))
      .orderBy("subject_id")

  private val predicates = Seq(
    Q("pred_code_eq", (s, dir) => sumPerUser(s, dir, col("event_type") === "click", "n_click"),
      Some("""SELECT user_id AS subject_id, CAST(SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT)
             |AS n_click FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("pred_regex", (s, dir) => sumPerUser(s, dir, col("event_type").rlike("^p.*e$"), "n_match"),
      Some("""SELECT user_id AS subject_id, CAST(SUM(CASE WHEN regexp_matches(event_type, '^p.*e$')
             |THEN 1 ELSE 0 END) AS BIGINT) AS n_match FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("pred_any_of", (s, dir) => sumPerUser(s, dir, col("event_type").isin("click", "view"), "n_cv"),
      Some("""SELECT user_id AS subject_id, CAST(SUM(CASE WHEN event_type IN ('click','view')
             |THEN 1 ELSE 0 END) AS BIGINT) AS n_cv FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("pred_value_range", (s, dir) =>
      sumPerUser(s, dir, col("value") >= 10 && col("value") < 100, "n_in_range"),
      Some("""SELECT user_id AS subject_id, CAST(SUM(CASE WHEN value >= 10 AND value < 100
             |THEN 1 ELSE 0 END) AS BIGINT) AS n_in_range FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("pred_other_cols", (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(sum((col("props") === """{"k": 0}""").cast("long")).as("n_k0"))
        .orderBy("event_type"),
      Some("""SELECT event_type, CAST(SUM(CASE WHEN props = '{"k": 0}' THEN 1 ELSE 0 END) AS BIGINT)
             |AS n_k0 FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("pred_conj", (s, dir) =>
      sumPerUser(s, dir, col("event_type") === "click" && col("value") > 50, "n_big_click"),
      Some("""SELECT user_id AS subject_id, CAST(SUM(CASE WHEN event_type='click' AND value > 50
             |THEN 1 ELSE 0 END) AS BIGINT) AS n_big_click FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("pred_split_contains", (s, dir) =>
      docs(s, dir)
        .groupBy("lang")
        .agg(sum(array_contains(split(col("text"), " "), "spark").cast("long")).as("n_spark"))
        .orderBy("lang"),
      Some("""SELECT lang, CAST(SUM(CASE WHEN list_contains(string_split(text, ' '), 'spark')
             |THEN 1 ELSE 0 END) AS BIGINT) AS n_spark FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("pred_not_null", (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(sum(col("value").isNotNull.cast("long")).as("n_nonnull"))
        .orderBy("event_type"),
      Some("""SELECT event_type, CAST(SUM(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |AS n_nonnull FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("derived_and", (s, dir) => {
      val d = DerivedPredicateDef("and(is_click, is_error)")
      preds(s, dir)
        .withColumn("click_and_error", d.evalExpr.cast("long"))
        .groupBy("subject_id").agg(sum("click_and_error").as("n_both"))
        .orderBy("subject_id")
    }, Some(predsCte +
      """SELECT subject_id, CAST(SUM(CASE WHEN is_click > 0 AND is_error > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |AS n_both FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("derived_or", (s, dir) => {
      val d = DerivedPredicateDef("or(is_click, is_error)")
      preds(s, dir)
        .withColumn("click_or_error", d.evalExpr.cast("long"))
        .groupBy("subject_id").agg(sum("click_or_error").as("n_either"))
        .orderBy("subject_id")
    }, Some(predsCte +
      """SELECT subject_id, CAST(SUM(CASE WHEN is_click > 0 OR is_error > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |AS n_either FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("bool_to_count", (s, dir) => sumPerUser(s, dir, col("event_type") === "error", "n_error"),
      Some("""SELECT user_id AS subject_id, CAST(SUM(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT)
             |AS n_error FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("select_cols", (s, dir) => docs(s, dir).select("doc_id", "lang").orderBy("doc_id"),
      Some("SELECT doc_id, lang FROM documents ORDER BY 1")),

    Q("filter_rows", (s, dir) =>
      docs(s, dir).filter(col("n_chars") > 400).select("doc_id", "n_chars").orderBy("doc_id"),
      Some("SELECT doc_id, n_chars FROM documents WHERE n_chars > 400 ORDER BY 1")),

    Q("when_otherwise", (s, dir) =>
      Tables.events(s, dir)
        .withColumn("bucket", when(col("value") >= 50, "high").otherwise("low"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket"),
      Some("""SELECT CASE WHEN value >= 50 THEN 'high' ELSE 'low' END AS bucket,
             |CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("lit_col", (s, dir) =>
      docs(s, dir).select(col("doc_id"), lit("corpus_v1").as("tag")).orderBy("doc_id"),
      Some("SELECT doc_id, 'corpus_v1' AS tag FROM documents ORDER BY 1")),

    Q("rename", (s, dir) =>
      Tables.table(s, dir, "lineitem")
        .withColumnRenamed("l_orderkey", "order_key")
        .groupBy("order_key").agg(count(lit(1)).as("n_lines"))
        .orderBy("order_key"),
      Some("""SELECT l_orderkey AS order_key, CAST(COUNT(*) AS BIGINT) AS n_lines
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("drop_nulls", (s, dir) =>
      Tables.events(s, dir)
        .withColumn("v", when(col("value") > 50, col("value")))
        .na.drop(Seq("v"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type"),
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM events
             |WHERE (CASE WHEN value > 50 THEN value END) IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("is_empty_guard", (s, dir) => {
      val isEmpty = Tables.events(s, dir).filter(col("event_type") === "nonexistent").isEmpty
      s.range(1).select(lit(if (isEmpty) 1L else 0L).as("empty_flag"))
    }, Some("""SELECT CAST(CASE WHEN NOT EXISTS(SELECT 1 FROM events WHERE event_type='nonexistent')
              |THEN 1 ELSE 0 END AS BIGINT) AS empty_flag""".stripMargin))
  )

  // ==========================================================================
  // §2.3 joins
  // ==========================================================================

  private val joins = Seq(
    Q("join_inner_anchor", (s, dir) =>
      Tables.table(s, dir, "orders")
        .join(broadcast(Tables.table(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"), "inner")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_orders"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders FROM orders
             |JOIN customer ON o_custkey = c_custkey GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("join_inner_sibling", (s, dir) => {
      val li = Tables.table(s, dir, "lineitem")
      val aSide = li.filter(col("l_returnflag") === "R").select("l_orderkey").distinct()
      val bSide = li.filter(col("l_returnflag") === "A").select("l_orderkey").distinct()
      aSide.join(bSide, Seq("l_orderkey"), "inner").orderBy("l_orderkey")
    }, Some("""SELECT a.l_orderkey FROM
              |(SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag='R') a
              |JOIN (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag='A') b
              |USING (l_orderkey) ORDER BY 1""".stripMargin)),

    Q("join_left_reanchor", (s, dir) => {
      val counts = Tables.table(s, dir, "lineitem")
        .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
      Tables.table(s, dir, "orders")
        .join(counts, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderkey"), coalesce(col("n"), lit(0L)).as("n_lines"))
        .orderBy("o_orderkey")
    }, Some("""SELECT o_orderkey, CAST(COALESCE(n, 0) AS BIGINT) AS n_lines FROM orders
              |LEFT JOIN (SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY 1) li
              |ON o_orderkey = li.l_orderkey ORDER BY 1""".stripMargin)),

    Q("join_left_summary", (s, dir) => {
      val sums = Tables.table(s, dir, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      Tables.table(s, dir, "customer")
        .join(sums, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), coalesce(col("n"), lit(0L)).as("n_orders"))
        .orderBy("c_custkey")
    }, Some("""SELECT c_custkey, CAST(COALESCE(n, 0) AS BIGINT) AS n_orders FROM customer
              |LEFT JOIN (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1) o
              |ON c_custkey = o.o_custkey ORDER BY 1""".stripMargin)),

    Q("join_left_offset", (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val next = daily.select(
        col("user_id"), date_add(col("day"), -1).as("day"), col("n").as("n_in_offset_period"))
      daily.join(next, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          col("n"), coalesce(col("n_in_offset_period"), lit(0L)).as("n_in_offset_period"))
        .orderBy("user_id", "day")
    }, Some("""WITH daily AS (SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
              |CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2)
              |SELECT d.user_id, d.day, d.n, CAST(COALESCE(nx.n, 0) AS BIGINT) AS n_in_offset_period
              |FROM daily d LEFT JOIN daily nx
              |ON d.user_id = nx.user_id AND nx.day = d.day + INTERVAL 1 DAY
              |ORDER BY 1, 2""".stripMargin)),

    Q("join_left_esgpt", (s, dir) => {
      val meas = Tables.table(s, dir, "lineitem")
        .groupBy("l_partkey").agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      Tables.table(s, dir, "part")
        .join(meas, col("p_partkey") === col("l_partkey"), "left")
        .select(col("p_partkey"), coalesce(col("total_qty"), lit(0L)).as("total_qty"))
        .orderBy("p_partkey")
    }, Some("""SELECT p_partkey, CAST(COALESCE(total_qty, 0) AS BIGINT) AS total_qty FROM part
              |LEFT JOIN (SELECT l_partkey, SUM(CAST(l_quantity AS BIGINT)) AS total_qty
              |FROM lineitem GROUP BY 1) li ON p_partkey = li.l_partkey ORDER BY 1""".stripMargin)),

    Q("join_semi", (s, dir) =>
      Tables.table(s, dir, "customer")
        .join(Tables.table(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey FROM customer WHERE EXISTS
             |(SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY 1""".stripMargin)),

    // As-of joins (AsOfJoin: union + ordered window — one key exchange,
    // no range-join pair blow-up). Oracle is DuckDB's native ASOF JOIN —
    // an independent implementation of the same published semantics.
    Q("join_asof", (s, dir) => {
      val (pur, clk) = asofFrames(s, dir)
      AsOfJoin.backward(pur, clk, Seq("user_id"), "pts", "cts")
        .select("user_id", "pts", "cts", "n_clicks").orderBy("user_id", "pts")
    }, Some(asofCte +
      """SELECT p.user_id, p.pts, c.cts, c.n_clicks FROM pur p
        |ASOF LEFT JOIN clk c ON p.user_id = c.user_id AND p.pts >= c.cts
        |ORDER BY 1, 2""".stripMargin)),

    Q("join_asof_fwd", (s, dir) => {
      val ev = Tables.events(s, dir)
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts")).distinct()
      val err = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id"), col("ts").as("ets"))
        .agg(count(lit(1)).as("n_errors"))
      AsOfJoin.forward(pur, err, Seq("user_id"), "pts", "ets")
        .select("user_id", "pts", "ets", "n_errors").orderBy("user_id", "pts")
    }, Some(
      """WITH pur AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS pts FROM events
        |  WHERE event_type='purchase' GROUP BY 1, 2),
        |err AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ets,
        |  CAST(COUNT(*) AS BIGINT) AS n_errors FROM events
        |  WHERE event_type='error' GROUP BY 1, 2)
        |SELECT p.user_id, p.pts, e.ets, e.n_errors FROM pur p
        |ASOF LEFT JOIN err e ON p.user_id = e.user_id AND p.pts <= e.ets
        |ORDER BY 1, 2""".stripMargin)),

    Q("join_asof_tol", (s, dir) => {
      val (pur, clk) = asofFrames(s, dir)
      AsOfJoin.backward(pur, clk, Seq("user_id"), "pts", "cts",
        toleranceMicros = 3600000000L)
        .select("user_id", "pts", "cts", "n_clicks").orderBy("user_id", "pts")
    }, Some(asofCte +
      """SELECT user_id, pts,
        |  CASE WHEN pts - cts <= INTERVAL 1 HOUR THEN cts END AS cts,
        |  CASE WHEN pts - cts <= INTERVAL 1 HOUR THEN n_clicks END AS n_clicks
        |FROM (SELECT p.user_id, p.pts, c.cts, c.n_clicks FROM pur p
        |  ASOF LEFT JOIN clk c ON p.user_id = c.user_id AND p.pts >= c.cts)
        |ORDER BY 1, 2""".stripMargin)),

    Q("join_asof_nearest", (s, dir) => {
      val (pur, clk) = asofFrames(s, dir)
      AsOfJoin.nearest(pur, clk, Seq("user_id"), "pts", "cts")
        .select("user_id", "pts", "cts", "n_clicks").orderBy("user_id", "pts")
    }, Some(asofCte +
      // Brute-force nearest: smallest |Δt|, ties to the backward row —
      // LEFT JOIN keeps purchase rows for users with no clicks.
      """SELECT p.user_id, p.pts, c.cts, c.n_clicks FROM pur p
        |LEFT JOIN clk c ON p.user_id = c.user_id
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY p.user_id, p.pts
        |  ORDER BY ABS(epoch_us(p.pts) - epoch_us(c.cts)), c.cts >= p.pts, c.cts) = 1
        |ORDER BY 1, 2""".stripMargin))
  )

  /** Purchases (left) and per-µs-collapsed clicks (right) for the as-of
    * entries — the right side MUST be unique per (key, ts) for a
    * well-defined match (AsOfJoin contract).
    */
  private def asofFrames(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, dir)
    val pur = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts")).distinct()
    val clk = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("cts"))
      .agg(count(lit(1)).as("n_clicks"))
    (pur, clk)
  }

  private def asofCte =
    """WITH pur AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS pts FROM events
      |  WHERE event_type='purchase' GROUP BY 1, 2),
      |clk AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts,
      |  CAST(COUNT(*) AS BIGINT) AS n_clicks FROM events
      |  WHERE event_type='click' GROUP BY 1, 2)
      |""".stripMargin

  // ==========================================================================
  // §2.4 aggregations + §2.5 window functions + §2.6 event-bound
  // ==========================================================================

  private val aggsAndWindows = Seq(
    Q("groupby_sum_event", (s, dir) => preds(s, dir).orderBy("subject_id", "timestamp"),
      Some(predsCte + "SELECT * FROM p ORDER BY 1, 2"), bench = true),

    Q("groupby_sum_eventid", (s, dir) =>
      Tables.table(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n_lines"))
        .orderBy("l_orderkey"),
      Some("""SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             |CAST(COUNT(*) AS BIGINT) AS n_lines FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("sessionize", (s, dir) =>
      // Gap-based sessions (1h) over the canonical frame: growing-frame
      // running count of gap boundaries, per-session summary.
      Sessionize.sessions(preds(s, dir), gapMicros = 3600000000L)
        .select(col("subject_id"), col("session_id"), col("n_events"),
          col("session_start"), col("session_end"), col("duration_us"))
        .orderBy("subject_id", "session_id"),
      Some(predsCte +
        """, g AS (SELECT subject_id, timestamp,
          |  CASE WHEN LAG(timestamp) OVER w IS NULL
          |    OR epoch_us(timestamp) - epoch_us(LAG(timestamp) OVER w) > 3600000000
          |    THEN 1 ELSE 0 END AS st
          |  FROM p WINDOW w AS (PARTITION BY subject_id ORDER BY timestamp)),
          |s AS (SELECT subject_id, timestamp,
          |  SUM(st) OVER (PARTITION BY subject_id ORDER BY timestamp
          |    ROWS UNBOUNDED PRECEDING) - 1 AS session_id FROM g)
          |SELECT subject_id, CAST(session_id AS BIGINT) AS session_id,
          |  CAST(COUNT(*) AS BIGINT) AS n_events,
          |  MIN(timestamp) AS session_start, MAX(timestamp) AS session_end,
          |  CAST(epoch_us(MAX(timestamp)) - epoch_us(MIN(timestamp)) AS BIGINT) AS duration_us
          |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("rolling_sum_temporal", (s, dir) =>
      TemporalWindowAgg(preds(s, dir), TemporalBounds(true, 24L * 3600000000L, true, 0L))
        .orderBy("subject_id", "timestamp"),
      Some(predsCte +
        """SELECT subject_id, timestamp,
          |timestamp AS timestamp_at_start,
          |timestamp + INTERVAL 24 HOURS AS timestamp_at_end,
          |CAST(SUM(is_click) OVER w AS BIGINT) AS is_click,
          |CAST(SUM(is_purchase) OVER w AS BIGINT) AS is_purchase,
          |CAST(SUM(is_error) OVER w AS BIGINT) AS is_error
          |FROM p WINDOW w AS (PARTITION BY subject_id ORDER BY timestamp
          |RANGE BETWEEN CURRENT ROW AND INTERVAL 24 HOURS FOLLOWING)
          |ORDER BY 1, 2""".stripMargin), bench = true),

    Q("cumsum_over_subject", (s, dir) => {
      val w = Window.partitionBy("subject_id").orderBy("timestamp")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      preds(s, dir)
        .select(col("subject_id"), col("timestamp"),
          sum("is_click").over(w).as("cum_click"),
          sum("is_purchase").over(w).as("cum_purchase"))
        .orderBy("subject_id", "timestamp")
    }, Some(predsCte +
      """SELECT subject_id, timestamp,
        |CAST(SUM(is_click) OVER w AS BIGINT) AS cum_click,
        |CAST(SUM(is_purchase) OVER w AS BIGINT) AS cum_purchase
        |FROM p WINDOW w AS (PARTITION BY subject_id ORDER BY timestamp
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) ORDER BY 1, 2""".stripMargin)),

    Q("count_distinct", (s, dir) =>
      Tables.events(s, dir).agg(countDistinct("user_id").as("n_users"),
        countDistinct("event_type").as("n_types")),
      Some("""SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
             |CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types FROM events""".stripMargin)),

    Q("sum_horizontal_drop", (s, dir) => {
      val counts = Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      counts.agg(sum((col("n") < 2).cast("long")).as("n_dropped"))
    }, Some("""SELECT CAST(SUM(CASE WHEN n < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped FROM
              |(SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, COUNT(*) AS n
              |FROM events GROUP BY 1, 2) t""".stripMargin)),

    Q("min_over_subject", (s, dir) => {
      val w = Window.partitionBy("user_id")
      Tables.events(s, dir)
        .select(col("user_id"), min("ts").over(w).as("record_start"))
        .distinct().orderBy("user_id")
    }, Some("""SELECT DISTINCT user_id, MIN(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id)
              |AS record_start FROM events ORDER BY 1""".stripMargin)),

    Q("max_over_subject", (s, dir) => {
      val w = Window.partitionBy("user_id")
      Tables.events(s, dir)
        .select(col("user_id"), max("ts").over(w).as("record_end"))
        .distinct().orderBy("user_id")
    }, Some("""SELECT DISTINCT user_id, MAX(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id)
              |AS record_end FROM events ORDER BY 1""".stripMargin)),

    Q("first_over_subject", (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(min_by(col("event_type"), col("ts")).as("first_type"))
        .orderBy("user_id"),
      Some("SELECT user_id, arg_min(event_type, ts) AS first_type FROM events GROUP BY 1 ORDER BY 1")),

    Q("any_over_subject", (s, dir) => {
      val w = Window.partitionBy("user_id")
      Tables.events(s, dir)
        .select(col("user_id"),
          max((col("event_type") === "purchase").cast("long")).over(w).as("has_purchase"))
        .distinct().orderBy("user_id")
    }, Some("""SELECT user_id, CAST(MAX(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT)
              |AS has_purchase FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("ffill_over_subject", (s, dir) => {
      val w = Window.partitionBy("subject_id").orderBy("timestamp")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      preds(s, dir)
        .withColumn("v", when(col("is_purchase") > 0, col("timestamp")))
        .select(col("subject_id"), col("timestamp"),
          last(col("v"), ignoreNulls = true).over(w).as("last_purchase_ts"))
        .orderBy("subject_id", "timestamp")
    }, Some(predsCte +
      """SELECT subject_id, timestamp,
        |LAST_VALUE(CASE WHEN is_purchase > 0 THEN timestamp END IGNORE NULLS) OVER
        |(PARTITION BY subject_id ORDER BY timestamp ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |AS last_purchase_ts FROM p ORDER BY 1, 2""".stripMargin)),

    Q("bfill_over_subject", (s, dir) => {
      // Backward fill via a DESCENDING growing frame (= forward fill in
      // reverse order): Spark evaluates (currentRow, unboundedFollowing)
      // frames by re-scanning the remaining partition per row — O(n²) on a
      // heavy subject — while growing frames are incremental O(n). Same
      // idiom as EventBoundAgg's backward bound lookup.
      val w = Window.partitionBy("subject_id").orderBy(col("timestamp").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      preds(s, dir)
        .withColumn("v", when(col("is_purchase") > 0, col("timestamp")))
        .select(col("subject_id"), col("timestamp"),
          last(col("v"), ignoreNulls = true).over(w).as("next_purchase_ts"))
        .orderBy("subject_id", "timestamp")
    }, Some(predsCte +
      """SELECT subject_id, timestamp,
        |FIRST_VALUE(CASE WHEN is_purchase > 0 THEN timestamp END IGNORE NULLS) OVER
        |(PARTITION BY subject_id ORDER BY timestamp ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |AS next_purchase_ts FROM p ORDER BY 1, 2""".stripMargin)),

    Q("range_frame_sum", (s, dir) =>
      TemporalWindowAgg(preds(s, dir), TemporalBounds(true, -3600000000L, true, 0L))
        .select("subject_id", "timestamp", "is_click", "is_purchase", "is_error")
        .orderBy("subject_id", "timestamp"),
      Some(predsCte +
        """SELECT subject_id, timestamp,
          |CAST(SUM(is_click) OVER w AS BIGINT) AS is_click,
          |CAST(SUM(is_purchase) OVER w AS BIGINT) AS is_purchase,
          |CAST(SUM(is_error) OVER w AS BIGINT) AS is_error
          |FROM p WINDOW w AS (PARTITION BY subject_id ORDER BY timestamp
          |RANGE BETWEEN INTERVAL 1 HOURS PRECEDING AND CURRENT ROW)
          |ORDER BY 1, 2""".stripMargin)),

    Q("event_bound_sum", (s, dir) =>
      EventBoundAgg(preds(s, dir), EventBounds(true, "is_purchase", true, 0L))
        .orderBy("subject_id", "timestamp"),
      Some(predsCte +
        """, b AS (SELECT p.*, MIN(CASE WHEN is_purchase > 0 THEN timestamp END) OVER
          |(PARTITION BY subject_id ORDER BY timestamp ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
          |AS bound_ts FROM p)
          |SELECT subject_id, timestamp,
          |CASE WHEN bound_ts IS NOT NULL THEN timestamp END AS timestamp_at_start,
          |bound_ts AS timestamp_at_end,
          |CAST(COALESCE((SELECT SUM(x.is_click) FROM p x WHERE x.subject_id = b.subject_id
          |  AND x.timestamp >= b.timestamp AND x.timestamp <= b.bound_ts), 0) AS BIGINT) AS is_click,
          |CAST(COALESCE((SELECT SUM(x.is_purchase) FROM p x WHERE x.subject_id = b.subject_id
          |  AND x.timestamp >= b.timestamp AND x.timestamp <= b.bound_ts), 0) AS BIGINT) AS is_purchase,
          |CAST(COALESCE((SELECT SUM(x.is_error) FROM p x WHERE x.subject_id = b.subject_id
          |  AND x.timestamp >= b.timestamp AND x.timestamp <= b.bound_ts), 0) AS BIGINT) AS is_error
          |FROM b ORDER BY 1, 2""".stripMargin), bench = true),

    Q("event_bound_sum_offset", (s, dir) =>
      EventBoundAgg(preds(s, dir), EventBounds(true, "is_purchase", true, 3600000000L))
        .orderBy("subject_id", "timestamp"),
      // Signed-offset path (reference: aggregate.py:969-995, 1094-1126):
      // closed=both, offset=+1h ⇒ bound = first purchase at/after t+1h,
      // counts over [t+1h, bound].
      Some(predsCte +
        """, b AS (SELECT p.*, (SELECT MIN(x.timestamp) FROM p x WHERE x.subject_id = p.subject_id
          |  AND x.is_purchase > 0 AND x.timestamp >= p.timestamp + INTERVAL 1 HOUR) AS bound_ts FROM p)
          |SELECT subject_id, timestamp,
          |CASE WHEN bound_ts IS NOT NULL THEN timestamp + INTERVAL 1 HOUR END AS timestamp_at_start,
          |bound_ts AS timestamp_at_end,
          |CAST(COALESCE((SELECT SUM(x.is_click) FROM p x WHERE x.subject_id = b.subject_id
          |  AND x.timestamp >= b.timestamp + INTERVAL 1 HOUR AND x.timestamp <= b.bound_ts), 0) AS BIGINT) AS is_click,
          |CAST(COALESCE((SELECT SUM(x.is_purchase) FROM p x WHERE x.subject_id = b.subject_id
          |  AND x.timestamp >= b.timestamp + INTERVAL 1 HOUR AND x.timestamp <= b.bound_ts), 0) AS BIGINT) AS is_purchase,
          |CAST(COALESCE((SELECT SUM(x.is_error) FROM p x WHERE x.subject_id = b.subject_id
          |  AND x.timestamp >= b.timestamp + INTERVAL 1 HOUR AND x.timestamp <= b.bound_ts), 0) AS BIGINT) AS is_error
          |FROM b ORDER BY 1, 2""".stripMargin), bench = true)
  )

  // ==========================================================================
  // §2.7 sorts / set ops / dedup + §2.8 structs + §2.9 scalars
  // ==========================================================================

  private val sortsAndStructs = Seq(
    Q("sort_subject_time", (s, dir) =>
      preds(s, dir).orderBy(col("subject_id"), col("timestamp").asc_nulls_first)
        .select("subject_id", "timestamp", "is_click"),
      Some(predsCte + "SELECT subject_id, timestamp, is_click FROM p ORDER BY 1, 2 NULLS FIRST")),

    Q("distinct_anchors", (s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id").as("subject_id"), to_date(col("ts")).as("day"))
        .dropDuplicates("subject_id", "day")
        .orderBy("subject_id", "day"),
      Some("""SELECT DISTINCT user_id AS subject_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
             |FROM events ORDER BY 1, 2""".stripMargin)),

    Q("union_diagonal", (s, dir) => {
      val clicks = Tables.events(s, dir).filter(col("event_type") === "click")
        .select(col("user_id").as("subject_id"), lit(1L).as("is_click"))
      val views = Tables.events(s, dir).filter(col("event_type") === "view")
        .select(col("user_id").as("subject_id"), lit(1L).as("is_view"))
      clicks.unionByName(views, allowMissingColumns = true)
        .groupBy("subject_id")
        .agg(count(lit(1)).as("n_rows"), count("is_click").as("n_click"), count("is_view").as("n_view"))
        .orderBy("subject_id")
    }, Some("""WITH u AS (
              |  SELECT user_id AS subject_id, 1 AS is_click, NULL AS is_view FROM events WHERE event_type='click'
              |  UNION ALL
              |  SELECT user_id AS subject_id, NULL AS is_click, 1 AS is_view FROM events WHERE event_type='view')
              |SELECT subject_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
              |CAST(COUNT(is_click) AS BIGINT) AS n_click, CAST(COUNT(is_view) AS BIGINT) AS n_view
              |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("limit_head", (s, dir) =>
      Tables.table(s, dir, "orders").orderBy("o_orderkey")
        .select("o_orderkey", "o_custkey").limit(5),
      Some("SELECT o_orderkey, o_custkey FROM orders ORDER BY 1 LIMIT 5")),

    Q("struct_pack", (s, dir) =>
      Tables.table(s, dir, "orders")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .select(struct(lit("orders_by_status").as("window_name"),
          col("o_orderstatus"), col("n")).as("summary"))
        .select(col("summary").getField("window_name").as("window_name"),
          col("summary").getField("o_orderstatus").as("o_orderstatus"),
          col("summary").getField("n").as("n"))
        .orderBy("o_orderstatus"),
      Some("""SELECT 'orders_by_status' AS window_name, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
             |FROM orders GROUP BY 2 ORDER BY 2""".stripMargin)),

    Q("struct_field", (s, dir) =>
      Tables.table(s, dir, "customer")
        .select(struct(col("c_custkey").as("id"), col("c_mktsegment").as("seg")).as("st"))
        .select(col("st.id").as("c_custkey"), col("st.seg").as("segment"))
        .orderBy("c_custkey"),
      Some("SELECT c_custkey, c_mktsegment AS segment FROM customer ORDER BY 1")),

    Q("salted_groupby", (s, dir) =>
      Skew.saltedSum(
        Tables.events(s, dir)
          .select(col("event_type"),
            (col("value") >= 50).cast("long").as("n_high"),
            lit(1L).as("n_rows")),
        keyCols = Seq("event_type"),
        sumCols = Seq("n_high", "n_rows"))
        .orderBy("event_type"),
      Some("""SELECT event_type, CAST(SUM(CASE WHEN value >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
             |CAST(COUNT(*) AS BIGINT) AS n_rows FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("ts_arith", (s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(min("ts").as("first_ts"))
        .select(col("user_id"),
          timestamp_micros(unix_micros(col("first_ts")) + lit(36L * 3600000000L)).as("first_plus_36h"))
        .orderBy("user_id"),
      Some("""SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) + INTERVAL 36 HOURS AS first_plus_36h
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))
  )

  // ==========================================================================
  // Scale extensions: dedup / similarity / text / multimodal
  // ==========================================================================

  private val extensions = Seq(
    Q("dedup_exact", (s, dir) =>
      Dedup.exact(docs(s, dir)).orderBy("keep_id"),
      Some("""SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_docs
             |FROM documents GROUP BY text ORDER BY 1""".stripMargin), bench = true),

    // C4 repeated-line discard: documents get a deterministic 4-line
    // decoration (doc-specific substrings + one corpus-wide boilerplate
    // header + a footer shared by every third doc — reproduced verbatim
    // in the oracle's `lined` CTE, the multimodal/url fixture pattern);
    // the operator must keep exactly the first corpus occurrence of
    // every ≥10-char line and reassemble docs in line order.
    Q("dedup_lines", (s, dir) =>
      Dedup.dedupLines(linedDocs(s, dir), minLineChars = 10).orderBy("doc_id"),
      Some(dedupLinesOracle("TRUE")), bench = true),

    // Soft dedup: every duplicate kept, weighted 1/group-size — one row
    // per input doc, total mass 1 per distinct text.
    Q("dedup_soft", (s, dir) =>
      Dedup.softDedupWeights(docs(s, dir)).orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(n_copies AS BIGINT) AS n_copies,
             |  ROUND(CAST(1.0 AS DOUBLE) / n_copies, 6) AS weight
             |FROM (SELECT doc_id, COUNT(*) OVER (PARTITION BY text) AS n_copies
             |      FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // Incremental ingest: docs >= 250 arrive as a shard and are
    // line-deduped against the persisted lineIndex of the first 250 —
    // the corpus is never re-exploded. Shard ids follow corpus ids, so
    // the result is exactly the full rebuild restricted to shard docs:
    // the oracle IS the dedup_lines oracle with a doc_id filter.
    Q("dedup_lines_incr", (s, dir) => {
      val lined = linedDocs(s, dir)
      Dedup.dedupLinesIncremental(
        lined.filter(col("doc_id") >= 250),
        Dedup.lineIndex(lined.filter(col("doc_id") < 250), minLineChars = 10),
        minLineChars = 10)
        .orderBy("doc_id")
    }, Some(dedupLinesOracle("d.doc_id >= 250"))),

    Q("dedup_minhash", (s, dir) =>
      Dedup.minhashLsh(docs(s, dir), threshold = 0.5, numHashes = 64, bands = 16, shingleN = 3)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b"),
      None, bench = true),

    Q("dedup_minhash_incr", (s, dir) =>
      // Incremental ingest loop: docs >= 400 arrive as a new shard and are
      // deduped against the minhash index of the first 400 — no corpus
      // re-shingling (hash-seeded → golden-fixture oracle; full-run parity
      // asserted in ExtensionsSpec).
      Dedup.minhashLshIncremental(
        docs(s, dir).filter(col("doc_id") >= 400),
        Dedup.minhashIndex(docs(s, dir).filter(col("doc_id") < 400)),
        threshold = 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b"),
      None),

    Q("dedup_simhash", (s, dir) =>
      Dedup.simhash(docs(s, dir), maxHamming = 10)
        .orderBy("doc_a", "doc_b"),
      None),

    Q("dedup_simhash_incr", (s, dir) =>
      // Incremental ingest loop for simhash: docs >= 400 arrive as a new
      // shard and are signed + exact-clustered against the persisted
      // (ehash, elen, sig) index of the first 400 — the corpus is never
      // re-tokenized (hash-seeded → golden-fixture oracle; full-run
      // parity asserted in ExtensionsSpec).
      Dedup.simhashIncremental(
        docs(s, dir).filter(col("doc_id") >= 400),
        Dedup.simhashIndex(docs(s, dir).filter(col("doc_id") < 400)),
        maxHamming = 10)
        .orderBy("doc_a", "doc_b"),
      None),

    Q("dedup_embedding", (s, dir) =>
      // Exact all-pairs variant as the oracle path (mirrors
      // dedup_ngram_jaccard); Dedup.embeddingNearDup is the LSH-bucketed
      // scale path, recall-tested in ExtensionsSpec. The synthetic
      // embeddings are near-orthogonal (max pairwise cosine ≈ 0.51), so
      // the threshold sits where the data has pairs.
      Dedup.embeddingNearDupExact(emb(s, dir), threshold = 0.4)
        .select(col("doc_a"), col("doc_b"), round(col("cos"), 3).as("cos"))
        .orderBy("doc_a", "doc_b"),
      Some("""WITH p AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
             |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS c
             |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
             |SELECT doc_a, doc_b, ROUND(c, 3) AS cos FROM p WHERE c >= 0.4 ORDER BY 1, 2""".stripMargin)),

    Q("dedup_embedding_lsh", (s, dir) =>
      // The LSH-bucketed scale path. Composed oracle: exact cosine +
      // threshold + rounding replay in SQL over ALL pairs; the pin
      // records only the true pairs the banding MISSED (usually the
      // bare sentinel — recall-vs-exact asserted in ExtensionsSpec).
      Dedup.embeddingNearDup(emb(s, dir), threshold = 0.4, bands = 32, bitsPerBand = 2)
        .select(col("doc_a"), col("doc_b"), round(col("cos"), 3).as("cos"))
        .orderBy("doc_a", "doc_b"),
      Some(
        s"""WITH miss AS (SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b
           |  FROM (VALUES ${PinnedOracles.embLshMiss}) v(a, b)),
           |p AS (SELECT qa.vec_id AS doc_a, qb.vec_id AS doc_b,
           |    list_cosine_similarity(CAST(qa.embedding AS DOUBLE[]),
           |      CAST(qb.embedding AS DOUBLE[])) AS c
           |  FROM embeddings qa JOIN embeddings qb ON qa.vec_id < qb.vec_id)
           |SELECT doc_a, doc_b, ROUND(c, 3) AS cos FROM p
           |WHERE c >= 0.4 AND NOT EXISTS (
           |  SELECT 1 FROM miss WHERE miss.a = p.doc_a AND miss.b = p.doc_b)
           |ORDER BY 1, 2""".stripMargin)),

    Q("dedup_embedding_incr", (s, dir) =>
      // Incremental shard-vs-corpus embedding near-dup — the ingest-loop
      // shape; parity with the full union run asserted in ExtensionsSpec.
      // Composed oracle: exact cosine over shard-touching pairs in SQL,
      // banding recall misses pinned (sentinel when none).
      Dedup.embeddingNearDupIncremental(
        emb(s, dir).filter(col("vec_id") >= 400),
        emb(s, dir).filter(col("vec_id") < 400),
        threshold = 0.4, bands = 32, bitsPerBand = 2)
        .select(col("doc_a"), col("doc_b"), round(col("cos"), 3).as("cos"))
        .orderBy("doc_a", "doc_b"),
      Some(
        s"""WITH miss AS (SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b
           |  FROM (VALUES ${PinnedOracles.embIncrMiss}) v(a, b)),
           |p AS (SELECT qa.vec_id AS doc_a, qb.vec_id AS doc_b,
           |    list_cosine_similarity(CAST(qa.embedding AS DOUBLE[]),
           |      CAST(qb.embedding AS DOUBLE[])) AS c
           |  FROM embeddings qa JOIN embeddings qb ON qa.vec_id < qb.vec_id
           |  WHERE qa.vec_id >= 400 OR qb.vec_id >= 400)
           |SELECT doc_a, doc_b, ROUND(c, 3) AS cos FROM p
           |WHERE c >= 0.4 AND NOT EXISTS (
           |  SELECT 1 FROM miss WHERE miss.a = p.doc_a AND miss.b = p.doc_b)
           |ORDER BY 1, 2""".stripMargin)),

    Q("dedup_semantic", (s, dir) =>
      // SemDeDup (Abbas et al. 2023): IVF clusters bound the quadratic
      // cosine comparison; within a duplicate relation the member
      // closest to its centroid drops (keep-the-least-typical).
      // Hash-seeded centroids → golden fixture; precision/pair-recall
      // vs the exact all-pairs oracle asserted in ExtensionsSpec and
      // committed in RECALL.json.
      Dedup.semDeDup(emb(s, dir), threshold = 0.4, nlist = 16, nprobe = 2)
        .select(col("vec_id"), col("cid"), round(col("csim"), 3).as("csim"), col("keep"))
        .orderBy("vec_id"),
      None),

    Q("dedup_semantic_incr", (s, dir) => {
      // Shard ingest with PERSISTED cluster state: centroids fit once on
      // the standing corpus (vec_id < 400), the arriving shard (>= 400)
      // gets keep/drop decisions without a refit — the 100 TB ingest
      // shape for the semantic family. Hash-seeded centroids → golden
      // fixture; exact parity with the full-corpus run (same centroids)
      // restricted to shard ids asserted in ExtensionsSpec.
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") < 400)
      // Materialize the fit ONCE: semDeDupIncremental references the
      // centroid frame from three subtrees, and an un-cut Lloyd plan
      // would re-execute per occurrence (the "fit once" this entry is
      // demonstrating).
      Dedup.semDeDupIncremental(
        e.filter(col("vec_id") >= 400), corpus,
        graft.plans.Materialize(Similarity.ivfCentroids(corpus, nlist = 16)),
        threshold = 0.4, nprobe = 2)
        .select(col("vec_id"), col("cid"), round(col("csim"), 3).as("csim"), col("keep"))
        .orderBy("vec_id")
    }, None),

    Q("dedup_clusters", (s, dir) =>
      // Connected components over the exact n-gram-Jaccard pair graph —
      // pairs → duplicate clusters → keep min-id representative. The
      // DuckDB oracle computes the same components with a recursive CTE.
      Dedup.duplicateClusters(Dedup.ngramJaccard(docs(s, dir), threshold = 0.8, shingleN = 1))
        .orderBy("doc_id"),
      Some("""WITH RECURSIVE sh AS (
              |  SELECT doc_id, s FROM (
              |    SELECT doc_id, UNNEST(list_distinct(string_split(lower(text), ' '))) AS s FROM documents)),
              |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
              |pairs AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
              |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |good AS (SELECT doc_a, doc_b FROM pairs
              |  JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
              |  WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.8),
              |edges AS (SELECT doc_a AS src, doc_b AS dst FROM good
              |  UNION SELECT doc_b, doc_a FROM good),
              |reach(id, r) AS (
              |  SELECT src, src FROM edges
              |  UNION
              |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
              |SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_rep
              |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("dedup_keep_best", (s, dir) =>
      // Quality-aware representative selection: same component pass as
      // dedup_clusters, but each cluster keeps its LONGEST member
      // (score = n_chars, ties → min doc_id) — the keep-the-best-copy
      // policy instead of keep-the-first-crawled.
      Dedup.keepBest(
        Dedup.ngramJaccard(docs(s, dir), threshold = 0.8, shingleN = 1),
        docs(s, dir).select(col("doc_id"), col("n_chars").as("score")))
        .orderBy("doc_id"),
      Some("""WITH RECURSIVE sh AS (
              |  SELECT doc_id, s FROM (
              |    SELECT doc_id, UNNEST(list_distinct(string_split(lower(text), ' '))) AS s FROM documents)),
              |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
              |pairs AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
              |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |good AS (SELECT doc_a, doc_b FROM pairs
              |  JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
              |  WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.8),
              |edges AS (SELECT doc_a AS src, doc_b AS dst FROM good
              |  UNION SELECT doc_b, doc_a FROM good),
              |reach(id, r) AS (
              |  SELECT src, src FROM edges
              |  UNION
              |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
              |comp AS (SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_rep
              |  FROM reach GROUP BY 1)
              |SELECT c.doc_id, c.cluster_rep, d.n_chars AS score,
              |  (ROW_NUMBER() OVER (PARTITION BY c.cluster_rep
              |     ORDER BY d.n_chars DESC, c.doc_id ASC) = 1) AS keep
              |FROM comp c JOIN documents d USING (doc_id)
              |ORDER BY c.doc_id""".stripMargin)),

    Q("url_normalize", (s, dir) =>
      // URL parse/normalize projection over the closed-form url fixture
      // (docsWithUrl): canonical key + host + approximate eTLD+1.
      UrlCuration.parseUrls(docsWithUrl(s, dir)).orderBy("doc_id"),
      Some(urlCte +
        "SELECT doc_id, url, url_norm, host, domain FROM urls ORDER BY doc_id")),

    Q("dedup_url", (s, dir) =>
      // URL-level dedup: one group per canonical url, min-id keeper —
      // the byte-cost pre-pass that runs before any text dedup.
      UrlCuration.dedupByUrl(docsWithUrl(s, dir)).orderBy("url_norm"),
      Some(urlCte +
        """SELECT url_norm, CAST(MIN(doc_id) AS BIGINT) AS keeper,
          |  CAST(COUNT(*) AS BIGINT) AS n_docs
          |FROM urls GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("dedup_url_incr", (s, dir) => {
      // Incremental URL dedup: shard (doc_id >= 250) vs a persisted
      // index over the corpus (doc_id < 250) — parquet round-trip makes
      // the persistence real. The oracle computes the full-corpus dedup
      // restricted to shard-touched urls, which the incremental path
      // must equal exactly.
      val all = docsWithUrl(s, dir)
      val idxDir = s"/tmp/graft_urlidx_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      UrlCuration.urlIndex(all.filter(col("doc_id") < 250))
        .write.mode("overwrite").parquet(idxDir)
      UrlCuration.dedupByUrlIncremental(
          all.filter(col("doc_id") >= 250), s.read.parquet(idxDir))
        .orderBy("url_norm")
    },
      Some(urlCte +
        """SELECT u.url_norm, CAST(MIN(u.doc_id) AS BIGINT) AS keeper,
          |  CAST(COUNT(*) AS BIGINT) AS n_docs
          |FROM urls u
          |WHERE u.url_norm IN (SELECT url_norm FROM urls WHERE doc_id >= 250)
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("url_features", (s, dir) =>
      // URL quality signals (length/depth/params/tracking/host digits) —
      // integer-only outputs keep the oracle compare rounding-free.
      UrlCuration.urlFeatures(docsWithUrl(s, dir)).orderBy("doc_id"),
      Some(urlCte +
        """SELECT doc_id, CAST(length(url) AS BIGINT) AS url_len,
          |  CAST(len(list_filter(string_split(path, '/'), x -> x <> '')) AS BIGINT) AS path_depth,
          |  CAST(CASE WHEN qn = '' THEN 0 ELSE len(string_split(qn, '&')) END AS BIGINT) AS n_params,
          |  regexp_matches(qs, '(^|&)(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|ref|ref_src)=') AS has_tracking,
          |  CASE WHEN host0 = '' THEN NULL
          |       ELSE CAST(len(regexp_extract_all(host0, '[0-9]')) AS BIGINT) END AS host_digits
          |FROM parsed ORDER BY doc_id""".stripMargin)),

    Q("url_domain_filter", (s, dir) =>
      // Blocklist filter on the registered domain + the post-filter
      // per-domain count view (curation monitoring).
      UrlCuration.domainCounts(docsWithUrl(s, dir),
          blocked = Seq("src2.com", "src3.de", "src4.co.uk"))
        .orderBy("domain"),
      Some(urlCte +
        """SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs
          |FROM urls WHERE domain IS NOT NULL
          |  AND domain NOT IN ('src2.com', 'src3.de', 'src4.co.uk')
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Unicode NFC normalization: crawls mix composed and decomposed
    // forms of the same visible text, silently defeating exact dedup and
    // string matching. Both engines implement UAX #15 → exact oracle.
    Q("text_normalize", (s, dir) => {
      val mixed = docs(s, dir).withColumn("text",
        when(col("doc_id") % 2 === 0, concat(col("text"), lit(" caf\u00e9")))
          .otherwise(concat(col("text"), lit(" cafe\u0301"))))
      mixed.select(col("doc_id"),
          length(col("text")).as("len_raw"),
          length(Texts.normalizeNfc(col("text"))).as("len_norm"),
          (Texts.normalizeNfc(col("text")) =!= col("text")).as("changed"))
        .orderBy("doc_id")
    }, Some("""WITH m AS (SELECT doc_id,
             |    text || (CASE WHEN doc_id % 2 = 0 THEN ' caf' || chr(233)
             |             ELSE ' cafe' || chr(769) END) AS t FROM documents)
             |SELECT doc_id, CAST(length(t) AS INT) AS len_raw,
             |  CAST(length(nfc_normalize(t)) AS INT) AS len_norm,
             |  nfc_normalize(t) <> t AS changed
             |FROM m ORDER BY 1""".stripMargin)),

    // NFC-exact dedup — the C4-style trick: normalize BEFORE the content
    // key, so codepoint-variant refetches of the same page collapse.
    // Fixture: every even doc appears twice, once composed and once
    // decomposed — raw-exact dedup misses all of those pairs.
    Q("dedup_exact_normalized", (s, dir) => {
      val d0 = docs(s, dir)
      val all = d0.select(col("doc_id"), concat(col("text"), lit(" caf\u00e9")).as("text"))
        .unionByName(d0.filter(col("doc_id") % 2 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat(col("text"), lit(" cafe\u0301")).as("text")))
      all.groupBy(md5(Texts.normalizeNfc(col("text")).cast("binary")).as("key"))
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_docs"))
        .orderBy("key")
    }, Some("""WITH d AS (SELECT doc_id, text || ' caf' || chr(233) AS text FROM documents
             |  UNION ALL SELECT doc_id + 100000, text || ' cafe' || chr(769)
             |  FROM documents WHERE doc_id % 2 = 0)
             |SELECT md5(nfc_normalize(text)) AS key,
             |  CAST(MIN(doc_id) AS BIGINT) AS keeper,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs
             |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("dedup_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccard(docs(s, dir), threshold = 0.8, shingleN = 1)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b"),
      Some("""WITH sh AS (
              |  SELECT doc_id, s FROM (
              |    SELECT doc_id, UNNEST(list_distinct(string_split(lower(text), ' '))) AS s FROM documents)),
              |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
              |pairs AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
              |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT doc_a, doc_b, ROUND(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 4) AS jaccard
              |FROM pairs JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
              |WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.8
              |ORDER BY 1, 2""".stripMargin)),

    Q("dedup_ngram_jaccard_incr", (s, dir) =>
      // Incremental exact jaccard: shard (doc_id >= 400) vs the
      // persisted inverted shingle index of the corpus (doc_id < 400) —
      // corpus never re-shingled. The oracle is the full-union jaccard
      // restricted to pairs touching a shard id, which the incremental
      // path must equal exactly.
      Dedup.ngramJaccardIncremental(
        docs(s, dir).filter(col("doc_id") >= 400),
        Dedup.ngramIndex(docs(s, dir).filter(col("doc_id") < 400)),
        threshold = 0.8, shingleN = 1)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b"),
      Some("""WITH sh AS (
              |  SELECT doc_id, s FROM (
              |    SELECT doc_id, UNNEST(list_distinct(string_split(lower(text), ' '))) AS s FROM documents)),
              |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
              |pairs AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
              |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT doc_a, doc_b, ROUND(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 4) AS jaccard
              |FROM pairs JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
              |WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.8
              |  AND (doc_a >= 400 OR doc_b >= 400)
              |ORDER BY 1, 2""".stripMargin)),

    // Asymmetric containment |A∩B|/min(|A|,|B|) (Broder 1997): catches
    // a short doc embedded in a longer one, which symmetric Jaccard's
    // union denominator dilutes to invisibility (the structural miss is
    // pinned in ExtensionsSpec). Same inverted-shingle-index plan.
    Q("dedup_ngram_containment", (s, dir) =>
      Dedup.ngramContainment(docs(s, dir), threshold = 0.9, shingleN = 1)
        .select(col("doc_a"), col("doc_b"), round(col("containment"), 4).as("containment"))
        .orderBy("doc_a", "doc_b"),
      Some("""WITH sh AS (
              |  SELECT doc_id, s FROM (
              |    SELECT doc_id, UNNEST(list_distinct(string_split(lower(text), ' '))) AS s FROM documents)),
              |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
              |pairs AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
              |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT doc_a, doc_b, ROUND(CAST(inter AS DOUBLE) / LEAST(na.n, nb.n), 4) AS containment
              |FROM pairs JOIN sizes na ON doc_a = na.doc_id JOIN sizes nb ON doc_b = nb.doc_id
              |WHERE CAST(inter AS DOUBLE) / LEAST(na.n, nb.n) >= 0.9
              |ORDER BY 1, 2""".stripMargin)),

    // Exact duplicate-SPAN detection (Lee et al. 2022, arXiv:2107.06499):
    // every 5-token window occurring >= 2 times anywhere in the corpus,
    // merged per doc into maximal spans (gaps-and-islands). String window
    // keys here for the exact oracle; `hashWindows = true` is the 16-byte
    // corpus-scale key (parity asserted in ExtensionsSpec).
    Q("dedup_substring", (s, dir) =>
      Dedup.duplicateSpanSummary(docs(s, dir), k = 5)
        .orderBy("doc_id"),
      Some("""WITH tok AS (
              |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
              |t2 AS (SELECT doc_id, toks, len(toks) AS nt FROM tok),
              |win AS (
              |  SELECT doc_id, UNNEST(range(0, nt - 5 + 1)) AS pos, toks FROM t2 WHERE nt >= 5),
              |w2 AS (
              |  SELECT doc_id, pos, array_to_string(toks[pos + 1 : pos + 5], ' ') AS w FROM win),
              |cnt AS (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY w) AS c FROM w2),
              |hits AS (SELECT doc_id, pos FROM cnt WHERE c >= 2),
              |brk AS (
              |  SELECT doc_id, pos,
              |         CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
              |              OR pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) >= 5
              |              THEN 1 ELSE 0 END AS b
              |  FROM hits),
              |isl AS (SELECT doc_id, pos, SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM brk),
              |span AS (SELECT doc_id, g, MIN(pos) AS st, MAX(pos) AS e, COUNT(*) AS nw
              |         FROM isl GROUP BY 1, 2),
              |per_doc AS (
              |  SELECT doc_id, CAST(SUM(nw) AS BIGINT) AS dup_windows,
              |         CAST(COUNT(*) AS BIGINT) AS dup_spans,
              |         CAST(SUM(e - st + 5) AS BIGINT) AS covered_tokens
              |  FROM span GROUP BY 1)
              |SELECT t2.doc_id, COALESCE(dup_windows, 0) AS dup_windows,
              |       COALESCE(dup_spans, 0) AS dup_spans,
              |       COALESCE(covered_tokens, 0) AS covered_tokens,
              |       CAST(nt AS BIGINT) AS total_tokens
              |FROM t2 LEFT JOIN per_doc ON t2.doc_id = per_doc.doc_id
              |ORDER BY 1""".stripMargin), bench = true),

    // Incremental duplicate-span detection: shard (doc_id >= 450) against
    // the persisted window index of the corpus (< 450) — no corpus
    // re-windowing. Output must equal the full-corpus span run restricted
    // to shard ids, which is exactly what the oracle computes.
    Q("dedup_substring_incr", (s, dir) => {
      val d = docs(s, dir)
      val idx = Dedup.substringIndex(d.filter(col("doc_id") < 450), k = 5)
      Dedup.duplicateSpansIncremental(d.filter(col("doc_id") >= 450), idx, k = 5)
        .orderBy("doc_id", "span_start")
    }, Some("""WITH tok AS (
              |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
              |t2 AS (SELECT doc_id, toks, len(toks) AS nt FROM tok),
              |win AS (
              |  SELECT doc_id, UNNEST(range(0, nt - 5 + 1)) AS pos, toks FROM t2 WHERE nt >= 5),
              |w2 AS (
              |  SELECT doc_id, pos, array_to_string(toks[pos + 1 : pos + 5], ' ') AS w FROM win),
              |cnt AS (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY w) AS c FROM w2),
              |hits AS (SELECT doc_id, pos FROM cnt WHERE c >= 2),
              |brk AS (
              |  SELECT doc_id, pos,
              |         CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
              |              OR pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) >= 5
              |              THEN 1 ELSE 0 END AS b
              |  FROM hits),
              |isl AS (SELECT doc_id, pos, SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM brk),
              |span AS (SELECT doc_id, g, MIN(pos) AS st, MAX(pos) AS e, COUNT(*) AS nw
              |         FROM isl GROUP BY 1, 2)
              |SELECT doc_id, CAST(st AS BIGINT) AS span_start,
              |       CAST(e - st + 5 AS BIGINT) AS span_len, CAST(nw AS BIGINT) AS n_windows
              |FROM span WHERE doc_id >= 450 ORDER BY 1, 2""".stripMargin)),

    // The span-removal TRANSFORM: duplicated spans excised (drop-every-
    // duplicated-token policy), original case/order preserved, docs with
    // no spans round-trip unchanged, fully-duplicated docs come back "".
    Q("dedup_substring_remove", (s, dir) =>
      Dedup.removeDuplicateSpans(docs(s, dir), k = 5)
        .orderBy("doc_id"),
      Some("""WITH tok AS (
              |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
              |t2 AS (SELECT doc_id, toks, len(toks) AS nt FROM tok),
              |win AS (
              |  SELECT doc_id, UNNEST(range(0, nt - 5 + 1)) AS pos, toks FROM t2 WHERE nt >= 5),
              |w2 AS (
              |  SELECT doc_id, pos, array_to_string(toks[pos + 1 : pos + 5], ' ') AS w FROM win),
              |cnt AS (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY w) AS c FROM w2),
              |hits AS (SELECT doc_id, pos FROM cnt WHERE c >= 2),
              |brk AS (
              |  SELECT doc_id, pos,
              |         CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
              |              OR pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) >= 5
              |              THEN 1 ELSE 0 END AS b
              |  FROM hits),
              |isl AS (SELECT doc_id, pos, SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM brk),
              |span AS (SELECT doc_id, g, MIN(pos) AS st, MAX(pos) AS e FROM isl GROUP BY 1, 2),
              |drops AS (SELECT doc_id, UNNEST(range(st, e + 5)) AS pos FROM span),
              |tokpos AS (
              |  SELECT doc_id, UNNEST(range(0, len(toks0))) AS pos, toks0
              |  FROM (SELECT doc_id, string_split(text, ' ') AS toks0 FROM documents)),
              |toks AS (SELECT doc_id, pos, toks0[pos + 1] AS tk FROM tokpos),
              |keep AS (
              |  SELECT t.doc_id, t.pos, t.tk FROM toks t
              |  LEFT JOIN drops d ON t.doc_id = d.doc_id AND t.pos = d.pos
              |  WHERE d.pos IS NULL),
              |agg AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY pos) AS text
              |        FROM keep GROUP BY 1)
              |SELECT t2.doc_id, COALESCE(agg.text, '') AS text
              |FROM t2 LEFT JOIN agg ON t2.doc_id = agg.doc_id ORDER BY 1""".stripMargin)),

    // LM serving shape: fit the unigram LM on a reference corpus
    // (doc_id < 250), score the candidate shard (>= 250) against it —
    // the actual CCNet filter topology (clean reference LM, candidate
    // scoring), with the LM persistable as a self-contained frame.
    Q("text_perplexity_lm", (s, dir) => {
      val d = docs(s, dir)
      Vocabulary.perplexity(
        d.filter(col("doc_id") >= 250),
        Vocabulary.unigramLm(d.filter(col("doc_id") < 250), vocabSize = 20),
        "text", "doc_id")
    }, Some("""WITH tokc AS (
              |  SELECT UNNEST(string_split(lower(text), ' ')) AS tok
              |  FROM documents WHERE doc_id < 250),
              |cnt AS (SELECT tok, COUNT(*) AS c FROM tokc GROUP BY 1),
              |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM cnt),
              |voc AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 20),
              |vs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM voc),
              |lm AS (SELECT tok, LN((c + 1) / (t + v + 1)) AS logp
              |       FROM voc CROSS JOIN tot CROSS JOIN vs),
              |toks AS (
              |  SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok
              |  FROM documents WHERE doc_id >= 250),
              |sc AS (SELECT doc_id, COALESCE(logp, LN(1 / (t + v + 1))) AS lp
              |       FROM toks LEFT JOIN lm USING (tok) CROSS JOIN tot CROSS JOIN vs),
              |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, -AVG(lp) AS nll
              |        FROM sc GROUP BY 1)
              |SELECT doc_id, n_tokens, ROUND(nll, 4) AS avg_nll, ROUND(EXP(nll), 4) AS ppl
              |FROM agg ORDER BY doc_id""".stripMargin)),

    // Bigram LM with stupid backoff (Brants et al. 2007): top-200
    // bigrams (of the fixture's 916 — pruning exercises the backoff),
    // 20-token vocab (OOV floor exercised), first token scores unigram.
    Q("text_perplexity_bigram", (s, dir) =>
      Vocabulary.perplexityBigram(docs(s, dir), vocabSize = 20, bigramSize = 200),
      Some("""WITH t0 AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
             |tp AS (SELECT doc_id, UNNEST(range(0, len(toks))) AS pos, toks FROM t0),
             |t AS (SELECT doc_id, pos, toks[pos + 1] AS tok,
             |        CASE WHEN pos = 0 THEN NULL ELSE toks[pos] END AS prev FROM tp),
             |c1 AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY 1),
             |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS tt FROM c1),
             |voc AS (SELECT tok, c FROM c1 ORDER BY c DESC, tok LIMIT 20),
             |vs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM voc),
             |uni AS (SELECT tok, LN((c + 1) / (tt + v + 1)) AS lu
             |        FROM voc CROSS JOIN tot CROSS JOIN vs),
             |big0 AS (SELECT prev, tok, COUNT(*) AS c2 FROM t WHERE prev IS NOT NULL GROUP BY 1, 2),
             |bigt AS (SELECT prev, tok, c2 FROM big0 ORDER BY c2 DESC, prev, tok LIMIT 200),
             |big AS (SELECT b.prev, b.tok, LN(CAST(b.c2 AS DOUBLE) / c1.c) AS lb
             |        FROM bigt b JOIN c1 ON b.prev = c1.tok),
             |sc AS (SELECT t.doc_id,
             |         CASE WHEN t.prev IS NULL THEN COALESCE(u.lu, LN(1 / (tt + v + 1)))
             |              WHEN b.lb IS NOT NULL THEN b.lb
             |              ELSE LN(0.4) + COALESCE(u.lu, LN(1 / (tt + v + 1))) END AS lp
             |       FROM t LEFT JOIN big b ON t.prev = b.prev AND t.tok = b.tok
             |              LEFT JOIN uni u ON t.tok = u.tok
             |              CROSS JOIN tot CROSS JOIN vs),
             |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, -AVG(lp) AS nll
             |        FROM sc GROUP BY 1)
             |SELECT doc_id, n_tokens, ROUND(nll, 4) AS avg_nll, ROUND(EXP(nll), 4) AS ppl
             |FROM agg ORDER BY doc_id""".stripMargin)),

    // Winnowing fingerprint near-dup candidates (Schleimer et al. 2003):
    // shared selected-min k-gram hashes, ubiquitous fingerprints dropped
    // before the pair join. xxhash64-seeded → golden-fixture oracle;
    // selection-rule parity and the w+k-1 guarantee are ScalaTested.
    Q("dedup_winnow", (s, dir) =>
      Dedup.winnow(docs(s, dir), minShared = 2)
        .orderBy("doc_a", "doc_b"),
      None),

    Q("dedup_winnow_incr", (s, dir) =>
      // Incremental ingest loop for winnowing: docs >= 400 arrive as a
      // new shard and are fingerprinted against the persisted (doc_id,
      // fp) index of the first 400 — the corpus is never
      // re-fingerprinted (hash-seeded -> golden-fixture oracle;
      // full-run parity asserted in ExtensionsSpec).
      Dedup.winnowIncremental(
        docs(s, dir).filter(col("doc_id") >= 400),
        Dedup.winnowIndex(docs(s, dir).filter(col("doc_id") < 400)),
        minShared = 2)
        .orderBy("doc_a", "doc_b"),
      None),

    Q("dedup_phash", (s, dir) => {
      // Image perceptual-hash dedup: dHash over decoded bitmaps,
      // Hamming-banded candidates (4×16-bit chunks), exact bit_count
      // verify. The synthetic BMP corpus (MediaFixtures.syntheticBitmaps
      // — an independent writer code path) realizes a CLOSED-FORM dHash
      // per id: families of 5 (fam = id/5) share a base pattern, variant
      // v = id%5 flips bit v-1 — so within-family Hamming distances are
      // 1 (against the v=0 base) or 2 (between flipped variants), and at
      // maxHamming = 2 the expected pair set is exactly the
      // within-family pairs, in plain SQL. Cross-family base hashes are
      // ≥ 13 bits apart over every id range in use (asserted in
      // ExtensionsSpec), so no extra pairs can appear.
      val ids = docs(s, dir).select(col("doc_id"))
      PerceptualHash.dedup(MediaFixtures.syntheticBitmaps(ids), maxHamming = 2)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
        .orderBy("doc_a", "doc_b")
    }, Some("""WITH m AS (SELECT doc_id, doc_id // 5 AS fam, doc_id % 5 AS v FROM documents)
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |  CAST(CASE WHEN a.v = 0 OR b.v = 0 THEN 1 ELSE 2 END AS INT) AS hamming
              |FROM m a JOIN m b ON a.fam = b.fam AND a.doc_id < b.doc_id
              |ORDER BY 1, 2""".stripMargin), bench = true),

    Q("dedup_phash_incr", (s, dir) => {
      // Incremental image near-dup: shard (doc_id >= 250) decoded
      // against the PERSISTED signature index of the corpus
      // (doc_id < 250) — parquet round-trip makes the persistence real,
      // and the mid-family split (families of 5 → family 50 spans
      // 248-252) guarantees corpus↔shard pairs. Same closed-form
      // fixture oracle as dedup_phash restricted to pairs touching a
      // shard id.
      val ids = docs(s, dir).select(col("doc_id"))
      val all = MediaFixtures.syntheticBitmaps(ids)
      val idxDir = s"/tmp/graft_phashidx_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      PerceptualHash.signatures(all.filter(col("media_id") < 250))
        .write.mode("overwrite").parquet(idxDir)
      PerceptualHash.dedupIncremental(
          all.filter(col("media_id") >= 250), s.read.parquet(idxDir),
          maxHamming = 2)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
        .orderBy("doc_a", "doc_b")
    }, Some("""WITH m AS (SELECT doc_id, doc_id // 5 AS fam, doc_id % 5 AS v FROM documents)
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |  CAST(CASE WHEN a.v = 0 OR b.v = 0 THEN 1 ELSE 2 END AS INT) AS hamming
              |FROM m a JOIN m b ON a.fam = b.fam AND a.doc_id < b.doc_id
              |WHERE a.doc_id >= 250 OR b.doc_id >= 250
              |ORDER BY 1, 2""".stripMargin)),

    // Audio perceptual-fingerprint dedup: Haitsma–Kalker spectral
    // fingerprints over decoded PCM-WAV, Hamming-banded candidates,
    // exact bit_count verify — the audio half of the multimodal family.
    // The synthetic WAV corpus (MediaFixtures.syntheticWavs — an
    // independent synthesis code path: tones on exact DFT bins whose
    // band-energy staircase realizes a CLOSED-FORM fingerprint) uses
    // the same family scheme as dedup_phash (families of 5, variant v
    // flips bit v−1; cross-family base fingerprints ≥ 13 bits apart,
    // asserted in ExtensionsSpec), so the expected pair set is exactly
    // the within-family pairs, in plain SQL.
    Q("dedup_afp", (s, dir) => {
      // The parquet ids arrive in ~1 scan partition; the synthesis+FFT
      // decode is the cost, so spread the THIN id rows first (payloads
      // are generated, never shuffled).
      val ids = docs(s, dir).select(col("doc_id")).repartition(32, col("doc_id"))
      AudioFingerprint.dedup(MediaFixtures.syntheticWavs(ids), maxHamming = 2)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
        .orderBy("doc_a", "doc_b")
    }, Some("""WITH m AS (SELECT doc_id, doc_id // 5 AS fam, doc_id % 5 AS v FROM documents)
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |  CAST(CASE WHEN a.v = 0 OR b.v = 0 THEN 1 ELSE 2 END AS INT) AS hamming
              |FROM m a JOIN m b ON a.fam = b.fam AND a.doc_id < b.doc_id
              |ORDER BY 1, 2""".stripMargin), bench = true),

    Q("dedup_afp_incr", (s, dir) => {
      // Incremental audio near-dup: shard (doc_id >= 250) decoded
      // against the PERSISTED fingerprint index of the corpus
      // (doc_id < 250) — the dedup_phash_incr shape, audio edition,
      // with the same mid-family split guaranteeing corpus↔shard pairs.
      val ids = docs(s, dir).select(col("doc_id")).repartition(32, col("doc_id"))
      val all = MediaFixtures.syntheticWavs(ids)
      val idxDir = s"/tmp/graft_afpidx_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      AudioFingerprint.signatures(all.filter(col("media_id") < 250))
        .write.mode("overwrite").parquet(idxDir)
      AudioFingerprint.dedupIncremental(
          all.filter(col("media_id") >= 250), s.read.parquet(idxDir),
          maxHamming = 2)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
        .orderBy("doc_a", "doc_b")
    }, Some("""WITH m AS (SELECT doc_id, doc_id // 5 AS fam, doc_id % 5 AS v FROM documents)
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |  CAST(CASE WHEN a.v = 0 OR b.v = 0 THEN 1 ELSE 2 END AS INT) AS hamming
              |FROM m a JOIN m b ON a.fam = b.fam AND a.doc_id < b.doc_id
              |WHERE a.doc_id >= 250 OR b.doc_id >= 250
              |ORDER BY 1, 2""".stripMargin)),

    // AFP SHIFT TOLERANCE: offset re-encodes (leading silence in
    // AnchorHop multiples — the dominant real-world audio edit the old
    // fixed-anchor fingerprint missed) pair at Hamming 0 through the
    // multi-anchor signatures: the padded copy's aligned anchor carries
    // the clean clip's exact fingerprint, surfacing as an
    // identical-signature star pair. Families of 2 (clean, padded) with
    // per-family shifts of 1–4 hops → the closed-form within-pair
    // oracle.
    Q("dedup_afp_shift", (s, dir) => {
      val ids = docs(s, dir).select(col("doc_id")).repartition(32, col("doc_id"))
      AudioFingerprint.dedup(MediaFixtures.syntheticWavsShifted(ids), maxHamming = 0)
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
        .orderBy("doc_a", "doc_b")
    }, Some("""WITH m AS (SELECT doc_id, doc_id // 2 AS fam FROM documents)
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(0 AS INT) AS hamming
              |FROM m a JOIN m b ON a.fam = b.fam AND a.doc_id < b.doc_id
              |ORDER BY 1, 2""".stripMargin)),

    // dedup_afp as a language STEP over a multimodal corpus (payload =
    // synthetic WAV beside doc metadata), min-id keep per family
    // cluster — full SQL oracle like curation_pipeline_media.
    Q("curation_pipeline_audio", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "lang", "text")
        .join(MediaFixtures.syntheticWavs(
            docs(s, dir).select(col("doc_id")).repartition(32, col("doc_id")))
          .withColumnRenamed("media_id", "doc_id"), Seq("doc_id"))
      CurationPipeline.fromYaml(d,
        """steps:
          |  - dedup_afp: { max_hamming: 2 }
          |""".stripMargin)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }, Some("""WITH m AS (SELECT doc_id, lang, doc_id // 5 AS fam FROM documents)
              |SELECT doc_id, lang FROM m
              |WHERE doc_id IN (SELECT MIN(doc_id) FROM m GROUP BY fam)
              |ORDER BY doc_id""".stripMargin)),

    // dedup_video as a language STEP over a multimodal corpus (payload
    // = stored-raw-frame clip beside doc metadata): at min_shared = 3
    // the family members v ∈ {0..3} form a clique (any two share
    // 6 − max(v_a, v_b) ≥ 3 frames) and v = 4 stays a singleton, so the
    // min-id-per-cluster keep is closed-form.
    Q("curation_pipeline_video", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "lang", "text")
        .join(MediaFixtures.syntheticVideos(
            docs(s, dir).select(col("doc_id")).repartition(32, col("doc_id")))
          .withColumnRenamed("media_id", "doc_id"), Seq("doc_id"))
      CurationPipeline.fromYaml(d,
        s"""steps:
           |  - dedup_video: { min_shared: 3, frame_bytes: ${MediaFixtures.BmpFrameBytes} }
           |""".stripMargin)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }, Some("""WITH m AS (SELECT doc_id, lang, doc_id // 5 AS fam, doc_id % 5 AS v FROM documents),
              |keep AS (SELECT doc_id FROM m WHERE v = 4
              |  UNION ALL SELECT MIN(doc_id) FROM m WHERE v <= 3 GROUP BY fam)
              |SELECT m.doc_id, m.lang FROM m JOIN keep USING (doc_id)
              |ORDER BY 1""".stripMargin)),

    // VIDEO near-dup — the third multimodal leg: clips of stored raw
    // BMP frames (compressed codecs are the documented public-knowledge
    // boundary), per-frame dHashes rolled up to clip pairs by SHARED
    // distinct frame-signature count (the winnowing join shape,
    // ubiquity-capped so black frames / title cards can't go
    // quadratic). Fixture families of 5 share their first 6−v frames →
    // the closed-form shared_frames = 6 − max(v_a, v_b) oracle.
    Q("dedup_video", (s, dir) => {
      val ids = docs(s, dir).select(col("doc_id")).repartition(32, col("doc_id"))
      VideoFingerprint.dedup(MediaFixtures.syntheticVideos(ids),
          frameBytes = MediaFixtures.BmpFrameBytes, minShared = 3L)
        .orderBy("doc_a", "doc_b")
    }, Some("""WITH m AS (SELECT doc_id, doc_id // 5 AS fam, doc_id % 5 AS v FROM documents)
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |  CAST(6 - GREATEST(a.v, b.v) AS BIGINT) AS shared_frames
              |FROM m a JOIN m b ON a.fam = b.fam AND a.doc_id < b.doc_id
              |WHERE 6 - GREATEST(a.v, b.v) >= 3
              |ORDER BY 1, 2""".stripMargin), bench = true),

    Q("dedup_video_incr", (s, dir) => {
      // Incremental video near-dup: shard (doc_id >= 250) sliced+hashed
      // against the PERSISTED frame-signature index of the corpus
      // (doc_id < 250) — the dedup_afp_incr shape, video edition, with
      // the same mid-family split guaranteeing corpus↔shard pairs.
      val ids = docs(s, dir).select(col("doc_id")).repartition(32, col("doc_id"))
      val all = MediaFixtures.syntheticVideos(ids)
      val idxDir = s"/tmp/graft_vidx_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      VideoFingerprint.signatures(all.filter(col("media_id") < 250),
          frameBytes = MediaFixtures.BmpFrameBytes)
        .write.mode("overwrite").parquet(idxDir)
      VideoFingerprint.dedupIncremental(
          all.filter(col("media_id") >= 250), s.read.parquet(idxDir),
          frameBytes = MediaFixtures.BmpFrameBytes, minShared = 3L)
        .orderBy("doc_a", "doc_b")
    }, Some("""WITH m AS (SELECT doc_id, doc_id // 5 AS fam, doc_id % 5 AS v FROM documents)
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |  CAST(6 - GREATEST(a.v, b.v) AS BIGINT) AS shared_frames
              |FROM m a JOIN m b ON a.fam = b.fam AND a.doc_id < b.doc_id
              |WHERE 6 - GREATEST(a.v, b.v) >= 3
              |  AND (a.doc_id >= 250 OR b.doc_id >= 250)
              |ORDER BY 1, 2""".stripMargin)),

    Q("text_repetition", (s, dir) =>
      // Gopher-style repetition quality filters: duplicate-token /
      // duplicate-bigram fractions, most-frequent-n-gram share.
      Repetition.repetitionMetrics(docs(s, dir)).orderBy("doc_id"),
      Some("""WITH base AS (SELECT doc_id,
             |  list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '') AS sl
             |  FROM documents),
             |toks AS (SELECT doc_id, UNNEST(sl) AS tok FROM base),
             |tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
             |ts AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             |  ROUND(CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c), 4) AS dup_token_frac,
             |  ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 4) AS top_token_frac
             |  FROM tc GROUP BY 1),
             |bgs AS (SELECT doc_id,
             |  UNNEST(list_transform(range(1, len(sl)), i -> sl[i] || ' ' || sl[i + 1])) AS bg
             |  FROM base),
             |bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bgs GROUP BY 1, 2),
             |bs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
             |  ROUND(CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c), 4) AS dup_bigram_frac,
             |  ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 4) AS top_bigram_frac
             |  FROM bc GROUP BY 1)
             |SELECT ts.doc_id, n_tokens, dup_token_frac, top_token_frac,
             |  n_bigrams, dup_bigram_frac, top_bigram_frac
             |FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id ORDER BY 1""".stripMargin)),

    Q("split_assign", (s, dir) =>
      // Deterministic train/val/test assignment by multiplicative id-hash
      // buckets (0.8/0.1/0.1) — reproduced verbatim by the oracle.
      Sampling.splitAssign(docs(s, dir))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id"),
      Some("""WITH r AS (SELECT doc_id,
             |    (doc_id % 1048576) * 2654435761 % 4294967296 AS rnd FROM documents)
             |SELECT doc_id, CASE WHEN rnd < 3435973836 THEN 'train'
             |  WHEN rnd < 3865470566 THEN 'val' ELSE 'test' END AS split
             |FROM r ORDER BY 1""".stripMargin)),

    Q("sim_bruteforce_cosine", (s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 10), e, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk")
    }, Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
              |s AS (SELECT q.qid, c.vec_id AS nid,
              |  list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim
              |  FROM q, embeddings c WHERE c.vec_id <> q.qid),
              |r AS (SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rk
              |  FROM s)
              |SELECT qid AS query_id, nid AS neighbor_id, CAST(rk AS BIGINT) AS rnk
              |FROM r WHERE rk <= 5 ORDER BY 1, 3""".stripMargin), bench = true),

    // Distributed PCA (EmbeddingProjection): one-pass per-partition
    // moment accumulation → driver d×d Jacobi eigensolve → map-side
    // projection against literal components. Deterministic (fixed-order
    // moment merge, canonical eigenvector signs) but not SQL-expressible
    // → golden fixture; orthonormality/variance/closed-form invariants
    // are property-tested in EmbeddingProjectionSpec. The k=8 projection
    // array is flattened to p0..p7 scalar columns (the array form stays
    // the operator API) so scalar-only sinks can hash the rows.
    Q("embedding_pca", (s, dir) => {
      val p = EmbeddingProjection.pca(emb(s, dir), k = 8)
      p.select(col("vec_id") +:
          (0 until 8).map(i => col("proj").getItem(i).as(s"p$i")): _*)
        .orderBy("vec_id")
    }, None),

    // Composed oracles (annCosineTopKSql): bucketed/probed candidates
    // pinned, exact cosine + ranking replayed in DuckDB.
    Q("sim_ann_lsh", (s, dir) =>
      Similarity.lshTopK(emb(s, dir).filter(col("vec_id") < 50), k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk"),
      Some(annCosineTopKSql(PinnedOracles.annLshCandidates, 5))),

    Q("sim_ann_ivf", (s, dir) =>
      Similarity.ivfTopK(emb(s, dir).filter(col("vec_id") < 100), k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk"),
      Some(annCosineTopKSql(PinnedOracles.annIvfCandidates, 5))),

    Q("sim_ann_ivfpq", (s, dir) =>
      // Combined IVF-PQ: coarse clusters route each query to nprobe
      // clusters whose PQ codes alone are ADC-scanned — the
      // billion-vector operating shape. Hash-seeded → golden fixture.
      graft.operators.ProductQuant.ivfPqTopK(emb(s, dir).filter(col("vec_id") < 100), k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk"),
      None, bench = true, warmup = true),

    Q("sim_ann_ivfpq_idx", (s, dir) => {
      // Fit-once / serve-many IVF-PQ: the persisted index (coarse
      // centroids + PQ codebooks + packed codes) is fit and saved on
      // first use; every subsequent run LOADS it and pays only probe
      // selection + the ADC scan + exact re-rank — never the two Lloyd
      // fits. This is the billion-vector serving loop (refit on ingest
      // cadence, query on demand). Hash-seeded → golden fixture; parquet
      // round-trip bit-parity with the one-shot path asserted in
      // ExtensionsSpec.
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 20)
      // Cache dir keyed on the fit-format version: a /tmp index fit by
      // OLDER fit code must refit, not silently diverge from a fresh fit
      // (the golden fixture and the driver's fresh container must agree).
      val idxDir = s"/tmp/graft_ivfpq_idx_v${ProductQuant.indexFormatVersion}_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      if (!new java.io.File(s"$idxDir/codes/_SUCCESS").exists())
        ProductQuant.ivfPqIndex(corpus, nlist = 16, m = 16, ks = 32).save(idxDir)
      ProductQuant.ivfPqTopK(
        e.filter(col("vec_id") < 20), corpus, IvfPqIndex.load(s, idxDir),
        k = 5, nprobe = 12, rerankFactor = 0, idCol = "vec_id", vecCol = "embedding")
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk")
    }, None, bench = true, warmup = true),

    Q("sim_ann_ivfpq_filtered", (s, dir) => {
      // Filtered ANN: a metadata predicate over an attribute STORED IN
      // THE INDEX (cat = vec_id % 5, 20% selectivity) prunes the codes
      // frame map-side BELOW the probe join — non-matching rows are
      // never ADC-scored. Per-query top-k among passing rows only.
      // Hash-seeded fits → golden fixture; recall vs the filtered brute
      // force measured in RECALL.json (ivfpq_filtered).
      val e = emb(s, dir).withColumn("cat", (col("vec_id") % 5).cast("int"))
      // Persisted, fit-format-versioned index (the ivfpq_idx convention):
      // attrs are stored parquet columns, so the serve-time predicate is
      // a Filter pushed into the codes scan.
      val idxDir = s"/tmp/graft_ivfpqf_idx_v${ProductQuant.indexFormatVersion}_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      if (!new java.io.File(s"$idxDir/codes/_SUCCESS").exists())
        graft.operators.ProductQuant.ivfPqIndex(
          e, nlist = 16, m = 16, ks = 32, attrCols = Seq("cat")).save(idxDir)
      graft.operators.ProductQuant.ivfPqTopKFiltered(
        e.filter(col("vec_id") < 100), e, IvfPqIndex.load(s, idxDir),
        col("cat") === 0, k = 5, nprobe = 12)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk")
    }, None, bench = true, warmup = true),

    // Deletion propagation over the fitted ANN index: purge vec_id % 5
    // = 0 from the persisted index's codes (the fits stay — serving
    // correctness is top-k over the remaining codes; refit cadence is
    // the servingRecall monitor's call, exactly as for appends), then
    // serve the held-out queries. No purged id may appear as a
    // neighbor, and ranks re-close over the survivors. Hash-seeded →
    // golden fixture.
    Q("sim_ann_ivfpq_purge", (s, dir) => {
      val e = emb(s, dir)
      val corpus = e.filter(col("vec_id") >= 20)
      // Same fit-format-versioned cache as sim_ann_ivfpq_idx — the fit
      // is deterministic, so purge output is identical fresh or cached.
      val idxDir = s"/tmp/graft_ivfpq_idx_v${ProductQuant.indexFormatVersion}_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      if (!new java.io.File(s"$idxDir/codes/_SUCCESS").exists())
        ProductQuant.ivfPqIndex(corpus, nlist = 16, m = 16, ks = 32).save(idxDir)
      val purged = ProductQuant.ivfPqIndexPurge(
        IvfPqIndex.load(s, idxDir),
        corpus.filter(pmod(col("vec_id"), lit(5)) === 0).select("vec_id"))
      ProductQuant.ivfPqTopK(
        e.filter(col("vec_id") < 20),
        corpus.filter(pmod(col("vec_id"), lit(5)) =!= 0), purged,
        k = 5, nprobe = 12, rerankFactor = 0, idCol = "vec_id", vecCol = "embedding")
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk")
    }, None),

    // ANN-index health check — the fsck face the persisted IVF-PQ
    // layout was missing (BM25 got one in Retrieval.fsckIndex): a
    // healthy save reports ZERO findings; a deliberately-damaged copy
    // reports exactly its four defects by name (lost component dir,
    // component without _SUCCESS, orphan _temporary scratch, foreign
    // entry). Dir metadata only → relative names → literal-VALUES
    // DuckDB oracle, the release_fsck convention.
    Q("ann_index_fsck", (s, dir) => {
      val corpus = emb(s, dir).filter(col("vec_id") < 80)
      val ok = scratchDir("graft_annfsck_ok", dir)
      ProductQuant.ivfPqIndex(corpus, nlist = 4, m = 16, ks = 16).save(ok)
      val healthy = ProductQuant.ivfPqIndexFsck(s, ok)
      val bad = scratchDir("graft_annfsck_bad", dir)
      ProductQuant.ivfPqIndex(corpus, nlist = 4, m = 16, ks = 16).save(bad)
      def rmrf(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
      }
      new java.io.File(s"$bad/codes/_SUCCESS").delete()
      rmrf(new java.io.File(s"$bad/codebooks"))
      new java.io.File(s"$bad/centroids/_temporary").mkdirs()
      new java.io.File(s"$bad/extra").mkdirs()
      healthy.withColumn("layout", lit("healthy"))
        .unionByName(ProductQuant.ivfPqIndexFsck(s, bad)
          .withColumn("layout", lit("damaged")))
        .select("layout", "chk", "item")
        .orderBy("layout", "chk", "item")
    }, Some(
      """SELECT * FROM (VALUES
        |  ('damaged', 'foreign_entry', 'extra'),
        |  ('damaged', 'missing_component', 'codebooks'),
        |  ('damaged', 'orphan_tmp', 'centroids/_temporary'),
        |  ('damaged', 'partial_write', 'codes'))
        |AS t(layout, chk, item) ORDER BY 1, 2, 3""".stripMargin)),

    Q("sim_ann_pq", (s, dir) =>
      // Product quantization ANN: ADC scan over m-byte codes + exact
      // cosine re-rank (ProductQuant). Hash-seeded → golden fixture;
      // recall vs brute force measured in RECALL.json / ExtensionsSpec.
      graft.operators.ProductQuant.pqTopK(emb(s, dir).filter(col("vec_id") < 100), k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk"),
      None, bench = true, warmup = true),

    Q("sim_ann_lsh_q", (s, dir) =>
      // Asymmetric retrieval shape: a small disjoint query frame against
      // the rest of the corpus (candidate pins × SQL cosine ranking;
      // recall vs the two-frame brute force in RECALL.json).
      Similarity.lshTopK(
        emb(s, dir).filter(col("vec_id") < 20), emb(s, dir).filter(col("vec_id") >= 20),
        k = 5, bands = 32, bitsPerBand = 4, idCol = "vec_id", vecCol = "embedding")
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk"),
      Some(annCosineTopKSql(PinnedOracles.annLshQCandidates, 5))),

    Q("sim_ann_ivf_q", (s, dir) =>
      Similarity.ivfTopK(
        emb(s, dir).filter(col("vec_id") < 20), emb(s, dir).filter(col("vec_id") >= 20),
        k = 5, nlist = 16, nprobe = 12, refineIters = 2, idCol = "vec_id", vecCol = "embedding")
        .select(col("query_id"), col("neighbor_id"), col("rank").as("rnk"))
        .orderBy("query_id", "rnk"),
      Some(annCosineTopKSql(PinnedOracles.annIvfQCandidates, 5))),

    Q("text_langid", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), Texts.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id"),
      Some {
        val hits = stopwordHitsSql
        s"""WITH h AS (SELECT doc_id, $hits FROM documents),
           |g AS (SELECT doc_id, h_de, h_en, h_es, h_fr, h_zh,
           |  GREATEST(h_de, h_en, h_es, h_fr, h_zh) AS g FROM h)
           |SELECT doc_id, CASE WHEN g = 0 THEN 'und'
           |  WHEN h_zh = g THEN 'zh' WHEN h_fr = g THEN 'fr' WHEN h_es = g THEN 'es'
           |  WHEN h_en = g THEN 'en' ELSE 'de' END AS pred_lang
           |FROM g ORDER BY 1""".stripMargin
      }),

    Q("text_langid_trigram", (s, dir) =>
      // Cavnar–Trenkle char n-gram language ID (15 languages + und):
      // rank-profile out-of-place distance against UDHR-seeded profiles.
      // The oracle embeds the identical profile table and mirrors the
      // ranking/distance arithmetic — full SQL oracle, no golden.
      graft.operators.LangIdTrigram.classifyAll(docs(s, dir)).orderBy("doc_id"),
      Some {
        val topK = graft.operators.LangIdTrigram.defaultTopK
        val profileValues = graft.operators.LangIdTrigram.profileRows(topK)
          .map { case (l, tg, r) => s"('$l','${tg.replace("'", "''")}',$r)" }
          .mkString(", ")
        val langValues = graft.operators.LangIdTrigram.seeds.keys.toSeq.sorted
          .map(l => s"('$l')").mkString(", ")
        s"""WITH profiles(lang, tg, lrank) AS (VALUES $profileValues),
           |langs(lang) AS (VALUES $langValues),
           |toks AS (SELECT doc_id, tok
           |  FROM (SELECT doc_id,
           |          UNNEST(string_split(regexp_replace(lower(text), '[^\\p{L}]+', ' ', 'g'), ' ')) AS tok
           |        FROM documents)
           |  WHERE tok <> ''),
           |tgs AS (SELECT doc_id,
           |    UNNEST(flatten(list_transform([1, 2, 3],
           |      n -> list_transform(range(1, length(' ' || tok || ' ') - n + 2),
           |                          i -> substr(' ' || tok || ' ', CAST(i AS INT), CAST(n AS INT)))))) AS tg
           |  FROM toks),
           |counts AS (SELECT doc_id, tg, COUNT(*) AS cnt FROM tgs GROUP BY 1, 2),
           |prof AS (SELECT doc_id, tg, drank FROM (
           |    SELECT doc_id, tg,
           |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, tg) AS drank
           |    FROM counts) WHERE drank <= $topK),
           |dists AS (SELECT p.doc_id, l.lang,
           |    SUM(COALESCE(ABS(p.drank - pr.lrank), $topK)) AS dist
           |  FROM prof p CROSS JOIN langs l
           |  LEFT JOIN profiles pr ON pr.lang = l.lang AND pr.tg = p.tg
           |  GROUP BY 1, 2),
           |best AS (SELECT doc_id, lang FROM (
           |    SELECT doc_id, lang,
           |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY dist, lang) AS rn
           |    FROM dists) WHERE rn = 1)
           |SELECT d.doc_id, COALESCE(b.lang, 'und') AS pred_lang
           |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
           |ORDER BY 1""".stripMargin
        // warmup: first execution decays >2x (profile-table broadcast +
        // JIT of the rank-distance loop) — r10's artifact recorded a 3.9x
        // phantom next to a 4.9 s quiet-box re-probe.
      }, bench = true, warmup = true),

    Q("text_compress", (s, dir) =>
      // Deflate compression-ratio quality signal (entropy proxy; the
      // CCNet/RefinedWeb-style degenerate-text filter). No SQL-portable
      // deflate in DuckDB → golden fixture; a local java.util.zip
      // re-implementation is asserted equal in ExtensionsSpec.
      graft.operators.Compressibility.compressionRatio(docs(s, dir)).orderBy("doc_id"),
      None),

    Q("text_redact", (s, dir) => {
      // PII scrub: emails / IPv4s / phone numbers replaced by class
      // markers, with per-class counts over the original text. The
      // fixture corpus is PII-free, so deterministic PII is synthesized
      // from doc_id identically on both sides — the oracle exercises the
      // actual redaction, not a no-op.
      val t = concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com from 10.0."),
        (col("doc_id") % 256).cast("string"), lit(".7 tel +1555"),
        (col("doc_id") % 10000 + 10000).cast("string"))
      val counts = Texts.piiCounts(t)
      docs(s, dir)
        .select(col("doc_id") +: Texts.redactPii(t).as("redacted") +:
          counts.map { case (n, c) => c.as(n) }: _*)
        .orderBy("doc_id")
    }, Some {
      val Seq(email, ipv4, phone) = Texts.piiPatterns.map(_._2)
      s"""WITH t AS (SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.' ||
         |    CAST(doc_id % 256 AS VARCHAR) || '.7 tel +1555' ||
         |    CAST(doc_id % 10000 + 10000 AS VARCHAR) AS t FROM documents)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(t,
         |    '$email', '[EMAIL]', 'g'), '$ipv4', '[IPV4]', 'g'), '$phone', '[PHONE]', 'g') AS redacted,
         |  CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(t, '$ipv4')) AS BIGINT) AS n_ipv4,
         |  CAST(len(regexp_extract_all(t, '$phone')) AS BIGINT) AS n_phone
         |FROM t ORDER BY 1""".stripMargin
    }),

    Q("text_quality", (s, dir) => {
      val metrics = Texts.qualityMetrics(col("text"))
      docs(s, dir)
        .select(col("doc_id") +: metrics.map { case (n, c) => c.as(n) }: _*)
        .orderBy("doc_id")
    }, Some {
      val allStops = Texts.stopwords.values.flatten.toSeq.distinct
        .map(w => s"'$w'").mkString(",")
      s"""SELECT doc_id,
         |CAST(LENGTH(text) AS BIGINT) AS n_chars,
         |CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
         |ROUND(CAST(LENGTH(text) - len(string_split(lower(text), ' ')) + 1 AS DOUBLE)
         |  / len(string_split(lower(text), ' ')), 3) AS mean_token_len,
         |ROUND(CAST(len(regexp_extract_all(text, '[!-/:-@\\[-`{{-~]')) AS DOUBLE)
         |  / GREATEST(LENGTH(text), 1), 4) AS punct_ratio,
         |ROUND(CAST(len(list_intersect(string_split(lower(text), ' '), [$allStops])) AS DOUBLE)
         |  / GREATEST(len(string_split(lower(text), ' ')), 1), 4) AS stopword_ratio
         |FROM documents ORDER BY 1""".stripMargin
    }, bench = true),

    // Gopher §A1.1 line/word-shape filters on a deterministic 4-line
    // decoration (doubled text + bullet / ellipsis / symbol-flood lines
    // on doc_id residues — reproduced verbatim in the oracle's `lined`
    // CTE): fractions of bullet-led and ellipsis-ended lines,
    // symbol-to-word ratio, alphabetic-word share, and the composed
    // keep decision at the published thresholds.
    Q("text_gopher_quality", (s, dir) => {
      val lined = docs(s, dir).select(col("doc_id"),
        concat_ws("\n",
          concat_ws(" ", col("text"), col("text")),
          when(pmod(col("doc_id"), lit(4)) === 0, lit("- bullet item one"))
            .otherwise(lit("plain middle line")),
          when(pmod(col("doc_id"), lit(5)) === 0, lit("trailing thought ..."))
            .otherwise(substring(col("text"), 61, 60)),
          when(pmod(col("doc_id"), lit(7)) === 0, lit("# # # # # # # # # #"))
            .otherwise(substring(col("text"), 121, 60))).as("text"))
      lined.select(col("doc_id") +:
        Texts.gopherMetrics(col("text")).map { case (n, c) => c.as(n) } :+
        Texts.gopherKeep(col("text")).as("gopher_keep"): _*)
        .orderBy("doc_id")
    }, Some {
      val allStops = Texts.stopwords.values.flatten.toSeq.distinct
        .map(w => s"'$w'").mkString(",")
      s"""WITH lined AS (
         |  SELECT doc_id,
         |    concat_ws(chr(10),
         |      concat_ws(' ', text, text),
         |      CASE WHEN doc_id % 4 = 0 THEN '- bullet item one'
         |           ELSE 'plain middle line' END,
         |      CASE WHEN doc_id % 5 = 0 THEN 'trailing thought ...'
         |           ELSE substring(text, 61, 60) END,
         |      CASE WHEN doc_id % 7 = 0 THEN '# # # # # # # # # #'
         |           ELSE substring(text, 121, 60) END) AS text
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         |    len(string_split_regex(lower(text), '\\s+')) AS n_words,
         |    LENGTH(text) AS n_chars,
         |    len(regexp_extract_all(text, '(?m)^ *[-*•]')) AS n_bullet,
         |    len(regexp_extract_all(text, '(?m)(\\.\\.\\.|…) *' || chr(36))) AS n_ellipsis,
         |    len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS n_symbol,
         |    len(regexp_extract_all(text, '\\S*[A-Za-z]\\S*')) AS n_alpha,
         |    len(list_intersect(string_split_regex(lower(text), '\\s+'), [$allStops])) AS n_stop
         |  FROM lined)
         |SELECT doc_id, n_lines,
         |  ROUND(CAST(n_bullet AS DOUBLE) / GREATEST(n_lines, 1), 4) AS frac_bullet_lines,
         |  ROUND(CAST(n_ellipsis AS DOUBLE) / GREATEST(n_lines, 1), 4) AS frac_ellipsis_lines,
         |  ROUND(CAST(n_symbol AS DOUBLE) / GREATEST(n_words, 1), 4) AS symbol_word_ratio,
         |  ROUND(CAST(n_alpha AS DOUBLE) / GREATEST(n_words, 1), 4) AS frac_alpha_words,
         |  (n_words BETWEEN 50 AND 100000)
         |    AND (ROUND(CAST(n_chars - n_words + 1 AS DOUBLE) / n_words, 3) BETWEEN 3.0 AND 10.0)
         |    AND ROUND(CAST(n_symbol AS DOUBLE) / GREATEST(n_words, 1), 4) < 0.1
         |    AND ROUND(CAST(n_bullet AS DOUBLE) / GREATEST(n_lines, 1), 4) < 0.9
         |    AND ROUND(CAST(n_ellipsis AS DOUBLE) / GREATEST(n_lines, 1), 4) < 0.3
         |    AND ROUND(CAST(n_alpha AS DOUBLE) / GREATEST(n_words, 1), 4) > 0.8
         |    AND ROUND(CAST(n_stop AS DOUBLE) / GREATEST(n_words, 1), 4) > 0.0
         |    AS gopher_keep
         |FROM m ORDER BY doc_id""".stripMargin
    }),

    // C4's content blocklist: pages decorated with "Lorem Ipsum" /
    // curly-brace code snippets on doc_id residues drop entirely
    // (case-insensitive literal contains, policy in config).
    Q("text_blocklist", (s, dir) => {
      val decorated = docs(s, dir).withColumn("text",
        concat(col("text"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            lit(" Lorem Ipsum dolor sit amet")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(11)) === 0,
            lit(" function() { return 1; }")).otherwise(lit(""))))
      CurationPipeline.fromYaml(decorated,
        "steps:\n  - blocklist: { phrases: [\"lorem ipsum\", \"{\"] }\n")
        .select("doc_id").orderBy("doc_id")
    },
      Some("""WITH d AS (SELECT doc_id,
             |  text || CASE WHEN doc_id % 7 = 0 THEN ' Lorem Ipsum dolor sit amet' ELSE '' END
             |       || CASE WHEN doc_id % 11 = 0 THEN ' function() { return 1; }' ELSE '' END AS text
             |  FROM documents)
             |SELECT doc_id FROM d
             |WHERE NOT contains(lower(text), 'lorem ipsum')
             |  AND NOT contains(lower(text), '{')
             |ORDER BY doc_id""".stripMargin)),

    // Gopher Table A1 duplicate-LINE repetition on a fixture whose
    // within-doc repeats vary by residue (every 3rd doc carries the
    // repeated line three times, the rest twice).
    Q("text_dup_lines", (s, dir) => {
      val lined = docs(s, dir).select(col("doc_id"),
        concat_ws("\n",
          substring(col("text"), 1, 40),
          lit("repeated line here today"),
          substring(col("text"), 41, 40),
          lit("repeated line here today"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit("repeated line here today"))
            .otherwise(substring(col("text"), 81, 40))).as("text"))
      lined.select(col("doc_id") +:
        Texts.dupLineMetrics(col("text")).map { case (n, c) => c.as(n) }: _*)
        .orderBy("doc_id")
    },
      Some("""WITH lined AS (
             |  SELECT doc_id,
             |    concat_ws(chr(10),
             |      substring(text, 1, 40),
             |      'repeated line here today',
             |      substring(text, 41, 40),
             |      'repeated line here today',
             |      CASE WHEN doc_id % 3 = 0 THEN 'repeated line here today'
             |           ELSE substring(text, 81, 40) END) AS text
             |  FROM documents),
             |m AS (
             |  SELECT doc_id,
             |    string_split(text, chr(10)) AS ls,
             |    LENGTH(text) - (len(string_split(text, chr(10))) - 1) AS total_chars
             |  FROM lined)
             |SELECT doc_id,
             |  ROUND(CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE)
             |    / GREATEST(len(ls), 1), 4) AS frac_dup_lines,
             |  ROUND(CAST(total_chars -
             |      list_sum(list_transform(list_distinct(ls), x -> LENGTH(x))) AS DOUBLE)
             |    / GREATEST(total_chars, 1), 4) AS frac_dup_line_chars
             |FROM m ORDER BY doc_id""".stripMargin)),

    // C4's line-level heuristics on a punctuation-decorated fixture:
    // terminal-punct lines with enough words survive, bare/short lines
    // drop, and pages keeping < 3 sentences (every 5th doc loses its
    // '?' line) drop entirely — replayed verbatim by the oracle.
    Q("c4_line_filter", (s, dir) => {
      val lined = docs(s, dir).select(col("doc_id"),
        concat_ws("\n",
          concat(substring(col("text"), 1, 40), lit(".")),
          lit("Too short."),
          substring(col("text"), 41, 40),
          concat(substring(col("text"), 81, 40), lit("!")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            lit("Menu Home About Contact Privacy Careers"))
            .otherwise(concat(substring(col("text"), 121, 40), lit("?")))).as("text"))
      CurationPipeline.fromYaml(lined,
        "steps:\n  - c4_filter: { min_words: 5, min_sentences: 3 }\n")
        .select("doc_id", "text").orderBy("doc_id")
    },
      Some("""WITH lined AS (
             |  SELECT doc_id,
             |    concat_ws(chr(10),
             |      substring(text, 1, 40) || '.',
             |      'Too short.',
             |      substring(text, 41, 40),
             |      substring(text, 81, 40) || '!',
             |      CASE WHEN doc_id % 5 = 0 THEN 'Menu Home About Contact Privacy Careers'
             |           ELSE substring(text, 121, 40) || '?' END) AS text
             |  FROM documents),
             |k AS (SELECT doc_id,
             |    array_to_string(list_filter(string_split(text, chr(10)), l ->
             |      regexp_matches(rtrim(l), '[.!?"]$')
             |        AND len(list_filter(string_split(l, ' '), t -> t <> '')) >= 5),
             |      chr(10)) AS text
             |  FROM lined)
             |SELECT doc_id, text FROM k
             |WHERE len(regexp_extract_all(text, '[.!?]')) >= 3
             |ORDER BY doc_id""".stripMargin)),

    // The definitive crawl-to-corpus capstone: RAW HTML in, C4 recipe
    // through five language steps — strip_html (block-break-preserving
    // extraction), c4_filter (line heuristics; every 5th doc's
    // punctuation-free menu line costs it the sentence gate),
    // dedup_lines (the shared nav/footer line survives once;
    // duplicate-text docs lose every line and drop), dedup_exact
    // (recipe fidelity), gopher (shape gate) — ONE fully composed
    // DuckDB oracle replaying all five.
    Q("curation_pipeline_c4_web", (s, dir) => {
      val html = docs(s, dir).select(col("doc_id"),
        concat(
          lit("<html><body><p>"), col("text"), lit(" plus "), col("text"), lit(".</p>"),
          lit("<p>shared boilerplate navigation and footer line.</p>"),
          lit("<script>var nav = \"<div>menu</div>\";</script><p>"),
          when(pmod(col("doc_id"), lit(5)) === 0, lit("Menu Home About Contact"))
            .otherwise(concat(substring(col("text"), 61, 60), lit("!"))),
          lit("</p></body></html>")).as("text"))
      CurationPipeline.fromYaml(html,
        """steps:
          |  - strip_html
          |  - c4_filter: { min_words: 5, min_sentences: 3 }
          |  - dedup_lines: { min_chars: 10 }
          |  - dedup_exact: {}
          |  - gopher
          |""".stripMargin)
        .select("doc_id", "text").orderBy("doc_id")
    }, Some {
      val allStops = Texts.stopwords.values.flatten.toSeq.distinct
        .map(w => s"'$w'").mkString(",")
      s"""WITH h AS (SELECT doc_id,
         |    '<html><body><p>' || text || ' plus ' || text || '.</p>' ||
         |    '<p>shared boilerplate navigation and footer line.</p>' ||
         |    '<script>var nav = "<div>menu</div>";</script><p>' ||
         |    CASE WHEN doc_id % 5 = 0 THEN 'Menu Home About Contact'
         |         ELSE substring(text, 61, 60) || '!' END ||
         |    '</p></body></html>' AS text
         |  FROM documents),
         |s1 AS (SELECT doc_id, regexp_replace(text,
         |  '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g') AS t FROM h),
         |s1b AS (SELECT doc_id, regexp_replace(t,
         |  '(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table)[^>]*>', chr(10), 'g') AS t FROM s1),
         |s2 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s1b),
         |s3 AS (SELECT doc_id,
         |  replace(replace(replace(replace(replace(replace(t,
         |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |    '&#39;', chr(39)), '&amp;', '&') AS t FROM s2),
         |s4 AS (SELECT doc_id, regexp_replace(t, '[^\\S\\n]+', ' ', 'g') AS t FROM s3),
         |s5 AS (SELECT doc_id, regexp_replace(t, ' ?\\n ?', chr(10), 'g') AS t FROM s4),
         |s6 AS (SELECT doc_id, regexp_replace(t, '\\n{2,}', chr(10), 'g') AS t FROM s5),
         |st AS (SELECT doc_id,
         |  regexp_replace(t, '^\\s+|\\s+' || chr(36), '', 'g') AS text FROM s6),
         |cf AS (SELECT doc_id,
         |    array_to_string(list_filter(string_split(text, chr(10)), l ->
         |      regexp_matches(rtrim(l), '[.!?"]' || chr(36))
         |        AND len(list_filter(string_split(l, ' '), t -> t <> '')) >= 5),
         |      chr(10)) AS text
         |  FROM st),
         |cg AS (SELECT * FROM cf WHERE len(regexp_extract_all(text, '[.!?]')) >= 3),
         |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM cg),
         |lp AS (SELECT doc_id, UNNEST(range(0, len(ls))) AS line_no, ls FROM l0),
         |l AS (SELECT doc_id, line_no, ls[line_no + 1] AS line FROM lp),
         |fo AS (
         |  SELECT line, doc_id AS fdoc, line_no AS fno FROM (
         |    SELECT line, doc_id, line_no,
         |      ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
         |    FROM l
         |    WHERE len(regexp_replace(line, '\\s', '', 'g')) >= 10) WHERE rn = 1),
         |keptl AS (
         |  SELECT l.doc_id, l.line_no, l.line
         |  FROM l LEFT JOIN fo ON l.line = fo.line
         |  WHERE fo.fdoc IS NULL OR (l.doc_id = fo.fdoc AND l.line_no = fo.fno)),
         |reb AS (
         |  SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text
         |  FROM keptl GROUP BY doc_id),
         |de AS (SELECT * FROM reb
         |  WHERE doc_id IN (SELECT MIN(doc_id) FROM reb GROUP BY text)),
         |m AS (
         |  SELECT doc_id, text,
         |    len(string_split(text, chr(10))) AS n_lines,
         |    len(string_split_regex(lower(text), '\\s+')) AS n_words,
         |    LENGTH(text) AS n_chars,
         |    len(regexp_extract_all(text, '(?m)^ *[-*•]')) AS n_bullet,
         |    len(regexp_extract_all(text, '(?m)(\\.\\.\\.|…) *' || chr(36))) AS n_ellipsis,
         |    len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS n_symbol,
         |    len(regexp_extract_all(text, '\\S*[A-Za-z]\\S*')) AS n_alpha,
         |    len(list_intersect(string_split_regex(lower(text), '\\s+'), [$allStops])) AS n_stop
         |  FROM de)
         |SELECT doc_id, text FROM m
         |WHERE (n_words BETWEEN 50 AND 100000)
         |  AND (ROUND(CAST(n_chars - n_words + 1 AS DOUBLE) / n_words, 3) BETWEEN 3.0 AND 10.0)
         |  AND ROUND(CAST(n_symbol AS DOUBLE) / GREATEST(n_words, 1), 4) < 0.1
         |  AND ROUND(CAST(n_bullet AS DOUBLE) / GREATEST(n_lines, 1), 4) < 0.9
         |  AND ROUND(CAST(n_ellipsis AS DOUBLE) / GREATEST(n_lines, 1), 4) < 0.3
         |  AND ROUND(CAST(n_alpha AS DOUBLE) / GREATEST(n_words, 1), 4) > 0.8
         |  AND ROUND(CAST(n_stop AS DOUBLE) / GREATEST(n_words, 1), 4) > 0.0
         |ORDER BY doc_id""".stripMargin
    }),

    // The C4 curation chain (Raffel et al. 2020 §2.2) composed INSIDE
    // the YAML language: corpus-wide line dedup → exact dedup → Gopher
    // shape filters, one fully composed SQL oracle. The fixture makes
    // each stage's work visible in the final rows: every-13th doc is 60
    // identical EXEMPT-length lines (survives line dedup intact, so
    // exact dedup must collapse the group), the shared header/bullet
    // lines exercise first-occurrence line dedup, and the symbol flood
    // exercises the Gopher gate.
    Q("curation_pipeline_c4", (s, dir) => {
      val lined = docs(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(13)) === 0,
          array_join(array_repeat(lit("the cat sat"), 60), "\n"))
          .otherwise(concat_ws("\n",
            concat_ws(" ", col("text"), col("text")),
            when(pmod(col("doc_id"), lit(4)) === 0, lit("- bullet item one"))
              .otherwise(lit("shared boilerplate header line")),
            when(pmod(col("doc_id"), lit(7)) === 0, lit("# # # # # # # # # #"))
              .otherwise(substring(col("text"), 61, 60)))).as("text"))
      CurationPipeline.fromYaml(lined,
        """steps:
          |  - dedup_lines: { min_chars: 10 }
          |  - dedup_exact: {}
          |  - gopher
          |""".stripMargin)
        .select("doc_id", "text").orderBy("doc_id")
    }, Some {
      val allStops = Texts.stopwords.values.flatten.toSeq.distinct
        .map(w => s"'$w'").mkString(",")
      s"""WITH lined AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 13 = 0
         |      THEN rtrim(repeat('the cat sat' || chr(10), 60), chr(10))
         |      ELSE concat_ws(chr(10),
         |        concat_ws(' ', text, text),
         |        CASE WHEN doc_id % 4 = 0 THEN '- bullet item one'
         |             ELSE 'shared boilerplate header line' END,
         |        CASE WHEN doc_id % 7 = 0 THEN '# # # # # # # # # #'
         |             ELSE substring(text, 61, 60) END) END AS text
         |  FROM documents),
         |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined),
         |lp AS (SELECT doc_id, UNNEST(range(0, len(ls))) AS line_no, ls FROM l0),
         |l AS (SELECT doc_id, line_no, ls[line_no + 1] AS line FROM lp),
         |fo AS (
         |  SELECT line, doc_id AS fdoc, line_no AS fno FROM (
         |    SELECT line, doc_id, line_no,
         |      ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
         |    FROM l
         |    WHERE len(regexp_replace(line, '\\s', '', 'g')) >= 10) WHERE rn = 1),
         |keptl AS (
         |  SELECT l.doc_id, l.line_no, l.line
         |  FROM l LEFT JOIN fo ON l.line = fo.line
         |  WHERE fo.fdoc IS NULL OR (l.doc_id = fo.fdoc AND l.line_no = fo.fno)),
         |reb AS (
         |  SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text
         |  FROM keptl GROUP BY doc_id),
         |de AS (SELECT * FROM reb
         |  WHERE doc_id IN (SELECT MIN(doc_id) FROM reb GROUP BY text)),
         |m AS (
         |  SELECT doc_id, text,
         |    len(string_split(text, chr(10))) AS n_lines,
         |    len(string_split_regex(lower(text), '\\s+')) AS n_words,
         |    LENGTH(text) AS n_chars,
         |    len(regexp_extract_all(text, '(?m)^ *[-*•]')) AS n_bullet,
         |    len(regexp_extract_all(text, '(?m)(\\.\\.\\.|…) *' || chr(36))) AS n_ellipsis,
         |    len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS n_symbol,
         |    len(regexp_extract_all(text, '\\S*[A-Za-z]\\S*')) AS n_alpha,
         |    len(list_intersect(string_split_regex(lower(text), '\\s+'), [$allStops])) AS n_stop
         |  FROM de)
         |SELECT doc_id, text FROM m
         |WHERE (n_words BETWEEN 50 AND 100000)
         |  AND (ROUND(CAST(n_chars - n_words + 1 AS DOUBLE) / n_words, 3) BETWEEN 3.0 AND 10.0)
         |  AND ROUND(CAST(n_symbol AS DOUBLE) / GREATEST(n_words, 1), 4) < 0.1
         |  AND ROUND(CAST(n_bullet AS DOUBLE) / GREATEST(n_lines, 1), 4) < 0.9
         |  AND ROUND(CAST(n_ellipsis AS DOUBLE) / GREATEST(n_lines, 1), 4) < 0.3
         |  AND ROUND(CAST(n_alpha AS DOUBLE) / GREATEST(n_words, 1), 4) > 0.8
         |  AND ROUND(CAST(n_stop AS DOUBLE) / GREATEST(n_words, 1), 4) > 0.0
         |ORDER BY doc_id""".stripMargin
    }),

    Q("text_tokens", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          size(Texts.tokens(col("text"))).cast("long").as("ws_tokens"),
          Texts.wordCount(col("text")).cast("long").as("word_tokens"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS ws_tokens,
             |CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS word_tokens
             |FROM documents ORDER BY 1""".stripMargin)),

    Q("text_fingerprint", (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), Texts.fingerprint(col("text")).as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("n"), min("doc_id").as("keep_id"))
        .orderBy("keep_id"),
      None),

    Q("text_packing", (s, dir) =>
      Packing.packSequences(docs(s, dir), budgetTokens = 512, buckets = 8)
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id,
             |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
             |    doc_id % 8 AS bucket FROM documents),
             |c AS (SELECT doc_id, n_tokens, bucket,
             |    COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok FROM t)
             |SELECT doc_id, n_tokens, bucket,
             |  CAST(bucket * 1099511627776 + FLOOR(start_tok / 512.0) AS BIGINT) AS pack_id
             |FROM c ORDER BY doc_id""".stripMargin)),

    // Tokenize → rank-vocab id-map → fixed-length id sequences: the
    // training-loader release grain. The rollup (count, id-sum, first
    // id per sequence) pins the vocab cut, OOV mapping, concatenation
    // order, and chunk boundaries; the oracle replays the entire chain
    // in SQL (vocab top-k + per-bucket ordinal chunking).
    Q("text_pack_ids", (s, dir) => {
      val d = docs(s, dir)
      Packing.packTokenIds(d, Packing.rankVocab(d, vocabSize = 1000),
          budgetTokens = 128, buckets = 8)
        .select(col("bucket"), col("seq"), col("n"),
          aggregate(col("ids"), lit(0L), (a, x) => a + x).as("sum_ids"),
          element_at(col("ids"), 1).as("first_id"))
        .orderBy("bucket", "seq")
    }, Some(packIdsOracleSql)),

    // The same chain released as raw little-endian int32 tar shards
    // (tokenTar) and READ BACK: payload bytes decode to the identical
    // rollup, so the binary serialization, member keying, and tar round
    // trip all sit under the same DuckDB oracle as the in-memory pack.
    Q("release_tokens_tar", (s, dir) => {
      import s.implicits._
      val d = docs(s, dir)
      val out = s"/tmp/graft_tokens_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      Packing.tokenTar(
        Packing.packTokenIds(d, Packing.rankVocab(d, vocabSize = 1000),
          budgetTokens = 128, buckets = 8),
        out, targetShardBytes = 16384)
      graft.sources.WebDataset.scanTar(s, out)
        .select(col("key"), col("payload")).as[(String, Array[Byte])]
        .map { case (key, bytes) =>
          val k = key.toLong
          val bb = java.nio.ByteBuffer.wrap(bytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val n = bytes.length / 4
          var sum = 0L
          var first = 0
          var i = 0
          while (i < n) {
            val v = bb.getInt()
            if (i == 0) first = v
            sum += v
            i += 1
          }
          ((k >> 32).toInt, k & 0xffffffffL, n, sum, first)
        }
        .toDF("bucket", "seq", "n", "sum_ids", "first_id")
        .orderBy("bucket", "seq")
    }, Some(packIdsOracleSql)),

    // Tokenizer release QA (the go/no-go numbers before a corpus-scale
    // tokenization run): per-language fertility (tokens/word, tokens
    // per KiB of UTF-8 text) and OOV rate against the released vocab.
    // The rank/word tokenizer is closed-form — vocab 20 keeps the OOV
    // rate discriminating — so the whole rollup has an exact SQL oracle.
    Q("tokenizer_stats", (s, dir) => {
      val d = docs(s, dir)
      Packing.tokenizerStats(d, Packing.WordTokenizer,
          Packing.rankVocab(d, vocabSize = 20))
        .orderBy("lang")
    }, Some("""WITH tok AS (SELECT doc_id,
              |    UNNEST(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
              |  FROM documents),
              |cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY 1),
              |voc AS (SELECT tok FROM cnt ORDER BY c DESC, tok LIMIT 20),
              |pd AS (SELECT doc_id, COUNT(*) AS toks,
              |    SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS oov
              |  FROM tok LEFT JOIN voc v USING (tok) GROUP BY 1),
              |base AS (SELECT doc_id, lang, octet_length(encode(text)) AS bytes,
              |    len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS words
              |  FROM documents)
              |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(words) AS BIGINT) AS n_words,
              |  CAST(SUM(bytes) AS BIGINT) AS n_text_bytes,
              |  CAST(SUM(COALESCE(toks, 0)) AS BIGINT) AS n_tokens,
              |  CAST(SUM(COALESCE(oov, 0)) AS BIGINT) AS n_oov,
              |  ROUND(SUM(COALESCE(toks, 0)) / CAST(SUM(words) AS DOUBLE), 4) AS tokens_per_word,
              |  ROUND(SUM(COALESCE(toks, 0)) * 1024.0 / SUM(bytes), 4) AS tokens_per_kb,
              |  ROUND(SUM(COALESCE(oov, 0)) / CAST(SUM(COALESCE(toks, 0)) AS DOUBLE), 4) AS oov_rate
              |FROM base LEFT JOIN pd USING (doc_id)
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The same QA rollup for the two subword fits (iterative learns →
    // goldens): fertility now varies by language for real — subword
    // pieces per word — and the 25-id released vocab is deliberately
    // SMALLER than either fit's emitted piece inventory (44 BPE / 32
    // unigram distinct pieces at sf0.01) so the OOV/UNK share is a
    // real, non-zero reading (vocab ≥ inventory would pin it to 0 and
    // gate nothing).
    Q("tokenizer_stats_bpe", (s, dir) => {
      val d = docs(s, dir)
      val tok = Packing.BpeTokenizer(
        graft.functions.Bpe.learnMerges(d, numMerges = 64, vocabLimit = 4096))
      Packing.tokenizerStats(d, tok,
          Packing.rankVocabFromTokens(Packing.tokenStream(d, tok), 25))
        .orderBy("lang")
    }, None),

    Q("tokenizer_stats_unigram", (s, dir) => {
      val d = docs(s, dir)
      val tok = Packing.UnigramTokenizer(
        graft.functions.Unigram.learnPieces(
          d, vocabSize = 512, maxPieceLen = 6, emIters = 2, vocabLimit = 4096),
        maxPieceLen = 6)
      Packing.tokenizerStats(d, tok,
          Packing.rankVocabFromTokens(Packing.tokenStream(d, tok), 25))
        .orderBy("lang")
    }, None),

    // The full loop closed INSIDE the language: curate → fit vocab on
    // the survivors → pack → int32 binary shards + persisted vocab
    // table, all from the terminal sink_tokens step; the decoded
    // read-back rollup must match the SQL replay of the curated chain.
    Q("curation_release_tokens", (s, dir) => {
      val path = scratchDir("graft_release_tokens", dir)
      CurationPipeline.fromYaml(docs(s, dir),
        s"""steps:
           |  - quality: { min_tokens: 10 }
           |  - dedup_exact: {}
           |  - sink_tokens: { path: $path, budget: 128, vocab: 1000,
           |                   buckets: 8, target_bytes: 16384 }
           |""".stripMargin)
        .select(col("bucket"), col("seq"), col("n"),
          aggregate(col("ids"), lit(0L), (a, x) => a + x).as("sum_ids"),
          element_at(col("ids"), 1).as("first_id"))
        .orderBy("bucket", "seq")
    }, Some(packIdsCuratedOracleSql)),

    // The same curated release through the two LEARNED tokenizer
    // regimes — BPE merges and unigram-LM pieces fit on the curated
    // survivors, ids ranked over the emitted subwords. Iterative
    // driver-side fits → golden fixtures, like text_bpe_tokens /
    // text_unigram_tokens; same rollup shape as the rank entry.
    Q("curation_release_tokens_bpe", (s, dir) => {
      val path = scratchDir("graft_release_tokbpe", dir)
      CurationPipeline.fromYaml(docs(s, dir),
        s"""steps:
           |  - quality: { min_tokens: 10 }
           |  - dedup_exact: {}
           |  - sink_tokens: { path: $path, budget: 128, vocab: 1000, buckets: 8,
           |                   target_bytes: 16384, tokenizer: bpe, merges: 96 }
           |""".stripMargin)
        .select(col("bucket"), col("seq"), col("n"),
          aggregate(col("ids"), lit(0L), (a, x) => a + x).as("sum_ids"),
          element_at(col("ids"), 1).as("first_id"))
        .orderBy("bucket", "seq")
    }, None),

    Q("curation_release_tokens_unigram", (s, dir) => {
      val path = scratchDir("graft_release_tokuni", dir)
      CurationPipeline.fromYaml(docs(s, dir),
        s"""steps:
           |  - quality: { min_tokens: 10 }
           |  - dedup_exact: {}
           |  - sink_tokens: { path: $path, budget: 128, vocab: 500, buckets: 8,
           |                   target_bytes: 16384, tokenizer: unigram, piece_len: 6 }
           |""".stripMargin)
        .select(col("bucket"), col("seq"), col("n"),
          aggregate(col("ids"), lit(0L), (a, x) => a + x).as("sum_ids"),
          element_at(col("ids"), 1).as("first_id"))
        .orderBy("bucket", "seq")
    }, None),

    // NO-SPLIT sample packing: whole docs into fixed-capacity packs by
    // per-bucket first-fit-decreasing (Packing.packGreedyBins) — the
    // padding-minimizing regime used when cross-document attention
    // contamination matters. Procedural (FFD) → golden fixture;
    // capacity/determinism/waste-bound invariants in ExtensionsSpec.
    Q("text_packing_bins", (s, dir) =>
      Packing.packGreedyBins(docs(s, dir), budgetTokens = 128, buckets = 8)
        .orderBy("doc_id"),
      None),

    // Embedding-space decontamination: corpus docs whose embedding is a
    // cosine near-dup (≥ 0.4, the threshold the exact-pair oracles use)
    // of any probe embedding — probes = the first 20 vectors standing in
    // for an eval set, so each probe's corpus twin contaminates at
    // cos 1.0 and real near-dups surface besides. Hyperplane-seeded
    // banding → golden fixture; parity vs composing
    // embeddingNearDupIncremental asserted in ExtensionsSpec.
    Q("decontaminate_embedding", (s, dir) =>
      Decontaminate.matchesEmbedding(
        emb(s, dir), emb(s, dir).filter(col("vec_id") < 20), threshold = 0.4)
        .orderBy("doc_id"),
      None),

    Q("text_decontaminate", (s, dir) => {
      // Probe set = the first five documents standing in for an eval set;
      // corpus = the rest. 3-gram overlap counts per contaminated doc.
      val d = docs(s, dir)
      Decontaminate.matches(
        d.filter(col("doc_id") >= 5), d.filter(col("doc_id") < 5), shingleN = 3)
        .orderBy("doc_id")
    }, Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
              |g0 AS (SELECT doc_id,
              |    UNNEST(list_transform(range(1, len(toks) - 1),
              |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
              |  FROM t WHERE len(toks) >= 3),
              |g AS (SELECT DISTINCT doc_id, s FROM g0),
              |probe AS (SELECT DISTINCT s FROM g WHERE doc_id < 5),
              |corpus AS (SELECT doc_id, s FROM g WHERE doc_id >= 5)
              |SELECT c.doc_id, CAST(COUNT(DISTINCT c.s) AS BIGINT) AS matched_ngrams
              |FROM corpus c JOIN probe p ON c.s = p.s
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Same contamination check through the relational Bloom-bitmap
    // pre-pass (no false negatives + exact verify on survivors ⇒ result
    // identical to text_decontaminate; parity also asserted in
    // ExtensionsSpec). The small bitmap (16 bits per probe n-gram)
    // forces real bit arithmetic and some false-positive verify traffic
    // at fixture scale.
    Q("text_decontaminate_bloom", (s, dir) => {
      val d = docs(s, dir)
      Decontaminate.matchesBloom(
        d.filter(col("doc_id") >= 5), d.filter(col("doc_id") < 5),
        shingleN = 3, bloomBits = 1L << 14)
        .orderBy("doc_id")
    }, Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
              |g0 AS (SELECT doc_id,
              |    UNNEST(list_transform(range(1, len(toks) - 1),
              |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
              |  FROM t WHERE len(toks) >= 3),
              |g AS (SELECT DISTINCT doc_id, s FROM g0),
              |probe AS (SELECT DISTINCT s FROM g WHERE doc_id < 5),
              |corpus AS (SELECT doc_id, s FROM g WHERE doc_id >= 5)
              |SELECT c.doc_id, CAST(COUNT(DISTINCT c.s) AS BIGINT) AS matched_ngrams
              |FROM corpus c JOIN probe p ON c.s = p.s
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Corpus vocabulary build: top-100 bigrams by occurrence count,
    // document frequency alongside, deterministic (count DESC, gram ASC)
    // tiebreak. TakeOrdered top-k — never a full sort.
    Q("text_topk_ngrams", (s, dir) =>
      Vocabulary.topKNgrams(docs(s, dir), n = 2, k = 100)
        .orderBy(col("n_occurrences").desc, col("gram")),
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
             |g AS (SELECT doc_id,
             |    UNNEST(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS gram
             |  FROM t WHERE len(toks) >= 2)
             |SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
             |FROM g GROUP BY 1 ORDER BY n_occurrences DESC, gram LIMIT 100""".stripMargin)),

    // CCNet-style LM quality signal (Wenzek et al. 2020): per-doc
    // perplexity under an add-one unigram LM fit on the corpus itself.
    // vocabSize=20 on the 31-token fixture vocabulary so the OOV floor
    // is exercised by the oracle too. High ppl = far from the corpus
    // distribution.
    Q("text_perplexity", (s, dir) =>
      Vocabulary.perplexity(docs(s, dir), vocabSize = 20),
      Some("""WITH tok AS (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok FROM documents),
             |cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY 1),
             |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM cnt),
             |voc AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 20),
             |vs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM voc),
             |lm AS (SELECT tok, LN((c + 1) / (t + v + 1)) AS logp
             |       FROM voc CROSS JOIN tot CROSS JOIN vs),
             |sc AS (SELECT doc_id, COALESCE(logp, LN(1 / (t + v + 1))) AS lp
             |       FROM tok LEFT JOIN lm USING (tok) CROSS JOIN tot CROSS JOIN vs),
             |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, -AVG(lp) AS nll
             |        FROM sc GROUP BY 1)
             |SELECT doc_id, n_tokens, ROUND(nll, 4) AS avg_nll, ROUND(EXP(nll), 4) AS ppl
             |FROM agg ORDER BY doc_id""".stripMargin)),

    Q("sample_quota", (s, dir) =>
      // Training-mix curation: exact per-language quotas, deterministic
      // multiplicative-hash pick (reproduced verbatim by the oracle).
      Sampling.quotaSample(docs(s, dir), Map("en" -> 50L, "es" -> 20L, "fr" -> 10L))
        .orderBy("doc_id"),
      Some("""WITH r AS (SELECT doc_id, lang,
             |    (doc_id % 1048576) * 2654435761 % 4294967296 AS rnd FROM documents),
             |k AS (SELECT doc_id, lang,
             |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY rnd, doc_id) AS rk FROM r)
             |SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk FROM k
             |WHERE (lang = 'en' AND rk <= 50) OR (lang = 'es' AND rk <= 20)
             |   OR (lang = 'fr' AND rk <= 10)
             |ORDER BY doc_id""".stripMargin), bench = true),

    // Temperature (√-smoothed) data-mixing sample: per-language quotas
    // ∝ sqrt(group size) — natural proportions flattened toward uniform,
    // the standard multilingual mixing rule; quota arithmetic in-plan,
    // same deterministic hash pick as sample_quota.
    Q("sample_temperature", (s, dir) =>
      Sampling.temperatureSample(docs(s, dir), totalN = 100, alpha = 0.5)
        .orderBy("doc_id"),
      Some("""WITH h AS (SELECT doc_id, lang,
             |    (doc_id % 1048576) * 2654435761 % 4294967296 AS rnd FROM documents),
             |n AS (SELECT lang, COUNT(*) AS n FROM h GROUP BY 1),
             |z AS (SELECT SUM(SQRT(n)) AS z FROM n),
             |q AS (SELECT lang, GREATEST(1, CAST(FLOOR(100 * SQRT(n) / z) AS BIGINT)) AS q
             |      FROM n CROSS JOIN z),
             |k AS (SELECT doc_id, lang,
             |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY rnd, doc_id) AS rk FROM h)
             |SELECT k.doc_id, k.lang, CAST(k.rk AS BIGINT) AS rk
             |FROM k JOIN q USING (lang) WHERE k.rk <= q.q
             |ORDER BY k.doc_id""".stripMargin)),

    // DSIR importance resampling (Xie et al. 2023): select the raw docs
    // whose unigram distribution matches the English subset (the target
    // sample), k picked by the deterministic Gumbel top-k over the
    // two-LM log likelihood ratio — the full fit+score+pick pipeline in
    // one SQL-checkable entry (vocab-bounded features, the
    // text_perplexity oracle convention; the hashed production form is
    // parity-tested in ExtensionsSpec).
    Q("sample_importance", (s, dir) =>
      ImportanceSampling.importanceResample(
        docs(s, dir), docs(s, dir).filter(col("lang") === "en"),
        k = 100, vocabSize = 50),
      Some("""WITH tok AS (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok FROM documents),
             |tt AS (SELECT t.doc_id, UNNEST(string_split(lower(t.text), ' ')) AS tok
             |       FROM documents t WHERE t.lang = 'en'),
             |cr AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY 1),
             |ctg AS (SELECT tok, COUNT(*) AS c FROM tt GROUP BY 1),
             |trt AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM cr),
             |ttt AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM ctg),
             |vr AS (SELECT tok, c FROM cr ORDER BY c DESC, tok LIMIT 50),
             |vt AS (SELECT tok, c FROM ctg ORDER BY c DESC, tok LIMIT 50),
             |vrs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM vr),
             |vts AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM vt),
             |lmr AS (SELECT vr.tok, LN((vr.c + 1) / (trt.t + vrs.v + 1)) AS lr
             |        FROM vr CROSS JOIN trt CROSS JOIN vrs),
             |lmt AS (SELECT vt.tok, LN((vt.c + 1) / (ttt.t + vts.v + 1)) AS lt
             |        FROM vt CROSS JOIN ttt CROSS JOIN vts),
             |sc AS (SELECT tok.doc_id,
             |    COALESCE(lmt.lt, LN(1 / (ttt.t + vts.v + 1)))
             |      - COALESCE(lmr.lr, LN(1 / (trt.t + vrs.v + 1))) AS d
             |  FROM tok LEFT JOIN lmt USING (tok) LEFT JOIN lmr USING (tok)
             |  CROSS JOIN ttt CROSS JOIN vts CROSS JOIN trt CROSS JOIN vrs),
             |w AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             |      SUM(d) AS logw FROM sc GROUP BY 1),
             |g AS (SELECT doc_id, n_tokens, ROUND(logw, 4) AS logw,
             |    ROUND(logw - LN(-LN((((doc_id % 1048576) * 2654435761
             |        + ((doc_id >> 20) % 1048576) * 2246822519) % 4294967296 + 0.5)
             |      / 4294967296.0)), 6) AS gumbel_key FROM w),
             |pick AS (SELECT * FROM g ORDER BY gumbel_key DESC, doc_id LIMIT 100)
             |SELECT doc_id, n_tokens, logw, gumbel_key FROM pick
             |ORDER BY doc_id""".stripMargin), bench = true),

    // Token-budget mixing sample: the training-mix quota in TOKENS (the
    // unit mixes are actually specified in) — hash-prefix traversal per
    // group, keep while the running token total is under budget (the
    // crossing doc included), pre-filter below the cumulative window as
    // in sample_quota.
    Q("sample_token_budget", (s, dir) => {
      val d = docs(s, dir).withColumn("n_tokens",
        size(split(lower(col("text")), " ")).cast("long"))
      Sampling.tokenBudgetSample(d, Map("en" -> 3000L, "es" -> 1000L, "fr" -> 800L))
        .orderBy("doc_id")
    }, Some("""WITH h AS (SELECT doc_id, lang,
             |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
             |    (doc_id % 1048576) * 2654435761 % 4294967296 AS rnd FROM documents),
             |c AS (SELECT doc_id, lang, n_tokens,
             |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY rnd, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
             |  FROM h)
             |SELECT doc_id, lang, n_tokens, cum_before FROM c
             |WHERE (lang = 'en' AND cum_before < 3000)
             |   OR (lang = 'es' AND cum_before < 1000)
             |   OR (lang = 'fr' AND cum_before < 800)
             |ORDER BY doc_id""".stripMargin)),

    // Fractional-epoch upsampling: repeat under-represented groups
    // ("2.5 epochs of fr") — ⌊f⌋ copies each + a hash-picked extra for
    // the fractional part, explicit copy indices, map-side explode.
    Q("sample_upsample", (s, dir) =>
      Sampling.upsampleRepeats(
        docs(s, dir), Map("en" -> 1.0, "fr" -> 2.5, "es" -> 0.4))
        .orderBy("doc_id", "copy"),
      Some("""WITH f AS (SELECT doc_id, lang,
             |    CASE lang WHEN 'en' THEN 1.0 WHEN 'fr' THEN 2.5 WHEN 'es' THEN 0.4 END AS f,
             |    (doc_id % 1048576) * 2654435761 % 4294967296 AS rnd FROM documents),
             |c AS (SELECT doc_id, lang,
             |    CAST(FLOOR(f) AS BIGINT) +
             |      (CASE WHEN rnd < (f - FLOOR(f)) * 4294967296 THEN 1 ELSE 0 END) AS n_copies
             |  FROM f WHERE f IS NOT NULL)
             |SELECT doc_id, lang, n_copies, CAST(UNNEST(range(n_copies)) AS BIGINT) AS copy
             |FROM c WHERE n_copies > 0 ORDER BY doc_id, copy""".stripMargin)),

    // Data-mix planning: the bridge from how mixes are SPECIFIED (token
    // shares of a training budget — the LLaMA/Pile recipe shape) to how
    // they are EXECUTED (per-group epoch factors for upsample). fr is
    // deliberately unweighted (dropped from the mix — the absent-group
    // path); the oracle embeds the normalized shares as shortest
    // round-trip double literals, so every product/division is the
    // identical double on both engines.
    Q("sample_mix_plan", (s, dir) => {
      val d = docs(s, dir).withColumn("n_tokens",
        size(filter(split(lower(col("text")), " "), t => t =!= "")).cast("long"))
      Sampling.mixPlan(d,
        Map("en" -> 0.5, "zh" -> 0.125, "es" -> 0.125, "de" -> 0.125),
        totalTokens = 1000000L)
    }, Some("""WITH t AS (SELECT lang,
             |    CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS BIGINT) AS nt
             |  FROM documents),
             |g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    CAST(SUM(nt) AS BIGINT) AS tokens FROM t GROUP BY 1),
             |w AS (SELECT lang, n_docs, tokens,
             |    CAST(CASE lang WHEN 'en' THEN '0.5714285714285714' WHEN 'zh' THEN '0.14285714285714285'
             |         WHEN 'es' THEN '0.14285714285714285' WHEN 'de' THEN '0.14285714285714285' END
             |      AS DOUBLE) AS wt
             |  FROM g)
             |SELECT lang, n_docs, tokens, ROUND(wt, 6) AS weight,
             |  ROUND(wt * 1000000, 3) AS target_tokens,
             |  ROUND(wt * 1000000 / tokens, 6) AS epochs
             |FROM w WHERE wt IS NOT NULL ORDER BY lang""".stripMargin)),

    // UniMax budget allocation (Chung et al. 2023): uniform share per
    // language capped at maxEpochs repetitions, overflow waterfalls to
    // the groups that can absorb it. The prefix-capped closed form
    // (Sampling.unimaxPlan) makes the oracle an exact window-CTE replay
    // of Algorithm 1 — B/maxEpochs chosen so the sf corpus splits into
    // BOTH capped and uncapped groups.
    Q("sample_mix_unimax", (s, dir) => {
      val d = docs(s, dir).withColumn("n_tokens",
        size(filter(split(lower(col("text")), " "), t => t =!= "")).cast("long"))
      Sampling.unimaxPlan(d, totalTokens = 36000L, maxEpochs = 2.0)
    }, Some("""WITH t AS (SELECT lang,
             |    CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS BIGINT) AS nt
             |  FROM documents),
             |g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    CAST(SUM(nt) AS BIGINT) AS tokens FROM t GROUP BY 1 HAVING SUM(nt) > 0),
             |r AS (SELECT lang, n_docs, tokens, tokens * CAST(2.0 AS DOUBLE) AS cap,
             |    ROW_NUMBER() OVER (ORDER BY tokens, lang) AS i,
             |    COUNT(*) OVER () AS n,
             |    COALESCE(SUM(tokens * CAST(2.0 AS DOUBLE)) OVER (ORDER BY tokens, lang
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cprev
             |  FROM g),
             |c AS (SELECT *, cap * (n - i + 1) + cprev < 36000.0 AS capped FROM r),
             |s AS (SELECT COALESCE(MAX(CASE WHEN capped THEN i END), 0) AS t_idx,
             |    COALESCE(MAX(CASE WHEN capped THEN cprev + cap END), 0) AS ct,
             |    MAX(n) AS n FROM c),
             |a AS (SELECT c.lang, c.n_docs, c.tokens, c.cap,
             |    CASE WHEN c.capped THEN c.cap
             |         ELSE (36000.0 - s.ct) / (s.n - s.t_idx) END AS alloc
             |  FROM c, s)
             |SELECT lang, n_docs, tokens, ROUND(cap, 3) AS cap_tokens,
             |  ROUND(alloc, 3) AS alloc_tokens, ROUND(alloc / tokens, 6) AS epochs
             |FROM a ORDER BY lang""".stripMargin)),

    // UniMax EXECUTED: the waterfilled plan materialized as (id, copy)
    // repeats — full epochs copy every doc, the fractional remainder is
    // the per-doc hash pick at probability e−⌊e⌋ (the upsample rule,
    // token-accurate in expectation; exact-prefix would single-task-sort
    // the dominant group). Oracle composes the unimax CTE with the
    // proven upsample CTE over the plan's 6-dp epochs.
    Q("sample_unimax", (s, dir) => {
      val d = docs(s, dir).withColumn("n_tokens",
        size(filter(split(lower(col("text")), " "), t => t =!= "")).cast("long"))
      Sampling.unimaxSample(d, totalTokens = 36000L, maxEpochs = 2.0)
        .select(col("doc_id"), col("lang"), col("copy"))
        .orderBy("doc_id", "copy")
    }, Some("""WITH t AS (SELECT doc_id, lang,
             |    CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS BIGINT) AS nt
             |  FROM documents),
             |g AS (SELECT lang, CAST(SUM(nt) AS BIGINT) AS tokens FROM t
             |  GROUP BY 1 HAVING SUM(nt) > 0),
             |r AS (SELECT lang, tokens, tokens * CAST(2.0 AS DOUBLE) AS cap,
             |    ROW_NUMBER() OVER (ORDER BY tokens, lang) AS i,
             |    COUNT(*) OVER () AS n,
             |    COALESCE(SUM(tokens * CAST(2.0 AS DOUBLE)) OVER (ORDER BY tokens, lang
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cprev
             |  FROM g),
             |c AS (SELECT *, cap * (n - i + 1) + cprev < 36000.0 AS capped FROM r),
             |s AS (SELECT COALESCE(MAX(CASE WHEN capped THEN i END), 0) AS t_idx,
             |    COALESCE(MAX(CASE WHEN capped THEN cprev + cap END), 0) AS ct,
             |    MAX(n) AS n FROM c),
             |a AS (SELECT c.lang, ROUND((CASE WHEN c.capped THEN c.cap
             |    ELSE (36000.0 - s.ct) / (s.n - s.t_idx) END) / c.tokens, 6) AS e
             |  FROM c, s),
             |f AS (SELECT t.doc_id, t.lang, a.e,
             |    (t.doc_id % 1048576) * 2654435761 % 4294967296 AS rnd
             |  FROM t JOIN a USING (lang)),
             |cnt AS (SELECT doc_id, lang, CAST(FLOOR(e) AS BIGINT) +
             |    (CASE WHEN rnd < (e - FLOOR(e)) * 4294967296 THEN 1 ELSE 0 END) AS n_copies
             |  FROM f),
             |u AS (SELECT doc_id, lang, CAST(UNNEST(range(n_copies)) AS BIGINT) AS copy
             |  FROM cnt WHERE n_copies > 0)
             |SELECT doc_id, lang, copy FROM u ORDER BY doc_id, copy""".stripMargin)),

    // Deterministic per-group head — the uniform-representation sampler
    // (same hash order as split/shuffle, so the pick is engine-
    // reproducible and corpus-order-free); full SQL oracle.
    // Weighted k-draw over soft-dedup weights: the Gumbel-max pick
    // (prob ∝ weight, without replacement) composed with the
    // 1/group-size reweighting, replayed exactly by the wide-hash SQL.
    Q("sample_weighted", (s, dir) =>
      Sampling.weightedSample(Dedup.softDedupWeights(docs(s, dir)), k = 100),
      Some("""WITH w AS (SELECT doc_id,
             |    ROUND(CAST(1.0 AS DOUBLE) / COUNT(*) OVER (PARTITION BY text), 6) AS weight
             |  FROM documents),
             |g AS (SELECT doc_id,
             |    ROUND(ln(weight) - ln(-ln((((doc_id % 1048576) * 2654435761
             |        + ((doc_id >> 20) % 1048576) * 2246822519) % 4294967296 + 0.5)
             |      / 4294967296.0)), 6) AS sample_key
             |  FROM w WHERE weight > 0)
             |SELECT doc_id, sample_key
             |FROM (SELECT * FROM g ORDER BY sample_key DESC, doc_id LIMIT 100)
             |ORDER BY doc_id""".stripMargin)),

    // The soft-dedup → weighted-draw loop closed INSIDE the language:
    // dedup_soft appends (n_copies, weight), weighted_sample draws the
    // budget ∝ weight — composed oracle over the same wide-hash pick.
    Q("curation_pipeline_soft", (s, dir) =>
      CurationPipeline.fromYaml(docs(s, dir),
        """steps:
          |  - dedup_soft
          |  - weighted_sample: { k: 100 }
          |""".stripMargin)
        .select("doc_id", "n_copies", "weight")
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id,
             |    CAST(COUNT(*) OVER (PARTITION BY text) AS BIGINT) AS n_copies,
             |    ROUND(CAST(1.0 AS DOUBLE) / COUNT(*) OVER (PARTITION BY text), 6) AS weight
             |  FROM documents),
             |g AS (SELECT doc_id,
             |    ROUND(ln(weight) - ln(-ln((((doc_id % 1048576) * 2654435761
             |        + ((doc_id >> 20) % 1048576) * 2246822519) % 4294967296 + 0.5)
             |      / 4294967296.0)), 6) AS sample_key
             |  FROM w WHERE weight > 0),
             |pick AS (SELECT doc_id FROM
             |  (SELECT * FROM g ORDER BY sample_key DESC, doc_id LIMIT 100))
             |SELECT doc_id, n_copies, weight FROM w
             |WHERE doc_id IN (SELECT doc_id FROM pick)
             |ORDER BY doc_id""".stripMargin)),

    Q("sample_group_head", (s, dir) =>
      Sampling.perGroupHead(docs(s, dir), 20, "lang")
        .select(col("doc_id"), col("lang"), col("rk"))
        .orderBy("doc_id"),
      Some("""WITH r AS (SELECT doc_id, lang,
             |    (doc_id % 1048576) * 2654435761 % 4294967296 AS rnd FROM documents),
             |k AS (SELECT doc_id, lang,
             |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY rnd, doc_id) AS rk FROM r)
             |SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
             |FROM k WHERE rk <= 20 ORDER BY doc_id""".stripMargin)),

    // Corpus clustering as a first-class op: the IVF coarse quantizer IS
    // the k-means clusterer (hash seeding + Lloyd, broadcast-array
    // zero-exchange assignment). Iterative fit → golden.
    Q("embedding_clusters", (s, dir) =>
      Similarity.clusterAssign(emb(s, dir), nlist = 16).orderBy("vec_id"),
      None),

    // Diversity sampling: uniform per-CLUSTER heads instead of
    // frequency-weighted picks — head-heavy topics stop drowning the
    // tail of the mix. Cluster fit upstream → golden.
    Q("sample_diverse", (s, dir) =>
      Sampling.perGroupHead(
          Similarity.clusterAssign(emb(s, dir), nlist = 16),
          n = 10, groupCol = "cluster", idCol = "vec_id")
        .select(col("vec_id"), col("cluster"), col("rk"))
        .orderBy("vec_id"),
      None),

    // Rank-based quality cut: keep the best 80% of each language by LM
    // perplexity (lower = better) — exact per-group fraction via
    // row_number + same-partitioning group count; the skew-immune
    // approximate-threshold form (scoreThresholdFilter) is
    // property-tested in ExtensionsSpec.
    Q("quality_rank_filter", (s, dir) => {
      val d = docs(s, dir)
      val ppl = Vocabulary.perplexity(d, vocabSize = 20).select(col("doc_id"), col("ppl"))
      val scored = d.join(ppl, Seq("doc_id")).withColumn("score", -col("ppl"))
      Sampling.topFractionByScore(scored, keepTopFrac = 0.8)
        .select(col("doc_id"), col("lang"), col("ppl"), col("q_rank"))
        .orderBy("doc_id")
    }, Some("""WITH tok AS (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok FROM documents),
             |cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY 1),
             |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM cnt),
             |voc AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 20),
             |vs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM voc),
             |lm AS (SELECT tok, LN((c + 1) / (t + v + 1)) AS logp
             |       FROM voc CROSS JOIN tot CROSS JOIN vs),
             |sc AS (SELECT doc_id, COALESCE(logp, LN(1 / (t + v + 1))) AS lp
             |       FROM tok LEFT JOIN lm USING (tok) CROSS JOIN tot CROSS JOIN vs),
             |agg AS (SELECT doc_id, -AVG(lp) AS nll FROM sc GROUP BY 1),
             |p AS (SELECT d.doc_id, d.lang, ROUND(EXP(a.nll), 4) AS ppl
             |      FROM documents d JOIN agg a USING (doc_id)),
             |r AS (SELECT doc_id, lang, ppl,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY ppl, doc_id) AS BIGINT) AS q_rank,
             |    COUNT(*) OVER (PARTITION BY lang) AS n FROM p)
             |SELECT doc_id, lang, ppl, q_rank FROM r
             |WHERE q_rank <= CEIL(n * 0.8) ORDER BY doc_id""".stripMargin)),

    // The declarative curation pipeline end-to-end: clean → language
    // filter → quality filter → exact dedup → quota mix → split →
    // shuffle-shard, all from ONE YAML config (CurationConfig /
    // CurationPipeline). The oracle composes the already-proven SQL
    // forms of every step — the whole pipeline is exact, not sampled.
    Q("curation_pipeline", (s, dir) =>
      CurationPipeline.fromYaml(docs(s, dir), curationYaml)
        .select(col("doc_id"), col("lang"), col("split"), col("shard"), col("pos"))
        .orderBy("doc_id"),
      Some(s"""$curationCtes
         |SELECT doc_id, lang, split, CAST(shard AS BIGINT) AS shard,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY rnd, doc_id) AS BIGINT) AS pos
         |FROM sh ORDER BY 1""".stripMargin)),

    // The pipeline funnel: per-step survivor counts — the observability
    // view every curation run publishes ("which step dropped the
    // corpus?"); oracle counts the same composed CTEs stage by stage.
    Q("curation_funnel", (s, dir) =>
      CurationPipeline.funnel(
        docs(s, dir), graft.config.CurationConfig.fromYaml(curationYaml))
        .orderBy("step_idx"),
      Some(s"""$curationCtes
         |SELECT * FROM (
         |  SELECT -1 AS step_idx, 'input' AS step,
         |    CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS rows_out
         |  UNION ALL SELECT 0, 'clean', (SELECT COUNT(*) FROM c)
         |  UNION ALL SELECT 1, 'langid_keep', (SELECT COUNT(*) FROM lk)
         |  UNION ALL SELECT 2, 'quality', (SELECT COUNT(*) FROM q)
         |  UNION ALL SELECT 3, 'dedup_exact', (SELECT COUNT(*) FROM d)
         |  UNION ALL SELECT 4, 'quota', (SELECT COUNT(*) FROM kept)
         |  UNION ALL SELECT 5, 'split', (SELECT COUNT(*) FROM sp)
         |  UNION ALL SELECT 6, 'shuffle', (SELECT COUNT(*) FROM sh)
         |) ORDER BY step_idx""".stripMargin)),

    // The LM-side curation pipeline: clean → benchmark decontamination
    // (probe set = an auxiliary FRAME, as eval sets are in production) →
    // CCNet-style perplexity filter (LM fit on the surviving corpus
    // itself) → exact dedup — each step the already-proven oracle form,
    // composed. Complements curation_pipeline (which covers the
    // langid/quality/mix/split/shard half of the language).
    Q("curation_pipeline_lm", (s, dir) => {
      val d = docs(s, dir)
      CurationPipeline.fromYaml(
        d.filter(col("doc_id") >= 5),
        """steps:
          |  - clean: {}
          |  - decontaminate: { probes: eval, ngram: 3 }
          |  - perplexity: { max_ppl: 300, vocab: 20 }
          |  - dedup_exact: {}
          |""".stripMargin,
        aux = Map("eval" -> d.filter(col("doc_id") < 5)))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }, Some(
      """WITH c AS (SELECT doc_id, lang, source,
        |    trim(regexp_replace(regexp_replace(text, '[\x00-\x1F\x7F]', ' ', 'g'), ' {2,}', ' ', 'g')) AS text
        |  FROM documents WHERE doc_id >= 5),
        |t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM c),
        |g0 AS (SELECT doc_id, UNNEST(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        |  FROM t WHERE len(toks) >= 3),
        |g AS (SELECT DISTINCT doc_id, s FROM g0),
        |pt AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |  FROM documents WHERE doc_id < 5),
        |pg AS (SELECT DISTINCT UNNEST(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        |  FROM pt WHERE len(toks) >= 3),
        |hit AS (SELECT DISTINCT g.doc_id FROM g JOIN pg ON g.s = pg.s),
        |dec AS (SELECT * FROM c WHERE doc_id NOT IN (SELECT doc_id FROM hit)),
        |tok AS (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok FROM dec),
        |cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM cnt),
        |voc AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 20),
        |vs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM voc),
        |lm AS (SELECT tok, LN((c + 1) / (t + v + 1)) AS logp
        |  FROM voc CROSS JOIN tot CROSS JOIN vs),
        |sc AS (SELECT doc_id, COALESCE(logp, LN(1 / (t + v + 1))) AS lp
        |  FROM tok LEFT JOIN lm USING (tok) CROSS JOIN tot CROSS JOIN vs),
        |agg AS (SELECT doc_id, -AVG(lp) AS nll FROM sc GROUP BY 1),
        |pk AS (SELECT dec.* FROM dec JOIN agg USING (doc_id)
        |  WHERE ROUND(EXP(nll), 4) <= 300),
        |dd AS (SELECT * FROM pk WHERE doc_id IN
        |  (SELECT MIN(doc_id) FROM pk GROUP BY text))
        |SELECT doc_id, lang, source FROM dd ORDER BY 1""".stripMargin)),

    // The mixing half of the pipeline language: quality gate → exact
    // dedup → fractional-epoch upsample (row key becomes (id, copy)) →
    // shuffle-shard keying copies apart (hash mixes the copy index, so
    // a doc's repeats scatter across shards instead of stacking
    // back-to-back in training order). Oracle composes the proven SQL
    // forms; the (id·131+copy) shard key is closed-form.
    Q("curation_pipeline_mix", (s, dir) =>
      CurationPipeline.fromYaml(docs(s, dir),
        """steps:
          |  - quality: { min_tokens: 10 }
          |  - dedup_exact: {}
          |  - upsample: { group: lang, factors: { en: 1.0, fr: 2.5, es: 0.4 } }
          |  - shuffle: { shards: 4 }
          |""".stripMargin)
        .select(col("doc_id"), col("lang"), col("copy"), col("shard"), col("pos"))
        .orderBy("doc_id", "copy"),
      Some("""WITH q AS (SELECT doc_id, lang, text FROM documents
             |  WHERE len(string_split(lower(text), ' ')) >= 10),
             |d AS (SELECT * FROM q WHERE doc_id IN (SELECT MIN(doc_id) FROM q GROUP BY text)),
             |f AS (SELECT doc_id, lang,
             |    CASE lang WHEN 'en' THEN 1.0 WHEN 'fr' THEN 2.5 WHEN 'es' THEN 0.4 END AS f,
             |    (doc_id % 1048576) * 2654435761 % 4294967296 AS rnd FROM d),
             |c AS (SELECT doc_id, lang,
             |    CAST(FLOOR(f) AS BIGINT) +
             |      (CASE WHEN rnd < (f - FLOOR(f)) * 4294967296 THEN 1 ELSE 0 END) AS n_copies
             |  FROM f WHERE f IS NOT NULL),
             |u AS (SELECT doc_id, lang, CAST(UNNEST(range(n_copies)) AS BIGINT) AS copy
             |  FROM c WHERE n_copies > 0),
             |k AS (SELECT doc_id, lang, copy,
             |    ((doc_id * 131 + copy) % 1048576) * 2654435761 % 4294967296 AS rnd2 FROM u),
             |sh AS (SELECT *, rnd2 % 4 AS shard FROM k)
             |SELECT doc_id, lang, copy, CAST(shard AS BIGINT) AS shard,
             |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY rnd2, doc_id, copy) AS BIGINT) AS pos
             |FROM sh ORDER BY doc_id, copy""".stripMargin)),

    // The web half of the pipeline language end-to-end (the C4/
    // RefinedWeb topology): URL dedup FIRST (the byte-cost pre-pass —
    // the compiler refuses it after any text step), then exact-substring
    // span removal on the url-deduped corpus, then a token-count gate on
    // the REWRITTEN text. Oracle composes the proven SQL forms of all
    // three steps — whole-pipeline exact.
    Q("curation_pipeline_web", (s, dir) =>
      CurationPipeline.fromYaml(docsWithUrl(s, dir),
        """steps:
          |  - url_dedup: {}
          |  - substring_remove: { k: 5 }
          |  - quality: { min_tokens: 5 }
          |""".stripMargin)
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .orderBy("doc_id"),
      oracle = Some(urlCte +
        """, keepu AS (SELECT MIN(doc_id) AS doc_id FROM urls GROUP BY url_norm),
          |dsel AS (SELECT d.doc_id, d.lang, d.source, d.text
          |  FROM documents d JOIN keepu USING (doc_id)),
          |tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM dsel),
          |t2 AS (SELECT doc_id, toks, len(toks) AS nt FROM tok),
          |win AS (
          |  SELECT doc_id, UNNEST(range(0, nt - 5 + 1)) AS pos, toks FROM t2 WHERE nt >= 5),
          |w2 AS (
          |  SELECT doc_id, pos, array_to_string(toks[pos + 1 : pos + 5], ' ') AS w FROM win),
          |cnt AS (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY w) AS c FROM w2),
          |hits AS (SELECT doc_id, pos FROM cnt WHERE c >= 2),
          |brk AS (
          |  SELECT doc_id, pos,
          |         CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
          |              OR pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) >= 5
          |              THEN 1 ELSE 0 END AS b
          |  FROM hits),
          |isl AS (SELECT doc_id, pos, SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM brk),
          |span AS (SELECT doc_id, g, MIN(pos) AS st, MAX(pos) AS e FROM isl GROUP BY 1, 2),
          |drops AS (SELECT doc_id, UNNEST(range(st, e + 5)) AS pos FROM span),
          |tokpos AS (
          |  SELECT doc_id, UNNEST(range(0, len(toks0))) AS pos, toks0
          |  FROM (SELECT doc_id, string_split(text, ' ') AS toks0 FROM dsel)),
          |toksC AS (SELECT doc_id, pos, toks0[pos + 1] AS tk FROM tokpos),
          |keepT AS (
          |  SELECT t.doc_id, t.pos, t.tk FROM toksC t
          |  LEFT JOIN drops dr ON t.doc_id = dr.doc_id AND t.pos = dr.pos
          |  WHERE dr.pos IS NULL),
          |agg AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY pos) AS text
          |        FROM keepT GROUP BY 1),
          |rew AS (SELECT t2.doc_id, COALESCE(agg.text, '') AS text
          |        FROM t2 LEFT JOIN agg ON t2.doc_id = agg.doc_id)
          |SELECT r.doc_id, d.lang, d.source, r.text
          |FROM rew r JOIN dsel d USING (doc_id)
          |WHERE len(list_filter(string_split(lower(r.text), ' '), x -> x <> '')) >= 5
          |ORDER BY 1""".stripMargin), bench = true),

    // The Gopher-rule half of the language: repetition gate (duplicate-
    // token fraction + most-frequent-bigram share, null bigram metrics
    // passing — no evidence isn't spam evidence) → token-count gate →
    // exact dedup, all against the composed SQL oracle. Thresholds sit
    // inside the corpus's metric distribution (median dup_token_frac
    // 0.54, p90 top_bigram_frac 0.069) so both gates really cut.
    Q("curation_pipeline_gopher", (s, dir) =>
      CurationPipeline.fromYaml(docs(s, dir),
        """steps:
          |  - repetition: { max_dup_token_frac: 0.6, max_top_bigram_frac: 0.05 }
          |  - quality: { min_tokens: 10 }
          |  - dedup_exact: {}
          |""".stripMargin)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id"),
      Some("""WITH base AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t <> '') AS sl
             |  FROM documents),
             |toks AS (SELECT doc_id, UNNEST(sl) AS tok FROM base),
             |tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
             |ts AS (SELECT doc_id,
             |    ROUND(CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c), 4) AS dtf FROM tc GROUP BY 1),
             |bgs AS (SELECT doc_id,
             |    UNNEST(list_transform(range(1, len(sl)), i -> sl[i] || ' ' || sl[i + 1])) AS bg
             |  FROM base),
             |bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bgs GROUP BY 1, 2),
             |bs AS (SELECT doc_id,
             |    ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 4) AS tbf FROM bc GROUP BY 1),
             |rep AS (SELECT ts.doc_id FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id
             |  WHERE dtf <= 0.6 AND (tbf IS NULL OR tbf <= 0.05)),
             |q AS (SELECT d.doc_id, d.lang, d.source, d.text FROM documents d
             |  JOIN rep ON d.doc_id = rep.doc_id
             |  WHERE len(string_split(lower(d.text), ' ')) >= 10),
             |dd AS (SELECT * FROM q WHERE doc_id IN
             |  (SELECT MIN(doc_id) FROM q GROUP BY text))
             |SELECT doc_id, lang, source FROM dd ORDER BY 1""".stripMargin)),

    // The capstone: a 9-step CORPUS-RELEASE run covering the whole
    // declarative language in one pipeline — URL dedup (byte-cost
    // pre-pass, compiler-ordered first) → clean → language filter →
    // token gate → repetition gate → exact dedup → per-language quota →
    // train/val/test split → shuffle-shard. Every step is the proven
    // oracle form, composed; the result is exact end to end.
    // Training-ready tar release INSIDE the language: the terminal
    // sink_tar step writes byte-budget WebDataset shards and hands back
    // the DECODED read-back frame — what this entry verifies is the
    // release exactly as a training loader would read it (member
    // naming, shard sizing, payload text, lang sidecar). Oracle
    // composes the proven quality + dedup_exact forms with the
    // sink_tar_sized shard arithmetic (strlen(text) + strlen(lang)
    // member bytes). Per-run unique path, same as curation_release.
    Q("curation_release_tar", (s, dir) =>
      CurationPipeline.fromYaml(docs(s, dir),
        s"""steps:
           |  - quality: { min_tokens: 10 }
           |  - dedup_exact: {}
           |  - sink_tar: { path: ${scratchDir("graft_release_tar", dir)},
           |                target_bytes: 65536 }
           |""".stripMargin)
        .select(col("doc_id"), col("lang"), col("text"),
          col("shard").cast("long").as("shard"))
        .orderBy("doc_id"),
      Some("""WITH q AS (SELECT doc_id, lang, text FROM documents
             |  WHERE len(string_split(lower(text), ' ')) >= 10),
             |d AS (SELECT * FROM q WHERE doc_id IN (SELECT MIN(doc_id) FROM q GROUP BY text)),
             |s AS (SELECT CAST(CEIL(SUM(strlen(text) + strlen(lang)) / 65536.0) AS BIGINT) AS n
             |  FROM d)
             |SELECT d.doc_id, d.lang, d.text, d.doc_id % s.n AS shard
             |FROM d, s ORDER BY doc_id""".stripMargin)),

    // The IMAGE half of the release topology inside the language: a
    // multimodal sample row carries a container payload (video/audio
    // envelope) AND a thumbnail image as opaque binary columns; the
    // container_meta gate drops alien formats and over-long media
    // WITHOUT a codec (magic-byte envelope walk), then dedup_phash
    // collapses near-duplicate thumbnails (dHash families). Both
    // fixtures are closed-form in doc_id (MediaFixtures — independent
    // writer code paths), so the composed chain has a full SQL oracle:
    // keep container ∈ {mp4, webm, mp3} with duration ≤ 900 ms (the
    // bound bites exactly the mp4s with id > 400), then the min
    // surviving member of each dHash family of 5.
    Q("curation_pipeline_media", (s, dir) => {
      val ids = docs(s, dir).select(col("doc_id"), col("lang"))
      val media = MediaFixtures.syntheticContainers(ids.select("doc_id"))
        .select(col("media_id").as("doc_id"), col("payload").as("media"))
      val thumbs = MediaFixtures.syntheticBitmaps(ids.select("doc_id"))
        .select(col("media_id").as("doc_id"), col("payload").as("thumb"))
      val frame = ids.join(media, "doc_id").join(thumbs, "doc_id")
      CurationPipeline.fromYaml(frame,
        """steps:
          |  - container_meta: { formats: [mp4, webm, mp3], max_duration_ms: 900,
          |                      payload_col: media }
          |  - dedup_phash: { max_hamming: 2, payload_col: thumb }
          |""".stripMargin)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }, Some("""WITH m AS (
              |  SELECT doc_id, lang,
              |    CASE doc_id % 6 WHEN 0 THEN 'mp4' WHEN 1 THEN 'mp3' WHEN 2 THEN 'webm'
              |         WHEN 3 THEN 'flac' WHEN 4 THEN 'ogg' ELSE 'aac' END AS container,
              |    CAST(CASE doc_id % 6 WHEN 0 THEN 500 + doc_id % 1000
              |         WHEN 1 THEN ((5 + doc_id % 20) * 1152 * 1000) // 44100
              |         WHEN 2 THEN 250 + doc_id % 500
              |         WHEN 3 THEN (10 + doc_id % 50) * 100
              |         WHEN 4 THEN (20 + doc_id % 100) * 10
              |         ELSE ((3 + doc_id % 15) * 1024 * 1000) // 44100 END AS BIGINT) AS duration_ms
              |  FROM documents),
              |kept AS (SELECT doc_id, lang FROM m
              |  WHERE container IN ('mp4', 'webm', 'mp3') AND duration_ms <= 900),
              |fam AS (SELECT doc_id, lang, doc_id // 5 AS f FROM kept)
              |SELECT doc_id, lang FROM fam
              |WHERE doc_id IN (SELECT MIN(doc_id) FROM fam GROUP BY f)
              |ORDER BY doc_id""".stripMargin)),

    // Exact n-gram Jaccard dedup as a language STEP: quality gate, then
    // prefix-filtered pair generation + connected components + min-id
    // keep — the full selection semantics (not just the pair list the
    // standalone dedup_ngram_jaccard entry verifies). The oracle replays
    // the clustering with a recursive transitive closure over the
    // qualifying pairs.
    Q("curation_pipeline_ngram", (s, dir) =>
      CurationPipeline.fromYaml(docs(s, dir),
        """steps:
          |  - quality: { min_tokens: 10 }
          |  - dedup_ngram: { threshold: 0.8, shingle_n: 3 }
          |""".stripMargin)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some("""WITH RECURSIVE q AS (SELECT doc_id, lang, text FROM documents
             |  WHERE len(string_split(lower(text), ' ')) >= 10),
             |""".stripMargin +
        ngramPairCtes("q", "CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.8") + ",\n" +
        ngramClosureCtes + "\n" +
        """SELECT doc_id, lang FROM q WHERE doc_id NOT IN (SELECT u FROM dr)
          |ORDER BY doc_id""".stripMargin), bench = true),

    // Asymmetric CONTAINMENT dedup as a language step, on the fixture
    // that motivates it: synthetic short docs (the first 6 words of
    // every 4th document, id + 100000) are embedded verbatim in their
    // parents — symmetric Jaccard structurally misses them (union
    // denominator), containment 0.9 collapses each onto its parent
    // (min-id keep). Full SQL oracle, recursive-closure clustering.
    Q("curation_pipeline_containment", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "lang", "text")
      val shorts = d.filter(col("doc_id") % 4 === 0).select(
        (col("doc_id") + 100000).as("doc_id"), col("lang"),
        array_join(slice(split(lower(col("text")), " "), 1, 6), " ").as("text"))
      CurationPipeline.fromYaml(d.unionByName(shorts),
        """steps:
          |  - dedup_ngram: { threshold: 0.9, metric: containment, shingle_n: 3 }
          |""".stripMargin)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }, Some("""WITH RECURSIVE d AS (
             |  SELECT doc_id, lang, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000, lang,
             |    array_to_string((string_split(lower(text), ' '))[1:6], ' ')
             |  FROM documents WHERE doc_id % 4 = 0),
             |""".stripMargin +
        ngramPairCtes("d", "CAST(inter AS DOUBLE) / LEAST(na.n, nb.n) >= 0.9") + ",\n" +
        ngramClosureCtes + "\n" +
        """SELECT doc_id, lang FROM d WHERE doc_id NOT IN (SELECT u FROM dr)
          |ORDER BY doc_id""".stripMargin)),

    // Winnowing dedup as a language step (Schleimer 2003 fingerprint
    // selection + shared-fp pairs + min-id clusters). xxhash-seeded
    // fingerprints have no SQL form -> golden, like dedup_winnow itself;
    // step-vs-operator parity is asserted in CurationPipelineSpec.
    // Composed oracle: winnow fingerprint counts have no SQL form → the
    // verified pair set is pinned; gate + keeper election replay in SQL.
    Q("curation_pipeline_winnow", (s, dir) =>
      CurationPipeline.fromYaml(docs(s, dir),
        """steps:
          |  - quality: { min_tokens: 10 }
          |  - dedup_winnow: { min_shared: 2, k: 5, w: 4 }
          |""".stripMargin)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some(
        s"""WITH RECURSIVE pairs AS (SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b
           |  FROM (VALUES ${PinnedOracles.winnowPairs}) v(a, b)),
           |gated AS (SELECT doc_id, lang FROM documents
           |  WHERE ${qualityGateSql(10)}),
           |$clusterDropCtes
           |SELECT doc_id, lang FROM gated
           |WHERE doc_id NOT IN (SELECT id FROM drops) ORDER BY doc_id""".stripMargin)),

    // LSH-hyperplane embedding near-dup as a language STEP through the
    // auxiliary embeddings table (the dedup_semantic aux convention).
    // Unlike dedup_semantic's live-corpus IVF fit, the hyperplanes are
    // deterministic functions of the vector — hash-seeded → golden,
    // like dedup_embedding_lsh; step-vs-operator parity in
    // CurationPipelineSpec.
    // Composed oracle: quality gate, exact cosine + threshold over the
    // gated embeddings, the recursive-CTE keeper election and the drop
    // anti-join ALL replay in SQL; the pin records only banding recall
    // misses (sentinel when none).
    Q("curation_pipeline_embdedup", (s, dir) =>
      CurationPipeline.fromYaml(docs(s, dir),
        """steps:
          |  - quality: { min_tokens: 10 }
          |  - dedup_embedding: { embeddings: emb, threshold: 0.4, bits: 2 }
          |""".stripMargin,
        aux = Map("emb" -> Tables.table(s, dir, "embeddings")))
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some(
        s"""WITH RECURSIVE miss AS (SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b
           |  FROM (VALUES ${PinnedOracles.embdedupMiss}) v(a, b)),
           |gated AS (SELECT doc_id, lang FROM documents
           |  WHERE ${qualityGateSql(10)}),
           |ge AS (SELECT e.vec_id, e.embedding FROM embeddings e
           |  JOIN gated g ON g.doc_id = e.vec_id),
           |pairs AS (SELECT qa.vec_id AS a, qb.vec_id AS b
           |  FROM ge qa JOIN ge qb ON qa.vec_id < qb.vec_id
           |  WHERE list_cosine_similarity(CAST(qa.embedding AS DOUBLE[]),
           |      CAST(qb.embedding AS DOUBLE[])) >= 0.4
           |    AND NOT EXISTS (SELECT 1 FROM miss
           |      WHERE miss.a = qa.vec_id AND miss.b = qb.vec_id)),
           |$clusterDropCtes
           |SELECT doc_id, lang FROM gated
           |WHERE doc_id NOT IN (SELECT id FROM drops) ORDER BY doc_id""".stripMargin)),

    // …and the same step ingesting by SHARD through the persisted
    // (vec_id, embedding) index — deterministic hyperplanes mean no
    // fitted state, so the shard-mode refusal now holds ONLY the
    // live-corpus fits (dedup_semantic / sample_diverse). Golden;
    // shard-vs-batch parity in CurationPipelineSpec.
    Q("curation_release_incr_emb", (s, dir) => {
      val state = scratchDir("graft_incr_emb_state", dir)
      val auxEmb = Map("emb" -> Tables.table(s, dir, "embeddings"))
      val p = graft.config.CurationConfig.fromYaml(
        """steps:
          |  - quality: { min_tokens: 10 }
          |  - dedup_embedding: { embeddings: emb, threshold: 0.4, bits: 2 }
          |""".stripMargin)
      val d = docs(s, dir)
      val s0 = CurationPipeline.applyShard(
          d.filter(col("doc_id") < 250), p, state, "0", aux = auxEmb)
        .select("doc_id", "lang")
      val s1 = CurationPipeline.applyShard(
          d.filter(col("doc_id") >= 250), p, state, "1", aux = auxEmb)
        .select("doc_id", "lang")
      s0.unionByName(s1).orderBy("doc_id")
    }, None),

    // SHARD-INGEST ngram dedup: two ingest-ordered shards through the
    // persisted (doc_id, shingle) index — corpus never re-shingled. The
    // oracle replays the SEQUENTIAL semantics exactly: shard 0 clusters
    // over its own pairs; shard 1 clusters over pairs touching shard 1
    // in the union graph (its drop verdict equals the full-union one
    // because every path to a smaller id either stays in shard 1 —
    // those edges all touch shard 1 — or first touches a shard-0 doc,
    // which is already smaller than every shard-1 id). The documented
    // no-retroactive-drop asymmetry is exactly the d0-vs-d1 split.
    Q("curation_release_incr_ngram", (s, dir) => {
      val d = docs(s, dir)
      val state = scratchDir("graft_incr_ngram_state", dir)
      val p = graft.config.CurationConfig.fromYaml(
        """steps:
          |  - quality: { min_tokens: 10 }
          |  - dedup_ngram: { threshold: 0.8, shingle_n: 3 }
          |""".stripMargin)
      val s0 = CurationPipeline.applyShard(
          d.filter(col("doc_id") < 250), p, state, "0")
        .select("doc_id", "lang")
      val s1 = CurationPipeline.applyShard(
          d.filter(col("doc_id") >= 250), p, state, "1")
        .select("doc_id", "lang")
      s0.unionByName(s1).orderBy("doc_id")
    }, Some("""WITH RECURSIVE q AS (SELECT doc_id, lang, text FROM documents
             |  WHERE len(string_split(lower(text), ' ')) >= 10),
             |""".stripMargin +
        ngramPairCtes("q", "CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.8") + ",\n" +
        """e0 AS (SELECT doc_a AS u, doc_b AS v FROM jp WHERE doc_b < 250
             |       UNION ALL SELECT doc_b, doc_a FROM jp WHERE doc_b < 250),
             |r0 AS (SELECT u, u AS m FROM (SELECT DISTINCT u FROM e0)
             |       UNION SELECT e0.u, r.m FROM e0 JOIN r0 r ON e0.v = r.u),
             |d0 AS (SELECT u FROM r0 GROUP BY u HAVING MIN(m) < u),
             |e1 AS (SELECT doc_a AS u, doc_b AS v FROM jp
             |       UNION ALL SELECT doc_b, doc_a FROM jp),
             |r1 AS (SELECT u, u AS m FROM (SELECT DISTINCT u FROM e1)
             |       UNION SELECT e1.u, r.m FROM e1 JOIN r1 r ON e1.v = r.u),
             |d1 AS (SELECT u FROM r1 GROUP BY u HAVING MIN(m) < u)
             |SELECT doc_id, lang FROM q
             |WHERE (doc_id < 250 AND doc_id NOT IN (SELECT u FROM d0))
             |   OR (doc_id >= 250 AND doc_id NOT IN (SELECT u FROM d1))
             |ORDER BY doc_id""".stripMargin)),

    // The remaining shard-ingest dedup families composed end-to-end:
    // url_dedup → substring_remove (standing window-count index, shard
    // docs REWRITTEN, corpus never re-tokenized) → dedup_simhash
    // (persisted signature index) → dedup_exact (first-arrival hash
    // keys). xxhash-seeded signatures have no SQL form → golden;
    // per-shard restricted parity is spec-asserted in
    // CurationPipelineSpec.
    Q("curation_release_incr_more", (s, dir) => {
      val withUrl = docsWithUrl(s, dir)
      val state = scratchDir("graft_incr_more_state", dir)
      val p = graft.config.CurationConfig.fromYaml(
        """steps:
          |  - url_dedup: {}
          |  - substring_remove: { k: 5 }
          |  - dedup_simhash: { max_hamming: 3 }
          |  - dedup_exact: {}
          |""".stripMargin)
      val s0 = CurationPipeline.applyShard(
          withUrl.filter(col("doc_id") < 250), p, state, "0")
        .select(col("doc_id"), col("lang"), length(col("text")).as("n_chars_kept"))
      val s1 = CurationPipeline.applyShard(
          withUrl.filter(col("doc_id") >= 250), p, state, "1")
        .select(col("doc_id"), col("lang"), length(col("text")).as("n_chars_kept"))
      s0.unionByName(s1).orderBy("doc_id")
    }, None),

    // The shard-ingest release with MID-INGEST STATE COMPACTION: three
    // ingest-ordered shards, the accumulated state folded to one
    // batch=c<id> dir per step between shards 2 and 3
    // (CurationPipeline.compactShardState — the small-files maintenance
    // a long-lived ingest runs) — and the result must still equal the
    // SAME composed oracle: compaction is pure layout, never semantics.
    // LM fit scope stays shard 0 (doc_id < 250), matching the oracle.
    Q("curation_release_incr_compact", (s, dir) => {
      val lined = docsWithUrl(s, dir).withColumn("text",
        concat_ws("\n",
          substring(col("text"), 1, 40),
          lit("shared boilerplate header line"),
          substring(col("text"), 41, 40),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit("promo footer visit example dot com"))
            .otherwise(substring(col("text"), 81, 40))))
      val state = scratchDir("graft_incr_comp_state", dir)
      val p = graft.config.CurationConfig.fromYaml(
        """steps:
          |  - url_dedup: {}
          |  - dedup_lines: { min_chars: 10 }
          |  - dedup_exact: {}
          |  - perplexity: { max_ppl: 150, vocab: 20 }
          |""".stripMargin)
      val s0 = CurationPipeline.applyShard(
          lined.filter(col("doc_id") < 250), p, state, "0")
        .select("doc_id", "lang", "text")
      val s1 = CurationPipeline.applyShard(
          lined.filter(col("doc_id") >= 250 && col("doc_id") < 375), p, state, "1")
        .select("doc_id", "lang", "text")
      // TRULY force the shard frames before compaction rewrites the
      // state layout their lazy plans list files from: a parquet
      // round-trip, not a Materialize (a no-op under
      // spark.graft.checkpoint=off, the one mode whose plans stay lazy).
      s0.unionByName(s1).write.mode("overwrite").parquet(s"$state/_gate_release")
      val got01 = s.read.parquet(s"$state/_gate_release")
      CurationPipeline.compactShardState(s, state)
      val s2 = CurationPipeline.applyShard(
          lined.filter(col("doc_id") >= 375), p, state, "2")
        .select("doc_id", "lang", "text")
      got01.unionByName(s2).orderBy("doc_id")
    }, Some(incrReleaseOracle)),

    // The STREAMING face of the shard-ingest release: the SAME YAML
    // runs as a foreachBatch sink (CurationPipeline.curationSink), each
    // micro-batch curated against the standing state and appended as
    // its own release slice — the continuous-crawl topology end to end
    // inside the language. Identical composed oracle as
    // curation_release_incr: batch splits are the shard splits.
    Q("streaming_curation_replay", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val lined = docsWithUrl(s, dir).withColumn("text",
        concat_ws("\n",
          substring(col("text"), 1, 40),
          lit("shared boilerplate header line"),
          substring(col("text"), 41, 40),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit("promo footer visit example dot com"))
            .otherwise(substring(col("text"), 81, 40))))
      val rows = lined.select("doc_id", "lang", "text", "url")
        .as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
      val base = scratchDir("graft_stream_cur", dir)
      val p = graft.config.CurationConfig.fromYaml(
        """steps:
          |  - url_dedup: {}
          |  - dedup_lines: { min_chars: 10 }
          |  - dedup_exact: {}
          |  - perplexity: { max_ppl: 150, vocab: 20 }
          |""".stripMargin)
      val input = MemoryStream[(Long, String, String, String)]
      val q = input.toDF().toDF("doc_id", "lang", "text", "url")
        .writeStream.outputMode("append")
        .foreachBatch(CurationPipeline.curationSink(p, s"$base/state", s"$base/release"))
        .option("checkpointLocation", s"$base/ckpt").start()
      try Seq(rows.filter(_._1 < 250), rows.filter(_._1 >= 250))
        .filter(_.nonEmpty)
        .foreach { b => input.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      s.read.parquet(s"$base/release")
        .select("doc_id", "lang", "text")
        .orderBy("doc_id")
    }, Some(incrReleaseOracle)),

    // The streaming face of the tar release: the SAME YAML as
    // curation_release_incr_tar (terminal sink_tar step) run as a
    // foreachBatch curationSink — a continuous crawl whose output IS a
    // growing WebDataset release, each micro-batch its own
    // `batch=<id>/shard-*.tar` slice. Gated on the same composed oracle
    // through the scanTar read-back.
    Q("streaming_curation_tar_replay", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val lined = docsWithUrl(s, dir).withColumn("text",
        concat_ws("\n",
          substring(col("text"), 1, 40),
          lit("shared boilerplate header line"),
          substring(col("text"), 41, 40),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit("promo footer visit example dot com"))
            .otherwise(substring(col("text"), 81, 40))))
      val rows = lined.select("doc_id", "lang", "text", "url")
        .as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
      val base = scratchDir("graft_stream_cur_tar", dir)
      val p = graft.config.CurationConfig.fromYaml(
        s"""steps:
           |  - url_dedup: {}
           |  - dedup_lines: { min_chars: 10 }
           |  - dedup_exact: {}
           |  - perplexity: { max_ppl: 150, vocab: 20 }
           |  - sink_tar: { path: $base/release, target_bytes: 65536 }
           |""".stripMargin)
      val input = MemoryStream[(Long, String, String, String)]
      val q = input.toDF().toDF("doc_id", "lang", "text", "url")
        .writeStream.outputMode("append")
        .foreachBatch(CurationPipeline.curationSink(p, s"$base/state", s"$base/release"))
        .option("checkpointLocation", s"$base/ckpt").start()
      try Seq(rows.filter(_._1 < 250), rows.filter(_._1 >= 250))
        .filter(_.nonEmpty)
        .foreach { b => input.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      val m = graft.sources.WebDataset.samples(
        graft.sources.WebDataset.scanTar(
          s, s"$base/release", requireSuccess = true),
        Seq("txt", "cls"))
      m.select(col("key").cast("long").as("doc_id"),
          decode(col("cls"), "UTF-8").as("lang"),
          decode(col("txt"), "UTF-8").as("text"))
        .orderBy("doc_id")
    }, Some(incrReleaseOracle)),

    // RELEASE-DIR compaction, parquet face: the streaming curation
    // release's accumulated shard=<batchId> slices folded IN PLACE into
    // one shard=c<maxId> dir after the stream stops (the offline
    // contract), the read-back unchanged under the same composed oracle
    // — the curationSink twin of curation_release_incr_compact's STATE
    // fold, closing the "thousands of micro-batches = thousands of
    // dirs" gap on the release side.
    Q("streaming_curation_replay_compact", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val lined = docsWithUrl(s, dir).withColumn("text",
        concat_ws("\n",
          substring(col("text"), 1, 40),
          lit("shared boilerplate header line"),
          substring(col("text"), 41, 40),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit("promo footer visit example dot com"))
            .otherwise(substring(col("text"), 81, 40))))
      val rows = lined.select("doc_id", "lang", "text", "url")
        .as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
      val base = scratchDir("graft_stream_curc", dir)
      val p = graft.config.CurationConfig.fromYaml(
        """steps:
          |  - url_dedup: {}
          |  - dedup_lines: { min_chars: 10 }
          |  - dedup_exact: {}
          |  - perplexity: { max_ppl: 150, vocab: 20 }
          |""".stripMargin)
      val input = MemoryStream[(Long, String, String, String)]
      val q = input.toDF().toDF("doc_id", "lang", "text", "url")
        .writeStream.outputMode("append")
        .foreachBatch(CurationPipeline.curationSink(p, s"$base/state", s"$base/release"))
        .option("checkpointLocation", s"$base/ckpt").start()
      try Seq(rows.filter(_._1 < 250), rows.filter(_._1 >= 250))
        .filter(_.nonEmpty)
        .foreach { b => input.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      CurationPipeline.compactRelease(s, s"$base/release")
      s.read.parquet(s"$base/release")
        .select("doc_id", "lang", "text")
        .orderBy("doc_id")
    }, Some(incrReleaseOracle)),

    // SHARD-INGEST release (the production topology): shard 0 bootstraps
    // the standing state — url index, line index, exact-hash index, and
    // the served LM — and shard 1 joins the release against it; the
    // corpus is never recurated. Ingest-ordered shards make the union of
    // shard outputs equal the batch pipeline over the whole corpus, with
    // ONE documented exception the oracle reproduces: the LM fits ONCE
    // on shard 0 as curated (CCNet's fit/serve split) and is SERVED to
    // shard 1, so the oracle's fit CTE restricts to doc_id < 250.
    Q("curation_release_incr", (s, dir) => {
      val lined = docsWithUrl(s, dir).withColumn("text",
        concat_ws("\n",
          substring(col("text"), 1, 40),
          lit("shared boilerplate header line"),
          substring(col("text"), 41, 40),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit("promo footer visit example dot com"))
            .otherwise(substring(col("text"), 81, 40))))
      val state = scratchDir("graft_incr_state", dir)
      val p = graft.config.CurationConfig.fromYaml(
        """steps:
          |  - url_dedup: {}
          |  - dedup_lines: { min_chars: 10 }
          |  - dedup_exact: {}
          |  - perplexity: { max_ppl: 150, vocab: 20 }
          |""".stripMargin)
      // applyShard writes its state increments EAGERLY, so shard 0's
      // indexes are fully persisted before shard 1 ingests against them.
      val s0 = CurationPipeline.applyShard(
          lined.filter(col("doc_id") < 250), p, state, "0")
        .select("doc_id", "lang", "text")
      val s1 = CurationPipeline.applyShard(
          lined.filter(col("doc_id") >= 250), p, state, "1")
        .select("doc_id", "lang", "text")
      s0.unionByName(s1).orderBy("doc_id")
    }, Some(incrReleaseOracle)),

    // The shard-ingest release ending in the WEBDATASET face of the
    // language: the same composed url→lines→exact→served-LM chain, but
    // the terminal step is `sink_tar` — each shard's survivors land as
    // their own `batch=<label>/shard-*.tar` slice with a per-slice
    // _SUCCESS (the tarSink layout), and the standing release reads
    // back as ONE corpus through scanTar(requireSuccess = true). Gated
    // on the SAME composed DuckDB oracle as curation_release_incr: the
    // tar round-trip must be byte-faithful to the curated text.
    Q("curation_release_incr_tar", (s, dir) => {
      val lined = docsWithUrl(s, dir).withColumn("text",
        concat_ws("\n",
          substring(col("text"), 1, 40),
          lit("shared boilerplate header line"),
          substring(col("text"), 41, 40),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit("promo footer visit example dot com"))
            .otherwise(substring(col("text"), 81, 40))))
      val state = scratchDir("graft_incr_tar_state", dir)
      val rel = scratchDir("graft_incr_tar_rel", dir)
      val p = graft.config.CurationConfig.fromYaml(
        s"""steps:
           |  - url_dedup: {}
           |  - dedup_lines: { min_chars: 10 }
           |  - dedup_exact: {}
           |  - perplexity: { max_ppl: 150, vocab: 20 }
           |  - sink_tar: { path: $rel, target_bytes: 65536 }
           |""".stripMargin)
      CurationPipeline.applyShard(lined.filter(col("doc_id") < 250), p, state, "0")
      CurationPipeline.applyShard(lined.filter(col("doc_id") >= 250), p, state, "1")
      val m = graft.sources.WebDataset.samples(
        graft.sources.WebDataset.scanTar(s, rel, requireSuccess = true),
        Seq("txt", "cls"))
      m.select(col("key").cast("long").as("doc_id"),
          decode(col("cls"), "UTF-8").as("lang"),
          decode(col("txt"), "UTF-8").as("text"))
        .orderBy("doc_id")
    }, Some(incrReleaseOracle)),

    // …and the PRE-TOKENIZED face: quality → exact → terminal
    // `sink_tokens`, the vocab fit ONCE on shard 0's curated tokens and
    // SERVED to shard 1 (the CCNet fit/serve split), each shard's packed
    // buckets shifted into its own `label*buckets` range so the standing
    // `shards/` layout is one collision-free (bucket, seq) keyspace.
    // Full SQL oracle: vocab-from-shard-0 + per-shard greedy pack replay.
    Q("curation_release_incr_tokens", (s, dir) => {
      val state = scratchDir("graft_incr_tok_state", dir)
      val rel = scratchDir("graft_incr_tok_rel", dir)
      val p = graft.config.CurationConfig.fromYaml(
        s"""steps:
           |  - quality: { min_tokens: 10 }
           |  - dedup_exact: {}
           |  - sink_tokens: { path: $rel, budget: 128, vocab: 1000,
           |                   buckets: 8, target_bytes: 16384 }
           |""".stripMargin)
      val d = docs(s, dir)
      CurationPipeline.applyShard(d.filter(col("doc_id") < 250), p, state, "0")
      CurationPipeline.applyShard(d.filter(col("doc_id") >= 250), p, state, "1")
      graft.sources.TokenShards.scanTokens(s, s"$rel/shards")
        .select(col("bucket"), col("seq"), col("n"),
          aggregate(col("ids"), lit(0L), (a, x) => a + x).as("sum_ids"),
          element_at(col("ids"), 1).as("first_id"))
        .orderBy("bucket", "seq")
    }, Some(incrTokensOracleSql)),

    // RELEASE-DIR compaction, tar face: three ingest-ordered shards,
    // the accumulated batch=0/batch=1 tar slices folded IN PLACE into
    // one batch=c1 dir (StateCompaction protocol, _SUCCESS preserved)
    // between shard 1 and shard 2 — thousands of micro-batches must not
    // mean thousands of dirs per read. Shard 2 then appends beside the
    // folded dir and the standing release still reads as ONE corpus
    // through scanTar(requireSuccess = true), gated on the same
    // composed oracle (compaction is layout, never semantics; the LM
    // still fits on shard 0 = doc_id < 250, so the 3-way split replays
    // under the unchanged 2-way oracle).
    Q("curation_release_incr_tar_compact", (s, dir) => {
      val lined = docsWithUrl(s, dir).withColumn("text",
        concat_ws("\n",
          substring(col("text"), 1, 40),
          lit("shared boilerplate header line"),
          substring(col("text"), 41, 40),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit("promo footer visit example dot com"))
            .otherwise(substring(col("text"), 81, 40))))
      val state = scratchDir("graft_incr_tarc_state", dir)
      val rel = scratchDir("graft_incr_tarc_rel", dir)
      val p = graft.config.CurationConfig.fromYaml(
        s"""steps:
           |  - url_dedup: {}
           |  - dedup_lines: { min_chars: 10 }
           |  - dedup_exact: {}
           |  - perplexity: { max_ppl: 150, vocab: 20 }
           |  - sink_tar: { path: $rel, target_bytes: 65536 }
           |""".stripMargin)
      CurationPipeline.applyShard(lined.filter(col("doc_id") < 250), p, state, "0")
      CurationPipeline.applyShard(
        lined.filter(col("doc_id") >= 250 && col("doc_id") < 375), p, state, "1")
      graft.sources.WebDataset.compactTarRelease(s, rel, targetShardBytes = 65536)
      CurationPipeline.applyShard(lined.filter(col("doc_id") >= 375), p, state, "2")
      val m = graft.sources.WebDataset.samples(
        graft.sources.WebDataset.scanTar(s, rel, requireSuccess = true),
        Seq("txt", "cls"))
      m.select(col("key").cast("long").as("doc_id"),
          decode(col("cls"), "UTF-8").as("lang"),
          decode(col("txt"), "UTF-8").as("text"))
        .orderBy("doc_id")
    }, Some(incrReleaseOracle)),

    // …token face: the standing shards/ layout folded in place after
    // both shards, scanTokens read-back unchanged under the same pack
    // replay oracle — the (bucket, seq) keyspace survives the repack
    // byte-identically.
    Q("curation_release_incr_tokens_compact", (s, dir) => {
      val state = scratchDir("graft_incr_tokc_state", dir)
      val rel = scratchDir("graft_incr_tokc_rel", dir)
      val p = graft.config.CurationConfig.fromYaml(
        s"""steps:
           |  - quality: { min_tokens: 10 }
           |  - dedup_exact: {}
           |  - sink_tokens: { path: $rel, budget: 128, vocab: 1000,
           |                   buckets: 8, target_bytes: 16384 }
           |""".stripMargin)
      val d = docs(s, dir)
      CurationPipeline.applyShard(d.filter(col("doc_id") < 250), p, state, "0")
      CurationPipeline.applyShard(d.filter(col("doc_id") >= 250), p, state, "1")
      graft.sources.WebDataset.compactTarRelease(
        s, s"$rel/shards", targetShardBytes = 16384)
      graft.sources.TokenShards.scanTokens(s, s"$rel/shards")
        .select(col("bucket"), col("seq"), col("n"),
          aggregate(col("ids"), lit(0L), (a, x) => a + x).as("sum_ids"),
          element_at(col("ids"), 1).as("first_id"))
        .orderBy("bucket", "seq")
    }, Some(incrTokensOracleSql)),

    // RELEASE FINALIZATION — the stage that closes the production loop
    // crawl → ingest → finalize-into-a-training-mix: the corpus-global
    // mixing steps shard mode REFUSES (quota/split here — the
    // SQL-exact forms) run ONCE over the STANDING release via
    // CurationPipeline.finalizeRelease, which rewrites the accumulated
    // shard=0/shard=1 slices into one finalized shard=c1 dir under the
    // StateCompaction crash-safe protocol. Oracle: sequential replay of
    // the 2-shard quality→exact ingest (first-wins, so the union equals
    // the batch run) then the quota pick + split assignment over the
    // surviving corpus — the sample_quota / split_assign SQL forms
    // composed.
    Q("curation_release_finalize", (s, dir) => {
      val state = scratchDir("graft_fin_state", dir)
      val rel = scratchDir("graft_fin_rel", dir)
      val p = graft.config.CurationConfig.fromYaml(
        s"""steps:
           |  - quality: { min_tokens: 10 }
           |  - dedup_exact: {}
           |  - sink: { path: $rel }
           |""".stripMargin)
      val d = docs(s, dir)
      CurationPipeline.applyShard(d.filter(col("doc_id") < 250), p, state, "0")
      CurationPipeline.applyShard(d.filter(col("doc_id") >= 250), p, state, "1")
      CurationPipeline.finalizeReleaseYaml(s, rel,
        """steps:
          |  - quota: { group: lang, quotas: { en: 40, es: 15, fr: 8 } }
          |  - split: { train: 0.8, val: 0.1, test: 0.1 }
          |""".stripMargin)
      s.read.parquet(rel).select("doc_id", "lang", "split").orderBy("doc_id")
    }, Some(
      """WITH q0 AS (SELECT doc_id, lang, text FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 10),
        |dd AS (SELECT * FROM q0
        |  WHERE doc_id IN (SELECT MIN(doc_id) FROM q0 GROUP BY text)),
        |r AS (SELECT doc_id, lang,
        |    (doc_id % 1048576) * 2654435761 % 4294967296 AS rnd FROM dd),
        |k AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY rnd, doc_id) AS rk
        |  FROM r),
        |pick AS (SELECT doc_id, lang, rnd FROM k
        |  WHERE (lang = 'en' AND rk <= 40) OR (lang = 'es' AND rk <= 15)
        |     OR (lang = 'fr' AND rk <= 8))
        |SELECT doc_id, lang, CASE WHEN rnd < 429496729 THEN 'test'
        |  WHEN rnd < 3865470566 THEN 'train' ELSE 'val' END AS split
        |FROM pick ORDER BY doc_id""".stripMargin)),

    // DELETION PROPAGATION — the takedown / right-to-erasure cycle over
    // a standing shard-ingest release, end to end: two shards ingest
    // (exact dedup → sink), every 50th doc is purged from BOTH the
    // release (purgeRelease: slices folded minus the purged rows, the
    // StateCompaction protocol) and the standing indexes
    // (purgeShardState: the purged docs' text-hash rows erased), then a
    // third shard re-crawls every 25th doc's content under fresh ids —
    // and the erasure semantics must hold exactly: re-crawls of PURGED
    // content are admitted fresh (their suppressing index rows are
    // gone), re-crawls of retained content still drop, and docs dropped
    // earlier as duplicates of a purged doc do NOT resurrect. Fully
    // closed-form → composed SQL oracle.
    Q("curation_release_purge", (s, dir) => {
      val state = scratchDir("graft_purge_state", dir)
      val rel = scratchDir("graft_purge_rel", dir)
      val p = graft.config.CurationConfig.fromYaml(
        s"""steps:
           |  - dedup_exact: {}
           |  - sink: { path: $rel }
           |""".stripMargin)
      val d = docs(s, dir)
      CurationPipeline.applyShard(d.filter(col("doc_id") < 250), p, state, "0")
      CurationPipeline.applyShard(d.filter(col("doc_id") >= 250), p, state, "1")
      val purge = d.filter(pmod(col("doc_id"), lit(50)) === 0).select("doc_id")
      CurationPipeline.purgeRelease(s, rel, purge)
      CurationPipeline.purgeShardState(s, state, purge)
      val recrawl = d.filter(pmod(col("doc_id"), lit(25)) === 0)
        .withColumn("doc_id", col("doc_id") + 1000)
      CurationPipeline.applyShard(recrawl, p, state, "2")
      s.read.parquet(rel).select("doc_id", "lang").orderBy("doc_id")
    }, Some(
      """WITH k AS (SELECT text, MIN(doc_id) AS keeper FROM documents GROUP BY text),
        |kept AS (
        |  SELECT d.doc_id, d.lang FROM documents d JOIN k ON d.doc_id = k.keeper
        |  WHERE d.doc_id % 50 <> 0),
        |rec AS (SELECT MIN(doc_id) AS base, text FROM documents
        |  WHERE doc_id % 25 = 0 GROUP BY text),
        |adm AS (
        |  SELECT r.base + 1000 AS doc_id, d.lang
        |  FROM rec r JOIN k USING (text) JOIN documents d ON d.doc_id = r.base
        |  WHERE k.keeper % 50 = 0)
        |SELECT doc_id, lang FROM kept
        |UNION ALL SELECT doc_id, lang FROM adm
        |ORDER BY doc_id""".stripMargin)),

    // …and the WEBDATASET face: a quality → exact → terminal sink_tar
    // release purged member-wise (purgeTarRelease: the batch= tar slices
    // repacked into one batch=c1 fold WITHOUT the purged samples'
    // members, _SUCCESS preserved) — the takedown shape where the
    // standing indexes deliberately KEEP the purged docs' rows so
    // mirrors of the content stay suppressed; only the release stops
    // serving it. Oracle: the quality→exact replay minus the purged ids.
    Q("curation_release_purge_tar", (s, dir) => {
      val state = scratchDir("graft_purge_tar_state", dir)
      val rel = scratchDir("graft_purge_tar_rel", dir)
      val p = graft.config.CurationConfig.fromYaml(
        s"""steps:
           |  - quality: { min_tokens: 10 }
           |  - dedup_exact: {}
           |  - sink_tar: { path: $rel, target_bytes: 65536 }
           |""".stripMargin)
      val d = docs(s, dir)
      CurationPipeline.applyShard(d.filter(col("doc_id") < 250), p, state, "0")
      CurationPipeline.applyShard(d.filter(col("doc_id") >= 250), p, state, "1")
      graft.sources.WebDataset.purgeTarRelease(s, rel,
        d.filter(pmod(col("doc_id"), lit(50)) === 0).select("doc_id"),
        targetShardBytes = 65536)
      val m = graft.sources.WebDataset.samples(
        graft.sources.WebDataset.scanTar(s, rel, requireSuccess = true),
        Seq("txt", "cls"))
      m.select(col("key").cast("long").as("doc_id"),
          decode(col("cls"), "UTF-8").as("lang"),
          decode(col("txt"), "UTF-8").as("text"))
        .orderBy("doc_id")
    }, Some(
      """WITH q0 AS (SELECT doc_id, lang, text FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 10),
        |dd AS (SELECT * FROM q0
        |  WHERE doc_id IN (SELECT MIN(doc_id) FROM q0 GROUP BY text))
        |SELECT doc_id, lang, text FROM dd WHERE doc_id % 50 <> 0
        |ORDER BY doc_id""".stripMargin)),

    // DROP PROVENANCE — the ops question "why did doc X disappear?":
    // one pipeline replay names the step that dropped each probe id
    // (or `kept` / `absent`). Every fate is closed-form under
    // quality → exact → quota, so the whole report has a composed SQL
    // oracle (the finalize entry's CTE pieces, re-pointed at fates).
    Q("curation_explain", (s, dir) => {
      import s.implicits._
      val p = graft.config.CurationConfig.fromYaml(
        """steps:
          |  - quality: { min_tokens: 10 }
          |  - dedup_exact: {}
          |  - quota: { group: lang, quotas: { en: 40, es: 15, fr: 8 } }
          |""".stripMargin)
      CurationPipeline.explain(docs(s, dir), p,
        docs(s, dir).filter(col("doc_id") < 40).select("doc_id")
          .unionByName(Seq(9999L).toDF("doc_id")))
    }, Some(
      """WITH probes AS (SELECT doc_id FROM documents WHERE doc_id < 40
        |  UNION ALL SELECT 9999),
        |q0 AS (SELECT doc_id, lang, text FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 10),
        |dd AS (SELECT * FROM q0
        |  WHERE doc_id IN (SELECT MIN(doc_id) FROM q0 GROUP BY text)),
        |r AS (SELECT doc_id, lang,
        |    (doc_id % 1048576) * 2654435761 % 4294967296 AS rnd FROM dd),
        |k AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY rnd, doc_id) AS rk
        |  FROM r),
        |pick AS (SELECT doc_id FROM k
        |  WHERE (lang = 'en' AND rk <= 40) OR (lang = 'es' AND rk <= 15)
        |     OR (lang = 'fr' AND rk <= 8))
        |SELECT p.doc_id,
        |  CASE WHEN p.doc_id NOT IN (SELECT doc_id FROM documents) THEN 'absent'
        |       WHEN p.doc_id NOT IN (SELECT doc_id FROM q0) THEN 'quality'
        |       WHEN p.doc_id NOT IN (SELECT doc_id FROM dd) THEN 'dedup_exact'
        |       WHEN p.doc_id NOT IN (SELECT doc_id FROM pick) THEN 'quota'
        |       ELSE 'kept' END AS fate
        |FROM probes p ORDER BY 1""".stripMargin)),

    // Drop provenance, SHARD-INGEST face — "why did doc X vanish from
    // shard 1's slice?": shard 0 bootstraps the standing indexes, shard
    // 1 ingests against them, and explainShard replays shard 1 to name
    // each probe's dropping step INCLUDING standing-index-driven drops,
    // with the winning keeper id for the exact-key first-wins families
    // (url_dedup names the url's standing keeper, dedup_exact the text
    // key's). Gated on the same composed DuckDB chain as
    // curation_release_incr — id-ordered shards make every standing
    // keeper the key group's global MIN id.
    Q("explain_shard", (s, dir) => {
      import s.implicits._
      val lined = docsWithUrl(s, dir).withColumn("text",
        concat_ws("\n",
          substring(col("text"), 1, 40),
          lit("shared boilerplate header line"),
          substring(col("text"), 41, 40),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit("promo footer visit example dot com"))
            .otherwise(substring(col("text"), 81, 40))))
      val state = scratchDir("graft_explain_shard_state", dir)
      val p = graft.config.CurationConfig.fromYaml(
        """steps:
          |  - url_dedup: {}
          |  - dedup_lines: { min_chars: 10 }
          |  - dedup_exact: {}
          |  - perplexity: { max_ppl: 150, vocab: 20 }
          |""".stripMargin)
      val shard1 = lined.filter(col("doc_id") >= 250)
      CurationPipeline.applyShard(lined.filter(col("doc_id") < 250), p, state, "0")
      CurationPipeline.applyShard(shard1, p, state, "1")
      val probes = s.range(250, 350).select(col("id").as("doc_id"))
        .unionByName(Seq(10L, 9999L).toDF("doc_id"))
      CurationPipeline.explainShard(shard1, p, state, "1", probes)
    }, Some(explainShardOracle)),

    // RELEASE FSCK — the ops health check that rounds out the lifecycle
    // (ingest → compact → finalize → purge → fsck): a healthy standing
    // release reports ZERO findings, and a deliberately-damaged layout
    // (a wedged compaction marker, a foreign label dir, a slice missing
    // its _SUCCESS) reports exactly its three defects by name. Output
    // is relative names only → literal-VALUES DuckDB oracle.
    Q("release_fsck", (s, dir) => {
      val state = scratchDir("graft_fsck_state", dir)
      val rel = scratchDir("graft_fsck_rel", dir)
      val p = graft.config.CurationConfig.fromYaml(
        s"steps:\n  - dedup_exact: {}\n  - sink: { path: $rel }\n")
      val d = docs(s, dir)
      CurationPipeline.applyShard(d.filter(col("doc_id") < 250), p, state, "0")
      CurationPipeline.applyShard(d.filter(col("doc_id") >= 250), p, state, "1")
      val healthy = graft.operators.StateCompaction.fsck(s, rel, "shard=")
      val broken = scratchDir("graft_fsck_broken", dir)
      val b0 = new java.io.File(s"$broken/batch=0")
      b0.mkdirs()
      s.range(3).write.mode("overwrite").parquet(b0.toString)
      new java.io.File(s"$broken/batch=1").mkdirs() // no _SUCCESS
      new java.io.File(s"$broken/batch=oops").mkdirs() // foreign label
      new java.io.File(s"$broken/_compact_commit").createNewFile() // wedge
      val findings = graft.operators.StateCompaction.fsck(s, broken)
      healthy.withColumn("layout", lit("release"))
        .unionByName(findings.withColumn("layout", lit("broken")))
        .select("layout", "chk", "item")
        .orderBy("layout", "chk", "item")
    }, Some(
      """SELECT * FROM (VALUES
        |  ('broken', 'foreign_label', 'batch=oops'),
        |  ('broken', 'missing_success', 'batch=1'),
        |  ('broken', 'wedge', '_compact_commit'))
        |AS t(layout, chk, item) ORDER BY 1, 2, 3""".stripMargin)),

    // STATE-DIR fsck — the applyShard state root was the last standing
    // layout without a health check: two ingests build a healthy
    // 4-step state (url index, line index, exact index, served LM),
    // which reports ZERO findings; a staged damaged copy reports its
    // five defects by name (a wedged step compaction, a batch slice
    // missing _SUCCESS, a foreign batch label, a single-fit LM without
    // _SUCCESS, a foreign top-level dir). Dir metadata only → relative
    // names → literal-VALUES DuckDB oracle.
    Q("shard_state_fsck", (s, dir) => {
      val lined = docsWithUrl(s, dir)
      val state = scratchDir("graft_sfsck_state", dir)
      val p = graft.config.CurationConfig.fromYaml(
        """steps:
          |  - url_dedup: {}
          |  - dedup_lines: { min_chars: 10 }
          |  - dedup_exact: {}
          |  - perplexity: { max_ppl: 150, vocab: 20 }
          |""".stripMargin)
      CurationPipeline.applyShard(lined.filter(col("doc_id") < 250), p, state, "0")
      CurationPipeline.applyShard(lined.filter(col("doc_id") >= 250), p, state, "1")
      val healthy = CurationPipeline.fsckShardState(s, state)
      // Stage one defect of each kind in the same layout.
      new java.io.File(s"$state/step0=url_index/_compact_commit").createNewFile()
      def rmrf(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
      }
      new java.io.File(s"$state/step2=exact_index/batch=1/_SUCCESS").delete()
      new java.io.File(s"$state/step1=line_index/batch=oops").mkdirs()
      new java.io.File(s"$state/step3=lm/_SUCCESS").delete()
      new java.io.File(s"$state/extra").mkdirs()
      healthy.withColumn("layout", lit("healthy"))
        .unionByName(CurationPipeline.fsckShardState(s, state)
          .withColumn("layout", lit("damaged")))
        .select("layout", "chk", "item")
        .orderBy("layout", "chk", "item")
    }, Some(
      """SELECT * FROM (VALUES
        |  ('damaged', 'foreign_entry', 'extra'),
        |  ('damaged', 'foreign_label', 'step1=line_index/batch=oops'),
        |  ('damaged', 'missing_success', 'step2=exact_index/batch=1'),
        |  ('damaged', 'missing_success', 'step3=lm'),
        |  ('damaged', 'wedge', 'step0=url_index/_compact_commit'))
        |AS t(layout, chk, item) ORDER BY 1, 2, 3""".stripMargin)),

    // Content-integrity verification — the check _SUCCESS markers and
    // fsck cannot make: a stamped per-slice (row count, order-invariant
    // content fingerprint) manifest re-verified by one columnar scan,
    // classifying every drift kind. A healthy release reports all-ok; a
    // staged damaged copy reports exactly its four defects.
    Q("release_verify", (s, dir) => {
      val d = docs(s, dir).select("doc_id", "lang", "text")
      val ok = scratchDir("graft_integ_ok", dir)
      d.filter(col("doc_id") < 250).write.parquet(s"$ok/shard=0")
      d.filter(col("doc_id") >= 250).write.parquet(s"$ok/shard=1")
      graft.operators.Integrity.stamp(s, ok)
      val healthy = graft.operators.Integrity.verify(s, ok)
      val bad = scratchDir("graft_integ_bad", dir)
      d.filter(col("doc_id") < 250).write.parquet(s"$bad/shard=0")
      d.filter(col("doc_id") >= 250).write.parquet(s"$bad/shard=1")
      d.filter(col("doc_id") < 10).write.parquet(s"$bad/shard=2")
      graft.operators.Integrity.stamp(s, bad)
      // One defect of each kind: a flipped cell (same rows), a lost
      // slice, a truncated slice, a slice written after the stamp.
      d.filter(col("doc_id") < 250)
        .withColumn("text", concat(col("text"), lit("!")))
        .write.mode("overwrite").parquet(s"$bad/shard=0")
      d.filter(col("doc_id") < 5)
        .write.mode("overwrite").parquet(s"$bad/shard=2")
      def rmrf(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
      }
      rmrf(new java.io.File(s"$bad/shard=1"))
      d.filter(col("doc_id") < 3).write.parquet(s"$bad/shard=3")
      healthy.withColumn("layout", lit("healthy"))
        .unionByName(graft.operators.Integrity.verify(s, bad)
          .withColumn("layout", lit("damaged")))
        .select("layout", "slice", "status")
        .orderBy("layout", "slice")
    }, Some(
      """SELECT * FROM (VALUES
        |  ('damaged', 'shard=0', 'content_drift'),
        |  ('damaged', 'shard=1', 'missing_slice'),
        |  ('damaged', 'shard=2', 'row_count_drift'),
        |  ('damaged', 'shard=3', 'unstamped_slice'),
        |  ('healthy', 'shard=0', 'ok'),
        |  ('healthy', 'shard=1', 'ok'))
        |AS t(layout, slice, status) ORDER BY 1, 2""".stripMargin)),

    // The WebDataset face of content-integrity: per-SHARD-FILE stamps
    // with payload bytes in the hash — the bit-rot check for the binary
    // members a loader actually decodes. Same staged-defect oracle shape
    // as release_verify.
    Q("release_verify_tar", (s, dir) => {
      val d = docs(s, dir)
        .select(col("doc_id"), col("text").cast("binary").as("t"))
      val ok = scratchDir("graft_integ_tok", dir)
      graft.sources.WebDataset.writeTar(d, ok, shards = 2,
        keyCol = "doc_id", members = Seq("txt" -> "t"))
      graft.operators.Integrity.stampTar(s, ok)
      val healthy = graft.operators.Integrity.verifyTar(s, ok)
      val bad = scratchDir("graft_integ_tbad", dir)
      graft.sources.WebDataset.writeTar(d, bad, shards = 3,
        keyCol = "doc_id", members = Seq("txt" -> "t"))
      graft.operators.Integrity.stampTar(s, bad)
      // Tamper shard 0 (same members, one payload flipped), lose shard
      // 1, add an unstamped shard after the stamp.
      val alt = scratchDir("graft_integ_talt", dir)
      graft.sources.WebDataset.writeTar(
        d.withColumn("t", when(col("doc_id") === 0,
          lit("tampered").cast("binary")).otherwise(col("t"))),
        alt, shards = 3, keyCol = "doc_id", members = Seq("txt" -> "t"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$alt/shard-00000.tar"),
        java.nio.file.Paths.get(s"$bad/shard-00000.tar"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      new java.io.File(s"$bad/.shard-00000.tar.crc").delete()
      new java.io.File(s"$bad/shard-00001.tar").delete()
      new java.io.File(s"$bad/.shard-00001.tar.crc").delete()
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$alt/shard-00002.tar"),
        java.nio.file.Paths.get(s"$bad/shard-extra.tar"))
      healthy.withColumn("layout", lit("healthy"))
        .unionByName(graft.operators.Integrity.verifyTar(s, bad)
          .withColumn("layout", lit("damaged")))
        .select("layout", "slice", "status")
        .orderBy("layout", "slice")
    }, Some(
      """SELECT * FROM (VALUES
        |  ('damaged', 'shard-00000', 'content_drift'),
        |  ('damaged', 'shard-00001', 'missing_slice'),
        |  ('damaged', 'shard-00002', 'ok'),
        |  ('damaged', 'shard-extra', 'unstamped_slice'),
        |  ('healthy', 'shard-00000', 'ok'),
        |  ('healthy', 'shard-00001', 'ok'))
        |AS t(layout, slice, status) ORDER BY 1, 2""".stripMargin)),

    // The near-dup face of the shard-ingest release: minhash joins the
    // composed chain through the persisted signature index (corpus text
    // never re-shingled). xxhash-seeded banding has no SQL form →
    // golden, like dedup_minhash itself; batch-parity of the whole
    // composition is asserted in CurationPipelineSpec.
    Q("curation_release_incr_near", (s, dir) => {
      val withUrl = docsWithUrl(s, dir)
      val state = scratchDir("graft_incr_near_state", dir)
      val p = graft.config.CurationConfig.fromYaml(
        """steps:
          |  - url_dedup: {}
          |  - dedup_exact: {}
          |  - dedup_minhash: { threshold: 0.5 }
          |  - perplexity: { max_ppl: 150, vocab: 20 }
          |""".stripMargin)
      val s0 = CurationPipeline.applyShard(
          withUrl.filter(col("doc_id") < 250), p, state, "0")
        .select("doc_id", "lang")
      val s1 = CurationPipeline.applyShard(
          withUrl.filter(col("doc_id") >= 250), p, state, "1")
        .select("doc_id", "lang")
      s0.unionByName(s1).orderBy("doc_id")
    }, None),

    Q("curation_release", (s, dir) =>
      // The 10-step capstone now ENDS inside the language: the terminal
      // `sink` step writes the Hive split/shard release layout and hands
      // back the read-back frame, so what this entry verifies is the
      // release AS PERSISTED (partition-pruned split/shard reads and
      // all — the former compose-by-hand sink_partitioned shape). The
      // sink path is unique PER RUN (sink writes eagerly at compile —
      // see CurationPipeline's execution-semantics note), so concurrent
      // invocations on the same sf dir can't clobber each other's
      // release mid-read.
      CurationPipeline.fromYaml(docsWithUrl(s, dir),
        s"""steps:
           |  - url_dedup: {}
           |  - clean: {}
           |  - langid_keep: { langs: [en, es, fr] }
           |  - quality: { min_tokens: 10 }
           |  - repetition: { max_dup_token_frac: 0.6 }
           |  - dedup_exact: {}
           |  - quota: { group: lang, quotas: { en: 60, es: 25, fr: 15 } }
           |  - split: { train: 0.8, val: 0.1, test: 0.1 }
           |  - shuffle: { shards: 4 }
           |  - sink: { path: ${ val rp = scratchDir("graft_release", dir); cleanupAtExit(rp + "_manifest"); rp },
           |            partition_by: [split, shard] }
           |""".stripMargin)
        .select(col("doc_id"), col("lang"), col("split"),
          col("shard").cast("long").as("shard"), col("pos"))
        .orderBy("doc_id"),
      Some {
        val hits = stopwordHitsSql
        urlCte +
          s""", keepu AS (SELECT MIN(doc_id) AS doc_id FROM urls GROUP BY url_norm),
             |dsel AS (SELECT d.doc_id, d.lang, d.text FROM documents d JOIN keepu USING (doc_id)),
             |c AS (SELECT doc_id, lang,
             |    trim(regexp_replace(regexp_replace(text, '[\\x00-\\x1F\\x7F]', ' ', 'g'), ' {2,}', ' ', 'g')) AS text
             |  FROM dsel),
             |h AS (SELECT doc_id, lang, text, $hits FROM c),
             |g AS (SELECT *, GREATEST(h_de, h_en, h_es, h_fr, h_zh) AS g FROM h),
             |lid AS (SELECT doc_id, lang, text, CASE WHEN g = 0 THEN 'und'
             |  WHEN h_zh = g THEN 'zh' WHEN h_fr = g THEN 'fr' WHEN h_es = g THEN 'es'
             |  WHEN h_en = g THEN 'en' ELSE 'de' END AS pred FROM g),
             |lk AS (SELECT * FROM lid WHERE pred IN ('en', 'es', 'fr')),
             |q AS (SELECT * FROM lk WHERE len(string_split(lower(text), ' ')) >= 10),
             |sl0 AS (SELECT doc_id,
             |    list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS sl FROM q),
             |tks AS (SELECT doc_id, UNNEST(sl) AS tok FROM sl0),
             |tcnt AS (SELECT doc_id, tok, COUNT(*) AS c FROM tks GROUP BY 1, 2),
             |rp AS (SELECT doc_id FROM tcnt GROUP BY doc_id
             |  HAVING ROUND(CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c), 4) <= 0.6),
             |rep AS (SELECT q.* FROM q JOIN rp USING (doc_id)),
             |dd AS (SELECT * FROM rep WHERE doc_id IN (SELECT MIN(doc_id) FROM rep GROUP BY text)),
             |r AS (SELECT doc_id, lang, (doc_id % 1048576) * 2654435761 % 4294967296 AS rnd FROM dd),
             |k AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY rnd, doc_id) AS rk FROM r),
             |kept AS (SELECT * FROM k WHERE (lang = 'en' AND rk <= 60)
             |   OR (lang = 'es' AND rk <= 25) OR (lang = 'fr' AND rk <= 15)),
             |sp AS (SELECT *, CASE WHEN rnd < 429496729 THEN 'test'
             |  WHEN rnd < 3865470566 THEN 'train' ELSE 'val' END AS split FROM kept),
             |sh AS (SELECT *, rnd % 4 AS shard FROM sp)
             |SELECT doc_id, lang, split, CAST(shard AS BIGINT) AS shard,
             |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY rnd, doc_id) AS BIGINT) AS pos
             |FROM sh ORDER BY 1""".stripMargin
      }),

    // DSIR as a pipeline STEP: resample the corpus toward the English
    // subset's distribution (target = named auxiliary table, the serve
    // topology), then split — the selector wired into the language, with
    // the full composed SQL oracle (sample_importance's CTEs + the split
    // rule on the picked ids).
    Q("curation_pipeline_dsir", (s, dir) => {
      val d = docs(s, dir)
      CurationPipeline.fromYaml(d,
        """steps:
          |  - importance_sample: { target: tgt, k: 80, vocab: 50 }
          |  - split: { train: 0.8, val: 0.1, test: 0.1 }
          |""".stripMargin,
        aux = Map("tgt" -> d.filter(col("lang") === "en")))
        .select("doc_id", "lang", "split")
        .orderBy("doc_id")
    }, Some("""WITH tok AS (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok FROM documents),
             |tt AS (SELECT t.doc_id, UNNEST(string_split(lower(t.text), ' ')) AS tok
             |       FROM documents t WHERE t.lang = 'en'),
             |cr AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY 1),
             |ctg AS (SELECT tok, COUNT(*) AS c FROM tt GROUP BY 1),
             |trt AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM cr),
             |ttt AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM ctg),
             |vr AS (SELECT tok, c FROM cr ORDER BY c DESC, tok LIMIT 50),
             |vt AS (SELECT tok, c FROM ctg ORDER BY c DESC, tok LIMIT 50),
             |vrs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM vr),
             |vts AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM vt),
             |lmr AS (SELECT vr.tok, LN((vr.c + 1) / (trt.t + vrs.v + 1)) AS lr
             |        FROM vr CROSS JOIN trt CROSS JOIN vrs),
             |lmt AS (SELECT vt.tok, LN((vt.c + 1) / (ttt.t + vts.v + 1)) AS lt
             |        FROM vt CROSS JOIN ttt CROSS JOIN vts),
             |sc AS (SELECT tok.doc_id,
             |    COALESCE(lmt.lt, LN(1 / (ttt.t + vts.v + 1)))
             |      - COALESCE(lmr.lr, LN(1 / (trt.t + vrs.v + 1))) AS d
             |  FROM tok LEFT JOIN lmt USING (tok) LEFT JOIN lmr USING (tok)
             |  CROSS JOIN ttt CROSS JOIN vts CROSS JOIN trt CROSS JOIN vrs),
             |w AS (SELECT doc_id, SUM(d) AS logw FROM sc GROUP BY 1),
             |g AS (SELECT doc_id,
             |    ROUND(logw - LN(-LN((((doc_id % 1048576) * 2654435761
             |        + ((doc_id >> 20) % 1048576) * 2246822519) % 4294967296 + 0.5)
             |      / 4294967296.0)), 6) AS gumbel_key FROM w),
             |pick AS (SELECT doc_id FROM g ORDER BY gumbel_key DESC, doc_id LIMIT 80),
             |sel AS (SELECT d.doc_id, d.lang,
             |    (d.doc_id % 1048576) * 2654435761 % 4294967296 AS rnd
             |  FROM documents d JOIN pick USING (doc_id))
             |SELECT doc_id, lang, CASE WHEN rnd < 429496729 THEN 'test'
             |  WHEN rnd < 3865470566 THEN 'train' ELSE 'val' END AS split
             |FROM sel ORDER BY doc_id""".stripMargin)),

    // A non-minhash near-dup step in the language: SimHash banded
    // Hamming dedup between a quality gate and the split. Composed
    // oracle: the hamming-verified pair set is pinned (signatures are
    // xxhash64-seeded, no SQL form); the quality gate, the
    // recursive-CTE keeper election AND the multiplicative-hash split
    // all replay in SQL.
    Q("curation_pipeline_simdedup", (s, dir) =>
      CurationPipeline.fromYaml(docs(s, dir),
        """steps:
          |  - quality: { min_tokens: 5 }
          |  - dedup_simhash: { max_hamming: 10 }
          |  - split: { train: 0.8, val: 0.1, test: 0.1 }
          |""".stripMargin)
        .select("doc_id", "lang", "split")
        .orderBy("doc_id"),
      Some(
        s"""WITH RECURSIVE pairs AS (SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b
           |  FROM (VALUES ${PinnedOracles.simdedupPairs}) v(a, b)),
           |gated AS (SELECT doc_id, lang FROM documents
           |  WHERE ${qualityGateSql(5)}),
           |$clusterDropCtes,
           |kept AS (SELECT doc_id, lang FROM gated
           |  WHERE doc_id NOT IN (SELECT id FROM drops)),
           |r AS (SELECT doc_id, lang,
           |    (doc_id % 1048576) * 2654435761 % 4294967296 AS rnd FROM kept)
           |SELECT doc_id, lang, CASE WHEN rnd < 429496729 THEN 'test'
           |  WHEN rnd < 3865470566 THEN 'train' ELSE 'val' END AS split
           |FROM r ORDER BY doc_id""".stripMargin)),

    // The model-quality half: score against a FITTED weight frame passed
    // to the compiler as a named auxiliary table (the serve topology —
    // the fit happened once, elsewhere), gate on the learned score, then
    // exact dedup. Composed oracle: the margins are pinned (no SQL form
    // for the hashed-feature fit), but σ, the 4-dp rounding, the ≥ 0.5
    // gate and the downstream exact-dedup keeper election all replay in
    // DuckDB.
    Q("curation_pipeline_qmodel", (s, dir) => {
      val d = docs(s, dir)
      // 16 iterations separate en from non-en well enough that the 0.5
      // gate really filters (~40% of docs dropped); 8 left every score
      // above 0.5 — a vacuous gate tests nothing.
      val model = QualityClassifier.train(
        d.withColumn("is_en", (col("lang") === "en").cast("int")),
        labelCol = "is_en", dim = 1024, iters = 16)
      CurationPipeline.fromYaml(d,
        """steps:
          |  - quality_model: { model: qmodel, min_score: 0.5 }
          |  - dedup_exact: {}
          |""".stripMargin,
        aux = Map("qmodel" -> model))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }, Some(
      s"""WITH m AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(m AS DOUBLE) AS m
         |  FROM (VALUES ${PinnedOracles.qmodelMargins16}) v(doc_id, m)),
         |gate AS (SELECT doc_id FROM m
         |  WHERE ROUND(1.0 / (1.0 + EXP(-m)), 4) >= 0.5),
         |kept AS (SELECT d.doc_id, d.lang, d.source, d.text
         |  FROM documents d JOIN gate USING (doc_id)),
         |keeper AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY text)
         |SELECT k.doc_id, k.lang, k.source
         |FROM kept k JOIN keeper USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // Snapshot diff (dataset versioning): before = the documents table,
    // after = a deterministic mutation (every 17th doc dropped, every
    // 5th doc's text edited, 20 new docs) — classified added / removed /
    // changed / unchanged on md5 content keys (cross-engine, so the
    // oracle computes the identical diff).
    Q("corpus_diff", (s, dir) => {
      val before = docs(s, dir)
      val after = before
        .filter(col("doc_id") % 17 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" edited")))
            .otherwise(col("text")))
        .select("doc_id", "text")
        .unionByName(before.filter(col("doc_id") < 20).select(
          (col("doc_id") + 100000L).as("doc_id"), col("text")))
      SnapshotDiff.diff(before, after).orderBy("doc_id")
    }, Some("""WITH before AS (SELECT doc_id, md5(text) AS h FROM documents),
              |after AS (
              |  SELECT doc_id,
              |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' edited' ELSE text END) AS h
              |  FROM documents WHERE doc_id % 17 <> 0
              |  UNION ALL
              |  SELECT doc_id + 100000 AS doc_id, md5(text) AS h
              |  FROM documents WHERE doc_id < 20),
              |j AS (SELECT COALESCE(b.doc_id, a.doc_id) AS doc_id, b.h AS hb, a.h AS ha
              |  FROM before b FULL OUTER JOIN after a ON a.doc_id = b.doc_id)
              |SELECT doc_id,
              |  CASE WHEN hb IS NULL THEN 'added' WHEN ha IS NULL THEN 'removed'
              |       WHEN hb <> ha THEN 'changed' ELSE 'unchanged' END AS status
              |FROM j ORDER BY 1""".stripMargin)),

    // Deterministic global shuffle-shard: training-order randomization
    // without a global sort — hash-keyed shard + in-shard rank, exact
    // permutation reproduced by the oracle's identical multiplicative
    // hash.
    Q("shuffle_shard", (s, dir) =>
      Sampling.shuffleShards(docs(s, dir), numShards = 8)
        .orderBy("shard", "pos"),
      Some("""WITH h AS (SELECT doc_id,
             |    (doc_id % 1048576) * 2654435761 % 4294967296 AS r FROM documents)
             |SELECT doc_id, r % 8 AS shard,
             |  CAST(ROW_NUMBER() OVER (PARTITION BY r % 8 ORDER BY r, doc_id) AS BIGINT) AS pos
             |FROM h ORDER BY 2, 3""".stripMargin)),

    // Epoch-seeded variant: seed 5 offsets the hash key by 5·7919, so a
    // multi-epoch training run draws a DIFFERENT deterministic global
    // order per epoch (same corpus, same engine-reproducibility — the
    // oracle replays the offset closed-form).
    Q("shuffle_shard_epoch", (s, dir) =>
      Sampling.shuffleShards(docs(s, dir), numShards = 8, epochSeed = 5L)
        .orderBy("shard", "pos"),
      Some("""WITH h AS (SELECT doc_id,
             |    ((doc_id + 39595) % 1048576) * 2654435761 % 4294967296 AS r FROM documents)
             |SELECT doc_id, r % 8 AS shard,
             |  CAST(ROW_NUMBER() OVER (PARTITION BY r % 8 ORDER BY r, doc_id) AS BIGINT) AS pos
             |FROM h ORDER BY 2, 3""".stripMargin)),

    Q("multimodal_features", (s, dir) => {
      // Codec-free metrics are pure expressions (codegen'd scan→project);
      // Multimodal.extractFeatures remains the partition-wise decode hook
      // for real codecs (exercised in ExtensionsSpec).
      val media = Multimodal.asMedia(docs(s, dir), "doc_id", "text", "text")
      media
        .select(col("media_id"), Multimodal.nBytes(col("payload")).as("n_bytes"))
        .orderBy("media_id")
    }, Some("""SELECT doc_id AS media_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
              |FROM documents ORDER BY 1""".stripMargin)),

    Q("multimodal_container_meta", (s, dir) => {
      // Container-envelope metadata WITHOUT a codec: MP4 box walk, WebM
      // EBML walk, FLAC STREAMINFO, Ogg/Vorbis page walk, MP3 and AAC
      // ADTS frame-header walks (Multimodal.containerMeta). Payloads are
      // built per-id by MediaFixtures (independent writer code path) so
      // the expected metadata is closed-form in doc_id and the oracle is
      // plain SQL — a full round-trip check of the parsers.
      val ids = docs(s, dir).select(col("doc_id"))
      Multimodal.containerMeta(MediaFixtures.syntheticContainers(ids))
        .orderBy("media_id")
    }, Some(containerMetaSql), bench = true),

    Q("multimodal_framesample", (s, dir) => {
      // Real binary slicing on the Spark side (sequence→explode→substring,
      // codegen'd); the oracle verifies the frame lattice arithmetically
      // (DuckDB has no BLOB substring). sampleFramesDecoded is the
      // partition-wise codec hook, asserted equal in ExtensionsSpec.
      val media = Multimodal.asMedia(docs(s, dir), "doc_id", "text", "text")
      Multimodal.sampleFrames(media, frameBytes = 256, stride = 2)
        .select(col("media_id"), col("frame_idx"),
          octet_length(col("frame_bytes")).cast("long").as("frame_len"))
        .orderBy("media_id", "frame_idx")
    }, Some("""WITH m AS (SELECT doc_id AS media_id, octet_length(CAST(text AS BLOB)) AS n FROM documents),
              |f AS (SELECT media_id, n,
              |  UNNEST(range(0, GREATEST(CAST(CEIL(n / 256.0) AS BIGINT), 1), 2)) AS frame_idx FROM m)
              |SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
              |  CAST(LEAST(256, n - frame_idx * 256) AS BIGINT) AS frame_len
              |FROM f WHERE n - frame_idx * 256 > 0 ORDER BY 1, 2""".stripMargin)),

    // Crawl-text cleaning: control chars → space, space runs collapsed,
    // ends trimmed. The fixture decorates each doc with control-char +
    // ragged-space noise (closed-form, reproduced by the oracle with
    // chr() arithmetic — the multimodal/url fixture pattern), so the
    // transform is exercised for real.
    // HTML → text extraction on a deterministic markup decoration (tags
    // wrapping doc substrings, a script block whose BODY contains a tag
    // — wholesale block removal must eat it — and the six common
    // entities); both engines replay the identical regex/replace chain.
    Q("text_strip_html", (s, dir) => {
      val html = docs(s, dir).select(col("doc_id"),
        concat(
          lit("<html><head><style>p {color: red}</style><title>T</title></head><body><h1>"),
          substring(col("text"), 1, 30),
          lit("</h1><script type=\"text/javascript\">var x = \"<p>\";</script><p class=\"a\">"),
          substring(col("text"), 31, 60),
          lit(" &amp;&nbsp;more &lt;tags&gt; &quot;q&#39;</p></body></html>")).as("text"))
      html.select(col("doc_id"), Texts.stripHtml(col("text")).as("text"))
        .orderBy("doc_id")
    },
      Some("""WITH h AS (SELECT doc_id,
             |  '<html><head><style>p {color: red}</style><title>T</title></head><body><h1>' ||
             |  substring(text, 1, 30) ||
             |  '</h1><script type="text/javascript">var x = "<p>";</script><p class="a">' ||
             |  substring(text, 31, 60) ||
             |  ' &amp;&nbsp;more &lt;tags&gt; &quot;q&#39;</p></body></html>' AS text
             |  FROM documents),
             |s1 AS (SELECT doc_id, regexp_replace(text,
             |  '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g') AS t FROM h),
             |s1b AS (SELECT doc_id, regexp_replace(t,
             |  '(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table)[^>]*>', chr(10), 'g') AS t FROM s1),
             |s2 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s1b),
             |s3 AS (SELECT doc_id,
             |  replace(replace(replace(replace(replace(replace(t,
             |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             |    '&#39;', chr(39)), '&amp;', '&') AS t FROM s2),
             |s4 AS (SELECT doc_id, regexp_replace(t, '[^\S\n]+', ' ', 'g') AS t FROM s3),
             |s5 AS (SELECT doc_id, regexp_replace(t, ' ?\n ?', chr(10), 'g') AS t FROM s4),
             |s6 AS (SELECT doc_id, regexp_replace(t, '\n{2,}', chr(10), 'g') AS t FROM s5)
             |SELECT doc_id, regexp_replace(t, '^\s+|\s+' || chr(36), '', 'g') AS text
             |FROM s6 ORDER BY doc_id""".stripMargin)),

    Q("text_clean", (s, dir) =>
      docs(s, dir)
        .withColumn("noisy",
          concat(lit("  "), col("text"), lit("\t\tmid\u0007  end  ")))
        .select(col("doc_id"), Texts.cleanText(col("noisy")).as("cleaned"))
        .withColumn("n_chars_clean", length(col("cleaned")).cast("long"))
        .orderBy("doc_id"),
      Some("""WITH noisy AS (SELECT doc_id,
             |    '  ' || text || chr(9) || chr(9) || 'mid' || chr(7) || '  end  ' AS noisy
             |  FROM documents)
             |SELECT doc_id,
             |  trim(regexp_replace(regexp_replace(noisy, '[\x00-\x1F\x7F]', ' ', 'g'),
             |       ' {2,}', ' ', 'g')) AS cleaned,
             |  CAST(LENGTH(trim(regexp_replace(regexp_replace(noisy, '[\x00-\x1F\x7F]', ' ', 'g'),
             |       ' {2,}', ' ', 'g'))) AS BIGINT) AS n_chars_clean
             |FROM noisy ORDER BY 1""".stripMargin)),

    // Context-window chunking: 120-char windows, 24-char overlap (stride
    // 96) — the pre-tokenization corpus shaping step. Pure map-side
    // generate (explode over a closed-form chunk count), zero exchanges.
    Q("text_chunk", (s, dir) =>
      Chunking.chunk(docs(s, dir), chunkChars = 120, overlapChars = 24)
        .orderBy("doc_id", "chunk_id"),
      Some("""WITH d AS (SELECT doc_id, text, LENGTH(text) AS len FROM documents),
             |n AS (SELECT doc_id, text,
             |    CASE WHEN len <= 120 THEN CAST(1 AS BIGINT)
             |         ELSE CAST(FLOOR((len - 24 + 95) / 96.0) AS BIGINT) END AS cnt
             |  FROM d),
             |e AS (SELECT doc_id, text, UNNEST(range(0, cnt)) AS i FROM n)
             |SELECT doc_id, CAST(i AS INT) AS chunk_id,
             |  substr(text, CAST(i * 96 + 1 AS INT), 120) AS chunk_text,
             |  CAST(LENGTH(substr(text, CAST(i * 96 + 1 AS INT), 120)) AS BIGINT) AS chunk_chars
             |FROM e ORDER BY 1, 2""".stripMargin)),

    // JSONL round-trip: documents written as JSON Lines (the dominant
    // LLM-corpus interchange format), read back under an EXPLICIT schema
    // (no inference scan — at 100 TB, schema inference is a full extra
    // pass), aggregated. Oracle runs on the parquet originals, so the
    // compare proves the round-trip lossless.
    Q("scan_jsonl", (s, dir) => {
      val out = s"/tmp/graft_jsonl_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      docs(s, dir).select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").json(out)
      s.read.schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .json(out)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum("n_chars").as("sum_chars"),
          sum(length(col("text")).cast("long")).as("sum_text_chars"))
        .orderBy("lang")
    }, Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
              |CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_text_chars
              |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ORC round-trip: the other columnar lake format Spark ships natively
    // (predicate pushdown + column pruning work the same as parquet).
    // Oracle runs on the parquet originals → round-trip proven lossless.
    Q("scan_orc", (s, dir) => {
      val out = s"/tmp/graft_orc_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      docs(s, dir).select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .filter(col("n_chars") >= 100)
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(length(col("text")).cast("long")).as("sum_text_chars"))
        .orderBy("source")
    }, Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
              |CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_text_chars
              |FROM documents WHERE n_chars >= 100 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // WebDataset tar shards round trip: docs → shard-N.tar members
    // (<doc_id>.txt text bytes, <doc_id>.cls lang bytes) → binaryFile
    // scan + tar walk → sample pivot → decoded aggregate. Shard
    // assignment is the closed form doc_id % 4, reproduced by the
    // oracle, so the per-(shard, lang) rollup verifies member naming,
    // payload integrity, sharding, and the pivot in one pass.
    Q("scan_tar", (s, dir) => {
      val out = s"/tmp/graft_wds_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.WebDataset.writeTar(
        docs(s, dir).select(col("doc_id"),
          col("text").cast("binary").as("t"), col("lang").cast("binary").as("l")),
        out, shards = 4, keyCol = "doc_id", members = Seq("txt" -> "t", "cls" -> "l"))
      // Verified read: the gate exercises the _SUCCESS job-commit marker
      // path a training loader should use (refuses partial releases).
      val m = graft.sources.WebDataset.scanTar(s, out, requireSuccess = true)
      graft.sources.WebDataset.samples(m, Seq("txt", "cls"))
        .select(
          regexp_extract(col("shard"), "(\\d+)$", 1).cast("long").as("shard"),
          decode(col("cls"), "UTF-8").as("lang"),
          length(decode(col("txt"), "UTF-8")).cast("long").as("n_text_chars"))
        .groupBy("shard", "lang")
        .agg(count(lit(1)).as("n"), sum("n_text_chars").as("sum_chars"))
        .orderBy("shard", "lang")
    }, Some(tarRollupSql)),

    // STREAMING ingest of the same shard directory: streamTar tails the
    // tars one file per micro-batch through the exactly-once parquet
    // file sink (fresh checkpoint per run), and the decoded rollup of
    // the sink equals the batch scan_tar oracle — the continuous-crawl
    // ingest path gated by the same DuckDB truth as its batch twin.
    Q("streaming_scan_tar_replay", (s, dir) => {
      val out = s"/tmp/graft_wds_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      graft.sources.WebDataset.writeTar(
        docs(s, dir).select(col("doc_id"),
          col("text").cast("binary").as("t"), col("lang").cast("binary").as("l")),
        out, shards = 4, keyCol = "doc_id", members = Seq("txt" -> "t", "cls" -> "l"))
      val sink = scratchDir("graft_wds_stream", dir)
      cleanupAtExit(sink + "_ckpt")
      val q = graft.sources.WebDataset.streamTar(s, out, maxFilesPerTrigger = 1)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", s"${sink}_ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      graft.sources.WebDataset.samples(s.read.parquet(sink), Seq("txt", "cls"))
        .select(
          regexp_extract(col("shard"), "(\\d+)$", 1).cast("long").as("shard"),
          decode(col("cls"), "UTF-8").as("lang"),
          length(decode(col("txt"), "UTF-8")).cast("long").as("n_text_chars"))
        .groupBy("shard", "lang")
        .agg(count(lit(1)).as("n"), sum("n_text_chars").as("sum_chars"))
        .orderBy("shard", "lang")
    }, Some(tarRollupSql)),

    // Binary-payload WebDataset: the MediaFixtures container payloads
    // (valid MP4/MP3/WebM/FLAC/Ogg/AAC byte streams) shipped through tar
    // shards and re-parsed by containerMeta on the far side — the same
    // closed-form oracle as multimodal_container_meta, so a single
    // flipped byte anywhere in the write→tar→scan path fails the gate.
    Q("scan_tar_media", (s, dir) => {
      val out = s"/tmp/graft_wds_media_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val payloads = MediaFixtures.syntheticContainers(docs(s, dir).select(col("doc_id")))
        .select(col("media_id"), col("payload"))
      graft.sources.WebDataset.writeTar(
        payloads, out, shards = 4, keyCol = "media_id", members = Seq("bin" -> "payload"))
      val m = graft.sources.WebDataset.scanTar(s, out)
      Multimodal.containerMeta(
        m.select(col("key").cast("long").as("media_id"), col("payload")))
        .orderBy("media_id")
    }, Some(containerMetaSql)),

    // STREAMING release: two deterministic halves of the corpus arrive
    // as micro-batches; tarSink lands each as its own batch=<id> shard
    // directory (byte-budget sizing PER BATCH), and the recursive scan
    // reads the accumulated layout back as one corpus. The oracle
    // replays the half split, the per-batch shard arithmetic, and the
    // decoded rollup — the continuous-release twin of sink_tar_sized.
    Q("streaming_sink_tar_replay", (s, dir) => {
      import s.implicits._
      implicit val sq = s.sqlContext
      val rows = docs(s, dir).select("doc_id", "lang", "text")
        .as[(Long, String, String)].collect().sortBy(_._1).toSeq
      val halves = rows.partition(_._1 < 250)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String)]
      val out = scratchDir("graft_tar_sink", dir)
      cleanupAtExit(out + "_ckpt")
      val q = graft.sources.WebDataset.tarSink(
        input.toDF().toDF("doc_id", "lang", "text"), out, targetShardBytes = 16384,
        members = Seq("txt" -> "text", "cls" -> "lang"))
        .option("checkpointLocation", s"${out}_ckpt").start()
      try Seq(halves._1, halves._2).foreach { b =>
        if (b.nonEmpty) input.addData(b: _*)
        q.processAllAvailable()
      } finally q.stop()
      graft.sources.WebDataset.samples(
          graft.sources.WebDataset.scanTar(s, out), Seq("txt", "cls"))
        .select(
          regexp_extract(col("shard"), "batch=(\\d+)", 1).cast("long").as("batch"),
          regexp_extract(col("shard"), "shard-(\\d+)", 1).cast("long").as("shard"),
          decode(col("cls"), "UTF-8").as("lang"),
          length(decode(col("txt"), "UTF-8")).cast("long").as("nc"))
        .groupBy("batch", "shard", "lang")
        .agg(count(lit(1)).as("n"), sum("nc").as("sum_chars"))
        .orderBy("batch", "shard", "lang")
    }, Some("""WITH h AS (SELECT doc_id, lang, text,
              |    CAST(CASE WHEN doc_id < 250 THEN 0 ELSE 1 END AS BIGINT) AS batch
              |  FROM documents),
              |s AS (SELECT batch, CAST(CEIL(SUM(strlen(text) + strlen(lang)) / 16384.0) AS BIGINT) AS ns
              |  FROM h GROUP BY 1)
              |SELECT h.batch, h.doc_id % s.ns AS shard, h.lang,
              |  CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(LENGTH(h.text)) AS BIGINT) AS sum_chars
              |FROM h JOIN s USING (batch) GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // Byte-budget tar release: the shard count is DERIVED from the
    // corpus's payload mass (ceil(total_bytes / 64 KiB) here — the
    // WebDataset "few hundred MB per shard" rule at sf scale), then the
    // same closed-form key%shards assignment. The oracle recomputes the
    // shard count as a scalar aggregate (strlen = UTF-8 bytes, matching
    // the binary cast), so a drift in sizing, assignment, or payload
    // bytes all fail the same gate.
    Q("sink_tar_sized", (s, dir) => {
      val out = s"/tmp/graft_wds_sized_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val nShards = graft.sources.WebDataset.writeTarAuto(
        docs(s, dir).select(col("doc_id"), col("text").cast("binary").as("t")),
        out, targetShardBytes = 64 * 1024, keyCol = "doc_id", members = Seq("txt" -> "t"))
      graft.sources.WebDataset.scanTar(s, out)
        .groupBy(regexp_extract(col("shard"), "(\\d+)$", 1).cast("long").as("shard"))
        .agg(count(lit(1)).as("n"), sum("n_bytes").as("sum_bytes"))
        .withColumn("n_shards", lit(nShards.toLong))
        .orderBy("shard")
    }, Some("""WITH s AS (SELECT CAST(CEIL(SUM(strlen(text)) / 65536.0) AS BIGINT) AS n_shards
              |    FROM documents),
              |g AS (SELECT doc_id % (SELECT n_shards FROM s) AS shard,
              |    CAST(COUNT(*) AS BIGINT) AS n,
              |    CAST(SUM(strlen(text)) AS BIGINT) AS sum_bytes
              |  FROM documents GROUP BY 1)
              |SELECT g.shard, g.n, g.sum_bytes, s.n_shards FROM g, s ORDER BY 1""".stripMargin)),

    Q("sink_jsonl", (s, dir) => {
      val out = s"/tmp/graft_jsonl_sink_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      docs(s, dir)
        .groupBy("source").agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
        .write.mode("overwrite").json(out)
      s.read.schema("source STRING, n BIGINT, sum_chars BIGINT").json(out)
        .orderBy("source")
    }, Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
              |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The release WRITE path: split + shuffle-shard, then a Hive-
    // partitioned parquet layout (`split=…/shard=…/` directories — how
    // corpora actually ship: training ingest reads one shard directory
    // per worker, eval jobs read only their split via partition
    // pruning). Round-trips through the partitioned files; per-partition
    // counts and byte totals verified against the closed-form oracle.
    Q("sink_partitioned", (s, dir) => {
      val out = s"/tmp/graft_partsink_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      CurationPipeline.fromYaml(docs(s, dir),
        """steps:
          |  - split: { train: 0.8, val: 0.1, test: 0.1 }
          |  - shuffle: { shards: 4 }
          |""".stripMargin)
        .write.mode("overwrite").partitionBy("split", "shard").parquet(out)
      s.read.parquet(out)
        .groupBy("split", "shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .select(col("split"), col("shard").cast("long").as("shard"),
          col("n_docs"), col("sum_chars"))
        .orderBy("split", "shard")
    }, Some("""WITH r AS (SELECT doc_id, n_chars,
             |    (doc_id % 1048576) * 2654435761 % 4294967296 AS rnd FROM documents),
             |sp AS (SELECT *, CASE WHEN rnd < 429496729 THEN 'test'
             |  WHEN rnd < 3865470566 THEN 'train' ELSE 'val' END AS split FROM r),
             |sh AS (SELECT *, rnd % 4 AS shard FROM sp)
             |SELECT split, CAST(shard AS BIGINT) AS shard,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
             |FROM sh GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // BM25 top-10 over the corpus for a fixed probe set — the inverted-
    // index retrieval plan (postings build is the only corpus-sized
    // shuffle; probes broadcast). Scores rounded to 4 decimals BEFORE
    // ranking on both engines so the hash-compare is exact.
    Q("search_bm25", (s, dir) => {
      val qs = s.createDataFrame(Seq(
        (1L, "spark join"), (2L, "window merge sort"), (3L, "vector hash batch")))
        .toDF("query_id", "query_text")
      Retrieval.bm25TopK(qs, docs(s, dir), k = 10)
        .orderBy("query_id", "rank")
    }, Some(bm25OracleSql()), bench = true),

    // The serve-many BM25 shape the driver gate also checks: postings
    // built once, parquet round-tripped, queried via the index overload —
    // result identical to the one-shot form, so it shares search_bm25's
    // oracle verbatim.
    Q("search_bm25_idx", (s, dir) => {
      val out = s"/tmp/graft_bm25_idx_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      Retrieval.postings(docs(s, dir)).write.mode("overwrite").parquet(out)
      val qs = s.createDataFrame(Seq(
        (1L, "spark join"), (2L, "window merge sort"), (3L, "vector hash batch")))
        .toDF("query_id", "query_text")
      Retrieval.bm25TopK(qs, s.read.parquet(out), k = 10, k1 = 1.2, b = 0.75)
        .orderBy("query_id", "rank")
    }, Some(bm25OracleSql())),

    // The STANDING-index serve path: two shard appends into the
    // term-bucketed batch=/tb= layout (tb a partition column), one
    // crash-safe compaction fold, then a serve whose corpus stats come
    // from the additive _stats manifest and whose postings scan prunes
    // to the probed term buckets — nothing corpus-sized at query time.
    // Row-equal to the one-shot run over the union corpus, so it shares
    // search_bm25's oracle verbatim.
    Q("search_bm25_serve", (s, dir) => {
      val out = scratchDir("graft_bm25_srv", dir)
      val d = docs(s, dir)
      Retrieval.appendIndex(d.filter(col("doc_id") < 250), out, "0", buckets = 16)
      Retrieval.appendIndex(d.filter(col("doc_id") >= 250), out, "1", buckets = 16)
      Retrieval.compactIndex(s, out)
      val qs = s.createDataFrame(Seq(
        (1L, "spark join"), (2L, "window merge sort"), (3L, "vector hash batch")))
        .toDF("query_id", "query_text")
      Retrieval.bm25TopKIndexed(s, qs, out, k = 10)
        .orderBy("query_id", "rank")
    }, Some(bm25OracleSql())),

    // The continuous-crawl face of the standing index: each micro-batch
    // appends its own batch=<id> postings + stats slice via the
    // foreachBatch indexSink, and the corpus is searchable between
    // appends — same oracle as the batch runs over the full corpus.
    Q("streaming_bm25_replay", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val rows = docs(s, dir).select("doc_id", "text")
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      val base = scratchDir("graft_stream_bm25", dir)
      val input = MemoryStream[(Long, String)]
      val q = input.toDF().toDF("doc_id", "text")
        .writeStream.outputMode("append")
        .foreachBatch(Retrieval.indexSink(s"$base/idx", buckets = 16))
        .option("checkpointLocation", s"$base/ckpt").start()
      try Seq(rows.filter(_._1 < 250), rows.filter(_._1 >= 250))
        .filter(_.nonEmpty)
        .foreach { b => input.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      val qs = s.createDataFrame(Seq(
        (1L, "spark join"), (2L, "window merge sort"), (3L, "vector hash batch")))
        .toDF("query_id", "query_text")
      Retrieval.bm25TopKIndexed(s, qs, s"$base/idx", k = 10)
        .orderBy("query_id", "rank")
    }, Some(bm25OracleSql())),

    // Deletion propagation over the standing index: purge doc_id % 7 = 0
    // after two appends, then serve — the oracle runs BM25 over the
    // documents table WITHOUT those docs, so it proves their postings
    // left AND that N/avgdl/df re-derive from the corrected manifest
    // (retained-doc scores shift, not just rows disappear).
    Q("search_bm25_purge", (s, dir) => {
      val out = scratchDir("graft_bm25_pg", dir)
      val d = docs(s, dir)
      Retrieval.appendIndex(d.filter(col("doc_id") < 250), out, "0", buckets = 16)
      Retrieval.appendIndex(d.filter(col("doc_id") >= 250), out, "1", buckets = 16)
      Retrieval.purgeIndex(s, out,
        d.filter(pmod(col("doc_id"), lit(7)) === 0).select("doc_id"))
      val qs = s.createDataFrame(Seq(
        (1L, "spark join"), (2L, "window merge sort"), (3L, "vector hash batch")))
        .toDF("query_id", "query_text")
      Retrieval.bm25TopKIndexed(s, qs, out, k = 10)
        .orderBy("query_id", "rank")
    }, Some(bm25OracleSql(" WHERE doc_id % 7 <> 0"))),

    // Health check for the standing-index layout: a healthy two-append
    // index reports NOTHING; a staged broken one reports exactly its
    // three defects (missing routing manifest, a slice without its job
    // marker, postings/stats label divergence) — one row each, the
    // alert surface an ops scanner consumes.
    Q("bm25_index_fsck", (s, dir) => {
      val d = docs(s, dir)
      val healthyDir = scratchDir("graft_bm25_fsck_ok", dir)
      Retrieval.appendIndex(d.filter(col("doc_id") < 250), healthyDir, "0", buckets = 16)
      Retrieval.appendIndex(d.filter(col("doc_id") >= 250), healthyDir, "1", buckets = 16)
      val healthy = Retrieval.fsckIndex(s, healthyDir)
      val broken = scratchDir("graft_bm25_fsck_bad", dir)
      Retrieval.appendIndex(d.filter(col("doc_id") < 250), broken, "0", buckets = 16)
      def rmrf(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
      }
      rmrf(new java.io.File(s"$broken/_stats/batch=0")) // crashed append
      rmrf(new java.io.File(s"$broken/_buckets"))       // no routing manifest
      new java.io.File(s"$broken/batch=1").mkdirs()     // slice without _SUCCESS
      healthy.withColumn("layout", lit("healthy"))
        .unionByName(Retrieval.fsckIndex(s, broken)
          .withColumn("layout", lit("broken")))
        .select("layout", "chk", "item")
        .orderBy("layout", "chk", "item")
    }, Some(
      """SELECT * FROM (VALUES
        |  ('broken', 'missing_buckets', '_buckets'),
        |  ('broken', 'missing_success', 'batch=1'),
        |  ('broken', 'stats_divergence', '_stats'))
        |AS t(layout, chk, item) ORDER BY 1, 2, 3""".stripMargin)),

    // Hybrid retrieval: BM25 top-20 + exact dense cosine top-20 fused by
    // reciprocal rank (RRF, rrfK=60) — rank-based, so the incomparable
    // score scales never meet; both input lists are oracle-proven exact
    // (search_bm25 / sim_bruteforce_cosine forms), and RRF summands are
    // 1/(60+integer-rank) — the same double on any engine.
    // Index-health stats of the BM25 postings index (one row): the
    // promote/alert signal set for append-only index accumulation —
    // n_docs/avgdl enter every score, n_terms/postings density and the
    // max-df term share catch vocabulary stagnation and boilerplate
    // floods. Exact integer arithmetic, explicit divisions → SQL oracle.
    // Index health served FROM the standing layout: the same stats row
    // as bm25_index_stats, but computed off readIndexPostings over a
    // two-append batch=/tb= index — no document is ever re-tokenized to
    // health-check a standing index. Same exact oracle as the in-memory
    // twin (two appends over a split corpus = postings of the union).
    Q("bm25_index_stats_idx", (s, dir) => {
      val out = scratchDir("graft_bm25_sts", dir)
      val d = docs(s, dir)
      Retrieval.appendIndex(d.filter(col("doc_id") < 250), out, "0", buckets = 16)
      Retrieval.appendIndex(d.filter(col("doc_id") >= 250), out, "1", buckets = 16)
      Retrieval.indexStats(Retrieval.readIndexPostings(s, out))
    }, Some("""WITH d AS (SELECT doc_id,
             |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks FROM documents),
             |p AS (SELECT doc_id, len(toks) AS dl, UNNEST(toks) AS term FROM d),
             |post AS (SELECT term, doc_id, dl, COUNT(*) AS tf FROM p GROUP BY 1, 2, 3),
             |dd AS (SELECT doc_id, ANY_VALUE(dl) AS dl FROM post GROUP BY 1),
             |da AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    ROUND(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl FROM dd),
             |ta AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_terms, MAX(df) AS max_df
             |  FROM (SELECT term, COUNT(*) AS df FROM post GROUP BY 1)),
             |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_postings FROM post)
             |SELECT n_docs, avgdl, n_terms, n_postings,
             |  ROUND(CAST(n_postings AS DOUBLE) / n_docs, 6) AS postings_per_doc,
             |  ROUND(CAST(max_df AS DOUBLE) / n_docs, 6) AS max_df_frac
             |FROM da, ta, tot""".stripMargin)),

    Q("bm25_index_stats", (s, dir) =>
      Retrieval.indexStats(Retrieval.postings(docs(s, dir))),
      Some("""WITH d AS (SELECT doc_id,
             |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks FROM documents),
             |p AS (SELECT doc_id, len(toks) AS dl, UNNEST(toks) AS term FROM d),
             |post AS (SELECT term, doc_id, dl, COUNT(*) AS tf FROM p GROUP BY 1, 2, 3),
             |dd AS (SELECT doc_id, ANY_VALUE(dl) AS dl FROM post GROUP BY 1),
             |da AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    ROUND(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl FROM dd),
             |ta AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_terms, MAX(df) AS max_df
             |  FROM (SELECT term, COUNT(*) AS df FROM post GROUP BY 1)),
             |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_postings FROM post)
             |SELECT n_docs, avgdl, n_terms, n_postings,
             |  ROUND(CAST(n_postings AS DOUBLE) / n_docs, 6) AS postings_per_doc,
             |  ROUND(CAST(max_df AS DOUBLE) / n_docs, 6) AS max_df_frac
             |FROM da, ta, tot""".stripMargin)),

    // The drift gate itself on a shard-append sequence: accepted index =
    // docs < 250, accumulated index = the full corpus — long-format
    // (stat, old, new, ratio) rows mirroring corpus_profile_diff's
    // shape, ratio thresholds being the promote/alert rule.
    Q("bm25_index_drift", (s, dir) => {
      val d = docs(s, dir)
      Retrieval.indexStatsDiff(
        Retrieval.indexStats(Retrieval.postings(d.filter(col("doc_id") < 250))),
        Retrieval.indexStats(Retrieval.postings(d)))
    },
      Some("""WITH tok AS (SELECT doc_id,
             |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks FROM documents),
             |tokp AS (SELECT part, doc_id, toks
             |  FROM tok, (SELECT UNNEST([0, 1]) AS part)
             |  WHERE (CASE WHEN doc_id < 250 THEN 0 ELSE 1 END) <= part),
             |p AS (SELECT part, doc_id, len(toks) AS dl, UNNEST(toks) AS term FROM tokp),
             |post AS (SELECT part, term, doc_id, ANY_VALUE(dl) AS dl FROM p GROUP BY 1, 2, 3),
             |dd AS (SELECT part, doc_id, ANY_VALUE(dl) AS dl FROM post GROUP BY 1, 2),
             |da AS (SELECT part, CAST(COUNT(*) AS DOUBLE) AS n_docs,
             |    ROUND(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl FROM dd GROUP BY 1),
             |tdf AS (SELECT part, term, COUNT(*) AS df FROM post GROUP BY 1, 2),
             |ta AS (SELECT part, CAST(COUNT(*) AS DOUBLE) AS n_terms,
             |    MAX(df) AS max_df FROM tdf GROUP BY 1),
             |tot AS (SELECT part, CAST(COUNT(*) AS DOUBLE) AS n_postings FROM post GROUP BY 1),
             |stats AS (SELECT da.part, n_docs, avgdl, n_terms, n_postings,
             |    ROUND(n_postings / n_docs, 6) AS postings_per_doc,
             |    ROUND(CAST(max_df AS DOUBLE) / n_docs, 6) AS max_df_frac
             |  FROM da JOIN ta ON da.part = ta.part JOIN tot ON da.part = tot.part),
             |o AS (SELECT * FROM stats WHERE part = 0),
             |n AS (SELECT * FROM stats WHERE part = 1),
             |pairs AS (
             |  SELECT 'avgdl' AS stat, o.avgdl AS old_val, n.avgdl AS new_val FROM o, n
             |  UNION ALL SELECT 'max_df_frac', o.max_df_frac, n.max_df_frac FROM o, n
             |  UNION ALL SELECT 'n_docs', o.n_docs, n.n_docs FROM o, n
             |  UNION ALL SELECT 'n_postings', o.n_postings, n.n_postings FROM o, n
             |  UNION ALL SELECT 'n_terms', o.n_terms, n.n_terms FROM o, n
             |  UNION ALL SELECT 'postings_per_doc', o.postings_per_doc, n.postings_per_doc FROM o, n)
             |SELECT stat, old_val, new_val,
             |  CASE WHEN old_val IS NULL OR old_val = 0 OR new_val IS NULL THEN NULL
             |       ELSE ROUND(new_val / old_val, 6) END AS ratio
             |FROM pairs ORDER BY stat""".stripMargin)),

    // Vocab/tokenizer drift gate for a standing token release — the
    // bm25_index_drift / servingRecall analogue for tokenization: the
    // sink_tokens vocab fits ONCE (shard 0) and is served to every
    // later shard, so a drifting corpus tokenizes progressively worse
    // with no error anywhere. Shard 1 arrives accent-shifted (every
    // 'e' → 'é' — unseen byte sequences), and the gate reads the two
    // shards' manifest rows: token mass, UNK/byte-fallback share
    // (oov_rate), and the fertility pair. Full SQL oracle replaying
    // the vocab fit + rates from documents.
    Q("tokenizer_drift", (s, dir) => {
      val state = scratchDir("graft_tokdrift_state", dir)
      val rel = scratchDir("graft_tokdrift_rel", dir)
      val p = graft.config.CurationConfig.fromYaml(
        s"""steps:
           |  - dedup_exact: {}
           |  - sink_tokens: { path: $rel, budget: 128, vocab: 1000,
           |                   buckets: 8, target_bytes: 16384 }
           |""".stripMargin)
      val d = docs(s, dir)
      CurationPipeline.applyShard(d.filter(col("doc_id") < 250), p, state, "0")
      CurationPipeline.applyShard(
        d.filter(col("doc_id") >= 250)
          .withColumn("text", regexp_replace(col("text"), "e", "é")),
        p, state, "1")
      CurationPipeline.tokenizerDrift(s, rel)
    }, Some(
      """WITH d0 AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
        |d1 AS (SELECT doc_id, replace(text, 'e', 'é') AS text
        |  FROM documents WHERE doc_id >= 250),
        |allx AS (SELECT * FROM d0 UNION ALL SELECT * FROM d1),
        |kept AS (SELECT * FROM allx
        |  WHERE doc_id IN (SELECT MIN(doc_id) FROM allx GROUP BY text)),
        |lab AS (SELECT doc_id, text,
        |  CASE WHEN doc_id < 250 THEN 0 ELSE 1 END AS part FROM kept),
        |tk AS (SELECT part, doc_id,
        |  UNNEST(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
        |  FROM lab),
        |cnt AS (SELECT tok, COUNT(*) AS c FROM tk WHERE part = 0 GROUP BY 1),
        |voc AS (SELECT tok FROM cnt ORDER BY c DESC, tok LIMIT 1000),
        |st AS (SELECT part, CAST(COUNT(*) AS DOUBLE) AS t,
        |  CAST(SUM(CASE WHEN tok NOT IN (SELECT tok FROM voc)
        |    THEN 1 ELSE 0 END) AS DOUBLE) AS ov
        |  FROM tk GROUP BY 1),
        |tx AS (SELECT part,
        |  CAST(SUM(len(list_filter(string_split(lower(text), ' '),
        |    x -> x <> ''))) AS DOUBLE) AS w,
        |  CAST(SUM(strlen(text)) AS DOUBLE) AS b FROM lab GROUP BY 1),
        |m AS (SELECT st.part, t, ov, w, b FROM st JOIN tx USING (part)),
        |o AS (SELECT * FROM m WHERE part = 0),
        |n AS (SELECT * FROM m WHERE part = 1),
        |pairs AS (
        |  SELECT 'n_tokens_per_shard' AS stat, o.t AS old_val, n.t AS new_val FROM o, n
        |  UNION ALL SELECT 'oov_rate', ROUND(o.ov / o.t, 6), ROUND(n.ov / n.t, 6) FROM o, n
        |  UNION ALL SELECT 'tokens_per_kb', ROUND(o.t * 1024 / o.b, 6),
        |    ROUND(n.t * 1024 / n.b, 6) FROM o, n
        |  UNION ALL SELECT 'tokens_per_word', ROUND(o.t / o.w, 6),
        |    ROUND(n.t / n.w, 6) FROM o, n)
        |SELECT stat, old_val, new_val, ROUND(new_val / old_val, 6) AS ratio
        |FROM pairs ORDER BY stat""".stripMargin)),

    // Hybrid retrieval served ENTIRELY from standing layouts: the lexical
    // list from the term-bucketed BM25 index (manifest stats + pruned
    // scan), the dense list from the persisted IVF-PQ index (probe + ADC
    // scan, no query-time fit), fused by RRF — the production serve
    // topology where no retriever touches raw text or vectors at query
    // time. COMPOSED oracle: the BM25 half and the RRF arithmetic are
    // exact SQL (the search_bm25_serve form proves indexed == flat);
    // the dense half is the hash-seeded IVF-PQ serve — deterministic
    // but with no SQL form — pinned as a literal VALUES table
    // (regenerate with graft.tools.HybridOracleGen if the sf0.01
    // embeddings fixture is regenerated, the GoldenGen flow).
    Q("search_hybrid_idx", (s, dir) => {
      val qs = s.createDataFrame(Seq(
        (0L, "spark join"), (1L, "window merge sort"), (2L, "vector hash batch")))
        .toDF("query_id", "query_text")
      val bmDir = scratchDir("graft_hyb_bm25", dir)
      val d = docs(s, dir)
      Retrieval.appendIndex(d.filter(col("doc_id") < 250), bmDir, "0", buckets = 16)
      Retrieval.appendIndex(d.filter(col("doc_id") >= 250), bmDir, "1", buckets = 16)
      val lex = Retrieval.bm25TopKIndexed(s, qs, bmDir, k = 20)
      val e = emb(s, dir)
      val annDir = s"/tmp/graft_hyb_ivfpq_idx_v${ProductQuant.indexFormatVersion}_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_")
      if (!new java.io.File(s"$annDir/codes/_SUCCESS").exists())
        ProductQuant.ivfPqIndex(e, nlist = 16, m = 16, ks = 32).save(annDir)
      val dense = ProductQuant.ivfPqTopK(
        e.filter(col("vec_id") < 3), e, IvfPqIndex.load(s, annDir),
        20, 12, 0, "vec_id", "embedding")
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(lex, dense, k = 10)
        .orderBy("query_id", "rank")
    }, Some("""WITH d AS (SELECT doc_id,
              |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks FROM documents),
              |p AS (SELECT doc_id, len(toks) AS dl, UNNEST(toks) AS term FROM d),
              |post AS (SELECT term, doc_id, dl, CAST(COUNT(*) AS BIGINT) AS tf FROM p GROUP BY 1, 2, 3),
              |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
              |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
              |  FROM (SELECT doc_id, ANY_VALUE(dl) AS dl FROM post GROUP BY 1)),
              |q0 AS (SELECT * FROM (VALUES (0, 'spark join'), (1, 'window merge sort'),
              |    (2, 'vector hash batch')) v(query_id, qt)),
              |q AS (SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id,
              |    UNNEST(list_filter(string_split(lower(qt), ' '), x -> x <> '')) AS term FROM q0),
              |rel AS (SELECT p.term, p.doc_id, p.tf, p.dl FROM post p
              |  WHERE p.term IN (SELECT DISTINCT term FROM q)),
              |dfT AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM rel GROUP BY 1),
              |sc AS (SELECT q.query_id, r.doc_id,
              |    SUM(LN(1.0 + (g.n_docs - t.df + 0.5) / (t.df + 0.5)) *
              |        (r.tf * 2.2 / (r.tf + 1.2 * (1.0 - 0.75 + 0.75 * r.dl / g.avgdl)))) AS raw
              |  FROM rel r JOIN q ON q.term = r.term JOIN dfT t ON t.term = r.term CROSS JOIN g
              |  GROUP BY 1, 2),
              |lex AS (SELECT query_id, doc_id, rk AS lex_rank FROM (
              |  SELECT query_id, doc_id, ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY ROUND(raw, 4) DESC, doc_id) AS rk FROM sc) WHERE rk <= 20),
              |dense AS (SELECT CAST(query_id AS BIGINT) AS query_id,
              |    CAST(doc_id AS BIGINT) AS doc_id, dr AS dense_rank
              |  FROM (VALUES
              |    (0, 365, 1), (0, 334, 2), (0, 387, 3), (0, 423, 4), (0, 73, 5),
              |    (0, 7, 6), (0, 190, 7), (0, 464, 8), (0, 388, 9), (0, 483, 10),
              |    (0, 323, 11), (0, 257, 12), (0, 165, 13), (0, 131, 14), (0, 36, 15),
              |    (0, 478, 16), (0, 85, 17), (0, 229, 18), (0, 270, 19), (0, 261, 20),
              |    (1, 386, 1), (1, 27, 2), (1, 407, 3), (1, 195, 4), (1, 64, 5),
              |    (1, 124, 6), (1, 402, 7), (1, 472, 8), (1, 220, 9), (1, 203, 10),
              |    (1, 363, 11), (1, 312, 12), (1, 353, 13), (1, 268, 14), (1, 300, 15),
              |    (1, 467, 16), (1, 285, 17), (1, 222, 18), (1, 233, 19), (1, 213, 20),
              |    (2, 117, 1), (2, 450, 2), (2, 145, 3), (2, 188, 4), (2, 320, 5),
              |    (2, 418, 6), (2, 471, 7), (2, 112, 8), (2, 350, 9), (2, 172, 10),
              |    (2, 197, 11), (2, 440, 12), (2, 109, 13), (2, 198, 14), (2, 97, 15),
              |    (2, 239, 16), (2, 459, 17), (2, 128, 18), (2, 202, 19), (2, 407, 20)
              |  ) dv(query_id, doc_id, dr)),
              |fused AS (SELECT COALESCE(l.query_id, de.query_id) AS query_id,
              |    COALESCE(l.doc_id, de.doc_id) AS doc_id,
              |    ROUND(COALESCE(1.0 / (60 + l.lex_rank), 0) +
              |          COALESCE(1.0 / (60 + de.dense_rank), 0), 6) AS rrf_score
              |  FROM lex l FULL OUTER JOIN dense de
              |    ON l.query_id = de.query_id AND l.doc_id = de.doc_id),
              |out AS (SELECT query_id, doc_id, rrf_score,
              |    ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY rrf_score DESC, doc_id) AS rank FROM fused)
              |SELECT query_id, doc_id, CAST(rank AS INT) AS rank, rrf_score
              |FROM out WHERE rank <= 10 ORDER BY 1, 3""".stripMargin)),

    Q("search_hybrid", (s, dir) => {
      val qs = s.createDataFrame(Seq(
        (0L, "spark join"), (1L, "window merge sort"), (2L, "vector hash batch")))
        .toDF("query_id", "query_text")
      val lex = Retrieval.bm25TopK(qs, docs(s, dir), k = 20)
      val dense = Similarity.bruteForceTopK(
        emb(s, dir).filter(col("vec_id") < 3), emb(s, dir), k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(lex, dense, k = 10)
        .orderBy("query_id", "rank")
    }, Some("""WITH d AS (SELECT doc_id,
              |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks FROM documents),
              |p AS (SELECT doc_id, len(toks) AS dl, UNNEST(toks) AS term FROM d),
              |post AS (SELECT term, doc_id, dl, CAST(COUNT(*) AS BIGINT) AS tf FROM p GROUP BY 1, 2, 3),
              |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
              |    CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
              |  FROM (SELECT doc_id, ANY_VALUE(dl) AS dl FROM post GROUP BY 1)),
              |q0 AS (SELECT * FROM (VALUES (0, 'spark join'), (1, 'window merge sort'),
              |    (2, 'vector hash batch')) v(query_id, qt)),
              |q AS (SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id,
              |    UNNEST(list_filter(string_split(lower(qt), ' '), x -> x <> '')) AS term FROM q0),
              |rel AS (SELECT p.term, p.doc_id, p.tf, p.dl FROM post p
              |  WHERE p.term IN (SELECT DISTINCT term FROM q)),
              |dfT AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM rel GROUP BY 1),
              |sc AS (SELECT q.query_id, r.doc_id,
              |    SUM(LN(1.0 + (g.n_docs - t.df + 0.5) / (t.df + 0.5)) *
              |        (r.tf * 2.2 / (r.tf + 1.2 * (1.0 - 0.75 + 0.75 * r.dl / g.avgdl)))) AS raw
              |  FROM rel r JOIN q ON q.term = r.term JOIN dfT t ON t.term = r.term CROSS JOIN g
              |  GROUP BY 1, 2),
              |lex AS (SELECT query_id, doc_id, rk AS lex_rank FROM (
              |  SELECT query_id, doc_id, ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY ROUND(raw, 4) DESC, doc_id) AS rk FROM sc) WHERE rk <= 20),
              |qv AS (SELECT vec_id AS query_id, embedding AS v FROM embeddings WHERE vec_id < 3),
              |cs AS (SELECT qv.query_id, c.vec_id AS doc_id,
              |    list_cosine_similarity(CAST(qv.v AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim
              |  FROM qv, embeddings c WHERE c.vec_id <> qv.query_id),
              |dense AS (SELECT query_id, doc_id, rk AS dense_rank FROM (
              |  SELECT query_id, doc_id, ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY sim DESC, doc_id) AS rk FROM cs) WHERE rk <= 20),
              |fused AS (SELECT COALESCE(l.query_id, de.query_id) AS query_id,
              |    COALESCE(l.doc_id, de.doc_id) AS doc_id,
              |    ROUND(COALESCE(1.0 / (60 + l.lex_rank), 0) +
              |          COALESCE(1.0 / (60 + de.dense_rank), 0), 6) AS rrf_score
              |  FROM lex l FULL OUTER JOIN dense de
              |    ON l.query_id = de.query_id AND l.doc_id = de.doc_id),
              |out AS (SELECT query_id, doc_id, rrf_score,
              |    ROW_NUMBER() OVER (PARTITION BY query_id
              |      ORDER BY rrf_score DESC, doc_id) AS rank FROM fused)
              |SELECT query_id, doc_id, CAST(rank AS INT) AS rank, rrf_score
              |FROM out WHERE rank <= 10 ORDER BY 1, 3""".stripMargin)),

    // Per-document keyword extraction: top-3 TF-IDF terms (smoothed idf,
    // sklearn convention) — the corpus-tagging primitive. Thin postings
    // frames only; scores rounded to 4 decimals before ranking.
    Q("text_keywords", (s, dir) =>
      Retrieval.tfidfKeywords(docs(s, dir), k = 3)
        .orderBy("doc_id", "rank"),
      Some("""WITH d AS (SELECT doc_id,
             |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks FROM documents),
             |p AS (SELECT doc_id, len(toks) AS dl, UNNEST(toks) AS term FROM d),
             |post AS (SELECT term, doc_id, dl, CAST(COUNT(*) AS BIGINT) AS tf FROM p GROUP BY 1, 2, 3),
             |n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM post),
             |dfT AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM post GROUP BY 1),
             |sc AS (SELECT post.doc_id, post.term,
             |    ROUND(post.tf * LN((1.0 + n.n_docs) / (1.0 + dfT.df)), 4) AS score
             |  FROM post JOIN dfT ON dfT.term = post.term CROSS JOIN n),
             |rk AS (SELECT doc_id, term, score,
             |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM sc)
             |SELECT doc_id, term, CAST(rank AS INT) AS rank, score
             |FROM rk WHERE rank <= 3 ORDER BY 1, 3""".stripMargin)),

    // Whole-table sketch profile: one aggregate pass emitting per-column
    // row/null counts, exact min/max, HLL++ distinct estimates, and
    // approx quantiles (length-distribution for strings). Composed
    // oracle: every EXACT stat (counts, nulls, null_frac, min/max,
    // means) recomputes in DuckDB from the raw table; only the
    // engine-specific sketch columns (HLL distinct_est + approx
    // quantiles — deterministic, no RNG) are pinned VALUES
    // (PinnedOracles.profileSketch, drift-guarded). ProfilingSpec
    // additionally asserts the sketches within error bounds vs brute
    // force. The 100 TB ingest-QA scan: the only shuffle is
    // per-partition sketch state. Quantiles are flattened to scalar
    // q25/q50/q75 columns here (the array form stays the Profiling API)
    // so scalar-only sinks can hash the rows.
    Q("corpus_profile", (s, dir) =>
      graft.operators.Profiling.flattenQuantiles(
          graft.operators.Profiling.corpusProfile(docs(s, dir)))
        // 4-dp mean: double partial-sum merge order is the one stat that
        // is not bitwise partition-order-independent; everything else
        // (counts, min/max, HLL registers, rank-based quantiles) is.
        .withColumn("mean", round(col("mean"), 4)),
      Some(
        s"""WITH pin AS (SELECT c, CAST(de AS BIGINT) AS distinct_est,
           |    CAST(a AS DOUBLE) AS q25, CAST(b AS DOUBLE) AS q50,
           |    CAST(q AS DOUBLE) AS q75
           |  FROM (VALUES ${PinnedOracles.profileSketch}) v(c, de, a, b, q)),
           |s AS (
           |  SELECT 'doc_id' AS c, 'bigint' AS dtype,
           |    CAST(COUNT(*) AS BIGINT) AS n_rows,
           |    CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |    CAST(MIN(doc_id) AS VARCHAR) AS min_val,
           |    CAST(MAX(doc_id) AS VARCHAR) AS max_val,
           |    ROUND(AVG(CAST(doc_id AS DOUBLE)), 4) AS mean FROM documents
           |  UNION ALL
           |  SELECT 'lang', 'string', CAST(COUNT(*) AS BIGINT),
           |    CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           |    CAST(MIN(lang) AS VARCHAR), CAST(MAX(lang) AS VARCHAR),
           |    ROUND(AVG(CAST(LENGTH(lang) AS DOUBLE)), 4) FROM documents
           |  UNION ALL
           |  SELECT 'n_chars', 'bigint', CAST(COUNT(*) AS BIGINT),
           |    CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           |    CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR),
           |    ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) FROM documents
           |  UNION ALL
           |  SELECT 'source', 'string', CAST(COUNT(*) AS BIGINT),
           |    CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           |    CAST(MIN(source) AS VARCHAR), CAST(MAX(source) AS VARCHAR),
           |    ROUND(AVG(CAST(LENGTH(source) AS DOUBLE)), 4) FROM documents
           |  UNION ALL
           |  SELECT 'text', 'string', CAST(COUNT(*) AS BIGINT),
           |    CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           |    CAST(MIN(text) AS VARCHAR), CAST(MAX(text) AS VARCHAR),
           |    ROUND(AVG(CAST(LENGTH(text) AS DOUBLE)), 4) FROM documents)
           |SELECT s.c AS "column", s.dtype, s.n_rows, s.n_nulls,
           |  ROUND(CAST(s.n_nulls AS DOUBLE) / GREATEST(s.n_rows, 1), 6) AS null_frac,
           |  p.distinct_est, s.min_val, s.max_val, s.mean, p.q25, p.q50, p.q75
           |FROM s JOIN pin p ON p.c = s.c ORDER BY 1""".stripMargin)),

    // Incremental profiling: each shard profiled INDEPENDENTLY (the
    // ingest-time pass), then folded by pure sufficient-statistic
    // algebra — counts/sums add, min/max compare by value, DataSketches
    // HLL sketches union — without rescanning old shards. The 100 TB
    // continuous-ingest QA shape (corpus_profile is the one-shot form).
    // Composed oracle: exact stats replay in SQL; the merged-HLL
    // distinct estimates are pinned. Fold-shape parity and error bounds
    // are ProfilingSpec's.
    Q("corpus_profile_incr", (s, dir) => {
      val d = docs(s, dir)
      graft.operators.Profiling.profileFromShards(
        graft.operators.Profiling.mergeShardProfiles(
          graft.operators.Profiling.shardProfile(d.filter(col("doc_id") < 250))
            .unionByName(
              graft.operators.Profiling.shardProfile(d.filter(col("doc_id") >= 250)))))
    }, Some(
      s"""WITH pin AS (SELECT c, CAST(de AS BIGINT) AS distinct_est
         |  FROM (VALUES ${PinnedOracles.profileIncrSketch}) v(c, de)),
         |s AS (${profileStatsSql("documents")})
         |SELECT s.c AS "column", s.dt AS dtype, s.rows_ AS n_rows,
         |  s.nulls_ AS n_nulls,
         |  ROUND(CAST(s.nulls_ AS DOUBLE) / GREATEST(s.rows_, 1), 6) AS null_frac,
         |  p.distinct_est, s.min_val, s.max_val, ROUND(s.mean_, 4) AS mean
         |FROM s JOIN pin p ON p.c = s.c ORDER BY 1""".stripMargin)),

    // The incremental QA loop closed: drift between the ACCEPTED
    // standing profile (first shard) and the profile after a second
    // shard folds in — the exact promote/alert comparison a continuous
    // ingest runs between batches, computed entirely from persisted
    // shard profiles (no corpus rescan). Composed oracle: ratio algebra
    // in SQL, per-side merged-HLL estimates pinned.
    Q("corpus_profile_incr_diff", (s, dir) => {
      val d = docs(s, dir)
      // The first shard's profile serves BOTH sides (accepted snapshot,
      // and one input of the fold) — computed once, like production
      // where shard profiles are persisted artifacts.
      def prof(shards: DataFrame) = graft.operators.Profiling.profileFromShards(
        graft.operators.Profiling.mergeShardProfiles(shards))
      val shardA = graft.plans.Materialize(
        graft.operators.Profiling.shardProfile(d.filter(col("doc_id") < 250)))
      val shardB = graft.operators.Profiling.shardProfile(d.filter(col("doc_id") >= 250))
      graft.operators.Profiling.profileDiff(prof(shardA), prof(shardA.unionByName(shardB)))
        .withColumn("mean_old", round(col("mean_old"), 4))
        .withColumn("mean_new", round(col("mean_new"), 4))
    }, Some(profileDiffSql(
      PinnedOracles.profileIncrDiffSketch, "shard_a", "documents",
      "shard_a AS (SELECT * FROM documents WHERE doc_id < 250),"))),

    // Mergeable quantiles (DDSketch log buckets): per-shard sketches
    // merged by adding bucket counts (exact, associative — the thing
    // percentile_approx outputs cannot do), quantiles read off the
    // merged sketch within relative error α. Closed-form bucket math →
    // deterministic → golden; the α-bound and merge-exactness are
    // ProfilingSpec's.
    Q("corpus_quantiles_incr", (s, dir) => {
      val d = docs(s, dir)
      val sk = graft.operators.Profiling.mergeLogSketches(
        graft.operators.Profiling.logQuantileSketch(d.filter(col("doc_id") < 250))
          .unionByName(
            graft.operators.Profiling.logQuantileSketch(d.filter(col("doc_id") >= 250))))
      graft.operators.Profiling.quantilesFromLogSketch(sk)
    }, None),

    // Snapshot-over-snapshot profile drift: new/old ratios per column
    // (the promote/alert gate of an ingest pipeline). Here the "new"
    // snapshot is a deterministic half-corpus with synthesized nulls, so
    // rows_ratio ≈ 0.5 and lang's null_frac jumps — the drift the gate
    // exists to catch. Composed oracle: the whole ratio algebra replays
    // in SQL over both sides; only the HLL estimates feeding
    // distinct_ratio are pinned (ProfilingSpec additionally asserts the
    // algebra).
    Q("corpus_profile_diff", (s, dir) => {
      val d = docs(s, dir)
      val drifted = d.filter(col("doc_id") % 2 === 0)
        .withColumn("lang", when(col("doc_id") % 4 =!= 0, col("lang")))
      graft.operators.Profiling.profileDiff(
          graft.operators.Profiling.corpusProfile(d),
          graft.operators.Profiling.corpusProfile(drifted))
        .withColumn("mean_old", round(col("mean_old"), 4))
        .withColumn("mean_new", round(col("mean_new"), 4))
    }, Some(profileDiffSql(
      PinnedOracles.profileDiffSketch, "documents", "drift",
      """drift AS (SELECT doc_id, CASE WHEN doc_id % 4 <> 0 THEN lang END AS lang,
        |    source, text, n_chars FROM documents WHERE doc_id % 2 = 0),""".stripMargin))),

    // Corpus profiling: per-(source, lang) exact counts + distribution
    // stats — one map-side-combined aggregate (the dataset-card numbers a
    // curation pipeline reports per snapshot). Median via exact linear-
    // interpolation percentile, identical arithmetic on both engines.
    Q("corpus_stats", (s, dir) =>
      docs(s, dir)
        .groupBy("source", "lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"),
          round(sum("n_chars").cast("double") / count(lit(1)), 3).as("avg_chars"),
          round(expr("percentile(n_chars, 0.5)"), 3).as("median_chars"))
        .orderBy("source", "lang"),
      Some("""SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
             |  CAST(MAX(n_chars) AS BIGINT) AS max_chars,
             |  ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 3) AS avg_chars,
             |  ROUND(quantile_cont(n_chars, 0.5), 3) AS median_chars
             |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Model-based quality filter (the GPT-3 curation stage): logistic
    // regression over hashed n-gram features, trained by distributed
    // batch gradient descent against broadcast weights (label: is the
    // document English — separable from text, so the learned scores are
    // meaningful). Composed oracle: pinned pre-sigmoid margins ×
    // DuckDB σ + rounding (see qualityScoreSql); determinism = zero
    // init + fixed lr, no RNG.
    Q("text_quality_model", (s, dir) => {
      val d = docs(s, dir)
      val model = QualityClassifier.train(
        d.withColumn("is_en", (col("lang") === "en").cast("int")),
        labelCol = "is_en", dim = 1024, iters = 32)
      QualityClassifier.score(d, model).orderBy("doc_id")
    }, Some(qualityScoreSql(PinnedOracles.qmodelMargins32)),
      bench = true, warmup = true),

    // Fit-once / serve-many quality model (the ivfpq_idx split applied
    // to the classifier): the weight frame is fit and persisted on first
    // use; every subsequent run LOADS it and pays only the broadcast-
    // join scoring pass — the production serve path, benched separately
    // so the 32-iteration fit's scheduler noise stays out of the serving
    // regression signal. Output ≡ text_quality_model (save/load parity
    // is asserted in QualityClassifierSpec) → same composed oracle.
    Q("text_quality_model_idx", (s, dir) => {
      val d = docs(s, dir)
      // Cache keyed on fit-recipe version + corpus fingerprint (see
      // qualityModelDir): stale code or regenerated fixtures refit.
      val mDir = qualityModelDir(s, dir)
      if (!new java.io.File(s"$mDir/_SUCCESS").exists())
        QualityClassifier.train(
            d.withColumn("is_en", (col("lang") === "en").cast("int")),
            labelCol = "is_en", dim = 1024, iters = 32)
          .write.mode("overwrite").parquet(mDir)
      QualityClassifier.score(d, s.read.parquet(mDir)).orderBy("doc_id")
    }, Some(qualityScoreSql(PinnedOracles.qmodelMargins32)),
      bench = true, warmup = true),

    // Real BPE (Sennrich 2016): merges learned from the corpus word-
    // frequency table (the bounded-dictionary learn), applied map-side
    // with broadcast ranks. Iterative merge learning is not SQL-
    // expressible — golden fixture (deterministic: lexicographic ties).
    Q("text_bpe_tokens", (s, dir) => {
      val merges = graft.functions.Bpe.learnMerges(
        docs(s, dir), numMerges = 64, vocabLimit = 4096)
      graft.functions.Bpe.tokenCounts(docs(s, dir), merges)
        .orderBy("doc_id")
    }, None, bench = true, warmup = true),

    // Byte-level BPE (GPT-2 byte alphabet) on a mixed-script corpus: the
    // zh-lang docs become UNSEGMENTED CJK via a deterministic letter →
    // hanzi translation with spaces removed — exactly the input shape
    // that breaks whitespace-word BPE (each doc is one giant "word") and
    // that the byte alphabet absorbs: 3-byte codepoints enter as byte
    // triplets and the frequent ones fuse bottom-up, with zero
    // out-of-vocabulary outcomes possible. Iterative learn → golden.
    Q("text_bpe_bytes", (s, dir) => {
      val hanzi = "一二三四五六七八九十百千万上下左右中大小山水火木金土"
      val mixed = docs(s, dir).withColumn("text",
        when(col("lang") === "zh",
          translate(col("text"), "abcdefghijklmnopqrstuvwxyz ", hanzi))
          .otherwise(col("text")))
      val merges = graft.functions.Bpe.learnMerges(
        mixed, numMerges = 96, vocabLimit = 4096, byteLevel = true)
      graft.functions.Bpe.tokenCounts(mixed, merges, byteLevel = true)
        .orderBy("doc_id")
    }, None),

    // Unigram-LM (SentencePiece-style) tokenization on the same
    // mixed-script corpus as text_bpe_bytes: the zh docs are unsegmented
    // CJK, the shape the unigram model exists for — multi-char pieces
    // form directly under the EM prune instead of via pairwise merges.
    // Iterative EM learn → golden fixture, like the BPE entries.
    Q("text_unigram_tokens", (s, dir) => {
      val hanzi = "一二三四五六七八九十百千万上下左右中大小山水火木金土"
      val mixed = docs(s, dir).withColumn("text",
        when(col("lang") === "zh",
          translate(col("text"), "abcdefghijklmnopqrstuvwxyz ", hanzi))
          .otherwise(col("text")))
      val pieces = graft.functions.Unigram.learnPieces(
        mixed, vocabSize = 512, maxPieceLen = 6, emIters = 2, vocabLimit = 4096)
      graft.functions.Unigram.tokenCounts(mixed, pieces, maxPieceLen = 6)
        .orderBy("doc_id")
    }, None, bench = true, warmup = true)
  )

  /** The flagship cohort task (same shape as the reference's in-hospital
    * mortality task) over the events table's codes.
    */
  private[graft] val flagshipYaml =
    """predicates:
      |  click: { code: click }
      |  purchase: { code: purchase }
      |  error: { code: error }
      |  signup: { code: signup }
      |  converted: { expr: "or(purchase, signup)" }
      |trigger: click
      |windows:
      |  input:
      |    start: NULL
      |    end: trigger + 24h
      |    start_inclusive: True
      |    end_inclusive: True
      |    has: { _ANY_EVENT: "(2, None)" }
      |    index_timestamp: end
      |  gap:
      |    start: trigger
      |    end: start + 48h
      |    start_inclusive: False
      |    end_inclusive: True
      |    has: { error: "(None, 0)" }
      |  target:
      |    start: gap.end
      |    end: start -> converted
      |    start_inclusive: False
      |    end_inclusive: True
      |    label: purchase
      |""".stripMargin

  /** Second cohort task: backward event bound (`end <- click`) + temporal
    * label window — exercises bound_to_row and index-from-bound-timestamp.
    */
  private val readmissionYaml =
    """predicates:
      |  click: { code: click }
      |  purchase: { code: purchase }
      |trigger: purchase
      |windows:
      |  input:
      |    start: end <- click
      |    end: trigger
      |    start_inclusive: True
      |    end_inclusive: True
      |    index_timestamp: start
      |  target:
      |    start: trigger
      |    end: start + 30 days
      |    start_inclusive: False
      |    end_inclusive: True
      |    label: click
      |""".stripMargin

  /** The task in `yaml` over the events table read as MEDS rows. */
  private def cohort(yaml: String, s: SparkSession, dir: String): DataFrame = {
    val cfg = graft.config.TaskConfig.fromYaml(yaml)
    val ev = Tables.events(s, dir).select(
      col("user_id").as("subject_id"),
      col("ts").as("timestamp"),
      col("event_type").as("code"),
      col("value").cast("float").as("numeric_value"))
    val plain = graft.sources.PredicateFrames.fromMeds(ev, cfg.plainPredicates.toSeq)
    graft.Query(cfg, graft.sources.PredicateFrames.finalize(cfg, plain))
  }

  def flagship(s: SparkSession, dir: String): DataFrame = cohort(flagshipYaml, s, dir)

  def readmission(s: SparkSession, dir: String): DataFrame = cohort(readmissionYaml, s, dir)

  /** Driver-gate surface for the streaming family: each entry replays a
    * bounded, DETERMINISTIC shard sequence from the sf-dir tables
    * through a streaming operator ([[StreamReplay]] — MemoryStream
    * micro-batches, fully processed in order) and returns the final
    * emitted frame, checked against the BATCH form's SQL oracle. Parity
    * between the streaming and batch operators is asserted per-operator
    * in StreamingSpec; these entries put that parity in front of the
    * cross-engine DuckDB gate, closing the one operator group with no
    * CORRECTNESS row. Determinism notes per entry:
    *   - event-time-ordered feeding (no late data) + a sentinel flush
    *     row far past the horizon, so watermark-held state fully emits;
    *   - the exact-dedup replay pre-collapses each shard to its
    *     min-doc_id representative (within-batch "first arrival" is
    *     otherwise partition-order-dependent), so cross-batch state
    *     keeps exactly the global min-doc_id winner the batch oracle
    *     picks.
    */
  private val streamingReplays = Seq(
    Q("streaming_sessionize_replay", (s, dir) => {
      import s.implicits._
      val rows = preds(s, dir).select("subject_id", "timestamp")
        .as[(Long, java.sql.Timestamp)].collect()
        .sortBy(r => (r._2.getTime, r._1)).toSeq
      val flushTs = new java.sql.Timestamp(rows.map(_._2.getTime).max + 30L * 86400000L)
      val batches = StreamReplay.timeOrderedBatches(rows, 4) :+ Seq((-1L, flushTs))
      StreamReplay.replay(s, batches, df =>
        graft.streaming.StreamingPredicates.sessionizeStream(
          df.toDF("subject_id", "timestamp"),
          gapMicros = 3600000000L, watermark = "0 seconds"))
        .filter(col("subject_id") >= 0)
        .orderBy("subject_id", "session_start")
    }, Some(predsCte +
      """, g AS (SELECT subject_id, timestamp,
        |  CASE WHEN LAG(timestamp) OVER w IS NULL
        |    OR epoch_us(timestamp) - epoch_us(LAG(timestamp) OVER w) > 3600000000
        |    THEN 1 ELSE 0 END AS st
        |  FROM p WINDOW w AS (PARTITION BY subject_id ORDER BY timestamp)),
        |s AS (SELECT subject_id, timestamp,
        |  SUM(st) OVER (PARTITION BY subject_id ORDER BY timestamp
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM g)
        |SELECT subject_id, MIN(timestamp) AS session_start,
        |  MAX(timestamp) AS session_end,
        |  CAST(epoch_us(MAX(timestamp)) - epoch_us(MIN(timestamp)) AS BIGINT) AS duration_us,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM s GROUP BY subject_id, sid ORDER BY 1, 2""".stripMargin)),

    Q("streaming_window_counts_replay", (s, dir) => {
      import s.implicits._
      val rows = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"))
        .as[(Long, java.sql.Timestamp, String)].collect()
        .sortBy(r => (r._2.getTime, r._1)).toSeq
      val flushTs = new java.sql.Timestamp(rows.map(_._2.getTime).max + 30L * 86400000L)
      val batches = StreamReplay.timeOrderedBatches(rows, 4) :+ Seq((-1L, flushTs, "flush"))
      StreamReplay.replay(s, batches, df =>
        graft.streaming.StreamingPredicates.windowedCounts(
          df.toDF("subject_id", "timestamp", "event_type"),
          predTypes.map(t => s"is_$t" -> (col("event_type") === t)),
          window = "6 hours", watermark = "0 seconds"))
        .filter(col("subject_id") >= 0)
        .orderBy("subject_id", "window_start")
    }, Some(
      """WITH e AS (SELECT user_id AS subject_id, CAST(ts AS TIMESTAMP) AS timestamp,
        |  event_type FROM events)
        |SELECT subject_id,
        |  time_bucket(INTERVAL '6 hours', timestamp) AS window_start,
        |  time_bucket(INTERVAL '6 hours', timestamp) + INTERVAL '6 hours' AS window_end,
        |  CAST(SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS is_click,
        |  CAST(SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS is_purchase,
        |  CAST(SUM(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS is_error
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Streaming line dedup replayed as two doc_id-split micro-batches
    // through the lineDedupSink standing layout: batch order = doc_id
    // order, so the accumulated docs dirs equal the BATCH dedup_lines
    // run minus its zero-line husks — the oracle is the dedup_lines
    // replay with the husk filter.
    Q("streaming_lines_replay", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val rows = linedDocs(s, dir)
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      val batches = Seq(rows.filter(_._1 < 250), rows.filter(_._1 >= 250))
        .filter(_.nonEmpty)
      val out = scratchDir("graft_stream_lines", dir)
      cleanupAtExit(out + "_ckpt")
      val input = MemoryStream[(Long, String)]
      val q = input.toDF().toDF("doc_id", "text")
        .writeStream.outputMode("append")
        .foreachBatch(Dedup.lineDedupSink(out, minLineChars = 10))
        .option("checkpointLocation", out + "_ckpt").start()
      try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      s.read.parquet(s"$out/docs")
        .select("doc_id", "text", "n_kept", "n_dropped")
        .orderBy("doc_id")
    }, Some(dedupLinesOracle("COALESCE(r.n_kept, 0) > 0"))),

    // Streaming pre-tokenized release replayed as two doc_id-split
    // micro-batches through tokenSink (fit-once vocab on the full
    // bounded corpus, batch-offset buckets), then decoded back off the
    // standing tar layout — the oracle replays each batch's pack into
    // its own bucket range and unions.
    Q("streaming_tokens_replay", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val corpus = docs(s, dir).select("doc_id", "text")
      val vocab = Packing.rankVocab(corpus, 1000)
      val rows = corpus.as[(Long, String)].collect().sortBy(_._1).toSeq
      val batches = Seq(rows.filter(_._1 < 250), rows.filter(_._1 >= 250))
        .filter(_.nonEmpty)
      val out = scratchDir("graft_stream_tokens", dir)
      cleanupAtExit(out + "_ckpt")
      val input = MemoryStream[(Long, String)]
      val q = Packing.tokenSink(input.toDF().toDF("doc_id", "text"), vocab,
        budgetTokens = 128, outDir = out, buckets = 8, targetShardBytes = 16384)
        .option("checkpointLocation", out + "_ckpt").start()
      try batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      graft.sources.TokenShards.scanTokens(s, out)
        .select(col("bucket"), col("seq"), col("n"),
          aggregate(col("ids"), lit(0L), (a, x) => a + x).as("sum_ids"),
          element_at(col("ids"), 1).as("first_id"))
        .orderBy("bucket", "seq")
    }, Some {
      def half(sfx: String, pred: String, off: Int) =
        s"""t0$sfx AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
           |  FROM documents WHERE $pred),
           |tp$sfx AS (SELECT doc_id, UNNEST(range(0, len(toks))) AS pos, toks FROM t0$sfx),
           |tt$sfx AS (SELECT doc_id, pos, toks[pos + 1] AS tok FROM tp$sfx),
           |m$sfx AS (SELECT tt$sfx.doc_id, tt$sfx.pos, COALESCE(v.tok_id, 0) AS tok_id,
           |    tt$sfx.doc_id % 8 + $off AS bucket
           |  FROM tt$sfx LEFT JOIN voc v USING (tok)),
           |g$sfx AS (SELECT bucket, tok_id,
           |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id, pos) - 1 AS gp FROM m$sfx),
           |q$sfx AS (SELECT bucket, tok_id, gp // 128 AS seq, gp % 128 AS idx FROM g$sfx)"""
      s"""WITH tv AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks FROM documents),
         |tvp AS (SELECT UNNEST(range(0, len(toks))) AS pos, toks FROM tv),
         |tvt AS (SELECT toks[pos + 1] AS tok FROM tvp),
         |cnt AS (SELECT tok, COUNT(*) AS c FROM tvt GROUP BY 1),
         |voc AS (SELECT tok, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS INT) AS tok_id
         |  FROM (SELECT * FROM cnt ORDER BY c DESC, tok LIMIT 1000)),
         |${half("a", "doc_id < 250", 0)},
         |${half("b", "doc_id >= 250", 8)},
         |qq AS (SELECT * FROM qa UNION ALL SELECT * FROM qb)
         |SELECT CAST(bucket AS INT) AS bucket, CAST(seq AS BIGINT) AS seq,
         |  CAST(COUNT(*) AS INT) AS n, CAST(SUM(tok_id) AS BIGINT) AS sum_ids,
         |  CAST(MAX(CASE WHEN idx = 0 THEN tok_id END) AS INT) AS first_id
         |FROM qq GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    }),

    Q("streaming_dedup_exact_replay", (s, dir) => {
      import s.implicits._
      // The sf-dir documents have (at small SF) few or no exact-text
      // duplicates — re-emit every 7th doc under doc_id+10000 so the
      // replay's LATER batches deliver true cross-batch duplicates the
      // streaming state must recognize and drop (the oracle applies the
      // identical closed-form augmentation).
      val base = docs(s, dir).select("doc_id", "lang", "text")
      val rows = base.unionByName(
          base.filter(col("doc_id") % 7 === 0)
            .withColumn("doc_id", col("doc_id") + 10000L))
        .as[(Long, String, String)].collect().sortBy(_._1).toSeq
      val batches = StreamReplay.timeOrderedBatches(rows, 4)
        .map(_.groupBy(_._3).values.map(_.minBy(_._1)).toSeq.sortBy(_._1))
      StreamReplay.replay(s, batches, df =>
        graft.streaming.StreamingPredicates.dedupExactStream(
          df.toDF("doc_id", "lang", "text")
            .withColumn("timestamp", to_timestamp(lit("2026-01-01 00:00:00")))
            .withWatermark("timestamp", "1 hour"))
          .select("doc_id", "lang"))
        .orderBy("doc_id")
    }, Some(
      """WITH u AS (SELECT doc_id, lang, text FROM documents
        |  UNION ALL SELECT doc_id + 10000 AS doc_id, lang, text
        |  FROM documents WHERE doc_id % 7 = 0)
        |SELECT doc_id, lang FROM u
        |WHERE doc_id IN (SELECT MIN(doc_id) FROM u GROUP BY text)
        |ORDER BY doc_id""".stripMargin)),

    // Streaming URL dedup replayed over the decorated-url fixture: each
    // batch pre-collapses to its min-doc_id representative per CANONICAL
    // url (within-batch "first arrival" is partition-order-dependent,
    // the dedup_exact_replay convention), and doc_id-ordered batches
    // make the cross-batch state keep exactly the global min-id winner —
    // the batch dedupByUrl keeper the oracle computes.
    Q("streaming_url_dedup_replay", (s, dir) => {
      import s.implicits._
      val decorated = docsWithUrl(s, dir)
        .withColumn("__unorm", UrlCuration.normalizeUrl(col("url")))
        .select("doc_id", "lang", "url", "__unorm")
        .as[(Long, String, String, String)].collect().sortBy(_._1).toSeq
      val batches = StreamReplay.timeOrderedBatches(decorated, 4)
        .map(_.groupBy(_._4).values.map(_.minBy(_._1)).toSeq.sortBy(_._1)
          .map(r => (r._1, r._2, r._3)))
      StreamReplay.replay(s, batches, df =>
        graft.streaming.StreamingPredicates.urlDedupStream(
          df.toDF("doc_id", "lang", "url")
            .withColumn("timestamp", to_timestamp(lit("2026-01-01 00:00:00")))
            .withWatermark("timestamp", "1 hour"))
          .select("doc_id", "lang"))
        .orderBy("doc_id")
    }, Some(urlCte +
      """SELECT d.doc_id, d.lang FROM documents d
        |WHERE d.doc_id IN (SELECT MIN(doc_id) FROM urls GROUP BY url_norm)
        |ORDER BY d.doc_id""".stripMargin)),

    // Streaming duplicate-window detection replayed in doc_id order: an
    // occurrence emits iff the cumulative count of its k-token window
    // over batches up to and including its own reaches 2 — a batch-split
    // function the oracle reproduces exactly (batch = ⌊(rank−1)/⌈n/4⌉⌋,
    // the timeOrderedBatches split). No pre-collapse needed: when a
    // batch takes a window's total to ≥ 2, ALL of that batch's fresh
    // occurrences emit regardless of intra-batch order.
    Q("streaming_substring_replay", (s, dir) => {
      import s.implicits._
      val rows = docs(s, dir).select("doc_id", "text")
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      val batches = StreamReplay.timeOrderedBatches(rows, 4)
      StreamReplay.replay(s, batches, df =>
        graft.streaming.StreamingPredicates.substringDupStream(
          df.toDF("doc_id", "text")
            .withColumn("timestamp", to_timestamp(lit("2026-01-01 00:00:00")))
            .withWatermark("timestamp", "1 hour"),
          k = 5).toDF())
        .select(col("doc_id"), col("pos").cast("long").as("pos"))
        .orderBy("doc_id", "pos")
    }, Some(
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
        |b AS (SELECT doc_id, t,
        |    (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // ((n + 3) // 4) AS batch
        |  FROM d CROSS JOIN nn),
        |tk AS (SELECT doc_id, batch, string_split(t, ' ') AS sl FROM b),
        |win AS (SELECT doc_id, batch, UNNEST(range(0, len(sl) - 5 + 1)) AS pos, sl
        |  FROM tk WHERE len(sl) >= 5),
        |w2 AS (SELECT doc_id, batch, pos,
        |    array_to_string(sl[pos + 1 : pos + 5], ' ') AS w FROM win),
        |cb AS (SELECT w, batch, COUNT(*) AS c FROM w2 GROUP BY 1, 2),
        |cum AS (SELECT w, batch,
        |    SUM(c) OVER (PARTITION BY w ORDER BY batch) AS cumc FROM cb)
        |SELECT w2.doc_id, CAST(w2.pos AS BIGINT) AS pos
        |FROM w2 JOIN cum ON w2.w = cum.w AND w2.batch = cum.batch
        |WHERE cum.cumc >= 2
        |ORDER BY doc_id, pos""".stripMargin)),

    // Streaming MinHash near-dup replayed with the batch entry's exact
    // parameters: signatures are xxhash64-seeded (no SQL form) → golden
    // fixture, like dedup_minhash itself. The emitted pair SET is
    // replay-order-independent (each pair fires when its later member
    // arrives, on the lowest shared band), so the doc_id-ordered batches
    // give a deterministic frame.
    Q("streaming_minhash_replay", (s, dir) => {
      import s.implicits._
      val rows = docs(s, dir).select("doc_id", "text")
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      val batches = StreamReplay.timeOrderedBatches(rows, 4)
      StreamReplay.replay(s, batches, df =>
        graft.streaming.StreamingPredicates.minhashNearDupStream(
          df.toDF("doc_id", "text")
            .withColumn("timestamp", to_timestamp(lit("2026-01-01 00:00:00")))
            .withWatermark("timestamp", "1 hour"),
          threshold = 0.5, numHashes = 64, bands = 16, shingleN = 3).toDF())
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }, None),

    // Streaming embedding near-dup replayed over the sf embeddings in
    // vec_id order: hyperplane-LSH buckets are xxhash64-seeded (no SQL
    // form) → golden fixture, like dedup_embedding_lsh itself. The pair
    // SET is replay-order-independent (a pair fires when its later
    // member arrives, on the lowest shared band), so id-ordered batches
    // give a deterministic frame.
    Q("streaming_embedding_replay", (s, dir) => {
      import s.implicits._
      val rows = emb(s, dir).select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
        .map { case (id, v) =>
          (id, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), v) }
      val batches = StreamReplay.timeOrderedBatches(rows, 4)
      StreamReplay.replay(s, batches, df =>
        graft.streaming.StreamingPredicates.embeddingNearDupStream(
          df.toDF("vec_id", "timestamp", "embedding")
            .withWatermark("timestamp", "1 hour"),
          threshold = 0.4, bands = 32, bitsPerBand = 2).toDF())
        .select(col("doc_a"), col("doc_b"), round(col("cos"), 4).as("cos"))
        .orderBy("doc_a", "doc_b")
    }, Some(
      s"""WITH miss AS (SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b
         |  FROM (VALUES ${PinnedOracles.embStreamMiss}) v(a, b)),
         |p AS (SELECT qa.vec_id AS doc_a, qb.vec_id AS doc_b,
         |    list_cosine_similarity(CAST(qa.embedding AS DOUBLE[]),
         |      CAST(qb.embedding AS DOUBLE[])) AS c
         |  FROM embeddings qa JOIN embeddings qb ON qa.vec_id < qb.vec_id)
         |SELECT doc_a, doc_b, ROUND(c, 4) AS cos FROM p
         |WHERE c >= 0.4 AND NOT EXISTS (
         |  SELECT 1 FROM miss WHERE miss.a = p.doc_a AND miss.b = p.doc_b)
         |ORDER BY 1, 2""".stripMargin)),

    // Streaming perceptual-hash near-dup replayed over the synthetic BMP
    // corpus: the closed-form dHash family fixture (see dedup_phash)
    // makes the full pair set plain SQL — within-family pairs at Hamming
    // 1 (vs the v=0 base) or 2 (between flipped variants) — and the
    // stream must converge to exactly it regardless of which batch each
    // family member arrives in.
    Q("streaming_phash_replay", (s, dir) => {
      import s.implicits._
      val ids = docs(s, dir).select("doc_id").as[Long].collect().sorted.toSeq
      val rows = ids.map(id => (id,
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00"),
        MediaFixtures.bmpPayload(id)))
      val batches = StreamReplay.timeOrderedBatches(rows, 4)
      StreamReplay.replay(s, batches, df =>
        graft.streaming.StreamingPredicates.phashNearDupStream(
          df.toDF("media_id", "timestamp", "payload"), maxHamming = 2).toDF())
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
        .orderBy("doc_a", "doc_b")
    }, Some("""WITH m AS (SELECT doc_id, doc_id // 5 AS fam, doc_id % 5 AS v FROM documents)
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |  CAST(CASE WHEN a.v = 0 OR b.v = 0 THEN 1 ELSE 2 END AS INT) AS hamming
              |FROM m a JOIN m b ON a.fam = b.fam AND a.doc_id < b.doc_id
              |ORDER BY 1, 2""".stripMargin)),

    // The audio face of the same shared signature-stream core: HK
    // fingerprints decoded per arriving WAV, banded bucket state,
    // replayed over 4 time-ordered batches — keeps the streaming
    // surface symmetric with the batch dedup families (every batch
    // dedup with an ingest story has a replay gate). Same closed-form
    // family oracle as dedup_afp.
    Q("streaming_afp_replay", (s, dir) => {
      import s.implicits._
      val ids = docs(s, dir).select("doc_id").as[Long].collect().sorted.toSeq
      val rows = ids.map(id => (id,
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00"),
        MediaFixtures.wavPayload(id)))
      val batches = StreamReplay.timeOrderedBatches(rows, 4)
      StreamReplay.replay(s, batches, df =>
        graft.streaming.StreamingPredicates.afpNearDupStream(
          df.toDF("media_id", "timestamp", "payload"), maxHamming = 2).toDF())
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
        .orderBy("doc_a", "doc_b")
    }, Some("""WITH m AS (SELECT doc_id, doc_id // 5 AS fam, doc_id % 5 AS v FROM documents)
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |  CAST(CASE WHEN a.v = 0 OR b.v = 0 THEN 1 ELSE 2 END AS INT) AS hamming
              |FROM m a JOIN m b ON a.fam = b.fam AND a.doc_id < b.doc_id
              |ORDER BY 1, 2""".stripMargin)),

    // …and the VIDEO face, completing the multimodal streaming triad:
    // each arriving clip slices + dHashes map-side (the batch lattice,
    // signature-for-signature), routes one copy per distinct frame
    // signature, and pairs by exact shared-signature count with the
    // lowest-shared-signature exactly-once rule. Same closed-form
    // fixture as dedup_video: family members v ∈ {0..4} share their
    // first 6−v frames, so pairs at min_shared = 3 are the v ≤ 3
    // cliques with shared_frames = 6 − max(v_a, v_b), regardless of
    // which batch each clip arrives in.
    Q("streaming_video_replay", (s, dir) => {
      import s.implicits._
      val ids = docs(s, dir).select("doc_id").as[Long].collect().sorted.toSeq
      val rows = ids.map(id => (id,
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00"),
        MediaFixtures.videoPayload(id)))
      val batches = StreamReplay.timeOrderedBatches(rows, 4)
      StreamReplay.replay(s, batches, df =>
        graft.streaming.StreamingPredicates.videoNearDupStream(
          df.toDF("media_id", "timestamp", "payload"),
          frameBytes = MediaFixtures.BmpFrameBytes, minShared = 3L).toDF())
        .select(col("doc_a"), col("doc_b"), col("shared_frames"))
        .orderBy("doc_a", "doc_b")
    }, Some("""WITH m AS (SELECT doc_id, doc_id // 5 AS fam, doc_id % 5 AS v FROM documents)
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |  CAST(6 - GREATEST(a.v, b.v) AS BIGINT) AS shared_frames
              |FROM m a JOIN m b ON a.fam = b.fam AND a.doc_id < b.doc_id
              |WHERE 6 - GREATEST(a.v, b.v) >= 3
              |ORDER BY 1, 2""".stripMargin)),

    // Streaming quality-model scoring replayed against the SAME cached
    // model frame text_quality_model_idx serves (fit-once / score-many):
    // scoring is stateless, so the replay simply re-derives every batch
    // score through the streaming path — and must therefore equal the
    // batch entries' composed oracle (pinned margins × DuckDB σ).
    Q("streaming_quality_replay", (s, dir) => {
      val d = docs(s, dir)
      val mDir = qualityModelDir(s, dir)
      if (!new java.io.File(s"$mDir/_SUCCESS").exists())
        QualityClassifier.train(
            d.withColumn("is_en", (col("lang") === "en").cast("int")),
            labelCol = "is_en", dim = 1024, iters = 32)
          .write.mode("overwrite").parquet(mDir)
      val model = s.read.parquet(mDir)
      import s.implicits._
      val rows = d.select("doc_id", "text")
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      val batches = StreamReplay.timeOrderedBatches(rows, 4)
      StreamReplay.replay(s, batches, df =>
        graft.streaming.StreamingPredicates.qualityScoreStream(
          df.toDF("doc_id", "text"), model))
        .select(col("doc_id"), round(col("quality"), 4).as("quality"))
        .orderBy("doc_id")
    }, Some(qualityScoreSql(PinnedOracles.qmodelMargins32))),

    // Streaming CCNet perplexity scoring replayed with the LM fit
    // batch-side on the same corpus (fit-once / score-many): stateless
    // scoring, so the streamed scores must equal text_perplexity's —
    // same DuckDB oracle, same rounding.
    Q("streaming_perplexity_replay", (s, dir) => {
      val d = docs(s, dir)
      val lm = Vocabulary.unigramLm(d, vocabSize = 20)
      import s.implicits._
      val rows = d.select("doc_id", "text")
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      val batches = StreamReplay.timeOrderedBatches(rows, 4)
      StreamReplay.replay(s, batches, df =>
        graft.streaming.StreamingPredicates.perplexityStream(
          df.toDF("doc_id", "text"), lm))
        .select(col("doc_id"), col("n_tokens"),
          round(col("avg_nll"), 4).as("avg_nll"), round(col("ppl"), 4).as("ppl"))
        .orderBy("doc_id")
    }, Some("""WITH tok AS (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok FROM documents),
              |cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY 1),
              |tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM cnt),
              |voc AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT 20),
              |vs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM voc),
              |lm AS (SELECT tok, LN((c + 1) / (t + v + 1)) AS logp
              |       FROM voc CROSS JOIN tot CROSS JOIN vs),
              |sc AS (SELECT doc_id, COALESCE(logp, LN(1 / (t + v + 1))) AS lp
              |       FROM tok LEFT JOIN lm USING (tok) CROSS JOIN tot CROSS JOIN vs),
              |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, -AVG(lp) AS nll
              |        FROM sc GROUP BY 1)
              |SELECT doc_id, n_tokens, ROUND(nll, 4) AS avg_nll, ROUND(EXP(nll), 4) AS ppl
              |FROM agg ORDER BY doc_id""".stripMargin)),

    // Streaming eval-set decontamination replayed with the probe set
    // (doc_id < 5) as the batch side: per-doc matched-shingle counts
    // flush once the watermark passes the corpus batches — a late
    // sentinel row advances it, then drops out of the frame. Same
    // DuckDB oracle as text_decontaminate.
    Q("streaming_decontaminate_replay", (s, dir) => {
      val d = docs(s, dir)
      val probes = d.filter(col("doc_id") < 5)
      import s.implicits._
      val rows = d.filter(col("doc_id") >= 5).select("doc_id", "text")
        .as[(Long, String)].collect().sortBy(_._1).toSeq
        .map { case (id, t) =>
          (id, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), t) }
      val batches = StreamReplay.timeOrderedBatches(rows, 4) :+
        Seq((999999L, java.sql.Timestamp.valueOf("2026-01-02 00:00:00"), "flush probe"))
      StreamReplay.replay(s, batches, df =>
        graft.streaming.StreamingPredicates.decontaminateStream(
          df.toDF("doc_id", "timestamp", "text")
            .withWatermark("timestamp", "10 minutes"),
          probes, shingleN = 3))
        .filter(col("doc_id") =!= 999999L)
        .select("doc_id", "matched_ngrams")
        .orderBy("doc_id")
    }, Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
              |g0 AS (SELECT doc_id,
              |    UNNEST(list_transform(range(1, len(toks) - 1),
              |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
              |  FROM t WHERE len(toks) >= 3),
              |g AS (SELECT DISTINCT doc_id, s FROM g0),
              |probe AS (SELECT DISTINCT s FROM g WHERE doc_id < 5),
              |corpus AS (SELECT doc_id, s FROM g WHERE doc_id >= 5)
              |SELECT c.doc_id, CAST(COUNT(DISTINCT c.s) AS BIGINT) AS matched_ngrams
              |FROM corpus c JOIN probe p ON c.s = p.s
              |GROUP BY 1 ORDER BY 1""".stripMargin)))

  val all: Seq[Q] =
    scans ++ predicates ++ joins ++ aggsAndWindows ++ sortsAndStructs ++ extensions ++
      streamingReplays ++ Seq(
      Q("aces_flagship", (s, dir) =>
        flagship(s, dir).select("subject_id", "index_timestamp", "label", "trigger")
          .orderBy("subject_id", "trigger"),
        // The whole cohort task expressed independently in SQL: trigger
        // anchors, input-window _ANY_EVENT>=2 over [record_start, t+24h],
        // error-free gap (t, t+48h], label = purchases in (t+48h, first
        // conversion at-or-after t+48h].
        Some("""WITH p AS (
                |  SELECT user_id AS subject_id, CAST(ts AS TIMESTAMP) AS timestamp,
                |    CAST(SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS is_click,
                |    CAST(SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS is_purchase,
                |    CAST(SUM(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS is_error,
                |    CAST(SUM(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS is_signup
                |  FROM events GROUP BY 1, 2),
                |p2 AS (SELECT *, CASE WHEN is_purchase > 0 OR is_signup > 0 THEN 1 ELSE 0 END AS conv FROM p),
                |anchors AS (SELECT subject_id, timestamp AS trig FROM p2 WHERE is_click >= 1),
                |checks AS (
                |  SELECT a.subject_id, a.trig,
                |    (SELECT COUNT(*) FROM p2 x WHERE x.subject_id = a.subject_id
                |       AND x.timestamp <= a.trig + INTERVAL 24 HOURS) AS n_any,
                |    (SELECT COALESCE(SUM(x.is_error), 0) FROM p2 x WHERE x.subject_id = a.subject_id
                |       AND x.timestamp > a.trig AND x.timestamp <= a.trig + INTERVAL 48 HOURS) AS n_err,
                |    (SELECT MIN(x.timestamp) FROM p2 x WHERE x.subject_id = a.subject_id
                |       AND x.conv > 0 AND x.timestamp >= a.trig + INTERVAL 48 HOURS) AS conv_ts
                |  FROM anchors a)
                |SELECT c.subject_id,
                |  c.trig + INTERVAL 24 HOURS AS index_timestamp,
                |  CAST(COALESCE((SELECT SUM(y.is_purchase) FROM p2 y WHERE y.subject_id = c.subject_id
                |    AND y.timestamp > c.trig + INTERVAL 48 HOURS AND y.timestamp <= c.conv_ts), 0) AS BIGINT) AS label,
                |  c.trig AS "trigger"
                |FROM checks c
                |-- anchors with no conversion bound are dropped by the
                |-- engine's re-anchor equi-join (null keys never match),
                |-- matching the reference's join semantics
                |WHERE c.n_any >= 2 AND c.n_err = 0 AND c.conv_ts IS NOT NULL
                |ORDER BY 1, 4""".stripMargin), bench = true,
        // warmup: the cohort path's first run decays ~2x (canonical-frame
        // checkpoint + JIT) — r11 saw a 2.10 s contended artifact minimum
        // vs 0.91 s real; an untimed first pass keeps the bench minima off
        // that noise (round-11 verdict ask #6).
        warmup = true),

      Q("aces_readmission", (s, dir) =>
        readmission(s, dir).select("subject_id", "index_timestamp", "label", "trigger")
          .orderBy("subject_id", "trigger"),
        Some("""WITH p AS (
                |  SELECT user_id AS subject_id, CAST(ts AS TIMESTAMP) AS timestamp,
                |    CAST(SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS is_click,
                |    CAST(SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS is_purchase
                |  FROM events GROUP BY 1, 2),
                |anchors AS (SELECT subject_id, timestamp AS trig FROM p WHERE is_purchase >= 1),
                |c AS (
                |  SELECT a.subject_id, a.trig,
                |    (SELECT MAX(x.timestamp) FROM p x WHERE x.subject_id = a.subject_id
                |       AND x.is_click > 0 AND x.timestamp <= a.trig) AS last_click_ts,
                |    (SELECT COALESCE(SUM(y.is_click), 0) FROM p y WHERE y.subject_id = a.subject_id
                |       AND y.timestamp > a.trig AND y.timestamp <= a.trig + INTERVAL 30 DAYS) AS n_click
                |  FROM anchors a)
                |SELECT subject_id, last_click_ts AS index_timestamp,
                |  CAST(n_click AS BIGINT) AS label, trig AS "trigger"
                |FROM c WHERE last_click_ts IS NOT NULL
                |ORDER BY 1, 4""".stripMargin), bench = true,
        // warmup: same first-run decay as aces_flagship (see above).
        warmup = true))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { q =>
      q.name -> ((s: SparkSession, dir: String) => { Tables.tune(s); q.fn(s, dir) })
    }.toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  def benchNames: Seq[String] = all.filter(_.bench).map(_.name)

  /** Bench entries that get one untimed warm-up run (fit-heavy or
    * index-building on first use — see [[Q.warmup]]).
    */
  def warmupNames: Seq[String] = all.filter(_.warmup).map(_.name)
}
