package graft.functions

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Byte-pair-encoding tokenization (Sennrich, Haddow, Birch, "Neural
  * Machine Translation of Rare Words with Subword Units", ACL 2016) —
  * learn a merge table from the corpus, tokenize every document with it.
  * The engine's other token counters ([[Texts.tokens]], the BPE-ish regex
  * in text_tokens) approximate; this is the real greedy-merge algorithm,
  * for pipelines that need exact subword counts (context-length packing
  * budgets, per-document token pricing) without an external tokenizer
  * service.
  *
  * Scale shape — the standard two-phase split that keeps BPE tractable on
  * a 100 TB corpus:
  *
  *   - LEARN runs on the word-FREQUENCY table, not the corpus: one
  *     distributed map-side-combined word count (the only corpus-sized
  *     step), then the classic pair-merge loop on the collected top-`vocab`
  *     (word, count) rows — thousands of rows, driver-side, exactly how
  *     reference BPE learners (subword-nmt, HF tokenizers) operate. The
  *     collect is BOUNDED by `vocabLimit`, never corpus-sized.
  *   - APPLY is embarrassingly parallel: the ranked merge table broadcasts
  *     (a few KB) and each document tokenizes map-side via
  *     `mapPartitions` — per-word greedy lowest-rank merging needs an
  *     imperative loop over a mutable symbol buffer, the genuine
  *     per-partition-state case the repo reserves mapPartitions for. Zero
  *     exchanges, no driver involvement.
  *
  * Determinism: word ties in the frequency cut and pair ties in the merge
  * loop both break lexicographically, so the learned table is a pure
  * function of the corpus — golden-fixture testable.
  */
object Bpe {

  /** A learned merge, ranked: merge (left, right) → left+right, lower rank
    * first.
    */
  final case class Merge(rank: Int, left: String, right: String)

  /** GPT-2-style printable byte alphabet (Radford et al. 2019, the
    * byte-level BPE of the public gpt-2 `bytes_to_unicode`): every one of
    * the 256 byte values maps to a distinct PRINTABLE BMP codepoint —
    * visibly-printable bytes keep their own codepoint, the rest (controls,
    * space, DEL, a few Latin-1 holes) shift to 256+k. This makes byte
    * symbols safe to store as parquet strings (merge-table round-trip)
    * and safe to join/debug, while keeping the alphabet total: ANY UTF-8
    * input — CJK, emoji, mixed scripts, malformed bytes — tokenizes with
    * zero out-of-vocabulary cases, which the raw char alphabet of the
    * word-level mode cannot guarantee on open-vocabulary scripts.
    */
  private[graft] val byteToChar: Array[Char] = {
    val keep = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    var n = 0
    (0 until 256).map { b =>
      if (keep(b)) b.toChar
      else { val c = (256 + n).toChar; n += 1; c }
    }.toArray
  }

  /** Render a word as its byte-level symbol string: one mapped char per
    * UTF-8 byte. `learnOnDict`/`encodeWord` split per Char, so the
    * rendered string IS the byte symbol sequence.
    */
  private[graft] def toByteSymbols(word: String): String = {
    val bytes = word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(bytes.length)
    var i = 0
    while (i < bytes.length) { sb.append(byteToChar(bytes(i) & 0xff)); i += 1 }
    sb.toString
  }

  /** Learn `numMerges` BPE merges from the corpus's word-frequency table.
    *
    * Words are whitespace tokens, lowered; only the `vocabLimit` most
    * frequent words (ties by word, ascending) feed the merge loop — the
    * standard bounded-dictionary learn. Returns the ranked merge table as
    * a DataFrame `(rank, left, right)` for persistence; pair it with
    * [[tokenize]].
    *
    * `byteLevel = true` switches the symbol alphabet from raw chars to
    * the GPT-2 printable byte alphabet ([[byteToChar]]): words become
    * UTF-8 byte-symbol sequences before the merge loop, so unsegmented
    * scripts (CJK — whitespace splitting leaves whole phrases as one
    * "word") and any multi-byte codepoint learn multi-byte merge units
    * bottom-up with a total, 256-symbol base vocabulary. Both modes share
    * the same dictionary learn and the same apply loop; a merge table
    * learned in one mode must be applied in the same mode.
    */
  def learnMerges(
      docs: DataFrame,
      numMerges: Int,
      vocabLimit: Int = 10000,
      textCol: String = "text",
      byteLevel: Boolean = false
  ): DataFrame = {
    val spark = docs.sparkSession
    VocabGuard.check(spark, vocabLimit, "Bpe.learnMerges")
    val wordCounts = docs
      .select(explode(filter(split(lower(col(textCol)), " "), t => t =!= "")).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(vocabLimit)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .map { case (w, c) => (if (byteLevel) toByteSymbols(w) else w, c) }

    val merges = learnOnDict(wordCounts.toIndexedSeq, numMerges)
    spark.createDataFrame(
      spark.sparkContext.parallelize(merges.map(m => Row(m.rank, m.left, m.right)), 1),
      StructType(Seq(
        StructField("rank", IntegerType, nullable = false),
        StructField("left", StringType, nullable = false),
        StructField("right", StringType, nullable = false))))
  }

  /** The classic merge loop over a word-frequency dictionary: repeatedly
    * merge the most frequent adjacent symbol pair (ties lexicographic).
    * Driver-side by design — the dictionary is vocabulary-sized.
    */
  private[graft] def learnOnDict(
      wordCounts: Seq[(String, Long)],
      numMerges: Int): Seq[Merge] = {
    var words: Array[(Array[String], Long)] =
      wordCounts.map { case (w, c) => (w.map(_.toString).toArray, c) }.toArray
    val out = mutable.ArrayBuffer.empty[Merge]
    var rank = 0
    while (rank < numMerges) {
      val pairCounts = mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          pairCounts.update(k, pairCounts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (pairCounts.isEmpty) return out.toSeq
      val (bl, br) = pairCounts.toSeq
        .minBy { case ((l, r), c) => (-c, l, r) }._1
      out += Merge(rank, bl, br)
      val merged = bl + br
      words = words.map { case (syms, c) =>
        if (syms.length < 2) (syms, c)
        else {
          val b = mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == bl && syms(i + 1) == br) {
              b += merged; i += 2
            } else { b += syms(i); i += 1 }
          }
          (b.toArray, c)
        }
      }
      rank += 1
    }
    out.toSeq
  }

  /** Tokenize one word with a ranked merge map: repeatedly apply the
    * LOWEST-rank merge present among adjacent symbol pairs until none
    * applies — the exact greedy order BPE inference prescribes (apply
    * merges in learned priority, not left-to-right).
    */
  private[graft] def encodeWord(
      word: String,
      ranks: Map[(String, String), Int]): Array[String] = {
    var syms = word.map(_.toString).toArray
    var done = syms.length < 2
    while (!done) {
      var best = Int.MaxValue
      var bi = -1
      var i = 0
      while (i + 1 < syms.length) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) { best = r; bi = i }
        i += 1
      }
      if (bi < 0) done = true
      else {
        // Merge ALL non-overlapping occurrences of the winning pair in one
        // left-to-right pass (the standard inference semantics).
        val l = syms(bi); val r = syms(bi + 1)
        val b = mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < syms.length) {
          if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == r) {
            b += l + r; j += 2
          } else { b += syms(j); j += 1 }
        }
        syms = b.toArray
        done = syms.length < 2
      }
    }
    syms
  }

  /** Apply a learned merge table to every document: `(idCol, n_words,
    * n_bpe_tokens)` — map-side only, broadcast ranks, zero exchanges.
    * `byteLevel` must match the mode the table was learned in (symbols
    * are byte-alphabet strings there, raw chars here).
    */
  def tokenCounts(
      docs: DataFrame,
      merges: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      byteLevel: Boolean = false
  ): DataFrame = {
    val spark = docs.sparkSession
    val ranks: Map[(String, String), Int] = merges
      .select("rank", "left", "right").collect()
      .map(r => ((r.getString(1), r.getString(2)), r.getInt(0))).toMap
    val bc = spark.sparkContext.broadcast(ranks)

    val base = docs.select(col(idCol).cast("long").as("id"), lower(col(textCol)).as("t"))
    import spark.implicits._
    base.as[(Long, String)].mapPartitions { it =>
      val rk = bc.value
      it.map { case (id, t) =>
        val words = t.split(" ").filter(_.nonEmpty)
        var n = 0L
        words.foreach { w =>
          val sym = if (byteLevel) toByteSymbols(w) else w
          n += encodeWord(sym, rk).length
        }
        (id, words.length.toLong, n)
      }
    }.toDF("id", "n_words", "n_bpe_tokens")
      .withColumnRenamed("id", idCol)
  }
}
