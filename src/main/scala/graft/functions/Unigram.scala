package graft.functions

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Unigram-LM subword tokenization (Kudo, "Subword Regularization:
  * Improving Neural Network Translation Models with Multiple Subword
  * Candidates", ACL 2018 — the SentencePiece `unigram` model): learn a
  * piece vocabulary by EM over the segmentation lattice of the corpus's
  * words, then segment with Viterbi under the learned piece
  * log-probabilities. The complement to [[Bpe]]: BPE composes pieces
  * bottom-up from merge frequency; the unigram model starts from a large
  * seed vocabulary and PRUNES toward the target size under a proper
  * probabilistic objective, which is what SentencePiece ships as its
  * default and what CJK-heavy corpora tokenize best under (multi-char
  * pieces form directly rather than via 2-at-a-time merges).
  *
  * Scale shape — the same two-phase split that keeps [[Bpe]] tractable
  * on a 100 TB corpus:
  *
  *   - LEARN runs on the word-FREQUENCY table, not the corpus: one
  *     distributed map-side-combined word count bounded to `vocabLimit`
  *     rows, then seed + EM + prune on the collected dictionary —
  *     driver-side by design, exactly how the reference learner
  *     (SentencePiece's trainer) operates on its suffix-array seed.
  *   - APPLY is embarrassingly parallel: the piece table broadcasts
  *     (≤ vocabSize rows) and each document Viterbi-segments map-side
  *     via `mapPartitions` — per-word DP over a mutable array, the
  *     genuine per-partition-state case. Zero exchanges.
  *
  * Determinism: word ties in the frequency cut, seed-substring ties,
  * prune ties and Viterbi backpointer ties all break lexicographically /
  * toward the longest piece, and every EM accumulation sums in sorted
  * key order — the learned table and the token counts are pure
  * functions of the corpus, so the catalog entry is golden-fixture
  * testable.
  */
object Unigram {

  /** Floor log-probability for characters never seen in learning —
    * strictly below every learned piece so an OOV char can never beat a
    * real piece, but finite so ANY text segments (totality).
    */
  private[graft] def oovFloor(minLogp: Double): Double = minLogp - math.log(1e6)

  /** Learn a piece table `(piece, logp)` of at most `vocabSize` pieces
    * from the corpus's word-frequency table. Words are whitespace
    * tokens, lowered; only the `vocabLimit` most frequent (ties by word
    * ascending) feed the lattice — the bounded-dictionary learn. Every
    * single character of the dictionary is always retained (totality on
    * the learn alphabet); multi-char candidates are substrings up to
    * `maxPieceLen` chars, seeded at `4·vocabSize` and EM-pruned toward
    * `vocabSize` with SentencePiece's geometric shrink.
    */
  def learnPieces(
      docs: DataFrame,
      vocabSize: Int,
      maxPieceLen: Int = 8,
      emIters: Int = 4,
      vocabLimit: Int = 10000,
      textCol: String = "text"
  ): DataFrame = {
    val spark = docs.sparkSession
    VocabGuard.check(spark, vocabLimit, "Unigram.learnPieces")
    // Parallelism floor: the tokenize/explode map side otherwise runs at
    // scan parallelism (1-2 tasks on a small single-file input); a
    // corpus-scale scan already exceeds the floor and adds no exchange.
    // Keyed per ROW (not on the text value): duplicate-heavy corpora
    // hash identical texts to one partition, re-serializing the work the
    // floor exists to spread — and groupBy('w') makes row placement
    // irrelevant to results. monotonically_increasing_id is
    // deterministic for a fixed scan layout (partition id + row index),
    // which is all a placement key needs.
    val wordCounts = graft.plans.ParallelFloor(
      docs.select(col(textCol)), monotonically_increasing_id())
      .select(explode(filter(split(lower(col(textCol)), "\\s+"), t => t =!= "")).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(vocabLimit)
      .collect()
      .map(r => (r.getString(0), r.getLong(1))).toIndexedSeq

    val pieces = learnOnDict(wordCounts, vocabSize, maxPieceLen, emIters)
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        pieces.map { case (p, lp) => Row(p, lp) }, 1),
      StructType(Seq(
        StructField("piece", StringType, nullable = false),
        StructField("logp", DoubleType, nullable = false))))
  }

  /** The driver-side learn over a word-frequency dictionary: seed →
    * (EM ×`emIters` → shrink 25%) until ≤ `vocabSize` → final EM.
    * Returns (piece, logp) sorted by piece.
    */
  private[graft] def learnOnDict(
      wordCounts: Seq[(String, Long)],
      vocabSize: Int,
      maxPieceLen: Int,
      emIters: Int): Seq[(String, Double)] = {
    if (wordCounts.isEmpty) return Seq.empty
    val words = wordCounts.toArray

    // Seed: every substring up to maxPieceLen, counted once per
    // occurrence position weighted by word frequency.
    val subCounts = mutable.HashMap.empty[String, Long]
    words.foreach { case (w, c) =>
      var i = 0
      while (i < w.length) {
        var j = i + 1
        while (j <= math.min(w.length, i + maxPieceLen)) {
          val s = w.substring(i, j)
          subCounts.update(s, subCounts.getOrElse(s, 0L) + c)
          j += 1
        }
        i += 1
      }
    }
    val chars = subCounts.keysIterator.filter(_.length == 1).toArray.sorted
    val seedMulti = subCounts.iterator.filter(_._1.length > 1).toArray
      .sortBy { case (s, c) => (-c, s) }
      .take(math.max(0, 4 * vocabSize - chars.length))
      .map(_._1)
    var vocab: Array[String] = (chars ++ seedMulti).sorted
    var logp: mutable.HashMap[String, Double] = {
      val tot = vocab.iterator.map(subCounts(_).toDouble).sum
      mutable.HashMap.from(vocab.iterator.map(s => s -> math.log(subCounts(s) / tot)))
    }

    def logsumexp(a: Double, b: Double): Double =
      if (a == Double.NegativeInfinity) b
      else if (b == Double.NegativeInfinity) a
      else { val m = math.max(a, b); m + math.log(math.exp(a - m) + math.exp(b - m)) }

    /** One full EM pass: expected piece counts via forward-backward over
      * each word's lattice, then re-estimated log-probs. Returns the
      * corpus NLL under the PRE-update probs (monotone non-increasing
      * across passes — asserted in spec).
      */
    def emPass(): Double = {
      // E-step in two phases so the expensive per-word lattice DP can
      // run on all driver cores WITHOUT changing a single result bit:
      // phase 1 computes each word's contributions independently
      // (read-only over the frozen `logp`, results stored by word
      // index), phase 2 accumulates them SEQUENTIALLY in the exact
      // order — word order, (jj, ii) order within a word — the former
      // single-threaded loop used, so every floating-point sum
      // associates identically.
      val perWord = new Array[(Double, Array[String], Array[Double])](words.length)
      java.util.stream.IntStream.range(0, words.length).parallel().forEach { wi =>
        val (w, c) = words(wi)
        val n = w.length
        val alpha = Array.fill(n + 1)(Double.NegativeInfinity)
        val beta = Array.fill(n + 1)(Double.NegativeInfinity)
        alpha(0) = 0.0
        var i = 1
        while (i <= n) {
          var j = math.max(0, i - maxPieceLen)
          while (j < i) {
            logp.get(w.substring(j, i)).foreach { lp =>
              alpha(i) = logsumexp(alpha(i), alpha(j) + lp)
            }
            j += 1
          }
          i += 1
        }
        beta(n) = 0.0
        var j2 = n - 1
        while (j2 >= 0) {
          var i2 = j2 + 1
          while (i2 <= math.min(n, j2 + maxPieceLen)) {
            logp.get(w.substring(j2, i2)).foreach { lp =>
              beta(j2) = logsumexp(beta(j2), lp + beta(i2))
            }
            i2 += 1
          }
          j2 -= 1
        }
        val z = alpha(n)
        // Single chars are never pruned, so every dictionary word stays
        // segmentable; a -inf Z would mean the invariant broke.
        require(z > Double.NegativeInfinity, s"unsegmentable word '$w'")
        val hitS = mutable.ArrayBuffer.empty[String]
        val hitE = mutable.ArrayBuffer.empty[Double]
        var jj = 0
        while (jj < n) {
          var ii = jj + 1
          while (ii <= math.min(n, jj + maxPieceLen)) {
            val s = w.substring(jj, ii)
            logp.get(s).foreach { lp =>
              val e = math.exp(alpha(jj) + lp + beta(ii) - z) * c
              if (e > 0) { hitS += s; hitE += e }
            }
            ii += 1
          }
          jj += 1
        }
        perWord(wi) = (z, hitS.toArray, hitE.toArray)
      }
      val exp = mutable.HashMap.empty[String, Double]
      var nll = 0.0
      var wi = 0
      while (wi < words.length) {
        val c = words(wi)._2
        val (z, hitS, hitE) = perWord(wi)
        nll -= c * z
        var h = 0
        while (h < hitS.length) {
          val s = hitS(h)
          exp.update(s, exp.getOrElse(s, 0.0) + hitE(h))
          h += 1
        }
        wi += 1
      }
      // M-step in sorted key order (bit-deterministic totals). Pieces
      // with no expected mass keep a floor mass so they stay in the
      // table until the next prune removes them by rank.
      val keys = vocab
      var tot = 0.0
      keys.foreach(k => tot += math.max(exp.getOrElse(k, 0.0), 1e-12))
      logp = mutable.HashMap.from(
        keys.iterator.map(k => k -> math.log(math.max(exp.getOrElse(k, 0.0), 1e-12) / tot)))
      nll
    }

    // EM + geometric shrink (SentencePiece's 25%-per-round prune) until
    // the vocabulary fits, then a final EM to re-normalize the survivors.
    var iter = 0
    while (vocab.length > vocabSize && iter < 64) {
      var e = 0
      while (e < emIters) { emPass(); e += 1 }
      val keep = math.max(vocabSize, (vocab.length * 0.75).toInt)
      val multi = vocab.iterator.filter(_.length > 1).toArray
        .sortBy(s => (-logp(s), s))
        .take(math.max(0, keep - chars.length))
      vocab = (chars ++ multi).sorted
      val kept = vocab.toSet
      logp.filterInPlace { case (k, _) => kept(k) }
      iter += 1
    }
    var e = 0
    while (e < emIters) { emPass(); e += 1 }
    vocab.iterator.map(s => s -> logp(s)).toSeq.sortBy(_._1)
  }

  /** Viterbi segmentation of one word under a piece log-prob map:
    * maximize the summed piece log-prob; ties prefer the LONGER final
    * piece (smaller backpointer), the SentencePiece decode rule. Chars
    * absent from the table segment as single OOV-floored pieces, so any
    * input tokenizes.
    */
  private[graft] def viterbiCount(
      word: String,
      logp: Map[String, Double],
      maxPieceLen: Int,
      floor: Double): Int = {
    val n = word.length
    if (n == 0) return 0
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val cnt = Array.fill(n + 1)(0)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        val lp =
          if (i - j == 1) logp.getOrElse(word.substring(j, i), floor)
          else logp.getOrElse(word.substring(j, i), Double.NegativeInfinity)
        if (lp > Double.NegativeInfinity && best(j) > Double.NegativeInfinity) {
          val sc = best(j) + lp
          // Strict > keeps the SMALLEST j (longest piece) on ties —
          // j ascends, so a later tie never replaces the earlier winner.
          if (sc > best(i)) { best(i) = sc; cnt(i) = cnt(j) + 1 }
        }
        j += 1
      }
      i += 1
    }
    cnt(n)
  }

  /** Viterbi segmentation returning the PIECES themselves (the decode,
    * not just the count): identical DP and tie rules to [[viterbiCount]]
    * — maximize summed piece log-prob, strict `>` keeps the smallest
    * back-index so ties prefer the LONGER final piece — with
    * backpointers reconstructing the path. `viterbiPieces(w, …).length
    * == viterbiCount(w, …)` for every input (property-tested).
    */
  private[graft] def viterbiPieces(
      word: String,
      logp: Map[String, Double],
      maxPieceLen: Int,
      floor: Double): Array[String] = {
    val n = word.length
    if (n == 0) return Array.empty
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        val lp =
          if (i - j == 1) logp.getOrElse(word.substring(j, i), floor)
          else logp.getOrElse(word.substring(j, i), Double.NegativeInfinity)
        if (lp > Double.NegativeInfinity && best(j) > Double.NegativeInfinity) {
          val sc = best(j) + lp
          if (sc > best(i)) { best(i) = sc; back(i) = j }
        }
        j += 1
      }
      i += 1
    }
    val out = mutable.ArrayBuffer.empty[String]
    var k = n
    while (k > 0) { val j = back(k); out += word.substring(j, k); k = j }
    out.reverse.toArray
  }

  /** Apply a learned piece table to every document: `(idCol, n_words,
    * n_unigram_tokens)` — map-side only, broadcast pieces, zero
    * exchanges. `maxPieceLen` must be ≥ the learn-time value (longer is
    * harmless; shorter silently forbids long pieces).
    */
  def tokenCounts(
      docs: DataFrame,
      pieces: DataFrame,
      maxPieceLen: Int = 8,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val spark = docs.sparkSession
    val table: Map[String, Double] = pieces
      .select("piece", "logp").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    require(table.nonEmpty, "tokenCounts: empty piece table")
    val floor = oovFloor(table.valuesIterator.min)
    val bc = spark.sparkContext.broadcast(table)

    // Same parallelism floor as the learn: per-doc Viterbi is pure
    // map-side CPU and must not serialize onto 1-2 scan tasks locally.
    val base = graft.plans.ParallelFloor(
      docs.select(col(idCol).cast("long").as("id"), lower(col(textCol)).as("t")))
    import spark.implicits._
    base.as[(Long, String)].mapPartitions { it =>
      val tab = bc.value
      it.map { case (id, t) =>
        val ws = t.split("\\s+").filter(_.nonEmpty)
        var n = 0L
        ws.foreach(w => n += viterbiCount(w, tab, maxPieceLen, floor))
        (id, ws.length.toLong, n)
      }
    }.toDF("id", "n_words", "n_unigram_tokens")
      .withColumnRenamed("id", idCol)
  }
}
