package graft.functions

/** Shared driver-memory guard for the dictionary learners (Unigram EM,
  * BPE merges): both collect a `vocabLimit`-row word-count table to the
  * driver — the bounded-dictionary learn that makes driver-side EM/merge
  * loops legitimate at corpus scale. The BOUND ITSELF is the safety
  * property, so a request that would no longer fit driver memory must
  * fail loudly at the call, not OOM mid-collect.
  *
  * Ceiling: `spark.graft.vocab.maxDriverRows` (default 10M ≈ a few
  * hundred MB of (word, count) rows at typical word lengths — inside a
  * multi-GB driver with headroom; real tokenizer vocabularies are
  * 10⁴–10⁵).
  */
private[functions] object VocabGuard {

  /** @param spark the session of the frame being learned from — its conf,
    *              not the thread's active session's, sets the ceiling.
    */
  def check(spark: org.apache.spark.sql.SparkSession, vocabLimit: Int, caller: String): Unit = {
    val max = spark.conf.getOption("spark.graft.vocab.maxDriverRows")
      .map(_.toLong).getOrElse(10000000L)
    require(vocabLimit > 0, s"$caller: vocabLimit must be positive, got $vocabLimit")
    require(vocabLimit <= max,
      s"$caller: vocabLimit=$vocabLimit exceeds the driver-side dictionary " +
        s"ceiling $max (spark.graft.vocab.maxDriverRows) — the learn collects " +
        "that many (word, count) rows to the driver; raise the conf only " +
        "with the driver memory to back it")
  }
}
