package graft.functions

/** Shared driver-memory guard for the dictionary learners (Unigram EM,
  * BPE merges): both collect a `vocabLimit`-row word-count table to the
  * driver — the bounded-dictionary learn that makes driver-side EM/merge
  * loops legitimate at corpus scale. The BOUND ITSELF is the safety
  * property, so a request that would no longer fit driver memory must
  * fail loudly at the call, not OOM mid-collect.
  */
private[graft] object VocabGuard {

  /** The ceiling: 10M ≈ a few hundred MB of (word, count) rows at typical
    * word lengths — inside a multi-GB driver with headroom; real tokenizer
    * vocabularies are 10⁴–10⁵.
    */
  val maxDriverRows: Long = 10000000L

  def check(vocabLimit: Int, caller: String): Unit = {
    require(vocabLimit > 0, s"$caller: vocabLimit must be positive, got $vocabLimit")
    require(vocabLimit <= maxDriverRows,
      s"$caller: vocabLimit=$vocabLimit exceeds the driver-side dictionary " +
        s"ceiling VocabGuard.maxDriverRows = $maxDriverRows — the learn collects " +
        "that many (word, count) rows to the driver")
  }
}
