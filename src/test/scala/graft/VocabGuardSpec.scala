package graft

class VocabGuardSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Seq((1L, "a b c")).toDF("doc_id", "text")

  test("dictionary learns fail loudly past the driver-side vocab ceiling") {
    // The learns collect vocabLimit (word, count) rows to the driver —
    // the bound IS the safety property, so an over-ceiling request must
    // fail at the call, not OOM mid-collect.
    val over = graft.functions.VocabGuard.maxDriverRows.toInt + 1
    val eU = intercept[IllegalArgumentException] {
      graft.functions.Unigram.learnPieces(docs, vocabSize = 8, vocabLimit = over)
    }
    assert(eU.getMessage.contains("maxDriverRows"))
    val eB = intercept[IllegalArgumentException] {
      graft.functions.Bpe.learnMerges(docs, numMerges = 4, vocabLimit = over)
    }
    assert(eB.getMessage.contains("maxDriverRows"))
    // In-ceiling requests still learn.
    assert(graft.functions.Bpe.learnMerges(docs, numMerges = 2).count() >= 0)
  }
}
