package graft

import org.apache.spark.sql.SparkSession

class VocabGuardSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Seq((1L, "a b c")).toDF("doc_id", "text")

  test("dictionary learns fail loudly past the driver-side vocab ceiling") {
    // The learns collect vocabLimit (word, count) rows to the driver —
    // the bound IS the safety property, so an over-ceiling request must
    // fail at the call, not OOM mid-collect. The ceiling comes from the
    // frame's own session: the second input sets it on a session that is
    // not the active one.
    for (owner <- Seq(spark, spark.newSession())) {
      val owned = owner.createDataFrame(Seq((1L, "a b c"))).toDF("doc_id", "text")
      SparkSession.setActiveSession(spark)
      owner.conf.set("spark.graft.vocab.maxDriverRows", "1000")
      try {
        val eU = intercept[IllegalArgumentException] {
          graft.functions.Unigram.learnPieces(owned, vocabSize = 8, vocabLimit = 2000)
        }
        assert(eU.getMessage.contains("maxDriverRows"))
        val eB = intercept[IllegalArgumentException] {
          graft.functions.Bpe.learnMerges(owned, numMerges = 4, vocabLimit = 2000)
        }
        assert(eB.getMessage.contains("maxDriverRows"))
      } finally owner.conf.unset("spark.graft.vocab.maxDriverRows")
    }
    // In-ceiling requests still learn.
    assert(graft.functions.Bpe.learnMerges(docs, numMerges = 2).count() >= 0)
  }
}
