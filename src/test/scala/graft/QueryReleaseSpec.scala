package graft

import org.apache.spark.sql.functions._

import graft.config.TaskConfig

/** Query.apply's release contract: a failing query leaves no cached plan
  * and no persisted RDD behind (its result cut is released), and under
  * `spark.graft.checkpoint=off` it persists nothing at all.
  */
class QueryReleaseSpec extends SparkSpec {

  private val yaml =
    """predicates:
      |  click: { code: click }
      |  purchase: { code: purchase }
      |trigger: click
      |windows:
      |  input:
      |    start: trigger
      |    end: start + 24h
      |    start_inclusive: True
      |    end_inclusive: True
      |    has: { purchase: "(None, 0)" }
      |""".stripMargin

  private def frame = predicatesDf(Seq("click", "purchase"), Seq(
    (1L, "2020-01-01 00:00", Seq(1L, 0L)),
    (1L, "2020-01-01 06:00", Seq(0L, 0L)),
    (2L, "2020-01-02 00:00", Seq(1L, 0L))))

  /** What `body` leaves behind: a cached plan, or persisted RDDs. */
  private def leftover(body: => Any): Seq[String] = {
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    body
    (if (cache.isEmpty) Nil else Seq("a cached plan")) ++
      (spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).map(id => s"rdd $id")
  }

  test("Query.apply leaves nothing persisted after a failing query or an off-mode query") {
    val cfg = TaskConfig.fromYaml(yaml)
    // Fails while the window tree is built (no `purchase` column for the
    // constraint), and while the cached frame is computed.
    val missingColumn = frame.drop("purchase")
    val failingRow = frame.withColumn("purchase",
      when(col("subject_id") === 2L, raise_error(lit("boom"))).otherwise(col("purchase")).cast("long"))
    val afterFailure = Seq(missingColumn, failingRow)
      .map(df => leftover(intercept[Exception](Query(cfg, df))))

    spark.conf.set("spark.graft.checkpoint", "off")
    val afterOff =
      try leftover(assert(Query(cfg, frame).count() == 2))
      finally spark.conf.unset("spark.graft.checkpoint")

    assert(afterFailure.forall(_.isEmpty) && afterOff.isEmpty,
      s"left behind: by failing queries $afterFailure, by an off-mode query $afterOff")
  }
}
