package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Materialize

/** The one lineage cut: [[Materialize]] computes its cut before it
  * returns, exactly once per row under `local` and `reliable`, releases
  * what it marked when the cut's job fails, and refuses an unknown
  * `spark.graft.checkpoint` value.
  */
class MaterializeSpec extends SparkSpec {

  private val n = 1000L

  private lazy val checkpointDir = java.nio.file.Files.createTempDirectory("graft-materialize-ckpt")

  override def afterAll(): Unit = try deleteTree(checkpointDir) finally super.afterAll()

  /** A session of its own per mode: the mode is read from a frame's session. */
  private def session(mode: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.graft.checkpoint", mode)
    s.conf.set("spark.graft.checkpoint.dir", checkpointDir.toString)
    s
  }

  /** `n` rows whose every evaluation adds one to the returned accumulator. */
  private def counted(s: SparkSession) = {
    val evaluations = s.sparkContext.longAccumulator
    val touch = udf { (x: Long) => evaluations.add(1); x }
    (s.range(n).select(touch(col("id")).as("x")), evaluations)
  }

  /** Evaluations when the cut returns, and after two actions on it. */
  private def evaluations(cut: DataFrame => DataFrame, s: SparkSession): (Long, Long) = {
    val (df, evaluations) = counted(s)
    val c = cut(df)
    val atReturn = evaluations.value.longValue
    assert(c.count() == n)
    assert(c.agg(sum("x")).head.getLong(0) == n * (n - 1) / 2)
    (atReturn, evaluations.value.longValue)
  }

  /** Persisted RDDs that `body` leaves behind. */
  private def leftover(s: SparkSession)(body: => Any): Set[Int] = {
    val before = s.sparkContext.getPersistentRDDs.keySet.toSet
    body
    s.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }

  for (mode <- Seq("local", "reliable")) {
    test(s"$mode: the cut is computed once, before Materialize returns") {
      assert(evaluations(Materialize(_), session(mode)) == ((n, n)))
    }

    test(s"$mode: a failing cut throws from Materialize and leaves no persisted RDD") {
      val s = session(mode)
      val failing = s.range(10).select(
        when(col("id") === 5L, raise_error(lit("boom"))).otherwise(col("id")).as("x"))
      assert(leftover(s)(intercept[Exception](Materialize(failing))).isEmpty)
    }
  }

  test("off: Materialize keeps the plan; the load-bearing entry still cuts") {
    val s = session("off")
    val (df, _) = counted(s)
    assert(Materialize(df) eq df)
    assert(evaluations(Materialize.always(_), s) == ((n, n)))
  }

  test("spark.graft.checkpoint rejects a value outside local, reliable and off") {
    val e = intercept[IllegalArgumentException](Materialize(session("reliabel").range(3).toDF()))
    assert(e.getMessage.contains("spark.graft.checkpoint must be local, reliable or off, got 'reliabel'"))
  }
}
