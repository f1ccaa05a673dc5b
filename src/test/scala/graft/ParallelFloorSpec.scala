package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.plans.ParallelFloor

/** [[ParallelFloor]] decides from the analyzed plan: an input that is not
  * scan-level comes back unchanged without running any of it, a small
  * scan is floored at the default parallelism, and a scan that already
  * has enough partitions is left alone.
  */
class ParallelFloorSpec extends SparkSpec {

  private def target = spark.sparkContext.defaultParallelism

  /** `n` rows in one partition whose every evaluation adds one to the
    * returned accumulator.
    */
  private def counted(s: SparkSession, n: Long) = {
    val evaluations = s.sparkContext.longAccumulator
    val touch = udf { (x: Long) => evaluations.add(1); x }
    (s.range(0, n, 1, 1).select(touch(col("id")).as("id")), evaluations)
  }

  test("an input with an aggregate comes back unchanged and unrun") {
    val (df, evaluations) = counted(spark, 1000)
    val agg = df.groupBy((col("id") % 10).as("id")).agg(count(lit(1)).as("c"))
    assert(ParallelFloor(agg) eq agg)
    assert(evaluations.value == 0L)
  }

  test("a broadcast-join input comes back unchanged and unrun") {
    val (built, evaluations) = counted(spark, 1000)
    val joined = spark.range(0, 100, 1, 1).join(broadcast(built), "id")
    assert(ParallelFloor(joined) eq joined)
    assert(evaluations.value == 0L)
  }

  test("an input filtered by a subquery comes back unchanged and unrun") {
    val (keys, evaluations) = counted(spark, 1000)
    val filtered = spark.range(0, 100, 1, 1).toDF().filter(col("id").isin(keys.select("id")))
    assert(ParallelFloor(filtered) eq filtered)
    assert(evaluations.value == 0L)
  }

  test("a one-file parquet scan is floored at the default parallelism") {
    val dir = java.nio.file.Files.createTempDirectory("graft-floor-small")
    try {
      spark.range(100).coalesce(1).write.mode("overwrite").parquet(dir.toString)
      val scan = spark.read.parquet(dir.toString).filter(col("id") % 2 === 0).select(col("id"))
      assert(scan.rdd.getNumPartitions < target)
      val floored = ParallelFloor(scan)
      assert(floored.rdd.getNumPartitions == target)
      assert(floored.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L by 2L))
    } finally deleteTree(dir)
  }

  test("a scan with enough partitions comes back as the same frame") {
    val dir = java.nio.file.Files.createTempDirectory("graft-floor-wide")
    try {
      spark.range(100).repartition(target).write.mode("overwrite").parquet(dir.toString)
      val scan = spark.read.parquet(dir.toString).filter(col("id") > 10).select(col("id"))
      assert(scan.rdd.getNumPartitions >= target)
      assert(ParallelFloor(scan) eq scan)
    } finally deleteTree(dir)
  }
}
