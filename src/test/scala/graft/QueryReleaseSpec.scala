package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.config.TaskConfig

/** Query.apply's contract: it returns a plan. Under every
  * `spark.graft.checkpoint` value it runs no job, evaluates no row and
  * persists nothing, and the rows are the same. A failing row throws at
  * the first action on the result and leaves nothing persisted; a missing
  * column throws from Query.apply itself.
  */
class QueryReleaseSpec extends SparkSpec {

  private val modes = Seq("local", "reliable", "off")

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

  private lazy val checkpointDir = java.nio.file.Files.createTempDirectory("graft-query-ckpt")

  override def afterAll(): Unit = try deleteTree(checkpointDir) finally super.afterAll()

  /** A session of its own per mode: a cut reads the mode from its frame's session. */
  private def session(mode: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.graft.checkpoint", mode)
    s.conf.set("spark.graft.checkpoint.dir", checkpointDir.toString)
    s
  }

  /** The predicates frame in `s`, its `purchase` column through a UDF that
    * counts its evaluations in the returned accumulator; subject 2's
    * `purchase` raises an error when `failing`.
    */
  private def frame(s: SparkSession, failing: Boolean = false) = {
    val evaluations = s.sparkContext.longAccumulator
    val touch = udf { (x: Long) => evaluations.add(1); x }
    val rows = s.createDataFrame(Seq(
      (1L, "2020-01-01 00:00", 1L, 0L),
      (1L, "2020-01-01 06:00", 0L, 0L),
      (2L, "2020-01-02 00:00", 1L, 0L))).toDF("subject_id", "ts", "click", "purchase")
    val purchase =
      if (failing) when(col("subject_id") === 2L, raise_error(lit("boom"))).otherwise(col("purchase")).cast("long")
      else col("purchase")
    (rows.select(col("subject_id"), to_timestamp(col("ts")).as("timestamp"), col("click"),
      touch(purchase).as("purchase")), evaluations)
  }

  private def checkpointFiles(): Set[String] = {
    val files = java.nio.file.Files.walk(checkpointDir)
    try files.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_)).map(_.toString).toSet
    finally files.close()
  }

  /** What `body` leaves behind: a cached plan, persisted RDDs, or files
    * under the checkpoint dir.
    */
  private def leftover(s: SparkSession)(body: => Any): Seq[String] = {
    val cache = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    s.catalog.clearCache()
    val (rdds, files) = (s.sparkContext.getPersistentRDDs.keySet.toSet, checkpointFiles())
    body
    (if (cache.isEmpty) Nil else Seq("a cached plan")) ++
      (s.sparkContext.getPersistentRDDs.keySet.toSet -- rdds).map(id => s"rdd $id") ++
      (checkpointFiles() -- files).map(f => s"checkpoint file $f")
  }

  /** The ids of the jobs `body` started. Jobs reach the status tracker in
    * order, so once a later marker job is visible, so is every job `body`
    * started.
    */
  private def jobsOf(s: SparkSession)(body: => Any): Seq[Int] = {
    val sc = s.sparkContext
    def inGroup[U](group: String)(f: => U): U = {
      sc.setJobGroup(group, group)
      try f finally sc.clearJobGroup()
    }
    val group = s"query-release-${java.util.UUID.randomUUID}"
    inGroup(group)(body)
    inGroup(s"$group-marker")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30000000000L
    while (sc.statusTracker.getJobIdsForGroup(s"$group-marker").isEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    sc.statusTracker.getJobIdsForGroup(group).toSeq
  }

  private lazy val cfg = TaskConfig.fromYaml(yaml)

  for (mode <- modes) {
    test(s"$mode: Query.apply runs no job, evaluates no row and persists nothing") {
      val s = session(mode)
      val (df, evaluations) = frame(s)
      var jobs = Seq.empty[Int]
      val left = leftover(s) { jobs = jobsOf(s)(Query(cfg, df)) }
      assert(jobs.isEmpty && evaluations.value == 0L && left.isEmpty,
        s"jobs $jobs, ${evaluations.value} evaluations, left behind: $left")
    }

    test(s"$mode: a failing row throws at the first action and persists nothing") {
      val s = session(mode)
      val left = leftover(s) {
        val result = Query(cfg, frame(s, failing = true)._1)
        intercept[Exception](result.write.format("noop").mode("overwrite").save())
      }
      assert(left.isEmpty, s"left behind: $left")
    }

    test(s"$mode: a missing column throws from Query.apply") {
      val s = session(mode)
      assert(leftover(s)(intercept[Exception](Query(cfg, frame(s)._1.drop("purchase")))).isEmpty)
    }
  }

  test("the rows are identical under local, reliable and off") {
    val rows = modes.map(m => snap(Query(cfg, frame(session(m))._1)))
    assert(rows.head.size == 2 && rows.distinct.size == 1, rows.mkString("\n"))
  }
}
