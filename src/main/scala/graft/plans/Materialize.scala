package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage-cut points: a frame that several later plans read (an
  * iterative dedup round, a fitted index, a query result) is computed once
  * and read back from storage, instead of every consumer re-running and
  * re-analysing its whole lineage.
  *
  * Mode is read from the session conf `spark.graft.checkpoint`:
  *
  *   - `local` (default): `localCheckpoint` — blocks live in executor
  *     storage (memory, spill to disk). Fastest, but NOT fault-tolerant:
  *     lineage is truncated, so on a real cluster an executor loss kills
  *     the query. The right choice for local mode and for clusters where
  *     task retry (not executor loss) is the failure model.
  *   - `reliable`: `df.checkpoint()` to the directory in the session's
  *     `spark.graft.checkpoint.dir` (`SparkContext.setCheckpointDir` is
  *     pointed there whenever it is elsewhere; unset, the context keeps
  *     its directory or gets one under /tmp) — survives executor loss;
  *     the 100 TB-cluster setting.
  *   - `off`: no cuts (tiny data / plan-inspection tests).
  */
object Materialize {

  def mode(df: DataFrame): String =
    df.sparkSession.conf.get("spark.graft.checkpoint", "local")

  /** A lineage cut of `df`; with `eager`, computed before this returns. A
    * failing eager `local` cut unpersists the RDD it marked before
    * rethrowing, so a failed query leaves no blocks behind.
    */
  def apply(df: DataFrame, eager: Boolean = false): DataFrame = mode(df) match {
    case "off" => df
    case "reliable" =>
      val sc = df.sparkSession.sparkContext
      val named = df.sparkSession.conf.getOption("spark.graft.checkpoint.dir")
      // The context holds one directory (a fresh subdirectory of the one
      // it was given); a session that names another moves it there.
      val elsewhere = named.exists(d =>
        !sc.getCheckpointDir.exists(c => new Path(c).getParent.toUri.getPath == new Path(d).toUri.getPath))
      if (sc.getCheckpointDir.isEmpty || elsewhere)
        sc.setCheckpointDir(named.getOrElse(s"/tmp/graft-checkpoints-${sc.applicationId}"))
      df.checkpoint(eager)
    case _ =>
      // The lazy cut persists its RDD when planned; computing it here (the
      // eager path's one job) keeps the handle needed to release it.
      val cut = df.localCheckpoint(eager = false)
      if (eager) {
        val rdd = cut.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
        try rdd.count()
        catch { case e: Throwable => rdd.unpersist(blocking = false); throw e }
      }
      cut
  }
}
