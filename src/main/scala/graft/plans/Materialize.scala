package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage-cut points: a frame that several later plans read (an
  * iterative dedup round, a fitted index, a curation shard) is computed once,
  * where it is cut, and read back from storage, instead of every consumer
  * re-running and re-analysing its whole lineage. The ACES path
  * ([[graft.Query]]) makes no cut: its result is a plan its caller runs.
  *
  * Mode is the frame's session's [[graft.GraftConf.Checkpoint]]:
  *
  *   - `local` (default): `localCheckpoint` — blocks live in executor
  *     storage (memory, spill to disk). Fastest, but NOT fault-tolerant:
  *     lineage is truncated, so on a real cluster an executor loss kills
  *     the query. The right choice for local mode and for clusters where
  *     task retry (not executor loss) is the failure model.
  *   - `reliable`: `df.checkpoint()` to the directory in the session's
  *     [[graft.GraftConf.CheckpointDir]] (`SparkContext.setCheckpointDir` is
  *     pointed there whenever it is elsewhere; unset, the context keeps
  *     its directory or gets one under /tmp) — survives executor loss;
  *     the 100 TB-cluster setting.
  *   - `off`: no cuts; plans stay lazy (tiny data / plan-inspection tests).
  */
object Materialize {

  private def mode(df: DataFrame): String = graft.GraftConf.Checkpoint(df.sparkSession)

  /** A lineage cut of `df`, computed before this returns (`off`: `df`
    * itself). A failing `local` cut unpersists the RDD it marked before
    * rethrowing, so a failed job leaves no blocks behind.
    */
  def apply(df: DataFrame): DataFrame = mode(df) match {
    case "off" => df
    case "reliable" =>
      val sc = df.sparkSession.sparkContext
      val named = graft.GraftConf.CheckpointDir(df.sparkSession)
      // The context holds one directory (a fresh subdirectory of the one
      // it was given); a session that names another moves it there.
      val elsewhere = named.exists(d =>
        !sc.getCheckpointDir.exists(c => new Path(c).getParent.toUri.getPath == new Path(d).toUri.getPath))
      if (sc.getCheckpointDir.isEmpty || elsewhere)
        sc.setCheckpointDir(named.getOrElse(s"/tmp/graft-checkpoints-${sc.applicationId}"))
      df.checkpoint() // eager
    case "local" => local(df)
  }

  /** [[apply]], but a `local` cut under `off` too: for iterative plans
    * whose cut is load-bearing (round k would otherwise nest k rounds).
    */
  private[graft] def always(df: DataFrame): DataFrame =
    if (mode(df) == "off") local(df) else apply(df)

  private def local(df: DataFrame): DataFrame = {
    // `localCheckpoint(false)` marks its RDD persisted when planned;
    // counting that RDD here, not through `localCheckpoint(true)`, keeps
    // the handle needed to release it.
    val cut = df.localCheckpoint(false)
    val rdd = cut.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    try rdd.count()
    catch { case e: Throwable => rdd.unpersist(blocking = false); throw e }
    cut
  }
}
