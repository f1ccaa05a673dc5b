package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.TaskConfig
import graft.operators.Constraints
import graft.plans.WindowTree

/** Task-query orchestration: static / null-key filter → window tree
  * ([[WindowTree]]) → label / index-timestamp projection.
  * (reference: src/aces/query.py:19-197 `query`)
  */
object Query {

  /** A task query over a canonical predicates frame, as a plan.
    *
    * Nothing runs and nothing is persisted here: the result is a lazy plan
    * (the window tree is one sorted pass per subject, [[WindowTree]], so
    * the input is read once per action). A caller that acts on it more
    * than once caches it, or writes it and reads the copy back. (The
    * reference returns a computed frame only because Polars is eager,
    * query.py:142-151.)
    */
  def apply(cfg: TaskConfig, predicatesDf: DataFrame): DataFrame =
    project(cfg, WindowTree(cfg.windowTree, cfg.trigger.predicate, canonicalRows(cfg, predicatesDf)))

  /** Static-demographics filter, then rows with a subject and a timestamp
    * (reference: query.py:121-127).
    */
  private[graft] def canonicalRows(cfg: TaskConfig, predicatesDf: DataFrame): DataFrame = {
    val staticVariables = cfg.predicates.collect { case (n, p) if p.static => n }.toSeq
    val rows =
      if (staticVariables.nonEmpty) Constraints.checkStaticVariables(staticVariables, predicatesDf)
      else predicatesDf
    rows.na.drop(Seq("subject_id", "timestamp"))
  }

  /** Label and index-timestamp columns over the realized trigger rows
    * (`subject_id`, `trigger`, `<node>_summary`…).
    */
  private[graft] def project(cfg: TaskConfig, realized: DataFrame): DataFrame = {
    // Column order: subject_id, [index_timestamp], [label], trigger,
    // then summaries in pre-order tree walk (reference: query.py:153-197).
    var out = realized
    var headCols = Seq("subject_id")

    cfg.labelWindow.foreach { lw =>
      val w = cfg.windows.collectFirst { case (n, wd) if n == lw => wd }.get
      val labelCol = if (w.rootNode == "start") "end" else "start"
      out = out.withColumn("label", col(s"`$lw.${labelCol}_summary`").getField(w.label.get))
      headCols = headCols.take(1) ++ Seq("label") ++ headCols.drop(1)
    }
    cfg.indexTimestampWindow.foreach { iw =>
      val w = cfg.windows.collectFirst { case (n, wd) if n == iw => wd }.get
      val itCol = if (w.rootNode == "start") "end" else "start"
      out = out.withColumn(
        "index_timestamp",
        col(s"`$iw.${itCol}_summary`").getField(s"timestamp_at_${w.indexTimestamp.get}"))
      headCols = headCols.take(1) ++ Seq("index_timestamp") ++ headCols.drop(1)
    }

    val ordered = headCols ++ Seq("trigger") ++ cfg.preorderWindowNames.map(_ + "_summary")
    out.select(ordered.map(c => col(s"`$c`")): _*)
  }

  /** Coerce a query result to the fixed MEDS label output schema
    * `(subject_id, prediction_time, boolean_value, integer_value,
    * float_value, categorical_value)`. (reference: src/aces/run.py:22-118,
    * :146-160)
    */
  def toMedsLabels(result: DataFrame): DataFrame = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    var df = result
    Seq("index_timestamp" -> "prediction_time", "label" -> "boolean_value").foreach {
      case (from, to) => if (df.columns.contains(from)) df = df.withColumnRenamed(from, to)
    }
    // Mandatory column — unless the result is EMPTY, in which case the
    // reference warns and emits an empty frame with a null Int64
    // subject_id instead of failing the pipeline (run.py:154-160).
    // The emptiness check runs a job, but only on this degenerate path.
    if (!df.columns.contains("subject_id")) {
      if (!df.isEmpty)
        throw new IllegalArgumentException(
          "MEDS Label DataFrame must have a 'subject_id' column of type Int64.")
      log.warn("Output dataframe is empty; adding an empty patient ID column.")
      df = df.withColumn("subject_id", lit(null).cast(LongType)).limit(0)
    }
    // Missing prediction time: warn, proceed (reference: run.py:84-89).
    if (!df.columns.contains("prediction_time"))
      log.warn(
        "Output DataFrame is missing a 'prediction_time' column. If this is not intentional, " +
          "add a 'index_timestamp' key to the task configuration identifying which window's " +
          "start or end time to use as the prediction time.")

    val optional: Seq[(String, DataType)] = Seq(
      "prediction_time" -> TimestampType,
      "boolean_value" -> BooleanType,
      "integer_value" -> LongType,
      "float_value" -> DoubleType,
      "categorical_value" -> StringType)

    // Extra columns: warn, then drop (reference: run.py:106-116).
    val known = Set("subject_id") ++ optional.map(_._1)
    val extras = df.columns.filterNot(known)
    if (extras.nonEmpty)
      log.warn(
        "Output contains columns that are not valid MEDS label columns. Dropping them:\n" +
          extras.map(c => s"  - $c").mkString("\n"))

    var out = df.withColumn("subject_id", col("subject_id").cast(LongType))
    optional.foreach { case (name, t) =>
      out =
        if (out.columns.contains(name)) out.withColumn(name, col(name).cast(t))
        else out.withColumn(name, lit(null).cast(t))
    }
    out.select(("subject_id" +: optional.map(_._1)).map(col): _*)
  }
}
