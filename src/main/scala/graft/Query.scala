package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.TaskConfig
import graft.operators.Constraints
import graft.plans.ExtractSubtree

/** Task-query orchestration: trigger anchors → recursive window-tree
  * extraction → label / index-timestamp projection.
  * (reference: src/aces/query.py:19-197 `query`)
  */
object Query {

  /** Run a task query over a canonical predicates frame.
    *
    * The reference eagerly validates (subject_id, timestamp) uniqueness
    * with a full scan (query.py:110-115); loaders built with
    * `PredicateFrames.collapse` guarantee it by construction, so the scan
    * is opt-in here (`validateUnique`).
    *
    * Under `spark.graft.checkpoint=local|reliable` (the default is local)
    * the result is materialized before this returns, and the canonical
    * frame's cache is released on every path, failures included. Under
    * `off` the result is a lazy plan over the uncached input: nothing is
    * persisted, so nothing needs releasing, and every action re-runs the
    * whole query — cache it yourself if you act on it more than once.
    */
  def apply(cfg: TaskConfig, predicatesDf: DataFrame, validateUnique: Boolean = false): DataFrame = {
    if (validateUnique) {
      val dupes = predicatesDf.groupBy("subject_id", "timestamp").count().filter(col("count") > 1)
      require(dupes.isEmpty, "The (subject_id, timestamp) columns must be unique.")
    }

    // Static-demographics filter, else drop null-timestamp rows
    // (reference: query.py:121-127).
    val staticVariables = cfg.predicates.collect { case (n, p) if p.static => n }.toSeq
    val filtered0 =
      if (staticVariables.nonEmpty) Constraints.checkStaticVariables(staticVariables, predicatesDf)
      else predicatesDf.na.drop(Seq("subject_id", "timestamp"))

    // The filtered frame is scanned once per tree edge (every window agg
    // reads it) plus once for trigger anchors — persist it for the run
    // (unless checkpointing is off: the result then stays lazy, and a
    // cache would outlive this call with no one to release it).
    // MEMORY_AND_DISK: spills rather than OOMs at scale; the frame is the
    // narrow post-collapse predicate matrix, far smaller than raw input.
    // Pre-materialize the epoch-micros ordering key and sort within
    // partitions on it: the cached relation then *reports* that ordering,
    // so every downstream window operator skips its own per-operator sort
    // of the full frame. When the window tree has event-bound edges, also
    // pre-materialize the per-subject cumsums (`__cum_<pred>`) they all
    // share — one window pass at cache build instead of one per edge
    // (EventBoundAgg detects and reuses them).
    def hasEventBound(n: graft.plans.WindowNode): Boolean =
      n.endpointExpr.exists(_.isInstanceOf[graft.model.EventBounds]) || n.children.exists(hasEventBound)
    val tsUs = graft.operators.TemporalWindowAgg.TsUs
    val keyed = filtered0.withColumn(tsUs, unix_micros(col("timestamp")))
    val enriched =
      if (cfg.windowTree.children.exists(hasEventBound)) {
        val predCols = keyed.columns
          .filterNot(c => c == "subject_id" || c == "timestamp" || c.startsWith("__"))
        val wCum = org.apache.spark.sql.expressions.Window
          .partitionBy("subject_id").orderBy(tsUs)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        keyed.select(
          keyed.columns.map(col).toSeq ++
            predCols.map(c => sum(col(c)).over(wCum).as(s"__cum_$c")): _*)
      } else keyed
    val sorted = enriched.sortWithinPartitions(col("subject_id"), col(tsUs))
    if (graft.plans.Materialize.mode(sorted) == "off") extract(cfg, sorted)
    else {
      val filtered = sorted.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // Materialize the (cohort-sized, small) result eagerly, then release
      // the canonical-frame cache whether or not that succeeded: a leaked
      // entry per call is BENCH_r01's "Asked to cache already cached data"
      // tail and masks timing. Mirrors the reference's eager execution
      // (query() returns a computed frame, query.py:142-151).
      try graft.plans.Materialize(extract(cfg, filtered), eager = true)
      finally filtered.unpersist(blocking = false)
    }
  }

  /** Anchors, window tree and label/index projection over the canonical
    * frame `filtered`.
    */
  private def extract(cfg: TaskConfig, filtered: DataFrame): DataFrame = {

    // Trigger anchors (reference: query.py:133-140).
    val anchors = Constraints
      .checkConstraints(Map(cfg.trigger.predicate -> (Some(1L), None)), filtered)
      .select(col("subject_id"), col("timestamp").as("subtree_anchor_timestamp"))

    // Subjects with no trigger event can never contribute a cohort row
    // (every window is anchored per subject), so prune them from the frame
    // every window pass reads. The semi-join is co-partitioned with the
    // cache (no shuffle) and costs a hash probe per row; for a selective
    // trigger (e.g. one diagnosis code) it drops most of a 100 TB corpus
    // before any window work. The reference has no such pruning — it
    // aggregates the full frame per edge.
    val anchorSubjects = anchors.select("subject_id").distinct()
    val pruned = filtered.join(anchorSubjects, Seq("subject_id"), "left_semi")

    val extracted = ExtractSubtree(cfg.windowTree, anchors, pruned)

    val result = extracted.withColumnRenamed("subtree_anchor_timestamp", "trigger")

    // Column order: subject_id, [index_timestamp], [label], trigger,
    // then summaries in pre-order tree walk (reference: query.py:153-197).
    var out = result
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
