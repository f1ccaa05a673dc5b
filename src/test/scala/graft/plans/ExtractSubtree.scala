package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Query
import graft.config.TaskConfig
import graft.model.{EventBounds, TemporalBounds}
import graft.operators.{Constraints, EventBoundAgg, TemporalWindowAgg}

/** Relational window-tree evaluator: the test oracle for [[WindowTree]].
  *
  * (reference: src/aces/extract_subtree.py:16-386; prose spec in
  * docs/source/algorithm.md:181-306.)
  *
  * A direct port of the reference's recursion: the driver composes one
  * lazy Spark plan per tree edge — a [[TemporalWindowAgg]] or
  * [[EventBoundAgg]] pass over the whole frame, joined to the edge's
  * anchors — and each level's constrained window summary is a
  * [[Materialize]] lineage cut. It shares no evaluation code with the
  * per-subject kernel, which is what makes it an oracle.
  */
object ExtractSubtree {

  /** Lazy checkpoint: materialized on first action and reused by every
    * consumer (each level's summary has three — child anchors, the
    * re-anchor join, and the struct summary), without the serial eager
    * pass per recursion level. Mode (local / reliable / off) comes from
    * the single `spark.graft.checkpoint` conf, see [[Materialize]] —
    * tests on tiny data set `off` to keep plans inspectable.
    */
  private def maybeCheckpoint(df: DataFrame): DataFrame = Materialize(df)

  /** [[Query]] with this evaluator in place of [[WindowTree]]: trigger
    * anchors, pruning to subjects with a trigger row, the recursion, then
    * Query's own label / index projection. The result is lazy.
    */
  def query(cfg: TaskConfig, predicatesDf: DataFrame): DataFrame = {
    val filtered = Query.canonicalRows(cfg, predicatesDf)
    val anchors = Constraints
      .checkConstraints(Map(cfg.trigger.predicate -> (Some(1L), None)), filtered)
      .select(col("subject_id"), col("timestamp").as("subtree_anchor_timestamp"))
    val pruned = filtered.join(anchors.select("subject_id").distinct(), Seq("subject_id"), "left_semi")
    Query.project(cfg,
      apply(cfg.windowTree, anchors, pruned).withColumnRenamed("subtree_anchor_timestamp", "trigger"))
  }

  /** @param anchors DataFrame(subject_id, subtree_anchor_timestamp) of valid
    *                realizations of this subtree's root.
    * @param rootOffsetUs the accumulated temporal offset from this subtree's
    *                anchor row to its logical root (grows through temporal
    *                edges, resets at event-bound edges).
    */
  def apply(
      subtree: WindowNode,
      anchors: DataFrame,
      predicatesDf: DataFrame,
      rootOffsetUs: Long = 0L
  ): DataFrame = {
    val predCols = predicatesDf.columns
      .filterNot(c => c == "subject_id" || c == "timestamp" || c.startsWith("__"))
      .toSeq

    if (subtree.children.isEmpty) return anchors

    val anchorKeysShared = anchors.select("subject_id", "subtree_anchor_timestamp")

    // Sibling fusion: ≥2 NON-LEAF temporal children of this node each need
    // a full-frame window pass + anchor join + lineage cut. All their
    // prefix-sum frames share (partitionBy subject, orderBy ts), so ONE
    // WindowExec pass computes every sibling's sums; one anchor join and
    // one checkpoint then serve them all (per-child constraints are cheap
    // filters over the shared materialized frame). Leaf children keep the
    // uncheckpointed fast path below.
    val fusableTemporal: Seq[(WindowNode, TemporalBounds)] = subtree.children.flatMap { c =>
      if (c.children.isEmpty) None
      else c.endpointExpr.map(_.withAddedOffset(rootOffsetUs)).collect { case tb: TemporalBounds => (c, tb) }
    }
    val fusedSummaries: Map[String, DataFrame] =
      if (fusableTemporal.size < 2) Map.empty
      else {
        import graft.operators.TemporalWindowAgg.TsUs
        val withTs =
          if (predicatesDf.columns.contains(TsUs)) predicatesDf
          else predicatesDf.withColumn(TsUs, unix_micros(col("timestamp")))
        val fusedCols = fusableTemporal.zipWithIndex.flatMap { case ((_, tb), i) =>
          val (lo, hi) = tb.inclusiveFrame
          val sums = TemporalWindowAgg.frameSums(predCols, lo, hi, c => s"__f${i}_$c")
          sums ++ Seq(
            timestamp_micros(col(TsUs) + lit(tb.offsetMicros)).as(s"__f${i}_ts_start"),
            timestamp_micros(col(TsUs) + lit(tb.offsetMicros + tb.windowMicros)).as(s"__f${i}_ts_end"))
        }
        val fused = withTs
          .select(Seq(col("subject_id"), col("timestamp").as("subtree_anchor_timestamp")) ++ fusedCols: _*)
          .join(anchorKeysShared, Seq("subject_id", "subtree_anchor_timestamp"), "inner")
        val shared = maybeCheckpoint(fused)
        fusableTemporal.zipWithIndex.map { case ((child, _), i) =>
          child.name -> shared.select(
            Seq(
              col("subject_id"),
              col("subtree_anchor_timestamp"),
              col("subtree_anchor_timestamp").as("child_anchor_timestamp"),
              col(s"__f${i}_ts_start").as("timestamp_at_start"),
              col(s"__f${i}_ts_end").as("timestamp_at_end")) ++
              predCols.map(c => col(s"__f${i}_$c").as(c)): _*)
        }.toMap
      }

    val childResults = subtree.children.map { child =>
      // Step 1: summarize the window from subtree root to this child, with
      // the accumulated parent offset applied (copy, never mutate — the
      // reference had an offset-compounding bug here, extract_subtree.py:288-298).
      val endpoint = child.endpointExpr
        .getOrElse(throw new IllegalStateException(s"Node '${child.name}' lacks endpoint expr"))
        .withAddedOffset(rootOffsetUs)

      val fused = fusedSummaries.get(child.name)
      val (childRootOffsetUs, atAnchors) = (endpoint, fused) match {
        case (tb: TemporalBounds, Some(shared)) =>
          // Anchor join + lineage cut already happened in the fused pass.
          (rootOffsetUs + tb.windowMicros, shared)
        case (tb: TemporalBounds, None) =>
          val s = TemporalWindowAgg(predicatesDf, tb)
            .withColumn("subtree_anchor_timestamp", col("timestamp"))
            .withColumn("child_anchor_timestamp", col("timestamp"))
            .drop("timestamp")
          // Step 2: keep summaries only at valid anchor rows. Both sides
          // are hash-partitioned by subject_id (window output / previous
          // level), so this equi-join needs no new shuffle; AQE converts
          // it to a broadcast join at runtime when the anchor side turns
          // out small. Deliberately unhinted: at scale the anchor set
          // (e.g. trigger = _ANY_EVENT) can be as large as the event
          // stream itself.
          (rootOffsetUs + tb.windowMicros,
            s.join(anchorKeysShared, Seq("subject_id", "subtree_anchor_timestamp"), "inner"))
        case (eb: EventBounds, _) =>
          // Event-bound child anchors are proper extant events → offset resets.
          val childAnchorTime =
            if (eb.endEvent.startsWith("-")) "timestamp_at_start" else "timestamp_at_end"
          val s = EventBoundAgg(predicatesDf, eb)
            .withColumn("subtree_anchor_timestamp", col("timestamp"))
            .withColumn("child_anchor_timestamp", col(childAnchorTime))
            .drop("timestamp")
          (0L,
            s.join(anchorKeysShared, Seq("subject_id", "subtree_anchor_timestamp"), "inner"))
      }

      val constrained = Constraints.checkConstraints(child.constraints, atAnchors)

      val summaryStruct = struct(
        lit(child.name).as("window_name") +:
          col("timestamp_at_start") +:
          col("timestamp_at_end") +:
          predCols.map(col): _*
      ).as(s"${child.name}_summary")

      if (child.children.isEmpty) {
        // Leaf fast path. The reference's steps 4-6 (dedup child anchors →
        // recurse trivially → re-join) reduce, for a leaf, to projecting
        // each surviving summary row — except rows whose child anchor is
        // null (missing event bound), which the reference's null-key
        // equi-joins drop. Saves a dedup shuffle, two joins, and a
        // checkpoint per leaf.
        constrained
          .filter(col("child_anchor_timestamp").isNotNull)
          .select(col("subject_id"), col("subtree_anchor_timestamp"), summaryStruct)
      } else {
        // Step 3b: cut lineage — this summary feeds three consumers below.
        // (Fused children are already materialized pre-constraint; the
        // per-child constraint filter is a cheap narrow op over it.)
        val windowSummary = if (fused.isDefined) constrained else maybeCheckpoint(constrained)

        // Step 4: child anchor realizations.
        val childAnchors = windowSummary
          .select(
            col("subject_id"),
            col("child_anchor_timestamp").as("subtree_anchor_timestamp"))
          .dropDuplicates("subject_id", "subtree_anchor_timestamp")

        // Step 5: recurse.
        val recursive = apply(child, childAnchors, predicatesDf, childRootOffsetUs)

        // Step 6.1: map recursion results back up to this subtree's anchor space.
        val reanchored = recursive
          .withColumnRenamed("subtree_anchor_timestamp", "child_anchor_timestamp")
          .join(
            windowSummary.select("subject_id", "subtree_anchor_timestamp", "child_anchor_timestamp"),
            Seq("subject_id", "child_anchor_timestamp"),
            "left")
          .drop("child_anchor_timestamp")

        // Step 6.2: attach this window's struct summary.
        val forReturn = windowSummary.select(
          col("subject_id"), col("subtree_anchor_timestamp"), summaryStruct)

        reanchored.join(forReturn, Seq("subject_id", "subtree_anchor_timestamp"), "left")
      }
    }

    // Step 7: intersect across children (all children must realize).
    childResults.reduce((a, b) => a.join(b, Seq("subject_id", "subtree_anchor_timestamp"), "inner"))
  }
}
