package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{Closed, EventBounds, TemporalBounds}

/** Event-bound aggregation: for every row, sum all predicate columns from
  * that row (± a fixed offset) to the nearest prior/next row of the same
  * subject where a boolean boundary expression holds.
  *
  * Semantics ported from the reference's `boolean_expr_bound_sum`
  * (reference: src/aces/aggregate.py:479-1126; truth table :523-541; public
  * wrapper `aggregate_event_bound_window` :318-476). Where the prose truth
  * table and the executable doctests disagree (boundary rows under
  * closed=left / closed=right), we match the executable doctests
  * (aggregate.py:600-962).
  *
  * Spark-first execution (no UDAF, all codegen-friendly built-ins):
  *   1. per-subject running cumulative sums (window over `subject_id`);
  *   2. resolve each row's bound timestamp with a *range-frame* min/max
  *      over the boundary rows' timestamps — the reference's ±1 µs phantom
  *      trick (aggregate.py:1012-1017) reduces exactly to the frame bound
  *      `b ≤/< t + offset` (backward: `b ≥/> t + offset`), so no phantom
  *      rows, no union, no re-sort;
  *   3. fetch the bound row's (adjusted) cumsums with a co-partitioned
  *      equi-join on (subject_id, bound_ts) against the boundary rows;
  *   4. per-row result = cumsum difference ± own-row counts per `closed`;
  *   5. non-zero offset: correct with the frame sums over the offset span,
  *      computed as extra window columns of step 1's pass.
  *
  * Everything — both windows, both joins — reuses the single hash
  * partitioning on `subject_id`; the operator adds NO shuffle beyond the
  * one the canonical frame already carries. (The reference-shaped
  * phantom-union formulation costs one extra full shuffle because the
  * union discards partitioning before the fill windows.)
  */
object EventBoundAgg {

  private val TsUs = TemporalWindowAgg.TsUs

  def apply(df: DataFrame, bounds: EventBounds): DataFrame =
    boolExprBoundSum(df, bounds.boundaryExpr, bounds.mode, bounds.closed, bounds.offsetMicros)

  /** The closed-endpoint and offset rules of one event-bound window
    * (reference: aggregate.py:969-1050), shared with the window-tree
    * kernel [[graft.plans.WindowTree]].
    */
  final case class Rules(boundToRow: Boolean, closed: Closed.Value, offsetUs: Long) {
    private val left = closed == Closed.Left || closed == Closed.Both
    private val right = closed == Closed.Right || closed == Closed.Both

    /** A boundary row exactly at row + offset may be the bound. */
    val includeEq: Boolean = if (boundToRow) left else right

    /** The bound row's own counts are left out of the window. */
    val subtractOwnAtBoundary: Boolean = if (boundToRow) left else !right

    /** The row's own counts are left out of the cumsum difference. */
    val adjustOwn: Boolean =
      (offsetUs <= 0 && (if (boundToRow) !right else left)) || offsetUs < 0

    /** Inclusive µs frame around the row whose counts correct a non-zero
      * offset, added when [[addOffsetPeriod]], else subtracted.
      */
    val offsetFrame: Option[(Long, Long)] =
      if (offsetUs == 0L) None
      else if (offsetUs > 0)
        Some(TemporalBounds(false, offsetUs, if (boundToRow) right else !left).inclusiveFrame)
      else Some(TemporalBounds(if (boundToRow) !right else left, offsetUs, false).inclusiveFrame)

    val addOffsetPeriod: Boolean = boundToRow == (offsetUs > 0)
  }

  /** @param mode `"bound_to_row"` (bound precedes row) or `"row_to_bound"`. */
  def boolExprBoundSum(
      df: DataFrame,
      boundaryExpr: Column,
      mode: String,
      closed: Closed.Value,
      offsetUs: Long = 0L
  ): DataFrame = {
    require(mode == "bound_to_row" || mode == "row_to_bound", s"Mode '$mode' invalid!")
    // `__`-prefixed columns are engine internals, never predicates.
    val predCols =
      df.columns.filterNot(c => c == "subject_id" || c == "timestamp" || c.startsWith("__")).toSeq
    val rules = Rules(mode == "bound_to_row", closed, offsetUs)
    import rules.{addOffsetPeriod, adjustOwn, boundToRow, includeEq, offsetFrame, subtractOwnAtBoundary}

    // 1. Per-subject cumulative sums (reference: aggregate.py:997-1000).
    val withTs =
      if (df.columns.contains(TsUs)) df
      else df.withColumn(TsUs, unix_micros(col("timestamp")))
    val wCum = Window
      .partitionBy("subject_id")
      .orderBy(TsUs)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Offset-correction sums (reference: aggregate.py:969-995), FUSED into
    // this pass as window columns instead of a separate
    // [[TemporalWindowAgg]] pass + (subject_id, timestamp) join: the
    // [[TemporalWindowAgg.frameSums]] difference of prefix sums shares this
    // select's (partitionBy, orderBy), so it evaluates in the same
    // WindowExec pass group, with no extra shuffle, sort or join.
    val offCols: Seq[Column] = offsetFrame.toSeq.flatMap { case (lo, hi) =>
      TemporalWindowAgg.frameSums(predCols, lo, hi, c => s"__off_$c")
    }
    val withCum = withTs
      .withColumn("__is_boundary", boundaryExpr)
      .select(
        Seq(col("subject_id"), col("timestamp"), col(TsUs), col("__is_boundary")) ++
          predCols.map(col) ++
          predCols.map(c => sum(col(c)).over(wCum).as(s"__cum_$c")) ++
          offCols: _*
      )

    // 2. Bound timestamp per row. The reference's phantom shift (−1 µs for
    // bound_to_row left/both, +1 µs for right/none; mirrored for
    // row_to_bound, aggregate.py:1012-1036) is exactly the frame-endpoint
    // inclusivity below.
    val boundMarker = when(col("__is_boundary"), col(TsUs))
    // Both directions use GROWING (unboundedPreceding → moving bound)
    // frames, which Spark evaluates incrementally in O(n) per partition.
    // The forward lookup is naturally growing; the backward lookup
    // (`min marker over [t+a, ∞)`) is expressed over a DESCENDING ordering
    // — under desc, rangeBetween's bound arithmetic flips sign, so the
    // frame `(unboundedPreceding, -a)` is exactly `ts ≥ t + a`. The naive
    // `(a, unboundedFollowing)` ascending frame re-aggregates the whole
    // remaining partition per row — O(n²) on a heavy-hitter subject.
    val wBound =
      if (boundToRow)
        Window.partitionBy("subject_id").orderBy(TsUs)
          .rangeBetween(Window.unboundedPreceding, if (includeEq) offsetUs else offsetUs - 1)
      else
        Window.partitionBy("subject_id").orderBy(col(TsUs).desc)
          .rangeBetween(Window.unboundedPreceding, -(if (includeEq) offsetUs else offsetUs + 1))
    val boundAgg = if (boundToRow) max(boundMarker) else min(boundMarker)

    val withBound = withCum.withColumn("__bound_ts_us", boundAgg.over(wBound))

    // 3. Boundary rows' cumsums, adjusted to include/exclude the boundary
    // event per closed (reference: aggregate.py:1002-1010).
    val boundaries = withCum
      .filter(col("__is_boundary"))
      .select(
        Seq(col("subject_id"), col(TsUs).as("__bound_ts_us")) ++
          predCols.map { c =>
            val base = col(s"__cum_$c")
            (if (subtractOwnAtBoundary) base - col(c) else base).as(s"__bcum_$c")
          }: _*
      )

    val joined = withBound.join(boundaries, Seq("subject_id", "__bound_ts_us"), "left")

    // 4. Cumsum differences ± own-row counts (reference: :1020-1050).
    val sumCols = predCols.map { c =>
      val diff =
        if (boundToRow) col(s"__cum_$c") - col(s"__bcum_$c")
        else col(s"__bcum_$c") - col(s"__cum_$c")
      val adj =
        if (!adjustOwn) diff
        else if (boundToRow) diff - col(c)
        else diff + col(c)
      adj.as(s"__sum_$c")
    }

    val boundTs = timestamp_micros(col("__bound_ts_us"))
    val rowPlusOffset = timestamp_micros(col(TsUs) + lit(offsetUs))
    val (startTs, endTs) =
      if (boundToRow) (boundTs, when(col("__bound_ts_us").isNotNull, rowPlusOffset))
      else (when(col("__bound_ts_us").isNotNull, rowPlusOffset), boundTs)

    val resolved = joined.select(
      Seq(
        col("subject_id"),
        col("timestamp"),
        startTs.as("timestamp_at_start"),
        endTs.as("timestamp_at_end")
      ) ++ sumCols ++ offsetFrame.toSeq.flatMap(_ =>
        predCols.map(c => col(s"__off_$c"))): _*
    )

    offsetFrame match {
      case None =>
        resolved.select(
          Seq(col("subject_id"), col("timestamp"), col("timestamp_at_start"),
            col("timestamp_at_end")) ++
            predCols.map(c => coalesce(col(s"__sum_$c"), lit(0L)).cast("long").as(c)): _*
        )
      case Some(_) =>
        // 5. Offset-span correction (reference: :1094-1126) — the
        // `__off_*` window columns computed up in `withCum` rode the
        // boundary join here, so the former correction join (and its
        // whole separate TemporalWindowAgg frame pass) is gone.
        resolved.select(
          Seq(col("subject_id"), col("timestamp"), col("timestamp_at_start"),
            col("timestamp_at_end")) ++
            predCols.map { c =>
              val combined =
                if (addOffsetPeriod) col(s"__sum_$c") + col(s"__off_$c")
                else col(s"__sum_$c") - col(s"__off_$c")
              coalesce(combined, lit(0L)).cast("long").as(c)
            }: _*
        )
    }
  }
}
