package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.functions.col

/** Floor a frame's parallelism at the session's default parallelism —
  * scale-adaptively, never as a constant: a tiny local input (one small
  * parquet file packs into 1-2 scan splits under
  * `spark.sql.files.openCostInBytes`) would otherwise serialize every
  * downstream per-row computation onto one or two cores, while a
  * corpus-scale scan already has orders of magnitude more splits than
  * cores and must NOT pay an extra exchange.
  *
  * Scan-level inputs only: the guard reads the frame's analyzed plan,
  * which exists once the frame is built, and floors only a plan whose
  * every node is a leaf relation, a `Project` or a `Filter`, with no
  * subquery. For such a plan `.rdd.getNumPartitions` builds an RDD and
  * runs no job. Any other plan (an aggregate, a join, an exchange) comes
  * back unchanged and unplanned. The repartition, when it fires,
  * hashes on `key` — a plain hash exchange, no round-robin pre-sort,
  * deterministic row placement.
  *
  * `key` should be high-cardinality under the ACTUAL data: hashing a
  * payload column collides for duplicate-heavy corpora (every identical
  * text lands on one partition — the serialization this floor exists to
  * prevent); prefer an id, or a per-row expression when no id rides the
  * frame.
  */
object ParallelFloor {

  def apply(df: DataFrame, keyCol: String = "id"): DataFrame =
    apply(df, col(keyCol))

  def apply(df: DataFrame, key: Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (!scanLevel(df.queryExecution.analyzed)) df
    else if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, key)
  }

  private def scanLevel(plan: LogicalPlan): Boolean = !plan.exists {
    case n @ (_: LeafNode | _: Project | _: Filter) =>
      n.expressions.exists(SubqueryExpression.hasSubquery)
    case _ => true
  }
}
