package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.EventBounds

/** Count-range constraint filtering and static-demographics filtering.
  * (reference: src/aces/constraints.py)
  */
object Constraints {

  /** Inclusive count-range constraint: `(minInclusive, maxInclusive)`,
    * either end open when None. (reference: constraints.py:12-119)
    */
  type Range = (Option[Long], Option[Long])

  /** Keep only rows whose predicate counts satisfy every constraint.
    * The `"*"` key aliases the `_ANY_EVENT` column (constraints.py:103-104).
    */
  def checkConstraints(constraints: Map[String, Range], df: DataFrame): DataFrame = {
    if (constraints.isEmpty) return df
    val dropExprs = resolve(constraints).map { case (name, (minInc, maxInc)) =>
      val drops = minInc.map(mn => col(name) < mn).toSeq ++ maxInc.map(mx => col(name) > mx)
      drops.reduce(_ || _)
    }
    df.filter(!dropExprs.reduce(_ || _))
  }

  /** The constraints keyed by the column they read (`"*"` → `_ANY_EVENT`),
    * after rejecting empty or inverted ranges.
    */
  def resolve(constraints: Map[String, Range]): Seq[(String, Range)] =
    constraints.toSeq.map { case (name, range @ (minInc, maxInc)) =>
      if ((minInc.isEmpty && maxInc.isEmpty) || minInc.exists(mn => maxInc.exists(_ < mn)))
        throw new IllegalArgumentException(
          s"Invalid constraint for '$name': ${minInc.orNull} - ${maxInc.orNull}")
      (if (name == "*") EventBounds.AnyEvent else name) -> range
    }

  /** Keep only subjects having a null-timestamp (static) row with a positive
    * count for every listed demographic predicate; then drop static rows and
    * the demographic columns. (reference: constraints.py:122-185)
    */
  def checkStaticVariables(demographics: Seq[String], df: DataFrame): DataFrame = {
    val missing = demographics.filterNot(df.columns.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"Static predicate '${missing.head}' not found in the predicates dataframe.")
    val wSubj = Window.partitionBy("subject_id")
    val keep = demographics
      .map { d =>
        max(when(col("timestamp").isNull && col(d) > 0, 1).otherwise(0)).over(wSubj) === 1
      }
      .reduce(_ && _)
    df.withColumn("__keep", keep)
      .filter(col("__keep") && col("timestamp").isNotNull)
      .drop("__keep")
      .drop(demographics: _*)
  }
}
