package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.graft.{FloatVectorCosArgMaxCid, FloatVectorL2ArgMinCid}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The arg-best candidate expressions rank a NaN score (zero-norm or
  * NaN-component vectors) worst, interpreted and in generated code alike.
  */
class VectorArgSpec extends AnyFunSuite {

  private val vector = BoundReference(0, ArrayType(FloatType), nullable = false)
  private val cands = BoundReference(1,
    ArrayType(StructType(Seq(StructField("cid", IntegerType), StructField("cv", ArrayType(FloatType))))),
    nullable = false)

  /** The chosen cid of `v` over `cs`: (interpreted, generated code). */
  private def pick(expr: Expression, v: Seq[Float], cs: Seq[(Int, Seq[Float])]): (Any, Any) = {
    val row = InternalRow(
      CatalystTypeConverters.convertToCatalyst(v),
      CatalystTypeConverters.convertToCatalyst(cs.map { case (c, cv) => Row(c, cv) }))
    (expr.eval(row), GenerateUnsafeProjection.generate(Seq(expr)).apply(row).getInt(0))
  }

  private val NaN = Float.NaN

  test("cosine arg-max: a NaN cosine never beats a number, NaNs tie to the lowest cid") {
    val argMax = FloatVectorCosArgMaxCid(vector, cands)
    // A zero-norm candidate first.
    assert(pick(argMax, Seq(1f, 0f), Seq(7 -> Seq(0f, 0f), 3 -> Seq(1f, 0f))) == ((3, 3)))
    // A NaN-component candidate first.
    assert(pick(argMax, Seq(1f, 0f), Seq(7 -> Seq(NaN, 1f), 9 -> Seq(0f, 1f))) == ((9, 9)))
    // A zero-norm query: every score is NaN.
    assert(pick(argMax, Seq(0f, 0f), Seq(7 -> Seq(1f, 0f), 3 -> Seq(0f, 1f))) == ((3, 3)))
  }

  test("L2 arg-min: a NaN distance never beats a number, NaNs tie to the lowest cid") {
    val argMin = FloatVectorL2ArgMinCid(vector, cands)
    // A NaN-component candidate first.
    assert(pick(argMin, Seq(1f, 0f), Seq(7 -> Seq(NaN, 0f), 9 -> Seq(5f, 5f))) == ((9, 9)))
    // A NaN-component query: every distance is NaN.
    assert(pick(argMin, Seq(NaN, 0f), Seq(7 -> Seq(1f, 0f), 3 -> Seq(0f, 1f))) == ((3, 3)))
  }
}
