package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding-vector math.
  *
  * Spark evaluates higher-order array lambdas (`zip_with` + `aggregate`)
  * INTERPRETED, one function call per element — at 768-dim × billions of
  * candidate pairs that is the hot path of every similarity/near-dup
  * operator. This binary expression generates a tight fused Java loop
  * inside whole-stage codegen instead (the preference order for custom
  * ops: compose built-ins < native codegen Expression < UDF).
  *
  * Lives under `org.apache.spark.sql` because the expression-authoring
  * surface (`AbstractDataType`, `ExpressionUtils.column`) is
  * `private[sql]` — the standard extension-library arrangement; no Spark
  * code is modified or shadowed.
  *
  * Math is pure double (products included), matching what DuckDB computes
  * for `list_cosine_similarity(CAST(... AS DOUBLE[]))` — the oracle
  * harness's formulation.
  */
case class FloatVectorCosine(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_vector_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // Fresh names: with non-nullable inputs nullSafeCodeGen inlines this
      // block unbraced, so two cosine expressions in one codegen scope would
      // otherwise declare duplicate Java locals and break Janino compilation.
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
      |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
      |double $dot = 0.0, $na = 0.0, $nb = 0.0;
      |for (int $i = 0; $i < $n; $i++) {
      |  double $x = (double) $a.getFloat($i);
      |  double $y = (double) $b.getFloat($i);
      |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
      |}
      |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
      |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorCosine =
    copy(left = newLeft, right = newRight)
}

/** Squared Euclidean distance of two `array<float>` columns — the
  * product-quantization codeword-assignment metric. Same design notes as
  * [[FloatVectorCosine]].
  */
case class FloatVectorL2Sq(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_vector_l2sq"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      s += d * d; i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
      |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
      |double $s = 0.0;
      |for (int $i = 0; $i < $n; $i++) {
      |  double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
      |  $s += $d * $d;
      |}
      |${ev.value} = $s;
      |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorL2Sq =
    copy(left = newLeft, right = newRight)
}

/** Dot product of two `array<float>` columns (double accumulation) — the
  * asymmetric-distance table builder for PQ. Same design notes as
  * [[FloatVectorCosine]].
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_vector_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
      |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
      |double $s = 0.0;
      |for (int $i = 0; $i < $n; $i++) {
      |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
      |}
      |${ev.value} = $s;
      |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorDot =
    copy(left = newLeft, right = newRight)
}

/** The PQ ADC hot-path in ONE codegen'd loop: score = Σᵢ
  * tab[offsets(i) + codes(i)] over the packed byte codes — `m` array
  * lookups per candidate pair with zero per-subspace expression
  * overhead (the previous formulation chained m `element_at` calls).
  * `offsets` are the flattened per-subspace table offsets (a compile-time
  * constant of the codebook layout, not a column). Unsigned byte
  * semantics: code 255 = codeword 255, so ks=256 round-trips.
  */
case class PqAdcScoreBytes(left: Expression, right: Expression, offsets: Seq[Int])
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_score_bytes"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[Array[Byte]]
    val tab = b.asInstanceOf[ArrayData]
    val m = math.min(codes.length, offsets.length)
    var s = 0.0; var i = 0
    while (i < m) { s += tab.getDouble(offsets(i) + (codes(i) & 0xff)); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val off = ctx.addReferenceObj("pqOffsets", offsets.toArray, "int[]")
      val m = ctx.freshName("m")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
      |int $m = java.lang.Math.min($a.length, $off.length);
      |double $s = 0.0;
      |for (int $i = 0; $i < $m; $i++) {
      |  $s += $b.getDouble($off[$i] + ($a[$i] & 0xff));
      |}
      |${ev.value} = $s;
      |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcScoreBytes =
    copy(left = newLeft, right = newRight)
}

/** Arg-max-cosine candidate id: given a vector and an array of
  * `(cid, cv)` structs, return the cid of the max-cosine candidate,
  * ties broken by ascending cid — ONE fused codegen loop replacing the
  * interpreted `transform(struct…) + array_sort(comparator) +
  * element_at(…, 1)` chain, which allocates a struct per candidate per
  * row and full-sorts them just to read the head (measured as the Lloyd
  * assignment's dominant CPU at scale). Selection semantics are exactly
  * the former comparator's (csim desc, cid asc; candidate order
  * irrelevant); the cosine arithmetic is [[FloatVectorCosine]]'s
  * verbatim. A NaN cosine (a zero-norm or NaN-component vector) ranks
  * below every number, NaNs tied. Empty candidate arrays yield NULL (as
  * `element_at(…, 1)` did).
  */
case class FloatVectorCosArgMaxCid(left: Expression, right: Expression)
    extends BinaryExpression {

  // cid keeps the candidate struct's own field type (dense codebook ids
  // are int; coarse-centroid ids are the corpus's long vec ids).
  private lazy val cidIsLong: Boolean = right.dataType match {
    case ArrayType(st: StructType, _) => st.fields(0).dataType == LongType
    case _ => false
  }
  override def dataType: DataType = if (cidIsLong) LongType else IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "float_vector_cos_argmax_cid"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val cands = b.asInstanceOf[ArrayData]
    val n = cands.numElements()
    if (n == 0) return null
    var bestCid = 0L
    var bestSim = 0.0
    var k = 0
    while (k < n) {
      val row = cands.getStruct(k, 2)
      val cid = if (cidIsLong) row.getLong(0) else row.getInt(0).toLong
      val cv = row.getArray(1)
      val m = math.min(v.numElements(), cv.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < m) {
        val xv = v.getFloat(i).toDouble
        val yv = cv.getFloat(i).toDouble
        dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
      }
      val cos = dot / (math.sqrt(na) * math.sqrt(nb))
      val sim = if (cos.isNaN) Double.NegativeInfinity else cos // NaN scores worst
      if (k == 0 || sim > bestSim || (sim == bestSim && cid < bestCid)) {
        bestSim = sim; bestCid = cid
      }
      k += 1
    }
    if (cidIsLong) bestCid else bestCid.toInt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val k = ctx.freshName("k")
      val row = ctx.freshName("row")
      val cid = ctx.freshName("cid")
      val cv = ctx.freshName("cv")
      val m = ctx.freshName("m")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val sim = ctx.freshName("sim")
      val bestCid = ctx.freshName("bestCid")
      val bestSim = ctx.freshName("bestSim")
      val jt = if (cidIsLong) "long" else "int"
      val getter = if (cidIsLong) "getLong" else "getInt"
      s"""
      |int $n = $b.numElements();
      |if ($n == 0) { ${ev.isNull} = true; } else {
      |  $jt $bestCid = 0; double $bestSim = 0.0;
      |  for (int $k = 0; $k < $n; $k++) {
      |    org.apache.spark.sql.catalyst.InternalRow $row = $b.getStruct($k, 2);
      |    $jt $cid = $row.$getter(0);
      |    org.apache.spark.sql.catalyst.util.ArrayData $cv = $row.getArray(1);
      |    int $m = java.lang.Math.min($a.numElements(), $cv.numElements());
      |    double $dot = 0.0, $na = 0.0, $nb = 0.0;
      |    for (int $i = 0; $i < $m; $i++) {
      |      double $x = (double) $a.getFloat($i);
      |      double $y = (double) $cv.getFloat($i);
      |      $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
      |    }
      |    double $sim = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
      |    if ($sim != $sim) $sim = Double.NEGATIVE_INFINITY;
      |    if ($k == 0 || $sim > $bestSim || ($sim == $bestSim && $cid < $bestCid)) {
      |      $bestSim = $sim; $bestCid = $cid;
      |    }
      |  }
      |  ${ev.value} = $bestCid;
      |}
      |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorCosArgMaxCid =
    copy(left = newLeft, right = newRight)
}

/** Arg-min-squared-L2 candidate id — [[FloatVectorCosArgMaxCid]]'s PQ
  * twin (d asc, cid asc; the byDistAsc comparator's exact semantics),
  * with [[FloatVectorL2Sq]]'s arithmetic verbatim. A NaN distance ranks
  * worst, tied with +∞.
  */
case class FloatVectorL2ArgMinCid(left: Expression, right: Expression)
    extends BinaryExpression {

  private lazy val cidIsLong: Boolean = right.dataType match {
    case ArrayType(st: StructType, _) => st.fields(0).dataType == LongType
    case _ => false
  }
  override def dataType: DataType = if (cidIsLong) LongType else IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "float_vector_l2_argmin_cid"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val cands = b.asInstanceOf[ArrayData]
    val n = cands.numElements()
    if (n == 0) return null
    var bestCid = 0L
    var bestD = 0.0
    var k = 0
    while (k < n) {
      val row = cands.getStruct(k, 2)
      val cid = if (cidIsLong) row.getLong(0) else row.getInt(0).toLong
      val cv = row.getArray(1)
      val m = math.min(v.numElements(), cv.numElements())
      var s = 0.0; var i = 0
      while (i < m) {
        val d = v.getFloat(i).toDouble - cv.getFloat(i).toDouble
        s += d * d; i += 1
      }
      if (s.isNaN) s = Double.PositiveInfinity // NaN scores worst
      if (k == 0 || s < bestD || (s == bestD && cid < bestCid)) {
        bestD = s; bestCid = cid
      }
      k += 1
    }
    if (cidIsLong) bestCid else bestCid.toInt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val k = ctx.freshName("k")
      val row = ctx.freshName("row")
      val cid = ctx.freshName("cid")
      val cv = ctx.freshName("cv")
      val m = ctx.freshName("m")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val bestCid = ctx.freshName("bestCid")
      val bestD = ctx.freshName("bestD")
      val jt = if (cidIsLong) "long" else "int"
      val getter = if (cidIsLong) "getLong" else "getInt"
      s"""
      |int $n = $b.numElements();
      |if ($n == 0) { ${ev.isNull} = true; } else {
      |  $jt $bestCid = 0; double $bestD = 0.0;
      |  for (int $k = 0; $k < $n; $k++) {
      |    org.apache.spark.sql.catalyst.InternalRow $row = $b.getStruct($k, 2);
      |    $jt $cid = $row.$getter(0);
      |    org.apache.spark.sql.catalyst.util.ArrayData $cv = $row.getArray(1);
      |    int $m = java.lang.Math.min($a.numElements(), $cv.numElements());
      |    double $s = 0.0;
      |    for (int $i = 0; $i < $m; $i++) {
      |      double $d = (double) $a.getFloat($i) - (double) $cv.getFloat($i);
      |      $s += $d * $d;
      |    }
      |    if ($s != $s) $s = Double.POSITIVE_INFINITY;
      |    if ($k == 0 || $s < $bestD || ($s == $bestD && $cid < $bestCid)) {
      |      $bestD = $s; $bestCid = $cid;
      |    }
      |  }
      |  ${ev.value} = $bestCid;
      |}
      |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorL2ArgMinCid =
    copy(left = newLeft, right = newRight)
}

/** The WHOLE packed PQ encode in one codegen loop: for each subspace mi
  * (cbFlat sorted by (m, cid), delimited by the constant per-subspace
  * `offsets`/`sizes` of the codebook layout), find the L2-argmin
  * codeword of the vector's mi-th `sub`-wide slice and emit its cid as
  * one byte. Replaces, per row, m interpreted `filter(cb, …)` passes
  * over the full m·ks-element array plus m interpreted
  * transform+array_sort argmins (the index build's measured CPU).
  * Selection semantics per subspace are byDistAsc's (d asc, cid asc);
  * the slice arithmetic matches `l2sq(slice(v, mi·sub+1, sub), cv)` —
  * out-of-range positions simply end the loop, as a short slice did.
  */
case class PqEncodePackedBytes(
    left: Expression, right: Expression, sizes: Seq[Int], sub: Int)
    extends BinaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "pq_encode_packed_bytes"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val cb = b.asInstanceOf[ArrayData]
    val out = new Array[Byte](sizes.length)
    var base = 0
    var mi = 0
    while (mi < sizes.length) {
      val ks = sizes(mi)
      var bestCid = 0
      var bestD = 0.0
      var k = 0
      while (k < ks) {
        val row = cb.getStruct(base + k, 3)
        val cid = row.getInt(1)
        val cv = row.getArray(2)
        val start = mi * sub
        val m = math.min(math.max(0, v.numElements() - start), math.min(sub, cv.numElements()))
        var s = 0.0; var i = 0
        while (i < m) {
          val d = v.getFloat(start + i).toDouble - cv.getFloat(i).toDouble
          s += d * d; i += 1
        }
        if (k == 0 || s < bestD || (s == bestD && cid < bestCid)) {
          bestD = s; bestCid = cid
        }
        k += 1
      }
      out(mi) = (bestCid & 0xff).toByte
      base += ks
      mi += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val szs = ctx.addReferenceObj("pqSizes", sizes.toArray, "int[]")
      val out = ctx.freshName("out")
      val base = ctx.freshName("base")
      val mi = ctx.freshName("mi")
      val ks = ctx.freshName("ks")
      val k = ctx.freshName("k")
      val row = ctx.freshName("row")
      val cid = ctx.freshName("cid")
      val cv = ctx.freshName("cv")
      val start = ctx.freshName("start")
      val m = ctx.freshName("m")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val bestCid = ctx.freshName("bestCid")
      val bestD = ctx.freshName("bestD")
      s"""
      |byte[] $out = new byte[$szs.length];
      |int $base = 0;
      |for (int $mi = 0; $mi < $szs.length; $mi++) {
      |  int $ks = $szs[$mi];
      |  int $bestCid = 0; double $bestD = 0.0;
      |  for (int $k = 0; $k < $ks; $k++) {
      |    org.apache.spark.sql.catalyst.InternalRow $row = $b.getStruct($base + $k, 3);
      |    int $cid = $row.getInt(1);
      |    org.apache.spark.sql.catalyst.util.ArrayData $cv = $row.getArray(2);
      |    int $start = $mi * $sub;
      |    int $m = java.lang.Math.min(java.lang.Math.max(0, $a.numElements() - $start),
      |      java.lang.Math.min($sub, $cv.numElements()));
      |    double $s = 0.0;
      |    for (int $i = 0; $i < $m; $i++) {
      |      double $d = (double) $a.getFloat($start + $i) - (double) $cv.getFloat($i);
      |      $s += $d * $d;
      |    }
      |    if ($k == 0 || $s < $bestD || ($s == $bestD && $cid < $bestCid)) {
      |      $bestD = $s; $bestCid = $cid;
      |    }
      |  }
      |  $out[$mi] = (byte)($bestCid & 0xff);
      |  $base += $ks;
      |}
      |${ev.value} = $out;
      |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncodePackedBytes =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  /** Codegen'd cosine similarity of two `array<float>` columns. */
  def cosine(a: Column, b: Column): Column =
    ExpressionUtils.column(
      FloatVectorCosine(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Codegen'd squared L2 distance of two `array<float>` columns. */
  def l2sq(a: Column, b: Column): Column =
    ExpressionUtils.column(
      FloatVectorL2Sq(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Codegen'd dot product of two `array<float>` columns. */
  def dot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      FloatVectorDot(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Codegen'd PQ ADC score over packed byte codes and a flattened
    * per-query lookup table, with constant per-subspace offsets.
    */
  def pqAdcScore(codes: Column, tab: Column, offsets: Seq[Int]): Column =
    ExpressionUtils.column(PqAdcScoreBytes(
      ExpressionUtils.expression(codes), ExpressionUtils.expression(tab), offsets))

  /** Codegen'd max-cosine candidate id over an array of (cid, cv)
    * structs (ties: ascending cid).
    */
  def cosArgMaxCid(v: Column, cands: Column): Column =
    ExpressionUtils.column(FloatVectorCosArgMaxCid(
      ExpressionUtils.expression(v), ExpressionUtils.expression(cands)))

  /** Codegen'd min-squared-L2 candidate id over an array of (cid, cv)
    * structs (ties: ascending cid).
    */
  def l2ArgMinCid(v: Column, cands: Column): Column =
    ExpressionUtils.column(FloatVectorL2ArgMinCid(
      ExpressionUtils.expression(v), ExpressionUtils.expression(cands)))

  /** Codegen'd packed PQ encode of a normalized vector against the
    * (m, cid, cv)-sorted flat codebook array, with the layout's constant
    * per-subspace sizes and sub-dimension.
    */
  def pqEncodePacked(vn: Column, cbFlat: Column, sizes: Seq[Int], sub: Int): Column =
    ExpressionUtils.column(PqEncodePackedBytes(
      ExpressionUtils.expression(vn), ExpressionUtils.expression(cbFlat), sizes, sub))
}
