package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Codegen'd float-vector dot product: `sum_i (double)a[i] * (double)b[i]`,
  * strictly sequential — the same fold order as DuckDB's `list_sum` over
  * `list_transform`, so results are bit-identical to the SQL oracle.
  *
  * This replaces the `aggregate(zip_with(...))` higher-order-function
  * formulation, which Spark evaluates through interpreted lambda calls
  * and an intermediate array per row-pair: on an all-pairs similarity
  * join that's the entire runtime. Here the whole product is one fused
  * primitive loop inside whole-stage codegen.
  *
  * CONTRACT: mismatched lengths fold over the SHORTER vector (the tail
  * of the longer one contributes 0). Deliberate, and load-bearing for
  * hyperplane LSH, whose max-width planes project narrower vectors this
  * way; callers needing equal dims must validate upstream.
  *
  * A NULL ELEMENT inside either folded range makes the result NULL —
  * the `aggregate(zip_with(...))` form this replaces propagates null
  * the same way, and silently reading the element as 0 (ArrayData's
  * primitive-getter convention) would corrupt scores with no error.
  */
case class DotProductF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean =
    left.nullable || right.nullable || elementsNullable
  private def elementsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  })
  // Deterministic pure function of the inputs → participates in
  // Catalyst constant folding when both sides are literals.
  override def foldable: Boolean = left.foldable && right.foldable
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_f expects array<float> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |if (!${ev.isNull}) { ${ev.value} = $s; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_f"
}

/** Codegen'd integer-vector dot product: `sum_i a[i] * b[i]` over
  * `array<long>`, exact 64-bit arithmetic — the scoring primitive for
  * int8-quantized similarity search ([[graft.operators.Quantize]]),
  * where |a[i]| <= 127 keeps the sum overflow-free up to d ~ 5.7e14.
  * Same mismatched-length contract as [[DotProductF]] (fold over the
  * shorter vector) and same null-element contract (NULL result, never
  * a silent 0 read); same motivation: the higher-order-function
  * formulation pays interpreted lambda calls plus an intermediate
  * array per row-pair, which IS the runtime of a brute-force scorer.
  */
case class DotProductL(left: Expression, right: Expression)
    extends BinaryExpression {
  import org.apache.spark.sql.types.LongType

  override def dataType: DataType = LongType
  override def nullable: Boolean =
    left.nullable || right.nullable || elementsNullable
  private def elementsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  })
  override def foldable: Boolean = left.foldable && right.foldable
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_l expects array<bigint> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |if (!${ev.isNull}) { ${ev.value} = $s; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_l"
}

/** Codegen'd float-vector squared L2 distance:
  * `sum_i (double)((a[i] − b[i]) · (a[i] − b[i]))` with the difference
  * AND the square both rounded to float32 before widening — the exact
  * arithmetic of [[graft.operators.Ivf.nearest]] (`val t = cv(i) − v(i);
  * d += t * t` over Float arrays) and of the SQL oracles' replay
  * (`CAST(CAST(CAST(a[i]−b[i] AS REAL) · … AS REAL) AS DOUBLE)`), so a
  * distance computed through this expression is bit-identical to both
  * the k-means trainer's assignment metric and the DuckDB twin.
  * Sequential left fold like [[DotProductF]]; same shorter-vector and
  * null-element contracts, same motivation (the `aggregate(zip_with)`
  * HOF form evaluates interpreted per element — the q51b lesson).
  */
case class SqDistF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean =
    left.nullable || right.nullable || elementsNullable
  private def elementsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  })
  override def foldable: Boolean = left.foldable && right.foldable
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sqdist_f expects array<float> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val t = x.getFloat(i) - y.getFloat(i)
      s += (t * t).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val t = ctx.freshName("t")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  float $t = $a.getFloat($i) - $b.getFloat($i);
         |  $s += (double) ($t * $t);
         |}
         |if (!${ev.isNull}) { ${ev.value} = $s; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sqdist_f"
}

/** Codegen'd per-vector symmetric int8 quantization:
  * `mx = max_i |(double) v[i]|`, then `codes[i] = clamp(floor(v[i] *
  * 127 / mx + 0.5), -127, 127)` (all zeros when mx = 0) — two fused
  * O(d) passes over the array.
  *
  * Exists because the Column-combinator spelling
  * (`transform(v, x -> ... array_max(transform(v, abs)) ...)`) embeds
  * the max INSIDE the per-element lambda, and Catalyst does not hoist
  * lambda-invariant subexpressions out of higher-order functions: that
  * form re-computes an O(d) max (building a fresh abs array) for every
  * element — O(d²) work and O(d) allocations per element, which at
  * d=1024 costs ~2000 redundant array scans per vector and dwarfs the
  * byte savings quantization exists to deliver.
  *
  * Rounding is explicit floor(x + 0.5) so an external oracle reproduces
  * the codes without engine round-half-to-even defaults. A NULL element
  * makes the whole result NULL (same contract as [[DotProductF]]): the
  * output type declares containsNull = false, so the only sound
  * alternatives are a silent 0-read or an error — null-out is loud
  * enough downstream (quantized scores go null) without failing jobs
  * over one bad row.
  */
case class Int8CodesExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.LongType

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable || (child.dataType match {
    case ArrayType(_, n) => n
    case _ => false
  })
  override def foldable: Boolean = child.foldable
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"quantize_i8 expects array<float> input, got $other")
    }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var mx = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      val v = math.abs(x.getFloat(i).toDouble)
      if (v > mx) mx = v
      i += 1
    }
    val out = new Array[Long](n)
    if (mx != 0.0) {
      i = 0
      while (i < n) {
        val q = math.floor(x.getFloat(i).toDouble * 127.0 / mx + 0.5).toLong
        out(i) = math.max(-127L, math.min(127L, q))
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val mx = ctx.freshName("mx")
      val v = ctx.freshName("v")
      val q = ctx.freshName("q")
      val arr = ctx.freshName("arr")
      s"""
         |int $n = $a.numElements();
         |double $mx = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $v = java.lang.Math.abs((double) $a.getFloat($i));
         |  if ($v > $mx) $mx = $v;
         |}
         |if (!${ev.isNull}) {
         |  long[] $arr = new long[$n];
         |  if ($mx != 0.0) {
         |    for (int $i = 0; $i < $n; $i++) {
         |      long $q = (long) java.lang.Math.floor(((double) $a.getFloat($i)) * 127.0 / $mx + 0.5);
         |      $arr[$i] = java.lang.Math.max(-127L, java.lang.Math.min(127L, $q));
         |    }
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($arr);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "quantize_i8"
}

object VectorFunctions {
  import org.apache.spark.sql.GraftSqlBridge

  /** Dot product of two `array<float>` columns as double. */
  def dot_f(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotProductF(GraftSqlBridge.expression(a),
      GraftSqlBridge.expression(b)))

  /** L2 norm of an `array<float>` column. */
  def norm_f(a: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    sqrt(dot_f(a, a))
  }

  /** Exact integer dot product of two `array<long>` columns. */
  def dot_l(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotProductL(GraftSqlBridge.expression(a),
      GraftSqlBridge.expression(b)))

  /** Squared L2 distance of two `array<float>` columns as double —
    * bit-identical to `Ivf.nearest`'s assignment metric.
    */
  def sqdist_f(a: Column, b: Column): Column =
    GraftSqlBridge.column(SqDistF(GraftSqlBridge.expression(a),
      GraftSqlBridge.expression(b)))

  /** Per-vector symmetric int8 codes of an `array<float>` column. */
  def quantize_i8(v: Column): Column =
    GraftSqlBridge.column(Int8CodesExpr(GraftSqlBridge.expression(v)))
}
