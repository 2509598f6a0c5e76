package graft.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen expressions for the hot inner loops of the similarity
  * family (guide §1.2 step 2: per-task work — and §4: prefer codegen
  * expressions). Spark's higher-order functions (`zip_with`, `transform`,
  * `aggregate`) are CodegenFallback: inside an otherwise codegen'd stage
  * each call evaluates an interpreted expression tree per ELEMENT, with a
  * lambda-variable binding and boxed arithmetic per step. For a 64-dim
  * embedding that is ~192 interpreted node evaluations per dot product —
  * and the IVF assignment does nCells of them per row, the banded LSH
  * near-dup nTables×nBits of them. These expressions run the identical
  * arithmetic as a tight primitive loop in generated code (or in the
  * interpreted eval below, same order), so results are bit-identical:
  *
  *  - [[DotConst]]  ≡ aggregate(zip_with(vec, typedlit(w), x*y), 0.0, +):
  *    float element × double literal promotes to a DOUBLE multiply,
  *    accumulated left-to-right in a double.
  *  - [[DotCols]]   ≡ aggregate(zip_with(a, b, x*y), 0.0, +) with BOTH
  *    sides float: a FLOAT multiply, widened to double per element by the
  *    accumulating add (the float product is what the former Multiply
  *    (FloatType) produced — keeping it float is what keeps the totals
  *    bit-identical).
  *  - [[SumSq]]     ≡ aggregate(transform(a, x*x), 0.0, +): FLOAT square,
  *    widened per element by the double add.
  *
  * Null semantics mirror the HOF forms exactly: `zip_with` pads a length
  * mismatch with nulls and a null element nulls its product, either of
  * which poisons the running `acc + v` to null — so: length mismatch or
  * any null element (or a null array) → null. Empty arrays → 0.0 (the
  * fold's zero), as before.
  */
object VectorOps {

  private[spark] def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  /** The left element type alone picks a two-array kernel, so both sides
    * must be arrays of one float or double element type.
    */
  private[spark] def checkVectorPair(name: String, left: Expression, right: Expression): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(a, _), ArrayType(b, _)) if a == b && (a == FloatType || a == DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(s"$name needs two arrays of " +
        s"the same float or double element type, got ${a.catalogString} and ${b.catalogString}")
    }

  // ---- scalar kernels (called from generated code — keep public) ----

  /** Σ (double)a[i] * w[i] — double multiply (float/double element × double
    * literal array). Null (boxed) on length mismatch or null element.
    */
  def dotConstF(a: ArrayData, w: Array[Double]): java.lang.Double = {
    val n = w.length
    if (a.numElements() != n) return null
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * w(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  def dotConstD(a: ArrayData, w: Array[Double]): java.lang.Double = {
    val n = w.length
    if (a.numElements() != n) return null
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      acc += a.getDouble(i) * w(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Σ (double)(a[i] *float* b[i]) — FLOAT multiply then widen, exactly the
    * former Multiply(FloatType) + accumulate-cast.
    */
  def dotColsF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += (a.getFloat(i) * b.getFloat(i)).toDouble
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  def dotColsD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Σ round(a[i]·1000)·round(b[i]·1000) as wrapping long arithmetic —
    * exactly aggregate(zip_with(a, b, round(x.cast(double)*1000).cast(long)
    * * round(y...)), 0L, +). Spark's Round(double, 0) goes through
    * BigDecimal.valueOf(x).setScale(0, HALF_UP) (ties away from zero —
    * NOT Math.round, which rounds ties toward +∞), and the long cast
    * truncates; both are replicated verbatim so the totals are
    * bit-identical.
    *
    * Overflow wraps and an out-of-range double clamps on the long cast, as
    * the HOF form does with ANSI mode off; under ANSI mode the HOF form
    * raises CAST_OVERFLOW / ARITHMETIC_OVERFLOW instead, this kernel never
    * does. Neither occurs while |element| < ~3·10^6 and Σ products < 2^63.
    */
  def quantDotF(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val qa = java.math.BigDecimal.valueOf(a.getFloat(i).toDouble * 1000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
      val qb = java.math.BigDecimal.valueOf(b.getFloat(i).toDouble * 1000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
      acc += qa * qb
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  def quantDotD(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val qa = java.math.BigDecimal.valueOf(a.getDouble(i) * 1000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
      val qb = java.math.BigDecimal.valueOf(b.getDouble(i) * 1000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
      acc += qa * qb
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** Σ (double)(a[i] *float* a[i]) — FLOAT square then widen. */
  def sumSqF(a: ArrayData): java.lang.Double = {
    val n = a.numElements()
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      acc += (a.getFloat(i) * a.getFloat(i)).toDouble
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  def sumSqD(a: ArrayData): java.lang.Double = {
    val n = a.numElements()
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      acc += a.getDouble(i) * a.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  // ---- Column wrappers ----

  import org.apache.spark.sql.zenospark.Bridge

  def dotConst(vec: Column, w: Array[Double]): Column =
    Bridge.column(DotConst(Bridge.expression(vec), w))
  def dotCols(a: Column, b: Column): Column =
    Bridge.column(DotCols(Bridge.expression(a), Bridge.expression(b)))
  def quantDot(a: Column, b: Column): Column =
    Bridge.column(QuantDotCols(Bridge.expression(a), Bridge.expression(b)))
  def sumSq(a: Column): Column =
    Bridge.column(SumSq(Bridge.expression(a)))
}

/** Dot product of an array column against a constant double[] that rides
  * the codegen references array (never the source text — same plan-
  * parameter discipline as [[LongParam]]/[[DoubleParam]], so re-planning
  * with new weights reuses compiled classes).
  */
case class DotConst(child: Expression, weights: Array[Double])
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def isFloat = VectorOps.elemType(child) == FloatType

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (isFloat) VectorOps.dotConstF(a, weights) else VectorOps.dotConstD(a, weights)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wref = ctx.addReferenceObj("weights", weights, "double[]")
    val fn = if (isFloat) "dotConstF" else "dotConstD"
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("dot")
      s"""
         |java.lang.Double $r = graft.spark.VectorOps.$fn($c, $wref);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): DotConst =
    copy(child = newChild)
}

/** Dot product of two array columns of the same element type (float
  * arrays keep the former per-element FLOAT multiply).
  */
case class DotCols(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def isFloat = VectorOps.elemType(left) == FloatType

  override def checkInputDataTypes(): TypeCheckResult =
    VectorOps.checkVectorPair("DotCols", left, right)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (isFloat) VectorOps.dotColsF(x, y) else VectorOps.dotColsD(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isFloat) "dotColsF" else "dotColsD"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("dot")
      s"""
         |java.lang.Double $r = graft.spark.VectorOps.$fn($a, $b);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotCols =
    copy(left = newLeft, right = newRight)
}

/** ×1000-quantized integer dot product of two array columns — the
  * bit-exact cross-engine scorer (see VectorOps.quantDotF for the exact
  * Round/Cast replication).
  */
case class QuantDotCols(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true

  private def isFloat = VectorOps.elemType(left) == FloatType

  override def checkInputDataTypes(): TypeCheckResult =
    VectorOps.checkVectorPair("QuantDotCols", left, right)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (isFloat) VectorOps.quantDotF(x, y) else VectorOps.quantDotD(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isFloat) "quantDotF" else "quantDotD"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("qdot")
      s"""
         |java.lang.Long $r = graft.spark.VectorOps.$fn($a, $b);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantDotCols =
    copy(left = newLeft, right = newRight)
}

/** Sum of squares of an array column (float arrays keep the former
  * per-element FLOAT square). sqrt(SumSq) ≡ the former norm().
  */
case class SumSq(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def isFloat = VectorOps.elemType(child) == FloatType

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (isFloat) VectorOps.sumSqF(a) else VectorOps.sumSqD(a)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isFloat) "sumSqF" else "sumSqD"
    nullSafeCodeGen(ctx, ev, c => {
      val r = ctx.freshName("ss")
      s"""
         |java.lang.Double $r = graft.spark.VectorOps.$fn($c);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SumSq =
    copy(child = newChild)
}
