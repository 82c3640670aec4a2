package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ExpressionColumns.{column, expression}
import org.apache.spark.sql.types._

/** Dot product of two `array<float|double>` vectors as ONE native
  * expression — the arithmetic behind
  * [[graft.similarity.Similarity.dot]], `norm` and `cosine`. Spark
  * evaluates higher-order functions (`zip_with`, `aggregate`,
  * `transform`) interpreted, one lambda call per element; this kernel
  * is a flat loop called from the generated code.
  *
  * Arithmetic is BIT-IDENTICAL to
  * `aggregate(zip_with(a, b, (x, y) -> double(x) * double(y)), 0D,
  * (acc, p) -> acc + p)` (spec-asserted, VectorExprsSpec): a
  * sequential left-fold in array order from 0.0, so the IEEE operation
  * sequence — and every rounded similarity downstream — is unchanged.
  *
  * Null semantics mirror that HOF: a NULL vector, a NULL element, or
  * vectors of different lengths (`zip_with` pads the shorter side with
  * NULLs, which poison the fold) give NULL; two empty vectors give
  * 0.0. */
case class VecDotExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprs.checkVector("vec_dot", left.dataType)
      .orElse(VectorExprs.checkVector("vec_dot", right.dataType))
      .getOrElse(TypeCheckResult.TypeCheckSuccess)

  @transient private lazy val leftIsFloat = VectorExprs.isFloat(left)
  @transient private lazy val rightIsFloat = VectorExprs.isFloat(right)

  /** Per-row kernel; called from both eval and the generated code.
    * Returns null for SQL NULL. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += VectorExprs.elem(a, i, leftIsFloat) *
        VectorExprs.elem(b, i, rightIsFloat)
      i += 1
    }
    acc
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vecDot", this, classOf[VecDotExpr].getName)
    val r = ctx.freshName("dot")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
        java.lang.Double $r = $ref.compute($a, $b);
        if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
      """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot"
}

/** Unit-normalised `array<double>` of an `array<float|double>` vector
  * as ONE native expression: `n = sqrt(sum of x*x)` folded in array
  * order, then `x / n` per element — the projection behind every
  * cosine ranking in [[graft.similarity.Similarity]].
  *
  * BIT-IDENTICAL to `n = sqrt(vec_dot(v, v))` followed by
  * `CASE WHEN n = 0 OR n IS NULL THEN NULL ELSE transform(v, x ->
  * double(x) / n) END` (spec-asserted, VectorExprsSpec). Null
  * semantics follow that formulation: a NULL vector, a NULL element, a
  * zero vector or an empty vector give NULL (cosine is undefined); a
  * NaN norm is not zero, so it gives a vector of NaN. The result never
  * holds a NULL element. */
case class UnitVecExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    VectorExprs.checkVector("unit_vec", child.dataType)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)

  @transient private lazy val elemIsFloat = VectorExprs.isFloat(child)

  /** Per-row kernel; called from both eval and the generated code.
    * Returns null for SQL NULL. */
  def compute(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val x = new Array[Double](n)
    var ss = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val xi = VectorExprs.elem(v, i, elemIsFloat)
      x(i) = xi
      ss += xi * xi
      i += 1
    }
    val norm = math.sqrt(ss)
    if (norm == 0.0) return null
    i = 0
    while (i < n) { x(i) = x(i) / norm; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(x)
  }

  override protected def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unitVec", this, classOf[UnitVecExpr].getName)
    val c = child.genCode(ctx)
    val code =
      code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          ${c.isNull} ? null : $ref.compute(${c.value});
        boolean ${ev.isNull} = ${ev.value} == null;
      """
    ev.copy(code = code)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "unit_vec"
}

object VectorExprs {

  private[plans] def checkVector(fn: String,
      dt: DataType): Option[TypeCheckResult] = dt match {
    case ArrayType(FloatType | DoubleType, _) => None
    case other => Some(TypeCheckResult.TypeCheckFailure(
      s"$fn expects array<float|double>, got $other"))
  }

  private[plans] def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Element `i` widened to double — the `CAST(x AS DOUBLE)` of the
    * HOF formulation (float to double is exact). */
  @inline private[plans] def elem(v: ArrayData, i: Int,
      isFloat: Boolean): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)

  /** SQL registration: `SELECT vec_dot(a, b), unit_vec(v)`. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("vec_dot",
      exprs => VecDotExpr(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction("unit_vec",
      exprs => UnitVecExpr(exprs(0)), "scala_udf")
  }

  /** Column-level entry points. These wrap the expression directly
    * rather than going through `register` + `call_function`: the
    * [[graft.similarity.Similarity]] vector functions they back take
    * no session, and registering on `SparkSession.active` would miss
    * a frame built in any other session. Both routes build the same
    * expression tree. */
  def vecDot(a: Column, b: Column): Column =
    column(VecDotExpr(expression(a), expression(b)))

  def unitVec(v: Column): Column = column(UnitVecExpr(expression(v)))
}
