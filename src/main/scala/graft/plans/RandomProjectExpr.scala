package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Johnson–Lindenstrauss random projection as ONE native expression —
  * the kernel behind [[graft.similarity.Similarity.randomProjection]].
  * The sign matrix lives in the EXPRESSION OBJECT, which executors
  * receive once per stage via the broadcast task binary, so the plan
  * text stays O(1) in dIn*dOut (an inlined coefficient literal would
  * be serialized into every plan copy and walked by every optimizer
  * rule).
  *
  * Arithmetic: for each output j, a sequential left-fold over i
  * ascending of `acc + sign(i, j) * toDouble(v[i])` from 0.0 — the
  * IEEE op sequence of the SQL formulation
  * `transform(sequence(0, dOut-1), j -> aggregate(sequence(0, dIn-1),
  * 0D, (acc, i) -> acc + signs[j*dIn+i] * double(v[i]))`, so any
  * engine replaying it (the DuckDB oracle does) matches bit for bit.
  * Signs derive from the seed alone
  * (`parity(md5_32("rp:<seed>:<i>:<j>"))`, [[RandomProjectExpr.signs]])
  * — nothing random to coordinate, any engine reproduces the matrix.
  *
  * Null semantics are that formulation's: a NULL vector yields dOut
  * NULL elements (the outer `transform` runs over a literal
  * sequence); a NULL element poisons every output (each fold reads
  * all of v); a vector shorter than dIn fails loudly (ANSI
  * element_at). */
case class RandomProjectExpr(child: Expression, seed: Long,
    dIn: Int, dOut: Int) extends UnaryExpression {

  require(dIn > 0 && dOut > 0, "dimensions must be positive")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false // null vec -> array of nulls

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"random_project expects array<float|double>, got $other")
  }

  @transient private lazy val signs: Array[Double] =
    RandomProjectExpr.signs(seed, dIn, dOut)

  @transient private lazy val elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private def nullRow: GenericArrayData =
    new GenericArrayData(Array.fill[Any](dOut)(null))

  /** Per-row kernel; called from both eval and the generated code.
    * `input` is the child's value or null. */
  def compute(input: Any): GenericArrayData = {
    if (input == null) return nullRow
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() < dIn)
      throw new IllegalArgumentException(
        s"random_project: vector has ${v.numElements()} elements, " +
          s"needs $dIn")
    val x = new Array[Double](dIn)
    var i = 0
    while (i < dIn) {
      if (v.isNullAt(i)) return nullRow // a null element poisons every fold
      x(i) = if (elemIsFloat) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    val out = new Array[Any](dOut)
    var j = 0
    while (j < dOut) {
      var acc = 0.0
      val base = j * dIn
      i = 0
      while (i < dIn) { acc += signs(base + i) * x(i); i += 1 }
      out(j) = acc
      j += 1
    }
    new GenericArrayData(out)
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    compute(child.eval(input))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rpExpr", this,
      classOf[RandomProjectExpr].getName)
    val c = child.genCode(ctx)
    val code =
      code"""
        ${c.code}
        boolean ${ev.isNull} = false;
        org.apache.spark.sql.catalyst.util.GenericArrayData ${ev.value} =
          $ref.compute(${c.isNull} ? null : ${c.value});
      """
    ev.copy(code = code)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "random_project"
}

object RandomProjectExpr {

  /** Engine-portable 32-bit fold of md5's first 8 hex chars — the
    * same derivation the DuckDB oracle uses. */
  private def md5Fold32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Integer.toUnsignedLong(
      java.nio.ByteBuffer.wrap(d, 0, 4).getInt)
  }

  /** The full sign matrix in output-major order
    * (`signs(j * dIn + i)` = sign of input i in output j). */
  def signs(seed: Long, dIn: Int, dOut: Int): Array[Double] =
    Array.tabulate(dOut * dIn) { k =>
      val j = k / dIn; val i = k % dIn
      if ((md5Fold32(s"rp:$seed:$i:$j") & 1L) == 0L) 1.0 else -1.0
    }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "random_project",
      exprs => RandomProjectExpr(exprs(0),
        exprs(1).eval().asInstanceOf[Long],
        exprs(2).eval().asInstanceOf[Int],
        exprs(3).eval().asInstanceOf[Int]),
      "scala_udf")

  /** Column-level entry point (register + call_function — the Spark 4
    * bridge, see [[HistogramQuantileExpr]]). */
  def randomProject(spark: SparkSession, vec: Column, seed: Long,
      dIn: Int, dOut: Int): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("random_project",
      vec, org.apache.spark.sql.functions.lit(seed),
      org.apache.spark.sql.functions.lit(dIn),
      org.apache.spark.sql.functions.lit(dOut))
  }
}
