package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Document fingerprinting by rolling-hash winnowing (the MOSS scheme,
  * Schleimer/Wilkerson/Aiken SIGMOD'03 — public algorithm): hash every
  * k-gram of the document with a polynomial rolling hash (base 31,
  * mod 2^32), slide a window of `w` consecutive k-gram hashes, keep
  * each window's minimum, return the SORTED DISTINCT minima. Two
  * documents sharing a sufficiently long substring are guaranteed to
  * share a fingerprint — the candidate-generation primitive for
  * copy/near-dup detection that needs only set intersection downstream
  * (bucket equi-join on fingerprint, same scale shape as MinHash-LSH
  * banding).
  *
  * The k-gram hash update is a TRUE rolling recurrence —
  * `h' = (h - c_out * 31^(k-1)) * 31 + c_in  (mod 2^32)` — O(1) per
  * position regardless of k; exactly equal (mod-arithmetic identity)
  * to hashing each k-gram from scratch, which is how the DuckDB oracle
  * states it (`list_reduce`). Hashing is over UTF-16 code units ==
  * code points for ASCII/BMP text; shard non-BMP corpora by bytes
  * upstream if exact cross-engine parity matters there.
  *
  * Codegen: the expression stays INSIDE whole-stage codegen (no
  * CodegenFallback barrier); the generated code makes one call per row
  * into the compiled JVM kernel — per-ROW dispatch, unlike HOF
  * expressions' per-ELEMENT interpreted evaluation.
  */
case class WinnowFingerprintsExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  require(k >= 1 && w >= 1, "k and w must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprints expects a string column, got $other")
  }

  private val Mask = 0xFFFFFFFFL // mod 2^32

  /** Per-row kernel; called from both eval and the generated code. */
  def compute(text: UTF8String): GenericArrayData = {
    val s = text.toString
    val nk = s.length - k + 1
    val nw = nk - w + 1
    if (nw < 1) return new GenericArrayData(Array.empty[Long])
    // 31^(k-1) mod 2^32, for evicting the outgoing char
    var pow = 1L
    var j = 1
    while (j < k) { pow = (pow * 31) & Mask; j += 1 }
    // initial k-gram hash (h0 = c0, then h = h*31 + c — matches
    // DuckDB list_reduce with the first element as the accumulator)
    val hashes = new Array[Long](nk)
    var h = 0L
    var i = 0
    while (i < k) { h = if (i == 0) s.charAt(0).toLong else (h * 31 + s.charAt(i)) & Mask; i += 1 }
    hashes(0) = h
    i = 1
    while (i < nk) {
      h = (((h - (s.charAt(i - 1) * pow & Mask)) & Mask) * 31 + s.charAt(i + k - 1)) & Mask
      hashes(i) = h
      i += 1
    }
    // window minima (O(n*w); w is a small constant) -> distinct sorted
    val minima = new java.util.TreeSet[java.lang.Long]()
    var p = 0
    while (p < nw) {
      var m = hashes(p)
      var q = p + 1
      while (q < p + w) { if (hashes(q) < m) m = hashes(q); q += 1 }
      minima.add(m)
      p += 1
    }
    val out = new Array[Long](minima.size)
    val it = minima.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("winnowExpr", this,
      classOf[WinnowFingerprintsExpr].getName)
    val c = child.genCode(ctx)
    val code =
      code"""
        ${c.code}
        boolean ${ev.isNull} = ${c.isNull};
        org.apache.spark.sql.catalyst.util.GenericArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = $ref.compute(${c.value});
        }
      """
    ev.copy(code = code)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "winnow_fingerprints"
}

object WinnowFingerprintsExpr {
  /** SQL registration: `SELECT winnow_fingerprints(text, 8, 4)` —
    * k and w must be foldable int literals. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "winnow_fingerprints",
      exprs => WinnowFingerprintsExpr(exprs(0),
        exprs(1).eval().asInstanceOf[Int], exprs(2).eval().asInstanceOf[Int]),
      "scala_udf")

  /** Column-level entry point (register + call_function — the Spark 4
    * bridge, see [[HistogramQuantileExpr]]). */
  def winnowFingerprints(spark: SparkSession, text: Column, k: Int, w: Int): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("winnow_fingerprints",
      text, org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(w))
  }
}
