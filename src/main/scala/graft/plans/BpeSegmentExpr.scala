package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE SEGMENTATION kernel — applies a trained merge list
  * (Sennrich et al. 2016) to a text column inside ONE codegen'd
  * expression, replacing [[graft.functions.Bpe.segment]]'s
  * one-nested-`transform`-per-merge plan for production vocabularies:
  * at 30k merges that fold is a ~30k-deep Catalyst expression tree
  * (analyzer stack overflow, or codegen collapse with plan
  * construction dwarfing execution), while this expression is ONE
  * plan node whose merge table rides the stage's task binary — plan
  * size independent of vocabulary size.
  *
  * SEMANTICS are bit-identical to `Bpe.segment` (spec-asserted
  * merge-for-merge): words are the maximal `\s+`-free runs of the
  * text; each word starts as its Unicode CODE POINTS (Spark
  * `substr`/`length` count code points, so a surrogate pair is one
  * symbol); merges apply IN RANK ORDER, each as one left-to-right
  * non-overlapping replace pass (the scan resumes after each
  * replacement — "aaa" + (a,a) -> [aa, a]).
  *
  * The kernel avoids the naive rank-loop (30k passes per word) with
  * an equivalence the pass semantics guarantees: a pass for pair
  * (L, R) removes EVERY adjacency of L,R (a replacement cannot
  * recreate one — the merged symbol is LR, never a free-standing L
  * before R), so ranks apply in strictly increasing order and the
  * sequential sweep equals "repeatedly apply the LOWEST-ranked pair
  * currently adjacent with rank >= (last applied + 1)". New
  * adjacencies formed by a pass only matter at HIGHER ranks; pairs of
  * LOWER rank formed later never apply (their pass already ran) —
  * which is why the floor ratchets instead of resetting. Per word of
  * n symbols that is O(n) rank lookups per applied pass and <= n-1
  * passes: O(n^2) worst case on the WORD length (words are short; a
  * pathological unbroken megabyte "word" costs what the old fold
  * paid per merge anyway), independent of vocabulary size.
  *
  * The merge table is carried as the ENCODED string field (symbols
  * joined on U+001F, the separator the BPE representation already
  * reserves — never inside a symbol), so the case-class is canonical
  * and serializable; the rank map decodes lazily per executor. */
case class BpeSegmentExpr(child: Expression, mergesEnc: String)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_segment expects a string column, got $other")
  }

  // decoded merge table: left/right symbol per rank + pair -> FIRST
  // rank (training cannot emit duplicate pairs — a pass eliminates
  // its pair and merges only concatenate, never split — but
  // first-wins is the sequential semantics if one ever appears)
  @transient private lazy val (lefts, rights, rankOf) = {
    val flat =
      if (mergesEnc.isEmpty) Array.empty[String]
      else mergesEnc.split(BpeSegmentExpr.Sep, -1)
    require(flat.length % 2 == 0, "corrupt merge encoding")
    val n = flat.length / 2
    val ls = new Array[String](n)
    val rs = new Array[String](n)
    val m = new java.util.HashMap[String, Integer](n * 2)
    var k = 0
    while (k < n) {
      ls(k) = flat(2 * k)
      rs(k) = flat(2 * k + 1)
      m.putIfAbsent(ls(k) + BpeSegmentExpr.Sep + rs(k), Integer.valueOf(k))
      k += 1
    }
    (ls, rs, m)
  }

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r' // Java regex \s, the split predicate Bpe.segment uses

  /** Segment one word (s[start, end)) and append its symbols. */
  private def segmentWord(s: String, start: Int, end: Int,
      out: scala.collection.mutable.ArrayBuffer[Any]): Unit = {
    // initial symbols: code points (Spark substr counts code points)
    val syms = new Array[String](end - start)
    var n = 0
    var i = start
    while (i < end) {
      val cp = s.codePointAt(i)
      val w = Character.charCount(cp)
      syms(n) = s.substring(i, i + w)
      n += 1
      i += w
    }
    var floor = 0 // next pass must have rank >= floor (ranks ratchet)
    var done = n < 2
    while (!done) {
      var best = Int.MaxValue
      var j = 0
      while (j < n - 1) {
        val rk = rankOf.get(syms(j) + BpeSegmentExpr.Sep + syms(j + 1))
        if (rk != null && rk >= floor && rk < best) best = rk
        j += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        // one left-to-right non-overlapping pass for merge `best`
        val l = lefts(best); val r = rights(best); val lr = l + r
        var wI = 0; var rd = 0
        while (rd < n) {
          if (rd < n - 1 && syms(rd) == l && syms(rd + 1) == r) {
            syms(wI) = lr; rd += 2
          } else { syms(wI) = syms(rd); rd += 1 }
          wI += 1
        }
        n = wI
        floor = best + 1
        done = n < 2
      }
    }
    var k = 0
    while (k < n) { out += UTF8String.fromString(syms(k)); k += 1 }
  }

  /** Per-row kernel; called from both eval and the generated code. */
  def compute(text: UTF8String): GenericArrayData = {
    val s = text.toString
    val len = s.length
    val out = new scala.collection.mutable.ArrayBuffer[Any](
      math.min(len, 64))
    var i = 0
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) segmentWord(s, start, i, out)
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeSegExpr", this,
      classOf[BpeSegmentExpr].getName)
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

  override def prettyName: String = "bpe_segment"
}

object BpeSegmentExpr {

  val Sep = "\u001f"

  /** Merge list -> the canonical encoded form (symbols joined on the
    * reserved separator). */
  def encode(merges: Seq[(String, String)]): String = {
    merges.foreach { case (l, r) =>
      require(l.nonEmpty && r.nonEmpty && !l.contains(Sep) && !r.contains(Sep),
        s"merge symbols must be non-empty and U+001F-free: ('$l', '$r')")
    }
    merges.iterator.flatMap(m => Iterator(m._1, m._2)).mkString(Sep)
  }

  /** SQL registration: `SELECT bpe_segment(text, '<encoded merges>')`
    * — the merge table must be a foldable string literal. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bpe_segment",
      exprs => BpeSegmentExpr(exprs(0),
        Option(exprs(1).eval()).map(_.toString).getOrElse("")),
      "scala_udf")

  /** Column-level entry point (register + call_function — the Spark 4
    * bridge, see [[HistogramQuantileExpr]]). */
  def bpeSegment(spark: SparkSession, text: Column,
      merges: Seq[(String, String)]): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("bpe_segment",
      text, org.apache.spark.sql.functions.lit(encode(merges)))
  }
}
