package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.functions.Bpe

/** The native segmentation kernel must be BIT-IDENTICAL to
  * `Bpe.segment` (the nested-transform oracle twin) — including the
  * sequential-pass subtleties a classic priority-queue BPE apply gets
  * differently. */
class BpeSegmentExprSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fast(texts: Seq[String], merges: Seq[(String, String)]) = {
    import spark.implicits._
    Bpe.segmentFast(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text"), "text", merges)
      .orderBy("doc_id")
      .collect().map(r => (Option(r.getSeq[String](2)).map(_.toList),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toList
  }

  private def slow(texts: Seq[String], merges: Seq[(String, String)]) = {
    import spark.implicits._
    Bpe.segment(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text"), "text", merges)
      .orderBy("doc_id")
      .collect().map(r => (Option(r.getSeq[String](2)).map(_.toList),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toList
  }

  test("edge semantics match segment: empties, whitespace runs, " +
      "unicode code points, greedy overlap, rank ratchet") {
    val texts = Seq(
      "newest low a",
      "",
      "   ",
      "\t\n lower widest \f",
      "aaa aaaa",
      // rank ratchet: merge 1 (c,ab) must NOT retro-apply after
      // merge 2 (a,b) creates 'ab' — sequential passes give [c, ab]
      "cab",
      // astral plane: one code point = one initial symbol
      "a😀b 😀😀",
      "single x yz")
    val merges = Seq(("c", "ab"), ("a", "b"), ("e", "s"), ("es", "t"),
      ("a", "a"), ("😀", "😀"), ("y", "z"))
    val f = fast(texts, merges)
    val s = slow(texts, merges)
    assert(f == s, s"fast=$f\nslow=$s")
    // and the load-bearing expectations, pinned by hand:
    assert(f(5)._1.get == List("c", "ab"), "rank ratchet broken")
    assert(f(4)._1.get == List("aa", "a", "aa", "aa"),
      "greedy non-overlapping pass broken")
    assert(f(6)._1.get ==
      List("a", "😀", "b", "😀😀"))
  }

  test("null text maps to null symbols in both paths") {
    import spark.implicits._
    val df = Seq((1L, "ab"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val merges = Seq(("a", "b"))
    for (g <- Seq(Bpe.segmentFast(df, "text", merges),
        Bpe.segment(df, "text", merges))) {
      val rows = g.orderBy("doc_id").collect()
      assert(rows(0).getSeq[String](2) == Seq("ab"))
      assert(rows(1).isNullAt(2) && rows(1).isNullAt(3))
    }
  }

  test("merge-for-merge equality with segment on a mixed corpus at " +
      ">= 1000 trained merges") {
    import spark.implicits._
    // deterministic mixed corpus: enough distinct words and repeated
    // patterns that training sustains > 1000 merge rounds
    val alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    def mix(x0: Long): Long = {
      var z = (x0 + 0x9E3779B97F4A7C15L) * 0xBF58476D1CE4E5B9L
      z ^= z >>> 31; z *= 0x94D049BB133111EBL; z ^ (z >>> 29)
    }
    val repeated = Seq("newest", "lowest", "widest", "lower", "low",
      "tokenizer", "training", "pipeline", "corpus", "merge")
    def word(i: Int): String =
      if (i % 3 == 0) repeated((i / 3) % repeated.length)
      else {
        val len = 3 + (mix(i.toLong) & 0x7fffffffL).toInt % 10
        (0 until len).map(j =>
          alpha((mix(i.toLong * 131 + j) & 0x7fffffffL).toInt
            % alpha.length)).mkString
      }
    val texts = (0 until 160).map { d =>
      (0 until 40).map(w => word((d * 40 + w) % 3000)).mkString(" ")
    }
    val corpus = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val merges = Bpe.train(corpus, "text", numMerges = 1200)
      .orderBy("merge_rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.length >= 1000,
      s"corpus exhausted at ${merges.length} merges — enrich the fixture")
    // the native kernel on the full merge list
    val gotFast = Bpe.segmentFast(corpus, "text", merges)
      .orderBy("doc_id").select("bpe_symbols")
      .collect().map(_.getSeq[String](0).toList).toList
    // the nested-transform twin cannot PLAN 1000+ stacked lambdas —
    // that is the point of the kernel — so the oracle here is the
    // identical-semantics driver-side replace fold (the same
    // separator-wrapped replace segment compiles to, one pass per
    // merge; replaceLiteral semantics restated inline)
    def replaceAll(s: String, t: String, r: String): String = {
      val sb = new java.lang.StringBuilder; var last = 0
      var from = s.indexOf(t)
      while (from >= 0) {
        sb.append(s, last, from).append(r)
        last = from + t.length
        from = s.indexOf(t, last)
      }
      sb.append(s.substring(last)).toString
    }
    val Sep = "\u001f"
    def oracleSymbols(text: String): List[String] =
      text.trim.split("\\s+").filter(_.nonEmpty).toList.flatMap { w =>
        var s = Sep + w.toCharArray.map(_.toString)
          .mkString(Sep + Sep) + Sep
        merges.foreach { case (l, r) =>
          s = replaceAll(s, Sep + l + Sep + Sep + r + Sep, Sep + l + r + Sep)
        }
        s.stripPrefix(Sep).stripSuffix(Sep).split(Sep + Sep, -1).toList
      }
    val want = texts.map(oracleSymbols)
    assert(gotFast == want, "native kernel diverged from the " +
      "sequential-replace semantics at >= 1000 merges")
    // and the in-plan twin itself agrees at a depth it can still
    // plan: the SAME trained list truncated to its first 90 merges —
    // beyond ~100 the analyzer itself gives up (lambda resolution is
    // one nesting level per Resolution iteration, maxIterations 100),
    // which is the wall this kernel exists to remove
    val head = merges.take(90)
    val a = Bpe.segmentFast(corpus, "text", head).orderBy("doc_id")
      .select("bpe_symbols").collect().map(_.getSeq[String](0)).toList
    val b = Bpe.segment(corpus, "text", head).orderBy("doc_id")
      .select("bpe_symbols").collect().map(_.getSeq[String](0)).toList
    assert(a == b, "kernel != segment at 220 merges")
  }
}
