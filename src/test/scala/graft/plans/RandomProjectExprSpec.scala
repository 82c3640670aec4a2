package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.similarity.Similarity

/** The broadcast-matrix expression must be BIT-identical to the
  * literal-HOF formulation it replaced (frozen below as the
  * reference) — same seed-derived signs, same IEEE fold order —
  * including the HOF's null semantics. */
class RandomProjectExprSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The replaced literal-HOF projection: the sign matrix inlined as
    * one literal, a per-output left-fold in index order. */
  private def hofProjection(df: DataFrame, vecCol: String, dIn: Int,
      dOut: Int, seed: Long): DataFrame = {
    val sLit = typedLit(RandomProjectExpr.signs(seed, dIn, dOut).toSeq)
    df.withColumn("projected",
      transform(sequence(lit(0), lit(dOut - 1)), j =>
        aggregate(sequence(lit(0), lit(dIn - 1)), lit(0.0), (acc, i) =>
          acc + element_at(sLit, j * dIn + i + 1) *
            element_at(col(vecCol), i + 1).cast("double"))))
  }

  private def vecs(dIn: Int) = {
    import spark.implicits._
    def v(row: Int): Array[java.lang.Float] =
      Array.tabulate[java.lang.Float](dIn)(i =>
        (math.sin(row * 31 + i) * (if ((row + i) % 3 == 0) -7.25f else 3.5f))
          .toFloat)
    val withNullElem = v(3); withNullElem(dIn / 2) = null
    Seq(
      (1L, v(1)), (2L, v(2)), (3L, withNullElem),
      (4L, null.asInstanceOf[Array[java.lang.Float]]),
      (5L, Array.fill[java.lang.Float](dIn)(0.0f)))
      .toDF("vec_id", "embedding")
  }

  private def collectProj(df: DataFrame) =
    df.orderBy("vec_id").select("projected")
      .collect().map { r =>
        if (r.isNullAt(0)) null
        else r.getSeq[Any](0).map(x => Option(x)).toList
      }.toList

  test("expression path == literal-HOF path bit-for-bit, including " +
      "null vector -> dOut nulls and null element poisoning") {
    val dIn = 48; val dOut = 6
    val hof = collectProj(hofProjection(vecs(dIn), "embedding", dIn, dOut,
      seed = 42L))
    val expr = collectProj(Similarity.randomProjection(vecs(dIn),
      "embedding", dIn, dOut, seed = 42L))
    assert(hof == expr, s"hof=$hof\nexpr=$expr")
    // the null-semantics pins (both paths)
    assert(expr(3) == List.fill(dOut)(None), "null vec must give dOut nulls")
    assert(expr(2) == List.fill(dOut)(None), "null element must poison outputs")
    assert(expr(4).forall(_.contains(0.0)), "zero vec projects to zeros")
  }

  test("large-matrix path keeps the PLAN small: no literal of " +
      "dIn*dOut doubles in the plan text") {
    val dIn = 512; val dOut = 32 // 16k coefficients
    val big = Similarity.randomProjection(vecs(dIn), "embedding",
      dIn, dOut, seed = 7L)
    val lit = hofProjection(vecs(dIn), "embedding", dIn, dOut, seed = 7L)
    val bigPlan = big.queryExecution.analyzed.toString
    val litPlan = lit.queryExecution.analyzed.toString
    assert(bigPlan.length < litPlan.length / 4,
      s"expr plan ${bigPlan.length} chars vs literal ${litPlan.length}")
    // and the two still agree numerically at this size
    val a = big.orderBy("vec_id").select("projected").collect()
      .map(r => if (r.isNullAt(0)) null else r.getSeq[Any](0).toList).toList
    val b = lit.orderBy("vec_id").select("projected").collect()
      .map(r => if (r.isNullAt(0)) null else r.getSeq[Any](0).toList).toList
    assert(a == b)
  }

  test("randomProjection equals the literal-HOF formulation bit for " +
      "bit on the sf0.001 embeddings (64 -> 16 and 64 -> 32)") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    for (dOut <- Seq(16, 32)) {
      val rows = Similarity.randomProjection(emb, "embedding", 64, dOut,
          outCol = "kernel")
        .transform(hofProjection(_, "embedding", 64, dOut, seed = 0L))
        .select("kernel", "projected").collect()
      assert(rows.length == 500)
      rows.foreach { r =>
        def bits(i: Int) = r.getSeq[Double](i)
          .map(java.lang.Double.doubleToRawLongBits)
        assert(bits(0) == bits(1), s"dOut=$dOut: $r")
      }
    }
  }
}
