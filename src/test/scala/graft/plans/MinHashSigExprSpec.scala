package graft.plans

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}

class MinHashSigExprSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("per-row kernel equals the batch explode+agg signatures on the fixture corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val viaExpr = docs.select(col("doc_id"),
        MinHashSigExpr.minHashSignature(spark, col("text"), 3, 64).as("sig"))
      .filter(size(col("sig")) > 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val viaAgg = graft.dedup.Dedup.minHashSignatures(docs, "doc_id", "text",
        n = 3, numHashes = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    assert(viaExpr.keySet == viaAgg.keySet,
      "kernel and batch path must cover the same (shingled) docs")
    assert(viaExpr.nonEmpty)
    viaAgg.foreach { case (id, sig) =>
      assert(viaExpr(id) == sig, s"signature mismatch for doc $id")
    }
  }

  test("short and empty docs yield an empty signature, not a partial one") {
    import spark.implicits._
    val got = Seq((1L, ""), (2L, "one two"), (3L, "one two three"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        size(MinHashSigExpr.minHashSignature(spark, col("text"), 3, 8)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 0, 3L -> 8))
  }

  test("bandBuckets evaluates the signature kernel once per document") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = graft.dedup.Dedup.bandBuckets(docs, "doc_id", "text",
      n = 3, numHashes = 64, bands = 16)
    // docs with fewer than n tokens have an empty signature: no buckets
    val signed = docs.filter(size(
      MinHashSigExpr.minHashSignature(spark, col("text"), 3, 64)) > 0).count()
    assert(signed > 0L)
    assert(out.count() == 16L * signed)
    // a Filter on the signature would be pushed below the projection
    // and evaluate the kernel a second time
    val plan = out.queryExecution.executedPlan
    val kernels = new AdaptiveSparkPlanHelper {}.collect(plan) { case p =>
      p.expressions.flatMap(_.collect { case m: MinHashSigExpr => m })
    }.flatten
    assert(kernels.length == 1, plan)
  }
}
