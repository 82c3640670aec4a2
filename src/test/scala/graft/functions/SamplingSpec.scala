package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class SamplingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("splitLabel partitions every key into exactly one split, near the target fractions") {
    val n = 100000L
    val df = spark.range(n).toDF("id")
      .withColumn("split", Sampling.splitLabel(col("id")))
    val counts = df.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == n)
    assert(math.abs(counts("train") - 80000L) < 2000, counts.toString)
    assert(math.abs(counts("valid") - 10000L) < 1000, counts.toString)
    assert(math.abs(counts("test") - 10000L) < 1000, counts.toString)
  }

  test("split membership is a pure function of the key (repartition-invariant)") {
    val base = spark.range(10000).toDF("id")
    def labels(parts: Int): Map[Long, String] =
      base.repartition(parts)
        .withColumn("split", Sampling.splitLabel(col("id")))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(labels(2) == labels(17))
  }

  test("sampled keeps ~keepBp/10000 and is a subset relation across rates") {
    val df = spark.range(100000).toDF("id")
    val at1pct = df.filter(Sampling.sampled(col("id"), 100))
      .collect().map(_.getLong(0)).toSet
    val at5pct = df.filter(Sampling.sampled(col("id"), 500))
      .collect().map(_.getLong(0)).toSet
    assert(math.abs(at1pct.size - 1000) < 300, at1pct.size.toString)
    assert(at1pct.subsetOf(at5pct), "raising the rate must only ADD rows")
  }

  test("splitLabel rejects fractions over 100%") {
    intercept[IllegalArgumentException] {
      Sampling.splitLabel(lit(1L), trainBp = 9000, validBp = 2000)
    }
  }

  test("mixtureSample keeps per-source deterministic nested subsets") {
    import spark.implicits._
    val df = spark.range(10000).toDF("id")
      .withColumn("src", concat(lit("s"), (col("id") % 4).cast("string")))
    val w1 = Seq(("s0", 10000L), ("s1", 5000L), ("s2", 0L), ("s3", 2500L))
      .toDF("src", "keep_bp")
    val kept = Sampling.mixtureSample(df, "id", "src", w1)
    val bySrc = kept.groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("s0") == 2500, "keep_bp=10000 keeps every row")
    assert(!bySrc.contains("s2"), "keep_bp=0 keeps nothing")
    assert(math.abs(bySrc("s1") - 1250) < 150, bySrc.toString)
    assert(math.abs(bySrc("s3") - 625) < 100, bySrc.toString)
    // nested-sample property: lowering a source's weight only REMOVES
    // rows (same hash, tighter cut) — re-mixing never reshuffles
    val k1 = kept.filter(col("src") === "s1")
      .select("id").collect().map(_.getLong(0)).toSet
    val k2 = Sampling.mixtureSample(df, "id", "src",
        Seq(("s1", 2000L)).toDF("src", "keep_bp"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(k2.subsetOf(k1))
  }

  test("stratifiedQuota: exact quotas, small strata kept whole, prune == plain window") {
    val df = spark.range(1000).toDF("id")
      .withColumn("stratum",
        when(col("id") < 900, concat(lit("big"), (col("id") % 3).cast("string")))
          .otherwise(lit("tiny"))) // 300/300/300/100
    val out = Sampling.stratifiedQuota(df, "id", "stratum", quota = 150)
    val counts = out.groupBy("stratum").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("big0" -> 150L, "big1" -> 150L, "big2" -> 150L,
      "tiny" -> 100L))
    // the map-side prune must not change the winners: compare against
    // the plain (unpruned) window formulation
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("stratum")
      .orderBy(Sampling.hashBucket(col("id")), col("id"))
    val plain = df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 150)
      .select(col("stratum"), col("id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val pruned = out.select(col("stratum"), col("key"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(pruned == plain)
    // repartition-invariance (selection is a pure function of the keys)
    val re = Sampling.stratifiedQuota(df.repartition(13), "id", "stratum", 150)
      .select(col("stratum"), col("key"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(re == pruned)
  }

  test("shuffledPositions: permutation, equals global-order rank, seed-sensitive, shard-invariant") {
    val n = 5000L
    val df = spark.range(n).toDF("id").repartition(7)
    val out = Sampling.shuffledPositions(df, "id", seed = 7L, shards = 16)
      .select("id", "pos").collect().map(r => (r.getLong(0), r.getLong(1)))
    // a permutation of [0, n)
    assert(out.map(_._2).sorted.toSeq == (0L until n))
    // equals the single-window global rank over the same (hash, key)
    val global = df
      .withColumn("h", Sampling.shuffleHash(col("id"), 7L))
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("h"), col("id")))
        .cast("long") - 1L)
      .select("id", "pos").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    out.foreach { case (id, pos) => assert(pos == global(id), s"id $id") }
    // shard count must not change the permutation
    val out2 = Sampling.shuffledPositions(df, "id", seed = 7L, shards = 3)
      .select("id", "pos").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    out.foreach { case (id, pos) => assert(out2(id) == pos) }
    // a different seed reorders (overwhelmingly likely on 5000 keys)
    val reseeded = Sampling.shuffledPositions(df, "id", seed = 8L, shards = 16)
      .select("id", "pos").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.count { case (id, pos) => reseeded(id) != pos } > n / 2)
  }

  test("weightedSample: k per stratum, weight-proportional, prune == window, w<=0 dropped") {
    import spark.implicits._
    // two weight classes in one stratum: ids 0-499 weight 1, ids
    // 500-999 weight 20 — heavy rows must dominate the sample
    val df = spark.range(1000).toDF("id")
      .withColumn("s", lit("all"))
      .withColumn("w", when(col("id") < 500, 1L).otherwise(20L))
    val out = Sampling.weightedSample(df, "id", "w", k = 100, stratumCol = "s")
    val picked = out.select("key").as[Long].collect().toSet
    assert(picked.size == 100)
    val heavy = picked.count(_ >= 500)
    // E[heavy] ~ 95 under pps; even a loose bound separates the classes
    assert(heavy > 75, s"heavy rows underrepresented: $heavy/100")
    // prune == plain window formulation
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("s").orderBy(
      (Sampling.hash9(col("id")).cast("double") + lit(0.5)) /
        col("w").cast("double"), col("id"))
    val plain = df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 100).select("id").as[Long].collect().toSet
    assert(picked == plain)
    // repartition-invariance + zero/negative weights dropped
    val withBad = df.withColumn("w",
      when(col("id") % 10 === 0, -col("w")).otherwise(col("w")))
    val good = Sampling.weightedSample(withBad.repartition(7), "id", "w",
        k = 100, stratumCol = "s")
      .select("key").as[Long].collect().toSet
    assert(good.forall(_ % 10 != 0) && good.size == 100)
  }

  test("tokenBudgetSample keeps the exact budget prefix per source, any shard count") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = spark.range(1, 401).toDF("id")
      .withColumn("src", concat(lit("s"), (col("id") % 3).cast("string")))
      .withColumn("toks", (col("id") % 37) + 1L)
    val budgets = Seq(("s0", 700L), ("s1", 400L), ("s2", 5L))
      .toDF("src", "token_budget")
    // reference: plain per-source cumsum over (shuffleHash, id) order
    val byHash = df
      .withColumn("h", Sampling.shuffleHash(col("id"), 17L))
      .select("src", "id", "toks", "h")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    val budgetMap = Map("s0" -> 700L, "s1" -> 400L, "s2" -> 5L)
    val expected = byHash.toSeq.flatMap { case (src, rows) =>
      var cum = 0L
      rows.sortBy(r => (r._4, r._2)).toSeq.flatMap { r =>
        cum += r._3
        if (cum <= budgetMap(src)) Some((r._2, cum)) else None
      }
    }.toMap
    for (shards <- Seq(1, 4, 64)) {
      val got = Sampling.tokenBudgetSample(df, "id", "src", "toks", budgets,
          seed = 17L, shards = shards)
        .select("id", "cum_tokens")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"shards=$shards")
    }
    // s2's budget (5) is below many docs' token counts: only hash-first
    // docs with tiny counts can fit; assert the cut actually bites
    assert(expected.nonEmpty && expected.size < 400)
  }

  test("tokenBudgetSample is nested under budget growth") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = spark.range(1, 301).toDF("id")
      .withColumn("src", lit("s"))
      .withColumn("toks", (col("id") % 11) + 1L)
    def kept(b: Long): Set[Long] =
      Sampling.tokenBudgetSample(df, "id", "src", "toks",
          Seq(("s", b)).toDF("src", "token_budget"))
        .select("id").as[Long].collect().toSet
    val small = kept(100L)
    val big = kept(500L)
    assert(small.subsetOf(big), "raising a budget must only ADD docs")
    assert(small.nonEmpty && big.size > small.size)
  }

  test("tokenBudgetSample keeps zero-token docs at an exact-budget shard boundary") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // single source; compare sharded vs the plain-cumsum reference on
    // a corpus that CONTAINS zero-token docs (the boundary case: a
    // shard whose offset equals the budget may still contribute them)
    val df = spark.range(1, 2001).toDF("id")
      .withColumn("src", lit("s"))
      .withColumn("toks",
        when(col("id") % 5 === 0, 0L).otherwise((col("id") % 13) + 1L))
    val rows = df.withColumn("h", Sampling.shuffleHash(col("id"), 17L))
      .select("id", "toks", "h")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(r => (r._3, r._1))
    // pick a budget landing EXACTLY on a cumulative boundary
    var cum = 0L
    val cums = rows.map { r => cum += r._2; cum }
    val budget = cums(rows.length / 2)
    val expected = rows.zip(cums).flatMap { case (r, c) =>
      if (c <= budget) Some(r._1 -> c) else None }.toMap
    for (shards <- Seq(3, 64)) {
      val got = Sampling.tokenBudgetSample(df, "id", "src", "toks",
          Seq(("s", budget)).toDF("src", "token_budget"),
          seed = 17L, shards = shards)
        .select("id", "cum_tokens")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"shards=$shards")
    }
  }

  test("temperatureQuota: alpha=1 is proportional, alpha=1/2 flattens " +
      "the mixture, small groups keep whole, partitioning-invariant") {
    import spark.implicits._
    // skewed mixture: A=400, B=100, C=4 (C smaller than any quota)
    val docs = ((0L until 400L).map(i => (i, "A")) ++
        (1000L until 1100L).map(i => (i, "B")) ++
        (2000L until 2004L).map(i => (i, "C")))
      .toDF("doc_id", "grp_in")
    def quotasOf(steps: Int): Map[String, Long] =
      Sampling.temperatureQuota(docs, "doc_id", "grp_in",
          totalN = 100, sqrtSteps = steps)
        .groupBy("grp").agg(count(lit(1)).as("n"),
          first("quota").as("q"))
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    // alpha = 1: proportional floor allocation — 400/504, 100/504,
    // 4/504; C's quota floors to 0 so it is ABSENT from the output
    val p = quotasOf(0)
    assert(p == Map("A" -> 79L, "B" -> 19L), s"got $p")
    // alpha = 1/2: weights 20:10:2 -> A flattened toward B, C surfaces
    val t = quotasOf(1)
    assert(t("A") < p("A") && t("B") > p("B") && t.contains("C"), s"got $t")
    assert(t == Map("A" -> 62L, "B" -> 31L, "C" -> 6L), s"got $t")
    // C's quota (6) exceeds its size (4): kept whole, never padded
    val out = Sampling.temperatureQuota(docs, "doc_id", "grp_in",
      totalN = 100, sqrtSteps = 1)
    assert(out.filter(col("grp") === "C").count() == 4L)
    // selection is a pure function of the key set: repartitioning the
    // input cannot change the winners (the map-side prune is provably
    // winner-preserving)
    val base = out.select("grp", "key").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val reparted = Sampling.temperatureQuota(docs.repartition(17),
        "doc_id", "grp_in", totalN = 100, sqrtSteps = 1)
      .select("grp", "key").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(reparted == base)
  }

  test("upsample: exact copy counts, nested fractional slice, no shuffle") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, s"d$i")).toDF("id", "payload")
    val up = Sampling.upsample(df, "id", factorBp = 23000)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val counts = up.groupBy(_._1).view.mapValues(_.length).toMap
    // every row gets 2 or 3 copies; the 3-copy set is the hash slice
    assert(counts.values.forall(n => n == 2 || n == 3))
    val expect3 = (1L to 200L).filter { id =>
      (id % 2147483648L) * 1597334677L % 10000L < 3000L
    }.toSet
    assert(counts.filter(_._2 == 3).keySet == expect3)
    // copy_idx is 1..n per key
    up.groupBy(_._1).foreach { case (id, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to counts(id)))
    }
    // nested: the 2.0x whole copies are a subset relation — raising to
    // 2.7x only ADDS copies for more keys, never removes
    val up27 = Sampling.upsample(df, "id", factorBp = 27000)
      .groupBy("id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    counts.foreach { case (id, n) => assert(up27(id) >= n) }
    // factor < 1.0 degenerates to sampled(): keep-or-drop, one copy
    val down = Sampling.upsample(df, "id", factorBp = 3000)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(down.map(_._1).toSet == expect3 && down.forall(_._2 == 1L))
    // map-only plan: no Exchange anywhere
    val plan = Sampling.upsample(df, "id", 23000)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"upsample must not shuffle:\n$plan")
  }
}
