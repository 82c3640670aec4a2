package graft.similarity

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val emb = Tables.embeddings(spark, sf).cache()

  test("cosine: known vectors") {
    import spark.implicits._
    val df = Seq((Seq(1f, 0f), Seq(0f, 1f)), (Seq(1f, 1f), Seq(1f, 1f)),
      (Seq(1f, 2f), Seq(2f, 3f)))
      .toDF("a", "b").select(Similarity.cosine(col("a"), col("b")).as("c"))
    val c = df.collect().map(_.getDouble(0))
    assert(math.abs(c(0)) < 1e-12 && math.abs(c(1) - 1.0) < 1e-12)
    assert(math.abs(c(2) - 0.9922778767136677) < 1e-9)
    // zero vector -> null, not NaN
    val z = Seq((Seq(0f, 0f), Seq(1f, 1f))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")))
    assert(z.head.isNullAt(0))
  }

  test("LSH top-k recall vs brute force on near-random embeddings") {
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(q, emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    // this corpus is near-random (top-1 cosine ~0.3-0.5) — the hardest
    // regime for SRP buckets; planes=5 x tables=10 should still catch a
    // meaningful share, and catastrophic mis-tuning would land near 0.
    assert(recall >= 0.25, s"LSH recall collapsed: $recall")
  }

  test("LSH candidates are a subset of the corpus and dedup'd") {
    val r = Similarity.lshTopK(emb.filter(col("vec_id") < 5), emb,
      "vec_id", "embedding", k = 5).collect()
    val keys = r.map(x => (x.getLong(0), x.getLong(2)))
    assert(keys.distinct.length == keys.length)
    assert(r.forall(_.getLong(1) <= 5)) // rank within k
  }

  test("srpBucket is deterministic across evaluations") {
    val planes = Similarity.hyperplanes(5, 64, seed = 42L)
    val a = emb.select(Similarity.srpBucket(col("embedding"), planes).as("b"))
      .collect().map(_.getLong(0)).toSeq
    val b = emb.select(Similarity.srpBucket(col("embedding"), planes).as("b"))
      .collect().map(_.getLong(0)).toSeq
    assert(a == b)
    assert(a.distinct.size > 1, "buckets should spread")
  }

  test("IVF top-k: recall vs brute force, rank/shape invariants") {
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(q, emb, "vec_id", "embedding", k = 5,
      nCells = 16, nProbe = 6)
    val rows = ivf.collect()
    assert(rows.forall(_.getLong(1) <= 5))
    val approx = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    // near-random corpus = worst case for IVF too; probing 6/16 cells
    // should still recover a solid share of true neighbors
    assert(recall >= 0.3, s"IVF recall collapsed: $recall")
  }

  test("brute-force near-dup at high threshold is empty on this corpus (matches exact)") {
    val n = Similarity.bruteForceNearDupPairs(emb, "vec_id", "embedding", 0.9).count()
    val lsh = Similarity.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.9).count()
    assert(n == 0L && lsh == 0L)
  }

  test("LSH near-dup at q_sim_embed_neardup parameters is exhaustive (== exact set)") {
    // the equivalence that licenses the brute-force SQL as the oracle
    // for q_sim_embed_neardup: planted cos-1.0 copies collide in every
    // table (identical unit vectors), so the LSH pair set equals the
    // brute-force pair set — and both are exactly the planted pairs.
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val off = 10000000L
    val aug = Similarity.plantCosineDups(emb, "vec_id", "embedding", off)
    val exact = pairSet(
      Similarity.bruteForceNearDupPairs(aug, "vec_id", "embedding", 0.95))
    val lsh = pairSet(Similarity.embeddingNearDupPairs(
      aug, "vec_id", "embedding", threshold = 0.95, planes = 10, tables = 8))
    val planted = emb.select("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(0) + off)).toSet
    assert(exact == planted, "true pair set should be exactly the planted pairs")
    assert(lsh == exact, s"LSH missed ${(exact -- lsh).size} / spurious ${(lsh -- exact).size}")
  }

  test("quantizeInt8: codes bounded, absmax component saturates, zero vector safe") {
    import spark.implicits._
    val q = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val rows = q.select(col("codes"), col("scale_x1e9")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val codes = r.getSeq[Long](0)
      assert(codes.forall(c => c >= -127 && c <= 127))
      // the max-|x| component must quantize to exactly +-127
      assert(codes.exists(c => math.abs(c) == 127L))
      assert(r.getLong(1) > 0L)
    }
    val z = Seq((1L, Seq(0f, 0f, 0f))).toDF("vec_id", "embedding")
    val zr = Similarity.quantizeInt8(z, "vec_id", "embedding").head()
    assert(zr.getSeq[Long](1).forall(_ == 0L) && zr.getLong(2) == 0L)
  }

  test("quantizedTopK approximates the float top-k (int8 barely moves cosine)") {
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.quantizedTopK(q, emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(quant.contains).toDouble / exact.size
    assert(recall >= 0.6, s"int8 recall collapsed: $recall")
  }

  test("plantCosineDups copies are cosine-1.0 and nothing else reaches 0.95") {
    val aug = Similarity.plantCosineDups(emb, "vec_id", "embedding", 10000000L)
    val sims = Similarity.bruteForceNearDupPairs(aug, "vec_id", "embedding", 0.95)
      .select("sim").collect().map(_.getDouble(0))
    assert(sims.nonEmpty && sims.forall(_ == 1.0))
  }

  test("kmeansFitInt8 equals a driver-side Lloyd reference; repartition-invariant") {
    val k = 4; val iters = 2
    val out = Similarity.kmeansFitInt8(emb, "vec_id", "embedding", k, iters)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // driver-side reference over the same int8 codes
    val codes = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).sortBy(_._1)
    def hu(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    var cents = codes.take(k).zipWithIndex
      .map { case ((_, v), i) => i -> v.map(_ * 1000L) }.toMap
    def assign(v: Array[Long]): Int =
      (0 until k).map { c =>
        val ct = cents(c)
        var d = 0L; var i = 0
        while (i < v.length) { val t = 1000L * v(i) - ct(i); d += t * t; i += 1 }
        (d, c)
      }.min._2
    for (_ <- 1 to iters) {
      val grouped = codes.groupBy { case (_, v) => assign(v) }
      cents = cents.map { case (c, old) =>
        grouped.get(c) match {
          case Some(members) =>
            val dim = old.length
            val nv = Array.tabulate(dim) { d =>
              val s = members.map(_._2(d)).sum
              hu(1000.0 * s / members.length)
            }
            c -> nv
          case None => c -> old
        }
      }
    }
    val expected = codes.map { case (id, v) => id -> assign(v) }.toMap
    assert(out == expected)
    assert(out.values.toSet.size > 1, "degenerate single-cell clustering")
    // partitioning must not change the result
    val out2 = Similarity.kmeansFitInt8(emb.repartition(13), "vec_id",
        "embedding", k, iters)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out2 == expected)
  }

  test("ivfTopKQuantized: shape, sims agree with exhaustive, recall floor, exhaustive-probe == brute") {
    val q = emb.filter(col("vec_id") < 10)
    val tr = Similarity.ivfTopKQuantized(q, emb, "vec_id", "embedding",
      k = 5, nCells = 8, nProbe = 2, iters = 2).collect()
    val byQ = tr.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.values.foreach { rows =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to rows.length) &&
        rows.length <= 5)
      // ranks follow (sim desc, id) exactly
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(r => (-r.getDouble(3), r.getLong(2))).toSeq ==
        sorted.map(r => (-r.getDouble(3), r.getLong(2))).sortBy(identity).toSeq)
    }
    val ex = Similarity.quantizedTopK(q, emb, "vec_id", "embedding", k = 5)
      .collect()
    val exSims = ex.map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    // any (query, neighbor) the pruned index returns must score exactly
    // as the exhaustive kernel scores it
    tr.foreach { r =>
      exSims.get((r.getLong(0), r.getLong(2))).foreach { s =>
        assert(s == r.getDouble(3)) }
    }
    val trSet = tr.map(r => (r.getLong(0), r.getLong(2))).toSet
    val exSet = ex.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = trSet.intersect(exSet).size.toDouble / exSet.size
    assert(recall >= 0.5, s"recall@5 $recall under nProbe=2/8") // measured 0.82
    // probing every cell makes the trained index exhaustive == brute
    val full = Similarity.ivfTopKQuantized(q, emb, "vec_id", "embedding",
      k = 5, nCells = 8, nProbe = 8, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == ex.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("kmeansFitInt8: identical points collapse to cell 0, empty cells survive") {
    import spark.implicits._
    val same = Seq.fill(6)(Array(1.0f, 2.0f, 3.0f)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
    val out = Similarity.kmeansFitInt8(same, "vec_id", "embedding", k = 3, iters = 2)
      .collect().map(_.getInt(1))
    // all points equidistant (zero) from every centroid -> tie-break
    // lands everything on cell 0; cells 1, 2 stay empty without error
    assert(out.forall(_ == 0))
  }

  test("persistent IVF index: build+serve == one-shot trained IVF; append " +
      "assigns under persisted centroids; probed-cell partition pruning") {
    import org.apache.spark.sql.functions._
    val path = graft.util.TempDirs.scoped("ivf-index-spec").toString
    val queries = emb.filter(col("vec_id") < 6)
    // empty-delta equivalence: build over the full corpus then serve
    // must equal the one-shot train+serve at the same parameters
    Similarity.ivfIndexBuild(emb, "vec_id", "embedding",
      nCells = 4, iters = 2, path = path)
    val viaIndex = Similarity.ivfIndexTopK(queries, "vec_id", "embedding",
      k = 3, nProbe = 2, path = path).orderBy("query_id", "rank")
      .collect().toSeq
    val oneShot = Similarity.ivfTopKQuantized(queries, emb, "vec_id",
      "embedding", k = 3, nCells = 4, nProbe = 2, iters = 2)
      .orderBy("query_id", "rank").collect().toSeq
    assert(viaIndex == oneShot)
    // append path: rebuild on a base slice, append the rest; the merged
    // postings must hold every id exactly once, delta rows assigned to
    // their nearest persisted centroid (spot-checked via re-assignment)
    val path2 = graft.util.TempDirs.scoped("ivf-index-spec2").toString
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val delta = emb.filter(col("vec_id") % 5 === 0)
    Similarity.ivfIndexBuild(base, "vec_id", "embedding",
      nCells = 4, iters = 2, path = path2)
    Similarity.ivfIndexAppend(delta, "vec_id", "embedding", path = path2)
    val postings = Similarity.indexPostings(spark, path2)
    assert(postings.count() == emb.count())
    assert(postings.select("id").distinct().count() == emb.count())
    // serving over the merged index must surface delta members too
    val served = Similarity.ivfIndexTopK(emb.filter(col("vec_id") < 20),
      "vec_id", "embedding", k = 5, nProbe = 4, path = path2)
    assert(served.filter(col("neighbor_id") % 5 === 0).count() > 0,
      "appended vectors never surfaced as neighbors")
    // the postings scan must carry the probed-cell partition filter
    val plan = Similarity.ivfIndexTopK(queries, "vec_id", "embedding",
      k = 3, nProbe = 1, path = path2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell#") ||
      plan.contains("PartitionFilters: [isnotnull(cell") ||
      plan.contains("cell#") && plan.contains("INSET"),
      s"no partition pruning visible in plan")
  }

  test("recall observable: sampled queries carry honest recall, full probing reads 1.0") {
    import org.apache.spark.sql.functions._
    // both index families, by path: build, recall observable
    // (queries, nProbe, sampleMod), plain serve (queries, nProbe)
    type Df = org.apache.spark.sql.DataFrame
    val families: Seq[(String => Unit, String => (Df, Int, Long) => Df,
        String => (Df, Int) => Df)] = Seq(
      (path => Similarity.ivfIndexBuild(emb, "vec_id", "embedding",
          nCells = 4, iters = 2, path = path),
        path => (q, nProbe, sampleMod) => Similarity.ivfIndexTopKWithRecall(q,
          "vec_id", "embedding", k = 3, nProbe = nProbe, path = path,
          sampleMod = sampleMod),
        path => (q, nProbe) => Similarity.ivfIndexTopK(q, "vec_id",
          "embedding", k = 3, nProbe = nProbe, path = path)),
      (path => Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
          nCells = 4, itersCoarse = 2, m = 4, ks = 4, itersPq = 1,
          path = path),
        path => (q, nProbe, sampleMod) => Similarity.ivfPqIndexTopKWithRecall(q,
          "vec_id", "embedding", k = 3, nProbe = nProbe, path = path,
          sampleMod = sampleMod),
        path => (q, nProbe) => Similarity.ivfPqIndexTopK(q, "vec_id",
          "embedding", k = 3, nProbe = nProbe, path = path)))
    for ((build, withRecall, serve) <- families) {
    val path = graft.util.TempDirs.scoped("ivf-recall-spec").toString
    build(path)
    val queries = emb.filter(col("vec_id") < 10)
    // sampleMod=2: odd query ids are unsampled -> null recall columns
    val r = withRecall(path)(queries, 2, 2L).cache()
    val sampledRows = r.filter(col("query_id") % 2 === 0)
    val unsampled = r.filter(col("query_id") % 2 =!= 0)
    assert(unsampled.count() > 0 &&
      unsampled.filter(col("recall_at_k").isNotNull).count() == 0)
    assert(sampledRows.filter(col("recall_at_k").isNull).count() == 0)
    // honesty: recall == n_hit/n_exact, and n_hit is the true overlap
    // with the all-cells exact serve
    val exact = serve(path)(queries.filter(col("vec_id") % 2 === 0), 4)
      .select("query_id", "neighbor_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val approx = sampledRows.select("query_id", "neighbor_id", "n_hit")
      .collect()
    approx.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      val hits = rows.count(x => exact.contains((qid, x.getLong(1))))
      assert(rows.forall(_.getLong(2) == hits), s"n_hit mismatch for query $qid")
    }
    // full probing is exhaustive -> recall exactly 1 everywhere sampled
    val full = withRecall(path)(queries, 4, 1L)
    assert(full.filter(col("recall_at_k") =!= 1.0).count() == 0)
    r.unpersist()
    }
  }

  /** The live snapshot's IVF training-size pins as (n, cells). */
  private def trainPin(path: String): (Long, Int) = {
    val pins = IndexLayout.resolve(spark, path).pins
    (pins("train_n").toLong, pins("train_cells").toInt)
  }

  test("ivfIndexBuild pins the training corpus size in the manifest") {
    val path = graft.util.TempDirs.scoped("ivf-meta-spec").toString
    val corpus = emb.filter(col("vec_id") % 3 =!= 0)
    Similarity.ivfIndexBuild(corpus, "vec_id", "embedding",
      nCells = 4, iters = 2, path = path)
    val (n, cells) = trainPin(path)
    assert(n == corpus.count())
    assert(cells == 4)
  }

  test("IVF training-size pins ride the manifest through every rewrite") {
    import spark.implicits._
    val path = graft.util.TempDirs.scoped("ivf-pin-rewrites").toString
    val base = emb.filter(col("vec_id") % 2 === 0)
    val nBase = base.count()
    Similarity.ivfIndexBuild(base, "vec_id", "embedding",
      nCells = 4, iters = 2, path = path)
    assert(trainPin(path) == ((nBase, 4)))
    assert(!new java.io.File(path, "train.meta").exists(),
      "the pin lives in the manifest, not in a sidecar")
    val ids = base.select("vec_id").as[Long].collect().sorted
    // each rewrite commits a new snapshot and must carry the pin
    def rewrite(what: String)(mutate: => Unit): Unit = {
      val v0 = IndexLayout.resolve(spark, path).version
      mutate
      assert(IndexLayout.resolve(spark, path).version > v0,
        s"$what must commit a snapshot")
      assert(trainPin(path) == ((nBase, 4)), s"$what dropped the pin")
    }
    // appends add one file per touched cell; a threshold of 1 then
    // rewrites every appended cell
    Similarity.ivfIndexAppend(emb.filter(col("vec_id") % 2 =!= 0),
      "vec_id", "embedding", path)
    rewrite("compaction")(
      Similarity.ivfIndexCompact(spark, path, maxFilesPerCell = 1))
    rewrite("retract")(Similarity.annIndexRetract(spark, path, ids.take(3)))
    rewrite("vacuum")(Similarity.annIndexVacuum(spark, path))
    rewrite("expire")(Similarity.annIndexExpire(spark, path))
    // a maintain that re-places centroids without a resize (2x growth
    // < the 4x hysteresis) keeps the pinned baseline
    val queries = emb.filter(col("vec_id") < 10)
    rewrite("maintain")(assert(Similarity.ivfIndexMaintain(queries,
      "vec_id", "embedding", k = 5, nProbe = 1, path = path,
      recallFloor = 1.0).retrained))
    assert(Similarity.indexCentroids(spark, path).count() == 4L)
  }

  test("ivfIndexMaintain: skewed appends degrade recall; retrain recovers it") {
    import spark.implicits._
    val path = graft.util.TempDirs.scoped("ivf-maintain-spec").toString
    // deterministic jitter so clusters have spread without RNG
    def jit(i: Int, j: Int): Float = (((i * 31 + j * 17) % 7) - 3) * 0.02f
    val baseA = (0 until 40).map(i => (i.toLong,
      Array(1f + jit(i, 0), jit(i, 1), jit(i, 2), jit(i, 3))))
    val baseB = (40 until 80).map(i => (i.toLong,
      Array(jit(i, 0), 1f + jit(i, 1), jit(i, 2), jit(i, 3))))
    val base = (baseA ++ baseB).toDF("vec_id", "embedding")
    Similarity.ivfIndexBuild(base, "vec_id", "embedding",
      nCells = 3, iters = 3, path = path)
    // skewed delta: a NEW directional cluster ON the trained A/B
    // Voronoi boundary, members spread symmetrically ACROSS it
    // (offset s tilts toward A or B) — every boundary query's exact
    // top-k spans both sides, so nProbe=1 serving misses the half in
    // the unprobed cell
    def deltaVec(i: Int): Array[Float] = {
      val s = ((i % 9) - 4) * 0.01f
      Array(0.7f + s, 0.7f - s, 0.3f, jit(i, 3))
    }
    val delta = (1000 until 1080).map(i => (i.toLong, deltaVec(i)))
      .toDF("vec_id", "embedding")
    Similarity.ivfIndexAppend(delta, "vec_id", "embedding", path = path)
    val queries = (2000 until 2010).map { i =>
      val s = ((i % 3) - 1) * 0.005f
      (i.toLong, Array(0.7f + s, 0.7f - s, 0.3f, jit(i, 3)))
    }.toDF("vec_id", "embedding")
    val r = Similarity.ivfIndexMaintain(queries, "vec_id", "embedding",
      k = 5, nProbe = 1, path = path, recallFloor = 0.95, iters = 3)
    assert(r.retrained, f"expected retrain: recallBefore=${r.recallBefore}%.4f")
    assert(r.recallBefore < 0.95)
    assert(r.recallAfter.get > r.recallBefore,
      s"recall did not improve: $r")
    assert(r.recallAfter.get >= 0.9, s"recovered recall only ${r.recallAfter}")
    // above the floor now: second maintain is a measured no-op
    val r2 = Similarity.ivfIndexMaintain(queries, "vec_id", "embedding",
      k = 5, nProbe = 1, path = path, recallFloor = 0.8, iters = 3)
    assert(!r2.retrained && r2.recallAfter.isEmpty)
    assert(r2.recallBefore >= 0.9)
    // the rebuild preserved the id multiset (base + delta, no loss)
    val ids = Similarity.indexPostings(spark, path).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == ((0L until 80L) ++ (1000L until 1080L)).sorted)
  }

  test("ivfIndexMaintain: 10x skewed growth retrains at an adaptively " +
      "larger cell count; recall floor holds") {
    import spark.implicits._
    val path = graft.util.TempDirs.scoped("ivf-adaptive-spec").toString
    def jit(i: Int, j: Int): Float = (((i * 31 + j * 17) % 7) - 3) * 0.02f
    val baseA = (0 until 40).map(i => (i.toLong,
      Array(1f + jit(i, 0), jit(i, 1), jit(i, 2), jit(i, 3))))
    val baseB = (40 until 80).map(i => (i.toLong,
      Array(jit(i, 0), 1f + jit(i, 1), jit(i, 2), jit(i, 3))))
    val base = (baseA ++ baseB).toDF("vec_id", "embedding")
    Similarity.ivfIndexBuild(base, "vec_id", "embedding",
      nCells = 3, iters = 3, path = path)
    // 10x skewed growth on the trained A/B Voronoi boundary (the
    // recall-degradation fixture of the maintain spec, at 800 points):
    // growth = 880/80 = 11 -> adaptive retrain at
    // round(3 x sqrt(11)) = 10 cells instead of the stale 3
    def deltaVec(i: Int): Array[Float] = {
      val s = ((i % 9) - 4) * 0.01f
      Array(0.7f + s, 0.7f - s, 0.3f, jit(i, 3))
    }
    val delta = (1000 until 1800).map(i => (i.toLong, deltaVec(i)))
      .toDF("vec_id", "embedding")
    Similarity.ivfIndexAppend(delta, "vec_id", "embedding", path = path)
    val queries = (2000 until 2010).map { i =>
      val s = ((i % 3) - 1) * 0.005f
      (i.toLong, Array(0.7f + s, 0.7f - s, 0.3f, jit(i, 3)))
    }.toDF("vec_id", "embedding")
    val r = Similarity.ivfIndexMaintain(queries, "vec_id", "embedding",
      k = 5, nProbe = 1, path = path, recallFloor = 0.95, iters = 3)
    assert(r.retrained, f"expected retrain: recallBefore=${r.recallBefore}%.4f")
    // the retrained quantizer carries the adaptively larger cell count
    val cells = Similarity.indexCentroids(spark, path).count()
    assert(cells == 10L, s"adaptive cell count: expected 10, got $cells")
    // ... and the training-size pin advanced to the retrained state
    val (metaN, metaCells) = trainPin(path)
    assert(metaN == 880L && metaCells == 10)
    // recall recovered despite 3x the cells at the same nProbe
    assert(r.recallAfter.get >= 0.9,
      s"recall floor did not hold after adaptive retrain: $r")
    // rebuild preserved the id multiset
    val ids = Similarity.indexPostings(spark, path).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == ((0L until 80L) ++ (1000L until 1800L)).sorted)
  }

  test("ivfIndexMaintain: a no-resize retrain keeps the training-size " +
      "pin, so sub-4x growth per maintain still accumulates to a resize") {
    import spark.implicits._
    val path = graft.util.TempDirs.scoped("ivf-pin-spec").toString
    def jit(i: Int, j: Int): Float = (((i * 31 + j * 17) % 7) - 3) * 0.02f
    val baseA = (0 until 40).map(i => (i.toLong,
      Array(1f + jit(i, 0), jit(i, 1), jit(i, 2), jit(i, 3))))
    val baseB = (40 until 80).map(i => (i.toLong,
      Array(jit(i, 0), 1f + jit(i, 1), jit(i, 2), jit(i, 3))))
    Similarity.ivfIndexBuild((baseA ++ baseB).toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCells = 3, iters = 3, path = path)
    def deltaVec(i: Int): Array[Float] = {
      val s = ((i % 9) - 4) * 0.01f
      Array(0.7f + s, 0.7f - s, 0.3f, jit(i, 3))
    }
    val queries = (2000 until 2010).map { i =>
      val s = ((i % 3) - 1) * 0.005f
      (i.toLong, Array(0.7f + s, 0.7f - s, 0.3f, jit(i, 3)))
    }.toDF("vec_id", "embedding")
    // append 1: growth 240/80 = 3x < 4x -> retrain WITHOUT resize
    Similarity.ivfIndexAppend((1000 until 1160).map(i => (i.toLong, deltaVec(i)))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", path = path)
    val r1 = Similarity.ivfIndexMaintain(queries, "vec_id", "embedding",
      k = 5, nProbe = 1, path = path, recallFloor = 1.0, iters = 3)
    assert(r1.retrained, f"expected retrain: recall=${r1.recallBefore}%.4f")
    assert(Similarity.indexCentroids(spark, path).count() == 3L,
      "3x growth must NOT resize (hysteresis)")
    // THE FIX: the no-resize retrain must keep the (80, 3) baseline —
    // re-pinning (240, 3) here would reset the growth ratio and a
    // steady sub-4x-per-maintain stream would never resize
    val m1 = trainPin(path)
    assert(m1._1 == 80L && m1._2 == 3,
      s"pin was reset on a no-resize retrain: (${m1._1}, ${m1._2})")
    // append 2: cumulative growth 340/80 = 4.25x >= 4x -> the NEXT
    // maintain resizes to round(3 * sqrt(340/80)) = 6 cells. The new
    // cluster must degrade nProbe=1 recall again, so it is placed ON
    // the Voronoi boundary between two of the RETRAINED centroids
    // (read back from the index — the retrain landed them wherever
    // Lloyd did), members spread symmetrically across it.
    val cents = Similarity.indexCentroids(spark, path).collect()
      .map(_.getSeq[Any](1).map(_.toString.toDouble).toArray)
      .map { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / n)
      }
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val (ci, cj) = (for {
      i <- cents.indices; j <- cents.indices if i < j
      mid = cents(i).zip(cents(j)).map { case (x, y) => x + y }
      if cents.indices.filter(k => k != i && k != j)
        .forall(k => dot(mid, cents(k)) <
          math.max(dot(mid, cents(i)), dot(mid, cents(j))))
    } yield (cents(i), cents(j))).head
    val mid = ci.zip(cj).map { case (x, y) => (x + y) / 2 }
    val axis = ci.zip(cj).map { case (x, y) => x - y }
    def onBoundary(s: Double): Array[Float] =
      mid.zip(axis).map { case (m, a) => (m + s * a).toFloat }
    Similarity.ivfIndexAppend((1160 until 1260).map(i =>
        (i.toLong, onBoundary(((i % 9) - 4) * 0.02)))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", path = path)
    val queries2 = (3000 until 3010).map(i =>
        (i.toLong, onBoundary(((i % 3) - 1) * 0.005)))
      .toDF("vec_id", "embedding")
    val r2 = Similarity.ivfIndexMaintain(queries2, "vec_id", "embedding",
      k = 5, nProbe = 1, path = path, recallFloor = 1.0, iters = 3)
    assert(r2.retrained, f"expected retrain: recall=${r2.recallBefore}%.4f")
    assert(Similarity.indexCentroids(spark, path).count() == 6L,
      "cumulative 4.25x growth must resize 3 -> 6 cells")
    val m2 = trainPin(path)
    assert(m2._1 == 340L && m2._2 == 6,
      s"resize must advance the pin: (${m2._1}, ${m2._2})")
  }

  test("retrievalEval: hand-computed MRR/hits/recall, zero-hit query") {
    import spark.implicits._
    // q1: relevant {10, 11, 12}; system ranks 11 at 2, 12 at 4 -> frr 2,
    // rr 5000, hits 2, recall 6666. q2: relevant {20}; ranked 1 ->
    // perfect. q3: relevant {30, 31}; no hits in top-5 -> zeros.
    val results = Seq(
      (1L, 1L, 99L), (1L, 2L, 11L), (1L, 3L, 98L), (1L, 4L, 12L), (1L, 5L, 97L),
      (2L, 1L, 20L), (2L, 2L, 96L),
      (3L, 1L, 95L), (3L, 2L, 94L)
    ).toDF("query_id", "rank", "neighbor_id")
    val qrels = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L),
      (3L, 30L), (3L, 31L)).toDF("query_id", "relevant_id")
    val got = Similarity.retrievalEval(results, qrels, k = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(got(1L) == ((2L, 5000L, 2L, 3L, 6666L)))
    assert(got(2L) == ((1L, 10000L, 1L, 1L, 10000L)))
    assert(got(3L) == ((0L, 0L, 0L, 2L, 0L)))
    // k cutoff: at k=3 q1's rank-4 hit drops out
    val k3 = Similarity.retrievalEval(results, qrels, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(k3(1L) == 1L)
  }
}
