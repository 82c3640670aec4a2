package graft.similarity

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}

/** Product quantization (pqTrain / pqEncode / pqTopK) — the
  * fine-quantizer half of the Jegou 2011 pipeline on the house
  * integer-exact contract. */
class PqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val emb = Tables.embeddings(spark, sf).cache()

  private def collectCodes(df: org.apache.spark.sql.DataFrame) =
    Similarity.quantizeInt8(df, "vec_id", "embedding")
      .select(col("vec_id").cast("long"), col("codes"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))

  test("degenerate PQ (every vector its own centroid) == quantizedTopK") {
    // ks = corpus size, iters = 0: seeds are the corpus itself, each
    // vector's nearest centroid is its own milli-scaled codes, so the
    // reconstruction IS the vector and ADC cosine must reproduce the
    // int8 brute-force ranking bit-for-bit (the x1000 scale cancels:
    // numerator and norm product both pick up exactly 1e6).
    val corpus = emb.filter(col("vec_id") < 40)
    val q = emb.filter(col("vec_id") < 5)
    val pq = Similarity.pqTopK(q, corpus, "vec_id", "embedding",
        k = 5, m = 4, ks = 40, iters = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val exact = Similarity.quantizedTopK(q, corpus, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(pq.toSeq == exact.toSeq)
  }

  test("pqEncode: code range, zero-vector guard, ADC matches a naive replay") {
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = 4, ks = 8, iters = 1)
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      .collect().map(r => (r.getLong(0),
        r.getSeq[Int](1).toArray, r.getLong(2))).sortBy(_._1)
    assert(enc.forall { case (_, codes, _) =>
      codes.length == 4 && codes.forall(c => c >= 0 && c < 8) })
    // naive driver-side replay: encode by argmin and score by
    // reconstruction cosine, independently of the kernels
    val dense = cb.dense
    val raw = collectCodes(emb).toMap
    val byId = enc.map { case (id, c, n) => id -> ((c, n)) }.toMap
    raw.foreach { case (id, rc) =>
      val (kc, nsq) = byId(id)
      assert(nsq == rc.map(x => x * x).sum, s"nsq mismatch for $id")
      (0 until 4).foreach { j =>
        val dists = (0 until 8).map { c =>
          (0 until 16).map { p =>
            val diff = 1000L * rc(j * 16 + p) - dense(j)(c)(p)
            diff * diff
          }.sum
        }
        assert(dists(kc(j)) == dists.min, s"argmin drift for $id subspace $j")
        assert(kc(j) == dists.indexOf(dists.min), s"tie-break drift for $id/$j")
      }
    }
    // ADC similarity replay for one query against three corpus rows
    val qRow = raw(3L)
    val adc = Similarity.pqTopKEncoded(
        emb.filter(col("vec_id") === 3), Similarity.pqEncode(
          emb.filter(col("vec_id") < 4), "vec_id", "embedding", cb),
        cb, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(2), r.getDouble(3))).toMap
    val q2 = qRow.map(x => 1000L * x * 1000L * x).sum
    (0L to 2L).foreach { nid =>
      val codes = byId(nid)._1
      val recN = codes.zipWithIndex.map { case (c, j) =>
        dense(j)(c).map(y => y * y).sum }.sum
      val dot = codes.zipWithIndex.map { case (c, j) =>
        (0 until 16).map(p => 1000L * qRow(j * 16 + p) * dense(j)(c)(p)).sum
      }.sum
      val expected = java.math.BigDecimal.valueOf(
          dot.toDouble / (math.sqrt(q2.toDouble) * math.sqrt(recN.toDouble)))
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(adc(nid) == expected, s"ADC sim drift for neighbor $nid")
    }
  }

  test("Lloyd refinement reduces quantization distortion; training is deterministic") {
    def distortion(cb: Similarity.PqCodebook): Long = {
      val dense = cb.dense
      collectCodes(emb).map { case (_, rc) =>
        (0 until cb.m).map { j =>
          (0 until cb.ks).map { c =>
            (0 until cb.dsub).map { p =>
              val diff = 1000L * rc(j * cb.dsub + p) - dense(j)(c)(p)
              diff * diff
            }.sum
          }.min
        }.sum
      }.sum
    }
    val cb0 = Similarity.pqTrain(emb, "vec_id", "embedding", m = 4, ks = 8, iters = 0)
    val cb2 = Similarity.pqTrain(emb, "vec_id", "embedding", m = 4, ks = 8, iters = 2)
    assert(distortion(cb2) < distortion(cb0),
      "2 Lloyd rounds should reduce total quantization distortion vs raw seeds")
    val cb2b = Similarity.pqTrain(emb, "vec_id", "embedding", m = 4, ks = 8, iters = 2)
    assert(cb2.cents.view.mapValues(_.toSeq).toMap ==
      cb2b.cents.view.mapValues(_.toSeq).toMap, "training must be deterministic")
  }

  test("degenerate IVFADC (own-residual centroids, all cells probed) == quantizedTopK") {
    // ks = corpus size, itersPq = 0, nProbe = nCells: every vector's
    // residual is its own codebook entry, so the reconstruction is
    // coarse_cent + (1000*codes - coarse_cent) = the exact milli
    // vector, and full probing removes the pruning — IVFADC must
    // reproduce the int8 brute-force ranking bit-for-bit.
    val corpus = emb.filter(col("vec_id") < 40)
    val q = emb.filter(col("vec_id") < 5)
    val ivfpq = Similarity.ivfPqTopK(q, corpus, "vec_id", "embedding",
        k = 5, nCells = 4, nProbe = 4, itersCoarse = 1,
        m = 4, ks = 40, itersPq = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val exact = Similarity.quantizedTopK(q, corpus, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(ivfpq.toSeq == exact.toSeq)
  }

  test("IVFADC: probe pruning yields a subset of full probing; recall holds up") {
    val q = emb.filter(col("vec_id") < 20)
    def run(nProbe: Int) = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding",
        k = 10, nCells = 8, nProbe = nProbe, itersCoarse = 2,
        m = 8, ks = 16, itersPq = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = run(8)
    val exact = Similarity.quantizedTopK(q, emb, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // full probing isolates PQ loss from probe loss
    val recallFull = exact.count(full.contains).toDouble / exact.size
    assert(recallFull >= 0.25, s"IVFADC full-probe recall collapsed: $recallFull")
    // pruned probing returns valid rows and keeps a meaningful share
    val pruned = run(2)
    val recallPruned = exact.count(pruned.contains).toDouble / exact.size
    assert(recallPruned >= 0.1, s"IVFADC pruned recall collapsed: $recallPruned")
  }

  test("persistent IVFADC index serves exactly what the in-memory path serves") {
    // build on the FULL corpus (no append): the persisted artifacts
    // are the same coarse centroids + residual codebook ivfPqTopK
    // trains, so serving from disk must be row-identical
    val path = graft.util.TempDirs.scoped("graft-pqspec-index").toString
    Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCells = 8, itersCoarse = 2, m = 4, ks = 4, itersPq = 1, path = path)
    val q = emb.filter(col("vec_id") < 10)
    val fromDisk = Similarity.ivfPqIndexTopK(q, "vec_id", "embedding",
        k = 5, nProbe = 2, path = path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val inMem = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding",
        k = 5, nCells = 8, nProbe = 2, itersCoarse = 2,
        m = 4, ks = 4, itersPq = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(fromDisk.sorted.toSeq == inMem.sorted.toSeq)
  }

  test("ivfPqIndexMaintain: skewed appends degrade pruned recall; rebuild recovers it") {
    import spark.implicits._
    val path = graft.util.TempDirs.scoped("ivfpq-maintain-spec").toString
    def jit(i: Int, j: Int): Float = (((i * 31 + j * 17) % 7) - 3) * 0.02f
    val baseA = (0 until 40).map(i => (i.toLong,
      Array(1f + jit(i, 0), jit(i, 1), jit(i, 2), jit(i, 3))))
    val baseB = (40 until 80).map(i => (i.toLong,
      Array(jit(i, 0), 1f + jit(i, 1), jit(i, 2), jit(i, 3))))
    val base = (baseA ++ baseB).toDF("vec_id", "embedding")
    Similarity.ivfPqIndexBuild(base, "vec_id", "embedding",
      nCells = 3, itersCoarse = 3, m = 2, ks = 8, itersPq = 2, path = path)
    // a new directional cluster ON the trained A/B Voronoi boundary,
    // members spread symmetrically across it — nProbe=1 misses the
    // half in the unprobed cell (the ivfIndexMaintain drift scenario)
    def deltaVec(i: Int): Array[Float] = {
      val s = ((i % 9) - 4) * 0.01f
      Array(0.7f + s, 0.7f - s, 0.3f, jit(i, 3))
    }
    val delta = (1000 until 1080).map(i => (i.toLong, deltaVec(i)))
      .toDF("vec_id", "embedding")
    Similarity.ivfPqIndexAppend(delta, "vec_id", "embedding", path = path)
    val corpus = base.unionByName(delta)
    val queries = (2000 until 2010).map { i =>
      val s = ((i % 3) - 1) * 0.005f
      (i.toLong, Array(0.7f + s, 0.7f - s, 0.3f, jit(i, 3)))
    }.toDF("vec_id", "embedding")
    val r = Similarity.ivfPqIndexMaintain(queries, corpus, "vec_id",
      "embedding", k = 5, nProbe = 1, path = path, recallFloor = 0.95,
      itersCoarse = 3, itersPq = 2)
    assert(r.retrained, f"expected rebuild: recallBefore=${r.recallBefore}%.4f")
    assert(r.recallBefore < 0.95)
    assert(r.recallAfter.get > r.recallBefore, s"recall did not improve: $r")
    assert(r.recallAfter.get >= 0.9, s"recovered recall only ${r.recallAfter}")
    // above the floor now: second maintain is a measured no-op
    val r2 = Similarity.ivfPqIndexMaintain(queries, corpus, "vec_id",
      "embedding", k = 5, nProbe = 1, path = path, recallFloor = 0.8,
      itersCoarse = 3, itersPq = 2)
    assert(!r2.retrained && r2.recallAfter.isEmpty)
    // the rebuild preserved the id multiset (base + delta, no loss)
    val ids = Similarity.indexPostings(spark, path).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == ((0L until 80L) ++ (1000L until 1080L)).sorted)
    // COVERAGE PRECONDITION: a corpus that misses appended postings
    // must fail the rebuild LOUDLY before any training/swap — the
    // append markers stay in place across a rebuild, so those ids
    // would otherwise vanish permanently. Replay the exact degrade
    // scenario above (recallBefore < 0.95 was asserted) on a second
    // index, but hand maintain a corpus that is missing the delta.
    val path2 = graft.util.TempDirs.scoped("ivfpq-maintain-cover").toString
    Similarity.ivfPqIndexBuild(base, "vec_id", "embedding",
      nCells = 3, itersCoarse = 3, m = 2, ks = 8, itersPq = 2, path = path2)
    Similarity.ivfPqIndexAppend(delta, "vec_id", "embedding", path = path2)
    val ex = intercept[IllegalStateException] {
      Similarity.ivfPqIndexMaintain(queries, base /* misses delta */,
        "vec_id", "embedding", k = 5, nProbe = 1, path = path2,
        recallFloor = 0.95, itersCoarse = 3, itersPq = 2)
    }
    assert(ex.getMessage.contains("absent from the rebuild corpus"),
      s"unexpected message: ${ex.getMessage}")
    // nothing was swapped: the index still serves every posting id
    val idsAfter = Similarity.indexPostings(spark, path2).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(idsAfter == ((0L until 80L) ++ (1000L until 1080L)).sorted)
    // and the lease was released by the throw: a covering corpus
    // proceeds normally on the same index
    val r3 = Similarity.ivfPqIndexMaintain(queries, corpus,
      "vec_id", "embedding", k = 5, nProbe = 1, path = path2,
      recallFloor = 0.95, itersCoarse = 3, itersPq = 2)
    assert(r3.retrained && r3.recallAfter.get >= 0.9, s"got $r3")
  }

  test("ivfPqIndexMaintain warmStart: the rebuild seeds Lloyd from the " +
      "live artifacts and recovers recall with FEWER iterations") {
    import spark.implicits._
    // the degrade fixture of the maintain spec, replayed on the warm
    // path with itersCoarse=1/itersPq=1 — from random lowest-id seeds
    // one iteration is a weak retrain, but seeded from the live
    // centroids (already near their basins, drift being additive) the
    // cheap rebuild must still clear the recall bar
    val path = graft.util.TempDirs.scoped("ivfpq-warm-spec").toString
    def jit(i: Int, j: Int): Float = (((i * 31 + j * 17) % 7) - 3) * 0.02f
    val base = ((0 until 40).map(i => (i.toLong,
        Array(1f + jit(i, 0), jit(i, 1), jit(i, 2), jit(i, 3)))) ++
      (40 until 80).map(i => (i.toLong,
        Array(jit(i, 0), 1f + jit(i, 1), jit(i, 2), jit(i, 3)))))
      .toDF("vec_id", "embedding")
    Similarity.ivfPqIndexBuild(base, "vec_id", "embedding",
      nCells = 3, itersCoarse = 3, m = 2, ks = 8, itersPq = 2, path = path)
    def deltaVec(i: Int): Array[Float] = {
      val s = ((i % 9) - 4) * 0.01f
      Array(0.7f + s, 0.7f - s, 0.3f, jit(i, 3))
    }
    val delta = (1000 until 1080).map(i => (i.toLong, deltaVec(i)))
      .toDF("vec_id", "embedding")
    Similarity.ivfPqIndexAppend(delta, "vec_id", "embedding", path = path)
    val queries = (2000 until 2010).map { i =>
      val s = ((i % 3) - 1) * 0.005f
      (i.toLong, Array(0.7f + s, 0.7f - s, 0.3f, jit(i, 3)))
    }.toDF("vec_id", "embedding")
    val r = Similarity.ivfPqIndexMaintain(queries, base.unionByName(delta),
      "vec_id", "embedding", k = 5, nProbe = 1, path = path,
      recallFloor = 0.95, itersCoarse = 1, itersPq = 1, warmStart = true)
    assert(r.retrained, f"expected rebuild: recallBefore=${r.recallBefore}%.4f")
    assert(r.recallBefore < 0.95)
    assert(r.recallAfter.get >= 0.9,
      s"warm 1-iteration rebuild must recover recall, got $r")
    // the warm rebuild preserved the id multiset and serves normally
    val ids = Similarity.indexPostings(spark, path).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == ((0L until 80L) ++ (1000L until 1080L)).sorted)
  }

  test("ivfIndexCompact: touched cells rewritten to ~one file, " +
      "untouched cells byte-identical, serving value-invisible") {
    val path = graft.util.TempDirs.scoped("ivfpq-compact").toString
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.ivfPqIndexBuild(emb.filter(col("vec_id") % 4 === 0),
      "vec_id", "embedding", nCells = 4, itersCoarse = 1, m = 4, ks = 4,
      itersPq = 1, path = path)
    // several small appends -> several files per touched cell
    (1 to 3).foreach { r =>
      Similarity.ivfPqIndexAppend(emb.filter(col("vec_id") % 4 === r),
        "vec_id", "embedding", path = path)
    }
    val q = emb.filter(col("vec_id") < 10)
    def serve() = Similarity.ivfPqIndexTopK(q, "vec_id", "embedding",
        k = 5, nProbe = 2, path = path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sorted.toSeq
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // per-(gen dir, cell) parquet file names — old generations must
    // stay byte-untouched across a compaction (reader isolation)
    def genFiles(snap: IndexLayout.Snapshot): Map[(String, String), Seq[String]] =
      snap.gens.flatMap { g =>
        val gp = new org.apache.hadoop.fs.Path(path, g.dir)
        fs.listStatus(gp).filter(_.isDirectory)
          .filter(_.getPath.getName.startsWith("cell=")).map { d =>
            (g.dir, d.getPath.getName) ->
              fs.listStatus(d.getPath)
                .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
                .map(_.getPath.getName).sorted.toSeq
          }
      }.toMap
    val preSnap = IndexLayout.resolve(spark, path)
    val preServe = serve()
    val preCounts = Similarity.indexPostingsFilesPerCell(spark, path)
    val preGenFiles = genFiles(preSnap)
    val maxPre = preCounts.values.max
    assert(maxPre > 2, s"fixture should accrete files, got $maxPre")
    // READER ISOLATION: a postings plan resolved against the
    // pre-compaction snapshot must still collect AFTER the compaction
    // commits (its generation dirs are never renamed or deleted while
    // the previous manifest is within the GC grace window)
    val oldSnapPlan = IndexLayout.postingsDf(spark, path, preSnap)
    // threshold between 1 and maxPre: some cells compact, quiet ones
    // (if any are at <= 2 files) must stay byte-identical
    val r1 = Similarity.ivfIndexCompact(spark, path, maxFilesPerCell = 2)
    assert(r1.cellsCompacted > 0 && r1.filesAfter < r1.filesBefore, s"$r1")
    val postCounts = Similarity.indexPostingsFilesPerCell(spark, path)
    val postSnap = IndexLayout.resolve(spark, path)
    preCounts.foreach { case (cell, n) =>
      if (n > 2)
        assert(postCounts(cell) == 1,
          s"cell=$cell should compact to one live file, got ${postCounts(cell)}")
      else assert(postCounts(cell) == n, s"untouched cell=$cell changed")
    }
    // old generation dirs byte-untouched (only the manifest excludes
    // their heavy cells now)
    preGenFiles.foreach { case ((gen, cell), files) =>
      assert(genFiles(postSnap.copy(gens = preSnap.gens)).get((gen, cell))
        .contains(files), s"pre-compaction $gen/$cell was mutated")
    }
    assert(oldSnapPlan.count() ==
      Similarity.indexPostings(spark, path).count(),
      "old-snapshot reader must still see the full relation")
    assert(serve() == preServe, "compaction must be value-invisible")
    // the multi-generation read (probed isin + per-gen excludes) must
    // still prune partitions in every generation's scan: a STRICT
    // check on the PartitionFilters bracket itself — 'cell#' anywhere
    // in the plan would also match mere data filters (PushedFilters /
    // Filter nodes) and pass with pruning silently lost
    val plan = Similarity.ivfPqIndexTopK(q, "vec_id", "embedding",
        k = 5, nProbe = 2, path = path)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell#".r.findFirstIn(plan).isDefined,
      "no cell predicate inside PartitionFilters in the " +
        s"post-compaction plan")
    // idempotent: nothing above the threshold now
    val r2 = Similarity.ivfIndexCompact(spark, path, maxFilesPerCell = 2)
    assert(r2.cellsCompacted == 0 && r2.filesBefore == r1.filesAfter)
    assert(serve() == preServe)
  }

  test("ivfIndexCompact is schema-agnostic: the PLAIN-codes index " +
      "layout compacts and serves identically too") {
    val path = graft.util.TempDirs.scoped("ivf-plain-compact").toString
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    Similarity.ivfIndexBuild(emb.filter(col("vec_id") % 4 === 0),
      "vec_id", "embedding", nCells = 4, iters = 1, path = path)
    (1 to 3).foreach { r =>
      Similarity.ivfIndexAppend(emb.filter(col("vec_id") % 4 === r),
        "vec_id", "embedding", path = path)
    }
    val q = emb.filter(col("vec_id") < 10)
    def serve() = Similarity.ivfIndexTopK(q, "vec_id", "embedding",
        k = 5, nProbe = 2, path = path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sorted.toSeq
    val pre = serve()
    val r1 = Similarity.ivfIndexCompact(spark, path, maxFilesPerCell = 1)
    assert(r1.cellsCompacted > 0 && r1.filesAfter < r1.filesBefore, s"$r1")
    assert(serve() == pre, "plain-index compaction must be value-invisible")
  }

  test("zero vectors ride PQ end-to-end guarded; postings scan prunes partitions") {
    import spark.implicits._
    // synthetic corpus with an all-zero member: it must encode with
    // nsq = 0 and never surface as a neighbor or a query
    def v(i: Int): Array[Float] =
      Array.tabulate(8)(j => ((i * 7 + j * 3) % 11 - 5).toFloat)
    val rows = (0 until 20).map(i => (i.toLong, v(i))) :+
      (99L, Array.fill(8)(0f))
    val corpus = rows.toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(corpus, "vec_id", "embedding",
      m = 2, ks = 4, iters = 1)
    val enc = Similarity.pqEncode(corpus, "vec_id", "embedding", cb)
    val zero = enc.filter(col("id") === 99L).head()
    assert(zero.getLong(2) == 0L, "all-zero vector must carry nsq = 0")
    val served = Similarity.pqTopKEncoded(corpus, enc, cb,
      "vec_id", "embedding", k = 21)
    assert(served.filter(col("neighbor_id") === 99L).count() == 0,
      "zero vector served as a neighbor")
    assert(served.filter(col("query_id") === 99L).count() == 0,
      "zero vector served as a query")
    // the IVFADC index serve must push the probed-cell set as a
    // partition filter (the layout's payoff — only probed inverted
    // lists are read)
    val path = graft.util.TempDirs.scoped("pqspec-prune").toString
    Similarity.ivfPqIndexBuild(emb, "vec_id", "embedding",
      nCells = 8, itersCoarse = 1, m = 4, ks = 4, itersPq = 0, path = path)
    val plan = Similarity.ivfPqIndexTopK(emb.filter(col("vec_id") < 3),
        "vec_id", "embedding", k = 3, nProbe = 1, path = path)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell#") ||
      plan.contains("PartitionFilters: [isnotnull(cell") ||
      plan.contains("cell#") && plan.contains("INSET"),
      s"no partition pruning visible in plan")
  }

  test("index mutations hold the single-writer lease; contention is loud") {
    val path = graft.util.TempDirs.scoped("pqspec-lease").toString
    val corpus = emb.filter(col("vec_id") < 40)
    Similarity.ivfPqIndexBuild(corpus, "vec_id", "embedding",
      nCells = 4, itersCoarse = 1, m = 4, ks = 4, itersPq = 0, path = path)
    val before = Similarity.indexPostings(spark, path).count()
    val delta = emb.filter(col("vec_id") >= 40 && col("vec_id") < 45)
    graft.ops.StoreLock.withLock(spark, path) {
      // build, append and maintain all mutate through the same
      // withLock(path) — one contention check covers the mechanism
      intercept[IllegalStateException] {
        Similarity.ivfPqIndexAppend(delta, "vec_id", "embedding", path)
      }
    }
    // blocked writers left the store untouched
    assert(Similarity.indexPostings(spark, path).count() == before)
    // and once the lease is free, the append goes through
    Similarity.ivfPqIndexAppend(delta, "vec_id", "embedding", path)
    assert(Similarity.indexPostings(spark, path).count() == before + 5)
  }

  test("trained PQ recall vs int8 brute force does not collapse") {
    val q = emb.filter(col("vec_id") < 20)
    val exact = Similarity.quantizedTopK(q, emb, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.pqTopK(q, emb, "vec_id", "embedding",
        k = 10, m = 8, ks = 16, iters = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    // near-random corpus, 8x16 codebook on 64 dims: lossy by design,
    // but a correct codebook keeps a meaningful share of the true
    // top-10; catastrophic mis-assignment lands near k/n ~ 0.02.
    assert(recall >= 0.25, s"PQ recall collapsed: $recall")
  }
}
