package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a broadcast cross join whose
  * vector arithmetic runs in native kernels ([[graft.plans.VecDotExpr]]
  * and [[graft.plans.UnitVecExpr]]: a sequential double fold in array
  * order; Spark's higher-order functions would evaluate it
  * interpreted, one lambda call per element). Scale path:
  * sign-random-projection LSH bucketing —
  * candidates share a bucket key, so the join is an equi-join shuffle
  * instead of a cross product (the 100 TB shape; recall is tunable via
  * number of planes / tables).
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Elementwise-cast to double then dot product; sequential
    * left-to-right summation (deterministic per pair). One compiled
    * kernel ([[graft.plans.VecDotExpr]]); NULL for a NULL vector, a
    * NULL element or vectors of different lengths. */
  def dot(a: Column, b: Column): Column = graft.plans.VectorExprs.vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0.0 || d.isNull, lit(null).cast("double"))
      .otherwise(dot(a, b) / d)
  }

  /** Per-group L2-norm statistics over an embedding column —
    * the monitoring pass run over a corpus before training (norm
    * collapse / un-normalized vendor drops show up here).
    *
    * Engine-exact by construction: the per-ROW norm is a sequential
    * left-fold in array order ([[norm]]) — identical IEEE operation
    * sequence in any engine — rounded to a scaled bigint BEFORE the
    * group aggregate, so the cross-row summation (whose ORDER differs
    * between engines and partitionings) runs on exact integers. One
    * partial-aggregated shuffle at group grain. */
  def vectorStats(df: DataFrame, vecCol: String, groupCol: String): DataFrame = {
    val n1e6 = round(norm(col(vecCol)) * lit(1e6), 0).cast("bigint")
    df.select(col(groupCol), n1e6.as("norm_x1e6"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_vecs"),
        sum("norm_x1e6").as("sum_norm_x1e6"),
        min("norm_x1e6").as("min_norm_x1e6"),
        max("norm_x1e6").as("max_norm_x1e6"))
  }

  /** Per-group CENTROIDS at (group, component) grain — the building
    * block for IVF coarse quantizers, per-domain embedding drift
    * checks, and class prototypes. Components are scaled to bigints
    * per row (exact under any summation order), summed in ONE
    * partial-aggregated shuffle keyed (group, pos) — dim x groups
    * output rows, never a per-group collect — and the fixed-point mean
    * is a floor of an exact-integer IEEE division (deterministic
    * across engines; avoids `div`, whose truncation direction differs
    * from SQL floor-division on negative sums). */
  def centroids(df: DataFrame, vecCol: String, groupCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(groupCol, "pos")
      .agg(count(lit(1)).as("n"),
        sum(round(col("x").cast("double") * lit(1e6), 0).cast("bigint"))
          .as("sum_x1e6"))
      .withColumn("avg_x1e6",
        floor(col("sum_x1e6").cast("double") / col("n").cast("double"))
          .cast("bigint"))

  /** Unit-normalized double vector as a separate projection step: the
    * norm is computed ONCE per row (hoisted out of the per-pair work —
    * inside a join predicate it would re-evaluate per pair). Zero
    * vectors normalize to null (cosine undefined). One compiled kernel
    * ([[graft.plans.UnitVecExpr]]). */
  private def withUnitVec(df: DataFrame, vecCol: String, out: String): DataFrame =
    df.withColumn(out, graft.plans.VectorExprs.unitVec(col(vecCol)))

  final case class Scored(query_id: Long, neighbor_id: Long, sim: Double)

  /** Bounded per-query top-k heap of the compiled scoring kernels:
    * keeps the `k` best `(sim, id)` by sim descending, then id
    * ascending. The queue dequeues its ordering's MAX, so ordering by
    * `(-sim, id)` makes the head the WORST kept entry (lowest sim,
    * then highest id). */
  private final class TopK(k: Int) {
    private val h = new scala.collection.mutable.PriorityQueue[(Double, Long)]()(
      Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) })
    def offer(sim: Double, id: Long): Unit =
      if (h.size < k) h.enqueue((sim, id))
      else {
        val (ws, wid) = h.head
        if (sim > ws || (sim == ws && id < wid)) { h.dequeue(); h.enqueue((sim, id)) }
      }
    def iterator: Iterator[(Double, Long)] = h.iterator
  }

  /** Per-query top-`k` of `(query_id, neighbor_id, sim)` candidate
    * rows: ranked by the ROUNDED sim (stable across engines and
    * summation orders), ties to the lower neighbor id. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Spark `round(x, d)` semantics on the JVM side (HALF_UP over the
    * canonical decimal repr) — keeps mapPartitions kernels hash-equal
    * to expression-computed results. */
  private def roundHalfUp(x: Double, d: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(d, java.math.RoundingMode.HALF_UP).doubleValue()

  private def dotLoop(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Unit-normalized query set collected to the driver (queries are
    * small by contract — this is the broadcast side). */
  private def collectUnitQueries(queries: DataFrame, idCol: String,
      vecCol: String): Array[(Long, Array[Double])] =
    withUnitVec(queries, vecCol, "qv")
      .select(col(idCol).cast("long"), col("qv"))
      .collect()
      .filter(!_.isNullAt(1))
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** Brute-force cosine top-k: the exact ANN baseline. Queries are
    * collected + broadcast as plain arrays; the corpus streams through
    * a JIT-compiled mapPartitions dot-product kernel keeping a bounded
    * per-partition top-k per query (HOF expressions are interpreted in
    * Spark — a numeric kernel belongs in compiled code); only the
    * per-partition winners shuffle to the final global rank. Scale
    * shape: corpus-size work, constant memory, k*partitions*|Q| rows
    * shuffled. Ranking uses the ROUNDED similarity (stable across
    * engines and summation orders) with the corpus id as tiebreaker. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, simDecimals: Int = 4): DataFrame = {
    val ss = corpus.sparkSession
    import ss.implicits._
    val qArr = collectUnitQueries(queries, idCol, vecCol)
    val qB = ss.sparkContext.broadcast(qArr)
    val kk = k; val dec = simDecimals
    // NO fan-out here: this is a single-pass map kernel whose output
    // is k*|Q| rows — repartitioning first Exchanges every corpus
    // vector to save nothing (the kernel streams the scan once and is
    // never re-consumed). On a multi-split corpus the scan is already
    // parallel; on a one-split fixture the shuffle costs more than the
    // single-core scoring it parallelizes (measured r6: 1.27->3.01 s).
    // zero/null vectors (null cv) are skipped inside the kernel: a
    // null Filter would be pushed below the projection and normalise
    // every corpus vector twice
    val scored = withUnitVec(corpus, vecCol, "cv")
      .select(col(idCol).cast("long").as("neighbor_id"), col("cv"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val qs = qB.value
        val heaps = qs.map(_ => new TopK(kk))
        it.filter(_._2 != null).foreach { case (cid, cvA) =>
          var qi = 0
          while (qi < qs.length) {
            val (qid, qv) = qs(qi)
            if (qid != cid) {
              val sim = roundHalfUp(dotLoop(qv, cvA), dec)
              heaps(qi).offer(sim, cid)
            }
            qi += 1
          }
        }
        qs.iterator.zipWithIndex.flatMap { case ((qid, _), qi) =>
          heaps(qi).iterator.map { case (s, cid) => Scored(qid, cid, s) }
        }
      }
    rankTopK(scored.toDF(), k)
  }

  /** Deterministic random hyperplanes: `planes` x `dim` components in
    * [-1,1] from a seeded LCG (java.util.Random is spec-stable). */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(planes, dim)(rnd.nextDouble() * 2 - 1)
  }

  /** Sign-random-projection bucket key: bit p = (v . plane_p) > 0,
    * packed into a long. Vectors in the same bucket are "probably
    * close" candidates. (Column form — for composition/tests; the
    * batch path below uses the compiled kernel.) */
  def srpBucket(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      shiftleft(when(dot(vec, planeLit) > 0, lit(1L)).otherwise(lit(0L)), i)
    }.reduce(_ + _)

  // public: encoder codegen needs constructor access — a private case
  // class compiles to an interpreted-fallback encoder plus a noisy
  // CompileException stack on stderr (which broke bench JSON parsing)
  final case class Bucket(id: Long, t: Int, b: Long)

  /** All (table, bucket) keys per row via one compiled kernel —
    * HOF-expression plane projections evaluate interpreted, which
    * dominates LSH runtime; a flat double loop is ~100x cheaper. */
  private def srpBuckets(df: DataFrame, idCol: String, vecCol: String,
      planeSets: Seq[Array[Array[Double]]]): DataFrame = {
    val ss = df.sparkSession
    import ss.implicits._
    val psB = ss.sparkContext.broadcast(planeSets.toArray)
    df.select(col(idCol).cast("long"),
        col(vecCol).cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val sets = psB.value
        it.flatMap { case (id, vA) =>
          sets.iterator.zipWithIndex.map { case (planes, t) =>
            var b = 0L; var p = 0
            while (p < planes.length) {
              if (dotLoop(planes(p), vA) > 0) b |= (1L << p)
              p += 1
            }
            Bucket(id, t, b)
          }
        }
      }
      .toDF()
  }

  /** LSH-bucketed approximate top-k: equi-join on the SRP bucket key
    * (+ multi-probe over `tables` independent plane sets to recover
    * recall), exact cosine only within buckets. The scale path: the
    * cross join becomes shuffle-on-bucket; each table is one cheap
    * column. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, planes: Int = 5, tables: Int = 10,
      simDecimals: Int = 4): DataFrame = {
    val planeSets = (0 until tables)
      .map(t => hyperplanes(planes, dimOf(corpus, vecCol), seed = 42L + t))
    // buckets carry IDS ONLY; vectors re-attach to the (much smaller)
    // deduped candidate set — keeps the bucket shuffle narrow at scale
    val qb = srpBuckets(queries, idCol, vecCol, planeSets)
      .withColumnRenamed("id", "query_id")
    // corpus side only: the query frame is contract-small, and fanning
    // it out would cost a 32-task stage per broadcast for a few rows
    val cb = srpBuckets(graft.util.Parallelism.fanOut(corpus),
        idCol, vecCol, planeSets)
      .withColumnRenamed("id", "neighbor_id")
    val candidates = qb.join(cb, Seq("t", "b"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()
    val qv = withUnitVec(queries, vecCol, "qv")
      .select(col(idCol).as("query_id"), col("qv"))
    val cv = withUnitVec(corpus, vecCol, "cv")
      .select(col(idCol).as("neighbor_id"), col("cv"))
    val scored = candidates
      .join(broadcast(qv), Seq("query_id"))
      .join(cv, Seq("neighbor_id"))
      .withColumn("sim", round(dot(col("qv"), col("cv")), simDecimals))
    rankTopK(scored, k)
  }

  private def dimOf(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head().getInt(0)

  /** Distributed LLOYD K-MEANS over INT8-quantized vectors — the IVF
    * coarse-quantizer TRAINING step ([[ivfTopK]]'s scaladoc promises
    * "a k-means refinement drops in"; this is it). Lloyd's algorithm
    * (1957/1982, public) in the standard scalable formulation:
    * broadcast centroids down, partial-aggregate assignments up —
    * the same shape as the classic MapReduce k-means (public
    * literature throughout, e.g. Zhao et al. 2009).
    *
    * Engine-exact by construction, so the whole training loop can sit
    * behind the DuckDB hash gate:
    *   - points are [[quantizeInt8]] codes (exact integers);
    *   - centroids live on the integer MILLI-grid:
    *     `cent_d = round((1000.0 * sum_d) / n)` — an exact-integer
    *     product, one IEEE double division, and half-away-from-zero
    *     rounding, each bit-identical across engines;
    *   - distances are exact int64 sums of `(1000*code_d - cent_d)^2`
    *     (|diff| <= 254,000, squared ~6.5e10, x dim far inside
    *     int64 — no ANSI overflow at any dim the codes support);
    *   - argmin tie-breaks on the lower cell id;
    *   - empty cells keep their previous centroid;
    *   - seeds = the k lowest-id vectors' codes (deterministic).
    *
    * Scale shape per round: centroids go DOWN inside the assignment
    * kernel ([[graft.plans.AssignCellExpr]]: the k x dim table rides
    * the task binary, the plan carries one node), assignments are a
    * pure map, and the update comes UP as one cell-keyed partial-agg
    * shuffle of k dim-array rows — the corpus is scanned
    * `iters + 1` times and never collected, the driver holds k x dim
    * longs of state. Returns `(id, cell)` — the trained assignment
    * under the final centroids. */
  def kmeansFitInt8(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    val codes = trainingCodes(df, idCol, vecCol)
    val cents = kmeansTrain(codes, k, iters).cents
    val assigned = withAssignedCell(codes, "codes", cents)
      .select(col("id"), col("cell"))
    // training collects are eager; the returned assignment still reads
    // the cache — drop it once a completed action CONSUMES the
    // assignment plan (plan-scoped: an interleaved unrelated action
    // must not evict it — see DeferredUnpersist)
    graft.util.DeferredUnpersist.afterConsumed(df.sparkSession,
      assigned, codes)
    assigned
  }

  // ---- centroid-table kernels -----------------------------------
  //
  // Assignment, probing and residuals run in the native kernels of
  // [[graft.plans.CentroidExprs]]: the flat-encoded table rides the
  // EXPRESSION OBJECT (executors get it once per stage via the task
  // binary), so the plan carries one node whatever the table size —
  // the adaptive cell sizing (cells ~ sqrt(n)) reaches 10^4-10^5
  // cells x 512-1024 dims at production corpus sizes, and the Lloyd
  // loop rebuilds the assign plan every iteration. Distances are
  // exact int64 and candidates are totally ordered by (distance,
  // cell id), so the result is independent of evaluation order.

  /** `df` + `cell` = the argmin cell of `codesCol` under `cents`
    * (milli-grid distance, ties to the lower cell id). */
  private[graft] def withAssignedCell(df: DataFrame, codesCol: String,
      cents: Map[Int, Array[Long]]): DataFrame =
    df.withColumn("cell", graft.plans.CentroidExprs.assignCell(
      df.sparkSession, col(codesCol),
      graft.plans.CentroidExprs.encode(cents, 1000L)))

  /** `df` + exploded `cell` = the `nProbe` nearest cells of
    * `codesCol` under `cents`, (distance, cell) ascending. */
  private[graft] def withProbedCells(df: DataFrame, codesCol: String,
      cents: Map[Int, Array[Long]], nProbe: Int): DataFrame =
    df.withColumn("cell", explode(graft.plans.CentroidExprs.probeCells(
      df.sparkSession, col(codesCol),
      graft.plans.CentroidExprs.encode(cents, 1000L), nProbe)))

  /** `df` + `cell` + `res` where `res = 1000*codes - cent[cell]` —
    * the IVFADC residual leg, one kernel pass. */
  private[graft] def withCellAndResidual(df: DataFrame, codesCol: String,
      cents: Map[Int, Array[Long]]): DataFrame =
    df.withColumn("__cr", graft.plans.CentroidExprs.assignResidual(
        df.sparkSession, col(codesCol),
        graft.plans.CentroidExprs.encode(cents, 1000L)))
      .withColumn("cell", col("__cr.cell"))
      .withColumn("res", col("__cr.res"))
      .drop("__cr")

  /** `(id long, codes)`: the int8 codes of `df` keyed by a long id —
    * the relation every IVF/PQ training, assignment and append reads. */
  private def idCodes(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    quantizeInt8(df, idCol, vecCol)
      .select(col(idCol).cast("long").as("id"), col("codes"))

  /** [[idCodes]] fanned out and cached: the training relation, scanned
    * `iters + 1` times by a Lloyd loop and once more by assignment.
    * The caller unpersists it. */
  private def trainingCodes(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    idCodes(df, idCol, vecCol)
      .transform(graft.util.Parallelism.fanOut)
      .cache()

  /** A trained coarse quantizer: cell -> milli-grid centroid, and `n`,
    * the rows the last Lloyd iteration assigned (the training corpus
    * size, read off the update aggregate — no separate count job). */
  private final case class Coarse(cents: Map[Int, Array[Long]], n: Long)

  /** The Lloyd training loop over a cached `(id, codes)` relation —
    * see [[kmeansFitInt8]] for the exactness and scale contract. */
  private def kmeansTrain(codes: DataFrame, k: Int, iters: Int,
      warmInit: Option[Map[Int, Array[Long]]] = None): Coarse = {
    require(k >= 1, "k must be positive")
    require(iters >= 1, "iters must be positive")
    var cents: Map[Int, Array[Long]] = warmInit match {
      case Some(w) =>
        // WARM START (drift-rebuild seeding): Lloyd from the live
        // centroids instead of the lowest-id sample — on a drifted-
        // not-shuffled corpus the seeds are already near their basins,
        // so fewer iterations reach the same placement quality
        require(w.size == k, s"warm init carries ${w.size} cells, need $k")
        w
      case None =>
        val init = codes.orderBy("id").limit(k).collect()
        require(init.length == k,
          s"k-means needs >= $k vectors, got ${init.length}")
        init.zipWithIndex.map { case (r, i) =>
          i -> r.getSeq[Long](1).toArray.map(_ * 1000L)
        }.toMap
    }
    val dim = cents.head._2.length
    var nAssigned = 0L
    for (_ <- 1 to iters) {
      // per-cell vector sums via the native band_sum aggregate: ONE
      // dim-array row per cell through the (map-side-combined)
      // shuffle and k rows to the driver, where the old
      // posexplode/(cell, pos) grouping multiplied the corpus by dim
      // BEFORE the partial aggregate and collected k x dim rows.
      // Arithmetic is unchanged — integer elementwise sums and one
      // count per cell (codes are fixed-width by quantizeInt8's
      // contract, so the old per-(cell,pos) count equaled the cell
      // count) — the training replay oracles stay hash-exact.
      val sums = withAssignedCell(codes, "codes", cents)
        .groupBy("cell")
        .agg(count(col("codes")).as("n"),
          graft.plans.BandSumAgg.bandSum(codes.sparkSession,
            col("codes"), dim).as("sx"))
        .collect() // k rows, each a dim-array — dimension-sized
        .map(r => r.getInt(0) -> (r.getLong(1), r.getSeq[Long](2)))
        .toMap
      nAssigned = sums.values.map(_._1).sum
      cents = cents.map { case (c, old) =>
        sums.get(c) match {
          case Some((n, sx)) =>
            // exact-int product, IEEE division, HALF_UP — matches
            // round((1000.0 * sum) / n, 0) in both engines
            c -> Array.tabulate(dim)(d =>
              roundHalfUp(1000.0 * sx(d) / n, 0).toLong)
          case None => c -> old // empty cell keeps its centroid
        }
      }
    }
    Coarse(cents, nAssigned)
  }

  /** END-TO-END TRAINED IVF over int8 codes: train the coarse
    * quantizer with [[kmeansFitInt8]]'s Lloyd loop, assign the corpus
    * to cells, probe only the `nProbe` cells nearest each query, and
    * rank candidates by quantized cosine — the full
    * train -> index -> serve ANN path, every step on exact integer
    * arithmetic (assignment/probing by exact int64 milli-grid
    * distances, scoring by the [[quantizedTopK]] int-dot + one
    * bit-portable division), so the WHOLE pipeline sits behind the
    * DuckDB hash gate with `nProbe < nCells` — unlike an
    * exhaustive-probe oracle, the trained centroids and the probe
    * pruning are themselves under test.
    *
    * Scale shape: centroids ride down inside the assign/probe kernels;
    * the corpus is assigned map-side; query probes are query-bounded and
    * broadcast into the candidate join (the corpus side streams, only
    * probed-cell rows are scored); final top-k is a per-query window
    * over candidate rows. Zero-norm vectors score null and are
    * filtered, matching the cosine contract. */
  def ivfTopKQuantized(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, nCells: Int, nProbe: Int,
      iters: Int = 2, simDecimals: Int = 4): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells, "need 1 <= nProbe <= nCells")
    val corpusCodes = trainingCodes(corpus, idCol, vecCol)
    val cents = kmeansTrain(corpusCodes, nCells, iters).cents
    val assigned = postingsOf(corpusCodes, cents)
    val topk = probeAndScore(queries, idCol, vecCol, k, nProbe, cents,
      simDecimals)(_ => assigned)
    // training collects are eager; the serve plan still reads the
    // cache, so drop it only after the returned plan's first
    // consumption (unpersisting NOW would recompute the corpus chain
    // inside the serve — measured 0.6 s -> 5.5-8.5 s on the gate);
    // plan-scoped so interleaved unrelated actions cannot evict early
    graft.util.DeferredUnpersist.afterConsumed(
      corpus.sparkSession, topk, corpusCodes)
    topk
  }

  /** `(id, codes)` -> the plain-IVF postings `(id, codes, nsq, cell)`
    * under `cents`: one assignment pass, map-side. */
  private def postingsOf(codes: DataFrame,
      cents: Map[Int, Array[Long]]): DataFrame =
    withAssignedCell(codes, "codes", cents)
      .select(col("id"), col("codes"), nsqOf(col("codes")).as("nsq"),
        col("cell"))

  /** The plain-IVF probe-and-score serve, shared by the one-shot
    * [[ivfTopKQuantized]] and the persistent [[ivfIndexTopK]]: each
    * query's `nProbe` nearest cells under `cents` (exact milli
    * distance, (distance, cell-id) order), broadcast into a join with
    * the candidate postings `(id, codes, nsq, cell)` that `candidates`
    * derives from the query-probe relation, quantized cosine by the
    * exact int dot, and a per-query top-k window. Zero-norm vectors
    * score null and are filtered, matching the cosine contract. */
  private def probeAndScore(queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int, cents: Map[Int, Array[Long]],
      simDecimals: Int)(candidates: DataFrame => DataFrame): DataFrame = {
    require(nProbe >= 1 && nProbe <= cents.size,
      "need 1 <= nProbe <= nCells")
    val qProbes = withProbedCells(
        idCodes(queries, idCol, vecCol)
          .select(col("id").as("query_id"), col("codes").as("qcodes")),
        "qcodes", cents, nProbe)
      .select(col("query_id"), col("qcodes"),
        nsqOf(col("qcodes")).as("qnsq"), col("cell"))
    val scored = broadcast(qProbes).join(candidates(qProbes), Seq("cell"))
      .where(col("id") =!= col("query_id") &&
        col("qnsq") > 0L && col("nsq") > 0L)
      .withColumn("sim", round(
        codesDot(col("qcodes"), col("codes")).cast("double") /
          (sqrt(col("qnsq").cast("double")) * sqrt(col("nsq").cast("double"))),
        simDecimals))
    rankTopK(scored.withColumnRenamed("id", "neighbor_id"), k)
  }

  /** Exact int64 squared norm of an int8 codes vector. */
  private def nsqOf(c: Column): Column =
    aggregate(c, lit(0L), (a, x) => a + x * x)

  /** Exact int64 dot product of two int8 codes vectors. */
  private def codesDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, p) => acc + p)

  /** The persisted centroid table of `snap` as the trained cell ->
    * cent map (dimension-sized BY CONSTRUCTION: nCells x dim longs —
    * the same query-side collect contract as the ANN probe tables).
    * Callers reading several artifacts resolve ONE snapshot first. */
  private def readCentsAt(spark: org.apache.spark.sql.SparkSession,
      path: String, snap: IndexLayout.Snapshot): Map[Int, Array[Long]] =
    spark.read.parquet(path.stripSuffix("/") + "/" + snap.centroids)
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).toMap

  /** Write one index version's coarse centroids: `centroids-v<v>`, a
    * single dimension-sized parquet file. */
  private def writeCents(spark: org.apache.spark.sql.SparkSession,
      path: String, v: Long, cents: Map[Int, Array[Long]]): Unit = {
    import spark.implicits._
    cents.toSeq.sortBy(_._1).map { case (c, cent) => (c, cent.toSeq) }
      .toDF("cell", "cent")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${path.stripSuffix("/")}/centroids-v$v")
  }

  /** Write one index version's residual codebook: `pqcents-v<v>`. */
  private def writePqCents(spark: org.apache.spark.sql.SparkSession,
      path: String, v: Long, rcb: PqCodebook): Unit = {
    import spark.implicits._
    rcb.cents.toSeq.sortBy(_._1)
      .map { case ((j, c), cent) => (j, c, cent.toSeq) }
      .toDF("j", "cell", "cent")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${path.stripSuffix("/")}/pqcents-v$v")
  }

  /** Write one index version's postings, `postings-g<v>` PARTITIONED
    * BY CELL — the on-disk inverted file. Co-located: one shuffle on
    * cell gives ~one file per inverted list instead of one per
    * (task x cell). */
  private def writePostings(postings: DataFrame, path: String,
      v: Long): Unit =
    postings.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"${path.stripSuffix("/")}/postings-g$v")

  /** The snapshot a full (re)build publishes: version `v`'s artifacts,
    * one postings generation, no tombstones. */
  private def freshSnapshot(v: Long, pq: Boolean,
      repoch: Long): IndexLayout.Snapshot =
    IndexLayout.Snapshot(v, s"centroids-v$v",
      if (pq) Some(s"pqcents-v$v") else None,
      Seq(IndexLayout.Gen(s"postings-g$v", Nil)), repoch = repoch)

  /** The live postings relation of the index at `path` (union over
    * postings generations minus superseded cells — see
    * [[IndexLayout]]). Public: the operational observable for specs
    * and store audits. */
  def indexPostings(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    IndexLayout.postingsDf(spark, path, IndexLayout.resolve(spark, path))

  /** The live centroid table of the index at `path`. */
  def indexCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(path.stripSuffix("/") + "/" +
      IndexLayout.resolve(spark, path).centroids)

  /** Live parquet files per cell across the index's postings
    * generations — the compaction pressure observable. */
  def indexPostingsFilesPerCell(spark: org.apache.spark.sql.SparkSession,
      path: String): Map[Int, Long] =
    IndexLayout.filesPerCell(spark, path, IndexLayout.resolve(spark, path))

  /** PERSISTENT IVF INDEX — build. The lakehouse half of
    * [[ivfTopKQuantized]]: train the coarse quantizer on the corpus
    * (same Lloyd loop, same exact-integer arithmetic), then PERSIST
    * the index — centroids as a dimension-sized parquet, postings
    * (id, codes, nsq) PARTITIONED BY CELL, so the on-disk layout IS
    * the inverted file: each probe of a serving query maps to a
    * partition directory, and partition pruning skips every
    * unprobed cell's bytes. Index maintenance then decouples from
    * training: [[ivfIndexAppend]] adds batches without retraining,
    * [[ivfIndexTopK]] serves over whatever the postings hold. */
  def ivfIndexBuild(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iters: Int, path: String): Unit = {
    val spark = corpus.sparkSession
    // single-writer lease (the Dedup-store discipline): a build racing
    // an append/maintain on the same path would silently lose the
    // other writer's postings at overwrite time — make it loud instead
    graft.ops.StoreLock.withLockCtx(spark, path) { ctx =>
    val v = IndexLayout.nextVersion(spark, path)
    val codes = trainingCodes(corpus, idCol, vecCol)
    val coarse = kmeansTrain(codes, nCells, iters)
    writeCents(spark, path, v, coarse.cents)
    // pin the TRAINING-TIME corpus size next to the centroids: index
    // maintenance sizes its retrain cell count from the growth ratio
    // (cells' = cells x sqrt(n_now / n_trained)) — preserving the
    // builder's cells-per-point density choice without re-deriving it
    writeTrainMeta(spark, path, coarse.n, nCells)
    writePostings(postingsOf(codes, coarse.cents), path, v)
    codes.unpersist()
    // atomic publish: readers flip from the previous snapshot (if
    // any) to this one manifest-at-a-time, never mid-write
    IndexLayout.commit(spark, path,
      freshSnapshot(v, pq = false, resetRepoch(spark, path)), ctx.token)
    IndexLayout.gc(spark, path)
    }
  }

  /** Pin `(n, cells)` — the corpus size and cell count the coarse
    * quantizer was trained at — in `train.meta`. Plain overwrite: a
    * crash in its delete-then-write window only costs the pin (the
    * next maintain falls back to the fixed count and re-writes it),
    * never the index. */
  private def writeTrainMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, n: Long, cells: Int): Unit = {
    import spark.implicits._
    Seq((n, cells)).toDF("n", "cells")
      .coalesce(1).write.mode("overwrite").parquet(path + "/train.meta")
  }

  /** PERSISTENT IVF INDEX — incremental append: assign a delta batch
    * under the PERSISTED centroids (no retraining — the point: index
    * maintenance is one map-side pass over the delta plus appends
    * into the touched cells' directories, never a corpus re-scan).
    * Assignment arithmetic is identical to build time, so an
    * appended vector lands exactly where a from-scratch assignment
    * under the same centroids would put it. Centroid drift under
    * heavy append is the documented operational boundary — retrain
    * (rebuild) when the delta fraction warrants it. */
  def ivfIndexAppend(delta: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val spark = delta.sparkSession
    graft.ops.StoreLock.withLock(spark, path) {
      val snap = IndexLayout.resolve(spark, path)
      requireNotTombstoned(delta, idCol, snap, path)
      // additive append into the NEWEST generation (the core layout's
      // file-atomic append): a concurrent reader's snapshot stays
      // complete — it just may not see the newest rows yet; no
      // manifest change needed
      IndexLayout.appendPostings(postingsOf(idCodes(delta, idCol, vecCol),
        readCentsAt(spark, path, snap)), path)
    }
  }

  /** PERSISTENT IVF INDEX — serve: probe the `nProbe` nearest cells
    * per query under the persisted centroids and rank candidates by
    * quantized cosine — [[ivfTopKQuantized]]'s serving leg over the
    * on-disk index. The union of probed cells (query-bounded) is
    * collected and pushed as a STATIC partition filter, so the
    * postings scan reads only probed inverted lists — the layout's
    * payoff, visible as PartitionFilters in the plan. */
  def ivfIndexTopK(queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int, path: String,
      simDecimals: Int = 4): DataFrame =
    // ONE snapshot for centroids AND postings: a maintenance commit
    // racing this serve flips the manifest atomically, so both
    // artifacts here are from the same complete version either way
    ivfIndexTopKAt(queries, idCol, vecCol, k, nProbe, path,
      IndexLayout.resolve(queries.sparkSession, path), simDecimals)

  /** [[ivfIndexTopK]] against an ALREADY-RESOLVED snapshot — the
    * multi-read entry point ([[ivfIndexTopKWithRecall]] compares two
    * serves that must see the SAME index version). */
  private def ivfIndexTopKAt(queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int, path: String,
      snap: IndexLayout.Snapshot, simDecimals: Int): DataFrame = {
    val spark = queries.sparkSession
    probeAndScore(queries, idCol, vecCol, k, nProbe,
        readCentsAt(spark, path, snap), simDecimals) { qProbes =>
      // no cache: the probe derivation is query-side work (bounded by
      // contract) and the result is lazy — a cache here would outlive
      // the call and leak storage memory across serving calls. The
      // distinct-cells collect recomputes it once; the broadcast join
      // recomputes it once more.
      val probed = qProbes.select("cell").distinct()
        .collect().map(_.getInt(0)) // query-bounded by contract
      // the probed-cell filter pushes through the generation Union into
      // every child scan — partition pruning per generation
      IndexLayout.postingsDf(spark, path, snap)
        .filter(col("cell").isin(probed.map(Integer.valueOf): _*))
    }
  }

  /** [[ivfIndexTopK]] with RECALL@K AS AN OBSERVABLE — the index-
    * quality monitor that keeps [[ivfIndexAppend]] honest: appends
    * never retrain, so centroid drift silently erodes probe recall,
    * and without a served metric an operator only notices when users
    * do. For queries in a deterministic sample (`idCol % sampleMod ==
    * 0`; 1 = every query, the gate configuration), the EXACT quantized
    * top-k is computed over the same on-disk postings by probing ALL
    * cells — identical scoring arithmetic, so the ratio isolates
    * exactly what IVF sacrifices (probe pruning), not quantization —
    * and each approx row carries `n_exact`, `n_hit` and
    * `recall_at_k = n_hit / n_exact` (null for unsampled queries).
    * Cost model: the exact pass is one unpruned postings scan for the
    * sampled slice — `sampleMod` is the dial between monitoring
    * fidelity and serving cost; production keeps it large, so the
    * full-scan leg rides on a sliver of the query stream. */
  def ivfIndexTopKWithRecall(queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int, path: String,
      sampleMod: Long = 10L, simDecimals: Int = 4): DataFrame =
    withRecall(queries, idCol, nProbe, path, sampleMod) { (q, np, snap) =>
      ivfIndexTopKAt(q, idCol, vecCol, k, np, path, snap, simDecimals)
    }

  /** The recall@k observable of either index family: `serveAt(q,
    * nProbe, snap)` is the family's snapshot serve. The approx leg
    * serves `queries` at `nProbe`; the exact leg serves the
    * `idCol % sampleMod == 0` sample probing ALL cells of the same
    * snapshot, and each approx row gains `n_exact`, `n_hit` and
    * `recall_at_k` (null for unsampled queries). */
  private def withRecall(queries: DataFrame, idCol: String, nProbe: Int,
      path: String, sampleMod: Long)(
      serveAt: (DataFrame, Int, IndexLayout.Snapshot) => DataFrame): DataFrame = {
    // ONE snapshot for BOTH legs and the cell count: a maintenance /
    // compaction commit (or append) landing between independent
    // resolutions would compare one index version's approx serve
    // against another's exact oracle — recall would spuriously dip
    // (tripping maintain's floor on a healthy index) or read high
    val spark = queries.sparkSession
    val snap = IndexLayout.resolve(spark, path)
    val approx = serveAt(queries, nProbe, snap)
    val nCells = readCentsAt(spark, path, snap).size
    val exact = serveAt(queries.filter(col(idCol) % sampleMod === 0),
      nCells, snap)
    val nEx = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
    val hits = approx
      .join(exact.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    approx
      .join(nEx.join(hits, Seq("query_id"), "left")
          .select(col("query_id"), col("n_exact"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit")),
        Seq("query_id"), "left")
      .withColumn("recall_at_k",
        round(col("n_hit").cast("double") / col("n_exact"), 4))
  }

  /** RETRIEVAL EVAL — MRR / hit-rate / recall of a ranked result list
    * against a relevance table, the offline eval every retrieval /
    * ANN deployment runs. `results` carries `(query_id, rank,
    * neighbor_id)` (any ranker: brute-force, IVF, LSH); `qrels`
    * carries `(query_id, relevant_id)`. Per query:
    *
    *   - `first_rel_rank` — rank of the first relevant hit (0 = none
    *     in the top `k`);
    *   - `rr_bp` — reciprocal rank in basis points, `10000 div
    *     first_rel_rank` (integer floor — exact on both engines; the
    *     mean over queries is MRR x 10000);
    *   - `hits_at_k`, `n_rel`, `recall_bp = hits * 10000 div n_rel`.
    *
    * Scale shape: one semi-join of the (query x k)-bounded result list
    * against the relevance table plus two query-grain aggregates —
    * everything query-bounded, nothing corpus-sized. All-integer
    * outputs, no float tolerance. */
  def retrievalEval(results: DataFrame, qrels: DataFrame,
      k: Int): DataFrame = {
    val nRel = qrels.groupBy("query_id")
      .agg(count(lit(1)).as("n_rel"))
    val rel = results.filter(col("rank") <= k)
      .join(qrels.withColumnRenamed("relevant_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
    val agg = rel.groupBy("query_id")
      .agg(count(lit(1)).as("__hits"), min("rank").as("__frr"))
    nRel.join(agg, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("__frr"), lit(0L)).as("first_rel_rank"),
        when(col("__frr").isNotNull, expr("10000 div __frr"))
          .otherwise(lit(0L)).as("rr_bp"),
        coalesce(col("__hits"), lit(0L)).as("hits_at_k"),
        col("n_rel"),
        expr("coalesce(__hits, 0) * 10000 div n_rel").as("recall_bp"))
  }

  /** Result of one [[ivfIndexMaintain]] pass: recall measured before,
    * whether a retrain fired, and recall re-measured after. */
  final case class IvfMaintainReport(recallBefore: Double,
      retrained: Boolean, recallAfter: Option[Double])

  /** IVF index MAINTENANCE — the drift response that closes the loop
    * [[ivfIndexTopKWithRecall]] opens. Appends never retrain, so a
    * skewed delta stream pulls the data distribution away from the
    * trained centroids and probe recall erodes; this measures served
    * mean recall@k over `queries` (exhaustive sampling — the query
    * set is the monitoring probe, small by the ANN contract), and if
    * it is below `recallFloor`, RETRAINS the coarse quantizer and
    * rebuilds the postings layout — then re-measures.
    *
    * The retrain reads the index's OWN postings (base + every
    * appended delta already live there as int8 codes): the Lloyd loop
    * ([[kmeansTrain]], same exact-integer arithmetic as build) runs
    * over those codes with the same cell count, and the re-assigned
    * postings AND retrained centroids are FULLY materialized to fresh
    * versioned directories before ONE atomic manifest commit flips
    * readers over ([[IndexLayout]]) — no original-corpus re-scan, no
    * reader ever sees a half-written mix or a torn postings/centroids
    * pair, and a crash anywhere pre-commit leaves the old snapshot
    * live (recovery: run maintain again; orphaned fresh dirs are
    * GC'd).
    *
    * Scale shape: recall probes are query-bounded; the retrain is
    * `iters + 1` scans of the postings (the corpus-sized leg — the
    * same cost build paid, only paid when the floor trips). */
  def ivfIndexMaintain(queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int, path: String, recallFloor: Double,
      iters: Int = 2): IvfMaintainReport =
    maintainIndex("ivfIndexMaintain", queries, k, path, recallFloor,
        ivfIndexTopKWithRecall(queries, idCol, vecCol, k, nProbe, path,
          sampleMod = 1L)) { (snap, v) =>
    val spark = queries.sparkSession
    val nCells = readCentsAt(spark, path, snap).size
    val codes = IndexLayout.postingsDf(spark, path, snap)
      .select(col("id"), col("codes"))
      .transform(graft.util.Parallelism.fanOut) // training + assignment
      .cache()
    // ADAPTIVE cell count: appends grow the postings but never the
    // cell count, so after 10x growth each cell holds 10x the points
    // and probe pruning degrades even with re-placed centroids (the
    // classic IVF sizing keeps cells ~ sqrt(n)). Retrain at
    // cells' = cells_at_train x sqrt(n_now / n_at_train) — the
    // builder's density choice, re-applied at the current size; the
    // postings count is already in hand from the cached codes.
    // HYSTERESIS: re-size only when growth has at least QUADRUPLED
    // the trained size (cell count would double) — below that,
    // centroid re-placement alone restores recall, and a re-size
    // would churn the serving nProbe/nCells ratio for nothing. An
    // index predating the train.meta pin retrains at the current
    // count (old behavior) and writes the pin for the next pass.
    val nNow = codes.count()
    val pinned: Option[(Long, Int)] = try {
      val r = spark.read.parquet(path + "/train.meta").head()
      Some((r.getAs[Long]("n"), r.getAs[Int]("cells")))
    } catch { case _: Exception => None }
    val kCells = (pinned match {
      case Some((n0, c0)) if n0 > 0 && nNow >= 4L * n0 =>
        math.max(nCells,
          math.round(c0 * math.sqrt(nNow.toDouble / n0)).toInt)
      case _ => nCells
    }).min(nNow.toInt.max(1))
    if (kCells != nCells)
      log.info(s"ivfIndexMaintain: adaptive retrain $nCells -> $kCells " +
        s"cells ($nNow postings)")
    val cents = kmeansTrain(codes, kCells, iters).cents
    writePostings(postingsOf(codes, cents), path, v)
    codes.unpersist()
    writeCents(spark, path, v, cents)
    // re-pin the training size ONLY when the cell count actually
    // changed (or no pin existed yet): a maintain that merely
    // re-placed centroids must keep the prior (n0, c0) baseline, so
    // the growth ratio stays CUMULATIVE since the last resize —
    // re-pinning every maintain would reset the 4x hysteresis each
    // pass and sub-4x-per-maintain growth would never trigger a
    // resize despite unbounded cumulative growth. Written after the
    // commit: the pin describes the live centroids.
    () => if (kCells != nCells || pinned.isEmpty)
      writeTrainMeta(spark, path, nNow, kCells)
    }

  /** The maintain protocol both index families share: measure served
    * mean recall@k over `queries` (`recall`, the family's recall
    * observable with every query sampled); at or above `recallFloor`, stop. Otherwise, under the
    * single-writer lease — so a concurrent append cannot land between
    * the rebuild's read and the commit and be silently dropped —
    * resolve the live snapshot, let `rebuild(snap, v)` write version
    * `v`'s artifacts to fresh directories, publish them in ONE atomic
    * manifest commit (a serve racing the rebuild reads the old or the
    * new snapshot, never a torn artifact set; a crash before the
    * commit leaves the old snapshot live, orphans GC'd), run the
    * post-commit step `rebuild` returned, and re-measure. The rebuild
    * folds tombstoned ids out and the fresh snapshot resets the list,
    * so the commit bumps the retraction epoch (takedown-replay fence). */
  private def maintainIndex(what: String, queries: DataFrame, k: Int,
      path: String, recallFloor: Double, recall: => DataFrame)(
      rebuild: (IndexLayout.Snapshot, Long) => () => Unit): IvfMaintainReport = {
    require(recallFloor >= 0.0 && recallFloor <= 1.0,
      "recallFloor must be in [0, 1]")
    val spark = queries.sparkSession
    def meanRecall(): Double = {
      val r = recall.select("query_id", "recall_at_k").distinct()
        .agg(avg("recall_at_k")).head()
      if (r.isNullAt(0)) 1.0 else r.getDouble(0)
    }
    val before = meanRecall()
    if (before >= recallFloor) return IvfMaintainReport(before, false, None)
    log.info(f"$what: recall@$k $before%.4f < floor $recallFloor%.4f " +
      f"at $path — rebuilding")
    graft.ops.StoreLock.withLockCtx(spark, path) { ctx =>
      val snap = IndexLayout.resolve(spark, path)
      val v = snap.version + 1
      val afterCommit = rebuild(snap, v)
      // the rebuilt index keeps its family: a residual codebook iff
      // the live snapshot has one
      IndexLayout.commit(spark, path, freshSnapshot(v,
        snap.pqcents.isDefined,
        graft.ops.Tombstones.nextEpoch(snap.repoch, snap.tombstones)),
        ctx.token)
      IndexLayout.gc(spark, path)
      afterCommit()
      val after = meanRecall()
      log.info(f"$what: rebuilt $path — recall@$k " +
        f"$before%.4f -> $after%.4f")
      IvfMaintainReport(before, retrained = true, Some(after))
    }
  }

  /** IVF (inverted-file) approximate top-k — the other classic ANN
    * scale path (Jegou et al. 2011, "Product Quantization for Nearest
    * Neighbor Search", public — the coarse-quantizer half): partition
    * the corpus into `nCells` Voronoi cells around centroids, store an
    * inverted list per cell, and probe only the `nProbe` cells nearest
    * each query.
    *
    * Centroids here are a deterministic evenly-spaced-by-id sample of
    * the corpus (the [[kmeansFitInt8]] training loop refines them
    * without changing the plan shape). Cell assignment and scoring are compiled
    * mapPartitions kernels; the corpus is scanned ONCE to build
    * assignments and once to score — each row only scored when one of
    * its queries probes its cell. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
      simDecimals: Int = 4): DataFrame = {
    val ss = corpus.sparkSession
    import ss.implicits._
    // deterministic centroid sample: id-modulo spaced — only the
    // sampled ROWS are collected (never the corpus; at 100 TB the
    // corpus stays distributed and only nCells vectors reach the
    // driver). A k-means refinement would replace this sample.
    val n = corpus.count()
    val step = math.max(1L, n / nCells)
    val centroids = collectUnitQueries(
      corpus.filter(pmod(col(idCol).cast("long"), lit(step)) === 0), idCol, vecCol)
      .sortBy(_._1).take(nCells).map(_._2)
    val centB = ss.sparkContext.broadcast(centroids)
    def nearestCells(v: Array[Double], m: Int): Array[Int] =
      centB.value.zipWithIndex
        .map { case (c, i) => (dotLoop(c, v), i) }
        .sortBy { case (s, i) => (-s, i) }.take(m).map(_._2)
    // queries: probe list computed driver-side (queries are small)
    val qArr = collectUnitQueries(queries, idCol, vecCol)
      .map { case (qid, qv) => (qid, qv, nearestCells(qv, nProbe)) }
    val qByCell: Map[Int, Array[(Long, Array[Double])]] = qArr
      .flatMap { case (qid, qv, cells) => cells.map(c => (c, (qid, qv))) }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
    val qB = ss.sparkContext.broadcast(qByCell)
    val kk = k; val dec = simDecimals
    // null cv skipped in the kernel (see bruteForceTopK)
    val scored = withUnitVec(corpus, vecCol, "cv")
      .select(col(idCol).cast("long").as("neighbor_id"), col("cv"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val byCell = qB.value
        val heaps = scala.collection.mutable.Map.empty[Long, TopK]
        def heapFor(qid: Long) = heaps.getOrElseUpdate(qid, new TopK(kk))
        it.filter(_._2 != null).foreach { case (cid, cvA) =>
          val cell = {
            // assign this corpus vector to its nearest centroid
            var best = 0; var bestS = Double.NegativeInfinity; var i = 0
            val cs = centB.value
            while (i < cs.length) {
              val s = dotLoop(cs(i), cvA); if (s > bestS) { bestS = s; best = i }
              i += 1
            }
            best
          }
          byCell.getOrElse(cell, Array.empty).foreach { case (qid, qv) =>
            if (qid != cid) {
              val sim = roundHalfUp(dotLoop(qv, cvA), dec)
              heapFor(qid).offer(sim, cid)
            }
          }
        }
        heaps.iterator.flatMap { case (qid, h) =>
          h.iterator.map { case (s, cid) => Scored(qid, cid, s) }
        }
      }
    rankTopK(scored.toDF(), k)
  }

  /** EXACT all-pairs cosine near-dup above `threshold` — brute force,
    * for corpora small enough to cross-join (or as the per-bucket
    * verifier). Oracle-able. */
  final case class DupPair(id_a: Long, id_b: Long, sim: Double)

  def bruteForceNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val ss = df.sparkSession
    import ss.implicits._
    // whole (small) corpus broadcast as arrays; each partition scans its
    // rows against the broadcast side with a compiled dot kernel —
    // O(n^2) work, parallel over partitions, no per-pair array allocs.
    // (This is the exact baseline; the LSH variant is the scale path.)
    val all = collectUnitQueries(df, idCol, vecCol)
    val aB = ss.sparkContext.broadcast(all)
    val thr = threshold
    val par = ss.sparkContext.defaultParallelism
    withUnitVec(df, vecCol, "uv")
      .select(col(idCol).cast("long").as("id_b"), col("uv"))
      .repartition(par)
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val as = aB.value
        // null uv (zero/null vector) skipped here, not by a Filter
        // (see bruteForceTopK)
        it.filter(_._2 != null).flatMap { case (idB, vbA) =>
          as.iterator.collect {
            case (idA, va) if idA < idB =>
              (idA, roundHalfUp(dotLoop(va, vbA), 6))
          }.collect { case (idA, sim) if sim >= thr => DupPair(idA, idB, sim) }
        }
      }
      .toDF()
      .select("id_a", "id_b", "sim")
  }

  /** Symmetric per-vector INT8 quantization — the 100 TB memory lever
    * for embedding search (4x smaller than float32, integer dot
    * products in the kernel): `scale = max|x| / 127`,
    * `code_i = round(x_i / scale)` in [-127, 127]. Codes are EXACT
    * integers, so every downstream aggregate over them is engine-exact
    * by construction; the scale is pinned as a x1e9 bigint. All-zero
    * vectors quantize to all-zero codes with scale 0. HOF arithmetic
    * (interpreted per element) — runs inside the scan projection. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("absmax", array_max(transform(col("v"), x => abs(x))))
      .withColumn("scale", col("absmax") / lit(127.0))
      .select(col(idCol),
        when(col("absmax") === 0.0,
            transform(col("v"), _ => lit(0L)))
          .otherwise(transform(col("v"),
            x => round(x / col("scale"), 0).cast("bigint")))
          .as("codes"),
        round(col("scale") * lit(1e9), 0).cast("bigint").as("scale_x1e9"))

  /** Brute-force top-k over INT8-quantized vectors: the integer-dot
    * serving kernel. Similarity = quantized cosine
    * `dot(codes_a, codes_b) / (|codes_a| * |codes_b|)` — all three
    * inputs exact integers (a 64-dim int8 dot tops out at ~10^6, far
    * inside int64), so the one double division + sqrt is bit-portable.
    * Same bounded-heap mapPartitions shape as [[bruteForceTopK]]:
    * corpus-size work, constant memory, only per-partition winners
    * shuffle. */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, simDecimals: Int = 4): DataFrame = {
    val ss = corpus.sparkSession
    import ss.implicits._
    val qArr = quantizeInt8(queries, idCol, vecCol)
      .select(col(idCol).cast("long"), col("codes"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .filter(_._2.exists(_ != 0L))
    val qB = ss.sparkContext.broadcast(qArr)
    val kk = k; val dec = simDecimals
    // no fan-out: single-pass map kernel, same reasoning as
    // bruteForceTopK — a pre-shuffle of the corpus codes only ever
    // costs (measured r6: 0.64->1.56 s on the one-split fixture scan)
    val scored = quantizeInt8(corpus, idCol, vecCol)
      .select(col(idCol).cast("long").as("neighbor_id"), col("codes"))
      .as[(Long, Array[Long])]
      .mapPartitions { it =>
        val qs = qB.value
        val heaps = qs.map(_ => new TopK(kk))
        it.foreach { case (cid, cc) =>
          var nb = 0L; var i = 0
          while (i < cc.length) { nb += cc(i) * cc(i); i += 1 }
          if (nb != 0L) {
            val nbD = math.sqrt(nb.toDouble)
            var qi = 0
            while (qi < qs.length) {
              val (qid, qc) = qs(qi)
              if (qid != cid) {
                var d = 0L; var na = 0L; var j = 0
                while (j < qc.length) {
                  d += qc(j) * cc(j); na += qc(j) * qc(j); j += 1
                }
                val sim = roundHalfUp(
                  d.toDouble / (math.sqrt(na.toDouble) * nbD), dec)
                heaps(qi).offer(sim, cid)
              }
              qi += 1
            }
          }
        }
        qs.iterator.zipWithIndex.flatMap { case ((qid, _), qi) =>
          heaps(qi).iterator.map { case (s, cid) => Scored(qid, cid, s) }
        }
      }
    rankTopK(scored.toDF(), k)
  }

  /** Corpus augmented with a cosine-identical PLANTED copy of every
    * vector: `id' = id + offset`, `v' = 2v`. Scaling by a power of two
    * is IEEE-exact and distributes over addition (`(2x)^2 = 4x^2`,
    * `sum(4a_i) = 4 sum(a_i)`, `sqrt(4s) = 2 sqrt(s)` — all without
    * rounding), so `v'` unit-normalizes to the BIT-IDENTICAL unit
    * vector and `cos(v, v')` rounds to exactly 1.0 in any engine.
    * Fixture machinery for high-threshold near-dup demos on corpora
    * that lack natural near-dups (this synthetic corpus tops out near
    * cos 0.5): the planted pair set is known in closed form, so an
    * exact SQL oracle can verify the LSH path end-to-end. */
  def plantCosineDups(df: DataFrame, idCol: String, vecCol: String,
      offset: Long): DataFrame =
    df.select(col(idCol), col(vecCol)).union(
      df.select((col(idCol) + offset).as(idCol),
        transform(col(vecCol), x => x * lit(2.0f)).as(vecCol)))

  /** Embedding-cosine near-dup pairs above `threshold`, LSH-bucketed
    * exactly like [[lshTopK]] (no cross join). NOTE: SRP buckets only
    * concentrate pairs whose cosine is well above the corpus background;
    * size `planes` to the threshold regime — P(bit agree) =
    * 1 - acos(sim)/pi, per-pair recall = 1 - (1 - p^planes)^tables.
    * High-sim dedup (cos >= 0.9): planes ~ 10. Moderate thresholds
    * (cos ~ 0.4) need fewer planes and more tables.
    *
    * Scale shape: bucket rows carry IDS ONLY; the deduped candidate
    * pairs re-attach their vectors via two equi-joins against the
    * corpus (NEVER a driver-side collect — the corpus stays
    * distributed), then exact cosine runs in a compiled kernel. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, planes: Int = 10, tables: Int = 10): DataFrame = {
    val planeSets = (0 until tables)
      .map(t => hyperplanes(planes, dimOf(df, vecCol), seed = 42L + t))
    val ss = df.sparkSession
    import ss.implicits._
    // cache: the self-join would otherwise recompute the plane
    // projections on both sides; fan-out guards the single-fixture-
    // split case UNDER the projection kernel (graft.util.Parallelism)
    val b = srpBuckets(graft.util.Parallelism.fanOut(df),
      idCol, vecCol, planeSets).cache()
    val candidates = b.as("a").join(b.as("b2"),
        col("a.t") === col("b2.t") && col("a.b") === col("b2.b") &&
          col("a.id") < col("b2.id"))
      .select(col("a.id").as("id_a"), col("b2.id").as("id_b"))
      .distinct()
    // exact verification: vectors rejoin the (bucket-pruned) candidate
    // set — two shuffles sized by candidates, not corpus^2
    // null va/vb (zero/null vectors) are skipped in the kernel below,
    // not by a Filter (see bruteForceTopK)
    val va = withUnitVec(df, vecCol, "va")
      .select(col(idCol).cast("long").as("id_a"), col("va"))
    val vb = withUnitVec(df, vecCol, "vb")
      .select(col(idCol).cast("long").as("id_b"), col("vb"))
    val thr = threshold
    candidates
      .join(va, Seq("id_a"))
      .join(vb, Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("va"), col("vb"))
      // Array[Double] decodes to primitive double[] — a Seq encoder
      // would box 2 x dim doubles PER CANDIDATE PAIR (GC-bound at
      // millions of candidates)
      .as[(Long, Long, Array[Double], Array[Double])]
      .mapPartitions { it =>
        it.flatMap { case (a2, b2, va2, vb2) =>
          if (va2 == null || vb2 == null) Iterator.empty
          else {
            val sim = roundHalfUp(dotLoop(va2, vb2), 6)
            if (sim >= thr) Iterator.single(DupPair(a2, b2, sim)) else Iterator.empty
          }
        }
      }
      .toDF()
      .select("id_a", "id_b", "sim")
  }

  /** Johnson–Lindenstrauss RANDOM PROJECTION for embedding
    * dimensionality reduction (Achlioptas 2003, "Database-friendly
    * random projections": a dense ±1 sign matrix preserves pairwise
    * distances within 1±ε at dOut = O(log n / ε²)) — the standard
    * pre-ANN shrink for a 100 TB embedding corpus: project once
    * (e.g. 768 → 64), then index/cluster/dedup in the small space at
    * a fraction of the IO and FLOPs, re-scoring survivors in the
    * original space if exactness matters.
    *
    * The sign matrix is DERIVED, never stored:
    * `sign(i, j) = parity of the md5-hex fold of "rp:<seed>:<i>:<j>"`
    * — any engine (including the DuckDB oracle) reproduces the exact
    * matrix from the seed alone, so there is no randomness to
    * coordinate. The projection is one native expression
    * ([[graft.plans.RandomProjectExpr]]) whose matrix rides the task
    * binary, not the plan (plan text stays O(1) in dIn*dOut): per
    * output a sequential left-fold in index order — the same IEEE op
    * sequence in any engine, so downstream scaled-integer checks are
    * hash-exact. Zero-shuffle.
    *
    * Output column: `array<double>` of length `dOut`, the raw signed
    * sums (callers wanting the JL isometry scale by 1/sqrt(dOut)
    * themselves — keeping raw sums keeps the arithmetic
    * engine-exact). */
  def randomProjection(df: DataFrame, vecCol: String, dIn: Int,
      dOut: Int, seed: Long = 0L,
      outCol: String = "projected"): DataFrame = {
    require(dIn > 0 && dOut > 0, "dimensions must be positive")
    df.withColumn(outCol, graft.plans.RandomProjectExpr
      .randomProject(df.sparkSession, col(vecCol), seed, dIn, dOut))
  }

  // ---- Product quantization (PQ / ADC) ---------------------------

  /** A trained PQ codebook: `m` subspaces of `dsub` dims, `ks`
    * centroids per subspace, each centroid on the exact integer
    * MILLI-grid (the [[kmeansFitInt8]] convention — 1000x the int8
    * code space, so Lloyd updates stay engine-exact). */
  final case class PqCodebook(m: Int, dsub: Int, ks: Int,
      cents: Map[(Int, Int), Array[Long]]) {
    require(cents.size == m * ks, s"expected ${m * ks} centroids, got ${cents.size}")
    /** centroids as a dense m x ks x dsub array (cell-indexed). */
    def dense: Array[Array[Array[Long]]] =
      Array.tabulate(m, ks)((j, c) => cents((j, c)))
  }

  /** PQ codebook TRAINING — the fine-quantizer half of Jegou et al.
    * 2011 ("Product Quantization for Nearest Neighbor Search",
    * public; [[ivfTopK]] carries the coarse half). Splits the int8
    * code space into `m` subspaces of `dim/m` dims and runs the SAME
    * engine-exact integer Lloyd loop as [[kmeansFitInt8]] in each —
    * all `m` subspaces train in ONE pass over the corpus per
    * iteration (subspace id rides the exploded row), so training
    * cost is `iters + 1` corpus scans total, NOT per-subspace.
    *
    * Engine-exact by construction (the [[kmeansFitInt8]] contract,
    * re-stated per subspace): int8 codes, milli-grid centroids,
    * exact-int64 squared-L2 distances, argmin ties to the lower cell
    * id, `round((1000.0 * sum(code)) / n)` updates (computed by the
    * shared loop as `round(sum(milli) / n)` — the same value, since
    * integer sums scale exactly), empty cells keep their centroid,
    * seeds = the `ks` lowest-id vectors' subvectors. The whole loop
    * replays as DuckDB CTEs for the hash gate.
    *
    * Scale shape per iteration: the m x ks codebook (m*ks*dsub =
    * ks*dim longs) goes DOWN inside the subspace-assign kernel
    * ([[graft.plans.SubspaceAssignExpr]], one plan node), assignment
    * is a pure map over the exploded (id, subspace) relation, and the
    * update comes UP as one (subspace, cell)-keyed partial-agg
    * shuffle of m*ks dsub-array rows.
    * The corpus is never collected; the driver holds ks*dim longs. */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String,
      m: Int, ks: Int, iters: Int): PqCodebook = {
    require(m >= 1 && ks >= 1 && iters >= 0, "m, ks >= 1; iters >= 0")
    val dim = dimOf(df, vecCol)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val codes = trainingCodes(df, idCol, vecCol)
    // (id, j, sub): every subspace of every vector, one scan; subs are
    // pre-scaled to the milli grid so the generic Lloyd loop's
    // (x - cent)^2 / round(sum / n) arithmetic is bit-identical to the
    // int8-code formulation ((1000x - cent)^2, round(1000 sum / n)) —
    // integer sums scale exactly and both stay far inside 2^53
    val sub = codes.select(col("id"),
        posexplode(array((0 until m).map(j =>
          transform(slice(col("codes"), j * dsub + 1, dsub),
            x => x * lit(1000L))): _*)).as(Seq("j", "sub")))
    val init = codes.orderBy("id").limit(ks).collect()
    require(init.length == ks, s"PQ needs >= $ks vectors, got ${init.length}")
    val seeds: Map[(Int, Int), Array[Long]] = (for {
      (r, c) <- init.zipWithIndex
      full = r.getSeq[Long](1).toArray
      j <- 0 until m
    } yield (j, c) -> full.slice(j * dsub, (j + 1) * dsub).map(_ * 1000L)).toMap
    val cb = PqCodebook(m, dsub, ks, pqLloydLoop(sub, iters, seeds))
    // the Lloyd collects are all eager and the returned codebook is
    // plain driver data — drop the training cache instead of holding
    // executor storage for the session lifetime
    codes.unpersist()
    cb
  }

  /** The grid-generic per-subspace Lloyd loop shared by [[pqTrain]]
    * (milli-scaled int8 subvectors) and [[ivfPqTopK]] (coarse-residual
    * subvectors): `sub` is `(id long, j int, sub array<bigint>)` on
    * whatever integer grid the caller works in; distances are exact
    * int64 squared-L2 on that grid, argmin ties to the lower cell id,
    * updates are `round((1.0 * sum) / n)` (exact-int to double, IEEE
    * division, HALF_UP), empty cells keep their centroid. One corpus
    * scan per iteration covers all subspaces; the update shuffle is
    * m x ks dsub-array rows. */
  private def pqLloydLoop(sub: DataFrame, iters: Int,
      seeds: Map[(Int, Int), Array[Long]]): Map[(Int, Int), Array[Long]] = {
    var cents = seeds
    val dsub = seeds.head._2.length
    for (_ <- 1 to iters) {
      // per-(subspace, cell) vector sums via the native band_sum
      // aggregate — see kmeansTrain: one dsub-array row per (j, cell)
      // through the shuffle instead of a posexplode'd dsub-fold, same
      // integer arithmetic (subs are fixed-width by construction)
      val sums = sub
        .withColumn("cell", graft.plans.CentroidExprs.subspaceAssign(
          sub.sparkSession, col("j"), col("sub"),
          graft.plans.CentroidExprs.encodeSub(cents)))
        .groupBy("j", "cell")
        .agg(count(col("sub")).as("n"),
          graft.plans.BandSumAgg.bandSum(sub.sparkSession,
            col("sub"), dsub).as("sx"))
        .collect() // m x ks rows, each a dsub-array — dimension-sized
        .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getSeq[Long](3)))
        .toMap
      cents = cents.map { case (key, old) =>
        sums.get(key) match {
          case Some((n, sx)) =>
            key -> Array.tabulate(dsub)(d =>
              roundHalfUp(1.0 * sx(d) / n, 0).toLong)
          case None => key -> old // empty cell keeps its centroid
        }
      }
    }
    cents
  }

  /** PQ ENCODE: each vector's int8 codes -> `m` centroid ids (one
    * byte-range int per subspace) under `cb` — the 100 TB storage
    * lever (m bytes/vector vs 4*dim float32; at m=8 over 768 dims,
    * 384x). Compiled mapPartitions kernel (m*ks*dsub int ops/row),
    * codebook rides a broadcast; argmin ties to the lower cell id,
    * exactly [[pqTrain]]'s assignment. All-zero vectors (scale 0)
    * encode like any other — their subcode is the centroid nearest
    * the origin — but carry `nsq = 0` so serving can skip them.
    * Output: `(id, pq_codes array<int>, nsq bigint)` where `nsq` is
    * the exact int64 squared norm of the RAW codes (the serving-side
    * zero guard). */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      cb: PqCodebook): DataFrame = {
    val ss = df.sparkSession
    import ss.implicits._
    val cbB = ss.sparkContext.broadcast(cb.dense)
    val (m, dsub) = (cb.m, cb.dsub)
    idCodes(df, idCol, vecCol)
      .as[(Long, Array[Long])]
      .mapPartitions { it =>
        val cents = cbB.value
        it.map { case (id, cc) =>
          require(cc.length == m * dsub,
            s"vector dim ${cc.length} != codebook dim ${m * dsub}")
          val out = new Array[Int](m)
          var nsq = 0L
          var j = 0
          while (j < m) {
            var best = 0; var bestD = Long.MaxValue
            var c = 0
            while (c < cents(j).length) {
              val cent = cents(j)(c)
              var d = 0L; var p = 0
              while (p < dsub) {
                val diff = 1000L * cc(j * dsub + p) - cent(p)
                d += diff * diff; p += 1
              }
              if (d < bestD) { bestD = d; best = c } // strict: ties keep lower c
              c += 1
            }
            out(j) = best
            var p = 0
            while (p < dsub) {
              val x = cc(j * dsub + p); nsq += x * x; p += 1
            }
            j += 1
          }
          (id, out, nsq)
        }
      }
      .toDF("id", "pq_codes", "nsq")
  }

  /** ADC (asymmetric-distance) top-k over PQ codes — Jegou et al.
    * 2011's serving kernel restated on the house quantized-cosine
    * contract: similarity = `dot(q_milli, x_hat) / (|q_milli| *
    * |x_hat|)` where `q_milli` is the query's int8 codes on the milli
    * grid and `x_hat` is the corpus vector's PQ RECONSTRUCTION
    * (its m assigned centroids concatenated). Every dot/norm is an
    * exact int64 (dim * 127,000 * 127,000 tops out ~1e15 at dim 768
    * — inside int64), so the one double division + two sqrts are
    * bit-portable and the result hash-gates against a DuckDB
    * reconstruction replay.
    *
    * The kernel never touches float vectors: per query it builds the
    * classic ADC lookup tables — `ip(j)(c) = dot(q_sub_j_milli,
    * cent_{j,c})` (m*ks longs) plus the shared centroid norm table —
    * then scores each corpus row with `m` table lookups instead of
    * `dim` multiplies (at m=8, dim=768: 96x fewer ops/row). Same
    * bounded-heap mapPartitions shape as [[quantizedTopK]]: corpus
    * codes stream once, constant memory, only per-partition winners
    * shuffle. Rows with `nsq = 0` (all-zero vectors) are skipped, as
    * are queries whose codes are all zero. */
  def pqTopKEncoded(queries: DataFrame, encoded: DataFrame,
      cb: PqCodebook, idCol: String, vecCol: String, k: Int,
      simDecimals: Int = 4): DataFrame = {
    val ss = encoded.sparkSession
    import ss.implicits._
    val dense = cb.dense
    val (m, dsub, ks) = (cb.m, cb.dsub, cb.ks)
    // shared centroid squared-norm table: cn(j)(c) = |cent_{j,c}|^2
    val cn = Array.tabulate(m, ks) { (j, c) =>
      var s = 0L; var p = 0
      val cent = dense(j)(c)
      while (p < dsub) { s += cent(p) * cent(p); p += 1 }
      s
    }
    // per-query inner-product tables + milli-norms (queries are small
    // by contract — this is the broadcast side)
    val qArr = quantizeInt8(queries, idCol, vecCol)
      .select(col(idCol).cast("long"), col("codes"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .filter(_._2.exists(_ != 0L))
    val qTabs = qArr.map { case (qid, qc) =>
      require(qc.length == m * dsub,
        s"query dim ${qc.length} != codebook dim ${m * dsub}")
      val ip = Array.tabulate(m, ks) { (j, c) =>
        var s = 0L; var p = 0
        val cent = dense(j)(c)
        while (p < dsub) { s += 1000L * qc(j * dsub + p) * cent(p); p += 1 }
        s
      }
      var q2 = 0L; var i = 0
      while (i < qc.length) { q2 += 1000L * qc(i) * 1000L * qc(i); i += 1 }
      (qid, ip, q2)
    }
    val qB = ss.sparkContext.broadcast(qTabs)
    val cnB = ss.sparkContext.broadcast(cn)
    val kk = k; val dec = simDecimals; val mm = m
    val scored = encoded
      .select(col("id").as("neighbor_id"), col("pq_codes"), col("nsq"))
      .as[(Long, Array[Int], Long)]
      .mapPartitions { it =>
        val qs = qB.value
        val cnT = cnB.value
        val heaps = qs.map(_ => new TopK(kk))
        it.foreach { case (cid, codes, nsq) =>
          if (nsq != 0L) {
            // |x_hat|^2: m lookups, exact
            var x2 = 0L; var j = 0
            while (j < mm) { x2 += cnT(j)(codes(j)); j += 1 }
            if (x2 != 0L) {
              val xD = math.sqrt(x2.toDouble)
              var qi = 0
              while (qi < qs.length) {
                val (qid, ip, q2) = qs(qi)
                if (qid != cid) {
                  var d = 0L; var jj = 0
                  while (jj < mm) { d += ip(jj)(codes(jj)); jj += 1 }
                  val sim = roundHalfUp(
                    d.toDouble / (math.sqrt(q2.toDouble) * xD), dec)
                  heaps(qi).offer(sim, cid)
                }
                qi += 1
              }
            }
          }
        }
        qs.iterator.zipWithIndex.flatMap { case ((qid, _, _), qi) =>
          heaps(qi).iterator.map { case (s, cid) => Scored(qid, cid, s) }
        }
      }
    rankTopK(scored.toDF(), k)
  }

  /** End-to-end PQ: train the codebook on the corpus, encode it, and
    * ADC-serve the queries — the gate entry point. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 8, ks: Int = 16, iters: Int = 2,
      simDecimals: Int = 4): DataFrame = {
    val cb = pqTrain(corpus, idCol, vecCol, m, ks, iters)
    val enc = pqEncode(corpus, idCol, vecCol, cb)
    pqTopKEncoded(queries, enc, cb, idCol, vecCol, k, simDecimals)
  }

  /** IVFADC — the COMPLETE Jegou 2011 system: coarse IVF cells prune
    * which rows each query scores ([[ivfTopKQuantized]]'s machinery),
    * and per-subspace RESIDUAL PQ codes compress what is stored and
    * scored (this file's fine half). A corpus vector is held as
    * (cell, m residual-codebook ids): reconstruction =
    * coarse_centroid[cell] + residual_centroid[j][code_j] per
    * subspace, so storage is ~m bytes + a cell id per vector while
    * serving still ranks by quantized cosine of the reconstruction.
    *
    * Residuals live on the SAME exact milli grid as the coarse
    * centroids (`1000*code - cent`, |r| <= 254,000), the residual
    * codebook trains with the identical integer Lloyd loop, and the
    * serve decomposes dot(q, x_hat) = dot(q, coarse) + sum_j
    * ip(j, code_j) and |x_hat|^2 = |coarse|^2 + 2*cross + |r_hat|^2
    * into exact-int64 lookup tables — so the whole
    * coarse-train -> residual-train -> encode -> probe -> serve path
    * hash-gates against a DuckDB reconstruction replay, probe pruning
    * included (`nProbe < nCells`).
    *
    * Scale shape: coarse + residual training are iters corpus scans
    * each (broadcast-down / ks*dim-partial-agg-up); encode is one
    * map-side kernel pass; serving broadcasts query-bounded tables
    * (nCells*m*ks longs of cell/code tables + per-query m*ks LUTs)
    * and streams the code relation once through a bounded-heap
    * kernel. The corpus is never collected. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int = 8, nProbe: Int = 2,
      itersCoarse: Int = 2, m: Int = 4, ks: Int = 4, itersPq: Int = 1,
      simDecimals: Int = 4): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells, "need 1 <= nProbe <= nCells")
    val t = ivfPqTrain(corpus, idCol, vecCol, nCells, itersCoarse, m, ks,
      itersPq)
    val encoded = ivfPqEncodeRes(t.res, t.rcb)
    val served = ivfPqServe(queries, t.coarse, t.rcb, idCol, vecCol, k,
      nProbe, simDecimals)(_ => encoded)
    // training is done (Lloyd collects are eager), but the returned
    // serve plan still reads both caches — drop them once a completed
    // action consumes the serve plan (plan-scoped: see
    // DeferredUnpersist; an eager unpersist recomputed the corpus
    // chain inside the serve, measured 4-10x on the trained-IVF gate)
    graft.util.DeferredUnpersist.afterConsumed(
      corpus.sparkSession, served, t.res, t.codes)
    served
  }

  /** A trained IVFADC model: the cached training codes and coarse
    * residuals (the caller unpersists both), the coarse centroids and
    * the residual codebook. */
  private final case class IvfPqTrained(codes: DataFrame,
      coarse: Map[Int, Array[Long]], res: DataFrame, rcb: PqCodebook)

  /** IVFADC TRAINING, shared by [[ivfPqTopK]] and the persistent
    * builds: the coarse Lloyd loop over the corpus codes, the coarse
    * residuals, and the residual-codebook Lloyd loop over them.
    * `warmCoarse` / `warmRcb` seed the two loops from live artifacts
    * (the drift-rebuild warm start) instead of the lowest-id sample —
    * identical per-iteration arithmetic either way. */
  private def ivfPqTrain(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, itersCoarse: Int, m: Int, ks: Int, itersPq: Int,
      warmCoarse: Option[Map[Int, Array[Long]]] = None,
      warmRcb: Option[PqCodebook] = None): IvfPqTrained = {
    val dim = dimOf(corpus, vecCol)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val codes = trainingCodes(corpus, idCol, vecCol)
    val coarse = kmeansTrain(codes, nCells, itersCoarse, warmCoarse).cents
    val res = ivfPqResiduals(codes, coarse).cache()
    val rcb = ivfPqTrainResidual(res, m, dim / m, ks, itersPq,
      warmRcb.map(_.cents))
    IvfPqTrained(codes, coarse, res, rcb)
  }

  /** Coarse assignment + milli-grid residuals: `(id, codes)` ->
    * `(id, cell, res, nsq)` where `res = 1000*codes - cent[cell]`
    * (exact int64 per dim, |res| <= 254,000) and `nsq` is the raw
    * codes' squared norm (the zero-vector guard). Map-side only. */
  private def ivfPqResiduals(codes: DataFrame,
      coarse: Map[Int, Array[Long]]): DataFrame =
    withCellAndResidual(codes, "codes", coarse)
      .select(col("id"), col("cell"), col("res"), nsqOf(col("codes")).as("nsq"))

  /** Residual PQ codebook: the shared [[pqLloydLoop]] on the residual
    * grid; seeds = the `ks` lowest-id rows' residual subvectors, or
    * `warmSeeds` (the live codebook, for drift-rebuild warm starts). */
  private def ivfPqTrainResidual(res: DataFrame, m: Int, dsub: Int,
      ks: Int, iters: Int,
      warmSeeds: Option[Map[(Int, Int), Array[Long]]]): PqCodebook = {
    val sub = res.select(col("id"),
      posexplode(array((0 until m).map(j =>
        slice(col("res"), j * dsub + 1, dsub)): _*)).as(Seq("j", "sub")))
    val seeds: Map[(Int, Int), Array[Long]] = warmSeeds match {
      case Some(w) =>
        require(w.size == m * ks,
          s"warm residual seeds carry ${w.size} centroids, need ${m * ks}")
        w
      case None =>
        val init = res.orderBy("id").limit(ks).collect()
        require(init.length == ks,
          s"IVFADC needs >= $ks vectors, got ${init.length}")
        (for {
          (r, c) <- init.zipWithIndex
          full = r.getSeq[Long](2).toArray
          j <- 0 until m
        } yield (j, c) -> full.slice(j * dsub, (j + 1) * dsub)).toMap
    }
    PqCodebook(m, dsub, ks, pqLloydLoop(sub, iters, seeds))
  }

  /** Residual argmin encode kernel: `(id, cell, res, nsq)` ->
    * `(id, cell, pq_codes, nsq)`; ties keep the lower cell id
    * (exactly [[pqLloydLoop]]'s assignment). */
  private def ivfPqEncodeRes(res: DataFrame, rcb: PqCodebook): DataFrame = {
    val ss = res.sparkSession
    import ss.implicits._
    val rcbB = ss.sparkContext.broadcast(rcb.dense)
    val mm = rcb.m; val dsubL = rcb.dsub
    res.select(col("id"), col("cell"), col("res"), col("nsq"))
      .as[(Long, Int, Array[Long], Long)]
      .mapPartitions { it =>
        val cents = rcbB.value
        it.map { case (id, cell, rr, nsq) =>
          val out = new Array[Int](mm)
          var j = 0
          while (j < mm) {
            var best = 0; var bestD = Long.MaxValue
            var c = 0
            while (c < cents(j).length) {
              val cent = cents(j)(c)
              var d = 0L; var p = 0
              while (p < dsubL) {
                val diff = rr(j * dsubL + p) - cent(p)
                d += diff * diff; p += 1
              }
              if (d < bestD) { bestD = d; best = c } // ties keep lower c
              c += 1
            }
            out(j) = best
            j += 1
          }
          (id, cell, out, nsq)
        }
      }
      .toDF("id", "cell", "pq_codes", "nsq")
  }

  /** ADC serve over an IVFADC code relation `(id, cell, pq_codes,
    * nsq)` — see [[ivfPqTopK]] for the arithmetic and scale
    * contract. The queries are collected once; `candidates` gets the
    * union of their probed cells and returns the code relation to
    * scan (the persistent index prunes its postings by it). */
  private def ivfPqServe(queries: DataFrame,
      coarse: Map[Int, Array[Long]], rcb: PqCodebook, idCol: String,
      vecCol: String, k: Int, nProbe: Int, simDecimals: Int)(
      candidates: Seq[Int] => DataFrame): DataFrame = {
    val ss = queries.sparkSession
    import ss.implicits._
    val nCells = coarse.size
    val m = rcb.m; val ks = rcb.ks; val dsub = rcb.dsub
    val dim = m * dsub
    val rdense = rcb.dense
    val coarseArr = coarse.toSeq.sortBy(_._1).map(_._2).toArray
    // coarse-centroid norms and coarse-x-residual cross tables
    // (query-independent, nCells + nCells*m*ks longs)
    val cn2 = coarseArr.map { cent =>
      var s = 0L; var i = 0
      while (i < cent.length) { s += cent(i) * cent(i); i += 1 }
      s
    }
    val cross = Array.tabulate(nCells, m, ks) { (cell, j, c) =>
      var s = 0L; var p = 0
      val cc = coarseArr(cell); val rc = rdense(j)(c)
      while (p < dsub) { s += cc(j * dsub + p) * rc(p); p += 1 }
      s
    }
    val rn2 = Array.tabulate(m, ks) { (j, c) =>
      var s = 0L; var p = 0
      val rc = rdense(j)(c)
      while (p < dsub) { s += rc(p) * rc(p); p += 1 }
      s
    }
    // per-query: probed cells (exact milli distance, tie lower cell),
    // dot-with-coarse per cell, residual LUTs, milli norm
    val qArr = idCodes(queries, idCol, vecCol)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .filter(_._2.exists(_ != 0L))
    val qTabs = qArr.map { case (qid, qc) =>
      require(qc.length == dim, s"query dim ${qc.length} != corpus dim $dim")
      val dists = coarseArr.map { cent =>
        var s = 0L; var i = 0
        while (i < cent.length) {
          val diff = 1000L * qc(i) - cent(i); s += diff * diff; i += 1
        }
        s
      }
      val probed = dists.zipWithIndex
        .sortBy { case (d, cell) => (d, cell) }.take(nProbe).map(_._2).toSet
      val dotCoarse = coarseArr.map { cent =>
        var s = 0L; var i = 0
        while (i < cent.length) { s += 1000L * qc(i) * cent(i); i += 1 }
        s
      }
      val ip = Array.tabulate(m, ks) { (j, c) =>
        var s = 0L; var p = 0
        val rc = rdense(j)(c)
        while (p < dsub) { s += 1000L * qc(j * dsub + p) * rc(p); p += 1 }
        s
      }
      var q2 = 0L; var i = 0
      while (i < qc.length) { q2 += 1000L * qc(i) * 1000L * qc(i); i += 1 }
      (qid, probed, dotCoarse, ip, q2)
    }
    val encoded = candidates(qTabs.flatMap(_._2).distinct.sorted.toSeq)
    val qB = ss.sparkContext.broadcast(qTabs)
    val cn2B = ss.sparkContext.broadcast(cn2)
    val crossB = ss.sparkContext.broadcast(cross)
    val rn2B = ss.sparkContext.broadcast(rn2)
    val kk = k; val dec = simDecimals; val mm = m
    // ---- serve: bounded-heap kernel over the code relation -------
    val scored = encoded
      .select(col("id"), col("cell"), col("pq_codes"), col("nsq"))
      .as[(Long, Int, Array[Int], Long)]
      .mapPartitions { it =>
      val qs = qB.value
      val cn2T = cn2B.value; val crossT = crossB.value; val rn2T = rn2B.value
      val heaps = qs.map(_ => new TopK(kk))
      it.foreach { case (cid, cell, pqc, nsq) =>
        if (nsq != 0L) {
          // |x_hat|^2 = |coarse|^2 + 2*cross + |r_hat|^2 — m lookups
          var x2 = cn2T(cell); var j = 0
          while (j < mm) {
            x2 += 2L * crossT(cell)(j)(pqc(j)) + rn2T(j)(pqc(j)); j += 1
          }
          if (x2 > 0L) {
            val xD = math.sqrt(x2.toDouble)
            var qi = 0
            while (qi < qs.length) {
              val (qid, probed, dotCoarse, ip, q2) = qs(qi)
              if (qid != cid && probed.contains(cell)) {
                var d = dotCoarse(cell); var jj = 0
                while (jj < mm) { d += ip(jj)(pqc(jj)); jj += 1 }
                val sim = roundHalfUp(
                  d.toDouble / (math.sqrt(q2.toDouble) * xD), dec)
                heaps(qi).offer(sim, cid)
              }
              qi += 1
            }
          }
        }
      }
      qs.iterator.zipWithIndex.flatMap { case ((qid, _, _, _, _), qi) =>
        heaps(qi).iterator.map { case (s, cid) => Scored(qid, cid, s) }
      }
    }
    rankTopK(scored.toDF(), k)
  }

  /** The persisted residual codebook of `snap` as a [[PqCodebook]]
    * (dimension-sized by construction: m x ks x dsub longs), or a
    * DESCRIPTIVE failure on a plain-IVF store (a bare `.get` would die
    * with an opaque 'None.get' naming neither the path nor the layout
    * mismatch). */
  private def readPqCentsAt(spark: org.apache.spark.sql.SparkSession,
      path: String, snap: IndexLayout.Snapshot): PqCodebook = {
    val dir = path.stripSuffix("/") + "/" + snap.pqcents.getOrElse(
      throw new IllegalStateException(
        s"index at $path carries no residual codebook (plain IVF " +
          "layout?) — expected an IVFADC index"))
    val cents = spark.read.parquet(dir).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Long](2).toArray)
      .toMap
    val m = cents.keys.map(_._1).max + 1
    val ks = cents.keys.map(_._2).max + 1
    PqCodebook(m, cents.head._2.length, ks, cents)
  }

  /** Result of one [[ivfIndexCompact]] pass: cells rewritten and the
    * live file counts before and after. */
  final case class IvfCompactReport(cellsCompacted: Int,
      filesBefore: Long, filesAfter: Long)

  /** PERSISTENT INDEX — cell-scoped postings COMPACTION, the
    * small-files maintenance both on-disk indexes need under
    * always-on append ([[ivfIndexAppend]] / [[ivfPqIndexAppend]] /
    * [[graft.streaming.PipelineStreams.annIndexAppendStream]] each
    * write ~one file per TOUCHED cell per drop, so a long-lived
    * streamed index accretes files without bound — the same disease
    * [[graft.dedup.Dedup]]'s `compactAfterFiles` handles for the
    * dedup stores). Cells whose file count exceeds
    * `maxFilesPerCell` are rewritten to ~one file per inverted list
    * (the builder's layout) in ONE job over the touched cells only —
    * the cell filter is a static partition filter, so untouched
    * cells' bytes are never read and their directories never change.
    * Schema-agnostic: works on both the plain-codes and the
    * PQ-compressed postings layout.
    *
    * Crash/reader contract ([[IndexLayout]]): the rewrite lands in a
    * NEW postings generation and ONE atomic manifest commit flips the
    * heavy cells over (older generations are never touched, only
    * marked excluded) — a reader racing the compaction always scans a
    * complete snapshot, and a crash pre-commit leaves the old
    * snapshot live with the fresh generation orphaned for GC.
    * Value-invisible by construction: serving reads the same rows
    * from fewer files (gated — `q_sim_ann_index_compact` hashes the
    * post-compaction serve against the ordinary index oracle).
    * Generation growth is bounded: past [[IndexLayout.MaxGens]] the
    * pass also folds every non-base generation's live cells (already
    * compact, so the fold is cheap) into the new one.
    * Runs under the single-writer lease like every store mutation. */
  def ivfIndexCompact(ss: org.apache.spark.sql.SparkSession, path: String,
      maxFilesPerCell: Int = 16): IvfCompactReport = {
    require(maxFilesPerCell >= 1, "maxFilesPerCell must be positive")
    import org.apache.hadoop.fs.Path
    val root = path.stripSuffix("/")
    graft.ops.StoreLock.withLockCtx(ss, path) { ctx =>
      val fs = IndexLayout.fsOf(ss, path)
      // migrated stores may carry pre-manifest crash damage: restore
      // any orphaned .cell=*.pre-compact aside before counting files
      IndexLayout.resolve(ss, path).gens.foreach(g =>
        IndexLayout.healLegacyAsides(fs, new Path(s"$root/${g.dir}")))
      // the core partition rewrite does the rest: heavy cells land in
      // a new generation as static-pruned reads of the touched cells
      // only, older generations are excluded (never touched on disk),
      // non-base generations fold past the core's MaxGens bound, and
      // the centroids/codebook artifacts carry forward unchanged
      val r = IndexLayout.compactCells(ss, path, maxFilesPerCell,
        ctx.token)
      if (r.touched.nonEmpty)
        log.info(s"compacted index postings at $path: " +
          s"${r.touched.length} heavy cell(s), " +
          s"${r.filesBefore} -> ${r.filesAfter} files")
      IvfCompactReport(r.touched.length, r.filesBefore, r.filesAfter)
    }
  }

  /** Appending a LIVE-TOMBSTONED id would be silent data loss: the
    * serve filter hides the new rows, and the next maintain rebuild
    * (which reads the tombstone-filtered postings) drops them
    * physically while RESETTING the list — the re-appended vector
    * would vanish entirely. Fail loudly instead; re-ingest a
    * retracted id only after a maintain rebuild has reset the list.
    * Zero cost when no tombstones are live; delta-sized otherwise. */
  private def requireNotTombstoned(delta: DataFrame, idCol: String,
      snap: IndexLayout.Snapshot, path: String): Unit =
    if (snap.tombstones.nonEmpty) {
      val hit = graft.ops.Tombstones.restrict(
          delta.select(col(idCol).cast("long").as("id")), "id",
          snap.tombstones)
        .limit(5).collect().map(_.getLong(0)).distinct.sorted
      if (hit.nonEmpty) throw new IllegalStateException(
        s"index append at $path: delta id(s) ${hit.mkString(", ")} are " +
          "LIVE-TOMBSTONED — appending them would be hidden by the " +
          "serve filter and then dropped permanently by the next " +
          "maintain rebuild. Run a maintain rebuild (which purges and " +
          "resets the tombstone list) before re-ingesting a retracted " +
          "id.")
    }

  /** ANN-index HEALTH, one observable for ingest/serve monitoring
    * (the text index's [[graft.text.TextIndex.health]] twin): live
    * vector/posting grain (tombstone-aware — what a serve can
    * actually retrieve), the trained cell count, the live file
    * pressure that drives [[ivfIndexCompact]], the generation count
    * (fold bound), and the live tombstone backlog (a list nearing
    * [[graft.ops.Tombstones.MaxTombstones]] is a maintain-rebuild
    * prompt). One id-grain aggregation over the live postings; the
    * file/cell numbers come from listings and the dimension-sized
    * centroid artifact, not scans. */
  def annIndexHealth(ss: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    import ss.implicits._
    val snap = IndexLayout.resolve(ss, path)
    val nCells = readCentsAt(ss, path, snap).size
    val files = IndexLayout.filesPerCell(ss, path, snap)
    val r = IndexLayout.postingsDf(ss, path, snap)
      .agg(countDistinct(col("id")).as("v"), count(lit(1)).as("p")).head()
    Seq((r.getLong(0), r.getLong(1), nCells.toLong,
      files.values.sum, files.values.maxOption.getOrElse(0L),
      snap.gens.length.toLong, snap.tombstones.length.toLong))
      .toDF("n_vectors", "n_postings", "n_cells", "live_files",
        "max_files_per_cell", "n_generations", "n_tombstones")
  }

  /** PERSISTENT INDEX — document RETRACTION (takedown/opt-out
    * deletion, a routine training-data operation): tombstone `ids` in
    * the snapshot manifest. A vector's postings live in ONE cell, but
    * finding it means scanning, so retraction is a METADATA-ONLY
    * commit — one atomic manifest write naming the same artifacts
    * plus the extended tombstone list; every serve, recall
    * observable, and postings-fed rebuild reads through
    * [[IndexLayout.postingsDf]], which drops tombstoned ids with a
    * broadcast-sized filter. A racing serve sees the old snapshot or
    * the new one, never a partial state (the ordinary manifest
    * contract). Physical rows fold out at the next maintain rebuild,
    * which also RESETS the list (commits a fresh snapshot); the list
    * is capped ([[graft.ops.Tombstones.MaxTombstones]]) so it stays
    * manifest-sized between maintenances. Ids already tombstoned are
    * skipped (idempotent re-delivery); ids never ingested filter
    * nothing, but they PERMANENTLY consume tombstone-cap slots and
    * inflate the `n_tombstones` health metric until the next
    * vacuum/maintain resets the list — prompting rebuilds earlier
    * than the real backlog warrants. `verifyExists = true` is the
    * guard for a takedown feed that cannot be trusted: every fresh id
    * must have a live posting row (exact here, unlike the text index
    * — every ingested vector has postings), checked with one
    * column-pruned id scan, or the batch is rejected with the store
    * unchanged. Default off — the probe costs an index id-column
    * pass per batch. Works on both the plain-IVF and the IVFADC
    * layout. Runs under the single-writer lease. */
  def annIndexRetract(ss: org.apache.spark.sql.SparkSession, path: String,
      ids: Seq[Long], verifyExists: Boolean = false): Unit =
    graft.ops.StoreLock.withLockCtx(ss, path) { ctx =>
      val snap = IndexLayout.resolve(ss, path)
      val (fresh, all) = graft.ops.Tombstones.merge(
        snap.tombstones, ids, s"annIndexRetract at $path")
      if (fresh.nonEmpty) {
        if (verifyExists) {
          val present = graft.ops.Tombstones.restrict(
              IndexLayout.postingsDfRaw(ss, path, snap).select("id"),
              "id", fresh)
            .distinct().collect().map(_.getLong(0)).toSet
          val missing = fresh.filterNot(present.contains)
          require(missing.isEmpty,
            s"annIndexRetract at $path: id(s) " +
              s"${missing.take(5).mkString(", ")}" +
              s"${if (missing.length > 5) ", …" else ""} have no live " +
              "postings — never ingested or already folded out; " +
              "tombstoning them would permanently burn cap slots and " +
              "inflate the health backlog for nothing. The store is " +
              "unchanged; clean the takedown feed.")
        }
        IndexLayout.commit(ss, path,
          snap.copy(version = snap.version + 1L, tombstones = all),
          ctx.token)
        IndexLayout.gc(ss, path)
        log.info(s"retracted ${fresh.length} id(s) from the index at " +
          s"$path (${all.length} live tombstone(s))")
      }
    }

  /** The retraction epoch the NEXT list-RESETTING commit must carry:
    * the live epoch, bumped iff a list is actually being reset (a
    * reset of an empty list fences nothing and would only churn
    * takedown streams into spurious refusals). */
  private def resetRepoch(ss: org.apache.spark.sql.SparkSession,
      path: String): Long =
    IndexLayout.resolveOpt(ss, path)
      .map(s => graft.ops.Tombstones.nextEpoch(s.repoch, s.tombstones))
      .getOrElse(0L)

  /** The live retraction epoch of the index at `path` — the replay
    * fence a takedown stream records per batch (bumped by every
    * tombstone-list reset: [[annIndexVacuum]], maintain rebuilds,
    * full rebuilds over a tombstoned index). */
  def annRetractEpoch(ss: org.apache.spark.sql.SparkSession,
      path: String): Long =
    IndexLayout.resolve(ss, path).repoch

  /** Physically fold the tombstoned ids OUT of the postings WITHOUT
    * retraining — the cheap middle ground between metadata-only
    * [[annIndexRetract]] and a full maintain rebuild: centroids and
    * codebook are untouched (retraction does not move the geometry),
    * only the cells that actually HOLD tombstoned rows are rewritten
    * (partition-scoped — bounded by the tombstone cap, never
    * index-sized), and the tombstone list is cleared PLUS the
    * retraction epoch bumped in the SAME atomic manifest commit as
    * the fold, so there is no snapshot in which the rows are gone but
    * the fence has not moved. Run it when the backlog nears
    * [[graft.ops.Tombstones.MaxTombstones]] (the takedown streams'
    * `vacuumAfterTombstones` automation calls it), or ahead of a
    * compliance deadline that demands physical deletion (the folded
    * bytes leave disk at the end of the manifest grace window; on a
    * QUIESCENT store close it explicitly with [[annIndexExpire]]).
    * Readers racing the vacuum keep the previous snapshot. Runs
    * under the single-writer lease. */
  def annIndexVacuum(ss: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    graft.ops.StoreLock.withLockCtx(ss, path) { ctx =>
      val snap = IndexLayout.resolve(ss, path)
      if (snap.tombstones.nonEmpty) {
        // a DATALESS snapshot (a prior vacuum folded out every live
        // row, then a metadata-only retract re-tombstoned) must take
        // the metadata-only reset, not readAt's empty-store failure
        val liveOpt = IndexLayout.postingsDfRawOpt(ss, path, snap)
        // the cells holding tombstoned rows: a driver list bounded by
        // the tombstone cap (each id lives in exactly one cell)
        val touched = liveOpt.map(live =>
          graft.ops.Tombstones.restrict(
              live.select("cell", "id"), "id", snap.tombstones)
            .select("cell").distinct()
            .collect().map(_.getInt(0)).toSeq)
          .getOrElse(Seq.empty)
        val tweak = (s: graft.ops.TableLayout.Snapshot) =>
          s.copy(tombstones = Nil, repoch = s.repoch + 1L)
        if (touched.nonEmpty) {
          val replacement = graft.ops.Tombstones.exclude(
            liveOpt.get.filter(col("cell")
              .isin(touched.map(Integer.valueOf): _*)),
            "id", snap.tombstones)
          IndexLayout.replaceCells(ss, path, replacement, touched,
            ctx.token, tweak)
        } else {
          // every tombstoned id already has no physical rows (e.g. a
          // crash after a prior vacuum's fold): metadata-only reset
          IndexLayout.commit(ss, path,
            snap.copy(version = snap.version + 1L, tombstones = Nil,
              repoch = snap.repoch + 1L), ctx.token)
          IndexLayout.gc(ss, path)
        }
        log.info(s"vacuumed ${snap.tombstones.length} tombstoned id(s) " +
          s"out of the ANN index at $path (${touched.length} cell(s) " +
          "rewritten)")
      }
    }

  /** Close the manifest grace window on a QUIESCENT index — the
    * compliance tail of [[annIndexVacuum]]: on a store that no longer
    * ingests, the pre-vacuum manifest (which still reads the folded
    * cell dirs un-excluded) never rotates out, so the folded bytes
    * never leave disk. One `annIndexExpire` after the vacuum retires
    * it and the excluded-partition reap deletes them. See
    * [[graft.ops.TableLayout.expire]] for the reader caveat. */
  def annIndexExpire(ss: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    IndexLayout.expire(ss, path)

  /** PERSISTENT IVFADC INDEX — build: [[ivfIndexBuild]]'s lakehouse
    * layout with PQ-compressed postings. Trains the coarse quantizer
    * and the residual codebook on the corpus, persists both
    * (dimension-sized parquets), and writes postings as
    * `(id, pq_codes, nsq)` PARTITIONED BY CELL — the on-disk layout
    * IS the inverted file AND each posting is ~m small ints instead
    * of a dim-length code vector, so a probed cell's bytes shrink by
    * ~dim/m on top of the partition pruning. */
  def ivfPqIndexBuild(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, itersCoarse: Int, m: Int, ks: Int, itersPq: Int,
      path: String): Unit = {
    val spark = corpus.sparkSession
    // single-writer lease (the Dedup-store discipline) around the
    // three-artifact write + atomic manifest publish — see
    // ivfIndexBuild / IndexLayout
    graft.ops.StoreLock.withLockCtx(spark, path) { ctx =>
      val v = IndexLayout.nextVersion(spark, path)
      ivfPqBuildVersion(corpus, idCol, vecCol, nCells, itersCoarse,
        m, ks, itersPq, path, v, None, None)
      IndexLayout.commit(spark, path,
        freshSnapshot(v, pq = true, resetRepoch(spark, path)), ctx.token)
      IndexLayout.gc(spark, path)
    }
  }

  /** Train + write one IVFADC artifact version (no lease, no manifest
    * — the caller holds the lock and commits): centroids-v`v`,
    * pqcents-v`v`, postings-g`v` under `path`, trained by
    * [[ivfPqTrain]] (warm-started from `warmCoarse` / `warmRcb` when
    * given). */
  private def ivfPqBuildVersion(corpus: DataFrame, idCol: String,
      vecCol: String, nCells: Int, itersCoarse: Int, m: Int, ks: Int,
      itersPq: Int, path: String, v: Long,
      warmCoarse: Option[Map[Int, Array[Long]]],
      warmRcb: Option[PqCodebook]): Unit = {
    val spark = corpus.sparkSession
    val t = ivfPqTrain(corpus, idCol, vecCol, nCells, itersCoarse, m, ks,
      itersPq, warmCoarse, warmRcb)
    writeCents(spark, path, v, t.coarse)
    writePqCents(spark, path, v, t.rcb)
    writePostings(ivfPqEncodeRes(t.res, t.rcb), path, v)
    t.res.unpersist(); t.codes.unpersist()
  }

  /** PERSISTENT IVFADC INDEX — incremental append: assign + encode a
    * delta batch under the PERSISTED coarse centroids and residual
    * codebook (no retraining of either — one map-side pass over the
    * delta, appends into the touched cells' directories). Identical
    * arithmetic to build time, so an appended vector lands exactly
    * where a from-scratch encode under the same artifacts would put
    * it. Codebook drift under heavy append is the documented
    * operational boundary, as for [[ivfIndexAppend]]. */
  def ivfPqIndexAppend(delta: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val spark = delta.sparkSession
    graft.ops.StoreLock.withLock(spark, path) {
      val snap = IndexLayout.resolve(spark, path)
      requireNotTombstoned(delta, idCol, snap, path)
      // additive append into the newest generation — reader-safe,
      // no manifest change (see ivfIndexAppend)
      IndexLayout.appendPostings(ivfPqEncodeRes(
        ivfPqResiduals(idCodes(delta, idCol, vecCol),
          readCentsAt(spark, path, snap)),
        readPqCentsAt(spark, path, snap)), path)
    }
  }

  /** PERSISTENT IVFADC INDEX — serve: probe the `nProbe` nearest
    * cells per query under the persisted artifacts and ADC-rank the
    * probed cells' PQ postings. The probed-cell union is pushed as a
    * STATIC partition filter, so the scan reads only probed inverted
    * lists — and each read byte is PQ-compressed. */
  def ivfPqIndexTopK(queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int, path: String,
      simDecimals: Int = 4): DataFrame =
    // ONE snapshot for all three artifacts: the manifest flip is
    // atomic, so centroids, codebook and postings here are always an
    // internally consistent version (see IndexLayout)
    ivfPqIndexTopKAt(queries, idCol, vecCol, k, nProbe, path,
      IndexLayout.resolve(queries.sparkSession, path), simDecimals)

  /** [[ivfPqIndexTopK]] against an already-resolved snapshot (the
    * recall observable's both-legs-one-version entry point). */
  private def ivfPqIndexTopKAt(queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int, path: String,
      snap: IndexLayout.Snapshot, simDecimals: Int): DataFrame = {
    val spark = queries.sparkSession
    val coarse = readCentsAt(spark, path, snap)
    require(nProbe >= 1 && nProbe <= coarse.size,
      "need 1 <= nProbe <= nCells")
    // the serve's own per-query probe sets give the union (query-
    // bounded), pushed as a static partition filter
    ivfPqServe(queries, coarse, readPqCentsAt(spark, path, snap), idCol,
        vecCol, k, nProbe, simDecimals) { probed =>
      IndexLayout.postingsDf(spark, path, snap)
        .filter(col("cell").isin(probed.map(Integer.valueOf): _*))
    }
  }

  /** IVFADC index MAINTENANCE — the drift response for the
    * PQ-compressed index: measure served recall via
    * [[ivfPqIndexTopKWithRecall]]; below `recallFloor`, REBUILD both
    * quantizers from `corpus` and swap the artifacts in place.
    *
    * Two deliberate asymmetries vs [[ivfIndexMaintain]]:
    *   - the retrain needs the RAW corpus (the lakehouse table the
    *     index serves): PQ postings are lossy, so unlike the plain
    *     IVF index the quantizers cannot retrain from the index's own
    *     codes — training on reconstructions would compound the very
    *     quantization error a retrain exists to re-center;
    *   - the recall observable compares pruned vs ALL-CELLS ADC over
    *     the same postings, so the trigger specifically detects
    *     PROBE-PRUNING decay (appends drifting off the trained
    *     Voronoi structure pile neighbors into unprobed cells) —
    *     exactly the failure mode appends cause.
    *
    * Cell/codebook geometry (nCells, m, ks) is re-read from the
    * persisted artifacts, so a maintain never changes the serving
    * contract. All three rebuilt artifacts land in fresh versioned
    * directories and ONE atomic manifest commit flips readers over
    * ([[IndexLayout]]) — a serve racing the rebuild reads the old or
    * the new snapshot, never a rename hole or a torn artifact trio; a
    * crash pre-commit leaves the old snapshot live (orphans GC'd).
    * `.batches` append markers stay in place, so a checkpointed
    * append stream keeps skipping batches the rebuilt corpus already
    * contains.
    *
    * `warmStart = true` seeds BOTH Lloyd loops from the live
    * centroids/codebook instead of the lowest-id sample: on a
    * drifted-not-shuffled corpus the seeds start near their basins,
    * so the scheduled rebuild spends fewer iterations (the
    * `itersCoarse`/`itersPq` knobs) for equal-or-better post-maintain
    * recall. Default off — the cold path is the hash-gated one.
    *
    * PRECONDITION (enforced, not assumed): `corpus` must contain
    * every live posting id. Because the markers survive the swap, a
    * streamed-append vector missing from `corpus` would be dropped by
    * the rebuild AND never re-delivered — maintain verifies coverage
    * with an ids-only anti-join before spending any training cost and
    * fails loudly on the first uncovered id. */
  def ivfPqIndexMaintain(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int, path: String,
      recallFloor: Double, itersCoarse: Int = 2,
      itersPq: Int = 1, warmStart: Boolean = false): IvfMaintainReport =
    maintainIndex("ivfPqIndexMaintain", queries, k, path, recallFloor,
        ivfPqIndexTopKWithRecall(queries, idCol, vecCol, k, nProbe, path,
          sampleMod = 1L)) { (snap, v) =>
    val spark = queries.sparkSession
    val coarse0 = readCentsAt(spark, path, snap)
    val rcb0 = readPqCentsAt(spark, path, snap)
    log.info(s"ivfPqIndexMaintain: ${coarse0.size} cells, " +
      s"m=${rcb0.m} ks=${rcb0.ks}, warmStart=$warmStart")
    // REBUILD PRECONDITION — corpus covers the live postings: the
    // rebuild re-encodes `corpus` from scratch while the `.batches`
    // append markers stay in place, so a posting id absent from
    // `corpus` (a streamed append the lakehouse table hasn't caught
    // up with) would be dropped from the rebuilt index AND never
    // re-appended by the checkpointed stream — permanent silent
    // loss. Checked BEFORE any training cost; ids-only scan, the
    // collect is limit-bounded.
    val uncovered = IndexLayout.postingsDf(spark, path, snap).select("id")
      .join(corpus.select(col(idCol).cast("long").as("id")),
        Seq("id"), "left_anti")
      .limit(5).collect().map(_.getLong(0))
    if (uncovered.nonEmpty)
      throw new IllegalStateException(
        s"ivfPqIndexMaintain: postings at $path hold ids absent from " +
          s"the rebuild corpus (first ${uncovered.length}: " +
          s"${uncovered.mkString(", ")}) — rebuilding now would drop " +
          "them permanently (append markers block re-delivery). Feed " +
          "a corpus that includes every appended batch, then re-run.")
    // tombstoned ids fold OUT here: the rebuild corpus is the caller's
    // lakehouse table, which still carries retracted docs — encode the
    // live set only, and the fresh snapshot resets the tombstone list
    // (the retraction contract: rebuilds purge physically)
    val liveCorpus = graft.ops.Tombstones.exclude(
      corpus.withColumn("__id64", col(idCol).cast("long")), "__id64",
      snap.tombstones).drop("__id64")
    ivfPqBuildVersion(liveCorpus, idCol, vecCol, coarse0.size,
      itersCoarse, rcb0.m, rcb0.ks, itersPq, path, v,
      if (warmStart) Some(coarse0) else None,
      if (warmStart) Some(rcb0) else None)
    () => ()
    }

  /** [[ivfPqIndexTopK]] with RECALL@K AS AN OBSERVABLE — the
    * [[ivfIndexTopKWithRecall]] monitor for the PQ-compressed index
    * (appends retrain NEITHER quantizer). The exact leg is the
    * all-cells ADC serve over the same postings, so the ratio isolates
    * what probe pruning sacrifices ON TOP of quantization (PQ loss is
    * a rebuild-time property; pruning loss is the serving dial). */
  def ivfPqIndexTopKWithRecall(queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int, path: String,
      sampleMod: Long = 10L, simDecimals: Int = 4): DataFrame =
    withRecall(queries, idCol, nProbe, path, sampleMod) { (q, np, snap) =>
      ivfPqIndexTopKAt(q, idCol, vecCol, k, np, path, snap, simDecimals)
    }
}
