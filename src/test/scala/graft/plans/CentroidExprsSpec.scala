package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.similarity.Similarity

/** The centroid-table kernels against the literal-HOF formulations
  * they replaced (frozen below as the reference): BIT-IDENTICAL
  * cells, probes and residuals (exact int64 distances, (distance,
  * cell) total order — no summation-order drift is even possible);
  * every operator plans the kernels; and the kernels pin the
  * tie/order/null edges the HOF encoded structurally. */
class CentroidExprsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val emb =
    graft.Tables.embeddings(spark, "/root/testdata/sf0.001").cache()

  /** the sf0.001 int8 codes, `(id, codes)` — the operators' input. */
  private lazy val codes = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    .select(col("vec_id").cast("long").as("id"), col("codes"))
    .cache()

  private lazy val codePoints: Array[(Long, Array[Long])] =
    codes.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      .sortBy(_._1)

  // ---- the replaced literal formulations, frozen as the reference --

  /** `__cents`: array<struct<cell INT, cent ARRAY<BIGINT>>>, by cell. */
  private def centsLiteral(cents: Map[Int, Array[Long]]): Column =
    array(cents.toSeq.sortBy(_._1).map { case (c, v) =>
      struct(lit(c).as("cell"), typedlit(v.toSeq).as("cent"))
    }: _*)

  /** argmin over `__cents` by (int64 milli-grid distance, cell):
    * structs order lexicographically, so array_min is the argmin. */
  private def literalAssign(codesCol: String): Column = expr(
    s"""array_min(transform(__cents, ct -> struct(
       |  aggregate(zip_with(`$codesCol`, ct.cent, (x, m) -> (1000 * x - m) * (1000 * x - m)),
       |    CAST(0 AS BIGINT), (a, b) -> a + b) AS d,
       |  ct.cell AS c))).c""".stripMargin)

  private def literalProbes(codesCol: String, nProbe: Int): Column = expr(
    s"""transform(slice(array_sort(transform(__cents, ct -> struct(
       |  aggregate(zip_with(`$codesCol`, ct.cent, (x, m) -> (1000 * x - m) * (1000 * x - m)),
       |    CAST(0 AS BIGINT), (a, b) -> a + b) AS d,
       |  ct.cell AS c))), 1, $nProbe), p -> p.c)""".stripMargin)

  /** `1000*codes - cent[cell]`; needs `cell` = [[literalAssign]]. */
  private def literalResidual(codesCol: String): Column = expr(
    s"""zip_with(`$codesCol`, element_at(filter(__cents, ct -> ct.cell = cell), 1).cent,
       |  (x, mm) -> 1000 * x - mm)""".stripMargin)

  /** per-subspace `__cents`: array<struct<j, cell, cent>>. */
  private def subCentsLiteral(cents: Map[(Int, Int), Array[Long]]): Column =
    array(cents.toSeq.sortBy(_._1).map { case ((j, c), v) =>
      struct(lit(j).as("j"), lit(c).as("cell"), typedlit(v.toSeq).as("cent"))
    }: _*)

  private def literalSubspaceAssign: Column = expr(
    """array_min(transform(filter(__cents, ct -> ct.j = j), ct -> struct(
      |  aggregate(zip_with(sub, ct.cent, (x, mm) -> (x - mm) * (x - mm)),
      |    CAST(0 AS BIGINT), (a, b) -> a + b) AS d,
      |  ct.cell AS c))).c""".stripMargin)

  /** Spark `round(x, 0)` (HALF_UP) — the Lloyd update's rounding. */
  private def roundHalfUp(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  /** Every literal column equals its kernel column on every row of
    * `(id, codes)` under `cents`. */
  private def assertLiteralEqualsKernels(df: DataFrame,
      cents: Map[Int, Array[Long]], nProbe: Int, clue: String): Unit = {
    val flat = CentroidExprs.encode(cents, 1000L)
    val rows = df.withColumn("__cents", centsLiteral(cents))
      .withColumn("cell", literalAssign("codes"))
      .select(col("cell"), literalProbes("codes", nProbe),
        literalResidual("codes"),
        CentroidExprs.assignCell(spark, col("codes"), flat),
        CentroidExprs.probeCells(spark, col("codes"), flat, nProbe),
        CentroidExprs.assignResidual(spark, col("codes"), flat))
      .collect()
    assert(rows.nonEmpty, clue)
    rows.foreach { r =>
      assert(r.getInt(0) == r.getInt(3), s"$clue: assign $r")
      assert(r.getSeq[Int](1) == r.getSeq[Int](4), s"$clue: probes $r")
      assert(r.getStruct(5).getInt(0) == r.getInt(0) &&
        r.getStruct(5).getSeq[Long](1) == r.getSeq[Long](2),
        s"$clue: residual $r")
    }
  }

  test("kmeansFitInt8 assignments are identical literal vs carrier " +
      "(training loop + final assign both reroute)") {
    val (k, iters) = (7, 2)
    // the operator, kernel path
    val fitted = Similarity.kmeansFitInt8(emb, "vec_id", "embedding",
        k = k, iters = iters)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    // Lloyd replayed on the literal assign: seeds = the k lowest-id
    // codes, updates round((1000.0 * sum) / n), empty cells keep theirs
    def literalCells(cents: Map[Int, Array[Long]]): Map[Long, Int] =
      codes.withColumn("__cents", centsLiteral(cents))
        .select(col("id"), literalAssign("codes"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    var cents = codePoints.take(k).zipWithIndex.map { case ((_, v), i) =>
      i -> v.map(_ * 1000L) }.toMap
    for (_ <- 1 to iters) {
      val byCell = literalCells(cents)
      val members = codePoints.groupBy { case (id, _) => byCell(id) }
      cents = cents.map { case (c, old) => members.get(c) match {
        case Some(ms) => c -> Array.tabulate(old.length)(d =>
          roundHalfUp(1000.0 * ms.map(_._2(d)).sum / ms.length))
        case None => c -> old
      } }
    }
    assert(fitted == literalCells(cents).toSeq.sorted)
    assert(fitted.map(_._2).distinct.size > 1, "degenerate clustering")
    // and under the trained table every kernel equals its literal
    assertLiteralEqualsKernels(codes, cents, nProbe = 3, "trained table")
  }

  test("pqTrain codebooks are identical literal vs carrier " +
      "(the per-subspace Lloyd literal reroutes too)") {
    val (m, ks, iters) = (4, 4, 2)
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
      m = m, ks = ks, iters = iters)
    // per-subspace milli-grid rows (id, j, sub), as pqTrain explodes them
    val dsub = codePoints.head._2.length / m
    val subRows = codePoints.toSeq.flatMap { case (id, v) =>
      (0 until m).map(j =>
        (id, j, v.slice(j * dsub, (j + 1) * dsub).map(_ * 1000L).toSeq))
    }
    val sub = {
      import spark.implicits._
      subRows.toDF("id", "j", "sub")
    }
    def literalCells(cents: Map[(Int, Int), Array[Long]]) =
      sub.withColumn("__cents", subCentsLiteral(cents))
        .select(col("id"), col("j"), literalSubspaceAssign)
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    var cents: Map[(Int, Int), Array[Long]] = (for {
      ((_, v), c) <- codePoints.take(ks).zipWithIndex.toSeq
      j <- 0 until m
    } yield (j, c) -> v.slice(j * dsub, (j + 1) * dsub).map(_ * 1000L)).toMap
    for (_ <- 1 to iters) {
      val cell = literalCells(cents)
      val members = subRows.groupBy { case (id, j, _) => (j, cell((id, j))) }
      cents = cents.map { case (key, old) => members.get(key) match {
        case Some(ms) => key -> Array.tabulate(dsub)(d =>
          roundHalfUp(1.0 * ms.map(_._3(d)).sum / ms.length))
        case None => key -> old
      } }
    }
    def norm(c: Map[(Int, Int), Array[Long]]) =
      c.toSeq.sortBy(_._1).map { case (key, v) => (key, v.toSeq) }
    assert(norm(cb.cents) == norm(cents))
    // and under the trained codebook the kernel equals the literal
    val rows = sub.withColumn("__cents", subCentsLiteral(cb.cents))
      .select(literalSubspaceAssign, CentroidExprs.subspaceAssign(spark,
        col("j"), col("sub"), CentroidExprs.encodeSub(cb.cents)))
      .collect()
    assert(rows.length == subRows.length)
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1), s"subspace $r"))
  }

  test("literal assign, probe and residual equal the kernels on " +
      "randomized tie tables") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261019L)
    for (round <- 1 to 12) {
      val dim = 1 + rnd.nextInt(6)
      val nCells = 1 + rnd.nextInt(7)
      // sparse value pool FORCES distance ties (the tie-break edge)
      val pool = Array(-254000L, -1000L, 0L, 1000L, 254000L)
      val cents = (0 until nCells).map { i =>
        (i * 3 + rnd.nextInt(2)) ->
          Array.fill(dim)(pool(rnd.nextInt(pool.length)))
      }.toMap
      val df = Seq.tabulate(8)(i => (i.toLong,
          Seq.fill(dim)(Seq(-254L, -127L, -1L, 0L, 1L, 127L, 254L)(rnd.nextInt(7)))))
        .toDF("id", "codes")
      assertLiteralEqualsKernels(df, cents, 1 + rnd.nextInt(nCells),
        s"round $round")
    }
  }

  test("operators plan the native kernels, no centroid-table HOF") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction}
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.types.{ArrayType, StructType}
    def exprs(p: LogicalPlan): Seq[Expression] =
      p.collect { case n => n.expressions }.flatten.flatMap(_.collect { case e => e })
    // the literal paths' HOFs walked an array<struct> centroid table
    def tableHofs(p: LogicalPlan): Seq[String] = exprs(p).collect {
      case h: HigherOrderFunction if h.arguments.exists(_.dataType match {
        case ArrayType(_: StructType, _) => true
        case _ => false
      }) => h.prettyName
    }
    def kernels(p: LogicalPlan): Set[String] = exprs(p).collect {
      case k: CentroidKernelExpr => k.prettyName
      case k: SubspaceAssignExpr => k.prettyName
      case k: RandomProjectExpr => k.prettyName
    }.toSet
    val qs = emb.filter(col("vec_id") < 8)
    val plans = Seq(
      "kmeansFitInt8" -> Similarity.kmeansFitInt8(emb, "vec_id",
        "embedding", k = 8, iters = 2),
      "ivfTopKQuantized" -> Similarity.ivfTopKQuantized(qs, emb, "vec_id",
        "embedding", k = 5, nCells = 8, nProbe = 3, iters = 2),
      "ivfPqTopK" -> Similarity.ivfPqTopK(qs, emb, "vec_id", "embedding",
        k = 5, nCells = 8, nProbe = 2, itersCoarse = 2, m = 4, ks = 4,
        itersPq = 1)
    ).map { case (name, df) =>
      val p = df.queryExecution.analyzed
      assert(df.collect().nonEmpty, name) // consume: releases its caches
      name -> p
    }
    val expected = Map(
      "kmeansFitInt8" -> Set("graft_assign_cell"),
      "ivfTopKQuantized" -> Set("graft_assign_cell", "graft_probe_cells"),
      "ivfPqTopK" -> Set("graft_assign_residual"))
    plans.foreach { case (name, p) =>
      assert(expected(name).subsetOf(kernels(p)), s"$name kernels: $p")
      assert(tableHofs(p).isEmpty, s"$name runs ${tableHofs(p)}: $p")
    }
    // pqTrain returns driver data: read its Lloyd queries off a listener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        seen.add(qe.analyzed)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    // earlier actions' events must not reach the new listener
    org.apache.spark.graft.ListenerBusSync.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      Similarity.pqTrain(emb, "vec_id", "embedding", m = 4, ks = 4, iters = 2)
      org.apache.spark.graft.ListenerBusSync.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val pq = seen.toArray(Array.empty[LogicalPlan]).toSeq
    assert(pq.count(kernels(_).contains("graft_subspace_assign")) == 2,
      s"one subspace-assign query per Lloyd iteration: $pq")
    assert(pq.forall(tableHofs(_).isEmpty), pq)
    // the q_emb_project shape: no HOF at all, the projection kernel
    val proj = Similarity.randomProjection(emb, "embedding", 64, 16)
      .queryExecution.analyzed
    assert(kernels(proj) == Set("random_project"), proj)
    assert(exprs(proj).collect { case h: HigherOrderFunction => h }.isEmpty,
      proj)
  }

  test("a null element in an embedding fails kmeansFitInt8 loudly; " +
      "a null codes vector assigns a null cell") {
    val poisoned = emb.filter(col("vec_id") < 20)
      .withColumn("embedding", when(col("vec_id") === 19,
          transform(col("embedding"),
            (x, i) => when(i === 5, lit(null)).otherwise(x)))
        .otherwise(col("embedding")))
    val ex = intercept[Exception] {
      Similarity.kmeansFitInt8(poisoned, "vec_id", "embedding",
        k = 3, iters = 1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).toSeq
    assert(messages(ex).exists(_.contains("null element")), s"got: $ex")
    import spark.implicits._
    val cells = Similarity.withAssignedCell(
        Seq((1L, Seq(1L, 2L)), (2L, null)).toDF("id", "codes"), "codes",
        Map(0 -> Array(0L, 0L), 1 -> Array(1000L, 2000L)))
      .orderBy("id").select("cell").collect()
    assert(cells(0).getInt(0) == 1)
    assert(cells(1).isNullAt(0))
  }

  test("subspaceAssign: argmin per subspace, ties to the lower cell") {
    import spark.implicits._
    val cb = CentroidExprs.encodeSub(Map(
      (0, 0) -> Array(0L, 0L), (0, 1) -> Array(2L, 0L),
      (1, 0) -> Array(9L, 9L), (1, 1) -> Array(1L, 1L)))
    val df = Seq((0, Seq(1L, 0L)), (1, Seq(1L, 1L)), (1, Seq(0L, 0L)))
      .toDF("j", "sub")
    val out = df.select(CentroidExprs.subspaceAssign(spark,
        col("j"), col("sub"), cb))
      .collect().map(_.getInt(0)).toSeq
    // (1,0) in j=0 ties cells 0 and 1 (d=1 both) -> lower cell 0;
    // (1,1) in j=1 is exactly cell 1; (0,0) in j=1 is nearer cell 1
    assert(out == Seq(0, 1, 1), s"got $out")
    val ex = intercept[Exception] {
      Seq((7, Seq(1L, 1L))).toDF("j", "sub")
        .select(CentroidExprs.subspaceAssign(spark,
          col("j"), col("sub"), cb)).collect()
    }
    assert(ex.getMessage.contains("subspace 7") ||
      Option(ex.getCause).exists(_.getMessage.contains("subspace 7")),
      s"got: $ex")
  }

  // ---- kernel edges, asserted directly on the expressions --------

  private def tinyDf(rows: Seq[(Long, Seq[java.lang.Long])]) = {
    import spark.implicits._
    rows.toDF("id", "codes")
  }

  private val table = CentroidExprs.encode(Map(
    0 -> Array(0L, 0L), 2 -> Array(2000L, 0L), 5 -> Array(0L, 2000L)),
    scale = 1000L)

  test("assign ties break to the LOWER cell id (HOF array_min order)") {
    // (1, 1) milli = (1000, 1000): equidistant to all three centroids
    val out = tinyDf(Seq((1L, Seq(1L, 1L))))
      .select(CentroidExprs.assignCell(spark, col("codes"), table))
      .head.getInt(0)
    assert(out == 0)
    // nudge toward cell 5: (0, 1) is distance-tied between 0 and 5
    // only after scaling — check a genuine non-tie too
    val out2 = tinyDf(Seq((1L, Seq(0L, 2L))))
      .select(CentroidExprs.assignCell(spark, col("codes"), table))
      .head.getInt(0)
    assert(out2 == 5)
  }

  test("probes order by (distance, cell) ascending and cap at nCells") {
    val out = tinyDf(Seq((1L, Seq(1L, 1L))))
      .select(CentroidExprs.probeCells(spark, col("codes"), table, 5))
      .head.getSeq[Int](0)
    assert(out == Seq(0, 2, 5), s"got $out") // all tied -> cell order
    val near5 = tinyDf(Seq((1L, Seq(0L, 2L))))
      .select(CentroidExprs.probeCells(spark, col("codes"), table, 2))
      .head.getSeq[Int](0)
    assert(near5.head == 5 && near5.size == 2, s"got $near5")
  }

  test("assignResidual returns the argmin cell and scale*x - cent") {
    val row = tinyDf(Seq((1L, Seq(0L, 2L))))
      .select(CentroidExprs.assignResidual(spark, col("codes"), table)
        .as("cr"))
      .select(col("cr.cell"), col("cr.res")).head
    assert(row.getInt(0) == 5)
    assert(row.getSeq[Long](1) == Seq(0L, 0L)) // 1000*2 - 2000
  }

  test("kernels hold against a brute-force reference on randomized " +
      "tables (ties, negatives, milli extremes)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    for (round <- 1 to 25) {
      val dim = 1 + rnd.nextInt(6)
      val nCells = 1 + rnd.nextInt(7)
      // sparse value pool FORCES distance ties (the tie-break edge)
      val pool = Array(-254000L, -1000L, 0L, 1000L, 254000L)
      val cents = (0 until nCells).map { i =>
        // non-contiguous cell ids exercise the id-carrying encode
        (i * 3 + rnd.nextInt(2)) ->
          Array.fill(dim)(pool(rnd.nextInt(pool.length)))
      }.toMap
      val flat = CentroidExprs.encode(cents, scale = 1000L)
      val codes = Array.fill(dim)((rnd.nextInt(255) - 127).toLong)
      // reference: direct (distance, cell) total order over the map
      val scored = cents.toSeq.map { case (c, cent) =>
        val d = (0 until dim).map { i =>
          val diff = 1000L * codes(i) - cent(i); diff * diff
        }.sum
        (d, c)
      }.sorted
      val expectAssign = scored.head._2
      val nProbe = 1 + rnd.nextInt(nCells)
      val expectProbes = scored.take(nProbe).map(_._2)
      val expectRes = cents(expectAssign).zip(codes)
        .map { case (m, x) => 1000L * x - m }.toSeq
      val row = Seq(Tuple1(codes.toSeq)).toDF("codes")
        .select(
          CentroidExprs.assignCell(spark, col("codes"), flat).as("a"),
          CentroidExprs.probeCells(spark, col("codes"), flat, nProbe).as("p"),
          CentroidExprs.assignResidual(spark, col("codes"), flat).as("r"))
        .head
      assert(row.getInt(0) == expectAssign, s"round $round assign")
      assert(row.getSeq[Int](1) == expectProbes, s"round $round probes")
      assert(row.getStruct(2).getInt(0) == expectAssign &&
        row.getStruct(2).getSeq[Long](1) == expectRes, s"round $round res")
    }
  }

  test("kernels compile in generated code (no silent interpreted " +
      "fallback): results correct with codegen.fallback=false") {
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val subTab = CentroidExprs.encodeSub(Map(
        (0, 0) -> Array(0L, 0L), (0, 1) -> Array(9L, 9L)))
      val row = tinyDf(Seq((1L, Seq(0L, 2L))))
        .select(
          CentroidExprs.assignCell(spark, col("codes"), table).as("a"),
          CentroidExprs.probeCells(spark, col("codes"), table, 2).as("p"),
          CentroidExprs.assignResidual(spark, col("codes"), table).as("r"),
          CentroidExprs.subspaceAssign(spark, lit(0), col("codes"), subTab)
            .as("s"))
        .head
      assert(row.getInt(0) == 5)
      assert(row.getSeq[Int](1).head == 5)
      assert(row.getStruct(2).getInt(0) == 5)
      assert(row.getInt(3) == 0) // (0,2) nearer (0,0) than (9,9)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("null vector -> null; wrong dim and null element fail loudly") {
    val n = tinyDf(Seq((1L, null)))
      .select(CentroidExprs.assignCell(spark, col("codes"), table))
      .head
    assert(n.isNullAt(0))
    val exDim = intercept[Exception] {
      tinyDf(Seq((1L, Seq(1L, 2L, 3L))))
        .select(CentroidExprs.assignCell(spark, col("codes"), table))
        .collect()
    }
    assert(exDim.getMessage.contains("2 dims") ||
      Option(exDim.getCause).exists(_.getMessage.contains("2 dims")),
      s"got: $exDim")
    val exNull = intercept[Exception] {
      tinyDf(Seq((1L, Seq(1L, null))))
        .select(CentroidExprs.assignCell(spark, col("codes"), table))
        .collect()
    }
    assert(exNull.getMessage.contains("null element") ||
      Option(exNull.getCause).exists(_.getMessage.contains("null element")),
      s"got: $exNull")
  }

  test("structurally equal kernels canonicalize equal (content-based " +
      "table equality enables CSE / exchange reuse)") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal}
    import org.apache.spark.sql.types._
    val attr = AttributeReference("codes",
      ArrayType(LongType, containsNull = true))()
    // two INDEPENDENT encodes of the same map -> distinct arrays with
    // equal content; reference equality would report these unequal
    val cents = Map(0 -> Array(1L, 2L), 3 -> Array(7L, -4L))
    def mk() = CentroidExprs.wrapFlat(CentroidExprs.encode(cents, 1000L))
    val a1 = AssignCellExpr(attr, mk())
    val a2 = AssignCellExpr(attr, mk())
    assert(a1 == a2 && a1.hashCode == a2.hashCode,
      "equal-content kernels must compare equal")
    assert(a1.semanticEquals(a2),
      "equal-content kernels must be semantically equal")
    assert(a1.canonicalized == a2.canonicalized)
    val p1 = ProbeCellsExpr(attr, mk(), nProbe = 2)
    assert(p1.semanticEquals(ProbeCellsExpr(attr, mk(), nProbe = 2)))
    assert(!p1.semanticEquals(ProbeCellsExpr(attr, mk(), nProbe = 1)))
    val r1 = AssignResidualExpr(attr, mk())
    assert(r1.semanticEquals(AssignResidualExpr(attr, mk())))
    // different table content must NOT compare equal
    val other = CentroidExprs.wrapFlat(
      CentroidExprs.encode(Map(0 -> Array(9L, 9L), 3 -> Array(7L, -4L)), 1000L))
    assert(!a1.semanticEquals(AssignCellExpr(attr, other)))
    val j = AttributeReference("j", IntegerType)()
    val subTable = Map((0, 0) -> Array(1L), (0, 1) -> Array(5L))
    def mkSub() = CentroidExprs.wrapFlat(CentroidExprs.encodeSub(subTable))
    val s1 = SubspaceAssignExpr(j, attr, mkSub())
    assert(s1.semanticEquals(SubspaceAssignExpr(j, attr, mkSub())))
    // and the kernel still evaluates correctly through the wrapper
    val row = org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(1L, 2L)))
    assert(AssignCellExpr(
      Literal.create(Seq(1L, 2L), ArrayType(LongType)), mk())
      .eval(row) == 0)
  }
}
