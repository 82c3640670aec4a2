package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Coarse-centroid CELL-ASSIGNMENT kernels — the one implementation
  * behind [[graft.similarity.Similarity]]'s assign, probe, residual
  * and PQ-subspace assign steps. The centroid table rides the
  * EXPRESSION OBJECT (broadcast to executors once per stage via the
  * task binary) instead of the plan, the [[RandomProjectExpr]] /
  * [[BpeSegmentExpr]] pattern: the plan carries ONE node whatever the
  * table size, where an inlined `array(struct(cell, cent), ...)`
  * literal would put one tree node per centroid coefficient into
  * every plan copy and optimizer pass (and, in the Lloyd loop,
  * rebuild it every iteration) — the production cell counts the
  * adaptive sizing implies (cells ~ sqrt(n): 10^4-10^5 cells x
  * 512-1024 dims at 10^8-10^9 vectors) are 10^7-10^8 longs.
  *
  * ARITHMETIC IS EXACT: distances are int64 sums of
  * `(scale*x_d - cent_d)^2` and all candidates are totally ordered by
  * `(distance, cell id)` — integer arithmetic has no summation-order
  * drift, so any engine replaying the same order (the DuckDB oracle
  * does) gets the same cells. An early-abandon cutoff (stop
  * accumulating a cell's distance once it exceeds the current best)
  * is safe for the same reason: terms are non-negative, the final
  * comparison is on exact values.
  *
  * The table is FLAT-ENCODED as one `Array[Long]`
  * (`[nCells, dim, scale, cell_0, cent_0 x dim, cell_1, ...]`, cells
  * ascending — [[CentroidExprs.encode]]); the Column entry points
  * pass it through `call_function` as ONE array literal that the
  * registered builder consumes at resolution time, so even the
  * pre-analysis plan carries a single node for it.
  *
  * Null semantics: a NULL codes vector yields NULL (these columns are
  * produced by quantizeInt8 from non-null embeddings; NULL passes
  * through rather than inventing a cell). A NULL element or a
  * dim-mismatched vector fails loudly — a code vector never carries
  * a null element, and a wrong-dim vector reaching cell assignment
  * is always a bug upstream. */
object CentroidExprs {

  /** Flat-encode a cell -> centroid map (cells ascending). `scale` is
    * the code-grid multiplier inside the distance (1000 for the int8
    * milli-grid convention; 1 for pre-scaled grids). */
  def encode(cents: Map[Int, Array[Long]], scale: Long): Array[Long] = {
    require(cents.nonEmpty, "empty centroid table")
    val dim = cents.head._2.length
    require(cents.values.forall(_.length == dim),
      "ragged centroid table")
    val sorted = cents.toSeq.sortBy(_._1)
    val out = new Array[Long](3 + sorted.size * (1 + dim))
    out(0) = sorted.size; out(1) = dim; out(2) = scale
    var o = 3
    sorted.foreach { case (c, v) =>
      out(o) = c; o += 1
      System.arraycopy(v, 0, out, o, dim); o += dim
    }
    out
  }

  /** Flat-encode a per-subspace codebook map ((j, c) -> centroid,
    * j in [0, m), c in [0, ks), each `dsub` long) for
    * [[SubspaceAssignExpr]]: `[m, ks, dsub, cents (j, c)-major]`.
    * The caller pre-scales the grid (scale is folded into the
    * subvectors, matching pqLloydLoop's convention). */
  def encodeSub(cents: Map[(Int, Int), Array[Long]]): Array[Long] = {
    require(cents.nonEmpty, "empty codebook")
    val m = cents.keys.map(_._1).max + 1
    val ks = cents.keys.map(_._2).max + 1
    val dsub = cents.head._2.length
    require(cents.size == m * ks, s"expected $m x $ks centroids")
    require(cents.values.forall(_.length == dsub), "ragged codebook")
    val out = new Array[Long](3 + m * ks * dsub)
    out(0) = m; out(1) = ks; out(2) = dsub
    cents.foreach { case ((j, c), v) =>
      System.arraycopy(v, 0, out, 3 + (j * ks + c) * dsub, dsub)
    }
    out
  }

  /** Decoded view shared by the three kernels. */
  private[plans] final class Table(flat: Array[Long]) {
    val nCells: Int = flat(0).toInt
    val dim: Int = flat(1).toInt
    val scale: Long = flat(2)
    val cellIds: Array[Int] = Array.tabulate(nCells)(i =>
      flat(3 + i * (1 + dim)).toInt)
    /** centroids packed contiguously, cell-encode-order-major. */
    val cents: Array[Long] = {
      val a = new Array[Long](nCells * dim)
      var i = 0
      while (i < nCells) {
        System.arraycopy(flat, 3 + i * (1 + dim) + 1, a, i * dim, dim)
        i += 1
      }
      a
    }

    def codesOf(input: Any, what: String): Array[Long] = {
      val v = input.asInstanceOf[ArrayData]
      if (v.numElements() != dim)
        throw new IllegalArgumentException(
          s"$what: vector has ${v.numElements()} elements, the " +
            s"centroid table has $dim dims")
      val x = new Array[Long](dim)
      var d = 0
      while (d < dim) {
        if (v.isNullAt(d)) // loud by design — never a real code vector
          throw new IllegalArgumentException(
            s"$what: null element at position $d")
        x(d) = v.getLong(d); d += 1
      }
      x
    }

    /** exact int64 squared distance of `x` to encode-order cell `i`,
      * abandoning early once it exceeds `cut` (safe: non-negative
      * terms, final order decided on exact values). */
    def dist(x: Array[Long], i: Int, cut: Long): Long = {
      val base = i * dim
      var s = 0L; var d = 0
      while (d < dim && s < cut) {
        val diff = scale * x(d) - cents(base + d)
        s += diff * diff; d += 1
      }
      s
    }

    /** argmin by (distance, cell id) — ties keep the lower cell id
      * because encode order is ascending and the comparison strict. */
    def assign(x: Array[Long]): Int = {
      var best = 0; var bestD = dist(x, 0, Long.MaxValue)
      var i = 1
      while (i < nCells) {
        val d = dist(x, i, bestD)
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      cellIds(best)
    }

    /** the `n` nearest cells by (distance, cell id) ascending — the
      * order of slice(array_sort(struct(d, c)), 1, n) in SQL. */
    def probes(x: Array[Long], n: Int): Array[Int] = {
      val k = math.min(n, nCells)
      // selection over (d, cell) pairs; nCells-bounded scratch
      val ds = new Array[Long](nCells)
      var i = 0
      while (i < nCells) { ds(i) = dist(x, i, Long.MaxValue); i += 1 }
      val idx = Array.range(0, nCells)
        .sortBy(i => (ds(i), cellIds(i))).take(k)
      idx.map(cellIds)
    }
  }

  /** The carrier field type: CONTENT-equal (so two structurally
    * identical kernels compare equal — a raw `Array[Long]` case-class
    * field is reference-equal, which defeats Catalyst canonicalization
    * / semanticEquals-driven subexpression elimination and exchange
    * reuse) with the costs bounded for the table sizes this carrier
    * exists for (10^7-10^8 longs):
    *   - hashCode is computed ONCE and cached (Catalyst touches
    *     expression hashes many times per plan during analysis and
    *     optimization — an uncached content hash would walk the whole
    *     table each touch);
    *   - equals short-circuits on reference, then on the cached
    *     hashes, before any content compare;
    *   - toString is O(1), so plan/treeString rendering never inlines
    *     the table. The raw array stays reachable zero-copy for the
    *     kernels. */
  final class FlatTable(val arr: Array[Long]) extends Serializable {
    @transient private var h: Int = 0
    override def hashCode: Int = {
      var x = h
      if (x == 0) {
        x = java.util.Arrays.hashCode(arr)
        if (x == 0) x = 1 // 0 marks "not yet computed"
        h = x // idempotent benign race
      }
      x
    }
    override def equals(o: Any): Boolean = o match {
      case t: FlatTable => (this eq t) ||
        (hashCode == t.hashCode && java.util.Arrays.equals(arr, t.arr))
      case _ => false
    }
    override def toString: String = s"FlatTable(${arr.length} longs)"
  }

  private[plans] def wrapFlat(a: Array[Long]): FlatTable =
    new FlatTable(a)

  private[plans] def flatArrayOf(t: FlatTable): Array[Long] = t.arr

  private def flatOf(e: Expression): FlatTable =
    wrapFlat(e.eval().asInstanceOf[ArrayData].toLongArray())

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // builders are PURE (the table arrives as a literal argument, not
    // via capture), so registration is idempotent — the exists-guard
    // only silences the replaced-function log noise
    if (reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_assign_cell")))
      return
    reg.createOrReplaceTempFunction("graft_assign_cell",
      exprs => AssignCellExpr(exprs(0), flatOf(exprs(1))), "scala_udf")
    reg.createOrReplaceTempFunction("graft_probe_cells",
      exprs => ProbeCellsExpr(exprs(0), flatOf(exprs(1)),
        exprs(2).eval().asInstanceOf[Int]), "scala_udf")
    reg.createOrReplaceTempFunction("graft_assign_residual",
      exprs => AssignResidualExpr(exprs(0), flatOf(exprs(1))), "scala_udf")
    reg.createOrReplaceTempFunction("graft_subspace_assign",
      exprs => SubspaceAssignExpr(exprs(0), exprs(1),
        flatOf(exprs(2))), "scala_udf")
  }

  import org.apache.spark.sql.functions.{call_function, lit, typedlit}

  /** argmin cell id over the encoded table (INT). */
  def assignCell(spark: SparkSession, codes: Column,
      flat: Array[Long]): Column = {
    register(spark)
    call_function("graft_assign_cell", codes, typedlit(flat.toSeq))
  }

  /** the nProbe nearest cell ids, (distance, cell) ascending
    * (ARRAY<INT>). */
  def probeCells(spark: SparkSession, codes: Column, flat: Array[Long],
      nProbe: Int): Column = {
    register(spark)
    call_function("graft_probe_cells", codes, typedlit(flat.toSeq),
      lit(nProbe))
  }

  /** struct(cell INT, res ARRAY<BIGINT>) where
    * `res_d = scale*x_d - cent[cell]_d`. */
  def assignResidual(spark: SparkSession, codes: Column,
      flat: Array[Long]): Column = {
    register(spark)
    call_function("graft_assign_residual", codes, typedlit(flat.toSeq))
  }

  /** per-subspace argmin cell (INT) over an [[encodeSub]] table. */
  def subspaceAssign(spark: SparkSession, j: Column, sub: Column,
      flat: Array[Long]): Column = {
    register(spark)
    call_function("graft_subspace_assign", j, sub, typedlit(flat.toSeq))
  }
}

/** Shared shape of the three carrier kernels: array<bigint> codes in,
  * table in the expression object, null-in-null-out. */
sealed trait CentroidKernelExpr extends UnaryExpression {
  def flat: CentroidExprs.FlatTable

  // decoded once per (de)serialized expression instance — one decode
  // per executor per stage, and nothing outlives the stage (a shared
  // session-level cache here would be the very storage leak the
  // carrier exists to avoid)
  @transient protected lazy val table: CentroidExprs.Table =
    new CentroidExprs.Table(CentroidExprs.flatArrayOf(flat))

  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint> codes, got $other")
  }

  /** Per-row kernel, called from eval and the generated code. */
  def compute(input: Any): Any

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else compute(v)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidKernel", this,
      classOf[CentroidKernelExpr].getName)
    val c = child.genCode(ctx)
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.javaType(dataType)
    val boxed = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.boxedType(dataType)
    val code =
      code"""
        ${c.code}
        boolean ${ev.isNull} = ${c.isNull};
        $javaType ${ev.value} = ${ev.isNull}
          ? ${org.apache.spark.sql.catalyst.expressions.codegen
              .CodeGenerator.defaultValue(dataType)}
          : ($boxed) $ref.compute(${c.value});
      """
    ev.copy(code = code)
  }
}

/** Per-SUBSPACE argmin cell — [[AssignCellExpr]] for the PQ Lloyd
  * loop ([[graft.similarity.Similarity]]'s pqLloydLoop): the row carries
  * its subspace id `j` and a pre-scaled subvector `sub`; the table
  * holds `m` stacked codebooks of `ks` centroids x `dsub` dims
  * (flat encode `[m, ks, dsub, cents (j, c)-major]`,
  * [[CentroidExprs.encodeSub]]). Distance is the exact int64
  * `sum((x_d - cent_d)^2)` on whatever grid the caller pre-scaled to
  * (scale folded by the caller, unlike the coarse kernels); argmin
  * ties to the lower cell id. Null in either input yields null;
  * out-of-range j or a dim-mismatched subvector fails loudly. */
case class SubspaceAssignExpr(left: Expression, right: Expression,
    flat: CentroidExprs.FlatTable)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  @transient private lazy val tbl: Array[Long] =
    CentroidExprs.flatArrayOf(flat)
  @transient private lazy val (m, ks, dsub) =
    (tbl(0).toInt, tbl(1).toInt, tbl(2).toInt)

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (IntegerType, ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (int subspace, array<bigint> sub), got ($l, $r)")
    }

  def compute(jAny: Any, subAny: Any): Any = {
    val j = jAny.asInstanceOf[Int]
    if (j < 0 || j >= m)
      throw new IllegalArgumentException(
        s"$prettyName: subspace $j outside [0, $m)")
    val v = subAny.asInstanceOf[ArrayData]
    if (v.numElements() != dsub)
      throw new IllegalArgumentException(
        s"$prettyName: subvector has ${v.numElements()} elements, " +
          s"the codebook has $dsub dims")
    val x = new Array[Long](dsub)
    var d = 0
    while (d < dsub) {
      if (v.isNullAt(d))
        throw new IllegalArgumentException(
          s"$prettyName: null element at position $d")
      x(d) = v.getLong(d); d += 1
    }
    var best = 0; var bestD = Long.MaxValue
    var c = 0
    while (c < ks) {
      val base = 3 + (j * ks + c) * dsub
      var s = 0L; var dd = 0
      while (dd < dsub && s < bestD) {
        val diff = x(dd) - tbl(base + dd)
        s += diff * diff; dd += 1
      }
      if (s < bestD) { bestD = s; best = c } // strict: ties keep lower c
      c += 1
    }
    best
  }

  override def eval(input: InternalRow): Any = {
    val j = left.eval(input)
    if (j == null) return null
    val s = right.eval(input)
    if (s == null) return null
    compute(j, s)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("subspaceAssign", this,
      classOf[SubspaceAssignExpr].getName)
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val code =
      code"""
        ${l.code}
        ${r.code}
        boolean ${ev.isNull} = ${l.isNull} || ${r.isNull};
        int ${ev.value} = ${ev.isNull} ? -1
          : (java.lang.Integer) $ref.compute(${l.value}, ${r.value});
      """
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_subspace_assign"
}

/** argmin cell by (exact int64 squared distance, cell id). */
case class AssignCellExpr(child: Expression,
    flat: CentroidExprs.FlatTable) extends CentroidKernelExpr {
  override def dataType: DataType = IntegerType
  override def compute(input: Any): Any =
    table.assign(table.codesOf(input, prettyName))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_assign_cell"
}

/** the nProbe nearest cell ids, ordered by (distance, cell id). */
case class ProbeCellsExpr(child: Expression,
    flat: CentroidExprs.FlatTable, nProbe: Int)
    extends CentroidKernelExpr {
  require(nProbe >= 1, "nProbe must be positive")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def compute(input: Any): Any =
    new GenericArrayData(
      table.probes(table.codesOf(input, prettyName), nProbe))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_probe_cells"
}

/** struct(cell, res): the argmin cell plus the milli-grid residual
  * `scale*x - cent[cell]` in one pass. */
case class AssignResidualExpr(child: Expression,
    flat: CentroidExprs.FlatTable) extends CentroidKernelExpr {
  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("res", ArrayType(LongType, containsNull = false),
      nullable = false)))
  override def compute(input: Any): Any = {
    val x = table.codesOf(input, prettyName)
    val cell = table.assign(x)
    // cell id -> encode index (cells ascending: binary search)
    val i = java.util.Arrays.binarySearch(table.cellIds, cell)
    val base = i * table.dim
    val res = new Array[Long](table.dim)
    var d = 0
    while (d < table.dim) {
      res(d) = table.scale * x(d) - table.cents(base + d); d += 1
    }
    new GenericInternalRow(Array[Any](cell, new GenericArrayData(res)))
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_assign_residual"
}
