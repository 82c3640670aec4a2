package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, HigherOrderFunction}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}
import graft.similarity.Similarity

/** `vec_dot` / `unit_vec` must be bit-identical to the higher-order
  * function chains they replaced in [[Similarity]], on every row and
  * in both evaluation modes (interpreted `eval` and generated code). */
class VectorExprsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  // ---- the replaced HOF formulations, frozen as the reference -------
  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private def hofNorm(a: Column): Column = sqrt(hofDot(a, a))

  private def hofCosine(a: Column, b: Column): Column = {
    val d = hofNorm(a) * hofNorm(b)
    when(d === 0.0 || d.isNull, lit(null).cast("double"))
      .otherwise(hofDot(a, b) / d)
  }

  private def hofWithUnitVec(df: DataFrame, vecCol: String,
      out: String): DataFrame =
    df.withColumn("__n", hofNorm(col(vecCol)))
      .withColumn(out, when(col("__n") === 0.0 || col("__n").isNull, lit(null))
        .otherwise(transform(col(vecCol), x => x.cast("double") / col("__n"))))
      .drop("__n")

  // ---- fixture: consecutive embedding pairs plus edge rows ----------
  private def frame(elem: DataType, rows: Seq[(Seq[Any], Seq[Any])]): DataFrame = {
    val schema = StructType(Seq(
      StructField("a", ArrayType(elem, containsNull = true)),
      StructField("b", ArrayType(elem, containsNull = true))))
    def box(v: Seq[Any]): Seq[Any] = if (v == null) null else v.map {
      case null => null
      case x: Double => if (elem == FloatType) x.toFloat else x
      case x: Float => if (elem == FloatType) x else x.toDouble
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (a, b) => Row(box(a), box(b)) }: _*),
      schema)
  }

  private val NaN = Double.NaN
  private val Inf = Double.PositiveInfinity
  private val edges: Seq[(Seq[Any], Seq[Any])] = Seq(
    (null, Seq(1.0, 2.0)),                      // null vector
    (Seq(1.0, 2.0), null),
    (Seq(1.0, null), Seq(1.0, 2.0)),            // null element
    (Seq(0.0, 0.0), Seq(1.0, 1.0)),             // zero vector
    (Seq(-0.0, -0.0), Seq(-0.0, 0.0)),
    (Seq(), Seq()),                             // empty
    (Seq(), Seq(1.0)),
    (Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)),        // mismatched lengths
    (Seq(NaN, 1.0), Seq(1.0, 1.0)),             // NaN
    (Seq(Inf, 1.0), Seq(1.0, 1.0)),             // +Inf
    (Seq(-Inf, 1.0), Seq(0.0, 2.0)),            // -Inf
    (Seq(-0.0, 0.0, 1e-30, 1e30), Seq(1e30, -1e-30, 0.0, -0.0)),
    (Seq(3.0, 4.0), Seq(4.0, -3.0)))

  private lazy val embPairs: Seq[(Seq[Any], Seq[Any])] = {
    val vs = Tables.embeddings(spark, sf).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0))
    vs.indices.map(i => (vs(i): Seq[Any], vs((i + 1) % vs.length): Seq[Any]))
  }

  private def fixtures: Seq[(String, DataFrame)] = Seq(
    "float" -> frame(FloatType, embPairs ++ edges),
    "double" -> frame(DoubleType, embPairs ++ edges ++ Seq(
      (Seq(1e200, 1e200), Seq(1.0, 1.0)))),   // sum of squares overflows
    "float x double" -> frame(FloatType, embPairs ++ edges)
      .withColumn("b", col("b").cast("array<double>")))

  // ---- canonical raw-bit form of one result row ---------------------
  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
  private def canonRow(r: Row): Seq[Any] = (0 until r.length).map { i =>
    if (r.isNullAt(i)) None
    else r.get(i) match {
      case d: Double => Some(bits(d))
      case s: scala.collection.Seq[_] =>
        Some(s.toSeq.map(x => bits(x.asInstanceOf[Double])))
    }
  }
  private def canonInternal(values: Seq[Any]): Seq[Any] = values.map {
    case null => None
    case d: Double => Some(bits(d))
    case a: ArrayData => Some(a.toDoubleArray().toSeq.map(bits))
  }

  private def kernelCols(a: Column, b: Column): Seq[Column] = Seq(
    Similarity.dot(a, b), Similarity.norm(a), Similarity.cosine(a, b),
    VectorExprs.unitVec(a))

  /** The kernel columns evaluated per row outside any Spark job, either
    * through `eval` or through a generated projection (codegen only:
    * a compile error fails here instead of falling back). */
  private def evalDirect(df: DataFrame, codegen: Boolean): Seq[Seq[Any]] = {
    val p = df.select(kernelCols(col("a"), col("b")): _*)
      .queryExecution.analyzed.asInstanceOf[Project]
    val bound: Seq[Expression] = p.projectList.map(e =>
      BindReferences.bindReference(e: Expression, p.child.output))
    val rows = df.queryExecution.toRdd.map(_.copy()).collect()
    if (codegen) {
      val proj = GenerateUnsafeProjection.generate(bound)
      rows.toSeq.map { r =>
        val out = proj(r)
        canonInternal(bound.indices.map(i =>
          if (out.isNullAt(i)) null else out.get(i, bound(i).dataType)))
      }
    } else rows.toSeq.map((r: InternalRow) => canonInternal(bound.map(_.eval(r))))
  }

  test("vec_dot, norm, cosine and unit_vec equal the HOF chains bit for bit") {
    fixtures.foreach { case (name, df) =>
      val want = hofWithUnitVec(df, "a", "u")
        .select(hofDot(col("a"), col("b")), hofNorm(col("a")),
          hofCosine(col("a"), col("b")), col("u"))
        .collect().toSeq.map(canonRow)
      val viaSpark = df.select(kernelCols(col("a"), col("b")): _*)
        .collect().toSeq.map(canonRow)
      assert(viaSpark == want, s"[$name] Spark job")
      assert(evalDirect(df, codegen = false) == want, s"[$name] eval")
      assert(evalDirect(df, codegen = true) == want, s"[$name] codegen")
    }
  }

  test("edge rows take the HOF null semantics") {
    val r = frame(DoubleType, edges).select(kernelCols(col("a"), col("b")): _*)
      .collect()
    def isNull(row: Int, c: Int) = r(row).isNullAt(c)
    assert(isNull(0, 0) && isNull(0, 3))           // null vector
    assert(isNull(2, 0) && isNull(2, 1) && isNull(2, 3)) // null element
    assert(r(3).getDouble(0) == 0.0 && isNull(3, 2) && isNull(3, 3)) // zero
    assert(r(5).getDouble(0) == 0.0 && isNull(5, 3)) // empty: dot 0, unit null
    assert(isNull(6, 0) && isNull(7, 0))           // mismatched lengths
    assert(r(8).getSeq[Double](3).forall(_.isNaN)) // NaN norm: NaN vector
    assert(r(12).getDouble(0) == 0.0 &&
      r(12).getSeq[Double](3) == Seq(0.6, 0.8))
  }

  test("bruteForceTopK and lshTopK plans run no higher-order function") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 5)
    Seq(
      "bruteForceTopK" -> Similarity.bruteForceTopK(q, emb, "vec_id",
        "embedding", k = 3),
      "lshTopK" -> Similarity.lshTopK(q, emb, "vec_id", "embedding", k = 3)
    ).foreach { case (name, out) =>
      assert(out.collect().nonEmpty, name)
      val plan = out.queryExecution.executedPlan
      val hofs = new AdaptiveSparkPlanHelper {}.collectWithSubqueries(plan) {
        case p => p.expressions.flatMap(_.collect {
          case h: HigherOrderFunction => h.prettyName
        })
      }.flatten
      assert(hofs.isEmpty, s"$name runs $hofs:\n$plan")
    }
  }

  test("every similarity operator normalises each vector column once; " +
      "a zero vector leaves the output unchanged") {
    val emb = Tables.embeddings(spark, sf)
    // cached inputs: one scan per corpus, so the projection is not
    // pushed into (and counted once per) union branch
    val dups = Similarity.plantCosineDups(emb, "vec_id", "embedding",
      1000000L).cache()
    // a zero vector normalises to null and must be skipped, not scored
    val withZero = dups.union(dups.limit(1).select(
      lit(999999999L).cast(dups.schema("vec_id").dataType).as("vec_id"),
      transform(col("embedding"), _ * 0.0f).as("embedding"))).cache()
    val q = emb.filter(col("vec_id") < 5).select("vec_id", "embedding")
    val ops: Seq[(String, DataFrame => DataFrame, Int)] = Seq(
      ("bruteForceTopK", c => Similarity.bruteForceTopK(q, c, "vec_id",
        "embedding", k = 3), 1),
      ("ivfTopK", c => Similarity.ivfTopK(q, c, "vec_id", "embedding",
        k = 3), 1),
      ("bruteForceNearDupPairs", c => Similarity.bruteForceNearDupPairs(c,
        "vec_id", "embedding", 0.95), 1),
      ("embeddingNearDupPairs", c => Similarity.embeddingNearDupPairs(c,
        "vec_id", "embedding", 0.95), 2)) // va and vb
    ops.foreach { case (name, op, columns) =>
      val base = op(dups)
      val expected = base.collect().map(_.toString).sorted.toSeq
      assert(expected.nonEmpty, name)
      val out = op(withZero)
      assert(out.collect().map(_.toString).sorted.toSeq == expected, name)
      val plan = out.queryExecution.executedPlan
      val kernels = new AdaptiveSparkPlanHelper {}.collect(plan) { case p =>
        p.expressions.flatMap(_.collect { case u: UnitVecExpr => u })
      }.flatten
      assert(kernels.length == columns, s"$name:\n$plan")
    }
    withZero.unpersist(); dups.unpersist()
  }
}
