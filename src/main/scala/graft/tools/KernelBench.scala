package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._

/** Micro-benchmark for the text- and vector-kernel hot paths:
  * `sbt "runMain graft.tools.KernelBench [nDocs]"`.
  *
  * Times three shapes over the same synthetic corpus: the interpreted
  * HOF stopword family, the native `stopword_hits` kernel alone, and
  * `languageId` built ON the kernel (whose CASE references the kernel
  * 13 times textually — if whole-stage codegen's subexpression
  * elimination works, its time ≈ the kernel-alone time; if it
  * re-evaluated per reference it would be ~13x).
  *
  * Then two vector shapes over 20k synthetic 64-dim float vectors,
  * unit-normalise and dot, each once as the interpreted
  * `zip_with`/`aggregate`/`transform` chain and once as the native
  * `unit_vec` / `vec_dot` kernel, in ns per row. Prints one JSON line.
  */
object KernelBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val words = Seq("the", "der", "le", "el", "alpha", "beta", "gamma",
      "delta", "value", "row", "und", "est", "por", "was", "zu")
    val docs = spark.range(n).select(col("id"),
        concat_ws(" ", (0 until 40).map(i =>
          element_at(lit(words.toArray),
            (pmod(col("id") * 31 + i * 7, lit(words.size)) + 1).cast("int"))): _*)
          .as("text"))
      .cache()
    docs.count() // materialize

    def time(name: String, c: org.apache.spark.sql.Column): (String, Double) = {
      // warm
      docs.select(c.as("x")).selectExpr("count(x)").collect()
      val t0 = System.nanoTime()
      docs.select(c.as("x")).selectExpr("count(x)").collect()
      name -> (System.nanoTime() - t0) / 1e9
    }

    // vector shapes over 20k synthetic 64-dim float vectors, each in the
    // form Similarity runs it: unit-normalise (the HOF form computes the
    // norm once per row in its own projection, as withUnitVec did), and
    // dot two unit vectors. Timed per row on the driver with no job
    // around it (a job's fixed cost would swamp a sub-microsecond row):
    // the expressions are bound to the input columns and projected over
    // the rows, median of 3 timed loops after 3 untimed ones.
    val dim = 64
    val vecs = spark.range(20000).select(
      transform(sequence(lit(0), lit(dim - 1)),
        i => (pmod(hash(col("id"), i), lit(2001)) - 1000).cast("float"))
        .as("v"))
    def rowsOf(df: DataFrame): Array[InternalRow] =
      df.queryExecution.toRdd.map(_.copy()).collect()
    /** `cols` projected over `df`'s rows, bound to its columns. */
    def bound(df: DataFrame, cols: Column*): (DataFrame, UnsafeProjection) = {
      val out = df.select(cols: _*)
      val p = out.queryExecution.analyzed.asInstanceOf[Project]
      (out, UnsafeProjection.create(p.projectList.map(e =>
        BindReferences.bindReference(e: Expression, p.child.output))))
    }
    def nsPerRow(rows: Array[InternalRow], steps: UnsafeProjection*): Double = {
      def loop(): Long = {
        val t0 = System.nanoTime()
        rows.foreach(r => steps.foldLeft(r)((x, step) => step(x)))
        System.nanoTime() - t0
      }
      (1 to 3).foreach(_ => loop())
      Seq.fill(3)(loop()).sorted.apply(1).toDouble / rows.length
    }
    def hofDot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    val vecRows = rowsOf(vecs)
    val (withNorm, normStep) = bound(vecs, col("v"),
      sqrt(hofDot(col("v"), col("v"))).as("n"))
    val (_, hofUnitStep) = bound(withNorm,
      when(col("n") === 0.0 || col("n").isNull, lit(null))
        .otherwise(transform(col("v"), x => x.cast("double") / col("n"))))
    val (_, unitStep) = bound(vecs, graft.plans.VectorExprs.unitVec(col("v")))
    val u = graft.plans.VectorExprs.unitVec(col("v"))
    val pairs = vecs.select(u.as("a"), reverse(u).as("b"))
    val pairRows = rowsOf(pairs)
    val (_, hofDotStep) = bound(pairs, hofDot(col("a"), col("b")))
    val (_, dotStep) = bound(pairs,
      graft.plans.VectorExprs.vecDot(col("a"), col("b")))
    val vecRes = Seq(
      "vec_unit_hof_ns_row" -> nsPerRow(vecRows, normStep, hofUnitStep),
      "vec_unit_kernel_ns_row" -> nsPerRow(vecRows, unitStep),
      "vec_dot_hof_ns_row" -> nsPerRow(pairRows, hofDotStep),
      "vec_dot_kernel_ns_row" -> nsPerRow(pairRows, dotStep))

    val res = Seq(
      time("hof_langid", graft.functions.TextFunctions.languageId(col("text"))),
      time("kernel_hits", size(graft.functions.TextFunctions
        .stopwordHits(spark, col("text"))).cast("string")),
      time("native_langid", graft.functions.TextFunctions
        .languageId(spark, col("text"))))
    println((res.map { case (k, v) => s""""$k":${f"$v%.3f"}""" } ++
        vecRes.map { case (k, v) => s""""$k":${f"$v%.1f"}""" })
      .mkString(s"""{"n":$n,""", ",", "}"))
    spark.stop()
  }
}
