package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Project}
import org.apache.spark.sql.functions._

import graft.plans._

/** Nanoseconds per input row of each public kernel entry point in
  * `graft.plans`, with no Spark job around it: the expression the entry
  * point resolves to is bound to the input columns and evaluated on the
  * driver over rows of the input tables, cycled to 20k evaluations.
  * Aggregates are updated row by row into one buffer. Each figure is the
  * median of 3 timed loops after one untimed loop. */
object Kernels {
  private val Evals = 20000

  def run(spark: SparkSession, data: String): mutable.LinkedHashMap[String, Double] = {
    val s = spark
    val text = s.read.parquet(s"$data/documents.parquet").select("text")
    val emb = s.read.parquet(s"$data/embeddings.parquet")
      .select(col("embedding"),
        transform(col("embedding"), x => round(x * 127).cast("long"))
          .as("codes"))
    val weeks = s.read.parquet(s"$data/lineitem.parquet").limit(Evals)
      .select((col("l_orderkey") % 100).as("g"),
        transform(sequence(lit(0), lit(51)),
          i => pmod(hash(col("l_orderkey"), i), lit(20)).cast("long"))
          .as("weeks"))
      .withColumn("total", aggregate(col("weeks"), lit(0L), _ + _))
    val words = text.select(explode(split(col("text"), " ")).as("w"))
      .limit(Evals)
    val rng = new scala.util.Random(7)
    val cents = (0 until 16).map(c =>
      c -> Array.fill(64)(rng.nextInt(255).toLong - 127)).toMap
    val merges = Seq("t" -> "h", "th" -> "e", "a" -> "n", "e" -> "r",
      "i" -> "n", "o" -> "n", "a" -> "t", "e" -> "n")
    val t = col("text")
    val rowKernels: Seq[(String, DataFrame, Column)] = Seq(
      ("minHashSignature", text, MinHashSigExpr.minHashSignature(s, t, 3, 64)),
      ("winnowFingerprints", text,
        WinnowFingerprintsExpr.winnowFingerprints(s, t, 8, 4)),
      ("kgramHashes", text, KgramHashesExpr.kgramHashes(s, t, 5)),
      ("wordShingles", text, WordShinglesExpr.wordShingles(s, t, 3, true)),
      ("normalizeText", text, NormalizeTextExpr.normalizeText(s, t, "NFKC")),
      ("stopwordHits", text, StopwordHitsExpr.stopwordHits(s, t)),
      ("chunkText", text, ChunkTextExpr.chunkText(s, t, 128)),
      ("bpeSegment", text, BpeSegmentExpr.bpeSegment(s, t, merges)),
      ("portableHash64", text, PortableHash64Expr.portableHash64(s, t)),
      ("randomProject", emb,
        RandomProjectExpr.randomProject(s, col("embedding"), 7L, 64, 16)),
      ("topGramCount", text, TopGramCountExpr.topGramCount(s, t, 2)),
      ("assignCell", emb, CentroidExprs.assignCell(s, col("codes"),
        CentroidExprs.encode(cents, 1L))),
      ("histogramQuantile", weeks, HistogramQuantileExpr.histogramQuantile(
        s, col("weeks"), col("total"), lit(0.5))))
    val aggKernels: Seq[(String, DataFrame, Column)] = Seq(
      ("bandSum", weeks, BandSumAgg.bandSum(s, col("weeks"), 52)),
      ("heavyHitters", words, HeavyHittersAgg.heavyHitters(s, col("w"), 10)))

    def rowsOf(df: DataFrame): Array[InternalRow] =
      df.queryExecution.toRdd.map(_.copy()).collect()
    def bind(e: Expression, input: DataFrame): Expression =
      BindReferences.bindReference(e, input.queryExecution.analyzed.output)
        .transform { case r: RuntimeReplaceable => r.replacement }
    def nsPerRow(rows: Array[InternalRow])(loop: Array[InternalRow] => Unit): Double = {
      val cycled = Array.tabulate(Evals)(i => rows(i % rows.length))
      loop(cycled)
      Stats.median((1 to 3).map { _ =>
        val t0 = System.nanoTime(); loop(cycled); (System.nanoTime() - t0).toDouble
      }) / Evals
    }

    val out = mutable.LinkedHashMap.empty[String, Double]
    rowKernels.foreach { case (name, df, k) =>
      val p = df.select(k).queryExecution.analyzed.asInstanceOf[Project]
      val e = bind(p.projectList.head, df)
      out(name) = nsPerRow(rowsOf(df))(_.foreach(e.eval))
    }
    aggKernels.foreach { case (name, df, k) =>
      val p = df.agg(k).queryExecution.analyzed.asInstanceOf[Aggregate]
      val f = bind(p.aggregateExpressions.head.collectFirst {
        case a: AggregateExpression => a.aggregateFunction
      }.get, df).asInstanceOf[TypedImperativeAggregate[Any]]
      out(name) = nsPerRow(rowsOf(df)) { rs =>
        var buf = f.createAggregationBuffer()
        rs.foreach(r => buf = f.update(buf, r))
        f.eval(buf)
      }
    }
    out
  }
}
