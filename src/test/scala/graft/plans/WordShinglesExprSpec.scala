package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}
import graft.functions.{TextFunctions => T}

class WordShinglesExprSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  // the whitespace quirks the kernel must reproduce exactly: Spark
  // `trim` strips spaces only, so leading tabs/newlines yield an empty
  // first token through split("\s+")
  private val tricky = Seq(
    "a b c d", "a a a a", "one", "", "   ", "\tlead tab text here",
    "trail space  ", "a\nb c", "x  y\t\tz w", "\t", "a b a b a b")

  test("non-distinct kernel == wordShingles HOF (fixture + tricky)") {
    import spark.implicits._
    for (n <- Seq(2, 3)) {
      val docs = Tables.documents(spark, sf).select(col("text"))
        .union(tricky.toDF("text"))
      val diff = docs.select(
          T.wordShingles(col("text"), n).as("hof"),
          WordShinglesExpr.wordShingles(spark, col("text"), n,
            distinct = false).as("native"))
        .filter(not(col("hof") === col("native")))
      assert(diff.count() === 0, s"n=$n: kernel diverged from HOF")
    }
  }

  test("distinct kernel == array_distinct of HOF (first-occurrence order)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select(col("text"))
      .union(tricky.toDF("text"))
    // array_distinct keeps first occurrences in order — same contract
    val diff = docs.select(
        array_distinct(T.wordShingles(col("text"), 3)).as("hof"),
        WordShinglesExpr.wordShingles(spark, col("text"), 3,
          distinct = true).as("native"))
      .filter(not(col("hof") === col("native")))
    assert(diff.count() === 0)
  }

  test("Dedup.shingles relation unchanged by the kernel rewrite") {
    val docs = Tables.documents(spark, sf)
    // old shape restated inline: explode HOF grams + distinct
    val old = docs.select(col("doc_id"),
        explode(T.wordShingles(col("text"), 3)).as("shingle"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val now = graft.dedup.Dedup.shingles(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(now === old)
    assert(now.nonEmpty)
  }

  test("top_gram_count == relational max-count over exploded grams") {
    import spark.implicits._
    for (n <- Seq(2, 3)) {
      val docs = Tables.documents(spark, sf)
        .select(col("doc_id"), col("text"))
        .union(tricky.zipWithIndex
          .map { case (t, i) => (1000000L + i, t) }.toDF("doc_id", "text"))
      val relational = docs
        .select(col("doc_id"), explode(T.wordShingles(col("text"), n)).as("g"))
        .groupBy("doc_id", "g").count()
        .groupBy("doc_id").agg(max("count").as("want"))
      val native = docs.select(col("doc_id"),
        TopGramCountExpr.topGramCount(spark, col("text"), n).as("got"))
      // relational drops gram-less docs; native gives them 0
      val joined = native.join(relational, Seq("doc_id"), "left")
        .withColumn("want", coalesce(col("want"), lit(0L)))
      assert(joined.filter(col("got") =!= col("want")).count() === 0,
        s"n=$n: kernel diverged from relational max")
    }
  }

  test("null text -> null shingles and null top count") {
    import spark.implicits._
    val df = Seq[Option[String]](None, Some("a b c")).toDF("text")
    val out = df.select(
        WordShinglesExpr.wordShingles(spark, col("text"), 2, distinct = true)
          .as("sh"),
        TopGramCountExpr.topGramCount(spark, col("text"), 2).as("tc"))
      .collect()
    assert(out.exists(r => r.isNullAt(0) && r.isNullAt(1)))
    assert(out.exists(r => !r.isNullAt(0) && r.getLong(1) === 1L))
  }
}
