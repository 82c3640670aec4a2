package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter build/probe over Catalyst's OWN runtime-filter
  * machinery (`BloomFilterAggregate` + `BloomFilterMightContain` — the
  * expressions behind `spark.sql.optimizer.runtime.bloomFilter.*`),
  * exposed as explicit operators for semi-join PRE-PRUNING.
  *
  * Why explicit rather than relying on the optimizer's injected runtime
  * filters: the optimizer only considers them for selective joins it
  * can cost at planning time, and it never prunes *before a derived
  * shuffle* (our shingle tables are exploded intermediates, not scans).
  * Building the filter over the small side of a train×eval-style join
  * and probing the 100 TB side BEFORE its shuffle turns "shuffle every
  * train shingle" into "shuffle true matches + fpp of the rest" — the
  * classic bloom semi-join from the distributed-joins literature.
  *
  * Scale contract: the serialized filter lands on the driver and ships
  * as a foldable binary literal (a broadcast-sized sketch, MBs at fpp
  * 1% for tens of millions of keys — same contract as
  * `DataFrameStatFunctions.bloomFilter`). The build is a distributed
  * TypedImperativeAggregate (partial filters merged by OR), the probe
  * is a codegen'd predicate — no UDF, no driver loop.
  *
  * Both sides hash with `xxhash64`: the aggregate inserts longs via
  * `putLong` and the probe tests `mightContainLong`, so the probe
  * column must carry the SAME hash of the same value.
  */
object BloomFilterOps {

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_bloom_agg",
      exprs => new BloomFilterAggregate(exprs(0), exprs(1), exprs(2)),
      "scala_udf")
    reg.createOrReplaceTempFunction("graft_bloom_might_contain",
      exprs => BloomFilterMightContain(exprs(0), exprs(1)),
      "scala_udf")
  }

  /** Distributed build: one serialized bloom filter over
    * `xxhash64(keyCol)` for every row of `df`. `expectedItems` sizes
    * the bit array for `fpp` (Spark caps both via
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits`).
    * Empty input returns an empty filter (probe rejects everything). */
  def buildBloom(df: DataFrame, keyCol: Column, expectedItems: Long,
      fpp: Double = 0.01): Array[Byte] = {
    val spark = df.sparkSession
    register(spark)
    val n = math.max(expectedItems, 1L)
    val numBits = BloomFilter.optimalNumOfBits(n, fpp)
    val bytes = df
      .agg(call_function("graft_bloom_agg", xxhash64(keyCol), lit(n),
        lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    if (bytes != null) bytes
    else { // zero rows aggregated -> Catalyst evals to null
      val out = new java.io.ByteArrayOutputStream()
      BloomFilter.create(1, fpp).writeTo(out)
      out.toByteArray
    }
  }

  /** [[buildBloom]] for SEVERAL key columns in ONE aggregate job over
    * the same relation — ingest paths that build a probe filter and an
    * idempotence filter from one cached drop otherwise pay one
    * scheduled job per filter (guide §1.2: fewer actions). Same
    * empty-input contract per filter. Every filter is sized from the
    * one `expectedItems`, so it must bound the distinct count of EVERY
    * key; a key with more distinct values than that gets a fuller
    * filter and a false-positive rate above `fpp` (never false
    * negatives). The row count of `df` bounds them all. */
  def buildBlooms(df: DataFrame, keys: Seq[Column], expectedItems: Long,
      fpp: Double = 0.01): Seq[Array[Byte]] = {
    val spark = df.sparkSession
    register(spark)
    val n = math.max(expectedItems, 1L)
    val numBits = BloomFilter.optimalNumOfBits(n, fpp)
    val row = df.agg(
      call_function("graft_bloom_agg", xxhash64(keys.head), lit(n),
        lit(numBits)).as("bf0"),
      keys.tail.zipWithIndex.map { case (k, i) =>
        call_function("graft_bloom_agg", xxhash64(k), lit(n),
          lit(numBits)).as(s"bf${i + 1}")
      }: _*).head()
    keys.indices.map { i =>
      val bytes = row.getAs[Array[Byte]](s"bf$i")
      if (bytes != null) bytes
      else {
        val out = new java.io.ByteArrayOutputStream()
        BloomFilter.create(1, fpp).writeTo(out)
        out.toByteArray
      }
    }
  }

  /** Codegen'd membership probe: true if `xxhash64(keyCol)` may be in
    * the filter (no false negatives; false positives at ~fpp). */
  def mightContain(spark: SparkSession, bloom: Array[Byte],
      keyCol: Column): Column = {
    register(spark)
    call_function("graft_bloom_might_contain", lit(bloom), xxhash64(keyCol))
  }
}
