package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The report queries' rollup slices (Total / ENGLAND / All) come from
  * one grouping-sets aggregation each, so a query leaves no cached
  * base behind. */
class ReportQueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The benchmark's copy of the engine's sf0.001 tables, relative to
    * the source root (the forked test JVM's working directory). */
  private val sfDir = "perfbench/data/sf0.001"

  test("report queries leave nothing cached") {
    // other suites' localCheckpoints may linger in getPersistentRDDs and
    // only ever disappear: count ids that appear during the calls
    spark.catalog.clearCache()
    val cacheManager = spark.sharedState.cacheManager
    assert(cacheManager.isEmpty)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Seq("q_ratio_new_to_completed", "q_casemix", "q_covid_periods")
      .foreach { q =>
        assert(ReportQueries.defs(q)(spark, sfDir).collect().nonEmpty,
          s"$q returned no rows")
      }
    val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(added.isEmpty, s"report queries persisted RDD(s) $added")
    assert(cacheManager.isEmpty,
      "report queries left a plan in the CacheManager")
  }
}
