package graft.stats

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{ExpandExec, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ops.{HistogramOps => H}

case class FactRow(
    monthyr: String, provider: String, specialty: String, pathway: String,
    is_provider: Int, weeks: Seq[Long], unknown_start: Long,
    total_all: Long, commissioner_code: String)

/** Golden tests for the dashboard cube against hand-computed values —
  * every FIXTURES.md §1 scenario: multi-row band summing, unknown-start
  * handling per pathway (A15), small-number suppression (A14), newRTT
  * totals, quantile target exactly on a band boundary, banker's-rounding
  * rates, ENGLAND and IS-"All" rollups, NONC exclusion. */
class DashboardStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val B = 60 // bands in fixture

  /** weeks array with the given (1-based band -> count) entries. */
  private def bands(entries: (Int, Long)*): Seq[Long] = {
    val a = Array.fill(B)(0L)
    entries.foreach { case (b, c) => a(b - 1) = c }
    a.toSeq
  }

  private val factRows = Seq(
    // Group A: two rows summed; unknown_start must be IGNORED (incomplete)
    FactRow("Apr21", "P1", "Total", "incomplete", 0,
      bands(1 -> 10L, 2 -> 10L), 5L, 0L, "C1"),
    FactRow("Apr21", "P1", "Total", "incomplete", 0,
      bands(2 -> 10L, 20 -> 10L, 53 -> 10L), 0L, 0L, "C1"),
    // Group B: completed pathway — unknown_start counts in total only
    FactRow("Apr21", "P2", "Total", "completeadmitted", 1,
      bands(1 -> 30L), 12L, 0L, "C1"),
    // Group C: below suppression threshold
    FactRow("Apr21", "P3", "Total", "incomplete", 0,
      bands(1 -> 5L), 0L, 0L, "C1"),
    // Group D: newRTT — totals from total_all, stats suppressed
    FactRow("Apr21", "P2", "Total", "newRTT", 1,
      bands(), 0L, 100L, "C1"),
    // Group E: quantile target exactly on the cumulative boundary,
    // total exactly at the minTotal threshold (eligible)
    FactRow("Apr21", "P4", "Total", "incomplete", 0,
      bands(1 -> 10L, 2 -> 10L), 0L, 0L, "C1"),
    // Group F: rate lands on a half (16.25 -> banker's 16.2)
    FactRow("Apr21", "P5", "Total", "incomplete", 0,
      bands(1 -> 13L, 19 -> 67L), 0L, 0L, "C1"),
    // NONC row: must be excluded everywhere
    FactRow("Apr21", "P1", "Total", "incomplete", 0,
      bands(1 -> 1000L), 0L, 0L, "NONC")
  )
  private lazy val fact: DataFrame = factRows.toDF()

  private lazy val result =
    DashboardStats.compute(fact, "provider",
      DashboardStats.Config(maxBands = B)).cache()

  private def cell(grp: String, isSlice: String, pathway: String): Row = {
    val rows = result.filter(
      $"grp" === grp && $"is_slice" === isSlice && $"pathway" === pathway)
      .collect()
    assert(rows.length == 1, s"expected 1 row for ($grp,$isSlice,$pathway), got ${rows.length}")
    rows.head
  }
  private def g[T](r: Row, c: String): T = r.getAs[T](c)

  test("multi-row band summing + quantiles + rates (group A)") {
    val r = cell("P1", "Non-IS", "incomplete")
    assert(g[Long](r, "total_patients") == 50L) // NONC excluded, unknown ignored
    assert(g[Long](r, "weeks_50") == 1L)
    assert(g[Long](r, "weeks_92") == 52L)
    assert(g[Long](r, "weeks_95") == 52L)
    assert(g[Long](r, "number_18_or_less") == 30L)
    assert(g[Long](r, "rate_18wks_or_less_x10") == 600L)
    assert(g[Long](r, "number_52_or_more") == 10L)
    assert(g[Long](r, "rate_52wks_or_more_x10") == 200L)
  }

  test("completed pathway adds unknown starts to total but not quantile base (group B)") {
    val r = cell("P2", "IS", "completeadmitted")
    assert(g[Long](r, "total_patients") == 42L) // 30 + 12 unknown
    assert(g[Long](r, "weeks_50") == 0L)        // median from the 30 known
    assert(g[Long](r, "rate_18wks_or_less_x10") == 1000L)
    assert(g[Long](r, "number_52_or_more") == 0L)
  }

  test("small-number suppression keeps totals but nulls stats (group C)") {
    val r = cell("P3", "Non-IS", "incomplete")
    assert(g[Long](r, "total_patients") == 5L)
    assert(r.isNullAt(r.fieldIndex("weeks_50")))
    assert(r.isNullAt(r.fieldIndex("rate_18wks_or_less_x10")))
    assert(r.isNullAt(r.fieldIndex("number_52_or_more")))
  }

  test("newRTT takes totals from total_all and suppresses stats (group D)") {
    val r = cell("P2", "IS", "newRTT")
    assert(g[Long](r, "total_patients") == 100L)
    assert(r.isNullAt(r.fieldIndex("weeks_50")))
  }

  test("quantile target exactly on cumulative boundary (group E)") {
    // total=20 (exactly eligible); median target=10 == cum[1] -> 0 weeks
    val r = cell("P4", "Non-IS", "incomplete")
    assert(g[Long](r, "total_patients") == 20L)
    assert(g[Long](r, "weeks_50") == 0L)
  }

  test("rates use banker's rounding like R (group F: 16.25 -> 162 x10)") {
    val r = cell("P5", "Non-IS", "incomplete")
    assert(g[Long](r, "rate_18wks_or_less_x10") == 162L)
    assert(g[Long](r, "weeks_50") == 18L)
  }

  test("ENGLAND x All rollup sums every non-NONC group once") {
    val r = cell("ENGLAND", "All", "incomplete")
    // A(50) + C(5) + E(20) + F(80) = 155; cum18 = 30+5+20+13 = 68
    assert(g[Long](r, "total_patients") == 155L)
    assert(g[Long](r, "number_18_or_less") == 68L)
    // 68/155*100 = 43.87096... -> 43.9 -> 439 (x10 fixed point)
    assert(g[Long](r, "rate_18wks_or_less_x10") == 439L)
    // >52wk: only group A's band-53 10 patients
    assert(g[Long](r, "number_52_or_more") == 10L)
  }

  test("IS slices partition correctly (ENGLAND Non-IS = A+C+E+F only)") {
    val r = cell("ENGLAND", "Non-IS", "incomplete")
    assert(g[Long](r, "total_patients") == 155L)
    // no IS=1 incomplete rows exist -> no ENGLAND/IS/incomplete cell
    assert(result.filter(
      $"grp" === "ENGLAND" && $"is_slice" === "IS" && $"pathway" === "incomplete")
      .count() == 0L)
  }

  test("per-group All slice equals the only populated slice (group A)") {
    val r = cell("P1", "All", "incomplete")
    assert(g[Long](r, "total_patients") == 50L)
    assert(g[Long](r, "weeks_50") == 1L)
  }

  test("canonical pathway mapping covers the five RTT part descriptions") {
    val df = Seq(
      "Incomplete Pathways", "Incomplete Pathways with DTA",
      "Completed Pathways For Admitted Patients",
      "Completed Pathways For Non-Admitted Patients",
      "New RTT Periods - All Patients", "Something Else")
      .toDF("d")
      .select(DashboardStats.canonicalPathway($"d").as("p"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq(
      "incomplete", "incompleteDTA", "completeadmitted",
      "completenonadmitted", "newRTT", "Something Else"))
  }

  /** The four-branch formulation the grouping-sets rollup replaced,
    * frozen as the reference: the step-1 base re-aggregated once per
    * grouping set {(grp,is), (ENGLAND,is), (grp,All), (ENGLAND,All)},
    * unioned, then the same per-cell statistics. */
  private def unionReference(facts: DataFrame,
      cfg: DashboardStats.Config): DataFrame = {
    def bandSum(c: Column): Column =
      graft.plans.BandSumAgg.bandSum(spark, c, cfg.maxBands)
    def totals(df: DataFrame, keys: Column*): DataFrame =
      df.groupBy(keys: _*).agg(
        bandSum($"weeks").as("weeks"),
        coalesce(sum("unknown_start"), lit(0L)).as("unknown_start"),
        coalesce(sum("total_all"), lit(0L)).as("total_all"))
    val base = totals(facts, $"monthyr", $"provider".as("grp"), $"specialty",
      $"pathway", $"is_provider")
    def reagg(grp: Column, isSlice: Column): DataFrame =
      totals(base, $"monthyr", grp.as("grp2"), $"specialty", $"pathway",
        isSlice.as("is_slice")).withColumnRenamed("grp2", "grp")
    val cells = Seq(
      reagg($"grp", $"is_provider".cast("string")),
      reagg(lit(cfg.groupTotalLabel), $"is_provider".cast("string")),
      reagg($"grp", lit("All")),
      reagg(lit(cfg.groupTotalLabel), lit("All")))
      .reduce(_.unionByName(_))
      .withColumn("cum", H.cumulative($"weeks"))
      .withColumn("total_nonmiss", element_at($"cum", cfg.maxBands))
      .withColumn("total_patients",
        when($"pathway".isin("completeadmitted", "completenonadmitted"),
          $"total_nonmiss" + $"unknown_start")
          .when($"pathway" === "newRTT", $"total_all")
          .otherwise($"total_nonmiss"))
      .withColumn("eligible",
        $"total_nonmiss" >= cfg.minTotal && $"pathway" =!= "newRTT")
    def ifEligible(stat: Column): Column =
      when($"eligible", stat).otherwise(lit(null))
    val n18 = H.countAtOrBelow($"cum", 18)
    val n52 = H.countAbove($"cum", $"total_nonmiss", 52)
    cells.select(Seq(
      $"monthyr", $"grp",
      when($"is_slice" === "0", "Non-IS").when($"is_slice" === "1", "IS")
        .otherwise($"is_slice").as("is_slice"),
      $"specialty", $"pathway", $"total_patients",
      ifEligible(n18).as("number_18_or_less"),
      ifEligible(H.rateX10(n18, $"total_nonmiss")).as("rate_18wks_or_less_x10"),
      ifEligible(n52).as("number_52_or_more"),
      ifEligible(H.rateX10(n52, $"total_nonmiss")).as("rate_52wks_or_more_x10")) ++
      cfg.quantiles.map(q => ifEligible(
        graft.plans.HistogramQuantileExpr.histogramQuantile(
          spark, $"weeks", $"total_nonmiss", lit(q)))
        .as(s"weeks_${math.round(q * 100)}")): _*)
  }

  /** The fixture plus the rows that tell grouping-set rollup rows from
    * real groups: a provider literally named like the total label, a
    * null provider and a null IS flag. */
  private lazy val edgeFact: DataFrame = (factRows ++ Seq(
    FactRow("Apr21", "ENGLAND", "Total", "incomplete", 1,
      bands(1 -> 15L, 30 -> 10L), 0L, 0L, "C1"),
    FactRow("Apr21", null, "Total", "incomplete", 0,
      bands(2 -> 25L), 3L, 0L, "C1"),
    FactRow("May21", "P6", "Total", "completeadmitted", 0,
      bands(1 -> 12L, 60 -> 9L), 4L, 0L, "C1"))).toDF()
    .withColumn("is_provider",
      when($"provider" === "P6", lit(null).cast("int"))
        .otherwise($"is_provider"))

  test("grouping-sets rollup equals the four-branch union, in one Expand") {
    val cfg = DashboardStats.Config(maxBands = B)
    val got = DashboardStats.compute(edgeFact, "provider", cfg)
    val want = unionReference(
      edgeFact.filter($"commissioner_code" =!= "NONC"), cfg)
    assert(got.columns.toSeq == want.columns.toSeq)
    def multiset(df: DataFrame): Map[Row, Int] =
      df.collect().groupBy(identity).view.mapValues(_.length).toMap
    val (g, w) = (multiset(got), multiset(want))
    assert(g == w, s"\nonly in compute: ${g.toSet -- w.toSet}" +
      s"\nonly in reference: ${w.toSet -- g.toSet}")
    // the edge rows are really in play: a real ENGLAND group beside the
    // ENGLAND rollup, a null group, a null IS slice
    val englandIs = got.filter($"grp" === "ENGLAND" && $"is_slice" === "IS" &&
      $"pathway" === "incomplete").collect()
    assert(englandIs.length == 2)
    assert(got.filter($"grp".isNull).count() > 0L)
    assert(got.filter($"is_slice".isNull).count() > 0L)
    // one Expand + aggregate over the base: no union, no cached base
    val helper = new AdaptiveSparkPlanHelper {}
    val plan = got.queryExecution.executedPlan
    assert(helper.collect(plan) { case e: ExpandExec => e }.length == 1, plan)
    assert(helper.collect(plan) { case u: UnionExec => u }.isEmpty, plan)
    assert(helper.collect(plan) { case c: InMemoryTableScanExec => c }.isEmpty,
      plan)
  }

  test("compute leaves nothing cached") {
    // other suites' localCheckpoints may linger in getPersistentRDDs and
    // only ever disappear: count ids that appear during the call
    spark.catalog.clearCache()
    val cacheManager = spark.sharedState.cacheManager
    assert(cacheManager.isEmpty)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    DashboardStats.compute(fact, "provider",
      DashboardStats.Config(maxBands = B)).collect()
    val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(added.isEmpty, s"compute persisted RDD(s) $added")
    assert(cacheManager.isEmpty, "compute left a plan in the CacheManager")
  }
}
