package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{HistogramOps => H}

/** Unified dashboard statistics — replaces the reference's four
  * `dashboard_stats_*` functions (`2. Produce descriptive
  * statistics.R:127-812`) and, crucially, its execution model.
  *
  * The reference evaluates ONE (month, group, specialty, pathway,
  * IS-slice) cell per call, re-scanning the full fact table each time;
  * the cube driver (`3b.:44-57`) issues ~50k such calls — so slow its
  * authors cached the output. Here the ENTIRE cube is one query:
  *
  *   1. finest-grain aggregation (month × group × specialty × pathway ×
  *      IS) — the only shuffle that touches fact-table volume; the band
  *      histogram rides through it as `maxBands` partial-aggregated
  *      sums (map-side combine, no row explosion);
  *   2. the ENGLAND rollup (`2.:146-150`) and the IS "All" slice
  *      (`2.:344-353`) are ONE grouping-sets aggregation over the SMALL
  *      result of step 1 (thousands of rows/month, not billions): its
  *      Expand quadruples step-1 rows, never fact rows — a `cube()` on
  *      the fact itself would multiply fact-table shuffle volume 4x at
  *      100 TB;
  *   3. quantiles/rates/suppression are per-row expression work on the
  *      aggregated cells, fully codegen'd (see [[graft.ops.HistogramOps]]).
  *
  * Expected input schema (the normalized fact, SURVEY.md §1.2):
  * `monthyr` string, group dim column(s), `specialty` string, `pathway`
  * string (canonical: incomplete | incompleteDTA | completeadmitted |
  * completenonadmitted | newRTT), `is_provider` int 0/1, `weeks`
  * array<bigint> (band histogram, slot i = band i+1), `unknown_start`
  * bigint, `total_all` bigint, `commissioner_code` string.
  */
object DashboardStats {

  /** Canonical pathway mapping for `RTT.Part.Description` (`2.:69-76`,
    * filter arms at `2.:153-178`). */
  def canonicalPathway(rttPartDescription: Column): Column =
    when(rttPartDescription === "Incomplete Pathways", "incomplete")
      .when(rttPartDescription === "Incomplete Pathways with DTA", "incompleteDTA")
      .when(rttPartDescription === "Completed Pathways For Admitted Patients",
        "completeadmitted")
      .when(rttPartDescription === "Completed Pathways For Non-Admitted Patients",
        "completenonadmitted")
      .when(rttPartDescription === "New RTT Periods - All Patients", "newRTT")
      .otherwise(rttPartDescription)

  final case class Config(
      quantiles: Seq[Double] = Seq(0.5, 0.92, 0.95),
      maxBands: Int = 105,
      minTotal: Int = 20,
      groupTotalLabel: String = "ENGLAND")

  /** Compute the full dashboard cube for every cell at once.
    *
    * @param fact     normalized fact table (schema above)
    * @param groupCol the grouping dimension (provider name, CCG code,
    *                 region, IMD quintile — the axis the four reference
    *                 functions differ by)
    */
  def compute(fact: DataFrame, groupCol: String, cfg: Config = Config()): DataFrame = {
    // `Commissioner.Org.Code != "NONC"` — private patients excluded
    // globally (2.:318); pushed into the parquet scan by Catalyst.
    val f = fact.filter(col("commissioner_code") =!= "NONC")

    // Step 1 — single shuffle at the finest grain. Not cached: step 2
    // is its only consumer, inside the same plan.
    // band vectors aggregate through the native typed-imperative
    // band_sum (ONE primitive long[] buffer per group vs maxBands
    // separate sum aggregates — see graft.plans.BandSumAgg; equality
    // with HistogramOps.sumBands is property-tested in BandSumAggSpec)
    def bandSum(c: Column): Column =
      graft.plans.BandSumAgg.bandSum(fact.sparkSession, c, cfg.maxBands)

    val base = f
      .groupBy(col("monthyr"), col(groupCol).cast("string").as("grp"),
        col("specialty"), col("pathway"), col("is_provider"))
      .agg(
        bandSum(col("weeks")).as("weeks"),
        coalesce(sum("unknown_start"), lit(0L)).as("unknown_start"),
        coalesce(sum("total_all"), lit(0L)).as("total_all"))

    statsFromBase(base, cfg)
  }

  /** Steps 2-3 on an already-aggregated step-1 base (schema: monthyr,
    * grp, specialty, pathway, is_provider, weeks, unknown_start,
    * total_all). Split out so an INCREMENTALLY-maintained base — e.g.
    * [[graft.streaming.DashboardStreams.incrementalBase]]'s streaming
    * state — gets the same rollups/quantiles/rates without re-running
    * the fact-volume aggregation. */
  def statsFromBase(base: DataFrame, cfg: Config = Config()): DataFrame = {
    def bandSum(c: Column): Column =
      graft.plans.BandSumAgg.bandSum(base.sparkSession, c, cfg.maxBands)

    // Step 2 — the four grouping sets {(grp,is), (ENGLAND,is),
    // (grp,All), (ENGLAND,All)} as one Expand + aggregate over the small
    // base. spark_grouping_id is part of the key, so a real group named
    // like the total label (or a null group) stays a row of its own.
    val (m, sp, pw, grp, is) = (col("monthyr"), col("specialty"),
      col("pathway"), col("grp"), col("is_provider"))
    val cells = base
      .groupingSets(Seq(Seq(m, sp, pw, grp, is), Seq(m, sp, pw, is),
        Seq(m, sp, pw, grp), Seq(m, sp, pw)), m, sp, pw, grp, is)
      .agg(
        bandSum(col("weeks")).as("weeks"),
        coalesce(sum("unknown_start"), lit(0L)).as("unknown_start"),
        coalesce(sum("total_all"), lit(0L)).as("total_all"),
        grouping(grp).as("grp_total"),
        grouping(is).as("is_all"))

    // Step 3 — per-cell statistics (pure expressions, no further shuffle).
    val withTotals = cells
      .withColumn("cum", H.cumulative(col("weeks")))
      .withColumn("total_nonmiss", element_at(col("cum"), cfg.maxBands))
      // A15 (2.:189-228): completed pathways report unknown-clock-start
      // patients in the total but NOT in the quantile base; incomplete
      // omit them entirely; newRTT totals come from Total.All alone.
      .withColumn("total_patients",
        when(col("pathway").isin("completeadmitted", "completenonadmitted"),
          col("total_nonmiss") + col("unknown_start"))
          .when(col("pathway") === "newRTT", col("total_all"))
          .otherwise(col("total_nonmiss")))
      // A14 (2.:233): suppress stats below 20 eligible patients or for
      // newRTT (which has no wait histogram at all).
      .withColumn("eligible",
        col("total_nonmiss") >= cfg.minTotal && col("pathway") =!= "newRTT")

    def ifEligible(stat: Column): Column =
      when(col("eligible"), stat).otherwise(lit(null))

    // quantile scan via the native codegen expression (one fused pass
    // per cell vs interpreted HOF evaluation — see
    // graft.plans.HistogramQuantileExpr); semantics identical to
    // HistogramOps.quantile.
    val quantileCols = cfg.quantiles.map { q =>
      ifEligible(graft.plans.HistogramQuantileExpr.histogramQuantile(
        base.sparkSession, col("weeks"), col("total_nonmiss"), lit(q)))
        .as(s"weeks_${math.round(q * 100)}")
    }

    val isStr = is.cast("string")
    withTotals.select(
      Seq(
        m,
        when(col("grp_total") === 1, cfg.groupTotalLabel).otherwise(grp)
          .as("grp"),
        // IS slice labels per 2.:344-353 (0 → Non-IS, 1 → IS, All).
        when(col("is_all") === 1, "All")
          .when(isStr === "0", "Non-IS")
          .when(isStr === "1", "IS")
          .otherwise(isStr).as("is_slice"),
        sp,
        pw,
        col("total_patients"),
        ifEligible(H.countAtOrBelow(col("cum"), 18)).as("number_18_or_less"),
        // Rates are x10-bigint fixed point (261 = 26.1%): rounded doubles
        // drift at ulp level between engines (VERDICT r1) and integers
        // shuffle/compare exactly at any scale.
        ifEligible(H.rateX10(H.countAtOrBelow(col("cum"), 18), col("total_nonmiss")))
          .as("rate_18wks_or_less_x10"),
        ifEligible(H.countAbove(col("cum"), col("total_nonmiss"), 52))
          .as("number_52_or_more"),
        ifEligible(H.rateX10(H.countAbove(col("cum"), col("total_nonmiss"), 52),
          col("total_nonmiss"))).as("rate_52wks_or_more_x10")) ++ quantileCols: _*)
  }
}
