package graft.lookups

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.RelationalOps
import graft.spatial.Spatial

/** Dimension-building pipelines from the reference's lookup scripts
  * (`1a. Clean deprivation and regional lookup data.R`, `1c. Look for
  * provider locations.R`): population-weighted deprivation per CCG,
  * multi-vintage geography unions, and provider -> area assignment via
  * the spatial join. All outputs are small broadcastable dimensions.
  */
object Lookups {

  /** IMD long-format filter (`1a.:85-92`): keep 2019 overall-IMD score
    * rows of the open-data long file. */
  def imdScores(imdRaw: DataFrame): DataFrame =
    imdRaw.filter(col("Measurement") === "Score" &&
        col("DateCode") === "2019" &&
        col("Indices of Deprivation") === "a. Index of Multiple Deprivation (IMD)")
      .select(col("FeatureCode").as("LSOA11CD"), col("Value").as("IMD19_score"))

  /** Population-weighted IMD per CCG with INVERTED deciles/quintiles
    * (`1a.:106-128`): weighted mean of LSOA scores by LSOA population,
    * then `11 - ntile(10)` / `6 - ntile(5)` so decile 1 = most
    * deprived. One shuffle on CCG; ntile windows over the small
    * aggregate.
    *
    * SMALL-DATA CONTRACT: the unpartitioned ntile windows move the
    * whole aggregate to ONE partition — correct AND cheap here because
    * the window input is dimension-sized BY CONSTRUCTION (one row per
    * CCG, ~200 rows; mirrors the reference's global decile cut). Do
    * not lift this pattern to fact-grain data — rank there with a
    * partitioned window or a sampled-quantile cut instead. */
  def imdByCcg(lsoaCcg: DataFrame, imd: DataFrame, pop: DataFrame): DataFrame = {
    val joined = lsoaCcg
      .join(imd, Seq("LSOA11CD"), "left")
      .join(pop, Seq("LSOA11CD"), "left")
    val agg = joined.groupBy("CCGCDH")
      .agg(RelationalOps.weightedMean(col("IMD19_score"), col("pop19"))
        .as("IMD19_score"))
    agg
      .withColumn("IMD19_decile",
        RelationalOps.invertedNtile(10, Seq.empty,
          Seq(col("IMD19_score"), col("CCGCDH"))).cast("int"))
      .withColumn("IMD19_quintile",
        RelationalOps.invertedNtile(5, Seq.empty,
          Seq(col("IMD19_score"), col("CCGCDH"))).cast("int"))
  }

  /** CCG -> NHS region/STP across vintages (`1a.:151-181`): each
    * vintage file has vintage-suffixed column names and the early ones
    * lack STP — normalize names, union by name with null fill, dedup
    * keeping the NEWEST vintage per CCG. */
  def ccgRegionAcrossVintages(vintages: Seq[(String, DataFrame)]): DataFrame = {
    val normalized = vintages.map { case (vintage, df) =>
      val renames = df.columns.map { c =>
        val n = c.replaceAll("\\d{2}", "") // CCG21CDH -> CCGCDH etc.
        (c, n)
      }
      renames.foldLeft(df) { case (d, (from, to)) =>
        if (from == to) d else d.withColumnRenamed(from, to)
      }.withColumn("vintage", lit(vintage))
    }
    RelationalOps.dedupKeepFirst(
      RelationalOps.rbindFill(normalized),
      Seq("CCGCDH"), Seq(col("vintage").desc))
  }

  /** Provider -> MSOA -> IMD/region (`1c.:429-489`): geocoded provider
    * points spatially joined to MSOA polygons (broadcast), then the
    * MSOA deprivation/region attributes attached. */
  def providerToImdRegion(providerLocations: DataFrame, msoaPolygons: DataFrame,
      msoaImd: DataFrame): DataFrame =
    Spatial.pointInPolygonJoin(
        providerLocations, msoaPolygons, "long", "lat", "poly", "left")
      .join(broadcast(msoaImd), Seq("msoa11cd"), "left")
      .drop("poly")
}
