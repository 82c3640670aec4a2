package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.stats.DashboardStats

/** The dashboard-cube flagship (SURVEY.md §3 E2/E3): lineitem is recast
  * as an RTT-shaped fact (band histogram + pathway + IS flag + month),
  * then [[DashboardStats.compute]] produces every (month × group ×
  * pathway × IS-slice) cell INCLUDING the ENGLAND and "All" rollups in
  * one job — the architecture that replaces the reference's ~50k
  * re-scanning calls (`3b.:44-57`). Oracle: the same cube via DuckDB
  * GROUPING SETS — an independent formulation of A12-A15 semantics.
  */
object StatsQueries {
  private type Q = (SparkSession, String) => DataFrame

  private val B = 60 // band domain: l_quantity+10 ∈ 11..60 so the
                     // 18-week and 52-week thresholds are both live

  /** lineitem recast as the normalized RTT fact (band histogram +
    * pathway + IS flag + month) — shared by the batch cube and its
    * streaming twin. */
  private def rttFact(s: SparkSession, d: String): DataFrame = {
    val f0 = Tables.lineitem(s, d).select(
      year(col("l_shipdate")).cast("string").as("monthyr"),
      col("l_linestatus").as("provider"),
      lit("Total").as("specialty"),
      when(col("l_returnflag") === "A", "incomplete")
        .when(col("l_returnflag") === "N", "completeadmitted")
        .otherwise("newRTT").as("pathway"),
      when(col("l_discount") > 0.05, 1).otherwise(0).as("is_provider"),
      (col("l_quantity").cast("bigint") + 10L).as("band"),
      when(col("l_tax") >= 0.04, 1L).otherwise(0L).as("unk"),
      lit("C1").as("commissioner_code"))
    // per-cell band histogram -> the normalized RTT fact shape
    val hist = f0
      .groupBy("monthyr", "provider", "specialty", "pathway",
        "is_provider", "commissioner_code", "band")
      .agg(count(lit(1)).as("c"), sum("unk").as("unk"))
    hist
      .groupBy("monthyr", "provider", "specialty", "pathway",
        "is_provider", "commissioner_code")
      .agg(
        map_from_arrays(collect_list(col("band")), collect_list(col("c"))).as("m"),
        sum("unk").as("unknown_start"),
        sum("c").as("total_all"))
      .select(col("monthyr"), col("provider"), col("specialty"),
        col("pathway"), col("is_provider"), col("commissioner_code"),
        transform(sequence(lit(1), lit(B)),
          i => coalesce(try_element_at(col("m"), i.cast("bigint")), lit(0L)))
          .as("weeks"),
        col("unknown_start"), col("total_all"))
  }

  private def orderedStats(df: DataFrame): DataFrame =
    df.drop("specialty") // constant 'Total' in this recast
      .orderBy("monthyr", "grp", "is_slice", "pathway")

  /** Reference-shaped wide band-column name, pre-mangling (spaces —
    * the R `check.names` shim turns them into the canonical dotted
    * form): `Gt 00 To 01 Weeks SUM 1` ... plus the open-ended final
    * band `Gt 104 Weeks SUM 1` of the 105-band era. */
  private def bandColName(i: Int, nBands: Int): String =
    if (nBands == 105 && i == 105) "Gt 104 Weeks SUM 1"
    else f"Gt ${i - 1}%02d To $i%02d Weeks SUM 1"

  private val dims = Seq("monthyr", "provider", "specialty", "pathway",
    "is_provider", "commissioner_code")

  /** Stage-once memo for the band-drift gate's wide-CSV fixtures: the
    * two era stagings (a pivot + a totals aggregate over the fact
    * slice each, then coalesced CSV writes) are FIXTURE CONSTRUCTION,
    * not the operator under test — the measured legs (the S1
    * mangled-name read, normalize, dead-band prune, era union, the
    * cube) still run per invocation against the staged files, and the
    * gate's from-lineitem oracle hash-checks the whole result, so a
    * stale or wrong staging fails red. */
  private val bandDriftDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  private def stagedBandDrift(s: SparkSession, d: String)(
      stage: java.nio.file.Path => Unit): java.nio.file.Path =
    bandDriftDirs.computeIfAbsent(
      s.sparkContext.applicationId + "|" + d, _ => {
        val dir = graft.util.TempDirs.scoped("graft-band-drift")
        stage(dir)
        dir
      })

  val defs: Map[String, Q] = Map(
    // ERA DRIFT through the INGEST PATH (SURVEY §7.4-3; reference
    // `2.:141-144`): the fact arrives as wide per-band CSV columns
    // whose set CHANGES mid-history — 52 bands before 2021, 105 after
    // (years <= 1997 / >= 1998 stand in here). Each era is staged as a
    // reference-shaped wide CSV (R-mangled names, null dead bands),
    // read back via the S1 shim, normalized to the array encoding,
    // pruned to its live bands, era-unioned by name, and pushed
    // through the SAME DashboardStats cube as q_dashboard_cube. The
    // oracle recomputes the cube straight from lineitem — the whole
    // wide-CSV staging leg must be value-invisible.
    "q_ingest_band_drift" -> ((s, d) => {
      import org.apache.spark.sql.types._
      // era-dependent band: era A occupies bands 1..50 of 52 declared
      // columns (51-52 all-null -> pruneDeadBands must drop them);
      // era B occupies 56..105 of 105 (a genuinely wider histogram).
      // Staged ONCE per (app, data dir) — see stagedBandDrift.
      val dir = stagedBandDrift(s, d) { dir =>
        // cached: the two era stagings each run a pivot AND a totals
        // aggregate over their era slice — four fact scans otherwise
        val f0 = Tables.lineitem(s, d).select(
          year(col("l_shipdate")).cast("string").as("monthyr"),
          col("l_linestatus").as("provider"),
          lit("Total").as("specialty"),
          when(col("l_returnflag") === "A", "incomplete")
            .when(col("l_returnflag") === "N", "completeadmitted")
            .otherwise("newRTT").as("pathway"),
          when(col("l_discount") > 0.05, 1).otherwise(0).as("is_provider"),
          lit("C1").as("commissioner_code"),
          when(col("l_tax") >= 0.04, 1L).otherwise(0L).as("unk"),
          (col("l_quantity").cast("bigint") +
            when(year(col("l_shipdate")) >= 1998, 55L).otherwise(0L))
            .as("band"))
          .cache()
        def stageEra(era: DataFrame, nBands: Int, path: String): Unit = {
          // wide fixture shape: one count column per band (pivot), plus
          // the reference's unknown-start and row-total columns. Absent
          // (band x cell) combos stay NULL in the CSV — all-null columns
          // are exactly what the drift handling must detect and drop.
          val counts = era.groupBy(dims.map(col): _*)
            .pivot("band", 1 to nBands).agg(count(lit(1)))
          val totals = era.groupBy(dims.map(col): _*)
            .agg(sum("unk").as("Patients with unknown clock start date"),
              count(lit(1)).as("Total All"))
          val wide = (1 to nBands).foldLeft(counts) { (df, i) =>
            df.withColumnRenamed(i.toString, bandColName(i, nBands))
          }.join(totals, dims)
          wide.coalesce(1).write.option("header", "true")
            .mode("overwrite").csv(path)
        }
        stageEra(f0.filter(col("monthyr") <= "1997"), 52,
          dir.resolve("eraA").toString)
        stageEra(f0.filter(col("monthyr") >= "1998"), 105,
          dir.resolve("eraB").toString)
        f0.unpersist(): Unit
      }
      def readEra(nBands: Int, path: String): DataFrame = {
        val schema = StructType(
          Seq(StructField("monthyr", StringType), StructField("provider", StringType),
            StructField("specialty", StringType), StructField("pathway", StringType),
            StructField("is_provider", IntegerType),
            StructField("commissioner_code", StringType)) ++
          (1 to nBands).map(i => StructField(bandColName(i, nBands), LongType)) ++
          Seq(StructField("Patients with unknown clock start date", LongType),
            StructField("Total All", LongType)))
        val raw = graft.ingest.Ingest.csvMangledNames(s, path, Some(schema))
          .withColumnRenamed("Patients.with.unknown.clock.start.date", "unknown_start")
          .withColumnRenamed("Total.All", "total_all")
        graft.schema.RttSchema.pruneDeadBands(
          graft.schema.RttSchema.normalizeWeeks(raw))
      }
      val fact = graft.ops.RelationalOps.rbindFill(
        Seq(readEra(52, dir.resolve("eraA").toString),
          readEra(105, dir.resolve("eraB").toString)))
      orderedStats(DashboardStats.compute(fact, "provider",
        DashboardStats.Config(maxBands = 105)))
    }),
    "q_dashboard_cube" -> ((s, d) => {
      orderedStats(DashboardStats.compute(rttFact(s, d), "provider",
        DashboardStats.Config(maxBands = B)))
    }),

    // The SAME cube through the STREAMING engine: the fact is staged
    // as one parquet drop per month (the reference's monthly-append
    // workflow, `1b.:169-179`), the step-1 base is incrementally
    // maintained by graft.streaming.DashboardStreams, and
    // statsFromBase finishes on the dimension-sized state. Oracled by
    // the identical DuckDB GROUPING SETS SQL as q_dashboard_cube —
    // streaming and batch must agree cell-for-cell.
    "q_stream_cube" -> ((s, d) => {
      // one partitionBy write job stages every monthly drop at once
      // (vs one filter+write job per month: ~7x the scheduling and
      // fact scans at fixture scale, unbounded at a real month count)
      val dir = graft.streaming.PipelineStreams.stageKeyedDrops(
        rttFact(s, d), "monthyr", "graft-cube-drop")
      val out = graft.streaming.PipelineStreams.runToMemory(s,
          "q_stream_cube", "stream_cube_base",
          dir.resolve("ckpt").toString, "complete") {
        graft.streaming.DashboardStreams.incrementalBase(
          graft.streaming.DashboardStreams.readFacts(s, dir.toString),
          "provider", B)
      }
      orderedStats(DashboardStats.statsFromBase(
        out, DashboardStats.Config(maxBands = B)))
    }))

  // One SQL, THREE engines-under-test: the batch plan, the streaming
  // incremental plan, and the wide-CSV-staged ingest plan must all
  // hash-match this independent formulation (parameterized only by the
  // band derivation and band-domain width).
  private def cubeOracleFor(bandSql: String, B: Int): String =
    s"""WITH f AS (
        |  SELECT CAST(year(l_shipdate) AS VARCHAR) AS monthyr,
        |    l_linestatus AS grp0,
        |    CASE l_returnflag WHEN 'A' THEN 'incomplete'
        |         WHEN 'N' THEN 'completeadmitted' ELSE 'newRTT' END AS pathway,
        |    CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS is0,
        |    $bandSql AS band,
        |    CASE WHEN l_tax >= 0.04 THEN 1 ELSE 0 END AS unk
        |  FROM lineitem),
        |base AS (
        |  SELECT monthyr, pathway, band,
        |    CASE WHEN GROUPING(grp0) = 1 THEN 'ENGLAND' ELSE grp0 END AS grp,
        |    CASE WHEN GROUPING(is0) = 1 THEN 'All'
        |         WHEN is0 = 1 THEN 'IS' ELSE 'Non-IS' END AS is_slice,
        |    count(*) AS c, sum(unk) AS unk
        |  FROM f
        |  GROUP BY GROUPING SETS (
        |    (monthyr, pathway, band, grp0, is0),
        |    (monthyr, pathway, band, is0),
        |    (monthyr, pathway, band, grp0),
        |    (monthyr, pathway, band))),
        |cells AS (SELECT DISTINCT monthyr, grp, pathway, is_slice FROM base),
        |spine AS (
        |  SELECT c.monthyr, c.grp, c.pathway, c.is_slice, b.band
        |  FROM cells c CROSS JOIN
        |    (SELECT unnest(generate_series(1, $B)) AS band) b),
        |t AS (
        |  SELECT s.monthyr, s.grp, s.pathway, s.is_slice, s.band,
        |    sum(coalesce(base.c, 0)) OVER (PARTITION BY s.monthyr, s.grp,
        |      s.pathway, s.is_slice ORDER BY s.band) AS cum,
        |    sum(coalesce(base.c, 0)) OVER (PARTITION BY s.monthyr, s.grp,
        |      s.pathway, s.is_slice) AS tnm,
        |    sum(coalesce(base.unk, 0)) OVER (PARTITION BY s.monthyr, s.grp,
        |      s.pathway, s.is_slice) AS unk
        |  FROM spine s LEFT JOIN base
        |    ON s.monthyr = base.monthyr AND s.grp = base.grp
        |    AND s.pathway = base.pathway AND s.is_slice = base.is_slice
        |    AND s.band = base.band),
        |agg AS (
        |  SELECT monthyr, grp, is_slice, pathway,
        |    max(tnm) AS tnm, max(unk) AS unk,
        |    (max(tnm) >= 20 AND pathway <> 'newRTT') AS eligible,
        |    count(*) FILTER (WHERE cum < 0.50 * tnm) AS w50,
        |    count(*) FILTER (WHERE cum < 0.92 * tnm) AS w92,
        |    count(*) FILTER (WHERE cum < 0.95 * tnm) AS w95,
        |    max(CASE WHEN band = 18 THEN cum END) AS n18,
        |    max(tnm) - max(CASE WHEN band = 52 THEN cum END) AS n52p
        |  FROM t GROUP BY monthyr, grp, is_slice, pathway)
        |SELECT monthyr, grp, is_slice, pathway,
        |  CAST(CASE WHEN pathway = 'completeadmitted' THEN tnm + unk
        |       ELSE tnm END AS BIGINT) AS total_patients,
        |  CASE WHEN eligible THEN n18 END AS number_18_or_less,
        |  CASE WHEN eligible THEN
        |    CAST(round_even(100.0 * n18 / tnm * 10, 0) AS BIGINT) END
        |    AS rate_18wks_or_less_x10,
        |  CASE WHEN eligible THEN n52p END AS number_52_or_more,
        |  CASE WHEN eligible THEN
        |    CAST(round_even(100.0 * n52p / tnm * 10, 0) AS BIGINT) END
        |    AS rate_52wks_or_more_x10,
        |  CASE WHEN eligible THEN w50 END AS weeks_50,
        |  CASE WHEN eligible THEN w92 END AS weeks_92,
        |  CASE WHEN eligible THEN w95 END AS weeks_95
        |FROM agg ORDER BY monthyr, grp, is_slice, pathway""".stripMargin

  private val cubeOracle = cubeOracleFor("CAST(l_quantity AS BIGINT) + 10", B)

  val oracles: Map[String, String] = Map(
    "q_dashboard_cube" -> cubeOracle,
    "q_stream_cube" -> cubeOracle,
    "q_ingest_band_drift" -> cubeOracleFor(
      "CAST(l_quantity AS BIGINT) + CASE WHEN year(l_shipdate) >= 1998 THEN 55 ELSE 0 END",
      105))
}
