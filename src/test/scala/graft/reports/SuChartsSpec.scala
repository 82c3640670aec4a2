package graft.reports

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Golden end-to-end over the SU chart tables, two sources per chart:
  *   - a checked-in fixture in the SU CSV format (`src/test/resources/su`,
  *     unnamed R row index first) with goldens computed by hand below —
  *     always runs;
  *   - the reference's own checked-in CSVs (read-only under
  *     /root/reference), with goldens independently computed from the
  *     raw CSVs — run whenever that tree exists. */
class SuChartsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dataDir = "/root/reference/Strategy Unit Update/Data"
  private val nat = "National trends in independent sector trends in provision of elective care.csv"
  private val haveReference = new java.io.File(dataDir).isDirectory

  private def fixture(name: String) =
    SuCharts.readSuCsv(spark,
      new java.io.File(getClass.getResource(s"/su/$name").toURI).getPath)
  private def month(d: String) = lit(d).cast("date")

  test("chart2: IS/NHS volumes + share blocks match the raw CSV") {
    // fixture: 2 specialities x 3 months of inpatient IS/NHS volumes,
    // plus outpatient rows the "Inpatient admissions" filter must drop
    val f2 = SuCharts.chart2(fixture("1-3-2-national-trends.csv")).cache()
    // 2 specialities x 3 months x 2 Grid blocks
    assert(f2.count() == 12)
    val fVol = f2.filter($"speciality" === "Ophthalmology" &&
      $"Grid" === "Number of treatments" &&
      $"der_activity_month" === month("2022-02-01")).head
    // inpatient rows only: IS 200 / NHS 200 (not the outpatient 999 / 1)
    assert(fVol.getAs[Double]("Independent Sector") == 200.0)
    assert(fVol.getAs[Double]("NHS") == 200.0)
    def fShare(spec: String, m: String) = f2.filter($"speciality" === spec &&
        $"Grid" =!= "Number of treatments" && $"der_activity_month" === month(m))
      .head.getAs[Double]("Independent sector share of total treatments (%)")
    // 200 / (200 + 200) * 100 = 50
    assert(math.abs(fShare("Ophthalmology", "2022-02-01") - 50.0) < 1e-9)
    // 100 / (100 + 300) * 100 = 25
    assert(math.abs(fShare("Ophthalmology", "2021-12-01") - 25.0) < 1e-9)
    // 40 / (40 + 160) * 100 = 20
    assert(math.abs(fShare("Orthopaedic", "2021-12-01") - 20.0) < 1e-9)
    // 90 / (90 + 210) * 100 = 30
    assert(math.abs(fShare("Orthopaedic", "2022-02-01") - 30.0) < 1e-9)
    // row order: speciality, then Grid DESC ("Number..." > "Independent..."),
    // then month — the first row is Ophthalmology's 2021-12 volume row
    val first = f2.head
    assert(first.getAs[String]("speciality") == "Ophthalmology" &&
      first.getAs[String]("Grid") == "Number of treatments" &&
      first.getAs[Double]("Independent Sector") == 100.0)

    if (haveReference) {
      val raw = SuCharts.readSuCsv(spark, s"$dataDir/1-3-2 $nat")
      val c2 = SuCharts.chart2(raw).cache()
      // golden: Ophthalmology 2018-02-01 -> IS 8789, NHS 44900
      val vol = c2.filter($"speciality" === "Ophthalmology" &&
        $"Grid" === "Number of treatments" &&
        $"der_activity_month" === lit("2018-02-01").cast("date")).head
      assert(vol.getAs[Double]("Independent Sector") == 8789.0)
      assert(vol.getAs[Double]("NHS") == 44900.0)
      assert(vol.isNullAt(vol.fieldIndex(
        "Independent sector share of total treatments (%)")))
      val share = c2.filter($"speciality" === "Ophthalmology" &&
        $"Grid" =!= "Number of treatments" &&
        $"der_activity_month" === lit("2018-02-01").cast("date")).head
      val expected = 8789.0 / (8789.0 + 44900.0) * 100
      assert(math.abs(share.getAs[Double](
        "Independent sector share of total treatments (%)") - expected) < 1e-9)
      assert(share.isNullAt(share.fieldIndex("NHS")))
      // structure: both Grid blocks, same month count in each
      val counts = c2.groupBy("Grid").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts.values.toSet.size == 1 && counts.size == 2)
    }
  }

  test("chart3 heatmap: data-driven region ordering matches reference semantics") {
    // fixture: 3 regions x 3 months per specialty. Mean ophthalmic IS
    // inpatient share since 2022:
    //   North West (30.5 + 40.5) / 2 = 35.5
    //   South East (20.5 + 30.5) / 2 = 25.5
    //   London     (10.5 + 20.5) / 2 = 15.5
    // Counting the 2021-12 month would rank London first
    // ((90.5 + 10.5 + 20.5) / 3 = 40.5), and so would London's
    // outpatient 99.5 row — both must be filtered out.
    val f3 = SuCharts.chart3Heat(
      fixture("1-1-1-sub-national-ophthalmic.csv"),
      fixture("1-1-1-sub-national-orthopaedic.csv")).cache()
    val fOrder = f3.select("region", "region_rank").distinct()
      .orderBy("region_rank").collect().map(_.getString(0)).toSeq
    assert(fOrder == Seq("North West", "South East", "London"))
    // IS inpatient rows only: 2 specialties x 3 regions x 3 months
    assert(f3.count() == 18)
    assert(f3.select("specialty").distinct().count() == 2)
    // orthopaedic rows carry the ophthalmology-derived rank: London's
    // orthopaedic 2022-02 row (IS share 16.5) sits at rank 3
    val lon = f3.filter($"specialty" === "Orthopaedic" && $"region" === "London" &&
      $"der_activity_month" === month("2022-02-01")).head
    assert(lon.getAs[Int]("region_rank") == 3 && lon.getAs[Double]("prop") == 16.5)
    // row order: specialty, rank, month — first row is Ophthalmology,
    // North West, 2021-12 (IS share 5.5), labelled "Dec 21"
    val first = f3.head
    assert(first.getAs[String]("specialty") == "Ophthalmology" &&
      first.getAs[String]("region") == "North West" &&
      first.getAs[Double]("prop") == 5.5 &&
      first.getAs[String]("monthyear") == "Dec 21")

    if (haveReference) {
      val eye = SuCharts.readSuCsv(spark,
        s"$dataDir/1-1-1 Sub-national ophthalmic trends in independent sector provision of elective care.csv")
      val ortho = SuCharts.readSuCsv(spark,
        s"$dataDir/1-1-1 Sub-national orthopaedic trends in independent sector provision of elective care.csv")
      val c3 = SuCharts.chart3Heat(eye, ortho).cache()
      // golden ordering (mean ophthalmic IS share since 2022, desc)
      val order = c3.select("region", "region_rank").distinct()
        .orderBy("region_rank").collect().map(_.getString(0)).toSeq
      assert(order == Seq("North West", "South West", "Midlands",
        "North East and Yorkshire", "East of England", "South East", "London"))
      // monthyear label shape "Feb 18"
      val lbl = c3.filter($"der_activity_month" === lit("2018-02-01").cast("date"))
        .select("monthyear").head.getString(0)
      assert(lbl == "Feb 18")
      assert(c3.select("specialty").distinct().count() == 2)
    }
  }

  test("chart4: deprivation quintiles pivot wide with labelled extremes") {
    // fixture: all 5 quintiles over 2 months; IS inpatient share is
    // 10.5 + (q - 1) in 2022-01 and 20.25 + (q - 1) in 2022-02, and
    // each month has an outpatient quintile-1 row (77.75) to drop
    val fc4 = SuCharts.chart4(
      fixture("4-2-3-national-trends-deprivation.csv"), "Ophthalmology")
    assert(fc4.columns.toSeq == Seq("specialty", "der_activity_month",
      "1 (most deprived)", "2", "3", "4", "5 (least deprived)"))
    val f4 = fc4.collect()
    assert(f4.length == 2)
    val Array(jan, feb) = f4
    assert(jan.getAs[java.sql.Date]("der_activity_month").toString == "2022-01-01")
    assert(feb.getAs[String]("specialty") == "Ophthalmology")
    assert(Seq("1 (most deprived)", "2", "3", "4", "5 (least deprived)")
      .map(feb.getAs[Double]) == Seq(20.25, 21.25, 22.25, 23.25, 24.25))
    assert(jan.getAs[Double]("1 (most deprived)") == 10.5 &&
      jan.getAs[Double]("5 (least deprived)") == 14.5)

    if (haveReference) {
      val raw = SuCharts.readSuCsv(spark, s"$dataDir/4-2-3 $nat")
      val c4 = SuCharts.chart4(raw, "Ophthalmology").cache()
      val r = c4.filter($"der_activity_month" === lit("2018-02-01").cast("date")).head
      assert(math.abs(r.getAs[Double]("1 (most deprived)") - 15.8467168123602) < 1e-9)
      assert(math.abs(r.getAs[Double]("5 (least deprived)") - 17.2065139584825) < 1e-9)
      assert(c4.columns.toSeq == Seq("specialty", "der_activity_month",
        "1 (most deprived)", "2", "3", "4", "5 (least deprived)"))
    }
  }
}
