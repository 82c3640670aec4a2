package graft.schema

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The RTT fact-table data model (SURVEY.md §1): wide-to-array
  * normalization of the ~105 week-band columns and the reference's
  * schema-adaptive column handling.
  *
  * Source extracts carry one column per 1-week wait band
  * (`Gt.00.To.01.Weeks.SUM.1` ... `Gt.104.Weeks.SUM.1`), with the set
  * varying by era (52 bands before 2021, 105 after). The reference
  * re-detects non-empty bands per call (`select(starts_with("Gt")) +
  * not_all_na`, `2.:141-144`); we normalize ONCE at ingest into a
  * single `weeks: array<bigint>` column — every downstream computation
  * treats the bands as a vector, and one array column shuffles ~105x
  * fewer cells than wide columns at 100 TB.
  */
object RttSchema {

  private val BandStart = """^Gt\.?(\d+).*""".r

  /** P3 — pattern projection: the band columns of `df` in band order
    * (parsed from the leading week number, robust to both the
    * `Gt.XX.To.YY.Weeks.SUM.1` and final open-ended `Gt.104.Weeks`
    * shapes and to R name-mangling variants). */
  def bandColumns(df: DataFrame): Seq[String] =
    df.columns.toSeq
      .flatMap { c =>
        c match {
          case BandStart(w) => Some((w.toInt, c))
          case _ => None
        }
      }
      .sortBy(_._1)
      .map(_._2)

  /** Wide -> array normalization (R3 inverse): pack the band columns
    * into `weeks` (1-based band i at slot i-1, longs, nulls preserved
    * for the era-drift columns) and drop the wide originals. */
  def normalizeWeeks(df: DataFrame, weeksCol: String = "weeks"): DataFrame = {
    val bands = bandColumns(df)
    require(bands.nonEmpty, "no Gt.* band columns found")
    df.withColumn(weeksCol,
        array(bands.map(c => col(s"`$c`").cast("bigint")): _*))
      .drop(bands: _*)
  }

  /** P4 — the reference's `not_all_na` band detection, array form:
    * number of leading bands that are non-null somewhere in `df`
    * (bands past that are dead columns for the month/era). */
  def liveBandCount(df: DataFrame, weeksCol: String = "weeks"): Int = {
    val maxBands = df.select(max(size(col(weeksCol)))).head.getInt(0)
    if (maxBands <= 0) 0
    else {
      val counts = df.agg(
        (1 to maxBands).map(i =>
          count(try_element_at(col(weeksCol), lit(i))).as(s"b$i")).head,
        (2 to maxBands).map(i =>
          count(try_element_at(col(weeksCol), lit(i))).as(s"b$i")): _*).head
      (maxBands to 1 by -1).find(i => counts.getAs[Long](s"b$i") > 0).getOrElse(0)
    }
  }

  /** Truncate every weeks array to the live band count (the per-month
    * equivalent of dropping all-NA wide columns). */
  def pruneDeadBands(df: DataFrame, weeksCol: String = "weeks"): DataFrame = {
    val live = liveBandCount(df, weeksCol)
    df.withColumn(weeksCol, slice(col(weeksCol), 1, math.max(live, 1)))
  }
}
