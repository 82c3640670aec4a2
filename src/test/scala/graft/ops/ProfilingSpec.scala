package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class ProfilingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def table = {
    import spark.implicits._
    Seq(
      (1L, Some("a"), Some(10)),
      (2L, Some("b"), None),
      (3L, None, Some(30)),
      (4L, Some("a"), Some(10))
    ).toDF("k", "s", "v")
  }

  test("profile: hand-computed counts, nulls, distincts, typed min/max") {
    val got = Profiling.profile(table, Seq("k", "s", "v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4),
          r.getString(5)))).toMap
    assert(got("k") == ((4L, 0L, 4L, "1", "4")))
    assert(got("s") == ((4L, 1L, 2L, "a", "b")))
    // min/max computed in the column's own type: numeric 10 < 30,
    // not lexicographic "10" < "30" coincidence — checked via a
    // two-digit/one-digit mix below
    assert(got("v") == ((4L, 1L, 2L, "10", "30")))
  }

  test("typed min/max: numeric order, not string order") {
    import spark.implicits._
    val t = Seq(9L, 10L, 100L).toDF("n")
    val row = Profiling.profile(t, Seq("n")).head()
    // string order would give min "10", max "9"
    assert(row.getString(4) == "9" && row.getString(5) == "100")
  }

  test("column names with dots profile cleanly (no nested-field parse)") {
    import spark.implicits._
    val t = Seq((1L, Some("x")), (2L, None))
      .toDF("metric.name", "tag.value")
    val got = Profiling.profile(t, Seq("metric.name", "tag.value"))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got("metric.name") == 0L)
    assert(got("tag.value") == 1L)
  }

  test("approxDistinct stays within the HLL envelope") {
    val t = spark.range(10000).toDF("id")
    val exact = Profiling.profile(t, Seq("id")).head().getLong(3)
    val approx = Profiling.profile(t, Seq("id"), approxDistinct = true)
      .head().getLong(3)
    assert(exact == 10000L)
    assert(math.abs(approx - 10000L) < 500, s"approx=$approx")
  }
}
