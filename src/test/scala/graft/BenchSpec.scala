package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("jsonEscape: control characters round-trip through Spark's JSON reader") {
    import spark.implicits._
    val raw = "a\\b \"q\" line1\nline2\r\ttab \u0001\u001f end"
    val esc = Bench.jsonEscape(raw)
    // the stdout record stays one line: no raw control character survives
    assert(!esc.exists(_ < 0x20), s"unescaped control char in: $esc")
    val rec = s"""{"metric":"total","extra_conf":"$esc"}"""
    val df = spark.read.json(Seq(rec).toDS())
    assert(!df.columns.contains("_corrupt_record"), s"unparseable: $rec")
    assert(df.select("extra_conf").head().getString(0) == raw)
  }
}
