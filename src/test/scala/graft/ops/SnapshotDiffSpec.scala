package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class SnapshotDiffSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def snap(rows: Seq[(Long, String, java.lang.Long)]) = {
    import spark.implicits._
    rows.toDF("k", "status", "cents")
  }

  test("classifies added/removed/changed/unchanged with null-safe compares") {
    val oldSnap = snap(Seq(
      (1L, "F", 100L), // unchanged
      (2L, "O", 200L), // changed: cents
      (3L, "F", 300L), // removed
      (4L, "F", null), // changed: null -> value
      (5L, "P", null)  // unchanged: null <=> null
    ))
    val newSnap = snap(Seq(
      (1L, "F", 100L),
      (2L, "O", 250L),
      (4L, "F", 400L),
      (5L, "P", null),
      (6L, "O", 600L) // added
    ))
    val out = SnapshotDiff.diff(oldSnap, newSnap, Seq("k"),
        Seq("status", "cents"), keepUnchanged = true)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("change_type"))
      .toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "changed", 5L -> "unchanged", 6L -> "added"))
  }

  test("default drops unchanged rows and carries old_/new_ values") {
    val oldSnap = snap(Seq((1L, "F", 100L), (2L, "O", 200L)))
    val newSnap = snap(Seq((1L, "F", 100L), (2L, "O", 250L)))
    val rows = SnapshotDiff.diff(oldSnap, newSnap, Seq("k"),
      Seq("status", "cents")).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("k") == 2L)
    assert(r.getAs[Long]("old_cents") == 200L)
    assert(r.getAs[Long]("new_cents") == 250L)
    assert(r.getAs[String]("old_status") == "O")
  }

  test("round-trip law: applyDiff(old, diff(old, new)) == new on random snapshots") {
    val rnd = new scala.util.Random(11)
    def snapRand(keys: Seq[Long]) = snap(keys.map { k =>
      (k, Seq("A", "B", "C")(rnd.nextInt(3)),
        if (rnd.nextInt(10) == 0) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf(rnd.nextInt(1000).toLong))
    })
    for (_ <- 1 to 4) {
      val oldKeys = (1L to 200L).filter(_ => rnd.nextInt(4) > 0)
      val newKeys = (1L to 200L).filter(_ => rnd.nextInt(4) > 0)
      val oldSnap = snapRand(oldKeys)
      val newSnap = snapRand(newKeys)
      // both feed flavors must reconstruct: delta-sized (default) and
      // the full audit grid (keepUnchanged=true carries 'unchanged'
      // rows, which applyDiff must treat as untouched keys)
      val feed = SnapshotDiff.diff(oldSnap, newSnap, Seq("k"),
        Seq("status", "cents"),
        keepUnchanged = rnd.nextBoolean())
      val rebuilt = SnapshotDiff.applyDiff(oldSnap, feed, Seq("k"),
          Seq("status", "cents"))
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
      val want = newSnap
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
      assert(rebuilt == want)
    }
  }
}
