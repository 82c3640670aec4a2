package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** [[MergeUpsert.mergeByKey]]: updates override, inserts land,
  * untouched partitions are physically untouched (same files, same
  * modification times), and the staging dir never survives. */
class MergeUpsertSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("mergeByKey: update + insert semantics, partition-scoped rewrite") {
    val dir = graft.util.TempDirs.scoped("merge-spec").resolve("t").toString
    val base = Seq(
      (1L, "a", 100L, 0L), (2L, "a", 200L, 0L),
      (3L, "b", 300L, 0L), (4L, "b", 400L, 0L),
      (5L, "c", 500L, 0L))
      .toDF("k", "part", "v", "version")
    base.write.partitionBy("part").parquet(dir)
    val untouchedFiles = fs(dir).listStatus(new Path(dir, "part=c"))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath.toString, st.getModificationTime)).toSeq
    // update k=1 (part a), insert k=9 into part b; part c untouched
    val updates = Seq((1L, "a", 111L, 1L), (9L, "b", 900L, 1L))
      .toDF("k", "part", "v", "version")
    MergeUpsert.mergeByKey(spark, dir, updates,
      keyCols = Seq("k"), versionCol = "version", partitionCol = "part")
    val got = spark.read.parquet(dir)
      .select("k", "part", "v", "version").orderBy("k").collect().toSeq
    assert(got == Seq(
      Row(1L, "a", 111L, 1L),  // updated
      Row(2L, "a", 200L, 0L),  // kept (touched partition, unmatched key)
      Row(3L, "b", 300L, 0L),
      Row(4L, "b", 400L, 0L),
      Row(5L, "c", 500L, 0L),  // untouched partition
      Row(9L, "b", 900L, 1L))) // inserted
    // untouched partition: identical files, identical mtimes
    val after = fs(dir).listStatus(new Path(dir, "part=c"))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath.toString, st.getModificationTime)).toSeq
    assert(after == untouchedFiles, "untouched partition was rewritten")
    // staging is cleaned up
    val leftovers = fs(dir).globStatus(new Path(dir + "-staging-*"))
    assert(leftovers == null || leftovers.isEmpty, "staging dir survived")
  }

  test("mergeByKey: null partition values merge (null-safe touch join)") {
    val dir = graft.util.TempDirs.scoped("merge-spec-null").resolve("t").toString
    Seq((1L, Option("a"), 100L, 0L), (2L, Option.empty[String], 200L, 0L))
      .toDF("k", "part", "v", "version")
      .write.partitionBy("part").parquet(dir)
    // update the null-partition key AND insert another null-partition
    // key: the base's null-partition rows must be read (a plain
    // equi-semi-join would drop them and the swap would lose k=2)
    val updates = Seq((2L, Option.empty[String], 222L, 1L),
      (9L, Option.empty[String], 900L, 1L)).toDF("k", "part", "v", "version")
    MergeUpsert.mergeByKey(spark, dir, updates,
      Seq("k"), "version", "part")
    val got = spark.read.parquet(dir)
      .select("k", "v", "version").orderBy("k").collect().toSeq
    assert(got == Seq(Row(1L, 100L, 0L), Row(2L, 222L, 1L),
      Row(9L, 900L, 1L)))
  }

  test("mergeByKey: numeric-looking STRING partition values keep their " +
      "directory spelling (no int inference on read-back)") {
    val dir = graft.util.TempDirs.scoped("merge-spec-str").resolve("t").toString
    Seq((1L, "01", 100L, 0L), (2L, "02", 200L, 0L))
      .toDF("k", "part", "v", "version")
      .write.partitionBy("part").parquet(dir)
    val updates = Seq((1L, "01", 111L, 1L)).toDF("k", "part", "v", "version")
    MergeUpsert.mergeByKey(spark, dir, updates,
      Seq("k"), "version", "part")
    // the rewritten partition must land back in part=01 (inference
    // would have read it as int 1 and staged a NEW part=1 dir)
    assert(fs(dir).exists(new Path(dir, "part=01")))
    assert(!fs(dir).exists(new Path(dir, "part=1")))
    val got = spark.read.schema(
        org.apache.spark.sql.types.StructType.fromDDL(
          "k LONG, part STRING, v LONG, version LONG"))
      .parquet(dir)
      .select("k", "part", "v", "version").orderBy("k").collect().toSeq
    assert(got == Seq(Row(1L, "01", 111L, 1L), Row(2L, "02", 200L, 0L)))
  }

  test("mergeByKey: leftover crash tombstone is cleared; no tombstone survives") {
    val dir = graft.util.TempDirs.scoped("merge-spec-tomb").resolve("t").toString
    Seq((1L, "a", 100L, 0L), (2L, "b", 200L, 0L))
      .toDF("k", "part", "v", "version")
      .write.partitionBy("part").parquet(dir)
    // simulate a previous crashed swap: a stale dot-prefixed tombstone
    // for part=a sits in the table dir (dot-prefixed => invisible to
    // Spark partition discovery, so it never reads as a phantom value)
    val tomb = new Path(dir, ".part=a.old")
    fs(dir).mkdirs(tomb)
    val updates = Seq((1L, "a", 111L, 1L)).toDF("k", "part", "v", "version")
    MergeUpsert.mergeByKey(spark, dir, updates,
      Seq("k"), "version", "part")
    val got = spark.read.parquet(dir)
      .select("k", "v", "version").orderBy("k").collect().toSeq
    assert(got == Seq(Row(1L, 111L, 1L), Row(2L, 200L, 0L)))
    // swap completed: neither the stale nor a fresh tombstone survives
    assert(!fs(dir).exists(tomb), "stale tombstone not cleared")
    val hidden = fs(dir).listStatus(new Path(dir))
      .filter(_.getPath.getName.endsWith(".old"))
    assert(hidden.isEmpty, "tombstone survived a completed swap")
  }

  test("PUBLIC-LAKE BOUNDARY drill: a plain-parquet reader racing the " +
      "swap reads its whole pre-swap rows or fails LOUDLY — never " +
      "silent intra-partition partial rows") {
    // MergeUpsert is the engine's ONE remaining rename-swap publish
    // (by design: the public plain-parquet lake, where the directory
    // layout is the interface and no manifest exists for readers to
    // resolve). This drill pins what the non-transactional window
    // can expose to a reader whose file listing predates the swap:
    //   (a) the listing is served whole (local fs caching, object
    //       stores with read-after-delete grace) -> the reader gets
    //       exactly its complete PRE-swap rows; or
    //   (b) a swapped file is gone at fetch time -> the task fails
    //       with FileNotFoundException, surfaced as a LOUD job error.
    // What can NEVER happen: partial rows of a partition (staging is
    // fully written before any rename; the swap is one dir-level
    // rename per partition, and the tombstone ordering keeps a whole
    // copy on disk at every instant). The remaining honest exposure —
    // a fresh LISTING between the tombstone and staging renames can
    // miss a whole partition — cannot be closed without a manifest;
    // engine-internal callers needing reader isolation use
    // TableLayout (the versioned-snapshot layout) instead.
    val dir = graft.util.TempDirs.scoped("merge-race").resolve("t").toString
    Seq((1L, "a", 100L, 0L), (2L, "b", 200L, 0L), (3L, "a", 300L, 0L))
      .toDF("k", "part", "v", "version")
      .write.partitionBy("part").parquet(dir)
    // the racing reader: file listing pinned at read.parquet() time
    val pinned = spark.read.parquet(dir).select("k", "v", "version")
    val preRows = spark.read.parquet(dir).select("k", "v", "version")
      .orderBy("k").collect().toSeq
    // the swap rewrites partition a under the pinned plan
    MergeUpsert.mergeByKey(spark, dir,
      Seq((1L, "a", 111L, 1L)).toDF("k", "part", "v", "version"),
      Seq("k"), "version", "part")
    val outcome = scala.util.Try(pinned.orderBy("k").collect().toSeq)
    outcome match {
      case scala.util.Success(rows) =>
        assert(rows == preRows,
          "a surviving pre-swap listing must serve the WHOLE pre-swap " +
            s"rows, got $rows")
      case scala.util.Failure(e) =>
        val chain = Iterator.iterate(e.asInstanceOf[Throwable])(_.getCause)
          .takeWhile(_ != null).toSeq
        assert(chain.exists(c =>
            c.isInstanceOf[java.io.FileNotFoundException] ||
            Option(c.getMessage).exists(_.contains("FileNotFound"))),
          s"the only acceptable failure is a LOUD missing-file error, got $e")
    }
    // a fresh reader sees exactly the post-merge table
    val post = spark.read.parquet(dir).select("k", "v", "version")
      .orderBy("k").collect().toSeq
    assert(post == Seq(Row(1L, 111L, 1L), Row(2L, 200L, 0L),
      Row(3L, 300L, 0L)))
  }

  test("mergeByKey: repeated merge of the same batch is idempotent") {
    val dir = graft.util.TempDirs.scoped("merge-spec2").resolve("t").toString
    Seq((1L, "a", 100L, 0L), (2L, "b", 200L, 0L))
      .toDF("k", "part", "v", "version")
      .write.partitionBy("part").parquet(dir)
    val updates = Seq((1L, "a", 111L, 1L)).toDF("k", "part", "v", "version")
    MergeUpsert.mergeByKey(spark, dir, updates,
      Seq("k"), "version", "part")
    MergeUpsert.mergeByKey(spark, dir, updates,
      Seq("k"), "version", "part")
    val got = spark.read.parquet(dir)
      .select("k", "v", "version").orderBy("k").collect().toSeq
    assert(got == Seq(Row(1L, 111L, 1L), Row(2L, 200L, 0L)))
  }
}
