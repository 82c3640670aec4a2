package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The versioned-snapshot store layout's contracts: atomic manifest
  * commits, reader isolation across rewrites (the round-11 dedup
  * boundary — a reader that resolved a snapshot keeps a complete file
  * set through the GC grace window), legacy-layout migration,
  * generation folding, the keyed merge, and the double-writer epoch
  * abort. */
class TableLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def lockedToken[T](path: String)(body: String => T): T =
    StoreLock.withLockCtx(spark, path)(ctx => body(ctx.token))

  private def rows(df: DataFrame): Set[(Long, String, Int)] =
    df.select(col("id"), col("v"), col("ib").cast("int"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet

  private def mk(ids: Seq[Long], tag: String, buckets: Int = 4) =
    ids.toDF("id").select(col("id"),
      concat(lit(tag + "-"), col("id")).as("v"),
      pmod(col("id"), lit(buckets.toLong)).cast("int").as("ib"))

  test("publish/read roundtrip, flat and partitioned; re-publish is " +
      "one atomic snapshot flip with the old generation GC'd on grace") {
    val flat = graft.util.TempDirs.scoped("tl-flat").toString + "/store"
    lockedToken(flat) { t =>
      TableLayout.publish(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
        flat, None, t)
    }
    assert(TableLayout.read(spark, flat).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b")))
    val part = graft.util.TempDirs.scoped("tl-part").toString + "/store"
    lockedToken(part)(t =>
      TableLayout.publish(mk(0L to 7L, "x"), part, Some("ib"), t))
    assert(rows(TableLayout.read(spark, part)) == rows(mk(0L to 7L, "x")))
    // re-publish: new content lives, version advanced
    lockedToken(part)(t =>
      TableLayout.publish(mk(0L to 3L, "y"), part, Some("ib"), t))
    assert(rows(TableLayout.read(spark, part)) == rows(mk(0L to 3L, "y")))
    assert(TableLayout.resolve(spark, part).version == 2L)
    // third publish: v1's generation falls out of the 2-deep grace
    // window and its directory is reaped
    lockedToken(part)(t =>
      TableLayout.publish(mk(0L to 1L, "z"), part, Some("ib"), t))
    assert(!new java.io.File(part, "data-g1").exists(),
      "superseded generation beyond the grace window must be GC'd")
    assert(new java.io.File(part, "data-g2").exists(),
      "the PREVIOUS generation is the reader grace window")
  }

  test("pins round-trip through the manifest; a pin carrying a manifest " +
      "delimiter is rejected before anything commits") {
    val path = graft.util.TempDirs.scoped("tl-pins").toString + "/store"
    val pins = Map("n" -> "3", "nfc" -> "true", "k=v" -> "a=b c")
    lockedToken(path)(t =>
      TableLayout.publish(mk(0L to 3L, "x"), path, Some("ib"), t,
        pins = pins))
    assert(TableLayout.resolve(spark, path).pins == pins)
    Seq("a;b", "a,b", "a\nb").foreach { bad =>
      val e = intercept[IllegalArgumentException](lockedToken(path)(t =>
        TableLayout.publish(mk(0L to 3L, "y"), path, Some("ib"), t,
          pins = Map("p" -> bad))))
      assert(e.getMessage.contains("manifest delimiter"))
    }
    assert(TableLayout.resolve(spark, path).version == 1L)
    assert(rows(TableLayout.read(spark, path)) == rows(mk(0L to 3L, "x")))
  }

  test("reader isolation: a snapshot resolved before a rewrite serves " +
      "its complete pre-rewrite content afterwards") {
    val path = graft.util.TempDirs.scoped("tl-iso").toString + "/store"
    lockedToken(path)(t =>
      TableLayout.publish(mk(0L to 9L, "old"), path, Some("ib"), t))
    val pre = TableLayout.resolve(spark, path)
    // rewrite buckets 0 and 1 (replacement also DROPS id 0 and 4)
    val repl = mk(Seq(8L, 1L, 5L, 9L), "new")
    lockedToken(path)(t =>
      TableLayout.replacePartitions(spark, path, repl, Seq("0", "1"), t))
    // the OLD snapshot still reads every pre-rewrite row
    assert(rows(TableLayout.readAt(spark, path, pre)) ==
      rows(mk(0L to 9L, "old")),
      "pre-rewrite snapshot must stay fully readable (grace window)")
    // the live snapshot merged: buckets 0,1 replaced, 2,3 untouched
    val live = rows(TableLayout.read(spark, path))
    val want = rows(mk(Seq(8L, 1L, 5L, 9L), "new")) ++
      rows(mk(0L to 9L, "old")).filter(r => r._3 != 0 && r._3 != 1)
    assert(live == want)
  }

  test("replacePartitions deletes an emptied partition and never " +
      "touches other buckets' files") {
    val path = graft.util.TempDirs.scoped("tl-empty").toString + "/store"
    lockedToken(path)(t =>
      TableLayout.publish(mk(0L to 7L, "a"), path, Some("ib"), t))
    def fileSet(d: java.io.File): Set[String] =
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.isFile).map(f => f.getName + ":" + f.lastModified).toSet
    val g1 = new java.io.File(path, "data-g1")
    val before = Option(g1.listFiles()).get.filter(_.isDirectory)
      .map(d => d.getName -> fileSet(d)).toMap
    // empty bucket 2 entirely (no replacement rows carry ib=2)
    lockedToken(path)(t =>
      TableLayout.replacePartitions(spark, path,
        mk(0L to 7L, "a").filter(col("ib") =!= 2 && col("ib") =!= 3),
        Seq("2", "3"), t))
    val live = rows(TableLayout.read(spark, path))
    assert(live == rows(mk(0L to 7L, "a")).filter(r => r._3 < 2),
      s"buckets 2,3 must be gone: $live")
    // untouched buckets' generation-1 files are byte-for-byte the same
    val after = Option(g1.listFiles()).get.filter(_.isDirectory)
      .map(d => d.getName -> fileSet(d)).toMap
    Seq("ib=0", "ib=1").foreach(b =>
      assert(after.get(b) == before.get(b), s"$b was rewritten"))
  }

  test("legacy plain-parquet stores migrate on first rewrite: reads " +
      "work before and after, legacy files survive the grace window") {
    // flat legacy: engine-written plain parquet at the root
    val flat = graft.util.TempDirs.scoped("tl-legacyflat").toString + "/store"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(flat)
    assert(TableLayout.resolve(spark, flat).version == 0L)
    assert(TableLayout.read(spark, flat).count() == 2L)
    lockedToken(flat)(t =>
      TableLayout.publish(Seq((3L, "c")).toDF("id", "v"), flat, None, t))
    assert(TableLayout.read(spark, flat).collect()
      .map(_.getLong(0)).toSet == Set(3L))
    assert(new java.io.File(flat).listFiles()
      .exists(f => f.isFile && f.getName.endsWith(".parquet")),
      "legacy root files must survive the grace window (v0 kept)")
    // partitioned legacy with a rewrite + append cycle
    val part = graft.util.TempDirs.scoped("tl-legacypart").toString + "/store"
    mk(0L to 7L, "l").repartition(col("ib"))
      .write.mode("overwrite").partitionBy("ib").parquet(part)
    val snap0 = TableLayout.resolve(spark, part)
    assert(snap0.version == 0L && snap0.pcol.contains("ib"))
    assert(rows(TableLayout.read(spark, part)) == rows(mk(0L to 7L, "l")))
    lockedToken(part)(t =>
      TableLayout.replacePartitions(spark, part, mk(Seq(4L), "m"),
        Seq("0"), t))
    assert(rows(TableLayout.read(spark, part)) ==
      rows(mk(Seq(4L), "m")) ++
        rows(mk(0L to 7L, "l")).filter(_._3 != 0))
    // the pre-migration snapshot still serves (manifest v0 backfilled)
    assert(rows(TableLayout.readAt(spark, part, snap0)) ==
      rows(mk(0L to 7L, "l")))
    // appends go to the newest generation; the legacy root gains no files
    val rootFilesBefore = new java.io.File(part).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("ib="))
    TableLayout.append(mk(Seq(12L), "n"), part, Some("ib"))
    assert(new java.io.File(part).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("ib=")) ==
      rootFilesBefore)
    assert(rows(TableLayout.read(spark, part)).contains((12L, "n-12", 0)))
  }

  test("generation folding past MaxGens keeps the live relation exact " +
      "and collapses the manifest") {
    val path = graft.util.TempDirs.scoped("tl-fold").toString + "/store"
    val buckets = 6
    var expect = rows(mk(0L to 17L, "r0", buckets))
    lockedToken(path)(t =>
      TableLayout.publish(mk(0L to 17L, "r0", buckets), path,
        Some("ib"), t))
    // 7 rounds of single-bucket rewrites: gens would reach 8 without
    // folding; the manifest must stay at or under MaxGens
    (1 to 7).foreach { r =>
      val b = r % buckets
      val repl = mk((0L to 17L).filter(_ % buckets == b), s"r$r", buckets)
      lockedToken(path)(t =>
        TableLayout.replacePartitions(spark, path, repl,
          Seq(b.toString), t))
      expect = expect.filter(_._3 != b) ++ rows(repl)
      assert(rows(TableLayout.read(spark, path)) == expect,
        s"round $r diverged")
      val snap = TableLayout.resolve(spark, path)
      assert(snap.gens.length <= TableLayout.MaxGens,
        s"round $r: ${snap.gens.length} generations")
    }
  }

  test("mergeByKey: updates override on version, inserts append, " +
      "untouched partitions never read or rewritten") {
    val path = graft.util.TempDirs.scoped("tl-merge").toString + "/store"
    val base = (0L to 7L).toDF("id").select(col("id"),
      concat(lit("v0-"), col("id")).as("v"), lit(0L).as("ver"),
      pmod(col("id"), lit(4L)).cast("int").as("ib"))
    lockedToken(path)(t => TableLayout.publish(base, path, Some("ib"), t))
    val updates = Seq((0L, "v1-0", 1L, 0), (1L, "v1-1", 1L, 1),
      (20L, "v1-20", 1L, 0)).toDF("id", "v", "ver", "ib")
    lockedToken(path)(t =>
      TableLayout.mergeByKey(spark, path, updates, Seq("id"), "ver", t))
    val got = TableLayout.read(spark, path)
      .select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == "v1-0" && got(1L) == "v1-1" && got(20L) == "v1-20")
    assert(got(2L) == "v0-2" && got.size == 9)
  }

  test("a racing writer that lost the advisory lease aborts BEFORE " +
      "publishing: the live snapshot is the winner's alone") {
    val path = graft.util.TempDirs.scoped("tl-race").toString + "/store"
    lockedToken(path)(t =>
      TableLayout.publish(Seq((1L, "a")).toDF("id", "v"), path, None, t))
    val live = TableLayout.resolve(spark, path)
    // simulate the loser: it entered under token X, then a second
    // writer re-stamped the epoch — the loser's commit must throw and
    // leave the manifest chain untouched
    val ex = intercept[IllegalStateException] {
      TableLayout.publish(Seq((9L, "z")).toDF("id", "v"), path, None,
        "stale-loser-token")
    }
    assert(ex.getMessage.contains("aborted BEFORE publishing"))
    assert(TableLayout.resolve(spark, path).version == live.version)
    assert(TableLayout.read(spark, path).collect()
      .map(_.getString(1)).toSet == Set("a"))
  }

  test("multi-generation reads keep partition pruning: caller filters " +
      "AND exclusion filters land in every generation scan's " +
      "PartitionFilters") {
    val path = graft.util.TempDirs.scoped("tl-prune").toString + "/store"
    lockedToken(path)(t =>
      TableLayout.publish(mk(0L to 11L, "a"), path, Some("ib"), t))
    lockedToken(path)(t =>
      TableLayout.replacePartitions(spark, path, mk(Seq(4L), "b"),
        Seq("0"), t))
    // two live generations now: g1 excludes ib=0, g2 holds it
    val snap = TableLayout.resolve(spark, path)
    assert(snap.gens.length == 2 && snap.gens.head.exclude == Seq("0"))
    val probed = TableLayout.read(spark, path).filter(col("ib") === 1)
    val plan = probed.queryExecution.executedPlan.toString
    // the strict PqSpec discipline: the predicate must sit inside the
    // PartitionFilters bracket of BOTH scans — 'ib#' anywhere in the
    // plan would also match mere data filters and pass with pruning
    // silently lost
    val brackets = "PartitionFilters: \\[[^\\]]*\\]".r
      .findAllIn(plan).toSeq
    assert(brackets.length == 2, s"expected two generation scans: $plan")
    brackets.foreach(b => assert(b.contains("ib#"),
      s"generation scan without an ib partition filter: $b"))
    // the excluded-value filter prunes too: a full read must list NO
    // ib=0 directory under the excluded generation (file-level proof,
    // independent of filter rendering)
    val g1Files = TableLayout.read(spark, path).queryExecution
      .executedPlan.collectLeaves().map(_.toString).mkString("\n")
    assert(!g1Files.contains("data-g1/ib=0"),
      "excluded partition's files still feed the union read")
    assert(rows(probed) == rows(mk(0L to 11L, "a")).filter(_._3 == 1))
  }

  test("fileStats and filesPerPartition count only the live snapshot") {
    val path = graft.util.TempDirs.scoped("tl-stats").toString + "/store"
    lockedToken(path)(t =>
      TableLayout.publish(mk(0L to 7L, "a"), path, Some("ib"), t))
    TableLayout.append(mk(Seq(8L), "b"), path, Some("ib"))
    val snap = TableLayout.resolve(spark, path)
    val per = TableLayout.filesPerPartition(spark, path, snap)
    assert(per("0") == 2L, s"bucket 0 should hold init+append: $per")
    // rewrite bucket 0: its dead generation-1 files stop counting
    lockedToken(path)(t =>
      TableLayout.replacePartitions(spark, path, mk(Seq(0L), "c"),
        Seq("0"), t))
    val per2 = TableLayout.filesPerPartition(spark, path,
      TableLayout.resolve(spark, path))
    assert(per2("0") == 1L, s"live-only accounting: $per2")
    val (n, bytes, maxPerDir) = TableLayout.fileStats(spark, path,
      TableLayout.resolve(spark, path))
    assert(n == per2.values.sum && bytes > 0L && maxPerDir == 1L)
    // a bucket whose live files SPAN generations (old rows in the
    // base, appends in the newest) must report the cross-generation
    // SUM as its per-dir pressure — the health observable and the
    // bucket-compaction trigger must see the same number
    TableLayout.append(mk(Seq(16L), "d"), path, Some("ib"))
    TableLayout.append(mk(Seq(24L), "e"), path, Some("ib"))
    val snap3 = TableLayout.resolve(spark, path)
    val per3 = TableLayout.filesPerPartition(spark, path, snap3)
    val (_, _, max3) = TableLayout.fileStats(spark, path, snap3)
    assert(max3 == per3.values.max,
      s"health max ($max3) diverges from the compaction trigger " +
        s"(${per3.values.max}): $per3")
    assert(per3("0") >= 3L, s"bucket 0 should span generations: $per3")
  }

  test("a no-op rewrite (nothing touched, empty updates) burns no " +
      "snapshot version and writes no generation") {
    val path = graft.util.TempDirs.scoped("tl-noop").toString + "/store"
    lockedToken(path)(t =>
      TableLayout.publish(mk(0L to 3L, "a"), path, Some("ib"), t))
    val v1 = TableLayout.resolve(spark, path).version
    lockedToken(path)(t =>
      TableLayout.replacePartitions(spark, path,
        mk(Seq.empty[Long], "x"), Seq.empty, t))
    lockedToken(path)(t =>
      TableLayout.mergeByKey(spark, path,
        (Seq.empty[Long]).toDF("id").select(col("id"),
          lit("v").as("v"), lit(1L).as("ver"), lit(0).as("ib"))
          .withColumn("ver", col("ver")),
        Seq("id"), "ver", t))
    assert(TableLayout.resolve(spark, path).version == v1,
      "a no-op rewrite must not commit")
    assert(!new java.io.File(path, "data-g" + (v1 + 1)).exists())
    assert(rows(TableLayout.read(spark, path)) == rows(mk(0L to 3L, "a")))
  }

  test("replacePartitions rejects inference-ambiguous STRING partition " +
      "values (exclusion filtering would silently resurrect rows)") {
    val path = graft.util.TempDirs.scoped("tl-strpart").toString + "/store"
    // non-ambiguous string values ("b0"...) work end to end
    val ok = (0L to 3L).toDF("id").select(col("id"), lit("x").as("v"),
      concat(lit("b"), pmod(col("id"), lit(2L))).as("ib"))
    lockedToken(path)(t => TableLayout.publish(ok, path, Some("ib"), t))
    lockedToken(path)(t => TableLayout.replacePartitions(spark, path,
      ok.filter(col("ib") === "b0"), Seq("b0"), t))
    assert(TableLayout.read(spark, path).count() === 4L)
    // numeric-looking string values are rejected AT STORE CREATION
    // (the write-time raise_error guard): the contract fails at
    // publish, never at a later compaction, and no store is created
    val bad = graft.util.TempDirs.scoped("tl-strpart-bad").toString +
      "/store"
    val numish = (0L to 3L).toDF("id").select(col("id"),
      lit("x").as("v"),
      concat(lit("0"), pmod(col("id"), lit(2L))).as("ib")) // "00"/"01"
    val exPub = intercept[Exception] {
      lockedToken(bad)(t => TableLayout.publish(numish, bad, Some("ib"), t))
    }
    def chainMsg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    assert(chainMsg(exPub).contains("numeric/date-like"), chainMsg(exPub))
    assert(TableLayout.resolveOpt(spark, bad).isEmpty,
      "a failed publish must not create the store")
    // append into a clean store guards the same contract
    val exApp = intercept[Exception] {
      TableLayout.append(numish, path, Some("ib"))
    }
    assert(chainMsg(exApp).contains("numeric/date-like"), chainMsg(exApp))
    // and replacePartitions keeps its own touched-values guard (depth
    // defense for values that never went through an engine write)
    val ex = intercept[IllegalArgumentException] {
      lockedToken(path)(t => TableLayout.replacePartitions(spark, path,
        ok.filter(col("ib") === "b0").withColumn("ib", lit("01")),
        Seq("01"), t))
    }
    assert(ex.getMessage.contains("numeric/date-like"))
  }

  test("gc reaps a partition dir excluded by EVERY kept manifest that " +
      "references its generation: superseded partitions leave disk " +
      "after the grace window, not never") {
    import org.apache.hadoop.fs.Path
    val path = graft.util.TempDirs.scoped("tl-exreap").toString + "/store"
    lockedToken(path)(t =>
      TableLayout.publish(mk(0L to 11L, "a"), path, Some("ib"), t))
    val fs = TableLayout.fsOf(spark, path)
    val g1ib0 = new Path(s"$path/data-g1/ib=0")
    assert(fs.exists(g1ib0))
    // rewrite ib=0: manifest v2 excludes it from g1, but manifest v1
    // (still kept, KeepManifests deep) references g1 WITHOUT the
    // exclusion -- an in-flight reader at v1 may still scan the dir
    lockedToken(path)(t =>
      TableLayout.replacePartitions(spark, path, mk(Seq(4L), "b"),
        Seq("0"), t))
    assert(fs.exists(g1ib0),
      "grace window: a kept manifest still reads the dir un-excluded")
    // a second rewrite rotates v1 out: every kept manifest (v2, v3)
    // now excludes ib=0 from g1 -- dead bytes, the post-commit gc
    // must delete them (pre-fix they survived FOREVER because the
    // generation itself stays referenced)
    lockedToken(path)(t =>
      TableLayout.replacePartitions(spark, path, mk(Seq(5L), "c"),
        Seq("1"), t))
    assert(!fs.exists(g1ib0),
      "a partition excluded by every kept manifest must leave disk")
    // the half-graced twin survives: g1/ib=1 is excluded by v3 but
    // NOT by v2, so it keeps its grace window
    assert(fs.exists(new Path(s"$path/data-g1/ib=1")))
    // live reads unaffected throughout
    assert(rows(TableLayout.read(spark, path)) ==
      (rows(mk(0L to 11L, "a")).filterNot(r => r._3 == 0 || r._3 == 1)
        ++ rows(mk(Seq(4L), "b")) ++ rows(mk(Seq(5L), "c"))))
  }

  test("expire closes the grace window on a quiescent store: one call " +
      "after a partition rewrite lets the excluded-partition reap " +
      "fire without any future data rewrite") {
    import org.apache.hadoop.fs.Path
    val path = graft.util.TempDirs.scoped("tl-expire").toString + "/store"
    lockedToken(path)(t =>
      TableLayout.publish(mk(0L to 11L, "a"), path, Some("ib"), t))
    lockedToken(path)(t =>
      TableLayout.replacePartitions(spark, path, mk(Seq(4L), "b"),
        Seq("0"), t))
    val fs = TableLayout.fsOf(spark, path)
    val g1ib0 = new Path(s"$path/data-g1/ib=0")
    assert(fs.exists(g1ib0),
      "grace: the pre-rewrite manifest still reads the dir")
    val v = TableLayout.resolve(spark, path).version
    TableLayout.expire(spark, path)
    assert(TableLayout.resolve(spark, path).version === v + 1,
      "expire burns exactly one version")
    assert(!fs.exists(g1ib0),
      "expire must rotate the pre-rewrite manifest out and reap")
    assert(rows(TableLayout.read(spark, path)) ==
      (rows(mk(0L to 11L, "a")).filterNot(_._3 == 0)
        ++ rows(mk(Seq(4L), "b"))), "expire is value-invisible")
  }
}
