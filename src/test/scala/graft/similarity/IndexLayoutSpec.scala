package graft.similarity

import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}

/** A filesystem whose create-if-absent is ADVISORY (create with
  * overwrite=false silently overwrites, like S3-family object
  * stores) — the stub for the double-writer lease-race drill. */
class AdvisoryCreateFileSystem
    extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "advisory"
  override def getUri: java.net.URI = java.net.URI.create("advisory:///")
  // the object-store degradation under test: the no-overwrite flag
  // is not honored, so two racing lease creates can both "win" —
  // both create overloads StoreLock's fs.create(lock, false) can
  // route through are neutered
  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream =
    super.create(f, permission, true, bufferSize, replication,
      blockSize, progress)
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream =
    super.create(f, true, bufferSize, replication, blockSize, progress)
}

/** Versioned snapshot layout + atomic manifest commits
  * ([[IndexLayout]]) — the reader-isolation and double-writer
  * contracts of the persistent ANN indexes. */
class IndexLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = Tables.embeddings(spark, sf)

  private def fs(path: String) =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  test("maintain is reader-atomic: a snapshot resolved before the " +
      "rebuild still reads complete artifacts after the commit") {
    import spark.implicits._
    val path = graft.util.TempDirs.scoped("layout-reader-iso").toString
    def jit(i: Int, j: Int): Float = (((i * 31 + j * 17) % 7) - 3) * 0.02f
    val base = ((0 until 40).map(i => (i.toLong,
        Array(1f + jit(i, 0), jit(i, 1), jit(i, 2), jit(i, 3)))) ++
      (40 until 80).map(i => (i.toLong,
        Array(jit(i, 0), 1f + jit(i, 1), jit(i, 2), jit(i, 3)))))
      .toDF("vec_id", "embedding")
    Similarity.ivfIndexBuild(base, "vec_id", "embedding",
      nCells = 3, iters = 3, path = path)
    // a reader resolves the PRE-maintain snapshot and plans over it
    val preSnap = IndexLayout.resolve(spark, path)
    val prePlan = IndexLayout.postingsDf(spark, path, preSnap)
    val preCount = prePlan.count()
    // boundary cluster on the trained Voronoi edge degrades nProbe=1
    // recall -> maintain rebuilds and commits a NEW snapshot
    def deltaVec(i: Int): Array[Float] = {
      val s = ((i % 9) - 4) * 0.01f
      Array(0.7f + s, 0.7f - s, 0.3f, jit(i, 3))
    }
    Similarity.ivfIndexAppend(
      (1000 until 1080).map(i => (i.toLong, deltaVec(i)))
        .toDF("vec_id", "embedding"), "vec_id", "embedding", path)
    val queries = (2000 until 2010).map { i =>
      val s = ((i % 3) - 1) * 0.005f
      (i.toLong, Array(0.7f + s, 0.7f - s, 0.3f, jit(i, 3)))
    }.toDF("vec_id", "embedding")
    val preCount2 = IndexLayout.postingsDf(spark, path,
      IndexLayout.resolve(spark, path)).count()
    val r = Similarity.ivfIndexMaintain(queries, "vec_id", "embedding",
      k = 5, nProbe = 1, path = path, recallFloor = 0.95, iters = 3)
    assert(r.retrained, s"fixture must trip the floor: $r")
    // the rebuild advanced the manifest...
    val postSnap = IndexLayout.resolve(spark, path)
    assert(postSnap.version > preSnap.version)
    assert(postSnap.centroids != preSnap.centroids)
    // ...but the PRE-maintain plan still reads whole — its file
    // listing was pinned at planning time, and those files die only
    // after two further commits (grace window). Before this layout,
    // the rename swap made exactly this count throw FileNotFound.
    assert(prePlan.count() == preCount,
      "pre-maintain snapshot must stay readable after the commit")
    assert(preCount2 > preCount) // the append was additive, same gen
    // new snapshot serves the full relation
    assert(IndexLayout.postingsDf(spark, path, postSnap).count()
      == preCount2)
  }

  test("commit aborts BEFORE publishing when another writer stamped " +
      "the epoch (advisory-lease double-writer race, stub object store)") {
    spark.sparkContext.hadoopConfiguration.set("fs.advisory.impl",
      classOf[AdvisoryCreateFileSystem].getName)
    val local = graft.util.TempDirs.scoped("layout-advisory").toString
    val store = "advisory://" + local + "/idx"
    var aAbort: Option[IllegalStateException] = None
    // writer A enters; writer B slips past the ADVISORY lease
    // mid-mutation (the stub create-if-absent silently overwrites);
    // B publishes; A must abort at its commit, BEFORE touching the
    // manifest, and fail loudly again at release
    val releaseEx = intercept[IllegalStateException] {
      graft.ops.StoreLock.withLockCtx(spark, store) { ctxA =>
        graft.ops.StoreLock.withLockCtx(spark, store) { ctxB =>
          IndexLayout.commit(spark, store, IndexLayout.Snapshot(1L,
            "centroids-v1", None,
            Seq(IndexLayout.Gen("postings-g1", Nil))), ctxB.token)
        }
        aAbort = Some(intercept[IllegalStateException] {
          IndexLayout.commit(spark, store, IndexLayout.Snapshot(1L,
            "centroids-v1-LOSER", None,
            Seq(IndexLayout.Gen("postings-g1-LOSER", Nil))), ctxA.token)
        })
      }
    }
    // the loser aborted pre-publish...
    assert(aAbort.get.getMessage.contains("aborted BEFORE publishing"),
      s"unexpected: ${aAbort.get.getMessage}")
    // ...and its release ALSO failed loudly (epoch/lease mismatch)
    assert(releaseEx.getMessage.contains("epoch") ||
      releaseEx.getMessage.contains("lease"), releaseEx.getMessage)
    // the surviving snapshot is the winner's alone
    val snap = IndexLayout.resolve(spark, store)
    assert(snap.version == 1L && snap.centroids == "centroids-v1",
      s"store must hold only the winner's snapshot, got $snap")
  }

  test("legacy store migrates with grace: v0 manifest backfilled, " +
      "legacy dirs survive the first commit, GC'd after the second") {
    val path = graft.util.TempDirs.scoped("layout-legacy").toString
    val f = fs(path)
    val corpus = emb.filter(col("vec_id") < 60)
    // build a LEGACY-layout index by hand: versioned build, then
    // flatten the artifacts to the pre-manifest fixed names
    Similarity.ivfIndexBuild(corpus, "vec_id", "embedding",
      nCells = 3, iters = 1, path = path)
    val snapV = IndexLayout.resolve(spark, path)
    assert(f.rename(new Path(path, snapV.centroids),
      new Path(path, "centroids")))
    assert(f.rename(new Path(path, snapV.gens.head.dir),
      new Path(path, "postings")))
    f.listStatus(new Path(path)).map(_.getPath)
      .filter(_.getName.startsWith("manifest-v"))
      .foreach(p => f.delete(p, false))
    // legacy resolution: implicit v0 over the fixed names
    val legacy = IndexLayout.resolve(spark, path)
    assert(legacy.version == 0L && legacy.centroids == "centroids" &&
      legacy.gens.map(_.dir) == Seq("postings"))
    val q = emb.filter(col("vec_id") < 5)
    def serve() = Similarity.ivfIndexTopK(q, "vec_id", "embedding",
      k = 3, nProbe = 3, path = path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val legacyServe = serve()
    // first replacing mutation: rebuild in place (same corpus -> same
    // geometry); the commit must backfill manifest-v0 and keep the
    // legacy dirs alive (grace for readers mid-scan on the old layout)
    Similarity.ivfIndexBuild(corpus, "vec_id", "embedding",
      nCells = 3, iters = 1, path = path)
    assert(f.exists(new Path(path, f"manifest-v${0L}%012d")),
      "legacy snapshot must be materialized as manifest-v0")
    assert(f.exists(new Path(path, "postings")) &&
      f.exists(new Path(path, "centroids")),
      "legacy dirs must survive the first commit (grace window)")
    assert(serve() == legacyServe, "migration must be value-invisible")
    // second commit: v0 falls out of the kept-manifest window and the
    // legacy dirs are GC'd
    Similarity.ivfIndexBuild(corpus, "vec_id", "embedding",
      nCells = 3, iters = 1, path = path)
    assert(!f.exists(new Path(path, "postings")) &&
      !f.exists(new Path(path, "centroids")),
      "legacy dirs must be GC'd once v0 leaves the grace window")
    assert(serve() == legacyServe)
  }

  test("healLegacyAsides restores an orphaned pre-manifest compaction " +
      "aside and drops a superseded one") {
    val path = graft.util.TempDirs.scoped("layout-heal").toString
    val f = fs(path)
    val genRoot = new Path(path, "postings")
    // orphaned aside: live cell dir MISSING (the old compactor's
    // crash-between-renames window) -> must be renamed back
    f.mkdirs(new Path(genRoot, ".cell=3.pre-compact"))
    f.create(new Path(genRoot,
      ".cell=3.pre-compact/part-0.parquet"), true).close()
    // superseded aside: live dir present -> aside must be dropped
    f.mkdirs(new Path(genRoot, "cell=7"))
    f.mkdirs(new Path(genRoot, ".cell=7.pre-compact"))
    IndexLayout.healLegacyAsides(f, genRoot)
    assert(f.exists(new Path(genRoot, "cell=3/part-0.parquet")),
      "orphaned aside must be restored as the live cell")
    assert(!f.exists(new Path(genRoot, ".cell=3.pre-compact")))
    assert(f.exists(new Path(genRoot, "cell=7")))
    assert(!f.exists(new Path(genRoot, ".cell=7.pre-compact")),
      "superseded aside must be dropped")
  }

  test("annIndexRetract: metadata-only tombstone commit excludes ids " +
      "from serving; maintain rebuild folds them out physically and " +
      "resets the list") {
    import spark.implicits._
    val path = graft.util.TempDirs.scoped("layout-retract").toString
    def jit(i: Int, j: Int): Float = (((i * 31 + j * 17) % 7) - 3) * 0.02f
    val base = ((0 until 40).map(i => (i.toLong,
        Array(1f + jit(i, 0), jit(i, 1), jit(i, 2), jit(i, 3)))) ++
      (40 until 80).map(i => (i.toLong,
        Array(jit(i, 0), 1f + jit(i, 1), jit(i, 2), jit(i, 3)))))
      .toDF("vec_id", "embedding")
    Similarity.ivfIndexBuild(base, "vec_id", "embedding",
      nCells = 3, iters = 3, path = path)
    val pre = IndexLayout.resolve(spark, path)
    val queries = base.filter(col("vec_id") < 5)
    def served(): Set[Long] = Similarity.ivfIndexTopK(queries, "vec_id",
        "embedding", k = 5, nProbe = 3, path = path)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    // retract two ids the pre-retract serve ACTUALLY returns, so the
    // exclusion below is observable regardless of jitter geometry
    val Seq(ra, rb) = served().toSeq.sorted.take(2)
    // a serve planned BEFORE the retract keeps its snapshot
    val inflight = Similarity.ivfIndexTopK(queries, "vec_id",
      "embedding", k = 5, nProbe = 3, path = path)
    val inflightExpect = inflight.orderBy("query_id", "rank")
      .collect().toSeq
    Similarity.annIndexRetract(spark, path, Seq(ra, rb, ra))
    assert(inflight.orderBy("query_id", "rank").collect().toSeq
      === inflightExpect)
    // metadata-only: version advanced, SAME artifact + generation dirs
    val post = IndexLayout.resolve(spark, path)
    assert(post.version === pre.version + 1)
    assert(post.centroids === pre.centroids &&
      post.gens.map(_.dir) === pre.gens.map(_.dir),
      "retraction must not rewrite any data directory")
    assert(post.tombstones === Seq(ra, rb).sorted)
    // serving excludes the ids (a retracted id's QUERY still serves —
    // it just can't be retrieved)
    val after = served()
    assert(!after.contains(ra) && !after.contains(rb))
    // idempotent re-delivery
    Similarity.annIndexRetract(spark, path, Seq(rb))
    assert(IndexLayout.resolve(spark, path).version === post.version)
    // maintain rebuild (tripped by the boundary-cluster drift fixture)
    // folds the rows out physically and RESETS the list
    def deltaVec(i: Int): Array[Float] = {
      val s = ((i % 9) - 4) * 0.01f
      Array(0.7f + s, 0.7f - s, 0.3f, jit(i, 3))
    }
    Similarity.ivfIndexAppend(
      (1000 until 1080).map(i => (i.toLong, deltaVec(i)))
        .toDF("vec_id", "embedding"), "vec_id", "embedding", path)
    val mq = (2000 until 2010).map { i =>
      val s = ((i % 3) - 1) * 0.005f
      (i.toLong, Array(0.7f + s, 0.7f - s, 0.3f, jit(i, 3)))
    }.toDF("vec_id", "embedding")
    val r = Similarity.ivfIndexMaintain(mq, "vec_id", "embedding",
      k = 5, nProbe = 1, path = path, recallFloor = 0.95, iters = 3)
    assert(r.retrained, s"fixture must trip the floor: $r")
    val rebuilt = IndexLayout.resolve(spark, path)
    assert(rebuilt.tombstones === Nil,
      "a maintain rebuild must reset the tombstone list")
    assert(rebuilt.repoch === post.repoch + 1,
      "a list-resetting rebuild must bump the retraction epoch")
    // physical deletion: the rebuilt postings hold no rows for the ids
    val rawIds = spark.read
      .parquet(s"$path/${rebuilt.gens.last.dir}")
      .select("id").filter(col("id").isin(ra, rb))
    assert(rawIds.count() === 0L,
      "rebuilt postings must not carry tombstoned ids")
  }

  test("annIndexRetract on the IVFADC layout: the PQ serve excludes " +
      "tombstoned ids through the same snapshot reader") {
    val path = graft.util.TempDirs.scoped("layout-retract-pq").toString
    val corpus = emb.filter(col("vec_id") < 64)
    Similarity.ivfPqIndexBuild(corpus, "vec_id", "embedding",
      nCells = 3, itersCoarse = 1, m = 4, ks = 4, itersPq = 1,
      path = path)
    val q = emb.filter(col("vec_id") < 3)
    def served(): Set[Long] = Similarity.ivfPqIndexTopK(q, "vec_id",
        "embedding", k = 5, nProbe = 3, path = path)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    val Seq(ra, rb) = served().toSeq.sorted.take(2)
    Similarity.annIndexRetract(spark, path, Seq(ra, rb))
    val after = served()
    assert(!after.contains(ra) && !after.contains(rb),
      s"PQ serve must exclude tombstoned ids $ra, $rb — got $after")
    // the codebook artifact rode the metadata commit untouched
    val snap = IndexLayout.resolve(spark, path)
    assert(snap.pqcents.isDefined && snap.tombstones === Seq(ra, rb).sorted)
    // appending a LIVE-TOMBSTONED id fails loudly: the serve filter
    // would hide the rows and the next maintain rebuild would drop
    // them permanently while resetting the list — silent loss
    val e = intercept[IllegalStateException] {
      Similarity.ivfPqIndexAppend(emb.filter(col("vec_id") === ra),
        "vec_id", "embedding", path)
    }
    assert(e.getMessage.contains("LIVE-TOMBSTONED"), e.getMessage)
  }

  test("annIndexRetract verifyExists: a never-ingested id is rejected " +
      "with the store unchanged (no cap slot burned); ingested ids " +
      "pass the probe") {
    val path = graft.util.TempDirs.scoped("layout-vexists").toString
    val corpus = emb.filter(col("vec_id") < 60)
    Similarity.ivfIndexBuild(corpus, "vec_id", "embedding",
      nCells = 3, iters = 1, path = path)
    val before = IndexLayout.resolve(spark, path)
    val ex = intercept[IllegalArgumentException] {
      Similarity.annIndexRetract(spark, path, Seq(5L, 12345L),
        verifyExists = true)
    }
    assert(ex.getMessage.contains("no live postings"), ex.getMessage)
    assert(IndexLayout.resolve(spark, path).version === before.version,
      "a rejected batch must not burn a snapshot or a cap slot")
    Similarity.annIndexRetract(spark, path, Seq(5L, 7L),
      verifyExists = true)
    assert(IndexLayout.resolve(spark, path).tombstones === Seq(5L, 7L))
  }

  test("annIndexVacuum: retrain-free physical fold — only touched " +
      "cells rewritten, list reset + epoch bump in ONE commit, " +
      "serve-invisible, vacuumed id can re-ingest") {
    import spark.implicits._
    val path = graft.util.TempDirs.scoped("layout-annvac").toString
    def jit(i: Int, j: Int): Float = (((i * 31 + j * 17) % 7) - 3) * 0.02f
    val base = ((0 until 40).map(i => (i.toLong,
        Array(1f + jit(i, 0), jit(i, 1), jit(i, 2), jit(i, 3)))) ++
      (40 until 80).map(i => (i.toLong,
        Array(jit(i, 0), 1f + jit(i, 1), jit(i, 2), jit(i, 3)))))
      .toDF("vec_id", "embedding")
    Similarity.ivfIndexBuild(base, "vec_id", "embedding",
      nCells = 3, iters = 3, path = path)
    val queries = base.filter(col("vec_id") < 5)
    def served(): Set[Long] = Similarity.ivfIndexTopK(queries, "vec_id",
        "embedding", k = 5, nProbe = 3, path = path)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    val Seq(ra, rb) = served().toSeq.sorted.take(2)
    Similarity.annIndexRetract(spark, path, Seq(ra, rb))
    val post = IndexLayout.resolve(spark, path)
    assert(post.repoch === 0L)
    val expect = served()
    Similarity.annIndexVacuum(spark, path)
    val after = IndexLayout.resolve(spark, path)
    // one commit: list cleared AND epoch bumped together — there is
    // no snapshot with the rows folded but the fence unmoved
    assert(after.version === post.version + 1)
    assert(after.tombstones === Nil && after.repoch === 1L)
    assert(Similarity.annRetractEpoch(spark, path) === 1L)
    // no retrain: the centroid artifact is byte-identical (same dir)
    assert(after.centroids === post.centroids,
      "vacuum must not touch the trained artifacts")
    // physical deletion: the RAW (unfiltered) postings hold no rows
    assert(IndexLayout.postingsDfRaw(spark, path, after)
      .filter(col("id").isin(ra, rb)).count() === 0L)
    assert(served() === expect, "vacuum must be serve-invisible")
    // idempotent: no tombstones -> no snapshot burned
    Similarity.annIndexVacuum(spark, path)
    assert(IndexLayout.resolve(spark, path).version === after.version)
    // a vacuumed id may legitimately re-ingest (the append guard sees
    // an empty list)
    Similarity.ivfIndexAppend(base.filter(col("vec_id") === ra),
      "vec_id", "embedding", path)
    assert(Similarity.indexPostings(spark, path)
      .filter(col("id") === ra).count() === 1L)
    // the quiescent-store grace closer runs under the index family
    // too: one version burned, serve untouched (the generic reap
    // mechanics are pinned file-level in TableLayoutSpec/TextIndexSpec)
    val preExp = IndexLayout.resolve(spark, path).version
    Similarity.annIndexExpire(spark, path)
    assert(IndexLayout.resolve(spark, path).version === preExp + 1)
    assert(Similarity.indexPostings(spark, path)
      .filter(col("id") === ra).count() === 1L,
      "expire is value-invisible")
  }

  test("annIndexVacuum on a DATALESS snapshot with live tombstones " +
      "takes the metadata-only reset instead of readAt's empty-store " +
      "failure") {
    import spark.implicits._
    val path = graft.util.TempDirs.scoped("layout-annvac0").toString
    def jit(i: Int, j: Int): Float = (((i * 31 + j * 17) % 7) - 3) * 0.02f
    val base = (0 until 20).map(i => (i.toLong,
        Array(1f + jit(i, 0), jit(i, 1), jit(i, 2), jit(i, 3))))
      .toDF("vec_id", "embedding")
    Similarity.ivfIndexBuild(base, "vec_id", "embedding",
      nCells = 2, iters = 2, path = path)
    // fold EVERY live row out: the store is now dataless
    Similarity.annIndexRetract(spark, path, (0L until 20L).toSeq)
    Similarity.annIndexVacuum(spark, path)
    val folded = IndexLayout.resolve(spark, path)
    assert(folded.repoch === 1L && folded.tombstones === Nil)
    // a metadata-only retract on the dataless store (e.g. a bogus
    // takedown id under verifyExists=false) re-arms the list...
    Similarity.annIndexRetract(spark, path, Seq(3L))
    // ...and the next vacuum — including the in-stream automation's —
    // must reset it without crashing on the dataless read
    Similarity.annIndexVacuum(spark, path)
    val after = IndexLayout.resolve(spark, path)
    assert(after.tombstones === Nil && after.repoch === 2L,
      "dataless vacuum must take the metadata-only reset + epoch bump")
  }

  test("pre-unification manifest (no pcol= line, dedicated centroids= " +
      "key) stays fully mutable: append and compact succeed on it") {
    val path = graft.util.TempDirs.scoped("layout-preuni").toString
    val f = fs(path)
    val corpus = emb.filter(col("vec_id") < 60)
    Similarity.ivfIndexBuild(corpus, "vec_id", "embedding",
      nCells = 3, iters = 1, path = path)
    val snap = IndexLayout.resolve(spark, path)
    // rewrite the live manifest into the OLD IndexLayout grammar: no
    // pcol= line, the centroids artifact under its dedicated key —
    // exactly what a store persisted by the pre-unification version
    // carries. Resolution must DEFAULT the index family's pcol, or
    // every replacing mutation fails its layout-match require.
    val old = s"v=${snap.version + 1}\n" +
      s"centroids=${snap.centroids}\n" +
      snap.gens.map(g =>
        s"gen=${g.dir};${g.exclude.mkString(",")}\n").mkString
    val name = f"manifest-v${snap.version + 1}%012d"
    val out = f.create(new Path(path, name), false)
    out.write(old.getBytes("UTF-8")); out.close()
    val pre = IndexLayout.resolve(spark, path)
    assert(pre.version == snap.version + 1 &&
      pre.centroids == snap.centroids)
    val q = emb.filter(col("vec_id") < 3)
    def served(): Set[Long] = Similarity.ivfIndexTopK(q, "vec_id",
        "embedding", k = 3, nProbe = 3, path = path)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    val baseServe = served()
    // append: routed through appendPostings' pcol==Some("cell") require
    Similarity.ivfIndexAppend(
      emb.filter(col("vec_id") >= 60 && col("vec_id") < 70),
      "vec_id", "embedding", path)
    // compact: routed through compactCells' "partitioned" require;
    // maxFilesPerCell=1 so the appended second file per touched cell
    // trips an actual rewrite, not a no-op
    Similarity.ivfIndexCompact(spark, path, maxFilesPerCell = 1)
    assert(baseServe.nonEmpty && served().nonEmpty,
      "post-append/compact serve must still answer")
    // the live postings still hold both the base and the delta ids
    val liveIds = IndexLayout.postingsDf(spark, path,
      IndexLayout.resolve(spark, path)).select("id")
      .collect().map(_.getLong(0)).toSet
    assert((0L until 70L).forall(liveIds.contains),
      "append+compact over the old-format manifest must preserve " +
        "every base and delta id")
  }

  test("manifest round-trip: serialize/parse preserves generations, " +
      "excludes and the optional codebook") {
    val path = graft.util.TempDirs.scoped("layout-roundtrip").toString
    val f = fs(path)
    f.mkdirs(new Path(path))
    // stamp an epoch the way a leased mutation would
    graft.ops.StoreLock.withLockCtx(spark, path) { ctx =>
      IndexLayout.commit(spark, path, IndexLayout.Snapshot(7L,
        "centroids-v7", Some("pqcents-v7"),
        Seq(IndexLayout.Gen("postings-g2", Seq(5, 3)),
          IndexLayout.Gen("postings-g7", Nil)),
        tombstones = Seq(42L, 7L)), ctx.token)
    }
    val s = IndexLayout.resolve(spark, path)
    assert(s == IndexLayout.Snapshot(7L, "centroids-v7",
      Some("pqcents-v7"),
      Seq(IndexLayout.Gen("postings-g2", Seq(3, 5)),
        IndexLayout.Gen("postings-g7", Nil)),
      tombstones = Seq(7L, 42L)))
  }
}
