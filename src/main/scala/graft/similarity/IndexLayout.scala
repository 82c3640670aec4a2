package graft.similarity

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.TableLayout

/** VERSIONED SNAPSHOT LAYOUT for the persistent ANN indexes — a THIN
  * ADAPTER over the engine's single snapshot-layout implementation
  * ([[graft.ops.TableLayout]] + [[graft.ops.ManifestIo]]). The ANN
  * index is the layout's multi-artifact instance: postings are a
  * cell-partitioned relation exactly like any dedup store's buckets,
  * and the two trained artifacts (coarse centroids, residual
  * codebook) ride the core snapshot's named-artifact slots — so the
  * parse/serialize/commit/resolve/fold/GC algebra exists ONCE, in the
  * core, and cannot drift between the store and index families (the
  * round-11 acknowledged deferral).
  *
  * Reader/writer contract (the core's): artifact directories are
  * IMMUTABLE-ONCE-REPLACED (appends add files, replacements write NEW
  * directories), the live set is named by ONE small manifest file
  * committed atomically, superseded snapshots survive
  * [[KeepManifests]] further commits as the reader grace window, and
  * every commit re-verifies the writer's [[graft.ops.StoreLock]]
  * epoch so an advisory-lease race loser aborts BEFORE publishing.
  *
  * Layout under an index root `path` (the index family's names,
  * unchanged from the pre-unification layout):
  *   - `manifest-v<NNNNNNNNNNNN>`   ordered commit log; highest wins.
  *   - `centroids-v<V>` / `pqcents-v<V>`   named artifacts, replaced
  *     whole per commit (`art=` manifest lines).
  *   - `postings-g<V>`   postings generations partitioned by `cell`;
  *     appends land in the newest generation, rewrites land in new
  *     generations with the touched cells excluded from older ones.
  *   - Legacy stores (bare `postings/`, `centroids/`, `pqcents/` from
  *     the pre-manifest layout) resolve as implicit snapshot v0 and
  *     migrate to the manifest on their first replacing mutation.
  */
private[graft] object IndexLayout {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Live generation count above which compaction folds non-base
    * generations into the new one (the core bound). */
  val MaxGens: Int = TableLayout.MaxGens

  /** Manifests (snapshots) kept live; the previous one is the
    * reader grace window (the core bound). */
  val KeepManifests: Int = TableLayout.KeepManifests

  final case class Gen(dir: String, exclude: Seq[Int])

  /** `tombstones` are RETRACTED vector ids (takedown/opt-out
    * deletion): snapshot metadata committed atomically with the
    * manifest. [[postingsDf]] filters them out, so every serve,
    * recall observable, and postings-fed rebuild excludes them; a
    * maintain rebuild folds the rows out physically and resets the
    * list (it commits a fresh snapshot with no tombstones). Small by
    * contract ([[graft.ops.Tombstones.MaxTombstones]]).
    *
    * `repoch` is the retraction epoch (the core's `repoch=` line):
    * bumped by every commit that RESETS the tombstone list (maintain
    * rebuilds, [[graft.similarity.Similarity.annIndexVacuum]]) — the
    * takedown streams' structural replay fence.
    *
    * `pins` are the core's write-once parameters (`pin=` lines): the
    * IVF index pins the corpus size and cell count its coarse
    * quantizer was trained at (`train_n`, `train_cells`). */
  final case class Snapshot(version: Long, centroids: String,
      pqcents: Option[String], gens: Seq[Gen],
      tombstones: Seq[Long] = Nil, repoch: Long = 0L,
      pins: Map[String, String] = Map.empty)

  private[similarity] def fsOf(ss: SparkSession, path: String): FileSystem =
    TableLayout.fsOf(ss, path)

  /** The index family's core descriptor: its pre-existing manifest /
    * generation names, the fixed-name legacy layout, and the
    * engine-named debris its GC may reap. */
  private val Fam: TableLayout.Family = TableLayout.Family(
    manifestPrefix = "manifest-v",
    genPrefix = "postings-g",
    what = "index",
    legacyAtRoot = false,
    extraDeletable = name =>
      name.matches("(centroids-v|pqcents-v)\\d+") ||
        name == "postings" || name == "centroids" || name == "pqcents" ||
        name.startsWith(".retrain-") ||
        name.matches("(postings|centroids|pqcents)\\.(pre-retrain|retrain-.*|compact-.*)"),
    legacy = legacyCore,
    // pre-unification manifests wrote no pcol= line; the index family
    // is ALWAYS cell-partitioned, so resolution defaults it — without
    // this, appendPostings/compactCells on an old-format index failed
    // their layout-match require (reads were unaffected: toCore forces
    // the pcol)
    defaultPcol = Some("cell"))

  /** The pre-manifest layout's implicit v0 snapshot, if the fixed
    * legacy dirs exist — the ONE definition resolution and the
    * commit-time migration backfill share (via the core). */
  private def legacyCore(fs: FileSystem,
      root: Path): Option[TableLayout.Snapshot] =
    if (!fs.exists(new Path(root, "postings"))) None
    else Some(TableLayout.Snapshot(0L, Some("cell"),
      Seq(TableLayout.Gen("postings", Nil)),
      Map("centroids" -> "centroids") ++
        (if (fs.exists(new Path(root, "pqcents")))
          Map("pqcents" -> "pqcents") else Map.empty)))

  private def fromCore(s: TableLayout.Snapshot): Snapshot =
    Snapshot(s.version,
      s.artifacts.getOrElse("centroids", throw new IllegalStateException(
        s"index manifest v${s.version} names no centroids artifact")),
      s.artifacts.get("pqcents"),
      s.gens.map(g => Gen(g.dir, g.exclude.map(_.toInt).sorted)),
      s.tombstones.map(_.toLong).sorted, s.repoch, s.pins)

  private[similarity] def toCore(s: Snapshot): TableLayout.Snapshot =
    TableLayout.Snapshot(s.version, Some("cell"),
      s.gens.map(g => TableLayout.Gen(g.dir,
        g.exclude.sorted.map(_.toString))),
      Map("centroids" -> s.centroids) ++
        s.pqcents.map("pqcents" -> _).toMap,
      s.tombstones.sorted.map(_.toString), s.repoch, s.pins)

  /** Highest committed snapshot; `None` for a root with neither a
    * manifest nor a legacy layout (a store not yet built). */
  def resolveOpt(ss: SparkSession, path: String): Option[Snapshot] =
    TableLayout.resolveOpt(ss, path, Fam).map(fromCore)

  def resolve(ss: SparkSession, path: String): Snapshot =
    resolveOpt(ss, path).getOrElse(throw new IllegalStateException(
      s"no ANN index at $path: neither a manifest nor a legacy " +
        "postings directory exists — build the index first"))

  /** The version the NEXT commit will carry (names its artifact
    * directories too). Call under the store lease. */
  def nextVersion(ss: SparkSession, path: String): Long =
    resolveOpt(ss, path).map(_.version + 1L).getOrElse(1L)

  /** Atomically publish `snap` as the live snapshot (the core commit
    * choreography: epoch re-verification, legacy-v0 backfill, atomic
    * rename publish). Must run under the store lease. */
  def commit(ss: SparkSession, path: String, snap: Snapshot,
      expectEpochToken: String): Unit = {
    TableLayout.commit(ss, path, toCore(snap), expectEpochToken, Fam)
    log.info(s"committed index snapshot v${snap.version} at $path " +
      s"(${snap.gens.length} postings generation(s))")
  }

  /** The core GC under the index family's naming contract: drop
    * manifests beyond the newest [[KeepManifests]] and every
    * engine-named artifact no kept manifest references. Never touches
    * `.batches` or lease sidecars. */
  def gc(ss: SparkSession, path: String,
      keepManifests: Int = KeepManifests): Unit =
    TableLayout.gc(ss, path, keepManifests, Fam)

  /** The core's explicit grace-window closer under the index family —
    * see [[graft.ops.TableLayout.expire]]. */
  def expire(ss: SparkSession, path: String): Unit =
    TableLayout.expire(ss, path, Fam)

  /** Heal damage the PRE-MANIFEST compactor could leave behind: a
    * crash between its rename(live -> .cell=N.pre-compact aside) and
    * rename(fresh -> live) left the cell absent from the listing
    * while its rows sat in the hidden aside — serving silently
    * returned incomplete top-k and a re-run could not restore it.
    * On a migrated store the aside is renamed back before anything
    * counts files. New-layout compactions never create asides. */
  def healLegacyAsides(fs: FileSystem, genRoot: Path): Unit = {
    if (!fs.exists(genRoot)) return
    fs.listStatus(genRoot)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(".cell=") &&
        s.getPath.getName.endsWith(".pre-compact"))
      .foreach { aside =>
        val cellName = aside.getPath.getName.stripPrefix(".")
          .stripSuffix(".pre-compact")
        val live = new Path(genRoot, cellName)
        if (!fs.exists(live)) {
          if (fs.rename(aside.getPath, live))
            log.warn(s"healed orphaned pre-manifest compaction aside: " +
              s"restored $cellName at $genRoot")
          else throw new IllegalStateException(
            s"could not restore orphaned compaction aside " +
              s"${aside.getPath} to $live — manual recovery required")
        } else {
          // live exists: the old crash contract's recoverable case —
          // the aside is a superseded copy, drop it
          fs.delete(aside.getPath, true)
        }
      }
  }

  /** The live postings relation of `snap` (the core reader): union
    * over generations, each with its excluded cells filtered out, and
    * the snapshot's tombstoned ids dropped — every consumer (serves,
    * recall observables, postings-fed rebuilds) sees retraction
    * through this one reader. Filters a caller adds on top (the
    * probed-cell `isin`) push through the Union into every child
    * scan, so partition pruning is preserved per generation; the
    * tombstone filter is a broadcast-sized id exclusion, map-side. */
  def postingsDf(ss: SparkSession, path: String, snap: Snapshot): DataFrame =
    graft.ops.Tombstones.exclude(
      TableLayout.readAt(ss, path, toCore(snap)), "id", snap.tombstones)

  /** APPEND postings rows into the snapshot's newest generation (the
    * core additive append: file-atomic, no manifest change). Must run
    * under the store lease. */
  def appendPostings(df: DataFrame, path: String): Unit =
    TableLayout.append(df, path, Some("cell"), Fam)

  /** Cell-scoped postings rewrite through the core
    * ([[TableLayout.replacePartitions]]): `replacement` supersedes
    * exactly `cells`, untouched cells are never read or re-staged,
    * and `tweak` edits the committed snapshot's metadata in the SAME
    * atomic commit (the vacuum uses it to clear the tombstone list
    * and bump the retraction epoch with the fold). Must run under the
    * store lease. */
  def replaceCells(ss: SparkSession, path: String,
      replacement: DataFrame, cells: Seq[Int], token: String,
      tweak: TableLayout.Snapshot => TableLayout.Snapshot = identity): Unit =
    TableLayout.replacePartitions(ss, path, replacement,
      cells.sorted.map(_.toString), token, fam = Fam, tweak = tweak)

  /** The live postings relation WITHOUT the tombstone filter — the
    * vacuum's source (it must see the tombstoned rows to fold them
    * out). Every serving consumer goes through [[postingsDf]]. */
  private[similarity] def postingsDfRaw(ss: SparkSession, path: String,
      snap: Snapshot): DataFrame =
    TableLayout.readAt(ss, path, toCore(snap))

  /** [[postingsDfRaw]] for paths that must tolerate a DATALESS
    * snapshot (e.g. a vacuum that previously folded out every live
    * row): None instead of readAt's empty-store failure. */
  private[similarity] def postingsDfRawOpt(ss: SparkSession,
      path: String, snap: Snapshot): Option[DataFrame] =
    TableLayout.readAtOpt(ss, path, toCore(snap))

  /** Cell-grain postings compaction through the core partition
    * rewrite ([[TableLayout.compactPartitions]]): cells past
    * `maxFilesPerCell` live files rewrite into a new generation with
    * the core's fold bound, artifacts carried forward, and the report
    * mapped to cell grain. Must run under the store lease. */
  def compactCells(ss: SparkSession, path: String, maxFilesPerCell: Int,
      token: String): TableLayout.CompactReport =
    TableLayout.compactPartitions(ss, path, maxFilesPerCell, token,
      fam = Fam)

  /** Live parquet-file count per cell across `snap`'s generations —
    * the compaction pressure metric (and the spec observable). */
  def filesPerCell(ss: SparkSession, path: String,
      snap: Snapshot): Map[Int, Long] =
    TableLayout.filesPerPartition(ss, path, toCore(snap))
      .map { case (cell, n) => cell.toInt -> n }
}
