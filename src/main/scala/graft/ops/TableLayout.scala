package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** VERSIONED SNAPSHOT LAYOUT for the engine's mutable parquet stores
  * — [[graft.similarity.IndexLayout]]'s reader-isolation contract,
  * generalized from the ANN index's three-artifact snapshot to any
  * single-relation store (the dedup fingerprint store, the LSH band
  * store, the cluster table's labels).
  *
  * Problem (the round-11 carry-over boundary): every dedup store
  * mutation that REWRITES data — threshold compaction, the keyed
  * label merge, retraction's partition purge — swapped directories
  * via rename (`maybeCompactStore`'s aside dance,
  * `MergeUpsert.replacePartitions`' per-partition tombstones).
  * Writers are leased, but READERS take no lock: a probe join that
  * plans or lists files inside a swap window sees a missing
  * directory (FileNotFoundException) or, on rename-less object
  * stores, a partial one. At gate scale the window is milliseconds;
  * at 100 TB, with an always-on ingest compacting behind a serving
  * fleet, it is a real outage window on every store the engine
  * maintains.
  *
  * Contract here (the IndexLayout discipline): data directories are
  * IMMUTABLE ONCE SUPERSEDED — appends add files to the newest
  * generation in place (Spark commits data files atomically, so
  * concurrent readers just see the old file set), rewrites write NEW
  * generation directories — and the live set is named by ONE small
  * manifest file committed atomically, so a reader that resolved a
  * manifest always sees a complete, internally consistent snapshot,
  * never a rename hole.
  *
  * Layout under a store root `path`:
  *   - `_manifest-v<NNNNNNNNNNNN>`   ordered commit log; the HIGHEST
  *     version is live. UNDERSCORE-prefixed so Spark/Hadoop file
  *     indexes ignore it: a legacy plain-parquet reader of the root
  *     never trips over the manifest itself. Commit = write
  *     `.manifest-tmp-<uuid>`, then rename to the (never
  *     pre-existing) final name. Old manifests are kept
  *     [[KeepManifests]] deep: the PREVIOUS snapshot stays fully
  *     readable, which is the GC grace window (an in-flight reader
  *     must only finish its scan before two further rewrites land).
  *   - `data-g<V>`   data GENERATIONS, oldest first in the manifest.
  *     Flat stores hold bare parquet files; partitioned stores hold
  *     `<pcol>=<value>` partition directories. A partition-scoped
  *     rewrite ([[replacePartitions]]) writes the touched partitions
  *     into a NEW generation and EXCLUDES those values from every
  *     older generation in the manifest — older directories are
  *     never touched, so the previous snapshot keeps serving. The
  *     live relation is the union over generations of (rows minus
  *     excluded partition values); exclusion filters reference only
  *     the partition column, so they prune statically per scan.
  *   - Legacy stores (plain parquet written before the manifest
  *     layout — bare files or partition dirs at the root) resolve as
  *     the implicit generation `""` of snapshot v0 and are read via
  *     explicit root-level file/dir lists (never a recursive root
  *     scan, which would trip over later generation subdirs). The
  *     first rewrite materializes v0 as a real manifest, so the GC
  *     grace window protects the legacy files exactly like any
  *     superseded generation. A non-engine reader doing a plain
  *     `read.parquet(root)` on a MIGRATED store fails loudly on the
  *     mixed directory structure (never silently reads a partial or
  *     doubled store); audit reads go through [[read]] or a
  *     generation directory.
  *
  * Generation growth is bounded: each partition rewrite adds one
  * generation, and once the live count would exceed [[MaxGens]] the
  * rewrite folds every NON-BASE generation's live rows into the new
  * one (non-base generations hold only previously-rewritten
  * partitions, so the fold is touched-data-sized, never
  * store-sized), collapsing the list back to two. A generation whose
  * every on-disk partition value is excluded is dropped from the
  * manifest outright.
  *
  * Double-writer safety (the [[StoreLock]] epoch discipline, applied
  * where it can abort BEFORE damage): [[commit]] re-reads
  * `<path>.epoch` and throws if it no longer carries the committing
  * writer's token — on object stores where create-if-absent degrades
  * to advisory and two leased writers both enter, the LOSER aborts
  * before publishing a manifest, leaving its orphaned generation to
  * GC and the live snapshot untouched.
  *
  * Values of the partition column must render losslessly via
  * `toString` (string or integral — the [[replacePartitions]]
  * contract inherited from MergeUpsert) and must not contain `,`,
  * `;` or newlines (the manifest line grammar); nulls are rejected.
  * The engine's stores partition on int hash buckets, which satisfy
  * all of this by construction.
  */
private[graft] object TableLayout {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Live generation count above which a partition rewrite folds
    * non-base generations into the new one. */
  val MaxGens = 4

  /** Manifests (snapshots) kept live; the previous one is the
    * reader grace window. */
  val KeepManifests = 2

  /** One data generation: its directory under the store root (`""` =
    * the legacy root-level layout) and the partition VALUES (raw
    * `toString` rendering) later generations superseded. */
  final case class Gen(dir: String, exclude: Seq[String])

  /** `artifacts` are named non-generation directories that snapshot
    * WITH the data (the ANN index's centroids/codebook): replaced
    * whole per commit, referenced by the manifest (`art=` lines), and
    * GC'd exactly like superseded generations. Plain stores carry
    * none.
    *
    * `tombstones` are RETRACTED row ids (raw renderings, `tomb=`
    * manifest lines): snapshot metadata a family's readers filter
    * against, committed atomically with the snapshot they apply to.
    * Small by contract ([[Tombstones.MaxTombstones]] — the manifest
    * stays a small text file and the filter stays a broadcast);
    * rewrites carry them forward untouched ([[replacePartitions]]),
    * full republishes/rebuilds fold the rows out and reset the
    * list.
    *
    * `repoch` is the RETRACTION EPOCH (`repoch=` manifest line,
    * absent = 0): families that reset a tombstone list (the ANN
    * index's vacuum/maintain fold-outs) bump it in the resetting
    * commit, and a takedown stream that recorded the epoch it first
    * ran a batch under fails loudly on re-delivery across a reset —
    * the structural fence for the crash-between-retract-and-marker +
    * vacuum replay window (the text index's `retract_epoch` twin).
    *
    * `pins` are the store's WRITE-ONCE parameters (`pin=<key>;<value>`
    * manifest lines): the settings its rows were hashed or laid out
    * under (a dedup store's fold and LSH parameters, an index's
    * training size). Published in the same atomic commit as the data
    * they describe, so a reader never sees rows under one setting and
    * a pin naming another; every commit built from a live snapshot
    * carries them forward, and a full republish states them anew. */
  final case class Snapshot(version: Long, pcol: Option[String],
      gens: Seq[Gen], artifacts: Map[String, String] = Map.empty,
      tombstones: Seq[String] = Nil, repoch: Long = 0L,
      pins: Map[String, String] = Map.empty)

  /** A LAYOUT FAMILY: the naming/legacy contract one store kind uses
    * on top of the shared snapshot algebra. ONE implementation of
    * parse/serialize/commit/resolve/GC/fold serves every family —
    * the single-relation stores (the default) and the ANN index
    * ([[graft.similarity.IndexLayout]]'s adapter) differ only in
    * these names and in how a pre-manifest root resolves. */
  final case class Family(
      manifestPrefix: String,
      genPrefix: String,
      what: String,
      legacyAtRoot: Boolean,
      extraDeletable: String => Boolean,
      legacy: (FileSystem, Path) => Option[Snapshot],
      defaultPcol: Option[String] = None)

  /** The single-relation store family: `_manifest-v*` (underscored so
    * plain parquet readers ignore it), `data-g<V>` generations,
    * legacy = bare parquet/partition dirs at the root. */
  lazy val StoreFamily: Family = Family(
    manifestPrefix = "_manifest-v",
    genPrefix = "data-g",
    what = "store",
    legacyAtRoot = true,
    extraDeletable = _ => false,
    legacy = legacyStoreSnapshot)

  def fsOf(ss: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(ss.sessionState.newHadoopConf())

  private def rootOf(path: String) = new Path(path.stripSuffix("/"))

  /** Root-level partition dirs (`<pcol>=<escaped>` names), any pcol. */
  private def rootPartitionDirs(fs: FileSystem, root: Path) =
    (if (fs.exists(root)) fs.listStatus(root).toSeq else Seq.empty)
      .filter(s => s.isDirectory && s.getPath.getName.contains("=") &&
        !s.getPath.getName.startsWith("."))

  private def rootDataFiles(fs: FileSystem, root: Path) =
    (if (fs.exists(root)) fs.listStatus(root).toSeq else Seq.empty)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))

  /** A generation's on-disk partition dirs (root-level for the
    * legacy generation) — the ONE listing [[replacePartitions]]'
    * generation-drop decision, [[fileStats]] and
    * [[filesPerPartition]] all share. */
  private def genPartitionDirs(fs: FileSystem, root: Path,
      g: Gen): Seq[org.apache.hadoop.fs.FileStatus] =
    if (g.dir.isEmpty) rootPartitionDirs(fs, root)
    else if (fs.exists(new Path(root, g.dir)))
      fs.listStatus(new Path(root, g.dir)).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
    else Seq.empty

  /** A generation's excluded partition values rendered as directory
    * names — the ONE rendering every exclusion-vs-dir comparison
    * shares. */
  private def excludedDirNames(pc: String, g: Gen): Set[String] =
    g.exclude.map(x => s"$pc=" + org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.escapePathName(x)).toSet

  /** The store family's pre-manifest implicit v0 snapshot, if
    * root-level data exists — the ONE definition [[resolveOpt]] and
    * [[commit]]'s migration backfill share. */
  private def legacyStoreSnapshot(fs: FileSystem,
      root: Path): Option[Snapshot] = {
    val pdirs = rootPartitionDirs(fs, root)
    if (pdirs.nonEmpty)
      Some(Snapshot(0L,
        Some(pdirs.head.getPath.getName.split("=", 2)(0)),
        Seq(Gen("", Nil))))
    else if (rootDataFiles(fs, root).nonEmpty)
      Some(Snapshot(0L, None, Seq(Gen("", Nil))))
    else None
  }

  /** Highest committed snapshot; `None` for a root with neither a
    * manifest nor legacy data (a store not yet built). */
  def resolveOpt(ss: SparkSession, path: String,
      fam: Family = StoreFamily): Option[Snapshot] = {
    val root = rootOf(path)
    val fs = fsOf(ss, path)
    ManifestIo.resolveHighest(fs, root, fam.manifestPrefix,
      fam.legacy(fs, root))(parseText(fam))
  }

  def resolve(ss: SparkSession, path: String,
      fam: Family = StoreFamily): Snapshot =
    resolveOpt(ss, path, fam).getOrElse(throw new IllegalStateException(
      s"no ${fam.what} at $path: neither a manifest nor legacy data " +
        s"exists — initialize the ${fam.what} first"))

  private def parseText(fam: Family)(text: String, v: Long): Snapshot = {
    var pcol: Option[String] = None
    var repoch = 0L
    val arts = Map.newBuilder[String, String]
    val gens = Seq.newBuilder[Gen]
    val tombs = Seq.newBuilder[String]
    val pins = Map.newBuilder[String, String]
    text.split("\n").map(_.trim).filter(_.nonEmpty).foreach { line =>
      line.split("=", 2) match {
        case Array("v", _) => ()
        case Array("pcol", c) => pcol = Some(c)
        case Array("repoch", e) => repoch = e.toLong
        case Array("art", spec) =>
          val parts = spec.split(";", 2)
          if (parts.length != 2) throw new IllegalStateException(
            s"unparseable ${fam.what} manifest artifact line: '$line'")
          arts += parts(0) -> parts(1)
        case Array("pin", spec) =>
          val parts = spec.split(";", 2)
          if (parts.length != 2) throw new IllegalStateException(
            s"unparseable ${fam.what} manifest pin line: '$line'")
          pins += parts(0) -> parts(1)
        case Array("tomb", spec) =>
          tombs ++= spec.split(",").toSeq.filter(_.nonEmpty)
        // pre-unification INDEX manifests spelled the two artifacts as
        // dedicated keys; accept them as artifact sugar so a store
        // persisted by the old IndexLayout keeps resolving (serialize
        // always writes the art= form)
        case Array("centroids", dir) => arts += "centroids" -> dir
        case Array("pqcents", dir) => arts += "pqcents" -> dir
        case Array("gen", spec) =>
          val parts = spec.split(";", 2)
          val dir = if (parts.isEmpty) "" else parts(0)
          val excl =
            if (parts.length < 2 || parts(1).isEmpty) Seq.empty[String]
            else parts(1).split(",").toSeq
          gens += Gen(dir, excl)
        case _ => throw new IllegalStateException(
          s"unparseable ${fam.what} manifest line: '$line'")
      }
    }
    // pre-unification INDEX manifests carried no pcol= line (the old
    // IndexLayout hard-coded cell partitioning): without the family
    // default, resolve would yield pcol=None and appendPostings /
    // compactCells on an old-format index would fail the layout-match
    // require even though reads (which force pcol via toCore) work
    Snapshot(v, pcol.orElse(fam.defaultPcol), gens.result(),
      arts.result(), tombs.result(), repoch, pins.result())
  }

  private def serialize(s: Snapshot): String = {
    val b = new StringBuilder
    b ++= s"v=${s.version}\n"
    s.pcol.foreach(c => b ++= s"pcol=$c\n")
    if (s.repoch != 0L) b ++= s"repoch=${s.repoch}\n"
    s.artifacts.toSeq.sortBy(_._1).foreach { case (k, d) =>
      b ++= s"art=$k;$d\n"
    }
    s.pins.toSeq.sortBy(_._1).foreach { case (k, x) =>
      require(!hasDelimiter(k) && !hasDelimiter(x),
        s"TableLayout: pin '$k' -> '$x' contains a manifest delimiter " +
          "(,;\\n)")
      b ++= s"pin=$k;$x\n"
    }
    if (s.tombstones.nonEmpty) {
      requireCleanVals(s.tombstones)
      // chunked so no single line grows unreadable; parse re-joins
      s.tombstones.sorted.grouped(512).foreach(chunk =>
        b ++= s"tomb=${chunk.mkString(",")}\n")
    }
    s.gens.foreach(g => b ++= s"gen=${g.dir};${g.exclude.sorted.mkString(",")}\n")
    b.result()
  }

  /** Atomically publish `snap` as the live snapshot. Must run under
    * the store lease; `expectEpochToken` is the committing writer's
    * [[StoreLock.LockCtx]] token — the epoch is re-verified HERE,
    * before the manifest lands, so a writer that lost an
    * advisory-lease race aborts with the store still on the previous
    * snapshot instead of publishing over it. */
  def commit(ss: SparkSession, path: String, snap: Snapshot,
      expectEpochToken: String, fam: Family = StoreFamily): Unit = {
    val root = rootOf(path)
    val fs = fsOf(ss, path)
    ManifestIo.commit(fs, root, fam.manifestPrefix, path, fam.what,
      snap.version, serialize(snap),
      fam.legacy(fs, root).map(l => (0L, serialize(l))),
      expectEpochToken)
    log.info(s"committed ${fam.what} snapshot v${snap.version} at $path " +
      s"(${snap.gens.length} generation(s))")
  }

  /** The version the NEXT commit will carry (names its generation
    * directory too). Call under the store lease. */
  def nextVersion(ss: SparkSession, path: String,
      fam: Family = StoreFamily): Long =
    resolveOpt(ss, path, fam).map(_.version + 1L).getOrElse(1L)

  private def genDirName(fam: Family, v: Long) = s"${fam.genPrefix}$v"

  /** Drop manifests beyond the newest [[KeepManifests]] and every
    * engine-named data artifact no kept manifest references. Runs
    * under the store lease, right after a commit — so the grace
    * window for an in-flight reader is a FULL rewrite cycle. Never
    * touches sidecars (`.batch`, `.epoch`, lease files — all siblings
    * of the root) or anything the family did not name itself. */
  def gc(ss: SparkSession, path: String,
      keepManifests: Int = KeepManifests,
      fam: Family = StoreFamily): Unit = {
    val root = rootOf(path)
    val fs = fsOf(ss, path)
    ManifestIo.gcKeepReferenced(fs, root, fam.manifestPrefix, keepManifests,
      (text, v) => {
        val s = parseText(fam)(text, v)
        s.gens.map(_.dir).toSet ++ s.artifacts.values
      },
      n => n.matches(java.util.regex.Pattern.quote(fam.genPrefix) +
          "\\d+") || n.startsWith(".manifest-tmp-") ||
        fam.extraDeletable(n),
      fam.what
    ).foreach { case (referenced, keptTexts) =>
      // the legacy root-level generation, once unreferenced: reap the
      // root-level data files and partition dirs (they are only ever
      // engine-written parquet output). Families whose legacy layout
      // is named directories cover them via extraDeletable instead.
      if (fam.legacyAtRoot && !referenced.contains("")) {
        rootDataFiles(fs, root).foreach(f => fs.delete(f.getPath, false))
        rootPartitionDirs(fs, root).foreach(d => fs.delete(d.getPath, true))
        val succ = new Path(root, "_SUCCESS")
        if (fs.exists(succ)) fs.delete(succ, false)
      }
      // EXCLUDED-PARTITION reap — the partition-rewrite twin of the
      // unreferenced-generation reap above: a partition dir inside a
      // still-referenced generation whose value is excluded by EVERY
      // kept manifest that references the generation is dead bytes
      // under the whole grace window. Without this, a long-lived
      // store's base generation accretes superseded partition dirs
      // forever, and a vacuumed takedown's folded postings would
      // never physically leave disk. A kept manifest that references
      // the generation WITHOUT a partition column (a mid-migration
      // snapshot reads every file) blocks the reap for that
      // generation; so does one kept manifest without the exclusion
      // (the in-flight-reader grace, same as generation deletion).
      // Kept manifests arrive pre-read from gcKeepReferenced — one
      // manifest-IO round per gc, not two.
      keptTexts
        .map { case (v, t) => parseText(fam)(t, v) }
        .flatMap(s => s.gens.map(g =>
          g.dir -> s.pcol.map(pc => excludedDirNames(pc, g))))
        .groupBy(_._1).foreach { case (dir, refs) =>
          val sets = refs.map(_._2)
          if (sets.nonEmpty && sets.forall(_.isDefined)) {
            val dead = sets.map(_.get).reduceLeft(_ intersect _)
            if (dead.nonEmpty) {
              val genPath = if (dir.isEmpty) root else new Path(root, dir)
              dead.foreach { d =>
                val p = new Path(genPath, d)
                if (fs.exists(p)) {
                  log.info(s"${fam.what} gc at $root: deleting " +
                    s"partition $d of ${if (dir.isEmpty) "the root " +
                      "generation" else dir} excluded by every kept " +
                    "manifest")
                  fs.delete(p, true)
                }
              }
            }
          }
        }
    }
  }

  /** Close the manifest grace window EXPLICITLY on a QUIESCENT store:
    * re-commit the live snapshot unchanged at version+1 under the
    * lease, then gc — rotating the oldest kept manifest out, so
    * exclusions and generation drops that every REMAINING manifest
    * agrees on become physically deletable WITHOUT waiting for a
    * future data rewrite. The case that needs it: a frozen/archived
    * corpus takes a compliance takedown — vacuum folds the rows out
    * of the live snapshot, but the pre-vacuum manifest still reads
    * the superseded partition dirs un-excluded and no further ingest
    * will ever rotate it out; one `expire` call (at the default
    * [[KeepManifests]]=2) retires it and the excluded-partition reap
    * fires. The burned version is the honest price of demanding
    * deletion NOW; routine callers just let the next rewrite close
    * the window. In-flight readers that resolved BEFORE the expire
    * lose their grace for the expired bytes — the caller is asserting
    * the store is quiescent. */
  def expire(ss: SparkSession, path: String,
      fam: Family = StoreFamily): Unit =
    StoreLock.withLockCtx(ss, path) { ctx =>
      val snap = resolve(ss, path, fam)
      commit(ss, path, snap.copy(version = snap.version + 1L),
        ctx.token, fam)
      gc(ss, path, fam = fam)
    }

  /** One generation's relation, with its exclusions applied; `None`
    * when the generation holds no data files (an emptied rewrite
    * writes none). Legacy root generations read via EXPLICIT
    * root-level listings — never a recursive root scan, which would
    * trip over sibling generation dirs. */
  private def genDf(ss: SparkSession, root: Path, fs: FileSystem,
      pcol: Option[String], g: Gen,
      schema: Option[StructType]): Option[DataFrame] = {
    val rd0 = ss.read
    val rd = schema.fold(rd0)(rd0.schema)
    val base: Option[DataFrame] =
      if (g.dir.isEmpty) {
        val pdirs = rootPartitionDirs(fs, root)
        if (pdirs.nonEmpty)
          Some(rd.option("basePath", root.toString)
            .parquet(pdirs.map(_.getPath.toString): _*))
        else {
          val files = rootDataFiles(fs, root)
          if (files.isEmpty) None
          else Some(rd.parquet(files.map(_.getPath.toString): _*))
        }
      } else {
        val dir = new Path(root, g.dir)
        if (!hasData(fs, dir)) None else Some(rd.parquet(dir.toString))
      }
    base.map { df =>
      if (g.exclude.isEmpty) df
      else {
        val pc = pcol.getOrElse(throw new IllegalStateException(
          s"store at $root: generation ${g.dir} carries partition " +
            "exclusions but the manifest names no partition column"))
        df.filter(!col(pc).cast("string")
          .isin(g.exclude: _*))
      }
    }
  }

  private def hasData(fs: FileSystem, dir: Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir).exists(s =>
      (s.isFile && s.getPath.getName.endsWith(".parquet")) ||
        (s.isDirectory && s.getPath.getName.contains("=")))

  /** The live relation at `snap` — union over generations of (rows
    * minus excluded partition values). Optional `schema` pins the
    * read-back types (the MergeUpsert discipline: numeric-LOOKING
    * string partition values must survive as written). */
  def readAt(ss: SparkSession, path: String, snap: Snapshot,
      schema: Option[StructType] = None): DataFrame =
    readAtOpt(ss, path, snap, schema).getOrElse(
      throw new IllegalStateException(
        s"layout at $path resolves to snapshot v${snap.version} but no " +
          "generation holds data files — the store is EMPTY (every row " +
          "retracted, or a partitioned init over an empty input, which " +
          "writes no files): re-initialize the store to continue; if " +
          "it should hold data, the manifest was corrupted or " +
          "hand-edited"))

  /** [[readAt]] that returns `None` for a dataless snapshot instead
    * of throwing — for callers where an empty store is a valid state
    * answered with an empty result (e.g. a text-index serve over an
    * empty corpus). */
  def readAtOpt(ss: SparkSession, path: String, snap: Snapshot,
      schema: Option[StructType] = None): Option[DataFrame] = {
    val root = rootOf(path)
    val fs = fsOf(ss, path)
    val dfs = snap.gens.flatMap(g => genDf(ss, root, fs, snap.pcol, g, schema))
    if (dfs.isEmpty) None else Some(dfs.reduceLeft(_.unionByName(_)))
  }

  def read(ss: SparkSession, path: String,
      schema: Option[StructType] = None,
      fam: Family = StoreFamily): DataFrame =
    readAt(ss, path, resolve(ss, path, fam), schema)

  /** The partition-column TYPE contract every write path shares
    * (directory-name rendering for other types diverges from
    * Spark's). */
  private def requirePcolType(schema: StructType, pc: String,
      what: String): Unit =
    require(Set("string", "int", "bigint", "smallint", "tinyint")
        .contains(schema(pc).dataType.simpleString),
      s"TableLayout.$what: partition column '$pc' must be string or " +
        "integral (directory-name rendering for other types diverges " +
        s"from Spark's), got ${schema(pc).dataType.simpleString}")

  /** STRING partition columns get an inline write-time guard: null,
    * manifest-delimiter, and numeric/date-like values (which Spark's
    * partition-type INFERENCE would re-type on unpinned reads,
    * breaking exclusion filtering — the [[replacePartitions]]
    * rationale) raise inside the write job itself, so the contract
    * fails at store creation/append time, never at a later
    * compaction. Zero extra pass — the check rides the write; the
    * failed job commits no files and no manifest. Integral partition
    * columns (every engine-internal store) skip it entirely. */
  private def withValidatedPcol(df: DataFrame, pc: String): DataFrame =
    if (df.schema(pc).dataType.simpleString != "string") df
    else {
      val v = col(pc)
      val bad = v.isNull || v.rlike("[,;\n]") ||
        v.rlike("^[+-]?([0-9]+\\.?[0-9]*|\\.[0-9]+)([eE][+-]?[0-9]+)?$") ||
        v.rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}")
      df.withColumn(pc, when(bad, raise_error(concat(
        lit("TableLayout: string partition value '"),
        coalesce(v, lit("<null>")),
        lit("' is null, carries a manifest delimiter (,;\\n), or is " +
          "numeric/date-like — Spark partition-type inference would " +
          "re-type it on unpinned reads and break exclusion " +
          "filtering; partition on a non-ambiguous key-derived " +
          "column (or an integral one)")))).otherwise(v))
    }

  private def hasDelimiter(v: String): Boolean =
    v.exists(c => c == ',' || c == ';' || c == '\n')

  private def requireCleanVals(vals: Seq[String]): Unit =
    vals.foreach { v =>
      require(v != null, "TableLayout: null partition values are not " +
        "supported (partition on a non-null key-derived column)")
      require(!hasDelimiter(v),
        s"TableLayout: partition value '$v' contains a manifest " +
          "delimiter (,;\\n) — partition on a clean key-derived column")
    }

  /** APPEND `df` to the store: files land in the newest generation
    * (or the legacy root for a pre-manifest store, preserving its
    * plain layout until the first rewrite migrates it). Additive and
    * atomic per file — concurrent readers just see the old file set.
    * `pcol` must match the store's layout; for a store that does not
    * exist yet, use [[publish]]. */
  def append(df: DataFrame, path: String, pcol: Option[String],
      fam: Family = StoreFamily): Unit = {
    val ss = df.sparkSession
    val snap = resolve(ss, path, fam)
    require(snap.pcol == pcol,
      s"TableLayout.append at $path: layout mismatch (store " +
        s"pcol=${snap.pcol}, caller pcol=$pcol)")
    val target =
      if (snap.gens.last.dir.isEmpty) path.stripSuffix("/")
      else new Path(rootOf(path), snap.gens.last.dir).toString
    pcol match {
      case Some(pc) =>
        requirePcolType(df.schema, pc, "append")
        // co-locate each partition's rows first: an unrepartitioned
        // partitionBy append emits up to tasks x partitions tiny
        // files per drop (see the band-store ingest note)
        withValidatedPcol(df, pc).repartition(col(pc)).write.mode("append")
          .partitionBy(pc).parquet(target)
      case None =>
        df.write.mode("append").parquet(target)
    }
  }

  /** Publish `df` as the ENTIRE live content of the store — init,
    * re-init, full compaction, and full rewrites (the flat-store
    * retraction) all land here. The data is fully written to a new
    * generation before the one-manifest commit, so readers see the
    * old store or the new one, never a mix; the old generations
    * survive [[KeepManifests]] further rewrites for in-flight
    * readers. Must run under the store lease (`token` = the
    * [[StoreLock.LockCtx]] epoch token). `pins` are the published
    * snapshot's write-once parameters: an init states them, a
    * rewrite of a live store passes the live snapshot's. */
  def publish(df: DataFrame, path: String, pcol: Option[String],
      token: String, beforeCommit: Path => Unit = _ => (),
      fam: Family = StoreFamily,
      pins: Map[String, String] = Map.empty): Unit = {
    val ss = df.sparkSession
    val prior = resolveOpt(ss, path, fam)
    val v = prior.map(_.version + 1L).getOrElse(1L)
    // a full republish RESETS any tombstone list (the fresh snapshot
    // carries none): bump the retraction epoch so a takedown replay
    // that first ran against the old list fails loudly instead of
    // re-applying (see Snapshot.repoch)
    val repoch = prior.map(s =>
      Tombstones.nextEpoch(s.repoch, s.tombstones)).getOrElse(0L)
    val dir = new Path(rootOf(path), genDirName(fam, v))
    pcol match {
      case Some(pc) =>
        requirePcolType(df.schema, pc, "publish")
        withValidatedPcol(df, pc).repartition(col(pc)).write
          .mode("overwrite").partitionBy(pc).parquet(dir.toString)
      case None =>
        df.write.mode("overwrite").parquet(dir.toString)
    }
    // sidecars a client snapshots WITH the data (e.g. the text
    // index's corpus stats) land in the generation dir BEFORE the
    // manifest commit, so a reader that resolves the snapshot always
    // finds them — underscore/dot names only, which parquet readers
    // ignore
    beforeCommit(dir)
    commit(ss, path, Snapshot(v, pcol, Seq(Gen(genDirName(fam, v), Nil)),
      repoch = repoch, pins = pins), token, fam)
    gc(ss, path, fam = fam)
  }

  /** Rewrite EXACTLY the partitions whose values (raw `toString`
    * rendering) are in `touchedVals` with the rows of `replacement`
    * (whose partition values must be a subset of `touchedVals`): the
    * touched partitions land in a NEW generation and the manifest
    * excludes their values from every older one — a touched value
    * with NO replacement rows is thereby deleted, and no existing
    * directory is ever renamed or rewritten. Untouched partitions
    * are never read, shuffled, or re-staged. Folds non-base
    * generations into the new one past [[MaxGens]] (touched-data-
    * sized — non-base generations hold only previously-rewritten
    * partitions). Must run under the store lease. */
  def replacePartitions(ss: SparkSession, path: String,
      replacement: DataFrame, touchedVals: Seq[String],
      token: String, beforeCommit: Path => Unit = _ => (),
      fam: Family = StoreFamily,
      tweak: Snapshot => Snapshot = identity): Unit = {
    requireCleanVals(touchedVals)
    // a no-op rewrite (nothing touched; by the values-subset contract
    // the replacement is then empty too) must not burn a snapshot
    // version: committing would shrink the reader grace window and
    // churn generations for zero data change
    if (touchedVals.isEmpty) return
    val snap = resolve(ss, path, fam)
    val pc = snap.pcol.getOrElse(throw new IllegalStateException(
      s"TableLayout.replacePartitions at $path: the store is not " +
        "partitioned — use publish for a full rewrite"))
    requirePcolType(replacement.schema, pc, "replacePartitions")
    // STRING partition values that Spark's partition-type INFERENCE
    // would parse as a non-string (numbers, dates) are rejected where
    // exclusions are born: an unpinned read would infer `pc=05` as
    // int 5, the exclusion filter's cast-to-string would render "5",
    // never match the stored "05", and every superseded row would
    // silently resurrect next to its replacement
    if (replacement.schema(pc).dataType.simpleString == "string")
      touchedVals.foreach { v =>
        require(scala.util.Try(BigDecimal(v)).isFailure &&
            !v.matches("""\d{4}-\d{2}-\d{2}.*"""),
          s"replacePartitions: string partition value '$v' is " +
            "numeric/date-like — Spark partition-type inference would " +
            "re-type it on unpinned reads and break exclusion " +
            "filtering; partition on a non-ambiguous key-derived " +
            "column (or an integral one)")
      }
    val root = rootOf(path)
    val fs = fsOf(ss, path)
    val v = snap.version + 1L
    val newDir = new Path(root, genDirName(fam, v))
    // fold decision BEFORE writing: past MaxGens the new generation
    // absorbs every non-base generation's live rows (minus the
    // touched values, which the replacement supersedes)
    val fold = snap.gens.length + 1 > MaxGens && snap.gens.length > 1
    val content =
      if (!fold) replacement
      else {
        val nonBase = snap.gens.tail
          .flatMap(g => genDf(ss, root, fs, snap.pcol, g,
            Some(replacement.schema)))
        nonBase.foldLeft(replacement) { (acc, df) =>
          acc.unionByName(df.filter(
            !col(pc).cast("string").isin(touchedVals: _*)))
        }
      }
    content.repartition(col(pc)).write.mode("overwrite")
      .partitionBy(pc).parquet(newDir.toString)
    // kept older generations: base only when folding, all otherwise —
    // each with the touched values excluded on top of its own
    val keptOld = (if (fold) snap.gens.take(1) else snap.gens).map { g =>
      g.copy(exclude = (g.exclude ++ touchedVals).distinct)
    }
    // drop generations whose every on-disk partition value is now
    // excluded — they contribute nothing and would only accrete
    val liveOld = keptOld.filter { g =>
      val excluded = excludedDirNames(pc, g)
      genPartitionDirs(fs, root, g)
        .exists(d => !excluded.contains(d.getPath.getName))
    }
    val newGens = liveOld :+ Gen(genDirName(fam, v), Nil)
    // client sidecars (e.g. the text index's paired stats) land in
    // the new generation BEFORE the manifest references it; named
    // artifacts (the ANN index's centroids/codebook), tombstones and
    // pins are untouched by a partition rewrite and carry forward into
    // the new snapshot
    // `tweak` lets a tombstone-folding rewrite (the ANN vacuum) clear
    // the list and bump the retraction epoch in the SAME atomic
    // commit as the fold — default identity carries both forward
    beforeCommit(newDir)
    commit(ss, path, tweak(snap.copy(version = v, gens = newGens)), token,
      fam)
    gc(ss, path, fam = fam)
    log.info(s"replaced ${touchedVals.length} partition(s) of $path " +
      s"at snapshot v$v${if (fold) " (generation fold)" else ""}")
  }

  /** Keyed MERGE (upsert) into a partitioned versioned store:
    * updates override matching keys (`versionCol` strictly greater
    * wins), unmatched keys insert, untouched partitions are never
    * read or rewritten — [[MergeUpsert.mergeByKey]] semantics on the
    * snapshot layout. Because the merged rows land in a NEW
    * generation, the merge plan may lazily read the very partitions
    * being replaced — there is no swap to invalidate them. Must run
    * under the store lease.
    *
    * PRECONDITION (inherited): keys do not move between partitions —
    * partition on a key-derived or immutable column. */
  def mergeByKey(ss: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], versionCol: String, token: String,
      fam: Family = StoreFamily): Unit = {
    val snap = resolve(ss, path, fam)
    val pc = snap.pcol.getOrElse(throw new IllegalStateException(
      s"TableLayout.mergeByKey at $path: the store is not partitioned"))
    val touchedVals = updates.select(col(pc).cast("string"))
      .distinct().collect().map(_.getString(0)).toSeq
    requireCleanVals(touchedVals)
    if (touchedVals.isEmpty) return // empty updates: no-op, no commit
    val base = readAt(ss, path, snap, Some(updates.schema))
      .filter(col(pc).cast("string").isin(touchedVals: _*))
    val merged = base.unionByName(updates)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(keyCols.map(col): _*)
          .orderBy(col(versionCol).desc)))
      .filter(col("__rn") === 1).drop("__rn")
    replacePartitions(ss, path, merged, touchedVals, token, fam = fam)
  }

  final case class CompactReport(touched: Seq[String],
      filesBefore: Long, filesAfter: Long)

  /** Rewrite every partition whose LIVE file count exceeds `maxFiles`
    * into the next generation (~one file per partition value — the
    * [[replacePartitions]] write is partition-co-located) — the
    * bucket-grain small-files compaction every partitioned store
    * shares (dedup fingerprint/LSH/label stores, the text index).
    * Statically pruned to the over-threshold values; value-invisible
    * by construction (same rows, fewer files). The report's file
    * counts come from the listings this pass takes anyway — callers
    * must not re-list just to report (object-store LIST calls are
    * the metadata cost here). An empty `touched` = nothing over
    * threshold, no snapshot burned. `maxFiles <= 0` disables.
    * `beforeCommit` is [[replacePartitions]]'s sidecar hook. Must run
    * under the store lease. */
  def compactPartitions(ss: SparkSession, path: String, maxFiles: Int,
      token: String,
      beforeCommit: Path => Unit = _ => (),
      fam: Family = StoreFamily): CompactReport = {
    if (maxFiles <= 0) return CompactReport(Seq.empty, 0L, 0L)
    val snap = resolve(ss, path, fam)
    val pc = snap.pcol.getOrElse(throw new IllegalStateException(
      s"TableLayout.compactPartitions at $path: the store is not " +
        "partitioned — full-store compaction is publish()"))
    val counts = filesPerPartition(ss, path, snap)
    val before = counts.values.sum
    val over = counts.filter(_._2 > maxFiles).keys.toSeq.sorted
    if (over.isEmpty) return CompactReport(Seq.empty, before, before)
    // no pre-materialization needed: the rewrite lands in a NEW
    // generation dir, so the lazy plan's source files are never
    // swapped out from under it
    val replacement = readAt(ss, path, snap)
      .filter(col(pc).cast("string").isin(over: _*))
    replacePartitions(ss, path, replacement, over, token, beforeCommit,
      fam)
    // one post-rewrite listing for the exact after-count (an emptied
    // partition writes zero files, so it is not derivable from
    // `before` alone)
    val after = filesPerPartition(ss, path, resolve(ss, path, fam))
      .values.sum
    log.info(s"compacted ${over.length} partition(s) of $path: " +
      over.mkString(", "))
    CompactReport(over, before, after)
  }

  /** Live data-file statistics of the snapshot — the compaction
    * pressure metric. The per-"dir" max aggregates by PARTITION VALUE
    * across generations for partitioned stores (a bucket's live files
    * span the base generation plus every append generation — that sum
    * is exactly what [[filesPerPartition]] feeds the bucket-grain
    * compaction trigger, so the health observable must report the
    * same number) and by physical directory for flat stores. Excluded
    * partition dirs do not count: their files are dead weight
    * awaiting GC, not compaction pressure. */
  def fileStats(ss: SparkSession, path: String,
      snap: Snapshot): (Long, Long, Long) = {
    val root = rootOf(path)
    val fs = fsOf(ss, path)
    // key: partition dir NAME (pc=value — aggregates across
    // generations) for partitioned data; the generation dir for flat
    val perKey = scala.collection.mutable.Map.empty[String, (Long, Long)]
    snap.gens.foreach { g =>
      val excludedNames = snap.pcol.fold(Set.empty[String])(pc =>
        excludedDirNames(pc, g))
      val base = if (g.dir.isEmpty) root else new Path(root, g.dir)
      if (fs.exists(base)) {
        val files =
          if (g.dir.isEmpty) rootDataFiles(fs, root)
          else fs.listStatus(base).toSeq.filter(s =>
            s.isFile && s.getPath.getName.endsWith(".parquet"))
        files.foreach { f =>
          val (n, b) = perKey.getOrElse(base.toString, (0L, 0L))
          perKey(base.toString) = (n + 1, b + f.getLen)
        }
        genPartitionDirs(fs, root, g)
          .filterNot(d => excludedNames.contains(d.getPath.getName))
          .foreach { d =>
            fs.listStatus(d.getPath)
              .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
              .foreach { f =>
                val k = d.getPath.getName
                val (n, b) = perKey.getOrElse(k, (0L, 0L))
                perKey(k) = (n + 1, b + f.getLen)
              }
          }
      }
    }
    val counts = perKey.valuesIterator.toSeq
    (counts.map(_._1).sum, counts.map(_._2).sum,
      if (counts.isEmpty) 0L else counts.map(_._1).max)
  }

  /** Live parquet-file count per partition value (raw rendering)
    * across the snapshot's generations — the bucket-grain compaction
    * trigger. */
  def filesPerPartition(ss: SparkSession, path: String,
      snap: Snapshot): Map[String, Long] = {
    if (snap.pcol.isEmpty) return Map.empty
    val root = rootOf(path)
    val fs = fsOf(ss, path)
    snap.gens.flatMap { g =>
      genPartitionDirs(fs, root, g).flatMap { d =>
        val vRaw = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils
          .unescapePathName(d.getPath.getName.split("=", 2)(1))
        if (g.exclude.contains(vRaw)) None
        else Some(vRaw -> fs.listStatus(d.getPath).count(s =>
          s.isFile && s.getPath.getName.endsWith(".parquet")).toLong)
      }
    }.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
  }
}
