package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}

/** The low-level atomic-manifest primitives BOTH versioned store
  * layouts share — [[graft.similarity.IndexLayout]] (the ANN index's
  * three-artifact snapshot, `manifest-v*` names) and [[TableLayout]]
  * (single-relation stores, `_manifest-v*` names). One discipline:
  * a zero-padded ordered commit log of small text manifests, each
  * published by write-to-dot-tmp + rename-to-fresh-name (atomic on
  * HDFS/posix — readers see a whole manifest or none), guarded by a
  * re-read of the store's [[StoreLock]] epoch so an advisory-lease
  * race loser aborts BEFORE publishing.
  */
private[graft] object ManifestIo {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Committed manifests under `root` with the given name `prefix`,
    * ordered oldest-first by version. */
  private[ops] def list(fs: FileSystem, root: Path,
      prefix: String): Seq[(Long, Path)] =
    (if (fs.exists(root)) fs.listStatus(root).toSeq else Seq.empty)
      .flatMap { s =>
        val name = s.getPath.getName
        (if (name.startsWith(prefix))
          scala.util.Try(name.stripPrefix(prefix).toLong).toOption
        else None).map(_ -> s.getPath)
      }
      .sortBy(_._1)

  private[ops] def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Atomically publish `text` as `<prefix><version zero-padded-12>`:
    * write a dot-tmp, rename to the final name. Returns false (tmp
    * dropped) when the final name already exists — the caller decides
    * whether that is a racing-backfill no-op or a hard error. */
  private[ops] def writeAtomic(fs: FileSystem, root: Path, prefix: String,
      version: Long, text: String): Boolean = {
    val tmp = new Path(root, ".manifest-tmp-" + java.util.UUID.randomUUID())
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    val ok = fs.rename(tmp, new Path(root, f"$prefix$version%012d"))
    if (!ok) fs.delete(tmp, false)
    ok
  }

  /** The WHOLE commit choreography both layouts share: pre-publish
    * epoch re-verification, legacy-v0 backfill on the first-ever
    * manifest (so the GC grace window protects pre-manifest data
    * exactly like any superseded snapshot; a false backfill return =
    * a racing backfill already published v0 — a no-op by design),
    * then the atomic publish, throwing on a version collision with
    * the live snapshot untouched. */
  def commit(fs: FileSystem, root: Path, prefix: String,
      storePath: String, what: String, version: Long, text: String,
      legacyBackfill: => Option[(Long, String)],
      expectToken: String): Unit = {
    requireEpochToken(fs, storePath, expectToken, what)
    if (list(fs, root, prefix).isEmpty)
      legacyBackfill.foreach { case (v0, t0) =>
        writeAtomic(fs, root, prefix, v0, t0): Unit
      }
    if (!writeAtomic(fs, root, prefix, version, text))
      throw new IllegalStateException(
        s"$what commit at $storePath: could not publish manifest " +
          s"v$version (a manifest with this version already exists?) " +
          "— the live snapshot is unchanged")
  }

  /** The RESOLVE shape both layouts share: the highest committed
    * manifest parsed, else the layout's implicit legacy snapshot. */
  def resolveHighest[T](fs: FileSystem, root: Path, prefix: String,
      legacy: => Option[T])(parse: (String, Long) => T): Option[T] =
    list(fs, root, prefix).lastOption match {
      case Some((v, p)) => Some(parse(readText(fs, p), v))
      case None => legacy
    }

  /** The GC shape both layouts share: drop manifests beyond the
    * newest `keep` (the previous snapshot is the reader grace
    * window), collect every artifact directory the KEPT manifests
    * still reference, and delete root entries that match the
    * layout's `deletable` naming contract but are referenced by no
    * kept manifest — nothing the layout did not name itself is ever
    * touched. Returns the referenced set for layout-specific
    * follow-up (the store layout's legacy-root reap); `None` when no
    * manifest exists (nothing to do — pre-manifest stores keep their
    * files). */
  def gcKeepReferenced(fs: FileSystem, root: Path, prefix: String,
      keep: Int, refsOf: (String, Long) => Set[String],
      deletable: String => Boolean,
      what: String): Option[(Set[String], Seq[(Long, String)])] = {
    val manifests = list(fs, root, prefix)
    if (manifests.isEmpty) return None
    val (dead, kept) = manifests.splitAt(
      math.max(0, manifests.length - keep))
    // each kept manifest's text is read ONCE and returned to the
    // caller for layout-specific follow-up (the excluded-partition
    // reap) — a second list+read round per gc would double manifest
    // IO on every commit
    val keptTexts = kept.map { case (v, p) => (v, readText(fs, p)) }
    // the REAL version rides into the parse so a corrupt kept
    // manifest fails naming the snapshot an operator can find
    val referenced: Set[String] =
      keptTexts.flatMap { case (v, t) => refsOf(t, v) }.toSet
    dead.foreach { case (_, p) => fs.delete(p, false) }
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (deletable(n) && !referenced.contains(n)) {
        log.info(s"$what gc at $root: deleting unreferenced $n")
        fs.delete(st.getPath, true)
      }
    }
    Some((referenced, keptTexts))
  }

  /** Re-read the [[StoreLock]] epoch at `<storePath>.epoch` and throw
    * unless it still carries the committing writer's token — the
    * pre-publish abort that keeps an advisory-lease race loser from
    * replacing the winner's snapshot. `what` names the store family
    * in the error ("index", "store"). */
  def requireEpochToken(fs: FileSystem, storePath: String,
      expectToken: String, what: String): Unit = {
    val epoch = new Path(storePath.stripSuffix("/") + ".epoch")
    val epochNow: Option[String] =
      try readText(fs, epoch).split("\n").headOption.map(_.trim)
      catch { case _: Exception => None }
    if (!epochNow.contains(expectToken))
      throw new IllegalStateException(
        s"$what commit at $storePath aborted BEFORE publishing: the " +
          s"mutation epoch no longer carries this writer's token " +
          s"'$expectToken' (now ${epochNow.fold("<gone>")(t => s"'$t'")}) — " +
          "a concurrent writer entered mid-mutation (advisory-lease " +
          "race); the live snapshot is untouched, this writer's " +
          "artifacts are orphaned and will be GC'd.")
  }
}
