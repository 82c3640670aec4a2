package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Loud SINGLE-WRITER enforcement for the durable parquet stores
  * (fingerprint / LSH band / cluster-table mutations in
  * [[graft.dedup.Dedup]]). Every store mutation documents a
  * single-writer contract — two concurrent ingests can both classify
  * the same novel key as accepted and append it twice, silently
  * duplicating store rows on every later probe — but a documented
  * contract nobody enforces fails silently. This makes the break
  * LOUD: a lease file taken with create-fail-if-exists (atomic on
  * HDFS and posix-local; the object-store caveat is documented below)
  * around the mutate-and-swap, so the second concurrent writer throws
  * instead of corrupting the store.
  *
  * Lease, not lock — three liveness mechanisms compose:
  *
  *   - OWNERSHIP TOKEN: the lease file's first line is a per-acquire
  *     UUID. Release deletes the file only while it still carries OUR
  *     token — a holder whose lease was reclaimed (it should never
  *     happen to a live one, see heartbeat) cannot delete the NEW
  *     holder's lease on exit; it throws instead, because its own
  *     mutation raced an unknown writer and must not report success.
  *   - HEARTBEAT: while `body` runs, a daemon thread touches the
  *     lease mtime every ttl/4 — a LIVE holder is never stale no
  *     matter how long the mutation runs (the round-8 TTL concern:
  *     clusterTableInit at 100 TB can legitimately outlive any fixed
  *     TTL), so the TTL only has to bound detection of a DEAD one.
  *   - VERIFIED RECLAIM: a lease older than `ttlMs` marks a dead
  *     holder. The reclaim renames it to a tombstone (atomic,
  *     single-winner) and then VERIFIES the tombstone still carries
  *     the token observed stale — two contenders racing the same
  *     stale lease could otherwise interleave so that the slower
  *     rename steals the FRESH lease the faster reclaimer just
  *     created (the round-8 advisory race). On token mismatch the
  *     stolen lease is renamed straight back and the contender
  *     re-contends against it like any other writer.
  *
  * S3-family object stores lack atomic create-if-absent and atomic
  * rename; there the lease degrades to advisory (two racing creates
  * can both "win"). The recommended 100 TB layout runs ingests from
  * one scheduler slot anyway — the lease is the backstop that turns
  * an accidental double-schedule into an exception instead of silent
  * row duplication, and the PER-MUTATION EPOCH (`<store>.epoch`,
  * stamped on entry, re-verified at release) is the
  * optimistic-concurrency backstop behind THAT: when two writers
  * both slip past an advisory lease, the one whose stamp was
  * overwritten fails loudly at release instead of reporting success.
  */
object StoreLock {

  /** Run `body` holding the lease at `<storePath>.lock`. Throws
    * [[IllegalStateException]] if another live writer holds it, or —
    * after `body` succeeded — if our lease no longer carries our
    * token at release time (a concurrent writer reclaimed it
    * mid-mutation), or if the MUTATION EPOCH at `<storePath>.epoch`
    * no longer carries it (optimistic-concurrency backstop: every
    * writer stamps the epoch on entry, so the stamp surviving to
    * release proves no other writer entered mid-mutation — on
    * object stores where create-if-absent degrades to advisory and
    * an eventually-consistent lease read-back can serve OUR stale
    * lease, the epoch overwrite is what still flips). Either way the
    * mutation cannot be trusted as sole-writer and fails loudly
    * instead of reporting clean success. */
  def withLock[T](ss: SparkSession, storePath: String,
      ttlMs: Long = 30L * 60 * 1000)(body: => T): T =
    withLockCtx(ss, storePath, ttlMs)(_ => body)

  /** What a mutation knows about its lease: its own epoch `token`,
    * which every manifest commit re-verifies before publishing
    * ([[TableLayout.commit]]). */
  final case class LockCtx(token: String)

  /** [[withLock]] variant handing the mutation its [[LockCtx]]. */
  def withLockCtx[T](ss: SparkSession, storePath: String,
      ttlMs: Long = 30L * 60 * 1000)(body: LockCtx => T): T = {
    val lock = new Path(storePath.stripSuffix("/") + ".lock")
    val epoch = new Path(storePath.stripSuffix("/") + ".epoch")
    val fs = lock.getFileSystem(ss.sessionState.newHadoopConf())
    val token = java.util.UUID.randomUUID().toString
    acquire(fs, lock, ttlMs, token, reclaimTried = false)
    stampEpoch(fs, epoch, token)
    val hb = startHeartbeat(fs, lock, ttlMs)
    var bodyOk = false
    try {
      val r = body(LockCtx(token))
      bodyOk = true
      r
    } finally {
      hb.interrupt()
      release(fs, lock, epoch, token, bodyOk)
    }
  }

  /** Stamp this mutation's epoch: last-writer-wins, as UNLINK +
    * CREATE-NEW — never an in-place truncate. Nested stores' epoch
    * files (`<store>/labels.epoch`, `<store>/lsh.epoch`) live INSIDE
    * hardlink-cloned fixture trees (the COW staging discipline), so an
    * in-place `create(epoch, overwrite=true)` would truncate the
    * SHARED inode under the pristine store and every other clone; a
    * fresh inode per stamp leaves shared bytes immutable — the
    * engine-wide never-write-in-place invariant the cloning leans on.
    * The delete→create gap only matters to a concurrent writer, who is
    * already outside the single-writer contract; a reader of a missing
    * epoch sees `<gone>`, which release() treats as the LOUD direction. */
  private def stampEpoch(fs: FileSystem, epoch: Path,
      token: String): Unit = {
    fs.delete(epoch, false)
    val out = fs.create(epoch, false)
    try out.write((token + "\n").getBytes("UTF-8")) finally out.close()
  }

  /** First line of the lease: the acquire token; second line: a
    * human-readable holder note for the contention message. */
  private def leaseBytes(token: String): Array[Byte] =
    (token + "\n" +
      java.lang.management.ManagementFactory.getRuntimeMXBean.getName +
      "\n").getBytes("UTF-8")

  private def readLease(fs: FileSystem, p: Path): Option[(String, String)] =
    try {
      val in = fs.open(p)
      val all =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = all.split("\n", 2)
      Some((lines.head.trim,
        if (lines.length > 1) lines(1).trim else ""))
    } catch { case _: Exception => None }

  /** Touch the lease mtime every ttl/4 while the mutation runs — a
    * live holder never goes stale WHILE THE HEARTBEAT CAN BEAT.
    * Daemon + interrupt-to-stop; a failed touch (fs hiccup) is
    * retried at the next tick, and three missed ticks still leave one
    * ttl/4 margin before staleness.
    *
    * Two documented holes in "a live holder is never stale", both of
    * which the release-time token + epoch checks catch LOUDLY rather
    * than silently:
    *   - filesystems that cannot set mtimes (s3a throws
    *     UnsupportedOperationException): the heartbeat is structurally
    *     dead there, so the TTL bound is back in force — detected on
    *     the first tick and warned ONCE (per-acquire), so operators
    *     know to size ttlMs to the worst-case mutation;
    *   - a driver pause longer than the TTL (GC, suspended VM): the
    *     heartbeat thread is paused WITH the body, a contender may
    *     reclaim mid-pause, and the resumed writer's release then
    *     throws on the token/epoch mismatch (StoreLockSpec pins this).
    * Repeated transient failures (>= 3 consecutive, i.e. staleness is
    * now possible despite a live holder) also warn once. */
  private def startHeartbeat(fs: FileSystem, lock: Path,
      ttlMs: Long): Thread = {
    val interval = math.max(1000L, ttlMs / 4)
    val t = new Thread(() => {
      val log = org.slf4j.LoggerFactory.getLogger(getClass)
      var warned = false
      var consecutiveFailures = 0
      def warnOnce(why: String): Unit = if (!warned) {
        warned = true
        log.warn(s"lease heartbeat for $lock cannot keep the holder " +
          s"fresh ($why) — the lease degrades to its advisory TTL " +
          s"semantics: a mutation outliving ttl=${ttlMs} ms may be " +
          "reclaimed by a contender (the release-time token/epoch " +
          "check will still fail that loudly). Size ttlMs to the " +
          "worst-case mutation on this filesystem.")
      }
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(interval)
          try {
            fs.setTimes(lock, System.currentTimeMillis(), -1)
            consecutiveFailures = 0
          } catch {
            case e: UnsupportedOperationException =>
              warnOnce(s"setTimes unsupported: $e")
            case scala.util.control.NonFatal(e) =>
              consecutiveFailures += 1
              if (consecutiveFailures >= 3)
                warnOnce(s"$consecutiveFailures consecutive touch " +
                  s"failures, latest: $e")
          }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-lease-heartbeat-$lock")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Delete the lease ONLY if it still carries our token. A missing
    * or foreign-token lease means a concurrent contender reclaimed us
    * mid-mutation (with the heartbeat that takes a multi-TTL process
    * pause): if `body` succeeded we throw — the mutation raced an
    * unknown writer and must not report clean success; if `body`
    * already failed, the original exception must not be masked, so we
    * only log. Never deletes another holder's lease either way. */
  private def release(fs: FileSystem, lock: Path, epoch: Path,
      token: String, bodyOk: Boolean): Unit = {
    // epoch FIRST: it detects a racer even when the lease read-back
    // lies (object-store eventual consistency)
    val epochNow = readLease(fs, epoch).map(_._1)
    val epochMsg =
      if (epochNow.contains(token)) None
      else Some(s"mutation epoch $epoch no longer carries this " +
        s"writer's token '$token' (now ${epochNow.fold("<gone>")(t => s"'$t'")}) — " +
        "a concurrent writer entered mid-mutation and its writes " +
        "interleaved with this one's; the store must be checked " +
        "(and one mutation re-run) before trust.")
    val current = readLease(fs, lock)
    val leaseMsg =
      if (current.exists(_._1 == token)) None
      else Some(s"store lease $lock was reclaimed while this writer " +
        s"(token '$token') was still mutating — " +
        (current match {
          case None => "the lease file is gone"
          case Some((t, holder)) =>
            s"the lease now carries token '$t' (holder '$holder')"
        }) +
        ". A concurrent writer treated this one as dead (multi-TTL " +
        "pause?); the mutation raced it and the store must be " +
        "checked before trust.")
    if (leaseMsg.isEmpty) fs.delete(lock, false)
    (epochMsg.toSeq ++ leaseMsg.toSeq).reduceOption(_ + " ALSO: " + _)
      .foreach { msg =>
        if (bodyOk) throw new IllegalStateException(msg)
        else org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
      }
  }

  /** Break a lease observed stale (its token at observation time was
    * `observed`): rename-to-tombstone (atomic, single-winner), then
    * VERIFY the tombstone still carries the observed token — the
    * loser of two contenders racing the same stale lease can
    * otherwise steal the FRESH lease the winner just created. On
    * mismatch the stolen lease is renamed straight back; the caller
    * re-contends against it like any other writer. Package-private
    * for the race-interleaving spec. */
  private[ops] def breakStaleLease(fs: FileSystem, lock: Path,
      observed: Option[String]): Unit = {
    val tomb = new Path(lock.getParent,
      "." + lock.getName + ".stale-" + java.util.UUID.randomUUID())
    if (fs.rename(lock, tomb)) {
      val tombToken = readLease(fs, tomb).map(_._1)
      if (tombToken == observed) fs.delete(tomb, false)
      else {
        // we renamed a FRESH lease out from under its holder — put it
        // straight back and let the caller re-contend against it
        if (!fs.rename(tomb, lock)) {
          // a third contender created yet another lease inside the
          // restore window; restoring without clobbering is now
          // impossible — fail loudly with the recovery path
          throw new IllegalStateException(
            s"lease reclaim race at $lock: a live lease was renamed " +
              s"to $tomb and could not be restored (another lease " +
              "appeared meanwhile). Manual recovery: inspect " +
              s"$tomb and the current lease, keep exactly one.")
        }
      }
    }
  }

  private def acquire(fs: FileSystem, lock: Path, ttlMs: Long,
      token: String, reclaimTried: Boolean): Unit = {
    try {
      // overwrite=false: atomic create-or-throw — the mutual exclusion
      val out = fs.create(lock, false)
      try out.write(leaseBytes(token)) finally out.close()
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
          _: java.io.IOException if fs.exists(lock) =>
        // snapshot the CONTENDED lease: the token identifies exactly
        // which lease we observed stale, so the reclaim below can
        // verify it broke that one and not a fresh replacement
        val observed = readLease(fs, lock).map(_._1)
        val ageMs = System.currentTimeMillis() -
          fs.getFileStatus(lock).getModificationTime
        if (ageMs > ttlMs && !reclaimTried) {
          breakStaleLease(fs, lock, observed)
          acquire(fs, lock, ttlMs, token, reclaimTried = true)
        } else {
          val holder = readLease(fs, lock)
            .map { case (t, h) => if (h.nonEmpty) h else t }
            .getOrElse("<unreadable>")
          throw new IllegalStateException(
            s"store at ${lock.toString.stripSuffix(".lock")} is being " +
              s"mutated by another writer (lease $lock, holder " +
              s"'$holder', age ${ageMs / 1000} s, ttl ${ttlMs / 1000} s)" +
              " — the single-writer contract forbids concurrent " +
              "ingests; wait for it to finish, or delete a known-dead " +
              "holder's lease")
        }
    }
  }
}
