package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.ops.{StoreLock, TableLayout}
import graft.plans.PortableHash64Expr

/** PERSISTENT INVERTED TEXT INDEX + BM25 top-k — the keyword-retrieval
  * counterpart of the [[graft.similarity.Similarity]] ANN family
  * (extension surface: the reference pipeline has no retrieval ops;
  * an LLM-data platform needs BOTH lexical and embedding search, plus
  * their fusion, for decontamination forensics, eval-set curation and
  * RAG corpus serving).
  *
  * Layout: ONE [[TableLayout]] versioned-snapshot store of postings
  * `(term, doc_id, tf, dl, bucket)` PARTITIONED BY `bucket =
  * pmod(portable_hash64(term), nBuckets)` — the on-disk layout IS the
  * sharded inverted file, so a serve scans only the buckets its query
  * terms hash to (static partition pruning) and within them only the
  * matching terms (predicate pushdown to parquet). Readers inherit the
  * snapshot contract: appends are file-atomic into the newest
  * generation, rewrites land in new generations behind one atomic
  * manifest, so a serve racing maintenance always sees a complete
  * index. Corpus statistics (doc count, total token count — the BM25
  * `N` and `avgdl` inputs — plus the bucket count and the ingested-id
  * bound) are `pin=` lines of that manifest, the retracted ids its
  * `tomb=` lines and the retraction epoch its `repoch=` line, so the
  * stats snapshot WITH the postings: one resolve serves
  * bucketing-consistent stats and data even while a rebuild with
  * different `nBuckets` races the serve.
  *
  * Scoring contract (PORTABLE-EXACT, the house oracle discipline):
  * Okapi BM25 with k1 = 1.2, b = 0.75 and the Robertson-Sparck-Jones
  * "+1" idf, computed WITHOUT libm — `ln` is evaluated by a fixed
  * atanh-series polynomial over IEEE exactly-rounded `+ - * /` after
  * a bit-exact power-of-two range reduction (`length(bin(floor(x)))`),
  * so every engine that parses the same expression computes the SAME
  * double, bit for bit. Per-term idf is scaled to int64 MICRO-UNITS,
  * each posting's contribution is floored to micro-units, and the
  * per-document score is an int64 SUM of those — integer addition is
  * associative, so the score is independent of Spark's partial-
  * aggregation order and identical in any oracle engine. The SQL for
  * both sides is GENERATED from one template ([[idfMicroSql]] /
  * [[contribMicroSql]]) so engine and oracle cannot drift.
  *
  * Scale shape: build is one tokenize pass + one (doc, term) partial-
  * aggregated count shuffle + the bucket-co-located store write; serve
  * broadcasts the query-term table (queries are small by contract —
  * the ANN-family serving discipline), scans only matched buckets and
  * terms, derives per-term document frequency FROM the scanned slice
  * (postings hold one row per (term, doc), so `count(*)` per term IS
  * df — no separate df artifact to drift), and aggregates int64
  * micro-units at (query, doc) grain. Nothing corpus-sized reaches
  * the driver; the one skew boundary is a stopword query term, whose
  * inverted list is corpus-sized by nature — production callers drop
  * terms with `df > maxDfFrac * N` via the knob (the
  * [[TextFunctions.tfIdfTopTerms]] `dropMajorityTokens` discipline);
  * the gates pin the knob off for exhaustive-parameter oracling.
  */
object TextIndex {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** BM25 constants, folded: k1 = 1.2, b = 0.75 → k1+1 = 2.2,
    * k1*(1-b) = 0.3, k1*b = 0.9 — kept as double LITERALS in the
    * generated expressions so both engines parse the identical
    * values. */
  val K1 = 1.2
  val B = 0.75

  /** Corpus stats + the RETRACTED doc ids, as one snapshot manifest
    * carries them: the stats are its pins, the ids its tombstones. A
    * retraction decrements `nDocs`/`totalTokens` in the same atomic
    * manifest commit that extends the list, so a serve reads stats and
    * tombstones that always agree. Small by contract
    * ([[graft.ops.Tombstones.MaxTombstones]]); [[vacuum]] folds the
    * rows out physically and resets the list.
    *
    * `maxDocId` is an UPPER BOUND on every id ever ingested (builds
    * compute it, appends fold their delta max in, retraction never
    * lowers it — a tombstoned id stays "used"): a delta whose ids all
    * exceed it is provably new, so [[append]]'s idempotence probe can
    * skip its index scan entirely — the monotonic-id ingest common
    * case. `None` = unknown (a corpus or delta with null ids); the
    * probe then always runs.
    *
    * `retractEpoch` is the STRUCTURAL FENCE for the one residual
    * replay window the marker choreography leaves open (a crash
    * between a retract and its marker, followed by a vacuum before
    * the checkpoint replay): every tombstone-list RESET — [[vacuum]]'s
    * fold-out, a full [[build]] over a store that had live tombstones
    * — bumps it, a retract stream records the epoch it first ran a
    * batch under, and a re-delivered batch under a CHANGED epoch
    * fails loudly instead of double-decrementing `N` (the list it
    * would have converged against idempotently no longer exists).
    * It is the snapshot's `repoch` (absent = 0). */
  final case class Meta(nDocs: Long, totalTokens: Long, nBuckets: Int,
      tombstones: Seq[Long] = Nil, maxDocId: Option[Long] = None,
      retractEpoch: Long = 0L)

  // ---------------------------------------------------------------
  // portable-exact scoring SQL (ONE generator, both dialects)
  // ---------------------------------------------------------------

  /** Dialect switch: the only constructs Spark SQL and DuckDB spell
    * differently in the scoring expressions. */
  sealed trait Dialect { def shl1(e: String): String }
  case object SparkDialect extends Dialect {
    def shl1(e: String): String = s"shiftleft(CAST(1 AS BIGINT), $e)"
  }
  case object DuckDialect extends Dialect {
    def shl1(e: String): String = s"(CAST(1 AS BIGINT) << $e)"
  }

  /** Micro-unit BM25 idf as a SQL expression over int64 columns/
    * expressions `df` and `n`:
    * `floor(1e6 * ln((n - df + 0.5)/(df + 0.5) + 1)) + .5` with `ln`
    * expanded to the portable fixed polynomial:
    * range-reduce x = m * 2^e via e = length(bin(floor(x))) - 1
    * (exact integer ops; x > 1 always since n >= df >= 1), then
    * ln(m) by the degree-9 atanh series in z = (m-1)/(m+1) — every
    * arithmetic node is an IEEE exactly-rounded op with a pinned
    * association order, so the resulting double is engine-portable
    * bit for bit; truncation error (~1e-7, z <= 1/3) is part of the
    * CONTRACT, not drift. */
  def idfMicroSql(df: String, n: String, d: Dialect): String = {
    val x = s"(((($n - $df) + 0.5) / ($df + 0.5)) + 1.0)"
    val fx = s"CAST(floor($x) AS BIGINT)"
    val e = s"CAST(length(bin($fx)) - 1 AS INT)"
    val p = s"CAST(${d.shl1(e)} AS DOUBLE)"
    val m = s"($x / $p)"
    val z = s"(($m - 1.0) / ($m + 1.0))"
    val z2 = s"($z * $z)"
    val poly = s"(1.0 + ($z2 * ((1.0/3.0) + ($z2 * ((1.0/5.0) + " +
      s"($z2 * ((1.0/7.0) + ($z2 * (1.0/9.0)))))))))"
    val lnm = s"((2.0 * $z) * $poly)"
    val lnx = s"((CAST($e AS DOUBLE) * 0.6931471805599453) + $lnm)"
    s"CAST(floor(($lnx * 1000000.0) + 0.5) AS BIGINT)"
  }

  /** One posting's micro-unit BM25 contribution over int64 columns
    * `tf` (term frequency in the doc), `dl` (doc token length), `df`,
    * and the corpus stats `n` (doc count) / `t` (total tokens):
    * `idf_u * tf*(k1+1) / (tf + k1*(1-b) + k1*b*dl/avgdl)` with
    * `dl/avgdl` computed as the exactly-rounded `(dl*n)/t` (int64
    * product, one double division) and the result floored to int64
    * micro-units — summable in any order. */
  def contribMicroSql(tf: String, dl: String, df: String, n: String,
      t: String, d: Dialect): String = {
    val idf = idfMicroSql(df, n, d)
    val dlr = s"(CAST(($dl * $n) AS DOUBLE) / CAST($t AS DOUBLE))"
    val den = s"(CAST($tf AS DOUBLE) + (0.3 + (0.9 * $dlr)))"
    val num = s"(CAST($idf AS DOUBLE) * (CAST($tf AS DOUBLE) * 2.2))"
    s"CAST(floor(($num / $den) + 0.5) AS BIGINT)"
  }

  /** Reciprocal-rank-fusion contribution of one leg's `rank` (int64,
    * 1-based) in micro-units: `floor(1e6 / (rrfK + rank) + .5)` —
    * one exactly-rounded division, engine-portable. */
  def rrfMicroSql(rank: String, rrfK: Int): String =
    s"CAST(floor((1000000.0 / (CAST($rrfK AS DOUBLE) + " +
      s"CAST($rank AS DOUBLE))) + 0.5) AS BIGINT)"

  // ---------------------------------------------------------------
  // corpus stats: snapshot pins
  // ---------------------------------------------------------------

  /** The live corpus stats; fails descriptively on an index whose
    * manifest carries no stats pins (see [[metaAt]]). */
  def readMeta(ss: SparkSession, path: String): Meta =
    metaAt(path, TableLayout.resolve(ss, path))

  /** Corpus stats AT a resolved snapshot: its pins, tombstones and
    * epoch — always paired with the snapshot's own postings (the
    * reader-isolation contract extended to the stats). A manifest
    * without the stats pins is a root not built by [[build]], or an
    * index built before the stats moved into the manifest: rebuild
    * it. */
  private def metaAt(path: String, snap: TableLayout.Snapshot): Meta = {
    val p = snap.pins
    (for (n <- p.get("n_docs"); t <- p.get("total_tokens");
          b <- p.get("n_buckets"))
      yield Meta(n.toLong, t.toLong, b.toInt,
        snap.tombstones.map(_.toLong).sorted,
        p.get("max_doc_id").map(_.toLong), snap.repoch))
      .getOrElse(throw new IllegalStateException(
        s"no text-index stats pins in the manifest of $path at snapshot " +
          s"v${snap.version} — the index was not built by this " +
          "version's TextIndex.build; rebuild the index"))
  }

  /** `m` as manifest pins; an unknown id bound writes none. */
  private def pinsOf(m: Meta): Map[String, String] =
    Map("n_docs" -> m.nDocs.toString,
      "total_tokens" -> m.totalTokens.toString,
      "n_buckets" -> m.nBuckets.toString) ++
      m.maxDocId.map(x => "max_doc_id" -> x.toString)

  /** Commit `snap`'s data one version up carrying `m` — the
    * metadata-only commit append, retract and a dataless vacuum share
    * (the ANN index's retract shape: commit, then gc). Under the
    * lease whose epoch `token` names. */
  private def commitMeta(ss: SparkSession, path: String,
      snap: TableLayout.Snapshot, m: Meta, token: String): Unit = {
    TableLayout.commit(ss, path, snap.copy(version = snap.version + 1L,
      tombstones = m.tombstones.map(_.toString), repoch = m.retractEpoch,
      pins = pinsOf(m)), token)
    TableLayout.gc(ss, path)
  }

  /** The live retraction epoch — the replay fence a retract stream
    * records per batch (see [[Meta.retractEpoch]]). 0 for an index
    * that never reset a tombstone list. */
  def retractEpoch(ss: SparkSession, path: String): Long =
    readMeta(ss, path).retractEpoch

  // ---------------------------------------------------------------
  // build / append / serve
  // ---------------------------------------------------------------

  /** Null-safe portable tokens: the engine-wide whitespace tokenizer
    * over `coalesce(text, '')` so null and empty documents both carry
    * zero tokens (and length 0) instead of a poisoned -1 size. */
  private def toks(textCol: Column): Column =
    TextFunctions.tokens(coalesce(textCol, lit("")))

  /** The ONE tokenize pass build and append share: `(doc_id, toks)`.
    * Callers persist() this frame and derive BOTH the corpus stats
    * and the postings from it, so a non-deterministic or unstable
    * source (a sampled input, files changing between jobs) cannot
    * commit stats inconsistent with the postings actually written —
    * the two passes read one materialization. */
  private def tokenized(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      toks(col(textCol)).as("toks"))

  /** POSITIONAL postings over a [[tokenized]] frame: one row per
    * (term, doc) carrying tf, the doc length, and the term's sorted
    * 0-based token positions — the classic positional inverted file,
    * enabling phrase queries ([[phraseTopK]]) on top of BM25. BM25
    * serving never reads the positions column (parquet column
    * pruning), so the bag-of-words path pays nothing for it. */
  private def postingsOf(tok: DataFrame, nBuckets: Int): DataFrame = {
    val spark = tok.sparkSession
    tok
      .select(col("doc_id"), size(col("toks")).cast("bigint").as("dl"),
        posexplode(col("toks")).as(Seq("pos", "term")))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos").cast("long")))
          .as("positions"))
      .withColumn("bucket",
        pmod(PortableHash64Expr.portableHash64(spark, col("term")),
          lit(nBuckets.toLong)).cast("int"))
  }

  /** `maxId`/`minId`: None = no usable bound (null ids present, or —
    * for `maxId` consumers — see below); an EMPTY delta/corpus gets
    * `Some(Long.MinValue)` as its max (the vacuous upper bound: any
    * later id is provably new). */
  private final case class CorpusStats(n: Long, t: Long,
      maxId: Option[Long], minId: Option[Long])

  private def corpusStats(tok: DataFrame): CorpusStats = {
    val r = tok.agg(count(lit(1)).as("n"),
      coalesce(sum(size(col("toks")).cast("bigint")), lit(0L)).as("t"),
      max(col("doc_id")).as("mx"), min(col("doc_id")).as("mn"),
      count(col("doc_id")).as("nonNull")).head()
    val n = r.getLong(0)
    val allIdsKnown = r.getLong(4) == n
    CorpusStats(n, r.getLong(1),
      if (n == 0) Some(Long.MinValue)
      else if (allIdsKnown) Some(r.getLong(2)) else None,
      if (n > 0 && allIdsKnown) Some(r.getLong(3)) else None)
  }

  /** Build (or fully rebuild) the index at `path` from `docs`: ONE
    * tokenize pass (persisted — stats and postings come from the same
    * materialization, see [[tokenized]]) + one (doc, term) count
    * shuffle, postings co-located by term bucket, published as a
    * fresh store snapshot whose pins are the corpus stats. A rebuild
    * over live tombstones resets the list, so the publish bumps the
    * retraction epoch (a takedown replay cannot alias a fresh epoch);
    * an unreadable prior manifest fails the build rather than
    * resetting the epoch to 0. Runs under the single-writer lease. */
  def build(docs: DataFrame, idCol: String, textCol: String, path: String,
      nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, "nBuckets must be positive")
    val spark = docs.sparkSession
    StoreLock.withLockCtx(spark, path) { ctx =>
      val tok = tokenized(docs, idCol, textCol).persist()
      try {
        val st = corpusStats(tok)
        TableLayout.publish(postingsOf(tok, nBuckets),
          path, Some("bucket"), ctx.token,
          pins = pinsOf(Meta(st.n, st.t, nBuckets, maxDocId = st.maxId)))
        log.info(s"built text index at $path: ${st.n} docs, ${st.t} " +
          s"tokens, $nBuckets buckets")
      } finally { tok.unpersist(); () }
    }
  }

  /** Incremental append: tokenize the delta ONCE (persisted — stats
    * and postings from the same materialization) under the SAME
    * bucket hash and add its postings to the newest generation
    * (file-atomic — a racing serve sees the old file set), then
    * commit updated corpus stats. A serve between the data append and
    * the stats commit scores new postings under stats one delta stale
    * — bounded staleness, the documented ANN-append drift analog,
    * never a partial read.
    *
    * Delta doc_ids must be NEW: re-appending an id doubles its
    * postings and inflates `N`/`avgdl` permanently, and re-appending
    * a LIVE-TOMBSTONED id would be hidden by the serve filter and
    * then physically dropped by the next [[vacuum]] while its stats
    * stayed counted — silent loss. BOTH contracts are GUARDED:
    * tombstone collisions fail against the snapshot's driver-side
    * list (delta-sized, no index IO), and replay collisions fail
    * against the live postings of the buckets the delta's terms hash
    * to. When the stats carry a `maxDocId` bound and the delta's ids
    * all exceed it — the monotonic-id ingest common case, which every
    * streamed drop satisfies — the replay probe is skipped as
    * provably clean (no index scan at all). Otherwise the probe scans
    * the touched buckets' (`bucket`, `doc_id`) columns only; a
    * natural-language delta touches most buckets, so budget it as an
    * index-2-column-scan, not "delta-sized" — monotonic ids are the
    * scale path. The probe sees a replayed doc through any term it
    * carried before (same text → same buckets); an id reused with
    * entirely different text, or an empty-text replay (no postings to
    * collide), is upstream exact-dedup's job — the guard is loud
    * best-effort, not a catalog. `allowReplay = true` skips the
    * replay probe (never the tombstone guard) for callers with their
    * own idempotence choreography; the streamed path keeps it ON so a
    * crash between its append and its marker commit surfaces as a
    * loud stall on replay, never as silent double postings. */
  def append(delta: DataFrame, idCol: String, textCol: String,
      path: String, allowReplay: Boolean = false): Unit = {
    val spark = delta.sparkSession
    StoreLock.withLockCtx(spark, path) { ctx =>
      val snap = TableLayout.resolve(spark, path)
      val meta = metaAt(path, snap)
      val tok = tokenized(delta, idCol, textCol).persist()
      try {
        requireNotTombstoned(tok, meta, path)
        val st = corpusStats(tok)
        val provablyNew = (meta.maxDocId, st.minId) match {
          case (Some(bound), Some(lo)) => lo > bound
          case _ => st.n == 0
        }
        if (!allowReplay && !provablyNew)
          requireNewDocIds(spark, path, snap, tok, meta.nBuckets)
        // postingsOf evaluates exactly ONCE (inside the write); the
        // probe derived its pairs from the persisted tok instead
        TableLayout.append(postingsOf(tok, meta.nBuckets), path,
          Some("bucket"))
        // updated stats commit over the SAME generations the postings
        // landed in (nBuckets cannot change outside a rebuild, so a
        // serve between the data and the stats sees bounded-stale
        // N/avgdl, never inconsistent bucketing). The id bound only
        // ever RISES, and stays unknown if it was unknown (a
        // known-wrong bound would let a later probe skip incorrectly).
        val newMax = (meta.maxDocId, st.maxId) match {
          case (Some(a), Some(b)) => Some(math.max(a, b))
          case _ => None
        }
        commitMeta(spark, path, snap, meta.copy(nDocs = meta.nDocs + st.n,
          totalTokens = meta.totalTokens + st.t, maxDocId = newMax),
          ctx.token)
      } finally { tok.unpersist(); () }
    }
  }

  /** The LIVE-TOMBSTONE append guard ([[Similarity]]'s
    * `requireNotTombstoned` mirrored): a re-appended retracted doc
    * would be unretrievable (serve filter) yet counted in `N`/`avgdl`
    * (stats corruption), and the next [[vacuum]] would physically
    * drop the new content while the stats stayed inflated. Fail
    * loudly; re-ingest only after a vacuum has reset the list. Zero
    * cost when no tombstones are live; delta-sized otherwise. */
  private def requireNotTombstoned(tok: DataFrame, meta: Meta,
      path: String): Unit =
    if (meta.tombstones.nonEmpty) {
      val hit = graft.ops.Tombstones.restrict(
          tok.select("doc_id"), "doc_id", meta.tombstones)
        .limit(5).collect().map(_.getLong(0)).distinct.sorted
      if (hit.nonEmpty) throw new IllegalStateException(
        s"TextIndex.append at $path: delta doc_id(s) " +
          s"${hit.mkString(", ")} are LIVE-TOMBSTONED — appending them " +
          "would be hidden by the serve filter, counted in N/avgdl, " +
          "and then physically dropped by the next vacuum. The store " +
          "is unchanged. Run vacuum (which purges and resets the " +
          "tombstone list) before re-ingesting a retracted id.")
    }

  /** The [[append]] idempotence probe: throw if any delta doc_id
    * already has live postings in a bucket the delta's terms hash to.
    * Pairs derive from the persisted tokenized delta (one light
    * distinct — no posting aggregation); the live scan prunes
    * statically to the touched buckets and reads only the
    * `doc_id`/`bucket` columns. Runs under the lease. */
  private def requireNewDocIds(spark: SparkSession, path: String,
      snap: TableLayout.Snapshot, tok: DataFrame, nBuckets: Int): Unit = {
    TableLayout.readAtOpt(spark, path, snap).foreach { live =>
      val deltaIds = tok
        .select(col("doc_id"), explode(col("toks")).as("term"))
        .select(col("doc_id"),
          pmod(PortableHash64Expr.portableHash64(spark, col("term")),
            lit(nBuckets.toLong)).cast("int").as("bucket"))
        .distinct()
      // touched buckets collected first (bounded by nBuckets) so the
      // live scan prunes STATICALLY to them — the probe never reads
      // an untouched bucket's bytes
      val buckets = deltaIds.select("bucket").distinct()
        .collect().map(_.getInt(0))
      val collided = live
        .filter(col("bucket").isin(buckets.map(Integer.valueOf).toSeq: _*))
        .select("bucket", "doc_id")
        .join(broadcast(deltaIds), Seq("bucket", "doc_id"), "leftsemi")
        .select("doc_id").distinct().limit(5)
        .collect().map(_.getLong(0)).sorted
      if (collided.nonEmpty) throw new IllegalStateException(
        s"TextIndex.append at $path: delta doc_id(s) " +
          s"${collided.mkString(", ")}${if (collided.length == 5) ", …" else ""} " +
          "already have postings in this index — re-appending would " +
          "double their postings and corrupt N/avgdl. The store is " +
          "unchanged. Deduplicate the delta upstream, or pass " +
          "allowReplay = true if this caller owns its own idempotence " +
          "choreography.")
    }
  }

  /** Document RETRACTION (takedown/opt-out deletion): tombstone
    * `docIds` and decrement the corpus stats, in ONE atomic manifest
    * commit — a serve that resolves the snapshot reads stats and
    * tombstones that agree, and scores the remaining corpus exactly
    * as a fresh build without those docs would (the `q_text_retract`
    * oracle). A doc's postings scatter across every bucket its terms
    * hash to, so retraction does NOT rewrite data: serves drop the
    * ids with a broadcast-sized filter applied before df derivation;
    * [[vacuum]] (or a full [[build]]) folds the rows out physically
    * and resets the list.
    *
    * BOTH stat decrements are PRESENCE-BASED and come from ONE
    * column-pruned pass over the live postings: per fresh id its
    * live `(doc_id, sum(tf))` — the id set drives the `nDocs`
    * decrement, the tf sum the token decrement. A fresh id with NO
    * live postings decrements nothing: it is either never-ingested,
    * already folded out by a [[vacuum]] (a takedown feed that
    * repeats an id across batches AFTER an in-stream vacuum reset
    * the list — the one duplicate the tombstone-skip cannot see —
    * now converges to a stats no-op instead of double-decrementing
    * `N`), or a genuinely ingested EMPTY document. The empty-doc leg
    * is the residual ambiguity: its retraction leaves `nDocs` one
    * HIGH until the next full rebuild — conservative (the doc has no
    * postings and can never be served) and bounded, unlike the
    * repeatable downward drift presence-based accounting closes. Ids
    * already tombstoned are skipped (idempotent re-delivery). Batch
    * takedowns to amortize the pass. Runs under the single-writer
    * lease.
    *
    * `verifyExists = true` is the belt for a takedown feed that
    * cannot be trusted at all (and for indexes with an unknown
    * `maxDocId` bound, where the cheap rejection cannot run): every
    * fresh id must appear in that same live-postings
    * pass or the batch is rejected with the store unchanged. The
    * probe cannot distinguish a never-ingested id from an
    * already-vacuumed or genuinely-EMPTY ingested document (none
    * have postings), so it refuses all three: use it only on feeds
    * where those are not expected. Default off; it costs nothing
    * extra (the stats pass already computes presence). */
  def retract(ss: SparkSession, path: String, docIds: Seq[Long],
      verifyExists: Boolean = false): Unit =
    StoreLock.withLockCtx(ss, path) { ctx =>
      val snap = TableLayout.resolve(ss, path)
      val meta = metaAt(path, snap)
      val (fresh, all) = graft.ops.Tombstones.merge(
        meta.tombstones, docIds, s"TextIndex.retract at $path")
      // the ingested-id bound partially ENFORCES the "ids must have
      // been ingested" contract: an id above it was provably never
      // ingested, and decrementing nDocs for it would silently
      // deflate N for every later BM25 score (ids at or below the
      // bound remain the caller's honesty contract — an empty-text
      // doc and an unknown id both have no postings to check)
      for (bound <- meta.maxDocId) {
        val bogus = fresh.filter(_ > bound)
        require(bogus.isEmpty,
          s"TextIndex.retract at $path: doc_id(s) " +
            s"${bogus.take(5).mkString(", ")} exceed the ingested-id " +
            s"bound $bound — these were never ingested, and retracting " +
            "them would silently deflate N/avgdl. The store is " +
            "unchanged; clean the takedown feed.")
      }
      if (fresh.nonEmpty) {
        // ONE column-pruned pass yields presence AND the token
        // decrement together: per fresh id, its live (doc_id,
        // sum(tf)). Driver rows bounded by the tombstone cap.
        val liveStats: Map[Long, Long] =
          TableLayout.readAtOpt(ss, path, snap) match {
            case None => Map.empty
            case Some(live) =>
              graft.ops.Tombstones.restrict(
                  live.select("doc_id", "tf"), "doc_id", fresh)
                .groupBy("doc_id")
                .agg(coalesce(sum(col("tf")), lit(0L)).as("toks"))
                .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          }
        val missing = fresh.filterNot(liveStats.contains)
        if (verifyExists) require(missing.isEmpty,
          s"TextIndex.retract at $path: doc_id(s) " +
            s"${missing.take(5).mkString(", ")}" +
            s"${if (missing.length > 5) ", …" else ""} have no live " +
            "postings — never ingested, already vacuumed, or an " +
            "ingested EMPTY document (indistinguishable without " +
            "postings); verifyExists refuses all three so an " +
            "untrusted feed cannot silently deflate N/avgdl. The " +
            "store is unchanged.")
        val gone = liveStats.valuesIterator.sum
        commitMeta(ss, path, snap, meta.copy(
          nDocs = meta.nDocs - liveStats.size,
          totalTokens = meta.totalTokens - gone, tombstones = all),
          ctx.token)
        log.info(s"retracted ${liveStats.size} live doc(s) / $gone " +
          s"token(s) from the text index at $path " +
          s"(${missing.length} fresh id(s) had no live postings; " +
          s"${all.length} live tombstone(s))")
      }
    }

  /** Fold the tombstoned rows OUT physically and reset the list —
    * BUCKET-SCOPED, the ANN vacuum's cell-fold discipline applied to
    * the inverted file: only the term buckets that actually HOLD a
    * tombstoned doc's postings are rewritten (probed by a
    * column-pruned `(bucket, doc_id)` scan whose driver list is
    * bounded by `nBuckets`), untouched buckets' bytes are never read,
    * shuffled, or re-staged. No re-tokenization, stats unchanged
    * (retract already decremented them); the empty tombstone list and
    * the bumped retraction epoch (the takedown-replay fence) ride the
    * fold's own manifest commit, so no snapshot exists where the rows
    * are folded but the fence has not moved. A natural-language doc's
    * terms hash into MANY buckets, so a LARGE takedown set degrades
    * toward a full rewrite — the honest floor for an inverted file —
    * but the common small-batch fold (the takedown streams'
    * `vacuumAfterTombstones` automation) stays touched-bucket-sized.
    * Run it when the tombstone list nears the cap or ahead of a
    * compliance deadline that demands physical deletion — the folded
    * rows leave the live store at the commit and leave DISK at the
    * end of the manifest grace window, when the layout gc reaps the
    * superseded bucket dirs once every kept manifest excludes them
    * (the same grace every generation drop honors for in-flight
    * readers; on a QUIESCENT store nothing rotates the pre-vacuum
    * manifest out — close the window explicitly with [[expire]]).
    * Readers racing the vacuum keep the previous snapshot.
    * Runs under the single-writer lease. */
  def vacuum(ss: SparkSession, path: String): Unit =
    StoreLock.withLockCtx(ss, path) { ctx =>
      val snap = TableLayout.resolve(ss, path)
      val meta = metaAt(path, snap)
      if (meta.tombstones.nonEmpty) {
        // the reset BUMPS the retraction epoch: any takedown batch
        // that first ran against the pre-vacuum list and is
        // re-delivered after it must fail loudly, not re-decrement
        val reset = meta.copy(tombstones = Nil,
          retractEpoch = meta.retractEpoch + 1L)
        val liveOpt = TableLayout.readAtOpt(ss, path, snap)
        val touched = liveOpt.map(live =>
          graft.ops.Tombstones.restrict(
              live.select("bucket", "doc_id"), "doc_id",
              meta.tombstones)
            .select("bucket").distinct()
            .collect().map(_.getInt(0)).toSeq.sorted)
          .getOrElse(Seq.empty)
        if (touched.nonEmpty)
          TableLayout.replacePartitions(ss, path,
            graft.ops.Tombstones.exclude(
              liveOpt.get.filter(col("bucket")
                .isin(touched.map(Integer.valueOf): _*)),
              "doc_id", meta.tombstones),
            touched.map(_.toString), ctx.token,
            tweak = _.copy(tombstones = Nil, repoch = reset.retractEpoch))
        else
          // no tombstoned doc has live postings (dataless snapshot,
          // ingested-empty docs, or a crash after a prior vacuum's
          // fold): metadata-only reset
          commitMeta(ss, path, snap, reset, ctx.token)
        log.info(s"vacuumed ${meta.tombstones.length} tombstoned " +
          s"doc(s) out of the text index at $path " +
          s"(${touched.length} bucket(s) rewritten)")
      }
    }

  /** Close the manifest grace window on a QUIESCENT index — the
    * compliance tail of [[vacuum]]: on a store that no longer
    * ingests, the pre-vacuum manifest (which still reads the folded
    * bucket dirs un-excluded) never rotates out, so the folded bytes
    * never leave disk. One `expire` after the vacuum retires it and
    * the excluded-partition reap deletes them. See
    * [[graft.ops.TableLayout.expire]] for the reader caveat. */
  def expire(ss: SparkSession, path: String): Unit =
    TableLayout.expire(ss, path)

  final case class CompactReport(bucketsCompacted: Int,
      filesBefore: Long, filesAfter: Long)

  /** Bucket-grain small-files compaction — the maintenance always-on
    * [[append]] needs (each append lands ~one file per touched
    * bucket, so a long-lived streamed index accretes files without
    * bound — the same disease the ANN postings and dedup stores
    * compact away). Buckets past `maxFilesPerBucket` live files are
    * rewritten to ~one file each via the snapshot layout's
    * partition-scoped rewrite: untouched buckets' bytes are never
    * read, readers racing the compaction keep the previous snapshot,
    * and the rewrite is value-invisible (the append gate serves the
    * compacted index against the ordinary full-corpus oracle). The
    * partition rewrite carries the stats pins, tombstones and epoch
    * forward. Runs under the single-writer lease. */
  def compact(ss: SparkSession, path: String,
      maxFilesPerBucket: Int = 16): CompactReport =
    StoreLock.withLockCtx(ss, path) { ctx =>
      readMeta(ss, path) // an index without stats pins fails here
      val r = TableLayout.compactPartitions(ss, path, maxFilesPerBucket,
        ctx.token)
      CompactReport(r.touched.length, r.filesBefore, r.filesAfter)
    }

  /** BM25 top-k serve. `queries` is a SMALL frame (broadcast by
    * contract, like every ANN query set): `(idCol, textCol)` rows,
    * tokenized with the corpus tokenizer; duplicate query terms score
    * once (set-of-terms queries — the classic probabilistic-model
    * reading). Scans only the buckets the query terms hash to and,
    * within them, only matching terms; df derives from the scanned
    * slice. `maxDfFrac` (0,1] drops query terms whose df exceeds the
    * fraction of the corpus — the stopword-skew dial; 1.0 = keep all.
    * Output: `(query_id, rank, doc_id, score_u)`, score_u in int64
    * micro-units, ties broken by doc_id ascending; queries with no
    * matching term emit no rows. */
  /** Index HEALTH, one observable for ingest/serve monitoring (the
    * dedup stores' `storeHealth` discipline): the corpus stats the
    * scorer uses (a total_tokens that stops growing under an active
    * append stream is a stuck ingest), the postings grain (vocabulary
    * = distinct terms; posting rows), and the LIVE file pressure that
    * drives [[compact]] — live-snapshot accounting only, superseded
    * generations awaiting GC are not compaction pressure. One
    * vocabulary-grain aggregation over the live postings; the file
    * numbers come from listings, not scans. */
  def health(ss: SparkSession, path: String): DataFrame = {
    import ss.implicits._
    val snap = TableLayout.resolve(ss, path)
    val meta = metaAt(path, snap)
    val (nFiles, _, _) = TableLayout.fileStats(ss, path, snap)
    val maxPerBucket = TableLayout.filesPerPartition(ss, path, snap)
      .values.maxOption.getOrElse(0L)
    val (vocab, postings) = TableLayout.readAtOpt(ss, path, snap) match {
      case None => (0L, 0L)
      case Some(df) =>
        // tombstoned docs are not live corpus: vocab/postings report
        // what a serve can actually score
        val r = graft.ops.Tombstones.exclude(df, "doc_id",
            meta.tombstones)
          .agg(countDistinct(col("term")).as("v"),
            count(lit(1)).as("p")).head()
        (r.getLong(0), r.getLong(1))
    }
    Seq((meta.nDocs, meta.totalTokens, meta.nBuckets.toLong, vocab,
      postings, nFiles, maxPerBucket, meta.tombstones.length.toLong))
      .toDF("n_docs", "total_tokens", "n_buckets", "vocab", "postings",
        "live_files", "max_files_per_bucket", "n_tombstones")
  }

  /** The serve scaffolding BOTH retrieval entry points share: ONE
    * snapshot resolution for stats AND postings (the stats are the
    * snapshot's own pins, so a serve racing a rebuild can
    * never pair one snapshot's nBuckets with another's postings —
    * the bucketing would prune matching rows silently), ONE
    * evaluation of the query lineage (queries are SMALL by the
    * serving contract: the tokenized `(query_id, qpos, term, bucket)`
    * rows collect in one job and every downstream query-side frame
    * is rebuilt from the local rows), and the bucket-pruned,
    * term-pushed postings slice. `None` = no query terms, or an
    * EMPTY index (a build over an empty/all-blank corpus commits a
    * dataless snapshot — valid; serves answer empty, not failure). */
  private final case class Serve(meta: Meta,
      qrows: Seq[(Long, Long, String)], slice: DataFrame)

  private def serveSlice(queries: DataFrame, idCol: String,
      textCol: String, path: String): Option[Serve] = {
    val spark = queries.sparkSession
    val snap = TableLayout.resolve(spark, path)
    val meta = metaAt(path, snap)
    val collected = queries
      .select(col(idCol).cast("long").as("query_id"),
        posexplode(toks(col(textCol))).as(Seq("qpos", "term")))
      .select(col("query_id"), col("qpos").cast("long").as("qpos"),
        col("term"),
        pmod(PortableHash64Expr.portableHash64(spark, col("term")),
          lit(meta.nBuckets.toLong)).cast("int").as("bucket"))
      .collect()
    val liveOpt = TableLayout.readAtOpt(spark, path, snap)
    if (collected.isEmpty || liveOpt.isEmpty) return None
    val terms = collected.map(_.getString(2)).distinct.toSeq
    val buckets = collected.map(_.getInt(3)).distinct.toSeq
    // retracted docs drop HERE, before df derivation — so document
    // frequencies, scores, and phrase anchors are all computed over
    // the live corpus the snapshot's stats describe
    val slice = graft.ops.Tombstones.exclude(
      liveOpt.get
        .filter(col("bucket").isin(buckets.map(Integer.valueOf): _*))
        .filter(col("term").isin(terms: _*)),
      "doc_id", meta.tombstones)
    Some(Serve(meta,
      collected.toSeq.map(r => (r.getLong(0), r.getLong(1),
        r.getString(2))), slice))
  }

  def topK(queries: DataFrame, idCol: String, textCol: String, k: Int,
      path: String, maxDfFrac: Double = 1.0): DataFrame = {
    require(k >= 1, "k must be positive")
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0, "maxDfFrac in (0, 1]")
    val spark = queries.sparkSession
    import spark.implicits._
    serveSlice(queries, idCol, textCol, path) match {
      case None => emptyServe(spark, "score_u")
      case Some(Serve(meta, qrows, slice)) =>
        // duplicate query terms score once (set-of-terms queries —
        // the classic probabilistic-model reading)
        val qterms = qrows.map(r => (r._1, r._3)).distinct
          .toDF("query_id", "term")
        // postings are one row per (term, doc): count per term IS df
        val dfreq0 = slice.groupBy("term").agg(count(lit(1)).as("df"))
        val dfreq =
          if (maxDfFrac >= 1.0) dfreq0
          else dfreq0.filter(col("df").cast("double") <=
            lit(maxDfFrac) * lit(meta.nDocs.toDouble))
        val contrib = contribMicroSql("tf", "dl", "df",
          meta.nDocs.toString + "L", meta.totalTokens.toString + "L",
          SparkDialect)
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("score_u").desc, col("doc_id").asc)
        slice
          .join(broadcast(dfreq), Seq("term"))
          .join(broadcast(qterms), Seq("term"))
          .withColumn("contrib_u", expr(contrib))
          .groupBy("query_id", "doc_id")
          .agg(sum("contrib_u").as("score_u"))
          .withColumn("rank", row_number().over(w).cast("bigint"))
          .filter(col("rank") <= k)
          .select("query_id", "rank", "doc_id", "score_u")
    }
  }

  /** EXACT PHRASE top-k over the positional index: rank documents by
    * how many times the query's token sequence occurs CONTIGUOUSLY
    * (`n_phrase`, overlapping occurrences counted), ties by doc_id.
    * Pure relational anchor-join shape, no per-row array programs:
    * the query's `(qpos, term)` rows join matching postings' exploded
    * positions on term (the same bucket-pruned, term-pushed scan as
    * [[topK]]); an occurrence anchored at token `a` exists iff EVERY
    * query position `qpos` matches a posting position `a + qpos`, so
    * matches group by `(query, doc, pos - qpos)` and an anchor counts
    * when `count(DISTINCT qpos)` equals the query length. Repeated
    * query tokens are exact (each qpos must land at the same anchor).
    * Scale: the join runs at matched-posting-position grain — the
    * query's terms only — and anchors aggregate map-side; queries are
    * broadcast by the serving contract. */
  def phraseTopK(queries: DataFrame, idCol: String, textCol: String,
      k: Int, path: String): DataFrame = {
    require(k >= 1, "k must be positive")
    val spark = queries.sparkSession
    import spark.implicits._
    serveSlice(queries, idCol, textCol, path) match {
      case None => emptyServe(spark, "n_phrase")
      case Some(Serve(_, qrows, slice)) =>
        val qpos = qrows.toDF("query_id", "qpos", "term")
        val qlen = qrows.groupBy(_._1).view.mapValues(_.size.toLong)
          .toSeq.toDF("query_id", "qlen")
        val positions = slice.select(col("term"), col("doc_id"),
          explode(col("positions")).as("pos"))
        val anchors = positions
          .join(broadcast(qpos), Seq("term"))
          // anchor < 0 can never complete (qpos 0 would need pos < 0)
          // — dropped early; the oracle needs no twin filter, its
          // `nq = qlen` join predicate already kills those anchors
          .withColumn("anchor", col("pos") - col("qpos"))
          .filter(col("anchor") >= 0)
          .groupBy("query_id", "doc_id", "anchor")
          .agg(countDistinct(col("qpos")).as("nq"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("n_phrase").desc, col("doc_id").asc)
        anchors
          .join(broadcast(qlen), Seq("query_id"))
          .filter(col("nq") === col("qlen"))
          .groupBy("query_id", "doc_id")
          .agg(count(lit(1)).as("n_phrase"))
          .withColumn("rank", row_number().over(w).cast("bigint"))
          .filter(col("rank") <= k)
          .select("query_id", "rank", "doc_id", "n_phrase")
    }
  }

  /** Empty serve result: the shared schema with `scoreCol` as the
    * fourth column (`score_u` for BM25, `n_phrase` for phrase). */
  private def emptyServe(spark: SparkSession, scoreCol: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        s"query_id BIGINT, rank BIGINT, doc_id BIGINT, $scoreCol BIGINT"))

  /** RECIPROCAL-RANK FUSION of retrieval legs (Cormack et al. 2009)
    * — the standard lexical ⊕ embedding hybrid: each leg is a
    * `(query_id, doc_id, rank)` frame (extra columns ignored), a
    * doc's fused score is the int64 micro-unit sum of
    * `1e6 / (rrfK + rank)` over the legs that returned it, and the
    * fused top-k re-ranks on (score desc, doc_id asc). Legs are
    * top-k-sized (queries × k rows), so the union and the (query,
    * doc) re-aggregation are trivially small next to the retrieval
    * itself at any scale. */
  def rrfFuse(legs: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(legs.nonEmpty, "rrfFuse needs at least one leg")
    require(k >= 1 && rrfK >= 0, "need k >= 1, rrfK >= 0")
    val scored = legs.map { l =>
      l.select(col("query_id").cast("long"), col("doc_id").cast("long"),
          col("rank").cast("long"))
        .withColumn("rrf_u", expr(rrfMicroSql("rank", rrfK)))
        .select("query_id", "doc_id", "rrf_u")
    }.reduceLeft(_.unionByName(_))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_u").desc, col("doc_id").asc)
    scored.groupBy("query_id", "doc_id")
      .agg(sum("rrf_u").as("rrf_u"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "rrf_u")
  }
}
