package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.functions.TextFunctions

/** Training-data pipeline operators as STREAMS — the ingest-time shape
  * of corpus hygiene: documents arrive in drops (crawl snapshots,
  * vendor deliveries) and dedup must happen against everything already
  * accepted, without re-scanning the accepted corpus per drop.
  *
  * Streaming exact dedup: a document is emitted iff its normalized-
  * text fingerprint was never seen in any earlier micro-batch. State
  * is ONE BOOLEAN per distinct fingerprint in the state store —
  * hash-partitioned across executors, incremental per batch, bounded
  * by corpus cardinality (compaction/TTL via `GroupStateTimeout` drops
  * in when upstream guarantees an arrival horizon). At 100 TB this is
  * the difference between an O(corpus) shuffle per monthly drop (the
  * batch [[graft.dedup.Dedup.exactDedup]] re-run) and O(drop) work
  * per drop.
  */
object PipelineStreams {

  /** `documents`-shaped drop-folder schema (one parquet file per
    * arriving batch). */
  /** Canonical documents shape — used by specs to BUILD fixtures. For
    * READING a staged drop folder prefer [[readDocs]]: a file-source
    * stream requires an explicit schema, and a forced one silently
    * diverges when the driver regenerates testdata with different
    * physical types (exactly how round 4 lost the event streams —
    * see graft.Tables.normalizeEventTs). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Documents file-source stream over an ALREADY-STAGED drop folder:
    * the stream schema is peeked off the staged files themselves
    * (every fixture stages before defining the stream), so the staged
    * encoding — whatever the driver's data generation produced — is
    * read back exactly. */
  def readDocs(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val peeked =
      try spark.read.parquet(path).schema
      catch { case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalStateException(
          s"readDocs: could not peek the drop schema from '$path' — " +
            "the drop folder must hold at least one staged parquet file " +
            "BEFORE the stream is defined (stage fixtures first, then " +
            "build the stream)", e)
      }
    val reader = spark.readStream.schema(peeked)
    maxFilesPerTrigger.fold(reader)(m =>
        reader.option("maxFilesPerTrigger", m.toString))
      .parquet(path)
  }

  /** Run `body` with `spark.sql.shuffle.partitions = n`, restoring the
    * previous value after. A streaming query FIXES its state-partition
    * count from this conf at first start, and every state partition
    * costs per-micro-batch store open/commit/maintenance (a
    * stream-stream join keeps 4 stores per partition) — so KB-scale
    * fixture drops want few fat partitions, where production sizes the
    * same knob to data volume. Only the stream's own construction +
    * run belongs inside `body`; downstream batch verification should
    * run at the session's normal parallelism. */
  def withShufflePartitions[T](spark: org.apache.spark.sql.SparkSession,
      n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Run `stream` to completion into the in-memory table `sink` and
    * return that table — the runner every memory-sink fixture query
    * shares: drop a stale `sink` view, build and start the stream at 8
    * shuffle partitions ([[withShufflePartitions]]) checkpointing to
    * `checkpoint`, replay every staged drop (`Trigger.AvailableNow`),
    * and refuse to hand back a partial sink: a replay not finished
    * within 300 s fails naming `query`. `outputMode` is the sink's
    * (`append`, or `complete` for an aggregation's full state). */
  def runToMemory(spark: SparkSession, query: String, sink: String,
      checkpoint: String, outputMode: String = "append")(
      stream: => Dataset[_]): DataFrame = {
    spark.catalog.dropTempView(sink)
    withShufflePartitions(spark, 8) {
      val q = stream.writeStream.format("memory").queryName(sink)
        .outputMode(outputMode)
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val finished = q.awaitTermination(300000)
      q.stop()
      require(finished,
        s"$query: streaming query timed out — refusing to read a partial sink")
    }
    spark.table(sink)
  }

  /** Stage a static table as an ORDERED DROP FOLDER: `chunks` id-ranged
    * single-file parquet drops with ascending mtimes, so a file stream
    * with `maxFilesPerTrigger=1` replays them as one ordered
    * micro-batch each — the fixture harness for proving streaming
    * operators against batch oracles (id order makes first-sight
    * semantics coincide with min-id semantics). */
  def stageOrderedDrops(docs: DataFrame, idCol: String, chunks: Int,
      prefix: String): java.nio.file.Path = {
    val maxId = docs.agg(max(idCol)).head().getLong(0)
    // repeated Verify/Bench invocations must not leak full corpus
    // copies into /tmp — graft.util.TempDirs reaps it at JVM exit
    val dir = graft.util.TempDirs.scoped(prefix)
    val span = maxId / chunks + 1
    // ONE write job: repartition by the chunk value puts each chunk in
    // a single task, so partitionBy emits exactly one file per chunk
    // dir (vs one filter+write job per chunk: 4x the scheduling and
    // source scans)
    val tmp = dir.resolve("staging.tmpdir").toString
    docs.withColumn("__chunk", expr(s"$idCol div $span").cast("int"))
      .repartition(chunks, col("__chunk"))
      .write.mode("overwrite").partitionBy("__chunk").parquet(tmp)
    (0 until chunks).foreach { c =>
      // an id-range with no rows yields no partition dir — no drop file
      Option(new java.io.File(s"$tmp/__chunk=$c").listFiles())
        .flatMap(_.find(_.getName.endsWith(".parquet")))
        .foreach { part =>
          val dest = dir.resolve(f"c$c%02d.parquet")
          java.nio.file.Files.move(part.toPath, dest)
          // the whole ordered-replay contract rides on ascending
          // mtimes — fail at staging time, not as a flaky hash later
          require(dest.toFile.setLastModified(1000000000000L + c * 60000L),
            s"could not set mtime on $dest")
        }
    }
    dir
  }

  /** [[stageOrderedDrops]] for a STRING drop key (e.g. `monthyr`): one
    * single-file parquet drop per distinct key value, ascending mtimes
    * in sorted-key order, in ONE Spark write job (repartition-by-key +
    * `partitionBy` — not one filter+write job per key). The key column
    * is duplicated into the partition path so the drop files retain
    * it. Key values must be path-safe (no URI-escaped characters) —
    * fixture keys are year/month strings. */
  def stageKeyedDrops(df: DataFrame, keyCol: String,
      prefix: String): java.nio.file.Path = {
    val dir = graft.util.TempDirs.scoped(prefix)
    val tmp = dir.resolve("staging.tmpdir").toString
    df.withColumn("__drop", col(keyCol))
      .repartition(col("__drop"))
      .write.mode("overwrite").partitionBy("__drop").parquet(tmp)
    val parts = Option(new java.io.File(tmp).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("__drop="))
      .sortBy(_.getName)
    parts.zipWithIndex.foreach { case (pdir, i) =>
      val key = pdir.getName.stripPrefix("__drop=")
      val part = pdir.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for drop key $key"))
      val dest = dir.resolve(s"$key.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      // the ordered-replay contract rides on ascending mtimes — fail
      // at staging time, not as a flaky hash later
      require(dest.toFile.setLastModified(1000000000000L + i * 60000L),
        s"could not set mtime on $dest")
    }
    dir
  }

  final case class FpDoc(fingerprint: String, doc_id: Long)
  /** First-seen emission: the doc that claimed the fingerprint. */
  final case class Keeper(fingerprint: String, keeper: Long)

  /** The STATELESS ingest-hygiene chain — PII redaction, language ID,
    * token stats, dataset-mixture resampling — as one DataFrame
    * transform that runs IDENTICALLY in batch and in a stream (pure
    * per-row expressions plus one stream-static broadcast join against
    * the dimension-sized `weights` table; no aggregation, no state).
    * This is the Structured Streaming contract working as designed:
    * the hygiene logic is written once and applied to a drop-folder
    * stream at O(drop) incremental cost, and the streamed output is
    * row-identical to the batch run — which is exactly how the
    * `q_stream_ingest` oracle checks it.
    *
    * Emits kept rows only: (doc_id, source, lang_pred, n_toks,
    * keep_bp, redacted_md5). */
  def hygieneTransform(docs: DataFrame, weights: DataFrame): DataFrame = {
    val red = TextFunctions.redactPii(col("text"))
    docs
      .join(broadcast(weights), Seq("source"))
      .filter(graft.functions.Sampling.hashBucket(col("doc_id")) < col("keep_bp"))
      .select(col("doc_id"), col("source"),
        TextFunctions.languageId(docs.sparkSession, col("text")).as("lang_pred"),
        TextFunctions.tokenCount(col("text")).as("n_toks"),
        col("keep_bp"),
        md5(red).as("redacted_md5"))
  }

  final case class BandDoc(band: Int, bh: Long, doc_id: Long)
  final case class CandPair(id_a: Long, id_b: Long)

  /** STREAMING MinHash-LSH near-dup candidates: as documents arrive,
    * emit every (earlier doc, new doc) pair that collides in at least
    * one LSH band bucket — near-dup detection against the ENTIRE
    * accepted corpus at O(drop) incremental cost, never re-scanning
    * accepted documents.
    *
    * Shape: signatures are computed STATELESSLY per row by the
    * compiled [[graft.plans.MinHashSigExpr]] kernel (the batch
    * explode+agg path would be a stateful aggregation inside the
    * stream), bands explode to `(band, bandHash)` keys, and the only
    * state is the LSH index itself — the doc-id list per occupied
    * bucket, hash-partitioned across executors exactly like the batch
    * bucket join's shuffle. Per micro-batch the work is
    * O(drop x bands) state lookups plus one emitted row per true
    * bucket collision; state grows with DISTINCT OCCUPIED BUCKETS, the
    * same cardinality the batch index materializes.
    *
    * Candidates equal the batch [[graft.dedup.Dedup.minHashLshPairs]]
    * candidate set (identical signatures -> identical buckets; the
    * accumulated state makes every intra-bucket pair appear on the
    * later doc's batch). A pair colliding in several bands is emitted
    * once per band — downstream dedups, exactly as the batch path's
    * verification semi-join does. Verify candidates with
    * [[graft.dedup.Dedup.verifyCandidatePairs]] against the accepted
    * corpus to get true near-dup pairs. */
  def lshCandidates(docs: DataFrame, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16): Dataset[CandPair] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val ss = docs.sparkSession
    import ss.implicits._
    val rows = numHashes / bands
    docs.select(col("doc_id"),
        graft.plans.MinHashSigExpr.minHashSignature(ss, col("text"), n, numHashes)
          .as("sig"))
      .filter(size(col("sig")) > 0) // < n tokens: no shingles, no signature
      .select(col("doc_id"), explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          xxhash64(slice(col("sig"), b * rows + lit(1), lit(rows))).as("bh"))))
        .as("bucket"))
      .select(col("bucket.band").as("band"), col("bucket.bh").as("bh"),
        col("doc_id"))
      .as[BandDoc]
      .groupByKey(bd => (bd.band, bd.bh))
      .flatMapGroupsWithState[List[Long], CandPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), rows: Iterator[BandDoc], state: GroupState[List[Long]]) =>
          val out = List.newBuilder[CandPair]
          var members = state.getOption.getOrElse(Nil)
          // sorted: deterministic in-batch emission order (earlier id
          // pairs with the rest, matching ordered-drop semantics)
          rows.map(_.doc_id).toArray.sorted.foreach { id =>
            members.foreach { m =>
              if (m != id)
                out += (if (m < id) CandPair(m, id) else CandPair(id, m))
            }
            members = id :: members
          }
          state.update(members)
          out.result().iterator
      }
  }

  final case class BandDocTs(band: Int, bh: Long, doc_id: Long,
      event_time: java.sql.Timestamp)

  /** [[lshCandidates]] with a NEAR-DUP HORIZON: a document can only
    * pair with bucket members whose sighting is within `horizonMs` of
    * the current watermark, and bucket state is reclaimed once the
    * watermark passes its last sighting + horizon — bounding the
    * streamed LSH index to one horizon window's documents, the same
    * state-bounding knob as [[firstSeenDedupTtl]] applied to the
    * near-dup index.
    *
    * The horizon is enforced in TWO layers: stale members are filtered
    * on ACCESS against `getCurrentWatermarkMs` (exact semantics — an
    * expired member can't pair even if Spark hasn't reclaimed the
    * bucket yet, since timeouts only fire on batches where the key is
    * silent), and `EventTimeTimeout` drops the whole entry from the
    * state store (space reclamation). The caller must set
    * `withWatermark` on `eventCol`; the column is selected untouched
    * (a wrapped column loses the watermark tag and EventTimeTimeout
    * rejects the plan). */
  def lshCandidatesTtl(docs: DataFrame, eventCol: String, horizonMs: Long,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16): Dataset[CandPair] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val ss = docs.sparkSession
    import ss.implicits._
    val rows = numHashes / bands
    docs.select(col("doc_id"), col(eventCol).as("event_time"),
        graft.plans.MinHashSigExpr.minHashSignature(ss, col("text"), n, numHashes)
          .as("sig"))
      .filter(size(col("sig")) > 0)
      .select(col("doc_id"), col("event_time"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sig"), b * rows + lit(1), lit(rows))).as("bh"))))
          .as("bucket"))
      .select(col("bucket.band").as("band"), col("bucket.bh").as("bh"),
        col("doc_id"), col("event_time"))
      .as[BandDocTs]
      .groupByKey(bd => (bd.band, bd.bh))
      .flatMapGroupsWithState[List[(Long, Long)], CandPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Long), rows: Iterator[BandDocTs],
            state: GroupState[List[(Long, Long)]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            val out = List.newBuilder[CandPair]
            val arrivals = rows.toArray.sortBy(_.doc_id)
            // exact horizon: members expire relative to the watermark
            // even before the state store reclaims the bucket
            var members = state.getOption.getOrElse(Nil)
              .filter(_._2 + horizonMs > wm)
            arrivals.foreach { bd =>
              members.foreach { case (m, _) =>
                if (m != bd.doc_id)
                  out += (if (m < bd.doc_id) CandPair(m, bd.doc_id)
                          else CandPair(bd.doc_id, m))
              }
              members = (bd.doc_id, bd.event_time.getTime) :: members
            }
            val latest = members.map(_._2).max
            state.update(members)
            state.setTimeoutTimestamp(math.max(latest + horizonMs, wm + 1))
            out.result().iterator
          }
      }
  }

  final case class FpDocTs(fingerprint: String, doc_id: Long,
      event_time: java.sql.Timestamp)

  /** [[firstSeenDedup]] with a DEDUP HORIZON: per-fingerprint state is
    * EVICTED once the watermark passes `last sighting + horizon`, so
    * state volume is bounded by the distinct fingerprints of one
    * horizon window — not of the whole corpus history. This is the
    * 100 TB knob the unbounded variant's doc promises: when upstream
    * guarantees duplicates arrive within N days of the original, a
    * fingerprint older than that can never be matched again and is
    * dead weight in the state store.
    *
    * Semantics change accordingly (and deliberately): a duplicate
    * arriving AFTER the horizon re-emits — the stream forgets, exactly
    * as configured. That is why this variant is spec-verified
    * (PipelineStreamsSpec: in-horizon filtering, eviction-then-
    * re-emission) rather than oracled against the batch dedup SQL,
    * whose semantics are horizon-free.
    *
    * Mechanics: EventTimeTimeout keyed state; each sighting re-arms
    * the timeout at `event_time + horizon`; when the watermark (set by
    * the caller via `withWatermark` on `eventCol`) passes it, Spark
    * calls the function once more with `state.hasTimedOut` and the
    * state is dropped. */
  def firstSeenDedupTtl(docs: DataFrame, eventCol: String,
      horizonMs: Long): Dataset[Keeper] = {
    val ss = docs.sparkSession
    import ss.implicits._
    // eventCol is selected UNTOUCHED: wrapping it (even a no-op cast)
    // would mint a fresh attribute without the watermark tag, and
    // EventTimeTimeout rejects plans whose event column lost it
    docs.select(TextFunctions.fingerprint(col("text")).as("fingerprint"),
        col("doc_id"), col(eventCol).as("event_time"))
      .as[FpDocTs]
      .groupByKey(_.fingerprint)
      .flatMapGroupsWithState[Long, Keeper](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (fp: String, rows: Iterator[FpDocTs], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            // watermark passed last sighting + horizon: forget the key
            state.remove()
            Iterator.empty
          } else {
            val arrivals = rows.toSeq
            val latest = arrivals.map(_.event_time.getTime).max
            val known = state.exists
            state.update(latest)
            // clamp above the current watermark: with a zero/tiny
            // horizon, latest + horizonMs can equal the watermark and
            // setTimeoutTimestamp throws, killing the query
            state.setTimeoutTimestamp(
              math.max(latest + horizonMs, state.getCurrentWatermarkMs() + 1))
            if (known) Iterator.empty
            else Iterator.single(Keeper(fp, arrivals.map(_.doc_id).min))
          }
      }
  }

  /** Emit exactly one [[Keeper]] per distinct fingerprint, on the
    * micro-batch where it first appears; later sightings are filtered
    * by state. Within one batch the minimum doc id wins, so drops that
    * arrive in id order keep the globally-minimal doc — the batch
    * [[graft.dedup.Dedup.exactGroups]] keeper contract. */
  def firstSeenDedup(docs: DataFrame): Dataset[Keeper] = {
    val ss = docs.sparkSession
    import ss.implicits._
    docs.select(TextFunctions.fingerprint(col("text")).as("fingerprint"),
        col("doc_id"))
      .as[FpDoc]
      .groupByKey(_.fingerprint)
      .flatMapGroupsWithState[Boolean, Keeper](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (fp: String, rows: Iterator[FpDoc], state: GroupState[Boolean]) =>
          if (state.exists) {
            rows.foreach(_ => ()) // drain: sightings after the first emit nothing
            Iterator.empty
          } else {
            state.update(true)
            Iterator.single(Keeper(fp, rows.map(_.doc_id).min))
          }
      }
  }

  final case class PackDoc(grp: String, shard: Long, doc_id: Long, toks: Long)
  final case class PackAssign(grp: String, shard: Long, doc_id: Long,
      toks: Long, bin: Long)

  /** Streaming greedy sequence packing — the training-feed shape of
    * [[graft.ops.Packing.packGreedy]]: documents arrive in drops and
    * are appended to open context-window bins incrementally, instead
    * of re-packing the whole corpus per drop. State per (grp, shard)
    * key is just the open bin's `(fill, bin)` — TWO longs, bounded by
    * shard count, not corpus size. When drops arrive in ascending id
    * order (the [[stageOrderedDrops]] replay, or any id-monotone
    * ingest), the streamed assignment equals the batch fold exactly,
    * so the batch recursive-CTE oracle carries over. Rows within one
    * micro-batch are sorted per key in memory (bounded by per-shard
    * drop size) because the group iterator's order is undefined. */
  def packStream(docs: DataFrame, budget: Long,
      shardSpan: Long): Dataset[PackAssign] = {
    require(budget > 0 && shardSpan > 0, "budget and shardSpan must be positive")
    val ss = docs.sparkSession
    import ss.implicits._
    docs.select(col("source").cast("string").as("grp"),
        floor(col("doc_id").cast("long") / shardSpan).cast("long").as("shard"),
        col("doc_id").cast("long").as("doc_id"),
        least(TextFunctions.tokenCount(col("text")), lit(budget)).as("toks"))
      .as[PackDoc]
      .groupByKey(p => (p.grp, p.shard))
      .flatMapGroupsWithState[(Long, Long), PackAssign](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (String, Long), rows: Iterator[PackDoc],
            state: GroupState[(Long, Long)]) =>
          var (fill, bin) = state.getOption.getOrElse((0L, -1L))
          val out = rows.toSeq.sortBy(_.doc_id).map { p =>
            if (bin < 0 || fill + p.toks > budget) { bin += 1; fill = p.toks }
            else fill += p.toks
            PackAssign(p.grp, p.shard, p.doc_id, p.toks, bin)
          }
          state.update((fill, bin))
          out.iterator
      }
  }

  final case class BudgetDoc(source: String, doc_id: Long, toks: Long)
  final case class BudgetAdmit(source: String, doc_id: Long, toks: Long,
      cum_tokens: Long)

  /** STREAMING token-budget admission — the ingest-time twin of
    * [[graft.functions.Sampling.tokenBudgetSample]]: docs arrive in
    * drops and each source admits docs in ARRIVAL order (doc_id
    * within a micro-batch — iterators carry no order guarantee —
    * batch order across drops) while the source's running token
    * total stays within `budget`. "Keep ingesting source X until its
    * budget is spent" is how mixes are actually capped at ingest
    * time; the batch sampler is the from-scratch twin with hash
    * order standing in for arrival order.
    *
    * PREFIX rule, exactly the batch filter's semantics: the running
    * total accumulates EVERY arrived doc (admitted or not), and a
    * doc admits iff the total after it is still <= budget — so once
    * a source overflows, everything after drops (no greedy
    * backfill), and zero-token docs at an exactly-spent budget still
    * admit. State per source = ONE long (the arrived-token total):
    * bounded by source cardinality, not corpus size. Emissions are
    * batch-boundary-invariant — N drops or 1 produce the identical
    * admission set with identical `cum_tokens` — PROVIDED doc_ids are
    * non-decreasing across drops per source (the [[stageOrderedDrops]]
    * replay guarantees it; any id-monotone ingest does). Within one
    * batch rows are re-sorted by doc_id, but a SMALLER doc_id arriving
    * in a LATER drop is genuinely a different arrival order than the
    * single-batch replay and admits a different prefix. */
  def budgetAdmitStream(docs: DataFrame, budget: Long): Dataset[BudgetAdmit] = {
    require(budget >= 0, "budget must be non-negative")
    val ss = docs.sparkSession
    import ss.implicits._
    docs.select(col("source").cast("string").as("source"),
        col("doc_id").cast("long").as("doc_id"),
        TextFunctions.tokenCount(col("text")).as("toks"))
      .as[BudgetDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[Long, BudgetAdmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[BudgetDoc], state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_.doc_id).flatMap { d =>
            cum += d.toks
            if (cum <= budget) Some(BudgetAdmit(src, d.doc_id, d.toks, cum))
            else None
          }
          state.update(cum)
          out.iterator
      }
  }

  final case class ReservoirDoc(stratum: String, doc_id: Long, bucket: Long)
  final case class ReservoirAdmit(stratum: String, doc_id: Long, bucket: Long)

  /** Streaming DETERMINISTIC reservoir — an exact-size per-stratum
    * sample maintained incrementally, the streaming twin of
    * [[graft.functions.Sampling.stratifiedQuota]]: the reservoir
    * holds the k smallest `(hashBucket(key), key)` pairs seen so far,
    * so at every point it EQUALS the batch quota over the prefix (a
    * classic random reservoir is run-dependent; this one is a pure
    * function of the keys seen — engines, reruns, and checkpoint
    * recoveries all agree).
    *
    * Emission protocol (append mode cannot retract): a doc emits iff
    * it is still in the reservoir when its arrival batch commits —
    * the admission log. Later evictions are not retracted; the FINAL
    * sample is the batch quota over everything ingested, derivable
    * as the k smallest admissions per stratum. State per stratum =
    * the reservoir itself (<= k (bucket, key) pairs), priority-
    * bounded — not corpus-bounded.
    *
    * Expects input rows (stratum, doc_id, bucket) with `bucket`
    * precomputed via [[graft.functions.Sampling.hashBucket]] (column
    * side, so the hash stays single-sourced). */
  def reservoirSample(docs: DataFrame, k: Int): Dataset[ReservoirAdmit] = {
    require(k >= 1, "k must be positive")
    val ss = docs.sparkSession
    import ss.implicits._
    docs.select(col("stratum"), col("doc_id"), col("bucket"))
      .as[ReservoirDoc]
      .groupByKey(_.stratum)
      .flatMapGroupsWithState[Array[(Long, Long)], ReservoirAdmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (st: String, rows: Iterator[ReservoirDoc],
            state: GroupState[Array[(Long, Long)]]) =>
          val prev = state.getOption.getOrElse(Array.empty[(Long, Long)])
          // distinct: a doc delivered twice (within a batch or across
          // re-deliveries) must not occupy two slots OR emit twice —
          // duplicate admission rows would corrupt the documented
          // final-sample derivation (k smallest admissions)
          val arrivals = rows.map(r => (r.bucket, r.doc_id)).toArray.distinct
          val merged = (prev ++ arrivals).distinct.sorted.take(k)
          state.update(merged)
          val kept = merged.toSet
          val prevSet = prev.toSet
          arrivals.filter(a => kept.contains(a) && !prevSet.contains(a))
            .sorted
            .iterator.map { case (b, id) => ReservoirAdmit(st, id, b) }
      }
  }

  final case class ChangeRow(key: Long, ver: Long, value_c: Long,
      arrival: Long)
  final case class UpsertEmit(key: Long, ver: Long, value_c: Long,
      prev_ver: Option[Long])

  /** Streaming CDC APPLY — the incremental twin of
    * [[graft.ops.MergeUpsert]]: a change feed (key, version, value)
    * folds into per-key LAST-WRITER-WINS state, emitting one row per
    * ACCEPTED change (arriving version strictly above the stored one);
    * stale/duplicate versions are dropped — replaying a feed, or
    * re-delivering a drop after a checkpoint recovery, cannot regress
    * the table (the idempotence CDC consumers need). `prev_ver` on
    * each emit is the version it superseded (None for the key's first
    * sighting) — the audit edge a downstream can chain.
    *
    * State per key = ONE long (the current version): bounded by key
    * cardinality, the same state story as a keyed table itself. The
    * emitted sequence is batch-boundary-invariant: rows are folded in
    * `arrival` order inside each group (micro-batch iterators carry
    * no order guarantee), so N drops or 1 produce the same accepted
    * prefix-maxima sequence per key. */
  def upsertStream(changes: DataFrame): Dataset[UpsertEmit] = {
    val ss = changes.sparkSession
    import ss.implicits._
    changes.select(col("key"), col("ver"), col("value_c"), col("arrival"))
      .as[ChangeRow]
      .groupByKey(_.key)
      .flatMapGroupsWithState[Long, UpsertEmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: Long, rows: Iterator[ChangeRow], state: GroupState[Long]) =>
          var cur = state.getOption.getOrElse(Long.MinValue)
          val out = scala.collection.mutable.ArrayBuffer.empty[UpsertEmit]
          rows.toSeq.sortBy(_.arrival).foreach { r =>
            if (r.ver > cur) {
              out += UpsertEmit(k, r.ver, r.value_c,
                if (cur == Long.MinValue) None else Some(cur))
              cur = r.ver
            }
          }
          if (out.nonEmpty) state.update(cur)
          out.iterator
      }
  }

  /** STREAMING near-dup clustering — micro-batches ingest into the
    * PERSISTED cluster table via foreachBatch: the durable-parquet-
    * state variant of the in-memory LSH index streams. The state IS
    * the store ([[graft.dedup.Dedup.clusterTableIngest]]'s labels +
    * band buckets), so recovery rebuilds nothing, any engine can audit
    * the clustering mid-stream, and at-least-once re-delivery of a
    * micro-batch is idempotent (the ingest's contract). Micro-batches
    * are sequential per query, which satisfies the stores'
    * single-writer requirement. `texts` must be the static
    * full-corpus view (band-store probes need every indexed id's
    * text). Blocks until the AvailableNow replay terminates. */
  def clusterIngestStream(spark: SparkSession, dropsDir: String,
      texts: DataFrame, idCol: String, textCol: String,
      storePath: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 1, timeoutMs: Long = 300000L,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5): Unit = {
    val q = readDocs(spark, dropsDir, Some(maxFilesPerTrigger))
      .select(col(idCol), col(textCol))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // an empty trigger must not touch the stores (ingest would
        // still pay a probe and an append of zero rows). LSH params
        // forward to the ingest (which validates them against the
        // store pins); the labels layout and NFC fold come from the
        // pins themselves.
        if (!batch.isEmpty) {
          graft.dedup.Dedup.clusterTableIngest(batch, texts, idCol,
            textCol, storePath, n, numHashes, bands, threshold)
          ()
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val finished = q.awaitTermination(timeoutMs)
    q.stop()
    require(finished,
      "clusterIngestStream: replay timed out — the store may hold a " +
        "prefix of the drops (safe to re-run: ingests are idempotent)")
  }

  /** STREAMING ANN index maintenance — embedding micro-batches append
    * into a PERSISTED IVFADC index
    * ([[graft.similarity.Similarity.ivfPqIndexAppend]]) via
    * foreachBatch: each drop is assigned + PQ-encoded under the
    * persisted coarse centroids and residual codebook (one map-side
    * pass over the drop, appends into the touched cells' posting
    * directories — never a retrain, never a corpus re-scan), so index
    * freshness tracks the ingest stream at O(drop) cost per trigger.
    * The state IS the index (plain parquet): recovery rebuilds
    * nothing and any engine can serve it mid-stream.
    *
    * Delivery contract: a per-batch marker
    * (`.batches/<checkpoint-scope>-b<batchId>`, scoped to the
    * stream's checkpoint since batchIds restart under a fresh one)
    * written after each append makes checkpoint re-delivery of an
    * already-appended batch a no-op. The marker is written AFTER the
    * postings land (a marker-first order could record a batch that
    * never arrived), so a crash INSIDE the append-then-mark window
    * re-appends that one batch on recovery — duplicate postings for
    * its ids, which inflate their presence in top-k results until a
    * rebuild. Micro-batches are sequential per query, satisfying the
    * single-writer shape; concurrent external writers are out of
    * contract here as for every store in this engine. Blocks until
    * the AvailableNow replay terminates.
    *
    * `compactMaxFilesPerCell > 0` runs
    * [[graft.similarity.Similarity.ivfIndexCompact]] after each
    * appended batch (the dedup stores' `compactAfterFiles` idiom):
    * always-on ingest otherwise accretes one file per touched cell
    * per drop without bound. Compaction is value-invisible and
    * leased, and it runs AFTER the batch marker lands — a crash
    * between marker and compact costs only layout, never rows.
    *
    * Marker growth is BOUNDED by horizon folding: at each stream
    * start, [[annIndexMarkersCompact]] folds every marker at or below
    * the checkpoint's committed-batch horizon into ONE empty horizon
    * file (`<scope>-h<H>` — the batch id rides the NAME, so the fold
    * commit is the same atomic create-new as the markers themselves),
    * and the skip check becomes `batchId <= H || marker exists`. The
    * fold is exactly information-preserving: a batch at or below the
    * horizon is committed in the checkpoint (never redelivered by
    * it), and on a WIPED checkpoint the horizon file skips the
    * restarted batch ids 0..H just as the individual markers did — so
    * replay-after-fold cannot double-append (spec-pinned). Live
    * marker count is therefore bounded by the batches of the CURRENT
    * run, not the stream's lifetime. */
  def annIndexAppendStream(spark: SparkSession, dropsDir: String,
      idCol: String, vecCol: String, indexPath: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 1,
      timeoutMs: Long = 300000L, compactMaxFilesPerCell: Int = 0): Unit =
    markedAppendStream(spark,
      readDocs(spark, dropsDir, Some(maxFilesPerTrigger))
        .select(col(idCol), col(vecCol)),
      indexPath, checkpointDir, timeoutMs, "annIndexAppendStream")(
      append = (batch, _) => graft.similarity.Similarity.ivfPqIndexAppend(
        batch, idCol, vecCol, indexPath),
      postMark = (batch, _) =>
        if (compactMaxFilesPerCell > 0) {
          graft.similarity.Similarity.ivfIndexCompact(
            batch.sparkSession, indexPath, compactMaxFilesPerCell)
          ()
        })

  /** STREAMING TEXT-INDEX maintenance — the [[annIndexAppendStream]]
    * twin for the BM25 inverted index
    * ([[graft.text.TextIndex.append]]): each document micro-batch is
    * tokenized + bucket-encoded under the index's persisted bucket
    * hash and appended into the touched buckets' directories, with
    * the corpus stats (the BM25 `N`/`avgdl` inputs) committed after
    * each drop — O(drop) per trigger, never a rebuild. The state IS
    * the index; the delivery/marker/horizon contract is the shared
    * choreography verbatim. `compactMaxFilesPerBucket > 0` runs
    * [[graft.text.TextIndex.compact]] after each appended batch's
    * marker lands (a crash between marker and compact costs only
    * layout, never rows). */
  def textIndexAppendStream(spark: SparkSession, dropsDir: String,
      idCol: String, textCol: String, indexPath: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 1,
      timeoutMs: Long = 300000L, compactMaxFilesPerBucket: Int = 0): Unit =
    markedAppendStream(spark,
      readDocs(spark, dropsDir, Some(maxFilesPerTrigger))
        .select(col(idCol), col(textCol)),
      indexPath, checkpointDir, timeoutMs, "textIndexAppendStream")(
      append = (batch, _) => graft.text.TextIndex.append(
        batch, idCol, textCol, indexPath),
      postMark = (batch, _) =>
        if (compactMaxFilesPerBucket > 0) {
          graft.text.TextIndex.compact(
            batch.sparkSession, indexPath, compactMaxFilesPerBucket)
          ()
        })

  /** STREAMED DOCUMENT RETRACTION — a takedown/opt-out feed against a
    * retrieval index: each micro-batch's ids tombstone via the store's
    * retract (the text index pairs the list with its decremented BM25
    * stats atomically; the ANN index commits a metadata-only
    * manifest).
    *
    * Delivery is DOUBLY protected. Retraction is idempotent per id
    * (already-tombstoned ids skip without burning a version), so
    * re-delivery converges by algebra — but ONLY while the tombstone
    * list persists: a vacuum / maintain rebuild between a crash and
    * the re-delivery RESETS the list, and a re-delivered takedown
    * then counts as fresh. The text index's STATS survive even that
    * (its decrements are presence-based — a re-delivered id whose
    * postings a vacuum already folded out decrements nothing, and a
    * duplicate id arriving in a LATER batch converges the same way),
    * but the duplicate still re-eats a tombstone-cap slot on either
    * family until the next fold. So the stream ALSO
    * runs the append streams' marker choreography: a batch that
    * committed its marker is never re-run under the same checkpoint,
    * closing the vacuum window for the crash-replay path. The marker
    * residual (crash between the retract and its marker) is fenced
    * STRUCTURALLY by the retraction epoch: before its first retract,
    * a batch records the store's live epoch in an INTENT marker
    * (`<scope>-i<batch>-e<epoch>`, atomic create-new, removed once
    * the done marker lands), every tombstone-list reset (vacuum,
    * maintain/full rebuild) bumps the epoch, and a re-delivered
    * batch whose recorded epoch no longer matches FAILS LOUDLY with
    * the stats intact instead of silently re-eating tombstone-cap
    * slots (the text stats would survive by the presence-based
    * algebra; the fence keeps the anomaly LOUD and uniform across
    * both families). Same-epoch re-delivery
    * re-runs the retract and converges by per-id idempotence. On the
    * loud refusal: verify whether the batch's ids are already absent
    * from the store — if yes, create the batch's done marker by hand
    * and delete the intent; if no, delete the intent alone and the
    * replay applies the batch as a fresh retract. A FRESH-checkpoint
    * re-feed of old takedowns is NOT protected (batch ids restart, so
    * prior intents don't match): do not re-feed historical takedowns
    * after a vacuum.
    *
    * `vacuumAfterTombstones > 0` makes tombstone pressure
    * self-relieving: after a batch's marker lands, if the live
    * backlog has reached the threshold, the store's physical fold-out
    * runs in-stream ([[graft.text.TextIndex.vacuum]] /
    * [[graft.similarity.Similarity.annIndexVacuum]]) under the
    * ordinary lease — without it a steady takedown feed eventually
    * hits the hard cap ([[graft.ops.Tombstones.MaxTombstones]]) and
    * the stream fails until an operator intervenes (the
    * `maybeCompactStore` idiom applied to retraction). Runs AFTER the
    * marker, so a crash mid-vacuum costs nothing: the batch is
    * recorded done, and the next batch (or run) re-trips the
    * threshold.
    *
    * Input hygiene: a null id (or one that fails the long cast) in a
    * compliance feed FAILS the batch loudly — silently dropping a
    * takedown would leave the document retrievable while the stream
    * reported success. Takedown batches must be driver-sized
    * ([[graft.ops.Tombstones.MaxTombstones]]) — enforced BEFORE the
    * collect, not after. Blocks until the AvailableNow replay
    * terminates. */
  def textIndexRetractStream(spark: SparkSession, dropsDir: String,
      idCol: String, indexPath: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 1, timeoutMs: Long = 300000L,
      vacuumAfterTombstones: Int = 0, verifyExists: Boolean = false): Unit =
    retractStream(spark, dropsDir, idCol, indexPath, checkpointDir,
      maxFilesPerTrigger, timeoutMs, "textIndexRetractStream",
      vacuumAfterTombstones)(
      retract = (ss, ids) => graft.text.TextIndex.retract(ss, indexPath,
        ids, verifyExists),
      readEpoch = ss => graft.text.TextIndex.retractEpoch(ss, indexPath),
      backlog = ss =>
        graft.text.TextIndex.readMeta(ss, indexPath).tombstones.length,
      vacuum = ss => graft.text.TextIndex.vacuum(ss, indexPath))

  /** [[textIndexRetractStream]] for the persistent ANN indexes (IVF
    * and IVFADC) — same fenced delivery over
    * [[graft.similarity.Similarity.annIndexRetract]], with the
    * threshold automation calling the retrain-free
    * [[graft.similarity.Similarity.annIndexVacuum]]. */
  def annIndexRetractStream(spark: SparkSession, dropsDir: String,
      idCol: String, indexPath: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 1, timeoutMs: Long = 300000L,
      vacuumAfterTombstones: Int = 0, verifyExists: Boolean = false): Unit =
    retractStream(spark, dropsDir, idCol, indexPath, checkpointDir,
      maxFilesPerTrigger, timeoutMs, "annIndexRetractStream",
      vacuumAfterTombstones)(
      retract = (ss, ids) => graft.similarity.Similarity.annIndexRetract(
        ss, indexPath, ids, verifyExists),
      readEpoch = ss => graft.similarity.Similarity.annRetractEpoch(
        ss, indexPath),
      backlog = ss => graft.similarity.IndexLayout.resolve(ss, indexPath)
        .tombstones.length,
      vacuum = ss => graft.similarity.Similarity.annIndexVacuum(
        ss, indexPath))

  private def retractStream(spark: SparkSession, dropsDir: String,
      idCol: String, storePath: String, checkpointDir: String,
      maxFilesPerTrigger: Int, timeoutMs: Long, what: String,
      vacuumAfterTombstones: Int)(
      retract: (SparkSession, Seq[Long]) => Unit,
      readEpoch: SparkSession => Long,
      backlog: SparkSession => Int,
      vacuum: SparkSession => Unit): Unit =
    markedAppendStream(spark,
      readDocs(spark, dropsDir, Some(maxFilesPerTrigger))
        .select(col(idCol)),
      storePath, checkpointDir, timeoutMs, what)(
      append = (batch, ctx) => {
        val max = graft.ops.Tombstones.MaxTombstones
        // distinct + limit BEFORE the collect bounds driver memory;
        // the cast rides along so a malformed id surfaces as a null
        // we can count rather than an executor-side cast error
        val rows = batch
          .select(col(idCol).cast("long").as("__id64"))
          .distinct().limit(max + 1).collect()
        val nulls = rows.count(_.isNullAt(0))
        require(nulls == 0,
          s"$what: $nulls takedown id(s) in this batch are null or " +
            "not castable to long — refusing to silently drop a " +
            "takedown (the document would stay retrievable while the " +
            "stream reported success); clean the feed and re-run")
        require(rows.length <= max,
          s"$what: a single takedown batch carries > $max distinct " +
            "ids — that is a rebuild-sized purge, not a tombstone " +
            "batch; split the feed or rebuild the index without the " +
            "documents")
        val ids = rows.map(_.getLong(0)).toSeq
        if (ids.nonEmpty) {
          val ss = batch.sparkSession
          // THE EPOCH FENCE: record the store's retraction epoch in
          // an intent marker BEFORE the first retract attempt. A
          // re-delivered batch (crash between retract and done
          // marker) under the SAME epoch re-runs safely — the
          // tombstone list it first wrote against still exists, so
          // per-id idempotence converges. Under a CHANGED epoch a
          // vacuum/rebuild reset that list in between, re-applying
          // could double-decrement stats or re-eat cap slots, and
          // whether the first attempt landed is no longer decidable
          // from the store — refuse loudly with the stats intact.
          val intentPrefix = s"${ctx.scope}-i${ctx.batchId}-e"
          val prior = ctx.fs.listStatus(ctx.markersDir).toSeq
            .map(_.getPath.getName).filter(_.startsWith(intentPrefix))
            .flatMap(_.stripPrefix(intentPrefix).toLongOption)
          val now = readEpoch(ss)
          prior.headOption match {
            case None =>
              ctx.fs.create(new org.apache.hadoop.fs.Path(ctx.markersDir,
                s"$intentPrefix$now"), false).close()
            case Some(e) if e == now => () // list intact: idempotent re-run
            case Some(e) => throw new IllegalStateException(
              s"$what: batch ${ctx.batchId} first attempted its " +
                s"retract under retraction epoch $e, but the store at " +
                s"$storePath is now at epoch $now — a vacuum or " +
                "rebuild reset the tombstone list in between, so " +
                "whether the first attempt landed is not decidable " +
                "from the store, and re-applying would silently " +
                "re-consume tombstone-cap slots. Nothing was " +
                "changed. Reconcile by hand: if the " +
                "batch's ids are already absent from the store, create " +
                s"the done marker ${ctx.scope}-b${ctx.batchId} and " +
                "delete the intent marker; if they are still live, " +
                "delete the intent marker alone and the replay will " +
                "apply the batch as a fresh retract.")
          }
          retract(ss, ids)
        }
      },
      postMark = (batch, ctx) => {
        // the done marker is committed: the batch's intent is obsolete
        val intentPrefix = s"${ctx.scope}-i${ctx.batchId}-e"
        ctx.fs.listStatus(ctx.markersDir).toSeq
          .filter(_.getPath.getName.startsWith(intentPrefix))
          .foreach(s => ctx.fs.delete(s.getPath, false))
        // tombstone-pressure automation: fold the backlog out once it
        // reaches the threshold — after the marker, so a crash inside
        // the vacuum never loses or repeats the batch
        if (vacuumAfterTombstones > 0 &&
            backlog(batch.sparkSession) >= vacuumAfterTombstones)
          vacuum(batch.sparkSession)
      })

  /** Per-batch marker context handed to the choreography's hooks —
    * the retract streams derive their epoch-intent marker names from
    * it; append streams ignore it. */
  private final case class MarkerCtx(
      fs: org.apache.hadoop.fs.FileSystem,
      markersDir: org.apache.hadoop.fs.Path,
      scope: String, batchId: Long)

  /** The marker choreography every marked append stream shares
    * ([[annIndexAppendStream]], [[textIndexAppendStream]]): fold the
    * committed-horizon markers, then foreachBatch-run `append` for
    * each genuinely new non-empty batch, commit its marker, and run
    * `postMark` (the optional in-stream compaction). Blocks until the
    * AvailableNow replay terminates. */
  private def markedAppendStream(spark: SparkSession, source: DataFrame,
      storePath: String, checkpointDir: String, timeoutMs: Long,
      what: String)(append: (DataFrame, MarkerCtx) => Unit,
      postMark: (DataFrame, MarkerCtx) => Unit): Unit = {
    // markers live BESIDE the store data, resolved through the store
    // path's own Hadoop FileSystem (the StoreLock/maintain-swap
    // discipline) — a java.io.File here would pin them to the
    // driver's LOCAL disk, so on an hdfs://-or-object-store index a
    // driver replacement would lose the dedupe record and checkpoint
    // re-delivery would silently double-append
    val markersDir = new org.apache.hadoop.fs.Path(storePath, ".batches")
    val fs = markersDir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(markersDir)
    // markers are scoped to THIS stream's checkpoint: batchIds restart
    // at 0 under a fresh checkpoint, so an unscoped marker from an
    // earlier stream would silently swallow a new stream's first drops
    val scope = markerScope(checkpointDir)
    // fold committed-horizon markers BEFORE the run: bounds the live
    // marker count to this run's batches (see annIndexMarkersCompact)
    annIndexMarkersCompact(spark, storePath, checkpointDir)
    // the horizon is static during the run: folds only happen above,
    // and batches this run appends are guarded by their own markers
    val horizon = markerHorizon(fs, markersDir, scope)
    val q = source
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val marker = new org.apache.hadoop.fs.Path(markersDir,
          s"$scope-b$batchId")
        if (batchId > horizon && !fs.exists(marker) && !batch.isEmpty) {
          val ctx = MarkerCtx(fs, markersDir, scope, batchId)
          append(batch, ctx)
          // overwrite=false: create-or-throw, the atomic twin of
          // File.createNewFile on filesystems that support it
          fs.create(marker, false).close()
          postMark(batch, ctx)
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val finished = q.awaitTermination(timeoutMs)
    q.stop()
    require(finished,
      s"$what: replay timed out — the store may hold a prefix of the " +
        "drops (re-run resumes: marked batches are skipped)")
  }

  /** Markers scoped to one stream's checkpoint path (batchIds restart
    * under a fresh checkpoint, so scopes must not collide). */
  private def markerScope(checkpointDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointDir.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString

  /** The scope's folded horizon: max H over `<scope>-h<H>` files
    * (-1 when none) — batches at or below it are recorded appended. */
  private def markerHorizon(fs: org.apache.hadoop.fs.FileSystem,
      markersDir: org.apache.hadoop.fs.Path, scope: String): Long =
    if (!fs.exists(markersDir)) -1L
    else fs.listStatus(markersDir).toSeq
      .flatMap(s => s.getPath.getName.stripPrefix(s"$scope-h") match {
        case n if n != s.getPath.getName => n.toLongOption
        case _ => None
      }).maxOption.getOrElse(-1L)

  /** FOLD append markers at or below the checkpoint's committed-batch
    * horizon into one empty `<scope>-h<H>` file — the bound on
    * `.batches` growth (one marker per micro-batch, forever, was the
    * small-files pathology re-created one level up from the postings
    * [[graft.similarity.Similarity.ivfIndexCompact]] flattens).
    *
    * Soundness — the fold only ever ABSORBS EXISTING MARKERS: the new
    * horizon is the largest committed id reachable from the prior
    * horizon through a CONTIGUOUS run of marker files, so
    * `marker(b) <=> b <= H or file exists` is preserved verbatim. A
    * committed batch that never wrote a marker (an empty drop file —
    * the `!batch.isEmpty` guard skips both append and marker) is NOT
    * absorbed: under a wiped checkpoint its batch id belongs to
    * whatever file occupies that slot on replay, and a horizon that
    * had swallowed the id could silently skip a genuinely new drop if
    * the folder's file prefix ever changed. Such a gap stops the fold
    * at the last marker below it (markers above stay individual
    * files — bounded by batches since the empty drop, and empty drop
    * files are an anomaly worth surfacing anyway). Also a batch with
    * a commit-log entry is never redelivered by ITS checkpoint, and
    * under a WIPED checkpoint (batch ids restart at 0) the horizon
    * skips ids 0..H exactly as the folded per-batch markers would
    * have. Crash-safe by construction: the horizon file is created
    * (atomic create-new, id in the NAME) BEFORE any marker is
    * deleted, so a crash mid-fold only leaves redundant files. Runs
    * under the store lease like every index mutation; returns the
    * settled horizon (-1 if nothing is foldable). */
  def annIndexMarkersCompact(spark: SparkSession, indexPath: String,
      checkpointDir: String): Long = {
    val markersDir = new org.apache.hadoop.fs.Path(indexPath, ".batches")
    val fs = markersDir.getFileSystem(spark.sessionState.newHadoopConf())
    val commits = new org.apache.hadoop.fs.Path(checkpointDir, "commits")
    val cfs = commits.getFileSystem(spark.sessionState.newHadoopConf())
    val committed: Seq[Long] =
      if (!cfs.exists(commits)) Seq.empty
      else cfs.listStatus(commits).toSeq.flatMap(s =>
        s.getPath.getName.stripSuffix(".compact").toLongOption)
    if (committed.isEmpty) -1L
    else graft.ops.StoreLock.withLock(spark, indexPath) {
      val scope = markerScope(checkpointDir)
      val prior = markerHorizon(fs, markersDir, scope)
      val marked: Set[Long] =
        if (!fs.exists(markersDir)) Set.empty
        else fs.listStatus(markersDir).toSeq.flatMap { st =>
          val n = st.getPath.getName
          val b = n.stripPrefix(s"$scope-b")
          if (b != n) b.toLongOption else None
        }.toSet
      // extend the horizon only through contiguously MARKED ids (the
      // fold replaces files that exist, never invents coverage for a
      // committed-but-empty batch that wrote none)
      var h = prior
      while (h < committed.max && marked.contains(h + 1)) h += 1
      if (h > prior) {
        fs.mkdirs(markersDir)
        val out = fs.create(
          new org.apache.hadoop.fs.Path(markersDir, s"$scope-h$h"), false)
        out.close()
      }
      if (h >= 0) fs.listStatus(markersDir).foreach { st =>
        val n = st.getPath.getName
        val b = n.stripPrefix(s"$scope-b")
        val hh = n.stripPrefix(s"$scope-h")
        // stale retract-stream INTENT markers (scope-i<b>-e<E>) for
        // folded batches: the done marker is committed, so the intent
        // is reconciliation debris — sweep it with the fold
        val i = n.stripPrefix(s"$scope-i")
        val iBatch =
          if (i == n) None
          else i.split("-e", 2).headOption.flatMap(_.toLongOption)
        if ((b != n && b.toLongOption.exists(_ <= h)) ||
            (hh != n && hh.toLongOption.exists(_ < h)) ||
            iBatch.exists(_ <= h))
          fs.delete(st.getPath, false)
      }
      h
    }
  }
}
