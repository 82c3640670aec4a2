package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Deduplication operators for training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine. All are
  * DataFrame compositions designed around ONE principle: never compare
  * all pairs at scale — candidate generation must go through a
  * hash/bucket equi-join (shuffle on bucket key), with exact
  * verification only inside buckets.
  *
  * CACHE LIFECYCLE: several operators `.cache()` intermediates
  * (shingle/fingerprint/bucket tables) that the RETURNED lazy plan
  * consumes more than once — without the cache the kernel would replay
  * per consumer. Because the result is lazy, the operator cannot
  * unpersist before the caller materializes it, so those entries
  * outlive the call. Growth is bounded in practice by two mechanisms:
  * Spark's `CacheManager` dedups by canonicalized plan (re-invoking an
  * operator on the same input re-uses the existing entry — the "Asked
  * to cache already cached data" warning — rather than stacking a new
  * one), and entries are MEMORY_AND_DISK with LRU eviction, so cold
  * intermediates age out under memory pressure instead of failing the
  * job. A session running MANY DIFFERENT dedup plans back-to-back
  * (the bench/verify harnesses) should still call
  * `spark.catalog.clearCache()` between operators, as `graft.Bench`
  * and `graft.Verify` do — dead plans' storage is reclaimable but not
  * free, and clearing it keeps later queries' storage memory clean.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Exact dedup via normalized-text fingerprint: one hash-groupBy
    * (single shuffle, partial-agg). Returns one row per distinct
    * fingerprint with the group size and the kept (minimum) id. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextFunctions.fingerprint(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keeper"))

  /** Keep exactly one row per fingerprint (the min-id row): the
    * dedup "apply" step. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fingerprint", TextFunctions.fingerprint(col(textCol)))
      .join(exactGroups(df, idCol, textCol).select(col("fingerprint"),
        col("keeper").as(idCol)), Seq("fingerprint", idCol))
      .drop("fingerprint")

  /** Distinct word-n-gram shingles per document (the comparison units
    * for near-dup detection).
    *
    * One native kernel pass ([[graft.plans.WordShinglesExpr]],
    * distinct = true) + explode — ZERO shuffles. The previous
    * posexplode + lead-window + distinct shape needed an Exchange+Sort
    * over the exploded token stream (one row per corpus token through
    * the shuffle) plus a second exchange for the distinct, before any
    * dedup operator had run; the per-document shingle SET is a pure
    * row-local function, so both exchanges were pure overhead. The
    * (id, shingle) relation produced is identical: per-doc distinct ==
    * global (id, shingle) distinct. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3,
      prefanned: Boolean = false): DataFrame = {
    // single-fixture-split guard UNDER the kernel — a provable no-op
    // at corpus scale (see graft.util.Parallelism). Guarding the
    // OUTPUT (the pre-r6 shape) fixed downstream parallelism but still
    // ran the shingle kernel itself on the one split a single-file
    // fixture scan produces.
    // `prefanned`: the caller guarantees the input's streamed lineage
    // is already fanned out (e.g. a broadcast semi-join over a frame
    // that went through fanOut), so the guard is a provable no-op —
    // and MUST be skipped, because probing a frame with join/exchange
    // subtrees finalizes its adaptive plan: every stage under it runs
    // once for the probe and again for the real consumer (measured:
    // the whole candidate pipeline executed twice per verification).
    val src = if (df.isStreaming || prefanned) df
      else graft.util.Parallelism.fanOut(df)
    src.select(col(idCol),
      explode(graft.plans.WordShinglesExpr.wordShingles(
        df.sparkSession, col(textCol), n, distinct = true)).as("shingle"))
  }

  /** EXACT n-gram Jaccard near-dup pairs >= `threshold`.
    *
    * Candidate generation is a shingle equi-join (pairs must share at
    * least one shingle) — NOT an all-pairs cross join; at 100 TB the
    * join shuffles on the shingle hash, and a shingle shared by k docs
    * contributes k^2/2 join rows — COMMON-SHINGLE SKEW is the known
    * hazard. `maxDocFreq` ships the standard mitigation: shingles
    * appearing in more than that many documents are dropped from
    * CANDIDATE GENERATION only (a shingle in 10k docs is a stopword
    * phrase, not a dedup signal), and surviving candidates are then
    * verified on their FULL shingle sets, so reported jaccard values
    * stay exact. The only approximation is recall: a pair whose shared
    * shingles are ALL hot is never considered — at a 0.5+ threshold
    * such pairs share mostly-common text by construction. Default off
    * (`None`) = fully exact, the oracle-checked configuration.
    *
    * For billion-doc scale prefer [[minHashLshPairs]] (bounded
    * candidate fan-out regardless of shingle frequency).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5,
      maxDocFreq: Option[Int] = None): DataFrame =
    sharedShinglePairs(df, idCol, textCol, n, maxDocFreq,
      jaccardScore(threshold))

  /** Benchmark DECONTAMINATION: flag (train doc, eval doc) pairs
    * sharing at least `minShared` distinct word n-grams — the standard
    * train/test-overlap check run before LLM training (GPT-3 appendix
    * C and The Pile decontaminate on 13-gram collisions; smaller n +
    * a `minShared` floor trades precision for recall).
    *
    * Shape: two shingle scans + ONE equi-join shuffled on the shingle
    * value — never a train × eval cross product, so cost scales with
    * shared-shingle collisions, not corpus size. The eval side is a
    * benchmark suite (thousands of docs) while train is the 100 TB
    * side; the join naturally broadcasts nothing and partial-aggregates
    * pair counts map-side. `maxDocFreq` caps eval-side shingle document
    * frequency (a shingle in half the eval set is boilerplate, not
    * contamination) — the same skew mitigation as [[ngramJaccardPairs]],
    * and at n >= 8 shingles are near-unique so the cap rarely bites. */
  def contaminationPairs(train: DataFrame, eval: DataFrame, idCol: String,
      textCol: String, n: Int = 8, minShared: Int = 1,
      maxDocFreq: Option[Int] = None): DataFrame =
    contamination(train, eval, idCol, textCol, n, minShared, maxDocFreq,
      bloomFpp = None)

  /** [[contaminationPairs]] with a bloom-filter PRE-PRUNE on the train
    * side — the shape that actually survives 100 TB. The plain version
    * shuffles every train shingle to meet the eval side; at a 100 TB
    * train corpus that shuffle IS the job. Here the (benchmark-sized)
    * eval shingle set is folded into a bloom filter
    * ([[graft.plans.BloomFilterOps]], Catalyst's own runtime-filter
    * aggregate), and train shingles are tested BEFORE the join's
    * shuffle: only true matches plus an `fpp` sliver of the rest ever
    * leave their input partition. False positives can't reach the
    * output — the exact equi-join discards them — so the result is
    * row-identical to [[contaminationPairs]] at any fpp.
    *
    * Same decontamination semantics as GPT-3 appendix C / The Pile
    * (13-gram collision checks); the bloom semi-join is the standard
    * distributed pre-filter for small×huge joins. */
  def contaminationPairsBloom(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int = 8, minShared: Int = 1,
      maxDocFreq: Option[Int] = None, fpp: Double = 0.01): DataFrame =
    contamination(train, eval, idCol, textCol, n, minShared, maxDocFreq,
      bloomFpp = Some(fpp))

  /** The one body of [[contaminationPairs]] and
    * [[contaminationPairsBloom]]: `bloomFpp` set = bloom-prune the
    * train shingles before the join, the only difference between them. */
  private def contamination(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int, minShared: Int,
      maxDocFreq: Option[Int], bloomFpp: Option[Double]): DataFrame = {
    val tr = shingles(train, idCol, textCol, n)
      .withColumnRenamed(idCol, "train_id")
    val ev0 = shingles(eval, idCol, textCol, n)
      .withColumnRenamed(idCol, "eval_id")
    val ev = maxDocFreq.fold(ev0)(cap => docFreqWithin(ev0, "shingle", 1, cap))
    val trSide = bloomFpp.fold(tr) { fpp =>
      // two passes over the SMALL side (count to size the filter, then
      // build) — eval is benchmark-suite-sized by contract, the train
      // side is scanned exactly once
      val evKeys = ev.select(col("shingle")).distinct()
      val bloom = graft.plans.BloomFilterOps.buildBloom(
        evKeys, col("shingle"), expectedItems = evKeys.count(), fpp = fpp)
      tr.filter(graft.plans.BloomFilterOps.mightContain(
        train.sparkSession, bloom, col("shingle")))
    }
    trSide.join(ev, "shingle")
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Rows of `t` whose `key` value occurs in `minDf` to `cap` rows —
    * the doc-frequency cap every skew-guarded operator applies (`t`
    * holds one row per distinct (doc, key), so a key's row count IS
    * its document frequency). `minDf = 2` also drops keys only one doc
    * holds: they generate no pair. */
  private def docFreqWithin(t: DataFrame, key: String, minDf: Int,
      cap: Long): DataFrame =
    t.join(t.groupBy(key).agg(count(lit(1)).as("df"))
        .filter(col("df").between(minDf, cap)).select(key),
      Seq(key), "left_semi")

  /** (id_a < id_b) pairs of docs sharing a value of every `keys`
    * column — the bucket self-join each candidate generator runs
    * (shuffled on the key, never all-pairs). A pair sharing several
    * keys appears once per key: the verify stage's final semi-join
    * dedups, so no pair-level `.distinct()` is needed. */
  private def keyPairs(t: DataFrame, idCol: String, keys: String*): DataFrame =
    t.as("a")
      .join(t.as("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))

  /** Jaccard scorer over the shared-counts relation ([[sharedCounts]]):
    * shared / (n_a + n_b - shared), threshold filter. */
  private def jaccardScore(threshold: Double)(counts: DataFrame): DataFrame =
    counts
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("n_a") + col("n_b") - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "shared", "n_a", "n_b", "jaccard")

  /** ASYMMETRIC near-dup: CONTAINMENT pairs. Jaccard misses the
    * one-sided case — a tweet quoted whole inside an article scores
    * |A∩B| / |A∪B| ≈ |A|/|B| ≈ 0, yet for training-data dedup the
    * contained side IS a duplicate (Broder 1997 distinguishes
    * resemblance from containment for exactly this reason). Reported
    * per ORDERED pair: `containment = shared / n_small` with the
    * smaller shingle set as `contained_id` (ties -> lower id), so a
    * 0.9 threshold reads "90% of the smaller doc's shingles appear in
    * the larger".
    *
    * Same scale shape as [[ngramJaccardPairs]]: candidates from the
    * shared-shingle equi-join under the same `maxDocFreq` skew cap
    * (containment of pure boilerplate is not a dedup signal), exact
    * counts on full shingle sets. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.9,
      maxDocFreq: Option[Int] = None): DataFrame =
    sharedShinglePairs(df, idCol, textCol, n, maxDocFreq,
        containmentScore(threshold))
      .select("contained_id", "container_id", "shared", "containment")

  /** Containment scorer over the shared-counts relation: the smaller
    * shingle set (ties -> lower id) is the contained side. */
  private def containmentScore(threshold: Double)(counts: DataFrame): DataFrame =
    counts
      .withColumn("contained_id",
        when(col("n_a") <= col("n_b"), col("id_a")).otherwise(col("id_b")))
      .withColumn("container_id",
        when(col("n_a") <= col("n_b"), col("id_b")).otherwise(col("id_a")))
      .withColumn("containment",
        col("shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= threshold)

  /** The shared-shingle pair operators ([[ngramJaccardPairs]],
    * [[containmentPairs]]) differ only in `score`. Exact path (no cap):
    * shared counts straight off the full shingle self-join (one join +
    * one aggregate — no candidate materialization needed when every
    * shared shingle contributes to the score anyway). Skew-guarded
    * path: df-capped candidate generation, then the exact verify
    * stage on FULL shingle sets, so reported values stay true. */
  private def sharedShinglePairs(df: DataFrame, idCol: String,
      textCol: String, n: Int, maxDocFreq: Option[Int],
      score: DataFrame => DataFrame): DataFrame = {
    val sh = shingles(df, idCol, textCol, n).cache()
    maxDocFreq match {
      case None =>
        val out = score(sharedCounts(sh, idCol))
        // shingle cache drops with the consuming action
        graft.util.DeferredUnpersist.afterConsumedBudget(
          df.sparkSession, out, CacheReleaseBudget, sh)
        out
      case Some(cap) =>
        // every doc holding a live (df >= 2) shingle pairs with another
        // doc through it, so the pruned table supplies the candidate ids
        val pruned = docFreqWithin(sh, "shingle", 2, cap)
        verifyPairs(keyPairs(pruned, idCol, "shingle"),
          pruned.select(idCol).distinct(), graft.util.Parallelism.fanOut(df),
          idCol, textCol, n, score, sh)
    }
  }

  /** (id_a, id_b, shared, n_a, n_b) over a shingle relation — the
    * shared head of every pair scorer: one self-join on the shingle
    * value (cost Σ_shingle df² — common-shingle skew is the scale
    * hazard, see [[ngramJaccardPairs]]), one pair aggregate, two size
    * attaches. Sizes come from the relation passed in, so callers
    * restricting to candidate docs keep per-doc set sizes exact
    * (restriction is per-doc, never per-shingle). */
  private def sharedCounts(sh: DataFrame, idCol: String): DataFrame = {
    val sizes = sh.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col(idCol).as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("n_sh").as("n_b")), "id_b")
  }

  /** THE verify stage: exact scoring of a candidate pair stream — the
    * one tail of every near-dup pair operator ([[minHashLshPairs]],
    * [[winnowNearDupPairs]], the capped [[ngramJaccardPairs]] /
    * [[containmentPairs]], [[verifyCandidatePairs]],
    * [[lshIncrementalIngest]]).
    *
    * Contract:
    *   - `candidates`: (id_a, id_b) pairs, id_a < id_b. Duplicate pairs
    *     are fine — the final semi-join dedups — so generators never
    *     pay a pair-level `.distinct()`. Its one consumer here is that
    *     semi-join, so the stage never caches it: at corpus scale the
    *     raw pair stream is the largest relation in the pipeline, the
    *     one thing NOT to pin in storage memory;
    *   - `candIds`: a SUPERSET of the ids in `candidates`. Generators
    *     already hold a cheap one (bucket members, live fingerprints,
    *     the ingest coverage guard's cached id set), which spares a
    *     scan of the much larger pair stream;
    *   - `corpus`: the (id, text) frame, already fanned out
    *     ([[graft.util.Parallelism.fanOut]]) — the stage never probes
    *     it, because probing a join-bearing frame finalizes its
    *     adaptive plan (see [[shingles]]);
    *   - `score`: the threshold predicate over
    *     (id_a, id_b, shared, n_a, n_b) — jaccard or containment;
    *   - `caches`: the generator's own cached tables.
    * The stage owns, in this one place, the corpus restriction, its
    * shingle cache and ONE deferred release of that cache plus
    * `caches`, fired by the first action that consumes the result
    * (every caller's output contains it) — the per-call leak bound the
    * streaming cluster gates need.
    *
    * Order of operations is the whole game (profiled on the 5k-doc
    * corpus, where a 200-doc fingerprint cap yields 2.6M candidate
    * pairs hiding 256 true ones):
    *   1. semi-join the CORPUS down to candidate docs BEFORE the
    *      shingle kernel runs (verification scales with candidate
    *      DOCS, not corpus; the earlier full-corpus
    *      `shingles(df).cache()` materialized every doc's shingle set
    *      only for a later semi-join to discard the non-candidates — at
    *      a 10% candidate rate 10x the rows verification can touch,
    *      ~2 s of the per-query cost at sf0.1). The restricted shingle
    *      table is cached: [[sharedCounts]] instantiates it three times
    *      (self-join both sides + the per-doc sizes), and uncached each
    *      instantiation re-planned the candIds derivation with its own
    *      broadcast-exchange builds (the ~150 ms sequential builds
    *      dominated the cluster-table ingest's CC edge collect);
    *   2. score on that restricted table ([[sharedCounts]]' Σ df²
    *      self-join — NOT a per-pair shingle attach, whose
    *      Σ_pairs |A|+|B| cost multiplies every candidate by document
    *      length: 15x slower measured);
    *   3. LEFT SEMI the (few) threshold-passing pairs against the raw
    *      candidate stream — which therefore never needs a pair-level
    *      `.distinct()`, the single most expensive stage of the
    *      candidates-first shape.
    * Output: exactly the candidate pairs passing `score`, with its
    * columns — same contract as scoring each candidate, ~4x cheaper
    * end-to-end on the profiled corpus. */
  private def verifyPairs(candidates: DataFrame, candIds: DataFrame,
      corpus: DataFrame, idCol: String, textCol: String, n: Int,
      score: DataFrame => DataFrame, caches: DataFrame*): DataFrame = {
    val sh = shingles(corpus.join(candIds, Seq(idCol), "left_semi"),
      idCol, textCol, n, prefanned = true).cache()
    val out = score(sharedCounts(sh, idCol))
      .join(candidates, Seq("id_a", "id_b"), "left_semi")
    graft.util.DeferredUnpersist.afterConsumedBudget(
      corpus.sparkSession, out, CacheReleaseBudget, (sh +: caches): _*)
    out
  }

  /** Action budget for this object's deferred cache releases: the
    * cluster-table ingest interleaves ~10-15 eager store-probe/bloom/
    * commit actions between building a pair plan and consuming it (the
    * CC edge collect), so the default budget of 8 would fire the
    * fallback EARLY and silently restore the measured recompute. Wide
    * enough for the deepest composed pipeline, still a hard bound. */
  private val CacheReleaseBudget = 64

  /** Exact-jaccard verification of an EXTERNALLY-generated candidate
    * pair set — e.g. the streamed LSH banding index
    * ([[graft.streaming.PipelineStreams.lshCandidates]]) — against the
    * corpus: candidates in, true near-dup pairs (jaccard >= threshold)
    * out. Duplicate candidate pairs are fine (the final semi-join
    * dedups), so band-collision multiplicity needs no upstream
    * `distinct`. */
  def verifyCandidatePairs(candidates: DataFrame, df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // cached: the pair stream feeds both legs of the id derivation and
    // the stage's final semi-join — uncached the external generation
    // would replay three times (released with the stage's own cache)
    val cand = candidates.cache()
    val candIds = cand.select(col("id_a").as(idCol))
      .union(cand.select(col("id_b"))).distinct()
    // the fan-out guard runs on the bare corpus frame (a scan probe is
    // job-free); probing the stage's joined frame instead would
    // execute the whole candidate pipeline once per probe
    verifyPairs(cand, candIds, graft.util.Parallelism.fanOut(df), idCol,
        textCol, n, jaccardScore(threshold), cand)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash signature as a Column (nested HOFs): reference semantics
    * in one expression — fine for tests/small data, but higher-order
    * functions are NOT codegen'd (interpreted per element), so for
    * real corpora use [[minHashSignatures]]. */
  def minHashSignature(shingleArr: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(shingleArr, s => xxhash64(s, i))))

  /** Scalable MinHash signatures: explode distinct shingles, compute
    * the `numHashes` seeded hashes as PLAIN columns (whole-stage
    * codegen'd), then one hash-aggregate of `numHashes` `min`s
    * (partial+final, map-side combined). Exactly equal to
    * [[minHashSignature]] (same `xxhash64(shingle, seed)` stream), but
    * ~codegen-speed instead of interpreted. Returns (id, sig). */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int): DataFrame =
    minHashSignaturesFromShingles(shingles(df, idCol, textCol, n), idCol, numHashes)

  /** Signature computation from an already-derived (id, shingle) table
    * — lets callers share one materialized shingle table between
    * signatures and verification. */
  def minHashSignaturesFromShingles(sh: DataFrame, idCol: String,
      numHashes: Int): DataFrame = {
    val hashed = sh.select(Seq(col(idCol)) ++
      (0 until numHashes).map(i => xxhash64(col("shingle"), lit(i)).as(s"h$i")): _*)
    hashed.groupBy(idCol).agg(
      min(col("h0")).as("m0"),
      (1 until numHashes).map(i => min(col(s"h$i")).as(s"m$i")): _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** (id, band, bh) BAND-BUCKET rows: the per-row compiled MinHash
    * signature kernel cut into `bands` bands, each band's slice hashed
    * to one bucket key. The LSH index representation — [[minHashLshPairs]]
    * self-joins it; [[lshStoreInit]]/[[lshIncrementalIngest]] persist
    * it as the on-disk near-dup index. Docs with < n tokens emit no
    * rows (empty signature = no buckets). */
  def bandBuckets(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int,
      prefanned: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val ss = df.sparkSession
    // one-split guard: a single-file corpus scan would run the 64-hash
    // signature kernel on one core (no-op on multi-split inputs).
    // `prefanned` skips the guard when the caller's input lineage is
    // already fanned (see [[shingles]] — probing a join-bearing frame
    // executes its whole subtree once for the probe alone).
    (if (prefanned) df else graft.util.Parallelism.fanOut(df))
      .select(col(idCol),
        graft.plans.MinHashSigExpr.minHashSignature(
          ss, col(textCol), n, numHashes).as("sig"))
      // the emptiness test lives INSIDE the generator (explode(null)
      // emits no rows): a Filter on `sig` would be pushed below the
      // projection and run the signature kernel twice per document
      .select(col(idCol),
        explode(when(size(col("sig")) > 0,
          transform(sequence(lit(0), lit(bands - 1)),
            b => struct(b.as("band"),
              xxhash64(slice(col("sig"), b * rows + lit(1), lit(rows))).as("bh")))))
          .as("bucket"))
      .select(col(idCol), col("bucket.band"), col("bucket.bh"))
  }

  /** MinHash + LSH banding: signatures are cut into `bands` bands of
    * `numHashes/bands` rows; docs colliding in ANY band become
    * candidates; candidates are verified with exact Jaccard.
    *
    * Scale shape: per doc we emit `bands` (bucket-key, id) rows — a
    * fixed small blow-up — then ONE shuffle on the bucket key, exact
    * verification only within buckets. This is the billion-document
    * near-dup path (vs [[ngramJaccardPairs]]'s shared-shingle join).
    *
    * DUPLICATE-FLOOD GUARD (the web-scale failure mode): m
    * shingle-identical copies of one page share identical signatures,
    * so all m land in the same bucket in EVERY band — 16·m²/2
    * candidate rows before verification, a job-killing quadratic
    * shuffle at m ~ 10⁷. Two layers:
    *
    *  1. EXACT-COLLAPSE under a PRESSURE GATE (lossless): shingle-
    *     identical docs (same whitespace-collapsed text — exactly the
    *     equivalence the tokenizer induces, so identical text ⟺
    *     identical shingle set ⟺ identical signature) collapse to
    *     their min-id representative; LSH runs on representatives
    *     only; the pair set is re-expanded afterwards (within-group
    *     cliques at jaccard 1.0 + cross-group member products carrying
    *     the rep pair's exact jaccard). The OUTPUT is pair-for-pair
    *     identical to running LSH uncollapsed — identical docs always
    *     collide in every band and score 1.0, and a member pair's
    *     jaccard equals its reps' (same shingle sets) — but the
    *     candidate JOIN sees each group once, so candidate rows stay
    *     O(distinct docs), not O(copies²). (DedupSpec proves both
    *     properties on a 200-copy corpus.) Because the collapse
    *     machinery itself costs ~7 fixed joins, it engages only when
    *     the measured flood pressure — sum m·(m−1)/2 over collapse
    *     groups, i.e. the extra pairs uncollapsed LSH would verify —
    *     exceeds `collapseAtExtraPairs`; below the gate the
    *     (identical-output) uncollapsed plan is the cheaper one at
    *     ANY corpus size, since the pressure, not the corpus, is what
    *     the collapse saves.
    *  2. `maxBucketSize` (opt-in): buckets still larger than the cap
    *     after collapse (near-identical — not byte-identical —
    *     floods, e.g. templated pages differing in one counter) are
    *     dropped from candidate generation with a logged drop count.
    *     Recall-lossy by design, like [[winnowNearDupPairs]]'
    *     `maxDocFreqRatio`: members of a 10⁷-doc bucket are
    *     boilerplate-grade duplicates of each other, and any pair also
    *     colliding in a sane bucket of another band is still found.
    *
    * `precomputedBuckets`: full-corpus band rows (idCol, band, bh) as
    * produced by [[bandBuckets]] over the SAME nfc-folded text —
    * [[clusterTableInit]] shares ONE signature pass between pair
    * generation and its co-located band store instead of running the
    * minhash kernel over the corpus twice. Must cover every id of
    * `df` and be cheap to re-scan (caller caches it); reps' rows are
    * carved out by an id semi-join, bit-identical to recomputation
    * (bandBuckets is per-row deterministic).
    */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5,
      maxBucketSize: Option[Int] = None,
      nfcFold: Boolean = true,
      precomputedBuckets: Option[DataFrame] = None,
      collapseAtExtraPairs: Long = 4096L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // single-fixture-split guard on the INPUT, not just derived
    // tables: a one-file fixture scan is ONE split, which would run
    // every per-row kernel below (collapse md5, minhash signatures,
    // verification shingles) on a single core before any downstream
    // fanOut could help — the exchange must sit UNDER the kernels.
    // Provable no-op on real multi-split inputs (see
    // graft.util.Parallelism).
    val fdf0 = graft.util.Parallelism.fanOut(df)
    // NFC pre-fold of the TEXT (not just the collapse key): canonical-
    // equivalent encodings of the same text must share collapse key,
    // signatures AND verification shingles, or the invariant below
    // (same key ⟺ same shingle set) breaks across NFC/NFD twins
    // (NormalizeTextExpr's rationale). Zero-copy pass-through on
    // already-normalized corpora; `nfcFold = false` opts out.
    val fdf = if (!nfcFold) fdf0 else fdf0.withColumn(textCol,
      graft.plans.NormalizeTextExpr.normalizeText(df.sparkSession,
        col(textCol)))
    // ---- exact-collapse leg -------------------------------------
    // Collapse key = whitespace-collapsed text (NOT the case-folding
    // exactDedup fingerprint: shingles are case-sensitive, so the key
    // must induce exactly the tokenizer's equivalence — same key ⟺
    // same token sequence ⟺ same shingle set).
    // transient cache: sk feeds the pressure aggregate AND (collapse
    // engaged) the member join — uncached the md5+regex kernel runs
    // the corpus twice; dropped as soon as its last consumer ran
    val sk = fdf.select(col(idCol),
      md5(regexp_replace(trim(col(textCol)), "\\s+", " ")).as("__sk"))
      .cache()
    val dupGroups = sk.groupBy("__sk")
      .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("__m"))
      .filter(col("__m") >= 2)
    // EAGER PRESSURE PROBE: one map-side-combined pass over the corpus
    // (md5 collapse key + tiny shuffle) measures the duplicate FLOOD
    // PRESSURE — sum m·(m−1)/2 over collapse groups, i.e. exactly the
    // extra candidate pairs the uncollapsed join would emit and
    // verification would score. Three regimes:
    //   - 0 (dup-free, the common case for inputs already exact-deduped
    //     upstream): skip the collapse machinery entirely;
    //   - ≤ `collapseAtExtraPairs`: dup groups exist but are SMALL
    //     (mirrored pages, a handful of re-posts) — uncollapsed LSH is
    //     pair-for-pair identical (identical docs collide in every band
    //     and verify at jaccard 1.0; the pre-gate code path collapsed
    //     unconditionally here and paid ~7 fixed joins — anti-join,
    //     bucket carve, member join, two expansion joins, the clique
    //     self-join — to save a few verified pairs);
    //   - above the gate (a true flood — m copies of one page produce
    //     m²/2 pairs, job-killing at m ~ 10⁷): the full lossless
    //     collapse, exactly as before.
    // The probe costs what the old existence probe cost (same scan +
    // tiny shuffle; the member join moved inside the flood branch).
    val extraPairs = dupGroups
      .agg(coalesce(sum(col("__m") * (col("__m") - 1)), lit(0L)))
      .head().getLong(0) / 2
    // a caller-set bucket cap changes the interaction: collapse is what
    // keeps identical-doc cliques exempt from the (recall-lossy) cap,
    // so any duplicate pressure at all engages it there — the gate
    // only short-circuits the default (uncapped) path
    val doCollapse = extraPairs > collapseAtExtraPairs ||
      (maxBucketSize.isDefined && extraPairs > 0)
    if (!doCollapse) sk.unpersist()
    // (rep, member) for docs with at least one shingle-identical twin
    // — built only on the flood path (duplicate-count-sized; broadcast
    // by AQE when small). Cached: feeds the rep anti-join, the clique
    // join (both sides) and both expansion joins; the eager count
    // materializes it so sk can drop right away.
    val dupMem = if (!doCollapse) null else {
      val m = sk.join(dupGroups.select(col("__sk"), col("__rep")), "__sk")
        .select(col("__rep"), col(idCol).as("__mid"))
        .cache()
      m.count()
      sk.unpersist()
      m
    }
    // representatives = corpus minus the duplicate extras
    val reps = if (!doCollapse) fdf else {
      val nonReps = dupMem.filter(col("__mid") =!= col("__rep"))
        .select(col("__mid").as(idCol))
      fdf.join(nonReps, Seq(idCol), "left_anti")
    }
    // ---- LSH on representatives ---------------------------------
    // signatures via the per-row compiled kernel — one pass over the
    // doc text inside the scan projection, versus the explode+groupBy
    // path's 64 hash columns over every (doc, shingle) row plus a
    // signature shuffle. Bit-for-bit equal (MinHashSigExprSpec asserts
    // kernel == HOF == explode+agg); empty-sig docs (< n tokens) get
    // no buckets, exactly like docs with no shingle rows.
    // cached: feeds both sides of the candidate join AND the candIds
    // derivation — uncached, the 64-hash signature aggregation would
    // replay once per consumer
    val buckets = precomputedBuckets match {
      // shared signature pass: the caller's full-corpus bucket table is
      // already cached; dup-free corpora (reps == corpus) reuse it
      // as-is, otherwise the reps' rows are carved out by id (cached —
      // it feeds the same four consumers as the computed path)
      case Some(pb) =>
        val base = pb.select(col(idCol), col("band"), col("bh"))
        // cached on BOTH branches: the table feeds four consumers
        // (self-join both sides, the size aggregate, the candIds
        // derivation) — measured on the sf0.1 ingest drop, leaving the
        // uncollapsed branch as a bare projection over the caller's
        // cache cost +8 s in re-planned cache reads inside the
        // broadcast chains; the extra copy is drop-sized
        if (!doCollapse) base.cache()
        else base.join(reps.select(idCol), Seq(idCol), "left_semi").cache()
      // prefanned: reps' streamed lineage runs through fdf0's fanOut
      // (reps is fdf or a broadcast-anti derivative), so bandBuckets'
      // guard — and the output-side fanOut this path used to carry —
      // are provable no-ops; probing them finalized the anti-join
      // subtree once per probe (see shingles)
      case None => bandBuckets(reps, idCol, textCol, n, numHashes, bands,
          prefanned = true)
        .cache()
    }
    // the self-join's source and the candidate-doc derivation. Default
    // path: the raw bucket table — a single-member bucket can't pair
    // with itself, so no explicit >= 2 filter is needed on the JOIN
    // (adding one would recompute the size aggregate on both join
    // sides). Capped path: buckets above `maxBucketSize` leave
    // CANDIDATE GENERATION with a logged drop count (the eager count
    // is a small job on the cached bucket table, paid only opt-in).
    val sized = buckets.groupBy("band", "bh").agg(count(lit(1)).as("k"))
    val joinSrc = maxBucketSize match {
      case None => buckets
      case Some(cap) =>
        val d = sized.filter(col("k") > cap)
          .agg(count(lit(1)), coalesce(sum(col("k") * (col("k") - 1)), lit(0L)))
          .head()
        if (d.getLong(0) > 0)
          log.warn(s"minHashLshPairs: dropped ${d.getLong(0)} LSH buckets " +
            s"larger than $cap (${d.getLong(1) / 2} candidate pairs) from " +
            "candidate generation")
        buckets.join(sized.filter(col("k").between(2, cap))
          .select("band", "bh"), Seq("band", "bh"), "left_semi")
    }
    // candidate doc ids straight from the bucket table (docs sharing a
    // live bucket with >= 2 members) — cheaper than scanning the pair
    // stream; on the capped path the join source is already
    // size-restricted, so its multi-member buckets are the live set
    val candIds = (maxBucketSize match {
      case None => buckets.join(sized.filter(col("k") >= 2)
        .select("band", "bh"), Seq("band", "bh"), "left_semi")
      case Some(_) => joinSrc
    }).select(idCol).distinct()
    // fdf's lineage runs through fdf0's fanOut (the stage's corpus
    // contract); the bucket table (and, flooded, the member table)
    // drop with the stage's release — `out` below contains repPairs
    val repPairs = verifyPairs(keyPairs(joinSrc, idCol, "band", "bh"),
        candIds, fdf, idCol, textCol, n, jaccardScore(threshold),
        Seq(buckets) ++ Option(dupMem): _*)
      .select("id_a", "id_b", "jaccard")
    if (!doCollapse) return repPairs
    // ---- re-expansion (duplicate groups exist) ------------------
    // Cross-group: each rep pair fans out to its member products,
    // carrying the EXACT jaccard (identical shingle sets per group).
    // Left joins + coalesce keep singleton reps (the common case) on
    // the cheap path; dupMem broadcasts when small.
    val expanded = repPairs
      .join(dupMem.select(col("__rep").as("id_a"), col("__mid").as("__ma")),
        Seq("id_a"), "left")
      .withColumn("__ma", coalesce(col("__ma"), col("id_a")))
      .join(dupMem.select(col("__rep").as("id_b"), col("__mid").as("__mb")),
        Seq("id_b"), "left")
      .withColumn("__mb", coalesce(col("__mb"), col("id_b")))
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("jaccard"))
    // Within-group cliques at jaccard 1.0 — exactly the pairs the
    // uncollapsed join would emit (identical sigs collide in every
    // band), restricted to groups whose rep holds a non-empty
    // signature (docs of < n tokens never bucket, so their copies
    // never pair — same as uncollapsed).
    // (buckets holds exactly the non-empty-signature ids, bands rows
    // each — a left_semi needs no distinct)
    val sigGroups = dupMem.join(
      buckets.select(col(idCol).as("__rep")), Seq("__rep"), "left_semi")
    val cliques = sigGroups.as("a")
      .join(sigGroups.as("b"),
        col("a.__rep") === col("b.__rep") && col("a.__mid") < col("b.__mid"))
      .select(col("a.__mid").as("id_a"), col("b.__mid").as("id_b"),
        lit(1.0).as("jaccard"))
      .filter(lit(1.0) >= threshold)
    expanded.union(cliques)
  }

  /** Winnowing near-dup pairs: candidate generation by SHARED WINNOW
    * FINGERPRINT (one equi-join on the fingerprint value — the MOSS
    * scheme's selling point: any two docs sharing a character run of
    * length >= w+k-1 are GUARANTEED to share a fingerprint, so
    * candidates for long-overlap near-dups are a deterministic
    * superset, no probabilistic banding), then exact n-gram Jaccard
    * verification via [[ngramJaccardPairs]]' shared tail. Fingerprints
    * come from the native codegen expression
    * ([[graft.plans.WinnowFingerprintsExpr]]); each doc emits its
    * distinct fingerprint set (bounded by ~len/w per doc), so the join
    * is another bucket-key shuffle, same scale shape as MinHash-LSH.
    *
    * The doc-frequency cap is NOT optional at scale: a fingerprint is
    * any shared >= w+k-1 char run, so stock phrases collide across
    * huge doc sets (measured on the 5k-doc test corpus: the hottest
    * fingerprint hit 3,822 docs -> 113M candidate pairs; a 4% cap
    * leaves 3.4M). The cap scales as `maxDocFreqRatio` x corpus size
    * because "boilerplate" is relative: pairs whose rarest shared
    * fingerprint sits at df ~181 exist in the 5k corpus (measured),
    * so an absolute cap tuned on a small corpus silently loses recall
    * on a bigger one. True near-dups still share their RARE
    * fingerprints; exhaustiveness on the corpus pair set is asserted
    * in DedupSpec and held at both sf0.01 and sf0.1 gates.
    */
  def winnowNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, k: Int = 8, w: Int = 4,
      maxDocFreqRatio: Double = 0.04): DataFrame = {
    // cached: feeds the df-aggregate, the semi-join, and both sides of
    // the candidate self-join — without it the winnowing kernel runs
    // 4x over the corpus. Single-fixture-split guard UNDER the kernel
    // (input side), so the rolling-hash pass itself is distributed on
    // one-split fixture scans.
    val fdf = graft.util.Parallelism.fanOut(df)
    val fpsAll = fdf.select(col(idCol),
      explode(graft.plans.WinnowFingerprintsExpr.winnowFingerprints(
        df.sparkSession, col(textCol), k, w)).as("fp"))
      .cache()
    val cap = math.max(5L, math.ceil(df.count() * maxDocFreqRatio).toLong)
    // df >= 2: a fingerprint seen in one doc generates no pair — the
    // bound cuts the pair-join input to the (small) shared tail
    val fps = docFreqWithin(fpsAll, "fp", 2, cap).cache()
    // every doc in a candidate pair holds a live fingerprint, so the
    // fp table (not the pair stream) supplies the candidate doc ids;
    // fdf is the stage's fanned corpus, fingerprint caches drop with it
    verifyPairs(keyPairs(fps, idCol, "fp"), fps.select(idCol).distinct(),
        fdf, idCol, textCol, n, jaccardScore(threshold), fpsAll, fps)
      .select("id_a", "id_b", "jaccard")
  }

  /** 64-bit SimHash over whitespace tokens: bit b is set when the
    * majority of token hashes have bit b set (duplicate tokens weight
    * naturally). Pure expression composition.
    *
    * `tokenHash` is the 64-bit projection family — `xxhash64` by
    * default; pass [[graft.plans.PortableHash64Expr.portableHash64]]
    * when the output must be recomputable by another engine (the
    * DuckDB gate restates that fold in SQL; xxhash64 it cannot). */
  def simHash64(text: Column,
      tokenHash: Column => Column = xxhash64(_)): Column = {
    val hashes = transform(TextFunctions.tokens(text), t => tokenHash(t))
    val nTok = size(hashes)
    // bit positions are known at plan-build time -> unrolled (shift
    // amounts must be literals in Spark's shiftleft/shiftright)
    val packed = (0 until 64).map { b =>
      shiftleft(
        when(lit(2) * size(filter(hashes,
          h => shiftright(h, b).bitwiseAND(1L) === 1L)) >= nTok,
          lit(1L)).otherwise(lit(0L)), b)
    }.reduce(_ + _)
    when(nTok === 0, lit(0L)).otherwise(packed)
  }

  /** Scalable SimHash: explode tokens, then ONE hash-aggregate of 32
    * LANE-PACKED bit-count sums (partial+final, map-side combined),
    * then pack the majority bits. Pack p carries the set-bit counts of
    * signature bits 2p..2p+1 in two independent 32-bit lanes of one
    * long — half the aggregation buffers/expressions of one sum per
    * bit (the r1 shape, whose 64 conditional sums dominated this
    * operator's bench time). Two lanes, not four: a per-row packed
    * value is at most 1 + 2^32, so a group sum stays under 2^63 up to
    * 2^30 tokens per document — with ANSI mode ON, a 16-bit-lane
    * variant would throw on sum overflow from just 2^15 tokens (real
    * documents reach that).
    * Equivalent to [[simHash64]] (bit b set iff 2*count_set >= n).
    * Docs with no tokens get signature 0. */
  def simHashSignatures(df: DataFrame, idCol: String, textCol: String,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val toks = graft.util.Parallelism.fanOut(df).select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val h = toks.select(col(idCol), tokenHash(col("tok")).as("h"))
    val packs = (0 until 32).map { p =>
      (0 until 2).map { lane =>
        shiftleft(shiftright(col("h"), p * 2 + lane).bitwiseAND(1L), lane * 32)
      }.reduce(_ + _).as(s"p$p")
    }
    val lanes = h.select(Seq(col(idCol)) ++ packs: _*)
    val sums = lanes.groupBy(idCol).agg(
      count(lit(1)).as("n"),
      (0 until 32).map(p => sum(col(s"p$p")).as(s"s$p")): _*)
    val sig = (0 until 64).map { b =>
      val c = shiftright(col(s"s${b / 2}"), (b % 2) * 32).bitwiseAND(0xFFFFFFFFL)
      shiftleft(when(lit(2) * c >= col("n"), 1L).otherwise(0L), b)
    }.reduce(_ + _)
    df.select(col(idCol))
      .join(sums.withColumn("sig", sig).select(col(idCol), col("sig")),
        Seq(idCol), "left")
      .withColumn("sig", coalesce(col("sig"), lit(0L)))
  }

  /** SimHash near-dup pairs with Hamming distance <= `maxDist`,
    * candidate-generated by 16-bit chunk collision (pigeonhole: any
    * pair at distance <= 3 shares at least one of 4 chunks; higher
    * `maxDist` trades recall). One equi-join shuffle on (chunk index,
    * chunk value). */
  def simHashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val sigs = simHashSignatures(df, idCol, textCol, tokenHash)
    val chunks = sigs.select(col(idCol), col("sig"),
        explode(array((0 until 4).map(c => struct(lit(c).as("chunk"),
          shiftright(col("sig"), c * 16).bitwiseAND(0xFFFFL).as("cv"))): _*))
          .as("ch"))
      .select(col(idCol), col("sig"), col("ch.chunk"), col("ch.cv"))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cv") === col("b.cv") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("bigint"))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** Near-dup CLUSTERS: connected components over a verified pair set
    * — the "apply" step of corpus dedup (pair lists name the evidence;
    * keep-one-per-cluster needs the transitive closure). Returns
    * `(id, cluster)` for EVERY doc (singletons cluster to themselves);
    * the component label is the minimum member id, so
    * `id === cluster` selects the canonical keepers.
    *
    * One bounded fetch picks the algorithm. The pair leg is cached and
    * at most `LocalEdgeLimit + 1` edge rows are collected in one job:
    *  - at most `LocalEdgeLimit` rows (every dedup graph the engine
    *    builds — verified near-dup pairs are duplicate-rate-sized, and
    *    the cluster table's ingest/retract graphs are delta-sized by
    *    construction): union-find on the driver over the fetched rows,
    *    and the labels go back to the docs through a broadcast left
    *    join. `docs` is never collected, so the corpus side stays
    *    distributed and singletons label themselves;
    *  - more rows, or non-integral ids (string doc keys): the
    *    large-star/small-star loop of [[connectedComponentsStar]] over
    *    the cached leg, O(log n) rounds on any id ordering and any
    *    component diameter.
    * The pair subtree (typically the LSH verify plan) runs once on
    * either branch; the cache is released before this returns.
    *
    * CLUSTER DURABILITY: `checkpointDir` applies to the star branch
    * only — see [[connectedComponentsStar]].
    */
  def connectedComponents(docs: DataFrame, idCol: String,
      pairs: DataFrame, checkpointDir: Option[String] = None): DataFrame =
    connectedComponentsUpTo(docs, idCol, pairs, checkpointDir, LocalEdgeLimit)

  /** Edge rows [[connectedComponents]] brings to the driver: 2M rows of
    * two longs is tens of MB — the same bounded-collect contract as the
    * BPE vocabulary table. */
  private val LocalEdgeLimit = 2000000

  /** [[connectedComponents]] with the driver fast path's edge bound as
    * a parameter, so specs can force the distributed branch. */
  private[dedup] def connectedComponentsUpTo(docs: DataFrame, idCol: String,
      pairs: DataFrame, checkpointDir: Option[String],
      edgeLimit: Int): DataFrame = {
    val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
    val idT = docs.schema(idCol).dataType
    val integralId = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.ShortType).contains(idT)
    // non-integral ids: star's round-0 checkpoint is the leg's only reader
    if (!integralId) starComponents(docs, idCol, edges, 50, checkpointDir)
    else {
      // the fetch and (past the bound) star's round 0 both read the
      // leg: the cache keeps the pair subtree to one run
      edges.cache()
      try {
        val fetched = edges.select(col("u").cast("long"), col("v").cast("long"))
          .limit(edgeLimit + 1).collect()
        // star's rounds are eager and the union-find labels are local
        // rows, so neither result reads the cache once this returns
        if (fetched.length > edgeLimit)
          starComponents(docs, idCol, edges, 50, checkpointDir)
        else unionFindComponents(docs, idCol, fetched)
      } finally edges.unpersist()
    }
  }

  /** Driver union-find over fetched `(long, long)` edge rows; labels
    * reach `docs` through a broadcast left join. */
  private def unionFindComponents(docs: DataFrame, idCol: String,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    // iterative find + path compression: min-root union without
    // rank can chain O(n) deep, so a recursive find would overflow
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rows.foreach { r =>
      val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val touched = parent.keySet ++ parent.values
    val idT = docs.schema(idCol).dataType
    val ss = docs.sparkSession
    import ss.implicits._
    val labDf = touched.toSeq.map(id => (id, find(id))).toDF("id", "__c")
      .select(col("id").cast(idT).as("id"), col("__c").cast(idT).as("__c"))
    docs.select(col(idCol).as("id"))
      .join(broadcast(labDf), Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("cluster"))
  }

  /** Connected components by the large-star/small-star scheme
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014): O(log n) ROUNDS regardless of component diameter, so
    * long chains (A~B~C~... paraphrase chains) close as fast as
    * cliques. This is [[connectedComponents]]' distributed branch,
    * callable directly to run it at any graph size. Same contract:
    * `(id, cluster)` for every doc, cluster = min member id,
    * singletons cluster to themselves.
    *
    * Per round (three key-shuffles):
    *  - LARGE-STAR: each node u attaches every LARGER neighbor to
    *    `m = min(N(u) ∪ u)` — long chains fold toward small ids from
    *    every node at once, which is where the log comes from;
    *  - SMALL-STAR: each node attaches its smaller-or-equal neighbors
    *    (and itself) to that minimum — canonicalizing toward stars.
    * Fixpoint = edge set unchanged, checked by (count, hash-sum)
    * signature (set equality would cost an except() per round; a
    * 64-bit hash-sum collision on differing consecutive edge sets is
    * negligible against ~2^64). At the fixpoint the edge set is a
    * union of stars centered on component minima, so labels read off
    * edges directly. Ids need only an ordering (numeric or string).
    * Each round's edge set is checkpointed, which truncates the lineage
    * (iterative plans otherwise grow exponentially in the optimizer).
    *
    * CLUSTER DURABILITY: `localCheckpoint` (the default) stores blocks
    * on executors — fast, but NOT recoverable after executor loss,
    * which on a 1000-executor cluster would kill an hour-long CC job
    * over one lost node. Pass `checkpointDir = Some(reliableFsPath)`
    * (HDFS/S3) for cluster runs: per-round truncation then goes through
    * `df.checkpoint()` against that directory, and a re-submitted stage
    * recomputes from the durable files instead of dying. Labels are
    * bit-identical either way (DedupSpec asserts it) — the knob trades
    * per-round write cost for fault tolerance, nothing else.
    */
  def connectedComponentsStar(docs: DataFrame, idCol: String,
      pairs: DataFrame, maxIter: Int = 50,
      checkpointDir: Option[String] = None): DataFrame =
    starComponents(docs, idCol,
      pairs.select(col("id_a").as("u"), col("id_b").as("v")),
      maxIter, checkpointDir)

  /** [[connectedComponentsStar]] over an `(u, v)` edge frame. */
  private def starComponents(docs: DataFrame, idCol: String,
      uv: DataFrame, maxIter: Int,
      checkpointDir: Option[String]): DataFrame = {
    // each star's per-node minimum is a window over one hash exchange
    // on u: no separate aggregate to join back onto the edges
    val byU = org.apache.spark.sql.expressions.Window.partitionBy("u")
    def largeStar(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
        .withColumn("m", least(min("v").over(byU), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    def smallStar(e: DataFrame): DataFrame =
      e.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
        .withColumn("mn", min("v").over(byU)) // all v < u: the min incl. u
        .select(explode(array(struct(col("v").as("u"), col("mn").as("v")),
          struct(col("u"), col("mn").as("v")))).as("e"))
        .select(col("e.u"), col("e.v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    def signature(e: DataFrame): (Long, BigInt) = {
      // decimal(38,0) sum: exact and overflow-proof under ANSI mode
      // (a long sum of 64-bit hashes overflows after a handful of rows)
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head()
      (r.getLong(0), BigInt(r.getDecimal(1).toBigInteger))
    }
    bindCheckpointDir(docs, checkpointDir)
    var edges = truncateLineage(
      uv.filter(col("u") =!= col("v")).distinct(), checkpointDir)
    var sig = signature(edges)
    log.info(s"connectedComponentsStar: round 0 edges=${sig._1}")
    var iter = 0
    var converged = sig._1 == 0
    while (!converged && iter < maxIter) {
      edges = truncateLineage(smallStar(largeStar(edges)), checkpointDir)
      val s = signature(edges)
      converged = s == sig
      sig = s
      iter += 1
      // the scale-adjudication observable: rounds ~ log n is the
      // designed cost; PER-ROUND edge growth would compound at 1000x
      log.info(s"connectedComponentsStar: round $iter edges=${s._1}" +
        (if (converged) " (fixpoint)" else ""))
    }
    require(converged,
      s"connectedComponentsStar did not converge in $maxIter rounds — " +
        "O(log n) bound exceeded; raise maxIter")
    // converged edge set = stars on component minima: min(u, v) IS the label
    val lab = edges.select(col("u").as("id"), least(col("u"), col("v")).as("cluster"))
      .union(edges.select(col("v").as("id"), least(col("u"), col("v")).as("cluster")))
      .groupBy("id").agg(min("cluster").as("cluster"))
    docs.select(col(idCol).as("id"))
      .join(lab, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }

  /** Per-round lineage truncation for the star loop: executor-resident
    * `localCheckpoint` by default (fast, dies with an executor),
    * reliable `df.checkpoint()` when the caller passed a durable
    * directory (cluster runs — see [[connectedComponentsStar]]'s
    * Scaladoc). The context checkpoint dir is set ONCE per star call by
    * [[bindCheckpointDir]] — `setCheckpointDir` mints a fresh UUID
    * subdirectory each time, so per-round re-binding would scatter one
    * directory per iteration. */
  private def truncateLineage(df: DataFrame, dir: Option[String]): DataFrame =
    if (dir.isEmpty) df.localCheckpoint() else df.checkpoint()

  /** Bind the reliable checkpoint base directory (UUID-subdir'd per
    * call, so concurrent jobs sharing a base don't collide). No-op
    * when the caller keeps the localCheckpoint default. */
  private def bindCheckpointDir(df: DataFrame, dir: Option[String]): Unit =
    dir.foreach(d => df.sparkSession.sparkContext.setCheckpointDir(d))

  /** Cross-document duplicated SPANS — the scalable core of substring
    * dedup (Lee et al. 2022: remove repeated substrings of length
    * >= threshold from the corpus, rather than whole near-dup docs).
    * The reference formulation builds a corpus-wide suffix array; that
    * is a single-machine construction. The distributed restatement:
    *
    *  1. hash every k-char gram per position (native rolling-hash
    *     expression [[graft.plans.KgramHashesExpr]], O(1)/position);
    *  2. a k-gram hash occurring in >1 DISTINCT doc marks its
    *     positions as inside a duplicated substring (one groupBy on
    *     hash — `min(doc) != max(doc)` avoids a count-distinct);
    *  3. semi-join the flagged hash set back to positions (equi-join
    *     on hash — the only shuffles are the hash groupBy + join);
    *  4. merge overlapping char intervals `[pos, pos+k)` per doc with
    *     gaps-and-islands (a break opens where the gap between
    *     consecutive flagged positions exceeds k), keep spans of at
    *     least `minLen` chars.
    *
    * Every stage is a shuffle-on-key or a per-doc window — no
    * suffix array, no driver state, no all-pairs; false merges only
    * via 32-bit hash collisions (identical in the DuckDB oracle, which
    * restates the hash as the from-scratch fold). Output:
    * `(doc_id, span_start, span_end, span_len)` with `[start, end)`
    * char offsets, ordered by doc and start.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, minLen: Int): DataFrame = {
    val pos = kgramPositions(df, idCol, textCol, k)
    val dupHashes = pos.groupBy("h")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .where(col("mn") =!= col("mx"))
      .select("h")
    mergeIslands(pos.join(dupHashes, Seq("h"), "left_semi"), k, minLen)
  }

  /** Per-position k-gram hash table `(doc_id, pos, h)` — shared by the
    * cross-doc and within-doc span detectors. */
  private def kgramPositions(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    // input-side fanOut: the rolling-hash kernel runs distributed even
    // on a one-split fixture scan (no-op at corpus scale)
    graft.util.Parallelism.fanOut(df)
      .select(col(idCol).cast("long").as("doc_id"),
        graft.plans.KgramHashesExpr.kgramHashes(
          df.sparkSession, col(textCol), k).as("hs"))
      .select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"))

  /** Gaps-and-islands merge of flagged positions into maximal char
    * spans `[min, max+k)`, keeping spans >= `minLen` — the shared tail
    * of both span detectors. */
  private def mergeIslands(flagged: DataFrame, k: Int,
      minLen: Int): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    flagged
      .withColumn("prev", lag("pos", 1).over(byDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > k, 1L)
          .otherwise(0L))
      .withColumn("island", sum("brk").over(
        byDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("span_start"),
        (max("pos") + k).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"))
      .where(col("span_len") >= minLen)
      .orderBy("doc_id", "span_start")
  }

  /** WITHIN-DOC self-repetition spans — the intra-document half of
    * substring dedup (Lee et al. 2022 strip repeats wherever they
    * occur; [[duplicatedSpans]] covers the cross-document case, this
    * covers boilerplate repeated INSIDE one document — nav blocks,
    * chorus lines, template stubs). A position is flagged when its
    * k-gram occurs at MORE THAN ONE position of the SAME doc; flagged
    * positions merge to maximal spans exactly as in
    * [[duplicatedSpans]] (shared tail). ALL occurrences are flagged,
    * matching the cross-doc detector's symmetric semantics — the
    * detector reports the repeated regions, a keep-first policy
    * belongs to the apply step.
    *
    * Scale shape: one groupBy on (doc_id, h) — partial-aggregated,
    * doc-local keys so the shuffle is well-spread — plus the same
    * per-doc windows; no self-join at all. */
  def selfRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, minLen: Int): DataFrame = {
    val pos = kgramPositions(df, idCol, textCol, k)
    val rep = pos.groupBy("doc_id", "h")
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2)
      .select("doc_id", "h")
    mergeIslands(pos.join(rep, Seq("doc_id", "h"), "left_semi"), k, minLen)
  }

  /** The APPLY step for [[duplicatedSpans]] — Lee et al. 2022's
    * "remove the repeated substring, keep the rest of the document"
    * (the paper cuts exactly the duplicated span, not the whole doc).
    *
    * Shape: detect spans (see [[duplicatedSpans]]), collect each
    * doc's spans into one row (`collect_list` is safe here — a doc's
    * span count is bounded by `len/k`, and the merged intervals are
    * disjoint by construction, so the per-doc array is small and
    * NEVER corpus-sized), left-join back to the corpus on `doc_id`
    * (one shuffle; span side is a per-doc aggregate, far smaller than
    * the text side), then cut with a single `aggregate` HOF fold over
    * the sorted spans — codegen'd string work, no UDF, no driver
    * involvement. Docs with no spans pass through byte-identical
    * (the fold over a NULL span array yields NULL → coalesce to the
    * original text).
    *
    * Output: the input row plus `clean_text` (spans of length >=
    * `minLen` removed), `n_spans_cut`, `chars_cut`.
    */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, minLen: Int): DataFrame = {
    val spans = duplicatedSpans(df, idCol, textCol, k, minLen)
    val perDoc = spans
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("span_start"), col("span_end"))))
        .as("__spans"))
    // Fold state: (last = end of the previous cut span, acc = kept
    // prefix). Each span appends the gap [last, span_start) to acc;
    // the finish step appends the tail [last, len). Spans are sorted
    // and disjoint (islands are separated by > k chars), so substring
    // lengths are always >= 0.
    val cut = expr(
      s"""aggregate(
         |  __spans,
         |  struct(CAST(0 AS BIGINT) AS last, '' AS acc),
         |  (s, sp) -> struct(
         |    sp.span_end AS last,
         |    concat(s.acc, substring(`$textCol`,
         |      CAST(s.last + 1 AS INT),
         |      CAST(sp.span_start - s.last AS INT))) AS acc),
         |  s -> concat(s.acc, substring(`$textCol`, CAST(s.last + 1 AS INT)))
         |)""".stripMargin)
    df.withColumn("__id", col(idCol).cast("long"))
      .join(perDoc.withColumnRenamed("doc_id", "__id"), Seq("__id"), "left")
      .withColumn("clean_text", coalesce(cut, col(textCol)))
      .withColumn("n_spans_cut", coalesce(size(col("__spans")), lit(0)))
      .withColumn("chars_cut", length(col(textCol)) - length(col("clean_text")))
      .drop("__id", "__spans")
  }

  // ------------------------------------------------------------------
  // Incremental ingest against a persisted fingerprint store
  // ------------------------------------------------------------------

  /** Fresh UNIQUE batch dir under `<storePath>.batch/` — a fixed path
    * would be clobbered by the next ingest, silently re-pointing any
    * still-lazy returned frame at the wrong batch. Retention: the two
    * most recent PRIOR batches are kept (consume a returned frame
    * before two more ingests), older ones are reaped here, so the dirs
    * do not leak one per ingest forever. Goes through the Hadoop
    * FileSystem resolved from the path itself, so a store persisted on
    * the lake (`hdfs://`, `s3a://` — the recommended 100 TB layout)
    * gets a scheme-correct batch path and real reaping, not the
    * `java.io.File` double-slash collapse + silent no-op listFiles. */
  private def freshBatchDir(ss: SparkSession, storePath: String,
      keep: Int = 2): String = {
    import org.apache.hadoop.fs.Path
    val root = new Path(storePath.stripSuffix("/") + ".batch")
    val fs = root.getFileSystem(ss.sessionState.newHadoopConf())
    if (fs.exists(root)) {
      // recency rides the NAME (zero-padded millis prefix), not
      // FileStatus mtimes: object stores report unreliable directory
      // modification times (s3a prefixes often read 0 or list-time),
      // which could reap the NEWEST batch instead of the oldest.
      // Only entries in this naming scheme participate in the
      // recency sort: a store upgraded from the plain-UUID naming
      // holds hex dirs that sort ABOVE `b<millis>-` (c..f > b), which
      // would keep the stale legacy dirs and reap the two NEWEST
      // batches. Legacy dirs sort BELOW every named one (they predate
      // the scheme, so they are older than any named batch) but still
      // COUNT toward the keep window for one upgrade cycle: a lazy
      // classified frame returned by a pre-upgrade ingest must stay
      // consumable through the documented two-more-ingests window
      // even when those two ingests straddle the naming upgrade.
      val (named, legacy) = fs.listStatus(root)
        .partition(_.getPath.getName.matches("b\\d{20}-.*"))
      val newestFirst =
        named.sortBy(_.getPath.getName)(Ordering[String].reverse) ++
          legacy.sortBy(_.getPath.getName)(Ordering[String].reverse)
      newestFirst.drop(keep)
        .foreach(old => fs.delete(old.getPath, true))
    }
    new Path(root, f"b${System.currentTimeMillis()}%020d-" +
      java.util.UUID.randomUUID().toString).toString
  }

  /** THRESHOLD-BASED store compaction: every ingest appends one small
    * parquet batch, so an always-on store accretes files forever —
    * the classic small-files problem (at one drop/hour, a year is
    * ~9k files; each probe join then pays 9k scan tasks and the
    * namenode 9k block lookups). When the live snapshot exceeds
    * `maxFiles` data files, rewrite it to ~128 MB-target files via
    * the [[graft.ops.ScaleOps.compactPath]] sizing rule and publish
    * the rewrite as a NEW snapshot generation with ONE atomic
    * manifest commit ([[graft.ops.TableLayout.publish]]) — a
    * concurrent reader that resolved the prior manifest keeps its
    * complete file set through the GC grace window, so there is no
    * rename hole (the pre-round-11 aside-swap's reader gap). Must run
    * under the store lease; `token` is the lease epoch token the
    * commit re-verifies. Compaction changes file layout only: row
    * multiset, schema, and every downstream candidate set are
    * invariant (spec-asserted). */
  private def maybeCompactStore(ss: SparkSession, storePath: String,
      maxFiles: Int, token: String): Unit = {
    if (maxFiles <= 0) return // disabled
    val snap = graft.ops.TableLayout.resolve(ss, storePath)
    val (nFiles, totalBytes, _) =
      graft.ops.TableLayout.fileStats(ss, storePath, snap)
    if (nFiles <= maxFiles) return
    val target = math.max(1,
      math.ceil(totalBytes / (128.0 * 1024 * 1024)).toInt)
    graft.ops.TableLayout.publish(
      graft.ops.TableLayout.readAt(ss, storePath, snap)
        .repartition(target),
      storePath, None, token, pins = snap.pins)
    log.info(s"compacted store $storePath: $nFiles files " +
      s"($totalBytes bytes) -> $target file(s)")
  }

  /** [[maybeCompactStore]] for a PARTITIONED store: each ingest append
    * lands one small file in every touched partition dir, so an
    * always-on partitioned store accretes files per-bucket. Buckets
    * whose live data-file count exceeds `maxFiles` rewrite through
    * [[graft.ops.TableLayout.replacePartitions]] — only the
    * over-threshold buckets are read or shuffled (the rewrite lands
    * in a new snapshot generation; every other bucket's files are
    * untouched bytes on disk, and concurrent readers keep the prior
    * complete snapshot). Row multiset, schema, and partition values
    * are invariant (spec-asserted). */
  private def maybeCompactBuckets(ss: SparkSession, storePath: String,
      maxFiles: Int, token: String): Unit = {
    // the generic bucket-grain compaction derives the partition column
    // from the store's own snapshot (partition values render via
    // toString — the store writes integral ib values, so the dir-name
    // string IS the value); shared with the text index
    graft.ops.TableLayout.compactPartitions(ss, storePath, maxFiles,
      token): Unit
  }

  /** Store HEALTH, one observable for ingest monitoring: the
    * [[graft.ops.Profiling.profile]] stats of the store's columns
    * (row count, nulls, distincts, min/max — a fingerprint store
    * whose distinct count stops growing has a stuck ingest) plus the
    * physical file count and byte size that drive the
    * [[maybeCompactStore]] trigger. */
  def storeHealth(ss: SparkSession, storePath: String): DataFrame = {
    // LIVE-SNAPSHOT accounting ([[graft.ops.TableLayout.fileStats]]):
    // only the files the current manifest serves count — superseded
    // generations awaiting GC are not compaction pressure, and a
    // recursive listing over them would double-count every rewritten
    // bucket. `max_files_per_dir` is the per-bucket accretion signal
    // that drives [[maybeCompactBuckets]] (flat stores: the whole-dir
    // file count, same trigger as [[maybeCompactStore]]).
    val snap = graft.ops.TableLayout.resolve(ss, storePath)
    val (nFiles, totalBytes, maxPerDir) =
      graft.ops.TableLayout.fileStats(ss, storePath, snap)
    val store = graft.ops.TableLayout.readAt(ss, storePath, snap)
    graft.ops.Profiling.profile(store, store.columns.toSeq)
      .withColumn("n_files", lit(nFiles))
      .withColumn("total_bytes", lit(totalBytes))
      .withColumn("max_files_per_dir", lit(maxPerDir))
  }

  /** Initialize a fingerprint STORE from a corpus: one row per
    * distinct exact-dedup fingerprint ([[TextFunctions.fingerprint]])
    * with the first (minimum) id that carried it. The store is the
    * durable state of batch incremental dedup — daily drops are
    * checked against it, then extend it ([[incrementalIngest]]);
    * unlike the streaming first-seen state it lives as plain parquet,
    * so any engine can audit it and a reprocess can rebuild it.
    *
    * PINS: every dedup store (this one, the LSH band store, the
    * cluster table's labels) pins its write-once parameters in its
    * snapshot manifest ([[graft.ops.TableLayout.Snapshot]]`.pins`),
    * published in the same atomic commit as the rows they describe,
    * and every ingest validates them — a drifted or missing pin fails
    * loudly. MIGRATION: stores initialized before the pins moved into
    * the manifest carry none and fail that check; re-initialize them
    * (each is a derived artifact and rebuilds from its corpus). The
    * one exception is a band store whose manifest has no pins (a
    * round-10 store, the pre-manifest layout): [[lshIncrementalIngest]]
    * reads them, read-only, from its `<storePath>.meta` parquet. */
  def fingerprintStoreInit(corpus: DataFrame, idCol: String,
      textCol: String, storePath: String, nfc: Boolean = true): Unit = {
    val ss = corpus.sparkSession
    graft.ops.StoreLock.withLockCtx(ss, storePath) { ctx =>
    // versioned publish ([[graft.ops.TableLayout]]): a RE-init lands
    // as one atomic manifest commit — readers see the old store or
    // the new one, never the overwrite's deleted-then-rewriting gap.
    // The commit pins the fingerprint FUNCTION VERSION: NFC-folded and
    // raw-byte fingerprints of the same canonical text differ, so a
    // store built under one setting silently misses every row under
    // the other — ingest validates the pin and fails loudly instead
    graft.ops.TableLayout.publish(
      corpus.select(col(idCol),
          TextFunctions.fingerprint(col(textCol), nfc).as("fingerprint"))
        .groupBy("fingerprint")
        .agg(min(col(idCol)).as("first_id")),
      storePath, None, ctx.token, pins = Map("nfc" -> nfc.toString))
    }
  }

  /** Classify a NEW DROP against the persisted store and extend the
    * store with the drop's novel fingerprints — the production shape
    * of exact dedup over a corpus that arrives in batches. Per drop
    * row:
    *
    *   - `dup_in_store` — fingerprint already in the store (seen by a
    *     previous batch);
    *   - `dup_in_drop`  — novel fingerprint, but another drop row with
    *     a smaller id carries it (within-batch duplicate);
    *   - `accepted`     — novel fingerprint, first carrier in the
    *     drop. Exactly these fingerprints are APPENDED to the store
    *     (with the accepted id as `first_id`), so re-running the next
    *     drop sees them.
    *
    * Scale shape: the drop is increment-sized, the store is
    * corpus-sized — classification is one groupBy on the drop's
    * fingerprints plus ONE equi-join against the store, shuffled on
    * the fingerprint key. Nothing store-sized is broadcast, windowed,
    * or collected; the store append writes only accepted-count rows.
    * The method is eager by design, mirroring how a batch ingest job
    * commits: the classification is written to `<storePath>.batch`
    * FIRST, then the store is extended, and the returned frame reads
    * the committed batch output. (A cache would not survive the
    * append: Spark's CacheManager invalidates-by-path any cached plan
    * that reads a path being written, so a lazy classification plan
    * would silently recompute against the grown store and classify
    * every accepted row as dup_in_store.)
    *
    * Left-anti/semi vs the store would also work; the left join keeps
    * `first_id` so dup_in_store rows can point at their original.
    *
    * SINGLE WRITER: ingests must be serialized (one at a time per
    * store). Two concurrent drops can both classify the same novel
    * fingerprint as `accepted` and append it twice, after which the
    * left join returns two store rows for that fingerprint on every
    * later drop. The at-least-once idempotence documented above covers
    * RE-delivery of the same drop, not concurrent distinct drops —
    * run ingests from one scheduler slot, as a batch pipeline would.
    * The store's fold setting comes from its manifest pin (see
    * [[fingerprintStoreInit]]). */
  def incrementalIngest(drop: DataFrame, idCol: String, textCol: String,
      storePath: String, compactAfterFiles: Int = 64,
      nfc: Boolean = true): DataFrame = {
    val spark = drop.sparkSession
    graft.ops.StoreLock.withLockCtx(spark, storePath) { ctx =>
    // fingerprint-version pin: a store hashed under the other fold
    // setting would silently classify every re-delivered doc as novel
    val snap = graft.ops.TableLayout.resolve(spark, storePath)
    val storeNfc = snap.pins.getOrElse("nfc",
      throw new IllegalStateException(
        s"incrementalIngest: no fingerprint-version pin in the manifest " +
          s"at $storePath — the store was not initialized by this " +
          "version's fingerprintStoreInit (or predates the NFC fold); " +
          "re-init the store")).toBoolean
    require(storeNfc == nfc,
      s"incrementalIngest(nfc=$nfc) does not match the store at " +
        s"$storePath (pinned nfc=$storeNfc) — folded and " +
        "raw fingerprints of the same text differ; re-init or use the " +
        "store's setting")
    val store = graft.ops.TableLayout.readAt(spark, storePath, snap)
    val fp = drop.select(col(idCol),
      TextFunctions.fingerprint(col(textCol), nfc).as("fingerprint"))
    val keeper = fp.groupBy("fingerprint").agg(min(col(idCol)).as("__keeper"))
      .cache()
    // STORE-SIDE BLOOM PRUNE: the classification is a LEFT OUTER join
    // with the increment-sized side on the left, and Spark can only
    // broadcast-build the RIGHT side of a left-outer join — so the
    // corpus-sized store would shuffle in full on EVERY drop (and the
    // optimizer's own runtime bloom filter does not fire here: the
    // creation side needs a selective scan filter it cannot see in a
    // derived drop). Building an explicit bloom over the drop's
    // fingerprints ([[graft.plans.BloomFilterOps]], two drop-sized
    // jobs against the cached keeper) and probing the store scan
    // map-side cuts the store's shuffle input from corpus-sized to
    // matched + fpp of the rest. No false negatives, so every store
    // row that matches a drop fingerprint survives — classifications
    // are invariant (spec-asserted); false positives only shuffle a
    // few extra rows the join then ignores. Past Spark's bloom caps
    // (maxNumItems/maxNumBits) a corpus-sized "drop" degrades the fpp
    // toward 1 — the prune fades to a no-op, never to a wrong answer.
    val nKeys = keeper.count()
    val bloom = graft.plans.BloomFilterOps.buildBloom(keeper,
      col("fingerprint"), nKeys)
    val storePruned = store.filter(graft.plans.BloomFilterOps
      .mightContain(spark, bloom, col("fingerprint")))
    val batchPath = freshBatchDir(spark, storePath)
    fp.join(keeper, Seq("fingerprint"))
      .join(storePruned.select(col("fingerprint"), col("first_id")),
        Seq("fingerprint"), "left")
      .select(col(idCol), col("fingerprint"),
        when(col("first_id").isNotNull, lit("dup_in_store"))
          .when(col(idCol) =!= col("__keeper"), lit("dup_in_drop"))
          .otherwise(lit("accepted")).as("status"),
        col("first_id"))
      .write.mode("overwrite").parquet(batchPath)
    keeper.unpersist()
    val classified = spark.read.parquet(batchPath)
    graft.ops.TableLayout.append(classified
      .where(col("status") === "accepted")
      .select(col("fingerprint"), col(idCol).as("first_id")),
      storePath, None)
    // after the append, never before: the classification is already
    // committed to the batch dir, so the compaction commit can't
    // invalidate it
    maybeCompactStore(spark, storePath, compactAfterFiles, ctx.token)
    classified
    }
  }

  /** NFC pre-fold as a column substitution (the [[minHashLshPairs]]
    * discipline): downstream keys, signatures and shingles all see one
    * canonical form. No-op when off. */
  private def nfcFolded(df: DataFrame, textCol: String,
      on: Boolean): DataFrame =
    if (!on) df
    else df.withColumn(textCol,
      graft.plans.NormalizeTextExpr.normalizeText(df.sparkSession,
        col(textCol)))

  /** The band-store pin keys, in [[lshPins]]' tuple order. */
  private val LshPinKeys =
    Seq("n", "num_hashes", "bands", "nfc", "id_buckets")

  /** The band store's pinned (n, numHashes, bands, nfcFold, idBuckets)
    * from the live snapshot `snap`. A round-10 store (the pre-manifest
    * layout, whose implicit snapshot carries no pins) reads them,
    * read-only, from its `<storePath>.meta` parquet; a store with
    * neither fails loudly. */
  private def lshPins(ss: SparkSession, storePath: String,
      snap: graft.ops.TableLayout.Snapshot): (Int, Int, Int, Boolean, Int) = {
    def missing(cause: Throwable) = new IllegalStateException(
      s"no (or pre-layout-pin) parameter pin for the band store at " +
        s"$storePath — the store was not initialized by this version's " +
        "lshStoreInit; re-init the store", cause)
    val vals =
      if (snap.pins.nonEmpty)
        LshPinKeys.map(k => snap.pins.getOrElse(k, throw missing(null)))
      else {
        val meta = storePath.stripSuffix("/") + ".meta"
        val r = try ss.read.parquet(meta).head()
          catch { case e: Exception => throw missing(e) }
        LshPinKeys.map(k => scala.util.Try(r.getAs[Any](k).toString)
          .getOrElse(throw missing(null)))
      }
    (vals(0).toInt, vals(1).toInt, vals(2).toInt, vals(3).toBoolean,
      vals(4).toInt)
  }

  /** Initialize a persisted LSH band-bucket STORE — the on-disk
    * near-dup index of a standing corpus ([[bandBuckets]] rows as
    * plain parquet). The near-dup counterpart of
    * [[fingerprintStoreInit]]: daily drops probe it with one equi-join
    * instead of re-running LSH over corpus + drop. The manifest pins
    * (n, numHashes, bands, nfcFold, idBuckets) so a later ingest with
    * drifted parameters fails loudly instead of silently missing every
    * near-dup (the bucket hashes would never collide). */
  def lshStoreInit(corpus: DataFrame, idCol: String, textCol: String,
      storePath: String, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, nfcFold: Boolean = true,
      idBuckets: Int = 0,
      precomputedBuckets: Option[DataFrame] = None): Unit = {
    val ss = corpus.sparkSession
    graft.ops.StoreLock.withLockCtx(ss, storePath) { ctx =>
    // the pins ride the publish commit with the bucket rows. The NFC
    // fold is pinned too: folded and unfolded texts hash into
    // different buckets, so a drifted fold setting is the same silent
    // recall-loss hazard as drifted n/bands. `idBuckets` (the LAYOUT
    // pin) > 0 partitions the store by `ib = pmod(hash(id),
    // idBuckets)` — the stable id-bucket layout that makes retraction
    // a touched-partition rewrite instead of an O(corpus) full-store
    // rewrite; 0 keeps the flat single-dir layout for small
    // standalone stores.
    val pins = LshPinKeys.zip(Seq(n, numHashes, bands, nfcFold, idBuckets)
      .map(_.toString)).toMap
    // precomputedBuckets: the same shared-signature-pass contract as
    // [[minHashLshPairs]] — (idCol, band, bh) from [[bandBuckets]] over
    // the nfc-folded corpus, so clusterTableInit runs the minhash
    // kernel once, not once per artifact
    val rows = precomputedBuckets
      .map(_.select(col(idCol), col("band"), col("bh")))
      .getOrElse(bandBuckets(nfcFolded(corpus, textCol, nfcFold), idCol,
        textCol, n, numHashes, bands))
    // versioned publish ([[graft.ops.TableLayout]]): one atomic
    // manifest commit, no overwrite gap for concurrent readers
    if (idBuckets > 0)
      graft.ops.TableLayout.publish(
        rows.withColumn("ib",
          pmod(graft.functions.Sampling.hashBucket(col(idCol)),
            lit(idBuckets.toLong))),
        storePath, Some("ib"), ctx.token, pins = pins)
    else graft.ops.TableLayout.publish(rows, storePath, None, ctx.token,
      pins = pins)
    }
  }

  /** NEAR-DUP classify a new drop against the persisted band store and
    * extend the store — incremental MinHash/LSH ingest, the batch
    * sibling of the streaming LSH index
    * ([[graft.streaming.PipelineStreams.lshCandidates]]) with durable
    * parquet state any engine can audit. Steps:
    *
    *   1. parameters validated against the store's pins (drifted
    *      n/numHashes/bands would silently hash into disjoint buckets);
    *   2. drop band-buckets ([[bandBuckets]], increment-sized);
    *   3. candidates = ONE equi-join drop-buckets x store on
    *      (band, bucket) — the store is corpus-sized but the join is
    *      shuffled on the bucket key, never all-pairs. Self-matches
    *      (`drop_id === store_id`, a re-delivered drop probing its own
    *      earlier append) are filtered;
    *   4. candidates COMMIT to a fresh dir under `<storePath>.batch/`
    *      BEFORE the store append (Spark's recache-by-path would
    *      otherwise recompute the lazy candidate plan against the
    *      grown store; a UNIQUE dir per ingest keeps earlier calls'
    *      returned frames readable);
    *   5. drop buckets append to the store — only for ids NOT already
    *      indexed, so an at-least-once re-delivery cannot duplicate
    *      index rows (mirrors [[incrementalIngest]]'s idempotence);
    *   6. exact-jaccard verification over the candidate docs' texts
    *      only (the [[verifyPairs]] stage — `texts` must supply BOTH
    *      sides). Candidate store ids with no text row fail loudly:
    *      silently dropping them (the inner joins would) turns an
    *      incomplete `texts` view into invisible recall loss.
    *
    * `texts` must cover every id ever indexed into the store plus the
    * drop itself (pass the full corpus view — the store only holds
    * bucket hashes, not text). Ids must be unique across that view.
    * Within-drop near-dups are NOT reported — run [[minHashLshPairs]]
    * on the drop for that leg. Returns
    * (drop_id, store_id, jaccard >= threshold).
    *
    * SINGLE WRITER: as with [[incrementalIngest]], ingests must be
    * serialized per store — two concurrent drops can each pass the
    * not-already-indexed check and append overlapping bucket rows,
    * duplicating candidates on all later probes. Stores initialized
    * before the manifest pins: see [[fingerprintStoreInit]]. */
  def lshIncrementalIngest(drop: DataFrame, texts: DataFrame,
      idCol: String, textCol: String, storePath: String, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, compactAfterFiles: Int = 64,
      nfcFold: Boolean = true,
      precomputedBuckets: Option[DataFrame] = None): DataFrame = {
    val ss = drop.sparkSession
    graft.ops.StoreLock.withLockCtx(ss, storePath) { ctx =>
    val snap = graft.ops.TableLayout.resolve(ss, storePath)
    val pinned = lshPins(ss, storePath, snap)
    require((pinned._1, pinned._2, pinned._3, pinned._4) ==
        ((n, numHashes, bands, nfcFold)),
      s"lshIncrementalIngest(n=$n, numHashes=$numHashes, bands=$bands, " +
        s"nfcFold=$nfcFold) does not match the store at $storePath " +
        s"(pinned=$pinned) — mismatched bucket hashes " +
        "would never collide; re-init the store or use its parameters")
    // the id-bucket LAYOUT is store-intrinsic, never a caller
    // parameter: a drifted value would append a key's rows into a
    // different partition than its live rows
    val idBuckets = pinned._5
    // the SAME fold the store was built under — folded and unfolded
    // texts of the same canonical doc hash into disjoint buckets.
    // precomputedBuckets: the drop's (idCol, band, bh) rows from
    // [[bandBuckets]] over the SAME fold — [[clusterTableIngest]]
    // shares one signature pass over the drop between its within-drop
    // pair leg and this store probe (drops are TB-sized in an
    // always-on pipeline; the kernel is the dominant per-row compute)
    val dropB = precomputedBuckets
      .map(_.select(col(idCol), col("band"), col("bh")))
      .getOrElse(bandBuckets(nfcFolded(drop, textCol, nfcFold), idCol,
        textCol, n, numHashes, bands))
      .withColumnRenamed(idCol, "drop_id")
      .cache()
    val store = graft.ops.TableLayout.readAt(ss, storePath, snap)
      .select(col(idCol).as("store_id"), col("band"), col("bh"))
    // STORE-SIDE BLOOM PRUNES (the incrementalIngest discipline; the
    // blooms build over the CACHED dropB, so each costs one cheap
    // drop-sized job): (a) the bucket probe is an equi-join whose
    // store side is corpus x bands-sized — when the drop outgrows the
    // broadcast threshold the whole store would shuffle per drop, so
    // probe the store scan with a bloom over the drop's (band, bh)
    // keys; (b) the idempotence anti-join's right side is every
    // indexed id (a corpus-sized distinct per drop) — prune it with a
    // bloom over the drop's ids BEFORE the distinct. Right-side
    // pruning by left-key blooms preserves BOTH joins exactly: no
    // false negatives means every matching store row survives, and
    // anti-join semantics only consult right rows that match a left
    // key. False positives only shuffle a few extra rows.
    val nDropB = dropB.count()
    // BOTH blooms in one aggregate job over the cached dropB (they
    // were two scheduled jobs — pure per-drop fixed overhead)
    val Seq(probeBloom, idBloom) = graft.plans.BloomFilterOps
      .buildBlooms(dropB,
        Seq(struct(col("band"), col("bh")), col("drop_id")), nDropB)
    val storePruned = store.filter(graft.plans.BloomFilterOps
      .mightContain(ss, probeBloom, struct(col("band"), col("bh"))))
    val batchPath = freshBatchDir(ss, storePath)
    dropB.join(storePruned, Seq("band", "bh"))
      .where(col("drop_id") =!= col("store_id"))
      .select("drop_id", "store_id").distinct()
      .write.mode("overwrite").parquet(batchPath)
    // idempotent append: a re-delivered drop's ids are already indexed
    val appendRows = dropB
      .join(store
        .filter(graft.plans.BloomFilterOps.mightContain(ss, idBloom,
          col("store_id")))
        .select(col("store_id").as("drop_id")).distinct(),
        Seq("drop_id"), "left_anti")
      .select(col("drop_id").as(idCol), col("band"), col("bh"))
    // TableLayout.append co-locates each bucket's rows before the
    // partitioned append: without that every shuffle task writes a
    // file into every bucket dir it touches — up to tasks x buckets
    // tiny files PER DROP (measured +20 s on the sf0.1 ingest gate
    // from the listing cost alone); one small shuffle makes it ~one
    // file per touched bucket
    if (idBuckets > 0)
      graft.ops.TableLayout.append(
        appendRows.withColumn("ib",
          pmod(graft.functions.Sampling.hashBucket(col(idCol)),
            lit(idBuckets.toLong))),
        storePath, Some("ib"))
    else graft.ops.TableLayout.append(appendRows, storePath, None)
    dropB.unpersist()
    // candidates are committed to the batch dir above, so the
    // compaction commit cannot invalidate anything this call returns.
    // Partitioned stores compact per-BUCKET (each append lands one
    // small file in every touched bucket dir — the same small-files
    // accretion the flat path bounds, at bucket grain).
    if (idBuckets > 0)
      maybeCompactBuckets(ss, storePath, compactAfterFiles, ctx.token)
    else maybeCompactStore(ss, storePath, compactAfterFiles, ctx.token)
    val cand = ss.read.parquet(batchPath)
    val tx = nfcFolded(texts.select(col(idCol), col(textCol)), textCol,
      nfcFold)
    // coverage guard without a corpus shuffle: candIds (candidate-
    // sized) BROADCASTS into a semi-join against the texts scan — a
    // map-side filter — and the anti-join then compares two tiny sets.
    // (A direct texts-side anti-join cannot broadcast — LeftAnti only
    // builds right — and would shuffle the whole corpus per ingest.)
    // cached: the id set feeds the coverage guard TWICE (covered semi +
    // missing anti) and the verification's shingle restriction — three
    // uncached instantiations of the union+distinct subtree otherwise
    // (candidate-sized, tiny)
    val candIds = cand.select(col("store_id").as(idCol))
      .union(cand.select(col("drop_id")))
      .distinct().cache()
    val covered = tx.join(broadcast(candIds), Seq(idCol), "left_semi")
      .select(idCol).distinct()
    val missingRows = candIds.join(covered, Seq(idCol), "left_anti")
      .limit(5).collect()
    require(missingRows.isEmpty,
      "lshIncrementalIngest: candidate ids with no row in `texts` " +
        s"(first few: ${missingRows.map(_.get(0)).mkString(", ")}) — " +
        "`texts` must cover every id ever indexed into the store; an " +
        "incomplete view would silently lose those near-dup pairs")
    val sorted = cand.select(
      least(col("drop_id"), col("store_id")).as("id_a"),
      greatest(col("drop_id"), col("store_id")).as("id_b"))
    // the coverage guard's cached id set IS the candidate id set —
    // the stage shares it (and releases it) instead of re-deriving it,
    // so the one-consumer pair stream needs no cache of its own
    val verified = verifyPairs(sorted, candIds,
      graft.util.Parallelism.fanOut(tx), idCol, textCol, n,
      jaccardScore(threshold), candIds)
    cand.join(verified,
        least(col("drop_id"), col("store_id")) === col("id_a") &&
          greatest(col("drop_id"), col("store_id")) === col("id_b"))
      .select(col("drop_id"), col("store_id"), col("jaccard"))
    }
  }

  /** QUALITY-AWARE representative per near-dup cluster. Min-id keeps
    * an arbitrary member; production dedup keeps the BEST member (the
    * longest / highest-quality-score doc — near-dup clusters typically
    * hold one full page and its truncated or boilerplate-wrapped
    * copies). Input: one row per doc with its cluster label
    * ([[connectedComponents]] output joined to a score); output: one
    * row per cluster with the argmax member (score DESC, id ASC on
    * ties) plus member count and score mass.
    *
    * Scale shape: ONE map-side-combined aggregate — the argmax rides a
    * `max(struct(score, -id))` instead of a per-cluster sort window,
    * so a pathological mega-cluster costs one combiner slot, not a
    * single-task sort. Requires a numeric score and a signed numeric
    * id (the negation is how struct-max breaks ties toward MIN id). */
  def clusterRepresentatives(labeled: DataFrame, idCol: String,
      clusterCol: String, scoreCol: String): DataFrame =
    labeled.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("n_members"),
        sum(col(scoreCol)).as("total_score"),
        max(struct(col(scoreCol).as("s"), (-col(idCol)).as("negid")))
          .as("__best"))
      .select(col(clusterCol), (-col("__best.negid")).as("rep_id"),
        col("__best.s").as("rep_score"), col("n_members"),
        col("total_score"))

  // ------------------------------------------------------------------
  // Persisted cluster table — cluster once, derive many
  // ------------------------------------------------------------------

  /** Run the LSH→verify→CC pipeline ONCE and persist the `(id,
    * cluster)` labels as plain parquet — the cluster TABLE. Production
    * near-dedup derives several artifacts from the same clustering
    * (leakage-safe splits, quality-aware representatives, the keeper
    * filter); recomputing the full LSH→verify→CC pass per artifact
    * multiplies the single most expensive corpus scan by the number of
    * consumers (at 100 TB: hours per pass). The store discipline
    * matches [[fingerprintStoreInit]]: durable, auditable, rebuildable
    * from the corpus. Labels are the CC contract — `cluster` = min
    * member id, singletons label themselves, every corpus id gets a
    * row. `checkpointDir` forwards the CC reliable-truncation knob for
    * cluster runs. */
  def clusterTableInit(corpus: DataFrame, idCol: String, textCol: String,
      storePath: String, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.5,
      maxBucketSize: Option[Int] = None,
      checkpointDir: Option[String] = None,
      idBuckets: Int = 64, nfcFold: Boolean = true): Unit = {
    val ss = corpus.sparkSession
    graft.ops.StoreLock.withLock(ss, storePath) {
    // ONE minhash signature pass over the corpus, shared by the pair
    // generation AND the band store below — the two artifacts need the
    // same full-corpus band-bucket table, and the signature kernel
    // (shingles + numHashes hashes per doc) is the dominant per-row
    // compute of the whole init; at 100 TB this halves the corpus
    // scans of the most expensive store build in the engine.
    // (bandBuckets' own input-side guard makes an output-side fanOut
    // a provable no-op — and its probe would materialize the guard's
    // repartition exchange as a wasted job)
    val fullBuckets = bandBuckets(nfcFolded(corpus, textCol, nfcFold),
        idCol, textCol, n, numHashes, bands)
      .cache()
    // the co-located LSH band store: [[clusterTableIngest]] probes it
    // to find a drop's near-dups in the standing corpus without
    // re-running LSH over corpus + drop. It shares the labels table's
    // id-bucket layout so [[clusterTableRetract]]'s purge is a
    // touched-partition rewrite on BOTH stores (the band store is the
    // corpus x bands-sized artifact — a flat layout would make every
    // retraction an O(corpus) full-store rewrite).
    // Written FIRST so the store write is what materializes the cache.
    lshStoreInit(corpus, idCol, textCol, storePath + "/lsh",
      n, numHashes, bands, nfcFold, idBuckets = idBuckets,
      precomputedBuckets = Some(fullBuckets))
    val pairs = minHashLshPairs(corpus, idCol, textCol, n, numHashes,
        bands, threshold, maxBucketSize, nfcFold,
        precomputedBuckets = Some(fullBuckets))
      .select("id_a", "id_b")
    // the verified near-dup pair set is duplicate-rate-sized, not
    // corpus-sized, so connectedComponents' bounded fetch normally
    // takes the driver union-find (one job + one broadcast); a pair set
    // past its edge bound takes the large-star/small-star branch
    val labelRows = connectedComponents(corpus, idCol, pairs,
        checkpointDir = checkpointDir)
      .select(col("id").as(idCol), col("cluster"))
      .withColumn("ver", lit(0L))
      // STABLE partition key (id bucket, never the mutable label):
      // ingest-time label remaps rewrite only the buckets holding
      // touched rows, via TableLayout's partition-scoped merge
      .withColumn("ib",
        pmod(graft.functions.Sampling.hashBucket(col(idCol)),
          lit(idBuckets.toLong)))
    // the labels store takes its OWN nested lease (the lsh sibling
    // already does): TableLayout's commit re-verifies the epoch at
    // the store root it publishes to. The commit pins the LAYOUT
    // parameters: a later ingest or retraction run with a different
    // idBuckets would put a key's update row in a different partition
    // than its live row — the keys-don't-move precondition of the
    // partition-scoped merge — leaving duplicate (or, for retraction,
    // mass-deleted) labels. The NFC fold is pinned for the same reason
    // as the band store's.
    graft.ops.StoreLock.withLockCtx(ss, storePath + "/labels") { lctx =>
      graft.ops.TableLayout.publish(labelRows, storePath + "/labels",
        Some("ib"), lctx.token, pins = Map(
          "id_buckets" -> idBuckets.toString, "nfc" -> nfcFold.toString))
    }
    fullBuckets.unpersist()
    }
  }

  /** The persisted `(id, cluster, ver, ib)` labels
    * ([[clusterTableInit]]). Fails loudly while a retraction-intent
    * marker is pending ([[clusterTableRetract]]): between the marker
    * commit and the labels swap, retracted ids are still live in the
    * table — for a right-to-be-forgotten operation that partial state
    * must never be served silently. */
  def clusterTable(ss: SparkSession, storePath: String): DataFrame = {
    requireNoPendingRetraction(ss, storePath)
    graft.ops.TableLayout.read(ss, storePath + "/labels")
  }

  private def retractMarkerPath(storePath: String): String =
    storePath + "/retract.intent"

  private def requireNoPendingRetraction(ss: SparkSession,
      storePath: String): Unit = {
    val marker = new org.apache.hadoop.fs.Path(retractMarkerPath(storePath))
    val fs = marker.getFileSystem(ss.sessionState.newHadoopConf())
    if (fs.exists(marker))
      throw new IllegalStateException(
        s"cluster table at $storePath has a PENDING RETRACTION " +
          s"(intent marker at $marker): a prior clusterTableRetract " +
          "crashed between its commits, so retracted ids may still be " +
          "live in the labels. Re-run clusterTableRetract (even with " +
          "an empty id set) to complete it — the marker's ids are " +
          "folded in automatically — then reads and ingests resume.")
  }

  /** The labels snapshot a mutation starts from, resolved once, with
    * its validated layout pin ([[clusterTableInit]]):
    * `(idBuckets, nfcFold, snap)`. Every mutation path must run under
    * the pinned layout or the partition merge corrupts the table. A
    * mutation's rows carry `ver = snap.version + 1`, the version of
    * the one labels commit that writes them: init writes `ver = 0` at
    * version >= 1 and a compaction bumps the version alone, so every
    * live `ver` is at most the live version and the merge's "strictly
    * greater wins" holds. Also rejects a table with a pending
    * retraction marker (ingesting over silently-incomplete state would
    * bake the partial retraction in); [[clusterTableRetract]] itself
    * reads the pin unchecked, since completing the pending retraction
    * is exactly its job. */
  private def labelsPin(ss: SparkSession,
      storePath: String): (Int, Boolean, graft.ops.TableLayout.Snapshot) = {
    requireNoPendingRetraction(ss, storePath)
    labelsPinUnchecked(ss, storePath)
  }

  private def labelsPinUnchecked(ss: SparkSession, storePath: String)
      : (Int, Boolean, graft.ops.TableLayout.Snapshot) = {
    val snap = graft.ops.TableLayout.resolveOpt(ss, storePath + "/labels")
    (for (s <- snap; ib <- s.pins.get("id_buckets");
          nfc <- s.pins.get("nfc"))
      yield (ib.toInt, nfc.toBoolean, s)).getOrElse(
      throw new IllegalStateException(
        s"no labels-layout pin in the manifest at $storePath/labels — " +
          "the cluster table was not initialized by this version's " +
          "clusterTableInit; re-init the table"))
  }

  /** INCREMENTAL cluster-table maintenance — near-dup clustering as an
    * always-on ingest instead of a batch rebuild. Classifies a new
    * drop against the persisted table and extends it:
    *
    *   1. within-drop near-dup pairs ([[minHashLshPairs]], drop-sized);
    *   2. drop x standing pairs via ONE bucket equi-join against the
    *      co-located band store ([[lshIncrementalIngest]], which also
    *      appends the drop's buckets so the NEXT drop sees this one);
    *   3. the standing side of each cross pair collapses to its LABEL
    *      (store-store connectivity is already folded into labels),
    *      so the merge graph has drop ids + touched labels as nodes —
    *      DELTA-sized, never corpus-sized;
    *   4. [[connectedComponents]] over that delta graph; a component's
    *      new label = its min member, which equals the min id of the
    *      full-graph component — so INCREMENTAL LABELS ARE EXACTLY THE
    *      FROM-SCRATCH LABELS over corpus + drop (the gate proves this
    *      against the same recursive-closure oracle);
    *   5. updates (new drop rows + remapped members of merged
    *      clusters) merge into the labels table via
    *      [[graft.ops.MergeUpsert.mergeByKey]] — only id-buckets
    *      holding touched rows rewrite.
    *
    * `texts` must cover every id ever indexed plus the drop (the
    * [[lshIncrementalIngest]] contract); ids must be unique across
    * corpus + drop. SINGLE WRITER per store, like the other ingests.
    * Re-delivering a drop recomputes the same labels at a higher
    * version — idempotent. Returns the drop's `(id, cluster)` labels.
    */
  def clusterTableIngest(drop: DataFrame, texts: DataFrame,
      idCol: String, textCol: String, storePath: String, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.5,
      checkpointDir: Option[String] = None): DataFrame = {
    val ss = drop.sparkSession
    graft.ops.StoreLock.withLock(ss, storePath) {
    // layout comes from the PIN, never from a caller parameter — a
    // drifted idBuckets would violate the keys-don't-move merge
    // precondition (duplicate live rows); a drifted fold, the bucket
    // hashes (lshIncrementalIngest revalidates the latter)
    val (idBuckets, nfcFold, labelsSnap) = labelsPin(ss, storePath)
    if (drop.isEmpty) {
      // empty drop (idle streaming trigger): nothing to pair, label,
      // or version-bump — return the empty label set for the price of
      // one limit-1 scan instead of the full probe/CC/merge choreography
      // (~80 scheduled jobs of pure fixed overhead, measured)
      drop.select(col(idCol)).withColumn("cluster", col(idCol)).limit(0)
    } else {
    // ONE minhash signature pass over the drop, shared by the
    // within-drop pair leg and the store probe (the same sharing
    // clusterTableInit does for the corpus — see there)
    // (no output-side fanOut: see clusterTableInit's fullBuckets note)
    val dropBuckets = bandBuckets(nfcFolded(drop, textCol, nfcFold),
        idCol, textCol, n, numHashes, bands)
      .cache()
    val inPairs = minHashLshPairs(drop, idCol, textCol, n, numHashes,
        bands, threshold, nfcFold = nfcFold,
        precomputedBuckets = Some(dropBuckets))
      .select("id_a", "id_b")
    val xPairs = lshIncrementalIngest(drop, texts, idCol, textCol,
        storePath + "/lsh", n, numHashes, bands, threshold,
        nfcFold = nfcFold, precomputedBuckets = Some(dropBuckets))
      .select("drop_id", "store_id")
    val labels = graft.ops.TableLayout.readAt(ss, storePath + "/labels",
      labelsSnap)
    // cached: the upstream plan is the WHOLE probe-and-verify pipeline
    // (lazy on return from lshIncrementalIngest) — consumed by the CC
    // edge cache AND the node derivation, it would otherwise re-run
    // candidate verification twice; the relation itself is pair-count-
    // sized
    val xLab = xPairs
      .join(labels.select(col(idCol).as("store_id"),
        col("cluster").as("__lab")), Seq("store_id"))
      .select(col("drop_id").as("id_a"), col("__lab").as("id_b"))
      .cache()
    val edges = inPairs.unionByName(xLab).distinct()
    val nodes = drop.select(col(idCol))
      .unionByName(xLab.select(col("id_b").as(idCol)))
      .distinct()
    // delta graph: drop ids + touched labels only — delta-sized by
    // construction, so connectedComponents' bounded fetch takes the
    // driver union-find; a delta past its edge bound takes the
    // large-star/small-star branch
    val comp = connectedComponents(nodes, idCol, edges,
      checkpointDir = checkpointDir).cache()
    xLab.unpersist()
    val newVer = labelsSnap.version + 1L
    val dropLab = comp
      .join(drop.select(col(idCol).as("id")), Seq("id"), "left_semi")
    // touched labels whose component min moved: remap old -> new
    val remap = comp
      .join(drop.select(col(idCol).as("id")), Seq("id"), "left_anti")
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as("__old"), col("cluster").as("__new"))
    val ibOf = (c: Column) =>
      pmod(graft.functions.Sampling.hashBucket(c), lit(idBuckets.toLong))
    val newRows = dropLab.select(col("id").as(idCol), col("cluster"),
      lit(newVer).as("ver"), ibOf(col("id")).as("ib"))
    // members of merged clusters (remap is merge-count-sized: broadcast)
    val movedRows = labels
      .join(broadcast(remap), col("cluster") === col("__old"))
      .select(col(idCol), col("__new").as("cluster"),
        lit(newVer).as("ver"), col("ib"))
    // cached: the updates plan (CC joins + a labels scan for moved
    // members) is otherwise evaluated twice — once for the merge's
    // touched-partition collect, once for the staged write
    val updates = newRows.unionByName(movedRows).cache()
    graft.ops.StoreLock.withLockCtx(ss, storePath + "/labels") { lctx =>
      graft.ops.TableLayout.mergeByKey(ss, storePath + "/labels",
        updates, Seq(idCol), "ver", lctx.token)
    }
    updates.unpersist()
    comp.unpersist()
    dropBuckets.unpersist()
    // read back from the COMMITTED store (the merge above swapped the
    // labels path — a lazy plan over pre-merge state would recompute
    // against the new table; the committed rows are the truth anyway)
    clusterTable(ss, storePath)
      .join(drop.select(col(idCol)), Seq(idCol), "left_semi")
      .select(col(idCol), col("cluster"))
    }
    }
  }

  /** RETRACTION — the right-to-be-forgotten path for the cluster
    * table: remove docs and REPAIR every cluster they touched.
    * Removing a member can both change a cluster's label (it was the
    * min id) and SPLIT the cluster (it was the connective tissue of a
    * near-dup chain); stored labels do not keep the pair edges, so the
    * affected clusters' SURVIVING texts are re-clustered from scratch
    * — affected-cluster-sized work, never a corpus re-cluster, and
    * complete BY CONSTRUCTION: no survivor can pair with a doc outside
    * its old cluster (such a pair would have put them in one cluster
    * already), so the re-clustered slice is closed.
    *
    * Commits, in order: (0) a RETRACTION-INTENT MARKER (the removed
    * ids) lands at `<storePath>/retract.intent` — a crash anywhere
    * after this point leaves the marker in place, and every read or
    * ingest of the table fails loudly until a re-run of this method
    * (which folds the marker's ids in automatically) completes the
    * pair of commits; without the marker, a crash between (1) and (2)
    * left retracted ids silently live in the labels with no signal.
    * (1) The removed ids' bucket rows leave the co-located LSH band
    * store: the store shares the labels' id-bucket layout
    * ([[clusterTableInit]]), so the purge rewrites ONLY the id-bucket
    * partitions holding removed ids via
    * [[graft.ops.MergeUpsert.replacePartitions]] — O(touched buckets)
    * IO, never the O(corpus) full-store rewrite (a flat legacy store
    * falls back to the side-dir full rewrite). (2) The touched
    * id-bucket partitions of the labels table rewrite the same way —
    * removed rows vanish (an emptied bucket's directory is deleted),
    * survivors carry their re-clustered labels at the next version.
    * Then the marker is deleted. `texts` must cover the surviving
    * members of affected clusters. SINGLE WRITER, as with the other
    * store mutations. */
  def clusterTableRetract(removeIds: DataFrame, texts: DataFrame,
      idCol: String, textCol: String, storePath: String, n: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.5,
      checkpointDir: Option[String] = None): Unit = {
    val ss = removeIds.sparkSession
    import org.apache.hadoop.fs.Path
    graft.ops.StoreLock.withLock(ss, storePath) {
    // layout from the pin (see clusterTableIngest): a drifted
    // idBuckets here would stage newRows into an untouched partition
    // and then REPLACE that partition's whole contents with them.
    // UNCHECKED read: a pending marker is not an error HERE — this
    // method is how a pending retraction completes.
    val (idBuckets, nfcFold, labelsSnap) =
      labelsPinUnchecked(ss, storePath)
    // the band store's layout through the same validated pin read
    // ingest uses, BEFORE anything commits: an unreadable pin fails
    // loudly with both stores unchanged (a fallback to the flat layout
    // would republish an `ib`-partitioned store unpartitioned, and
    // every later append would then fail its layout check)
    val lshPath = storePath + "/lsh"
    val lshBuckets =
      lshPins(ss, lshPath, graft.ops.TableLayout.resolve(ss, lshPath))._5
    val marker = new Path(retractMarkerPath(storePath))
    val fs = marker.getFileSystem(ss.sessionState.newHadoopConf())
    // fold a pending marker's ids into this run: both retractions are
    // then completed by the one pass (idempotent — the purge anti-join
    // and the re-cluster are fixpoints for already-removed ids)
    val pendingIds: Option[DataFrame] =
      if (fs.exists(marker))
        Some(ss.read.parquet(marker.toString).select(col(idCol)))
      else None
    val remove = pendingIds
      .foldLeft(removeIds.select(col(idCol)))(_ unionByName _)
      .distinct().cache()
    // 0. commit the intent marker ATOMICALLY (write to a side dir,
    // rename into place): a half-written marker dir would block reads
    // without carrying recoverable ids. A pre-existing marker stays as
    // committed — its ids are already folded into `remove`, and this
    // run's caller re-runs on failure anyway.
    if (pendingIds.isEmpty) {
      val mTmp = new Path(storePath + "/retract.intent.tmp-" +
        java.util.UUID.randomUUID())
      remove.withColumn("retract_ts", lit(System.currentTimeMillis()))
        .coalesce(1).write.mode("overwrite").parquet(mTmp.toString)
      require(fs.rename(mTmp, marker),
        s"clusterTableRetract: could not commit the intent marker at " +
          s"$marker — aborting before any store mutation")
    }
    // 1. purge the band store: partition-scoped when the store carries
    // the id-bucket layout (the clusterTableInit default) — only the
    // buckets holding removed ids are read and swapped. The band
    // store's OWN lease is taken too: a standalone lshIncrementalIngest
    // racing the purge would otherwise re-append the retracted ids'
    // buckets mid-swap.
    graft.ops.StoreLock.withLockCtx(ss, lshPath) { lshCtx =>
    val lshSnap = graft.ops.TableLayout.resolve(ss, lshPath)
    if (lshBuckets > 0) {
      val ibOfLsh = pmod(graft.functions.Sampling.hashBucket(col(idCol)),
        lit(lshBuckets.toLong))
      // touched bucket VALUES derive from the removed ids alone —
      // bucket-count-bounded, no store scan
      val touchedVals = remove
        .select(ibOfLsh.cast("int").as("ib")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      // no pre-materialization: the purged rows land in a NEW
      // snapshot generation ([[graft.ops.TableLayout]]), so this
      // lazy plan's source partitions are never swapped out from
      // under it — and a concurrent reader keeps the prior complete
      // snapshot through the GC grace window
      val replacement = graft.ops.TableLayout.readAt(ss, lshPath, lshSnap)
        .filter(col("ib").isin(touchedVals: _*))
        .join(remove.withColumnRenamed(idCol, "__rm"),
          col(idCol) === col("__rm"), "left_anti")
        .drop("__rm")
      graft.ops.TableLayout.replacePartitions(ss, lshPath,
        replacement, touchedVals.map(_.toString), lshCtx.token)
      log.info(s"clusterTableRetract: purged ${touchedVals.length} of " +
        s"$lshBuckets band-store bucket(s): ${touchedVals.mkString(", ")}")
    } else {
      // legacy flat band store: versioned full rewrite — O(corpus)
      // IO; re-init with the bucketed layout to make retraction
      // delta-sized
      graft.ops.TableLayout.publish(
        graft.ops.TableLayout.readAt(ss, lshPath, lshSnap)
          .join(remove.withColumnRenamed(idCol, "__rm"),
            col(idCol) === col("__rm"), "left_anti")
          .drop("__rm"),
        lshPath, None, lshCtx.token, pins = lshSnap.pins)
    }
    }
    // 2. re-cluster the affected clusters' survivors
    val labels = graft.ops.TableLayout.readAt(ss, storePath + "/labels",
      labelsSnap).cache()
    val affected = labels.join(remove, Seq(idCol), "left_semi")
      .select("cluster").distinct()
    val members = labels.join(affected, Seq("cluster"), "left_semi")
      .cache()
    val survivors = members.join(remove, Seq(idCol), "left_anti")
      .select(col(idCol))
    val surTexts = texts.select(col(idCol), col(textCol))
      .join(survivors, Seq(idCol), "left_semi")
    // coverage guard (the lshIncrementalIngest discipline): a survivor
    // with no row in `texts` would get no re-clustered label while
    // keptRows drops every affected-cluster member — the doc would
    // silently VANISH from the table as if it had been retracted
    val missingRows = survivors
      .join(surTexts.select(col(idCol)), Seq(idCol), "left_anti")
      .limit(5).collect()
    require(missingRows.isEmpty,
      "clusterTableRetract: surviving cluster members with no row in " +
        s"`texts` (first few: ${missingRows.map(_.get(0)).mkString(", ")}) " +
        "— `texts` must cover every surviving member of the affected " +
        "clusters, or they would silently disappear from the table")
    val pairs = minHashLshPairs(surTexts, idCol, textCol, n, numHashes,
      bands, threshold, nfcFold = nfcFold).select("id_a", "id_b")
    // affected-cluster-sized by construction (see method doc), so the
    // bounded fetch takes the driver union-find, as for the ingest delta
    val relab = connectedComponents(surTexts.select(col(idCol)), idCol,
      pairs, checkpointDir = checkpointDir)
    val newVer = labelsSnap.version + 1L
    val ibOf = (c: Column) =>
      pmod(graft.functions.Sampling.hashBucket(c), lit(idBuckets.toLong))
    val newRows = relab.select(col("id").as(idCol),
      col("cluster"), lit(newVer).as("ver"), ibOf(col("id")).as("ib"))
    // replacement = the touched buckets' rows minus every affected-
    // cluster member, plus the survivors' re-clustered rows — removed
    // ids appear in neither, so they are GONE after the swap
    val touchedVals = members.select(col("ib").cast("string"))
      .distinct().collect().map(_.getString(0)).toSeq.sorted
    val keptRows = labels
      .filter(col("ib").cast("string").isin(touchedVals: _*))
      .join(members.select(col(idCol)), Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster"), col("ver"), col("ib"))
    // ver/ib column types must match across the union: keptRows reads
    // back discovery-typed columns while newRows carries fresh longs —
    // align on the read-back types so the staged write's partition
    // values render identically
    val replacement = keptRows.unionByName(newRows
      .select(col(idCol), col("cluster"),
        col("ver").cast(keptRows.schema("ver").dataType),
        col("ib").cast(keptRows.schema("ib").dataType)))
    // no pre-materialization (see the band-store leg above): the
    // rewrite lands in a new snapshot generation
    graft.ops.StoreLock.withLockCtx(ss, storePath + "/labels") { lctx =>
      graft.ops.TableLayout.replacePartitions(ss, storePath + "/labels",
        replacement, touchedVals, lctx.token)
    }
    labels.unpersist(); members.unpersist(); remove.unpersist()
    // both commits landed — clear the intent marker; reads and
    // ingests resume
    require(fs.delete(marker, true),
      s"clusterTableRetract: both stores are retracted but the intent " +
        s"marker $marker could not be deleted — remove it manually to " +
        "unblock reads")
    }
  }

  /** Leakage-safe split FROM the persisted table: the
    * [[graft.functions.Sampling.splitLabel]] hash of the CLUSTER label
    * (not the doc id), so near-dup members land in one split — without
    * re-running any clustering. One scan of the label table. */
  def clusterTableSplit(ss: SparkSession, storePath: String,
      idCol: String, trainBp: Int = 8000, validBp: Int = 1000): DataFrame =
    clusterTable(ss, storePath).select(col(idCol), col("cluster"),
      graft.functions.Sampling.splitLabel(col("cluster"), trainBp, validBp)
        .as("split"))

  /** Quality-aware representatives FROM the persisted table: join the
    * labels to a `(id, score)` relation and run
    * [[clusterRepresentatives]] — one label-table equi-join plus the
    * struct-max aggregate, no clustering re-run. */
  def clusterTableRepresentatives(ss: SparkSession, storePath: String,
      scores: DataFrame, idCol: String, scoreCol: String): DataFrame =
    clusterRepresentatives(
      clusterTable(ss, storePath).join(scores.select(col(idCol),
        col(scoreCol)), Seq(idCol)),
      idCol, "cluster", scoreCol)

  /** Keeper filter FROM the persisted table: keep exactly the rows of
    * `df` whose id is its cluster's label (the min member — the CC
    * keeper contract). One broadcast-able semi-join against the
    * label table's keeper projection. Rows of `df` ABSENT from the
    * table are dropped by the semi-join — the table must cover the
    * corpus `df` came from (ingest new docs first); this filter does
    * not detect coverage gaps itself. */
  def clusterTableKeep(df: DataFrame, storePath: String,
      idCol: String): DataFrame =
    df.join(clusterTable(df.sparkSession, storePath)
        .where(col(idCol) === col("cluster")).select(idCol),
      Seq(idCol), "left_semi")
}
