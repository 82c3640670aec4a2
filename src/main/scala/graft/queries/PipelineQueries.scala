package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.Dedup
import graft.functions.{TextFunctions => T}
import graft.ops.{HistogramOps => H}
import graft.similarity.Similarity
import graft.text.TextIndex

/** Training-data pipeline operators over `documents` / `embeddings`:
  * text analysis, dedup (exact + near-dup), similarity search. Every
  * query carries a DuckDB oracle: SQL-expressible ops directly;
  * LSH-family ops via exact-counterpart SQL at verified-exhaustive
  * parameters; SimHash via a full SQL restatement of the signature
  * pipeline under the engine-portable token hash
  * ([[graft.plans.PortableHash64Expr]]).
  */
object PipelineQueries {
  private type Q = (SparkSession, String) => DataFrame

  /** Cluster-once memo: the first consumer per (app, data dir) pays
    * one [[Dedup.clusterTableInit]] (the LSH→verify→CC corpus pass),
    * later consumers read the persisted labels — the production
    * "cluster once, derive many" discipline, surfaced in the gate
    * suite itself. Correctness does not lean on the sharing: every
    * riding query still hash-matches its own from-scratch DuckDB
    * closure oracle, so a stale or wrong table fails the gate. */
  private def memoClusterTable(s: SparkSession, d: String, tag: String)(
      corpus: => DataFrame): String =
    memoStore(s, d, "clustertable-" + tag)(dir =>
      Dedup.clusterTableInit(corpus, "doc_id", "text",
        dir, n = 3, numHashes = 64, bands = 16, threshold = 0.5))

  /** Build-once store memo behind every shared fixture store (cluster
    * tables, the text index, the IVF and IVFADC indexes): the first
    * call per (app, data dir, tag) runs `build` into a fresh scoped
    * dir, later calls return that dir. */
  private val storeDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def memoStore(s: SparkSession, d: String, tag: String)(
      build: String => Unit): String =
    storeDirs.computeIfAbsent(
      s.sparkContext.applicationId + "|" + d + "|" + tag, _ => {
        val dir = graft.util.TempDirs.scoped("graft-" + tag).toString +
          "/store"
        build(dir)
        dir
      })
  private def sharedClusterTable(s: SparkSession, d: String): String =
    memoClusterTable(s, d, "full")(Tables.documents(s, d))
  /** The standing-corpus (doc_id % 3 <> 0) twin of the memo — the
    * ingest-shaped gates all init on this split. */
  private def sharedStandingClusterTable(s: SparkSession, d: String): String =
    memoClusterTable(s, d, "standing3")(
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .where(col("doc_id") % 3 =!= 0))

  /** Build-once memo for the FULL-CORPUS text index (the
    * cluster-table discipline applied to retrieval): q_text_bm25_topk,
    * q_text_phrase and q_text_hybrid_rrf serve the identical
    * nBuckets=32 index over `documents` — production builds one index
    * per corpus, consumers serve it. Correctness does not lean on the
    * sharing: each rider still hash-matches its own from-scratch
    * DuckDB restatement, so a stale or wrong shared index fails the
    * gate. Mutating gates (append/stream/compact) build private
    * stores as before. The memo is never invalidated within an
    * application: if a harness rewrites the corpus under `d` and
    * re-runs these gates in the SAME Spark app, they fail red against
    * the fresh-corpus oracle (safe direction) — use a fresh app per
    * data generation, as Verify/Bench do. */
  private def sharedTextIndex(s: SparkSession, d: String): String =
    memoStore(s, d, "textidx-shared")(p =>
      TextIndex.build(Tables.documents(s, d), "doc_id", "text", p,
        nBuckets = 32))

  /** Build-once memo for the trained+appended IVF index (the shared
    * text-index discipline applied to the ANN family): train/build on
    * the base slice, append the held-out tenth — the exact setup
    * q_sim_ann_index serves and the retraction/vacuum gates mutate
    * through a copy-on-write clone. Production trains ONE index per
    * corpus; consumers serve it. Correctness does not lean on the
    * sharing: every consumer still hash-matches its own from-scratch
    * training-replay oracle, so a stale or wrong shared index fails
    * the gate. */
  private def sharedIvfIndex(s: SparkSession, d: String): String =
    memoStore(s, d, "ivf-shared") { p =>
      val e = Tables.embeddings(s, d)
      Similarity.ivfIndexBuild(e.filter(col("vec_id") % 10 =!= 9),
        "vec_id", "embedding", nCells = 8, iters = 2, path = p)
      Similarity.ivfIndexAppend(e.filter(col("vec_id") % 10 === 9),
        "vec_id", "embedding", path = p)
    }

  /** The IVFADC twin of [[sharedIvfIndex]]: coarse cells and the
    * residual codebook trained on the base slice, the held-out tenth
    * appended — the index q_sim_ann_ivfpq_index serves and the IVFADC
    * recall, retraction and maintain gates read or clone. */
  private def sharedIvfPqIndex(s: SparkSession, d: String): String =
    memoStore(s, d, "ivfpq-shared") { p =>
      val e = Tables.embeddings(s, d)
      Similarity.ivfPqIndexBuild(e.filter(col("vec_id") % 10 =!= 9),
        "vec_id", "embedding", nCells = 8, itersCoarse = 2,
        m = 4, ks = 4, itersPq = 1, path = p)
      Similarity.ivfPqIndexAppend(e.filter(col("vec_id") % 10 === 9),
        "vec_id", "embedding", path = p)
    }

  /** Copy-on-write handoff for gates that MUTATE a cluster table:
    * file-copy the memoized pristine store into a private dir and
    * mutate the copy. The thing under test in those gates is the
    * incremental OPERATOR (ingest / retraction / streamed drops), not
    * the init — which q_dedup_clusters and the memo's first consumer
    * already measure — and production maintains ONE standing table
    * per corpus rather than re-clustering per consumer (the
    * cluster-once discipline, extended to mutators). Correctness does
    * not lean on the sharing: every mutating gate still hash-matches
    * its own from-scratch DuckDB closure oracle over the post-mutation
    * corpus, so a stale or wrong pristine table fails the gate. */
  private def cowClusterTable(s: SparkSession, src: String,
      tag: String): String = {
    val dst = graft.util.TempDirs.scoped(tag).toString + "/store"
    // HARDLINK clone, not a byte copy: every store mutation in the
    // engine is new-file + atomic-rename + unlink (TableLayout
    // manifest and generation commits, gc, compaction) — never an
    // in-place rewrite — so clones can share the immutable
    // bytes; a mutation on the clone creates fresh files and unlinks
    // links without touching the shared inodes. Cuts the per-gate COW
    // staging from a full store copy to directory metadata. Falls
    // back to the plain recursive copy when the filesystem refuses
    // links (cross-device, non-posix) or read-only bits.
    // ENFORCE the invariant the sharing leans on: the pristine source
    // files go read-only before the first clone (idempotent, metadata
    // only). Rename/unlink on clone or source still work (directory
    // perms untouched), but any future in-place write — the one
    // mutation class that would corrupt the shared inodes and every
    // later gate cloned from them — fails loudly instead of silently.
    // LIMIT: a process with CAP_DAC_OVERRIDE (root) writes through
    // read-only bits, so there the freeze guards nothing. The real
    // protection is that every store mutation is unlink + create-new
    // (a manifest commit is a temp write renamed to a fresh name, an
    // epoch stamp is StoreLock.stampEpoch), never a rewrite.
    def freezeTree(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles().foreach(freezeTree)
      else require(f.setWritable(false, false), s"cow: cannot freeze $f")
    def linkTree(from: java.io.File, to: java.io.File): Unit = {
      if (from.isDirectory) {
        require(to.isDirectory || to.mkdirs(), s"cow: mkdir $to failed")
        from.listFiles().foreach(c =>
          linkTree(c, new java.io.File(to, c.getName)))
      } else java.nio.file.Files.createLink(to.toPath, from.toPath)
    }
    try { freezeTree(new java.io.File(src))
      linkTree(new java.io.File(src), new java.io.File(dst)) }
    catch { case scala.util.control.NonFatal(_) =>
      import org.apache.hadoop.fs.{FileUtil, Path}
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(dst)) // partial link tree, if any
      val conf = s.sessionState.newHadoopConf()
      val sp = new Path(src)
      val fs = sp.getFileSystem(conf)
      require(FileUtil.copy(fs, sp, fs, new Path(dst), false, conf),
        s"cluster-table copy $src -> $dst failed")
    }
    dst
  }

  val defs: Map[String, Q] = Map(
    // Token counting: whitespace + BPE-ish subword boundaries.
    "q_t_token_stats" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(T.tokenCount(col("text"))).as("ws_tokens"),
          sum(T.bpeishTokenCount(col("text"))).as("bpe_tokens"),
          // x1000-bigint fixed point: rounded-double avg drifted at ulp
          // level vs DuckDB in r1 (sum of ints < 2^53 is exact in double
          // on both engines, so the scaled round is bit-exact).
          bround(avg(col("n_chars")) * lit(1000.0), 0).cast("bigint")
            .as("avg_chars_x1000"))
        .orderBy("lang")
    }),

    // Document fingerprinting: rolling-hash winnowing (k=8, w=4) via
    // the native expression — scalar summary per doc (count/min/max of
    // the fingerprint set) so the result is hash-comparable.
    "q_t_winnow" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.plans.WinnowFingerprintsExpr
            .winnowFingerprints(s, col("text"), 8, 4).as("fp"))
        .select(col("doc_id"),
          // coalesce: a null text yields a null fp array, but the
          // oracle's LEFT JOIN + coalesce reports 0 fingerprints
          coalesce(size(col("fp")), lit(0)).cast("bigint").as("n_fp"),
          when(size(col("fp")) > 0, element_at(col("fp"), 1)).as("min_fp"),
          when(size(col("fp")) > 0, element_at(col("fp"), size(col("fp"))))
            .as("max_fp"))
        .orderBy("doc_id")
    }),

    // BPE tokenizer TRAINING (Sennrich et al. 2016): 6 merge rounds
    // over the corpus word table. The induced merge sequence — pair
    // choice, tie order AND the greedy non-overlapping application
    // feeding each next round — is recomputed from scratch by the
    // oracle's unrolled-round SQL (replace() over separator-wrapped
    // symbol strings, identical semantics in both engines).
    "q_t_bpe" -> ((s, d) => {
      graft.functions.Bpe.train(Tables.documents(s, d), "text",
          numMerges = 6)
        .orderBy("merge_rank")
    }),

    // BPE tokenizer APPLICATION through the NATIVE kernel
    // (BpeSegmentExpr): train 24 merges, then segment the whole corpus
    // in ONE plan node whose size is independent of the vocabulary
    // (the nested-transform twin hits the analyzer's 100-iteration
    // wall past ~100 merges). The oracle re-derives the same 24
    // merges via the unrolled replace chain; its w25 table IS each
    // word's segmentation, joined back to every document's word
    // stream. md5 over the per-doc symbol stream pins the exact
    // symbols byte-for-byte.
    "q_t_bpe_segment" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("text").isNotNull)
      val merges = graft.functions.Bpe.train(docs, "text", numMerges = 24)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.functions.Bpe.segmentFast(docs, "text", merges)
        .select(col("doc_id"), col("n_symbols"),
          md5(array_join(col("bpe_symbols"), "\u001e")).as("sym_md5"))
        .orderBy("doc_id")
    }),

    // Gopher-style repetition signals (Rae et al. 2021 A1): duplicate
    // -token fraction + top-2/3-gram fraction quality gates. Outputs
    // are exact integer counts and an integer-math pass flag — nothing
    // floating-point to drift between engines.
    "q_t_repetition" -> ((s, d) => {
      T.repetitionStats(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // PII redaction. The corpus is PII-free word salad, so the fixture
    // PLANTS deterministic PII derived from doc_id — the oracle builds
    // the identical augmented column in SQL; a zero-hit redaction
    // query would verify nothing (the r1 embed_neardup lesson). Counts
    // come from the pre-redaction text; the md5 pins the exact
    // redacted output byte-for-byte.
    "q_t_pii" -> ((s, d) => {
      val aug = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" ip 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".7 ping"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" call +1 555 0"), (lit(100) + col("doc_id") % 100).cast("string"),
            lit(" end"))).otherwise(lit("")))
      Tables.documents(s, d)
        .select(col("doc_id"), aug.as("aug"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("aug"), lit(T.emailPattern), lit(0)))
            .cast("bigint").as("n_email"),
          size(regexp_extract_all(col("aug"), lit(T.ipv4Pattern), lit(0)))
            .cast("bigint").as("n_ip"),
          size(regexp_extract_all(col("aug"), lit(T.phonePattern), lit(0)))
            .cast("bigint").as("n_phone"),
          md5(T.redactPii(col("aug"))).as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // C4-style line hygiene + corpus-level line dedup. The newline-free
    // corpus gets a planted line structure: each doc's text line, a
    // boilerplate line shared by ALL docs (line-dedup must keep it only
    // in the minimum doc), and a banned lorem-ipsum line on every 4th
    // doc (the filter must drop it everywhere).
    "q_t_c4_clean" -> ((s, d) => {
      val aug = concat(col("text"), lit("\nall rights reserved"),
        when(col("doc_id") % 4 === 0, lit("\nlorem ipsum dolor sit"))
          .otherwise(lit("")))
      T.lineCleanDedup(
          Tables.documents(s, d).select(col("doc_id"), aug.as("text")),
          "doc_id", "text", minWords = 2)
        .select(col("doc_id"), col("n_lines"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // Token-length quantiles per language through the ENGINE'S CORE
    // histogram machinery (banded array + native histogram_quantile
    // semantics — the RTT A12 op generalizing to corpus stats): band =
    // clamped token count, per-lang 120-slot array, quantile = lower
    // band bound (min band with cum >= q*total, minus 1). All integer.
    "q_t_len_quantile" -> ((s, d) => {
      val bands = 120
      val h = Tables.documents(s, d)
        .select(col("lang"),
          least(greatest(T.tokenCount(col("text")), lit(1L)), lit(bands.toLong))
            .as("band"))
        .groupBy("lang", "band").agg(count(lit(1)).as("c"))
      h.groupBy("lang")
        .agg(map_from_arrays(collect_list(col("band")), collect_list(col("c")))
          .as("m"))
        .select(col("lang"),
          transform(sequence(lit(1), lit(bands)),
            i => coalesce(try_element_at(col("m"), i.cast("bigint")), lit(0L)))
            .as("hist"))
        .withColumn("cum", H.cumulative(col("hist")))
        .withColumn("total", element_at(col("cum"), bands))
        .select(col("lang"),
          H.quantile(col("cum"), col("total"), 0.5).as("median_band"),
          H.quantile(col("cum"), col("total"), 0.95).as("p95_band"),
          col("total"))
        .orderBy("lang")
    }),

    // APPROX distinct-token sketch per language — the 100 TB opt-in
    // for SURVEY A6's exact countDistinct (one pass, fixed-size HLL++
    // registers, no distinct shuffle). HLL register merges are
    // max-operations (commutative/associative), so the estimate is
    // DETERMINISTIC for fixed data regardless of partitioning — but
    // not portable to DuckDB's HLL. The oracle therefore checks the
    // CONTRACT: exact count (recomputable) plus an integer flag
    // asserting the estimate landed within the configured 5% rsd
    // envelope (x4 ≈ 4 sigma) — if the sketch ever drifts, the flag
    // flips and the hash gate fails.
    // Approximate QUANTILE sketch (Greenwald-Khanna via
    // approx_percentile, accuracy=100 -> rank error <= 1%) under the
    // same error-contract oracle idiom as q_t_approx_distinct: the
    // hash-compared payload is the EXACT discrete median (bit-exact
    // integers via row_number), and the sketch contributes a
    // rank-error flag — cnt_le/cnt_lt of the sketch's answer must
    // bracket the target rank within +-2% (1% guarantee + boundary
    // slack). If the sketch ever drifts, the flag flips and the gate
    // goes red. Exact quantiles at scale need a full sort per group;
    // the sketch is one pass + constant memory — the opt-in trade.
    "q_t_approx_quantile" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("lang"), T.tokenCount(col("text")).as("n_toks"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("n_toks")
      val ranked = toks
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("lang")))
      val exact = ranked.filter(col("rk") === expr("(n + 1) div 2"))
        .select(col("lang"), col("n_toks").as("p50_exact"),
          col("n").cast("bigint").as("n"))
      val sk = toks.groupBy("lang")
        .agg(expr("approx_percentile(n_toks, 0.5, 100)").as("v_sketch"))
      val rankCheck = toks.join(broadcast(sk), "lang")
        .groupBy("lang")
        .agg(sum((col("n_toks") <= col("v_sketch")).cast("long")).as("cnt_le"),
          sum((col("n_toks") < col("v_sketch")).cast("long")).as("cnt_lt"))
      exact.join(rankCheck, "lang")
        .select(col("lang"), col("p50_exact"), col("n"),
          (col("cnt_le") * 100 >= col("n") * 48 &&
            col("cnt_lt") * 100 <= col("n") * 52).cast("bigint").as("sketch_ok"))
        .orderBy("lang")
    }),

    // Heavy hitters (Misra-Gries sketch, k=32) under the error-contract
    // oracle idiom: the hash-compared payload is the EXACT count of
    // every true heavy hitter (frequency > n/(k+1) — the set the
    // sketch PROVABLY contains), and the sketch contributes a contract
    // flag per key: present in the sketch, estimate ≤ true count, and
    // undercount ≤ n/(k+1). At scale this sketch is the one-pass
    // hot-key detector that feeds ngramJaccardPairs' doc-freq cap and
    // ScaleOps.saltedJoin — an exact answer costs a full shuffle of
    // the key column; the sketch's map-side partials are k-entry maps.
    "q_t_heavy_hitters" -> ((s, d) => {
      val k = 32
      val toks = Tables.documents(s, d)
        .select(explode(T.tokens(col("text"))).as("token"))
      val exact = toks.groupBy("token").agg(count(lit(1)).as("n_tok"))
      val total = exact.agg(sum("n_tok").cast("bigint").as("n_total"))
      val sketch = toks
        .agg(graft.plans.HeavyHittersAgg.heavyHitters(s, col("token"), k)
          .as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.item").as("token"), col("e.est").as("est"))
      exact.crossJoin(broadcast(total))
        .filter(col("n_tok") * (k + 1) > col("n_total"))
        .join(sketch, Seq("token"), "left")
        .select(col("token"), col("n_tok"), col("n_total"),
          (col("est").isNotNull && col("est") <= col("n_tok") &&
            (col("n_tok") - col("est")) * (k + 1) <= col("n_total"))
            .cast("bigint").as("sketch_ok"))
        .orderBy(col("n_tok").desc, col("token"))
    }),

    "q_t_approx_distinct" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("lang"), explode(T.tokens(col("text"))).as("token"))
        .groupBy("lang")
        .agg(countDistinct(col("token")).as("n_exact"),
          approx_count_distinct(col("token"), 0.05).as("n_approx"))
        .select(col("lang"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")) * 100 <= col("n_exact") * 20)
            .cast("bigint").as("within_20pct"))
        .orderBy("lang")
    }),

    // Vocabulary induction: corpus top-25 tokens, deterministic ties.
    "q_t_vocab" -> ((s, d) => {
      T.vocabulary(Tables.documents(s, d), "text", 25)
        .orderBy("rank")
    }),

    // OOV-rate quality signal vs the corpus top-20 vocabulary (11 of
    // this corpus's 31 distinct tokens fall outside it, so every band
    // of the output is exercised). Integer counts + floor-divided
    // basis points — nothing floating-point to drift.
    "q_t_oov" -> ((s, d) => {
      T.oovStats(Tables.documents(s, d), "doc_id", "text", vocabSize = 20)
        .orderBy("doc_id")
    }),

    // Quality scoring: punctuation / stopword / length signals.
    "q_t_quality" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(T.punctRatio(col("text"))), 5).as("avg_punct"),
          round(avg(T.stopwordRatio(s, col("text"), "en")), 5).as("avg_stop"),
          round(avg(T.qualityScore(s, col("text"))), 5).as("avg_quality"))
        .orderBy("source")
    }),

    // TRAINED linear classifier (fastText-style quality/domain gate):
    // train the frequency-contrast model on the corpus labeled
    // lang='en', score every doc, emit the classify-then-filter
    // columns. Integer ppm weights end to end — hash-exact vs the
    // oracle's identical arithmetic.
    "q_t_classifier" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = T.contrastModelTrain(
        docs.withColumn("__lab", (col("lang") === "en").cast("int")),
        "text", "__lab", vocabSize = 200)
      T.contrastClassifierScore(docs, "doc_id", "text", model)
        .orderBy("doc_id")
    }),

    // DSIR-shaped data selection: importance weights from the hashed
    // unigram+bigram distribution contrast (target = lang='en' docs vs
    // the full raw pool), per-doc scores, and the top-100 selection
    // quota as a flag. Integer ppm weights + md5-fold buckets — hash-
    // exact vs the oracle's identical arithmetic.
    "q_t_dsir" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // cached: feeds both the output and the top-k selection leg
      val scored = graft.functions.Dsir.scores(
        docs, docs.filter(col("lang") === "en"), "doc_id", "text")
        .cache()
      val picked = graft.functions.Dsir.selectTop(scored, "doc_id",
        n = 100)
      scored
        .join(picked.select(col("doc_id"), lit(1).as("selected")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"), col("score"),
          coalesce(col("selected"), lit(0)).as("selected"))
        .orderBy("doc_id")
    }),

    // Language ID (stopword-hit argmax heuristic), per document.
    "q_t_langid" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          T.languageId(s, col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // Exact dedup groups via normalized-text fingerprint.
    "q_dedup_exact" -> ((s, d) => {
      Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")
        .orderBy("fingerprint")
    }),

    // Exact dedup across UNICODE-EQUIVALENT twins: every doc gets a
    // precomposed-suffix copy (" café" as U+00E9) and a decomposed
    // twin at +1e6 (" cafe" + U+0301). Without the NFC fold in
    // fingerprint() the two encodings hash apart and every group has
    // n_docs = 1; with it each pair collapses to one group keeping the
    // original id — DuckDB's nfc_normalize is the independent oracle.
    "q_dedup_exact_nfc" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pre = docs.select(col("doc_id"),
        concat(col("text"), lit(" caf\u00e9")).as("text"))
      val dec = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" cafe\u0301")).as("text"))
      Dedup.exactGroups(pre.unionByName(dec), "doc_id", "text")
        .orderBy("fingerprint")
    }),

    // Exact 3-gram Jaccard near-dup pairs (threshold 0.5) via the
    // shared-shingle equi-join (no cross product).
    "q_dedup_jaccard" -> ((s, d) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), col("shared"), col("n_a"),
          col("n_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // ASYMMETRIC near-dup: CONTAINMENT (Broder's resemblance vs
    // containment split) — the quote/excerpt case jaccard scores near
    // zero. Excerpt docs are PLANTED in-query (first 20 words of every
    // 100th doc, re-joined on single spaces — a construction both
    // engines state identically), so the true containment-1.0 pair
    // set is known and non-empty; the oracle recomputes the whole
    // ordered-pair relation from scratch.
    "q_dedup_containment" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val excerpts = docs.filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          array_join(slice(split(trim(col("text")), "\\s+"), 1, 20), " ")
            .as("text"))
      Dedup.containmentPairs(docs.unionByName(excerpts), "doc_id", "text",
          n = 3, threshold = 0.9)
        .select(col("contained_id"), col("container_id"), col("shared"),
          round(col("containment"), 6).as("containment"))
        .orderBy("contained_id", "container_id")
    }),

    // MinHash+LSH near-dup pairs — the billion-doc path. xxhash64 isn't
    // portable to DuckDB, but the CONTRACT is: every true pair in this
    // corpus sits at jaccard >= 0.88, where 16x4 banding misses a pair
    // with p < 1e-6 — exact-verified LSH is exhaustive here, so the
    // exact-jaccard SQL is a valid oracle (DedupSpec asserts the
    // equivalence in Spark at both SFs).
    "q_dedup_minhash" -> ((s, d) => {
      Dedup.minHashLshPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, numHashes = 64, bands = 16, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // Winnowing near-dup pairs: shared-fingerprint candidates (MOSS
    // guarantee — docs sharing an 11+ char run share a fingerprint;
    // every true pair here is jaccard >= 0.88, i.e. near-identical
    // text with long shared runs) + exact jaccard verification, so the
    // exact-jaccard SQL is the oracle (DedupSpec asserts set equality).
    "q_dedup_winnow" -> ((s, d) => {
      Dedup.winnowNearDupPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.5, k = 8, w = 4)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // Benchmark decontamination: (train, eval) doc pairs sharing >= 2
    // distinct 3-grams, with doc_id % 50 == 0 standing in as the held-
    // out benchmark suite. n=3/minShared=2 suits this corpus's short
    // docs (includes the planted near-dup contamination at 23 shared
    // shingles); production uses n ~ 13, minShared = 1.
    "q_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationPairs(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 3, minShared = 2)
        .orderBy("train_id", "eval_id")
    }),

    // Same decontamination through the bloom-semi-join scale path: the
    // eval shingle set folds into Catalyst's runtime-filter bloom
    // aggregate and prunes train shingles BEFORE their shuffle — at a
    // 100 TB train corpus this is the difference between shuffling the
    // corpus and shuffling the matches. Result-identical by
    // construction (shares q_decontaminate's oracle).
    "q_decontaminate_bloom" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationPairsBloom(
          docs.filter(col("doc_id") % 50 =!= 0),
          docs.filter(col("doc_id") % 50 === 0),
          "doc_id", "text", n = 3, minShared = 2)
        .orderBy("train_id", "eval_id")
    }),

    // Connected components over the verified near-dup pairs — the
    // dedup "apply" step (keep one doc per transitive cluster). Every
    // doc gets a row; cluster = min member id; singletons cluster to
    // themselves. Oracle: DuckDB recursive CTE over the same pair set.
    // Candidates come from the LSH-bucketed path (bounded fan-out per
    // band bucket — the 100 TB-safe default; q_dedup_minhash's gate
    // entry and DedupSpec prove it yields the same pair set as the
    // exact shared-shingle join on this corpus).
    "q_dedup_clusters" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text",
          n = 3, numHashes = 64, bands = 16, threshold = 0.5)
        .select("id_a", "id_b")
      // the bounded edge fetch takes the driver union-find here
      // (DedupSpec pins its labels == the large-star/small-star branch)
      Dedup.connectedComponents(docs, "doc_id", pairs)
        .select(col("id").as("doc_id"), col("cluster").as("cluster_id"))
        .orderBy("doc_id")
    }),

    // The SAME clustering through the large-star/small-star algorithm
    // (Kiveris et al. SoCC'14 — O(log n) rounds regardless of
    // component diameter), the branch connectedComponents takes past
    // its driver edge bound, run here directly at any size.
    // Connected components are algorithm-independent, so this shares
    // q_dedup_clusters' recursive-closure oracle verbatim: both
    // engines-under-test must produce identical min-member labels.
    // Runs through a RELIABLE checkpoint dir (the cluster-durability
    // knob — per-round truncation via durable df.checkpoint() instead
    // of executor-resident localCheckpoint), so the path a real
    // 1000-executor run must take is itself hash-proven against the
    // same closure oracle.
    "q_dedup_ccstar" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text",
          n = 3, numHashes = 64, bands = 16, threshold = 0.5)
        .select("id_a", "id_b")
      val ckpt = graft.util.TempDirs.scoped("graft-ccstar-ckpt").toString
      Dedup.connectedComponentsStar(docs, "doc_id", pairs,
          checkpointDir = Some(ckpt))
        .select(col("id").as("doc_id"), col("cluster").as("cluster_id"))
        .orderBy("doc_id")
    }),

    // LEAKAGE-SAFE train/valid/test split: near-dup cluster members
    // must land in the SAME split, or test docs are paraphrases of
    // train docs and the eval is contaminated. Splitting hashes the
    // CLUSTER representative (min member id), not the doc id — a pure
    // composition of connectedComponents + the portable splitLabel
    // hash, so the whole guarantee (same cluster -> same split) is
    // bit-checkable in SQL.
    // Runs through the PERSISTED cluster table (clusterTableInit once
    // per suite, clusterTableSplit here): the oracle recomputes the
    // whole closure + split hash from scratch, so table-derived must
    // hash-match from-scratch-derived — the cluster-once-derive-many
    // equivalence, gated.
    "q_cluster_split" -> ((s, d) => {
      Dedup.clusterTableSplit(s, sharedClusterTable(s, d), "doc_id")
        .select(col("doc_id"), col("cluster").as("cluster_id"),
          col("split"))
        .orderBy("doc_id")
    }),

    // INCREMENTAL cluster maintenance: init the table on the standing
    // corpus (doc_id % 3 <> 0), ingest the rest as a drop — within-
    // drop pairs + one band-store probe + a DELTA-sized merge graph,
    // never a corpus re-cluster — then emit the final labels for
    // EVERYTHING. The oracle is the from-scratch recursive closure
    // over the FULL corpus: incremental labels must equal from-scratch
    // labels exactly (the operator's core guarantee).
    "q_cluster_ingest" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val drop = docs.where(col("doc_id") % 3 === 0)
      // copy-on-write from the memoized standing-corpus table: the
      // operator under test is the ingest, not the init (see
      // cowClusterTable)
      val dir = cowClusterTable(s, sharedStandingClusterTable(s, d),
        "graft-ctingest")
      Dedup.clusterTableIngest(drop, docs, "doc_id", "text", dir).count()
      Dedup.clusterTable(s, dir)
        .select(col("doc_id"), col("cluster").as("cluster_id"))
        .orderBy("doc_id")
    }),

    // RETRACTION: init on the full corpus, retract every 50th doc
    // (including some cluster-label carriers and chain links), then
    // emit the surviving labels. Oracle = the from-scratch closure
    // over ONLY the surviving corpus — retraction must equal a
    // rebuild-without-the-deleted, including splits and label repairs.
    "q_cluster_retract" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      // copy-on-write from the memoized full-corpus table: the
      // operator under test is the retraction, not the init (see
      // cowClusterTable)
      val dir = cowClusterTable(s, sharedClusterTable(s, d),
        "graft-ctretract")
      Dedup.clusterTableRetract(
        docs.where(col("doc_id") % 50 === 0).select("doc_id"),
        docs, "doc_id", "text", dir)
      Dedup.clusterTable(s, dir)
        .select(col("doc_id"), col("cluster").as("cluster_id"))
        .orderBy("doc_id")
    }),

    // STREAMING cluster maintenance through the durable store: init on
    // the standing corpus, then the remaining docs arrive as 3 ordered
    // file drops consumed by clusterIngestStream (foreachBatch ->
    // clusterTableIngest; sequential micro-batches satisfy the
    // single-writer lease). The final labels over EVERYTHING must
    // equal the from-scratch closure over the full corpus — the same
    // oracle as q_cluster_ingest, now proven through the streaming
    // engine's checkpointed AvailableNow replay.
    "q_stream_cluster" -> ((s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val drops = docs.where(col("doc_id") % 3 === 0)
      val dir = graft.util.TempDirs.scoped("graft-streamcluster")
      // copy-on-write from the memoized standing-corpus table (see
      // cowClusterTable); 2 staged drops keep the multi-micro-batch
      // replay + cross-batch label merge under gate while the 3-drop
      // remap choreography stays spec-proven (PipelineStreamsSpec)
      val store = cowClusterTable(s, sharedStandingClusterTable(s, d),
        "graft-streamcluster-store")
      val dropsDir = graft.streaming.PipelineStreams.stageOrderedDrops(
        drops, "doc_id", 2, "graft-streamcluster-drops")
      graft.streaming.PipelineStreams.withShufflePartitions(s, 8) {
        graft.streaming.PipelineStreams.clusterIngestStream(s,
          dropsDir.toString, docs, "doc_id", "text", store,
          dir.resolve("ckpt").toString)
      }
      Dedup.clusterTable(s, store)
        .select(col("doc_id"), col("cluster").as("cluster_id"))
        .orderBy("doc_id")
    }),

    // The dedup APPLY step from the persisted cluster table: keep
    // exactly each cluster's min-id member (the CC keeper contract)
    // via one semi-join against the label table — the third
    // cluster-table consumer. Oracle recomputes the closure and the
    // keeper predicate from scratch.
    "q_cluster_keep" -> ((s, d) => {
      Dedup.clusterTableKeep(
          Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
          sharedClusterTable(s, d), "doc_id")
        .orderBy("doc_id")
    }),

    // Duplicated-SPAN detection (substring dedup, Lee et al. 2022):
    // maximal cross-doc duplicated char intervals via per-position
    // k-gram hashes + gaps-and-islands — no suffix array, no driver
    // state. k=20/minLen=40 keeps spans discriminative (k=8 would
    // flag every shared English word); the planted near-dup docs
    // surface as long spans.
    "q_dedup_spans" -> ((s, d) => {
      Dedup.duplicatedSpans(Tables.documents(s, d), "doc_id", "text",
        k = 20, minLen = 40)
    }),

    // WITHIN-DOC self-repetition spans (the intra-document half of
    // Lee et al. substring dedup): a k-gram occurring at 2+ positions
    // of the SAME doc flags its positions; islands merge as in
    // q_dedup_spans. One (doc, hash) groupBy — no self-join. k=10
    // (vs the cross-doc detector's 20): within-doc repeats are
    // shorter-period — the fixture's natural phrase repetitions
    // surface at this scale and the output is non-trivially sized.
    "q_dedup_selfspans" -> ((s, d) => {
      Dedup.selfRepeatedSpans(Tables.documents(s, d), "doc_id", "text",
        k = 10, minLen = 20)
    }),

    // The APPLY step for span dedup — cut the flagged spans out of
    // the text (Lee et al. remove-the-substring semantics), keep the
    // rest of the doc byte-exact. md5 over the cleaned text proves
    // the HOF cut fold equals the oracle's segment-stitch exactly;
    // docs with no spans must pass through unchanged.
    "q_dedup_spans_cut" -> ((s, d) => {
      Dedup.removeDuplicatedSpans(Tables.documents(s, d), "doc_id", "text",
        k = 20, minLen = 40)
        .select(col("doc_id"), col("n_spans_cut"), col("chars_cut"),
          length(col("clean_text")).as("clean_len"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // Greedy sequence packing into 512-token context windows, bins
    // sealed inside (source, 200-id shard) so packing is
    // embarrassingly parallel; oracle = recursive-CTE restatement of
    // the same greedy fold.
    "q_pack_sequences" -> ((s, d) => {
      graft.ops.Packing.packSummary(
        graft.ops.Packing.packGreedy(Tables.documents(s, d),
          "source", "doc_id", T.tokenCount(col("text")),
          budget = 512, shardSpan = 200))
    }),

    // CAPSTONE training-feed composition: Gopher quality gate (310 of
    // 500 docs pass at sf0.01) -> sequence packing of the survivors
    // into 512-token context windows — filter and pack, the two legs
    // every feed runs, chained under ONE hash gate (the oracle
    // recursively re-folds the greedy packer over exactly the
    // rule-passing docs, so a single doc misjudged by either leg
    // shifts bins and breaks the hash).
    "q_train_feed" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val keep = T.gopherQualityStats(docs, "doc_id", "text", minWords = 20)
        .where(col("gopher_pass") === 1).select("doc_id")
      graft.ops.Packing.packSummary(
        graft.ops.Packing.packGreedy(docs.join(keep, Seq("doc_id"), "left_semi"),
          "source", "doc_id", T.tokenCount(col("text")),
          budget = 512, shardSpan = 200))
    }),

    // Context-window chunking (the pre-tokenization step): greedy
    // split at the last whitespace inside each 120-char window, hard
    // cut only for an unbroken 120-char token. One native kernel pass
    // per row (plans.ChunkTextExpr) + posexplode — no shuffle until
    // the final ORDER BY; concat(chunks) == text byte-exact, which the
    // per-chunk md5 vs the oracle's recursive-CTE restatement proves.
    "q_chunk_docs" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(graft.plans.ChunkTextExpr.chunkText(s, col("text"), 120))
            .as(Seq("ord", "chunk")))
        .select(col("doc_id"), col("ord"),
          length(col("chunk")).as("chunk_len"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "ord")
    }),

    // Deterministic train/valid/test split + 1% subsample: membership
    // is a pure arithmetic hash of doc_id (identical in DuckDB), NOT
    // df.sample's partition-seeded RNG — reruns, repartitions, and
    // other engines must agree on every row's split.
    "q_split_sample" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("split", graft.functions.Sampling.splitLabel(col("doc_id")))
        .withColumn("in_1pct", graft.functions.Sampling.sampled(col("doc_id"), 100))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n"),
          sum("doc_id").as("sum_ids"),
          sum(when(col("in_1pct"), 1L).otherwise(0L)).as("n_sampled"))
        .orderBy("lang", "split")
    }),

    // Deterministic corpus shuffle with explicit global positions
    // (the reproducible training-order export): ascending (seeded
    // portable hash, key) is the order; positions come from
    // range-sharded per-shard row_number + broadcast shard offsets —
    // never a corpus-sized single-partition window. The oracle's
    // global row_number over the same hash proves the sharded
    // composition IS the global permutation.
    "q_shuffle_positions" -> ((s, d) => {
      graft.functions.Sampling.shuffledPositions(
          Tables.documents(s, d), "doc_id", seed = 7L, shards = 16)
        .select(col("doc_id"), col("pos"), col("source"))
        .orderBy("doc_id")
    }),

    // Dataset-mixture resampling: each source down-sampled to its
    // target basis-point rate (derived here from the source ordinal so
    // the weights table is data-driven at every SF); same portable key
    // hash as q_split_sample, so membership is engine-exact. sum_ids
    // pins the exact kept-row SET, not just its size.
    "q_mix_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val weights = docs.select("source").distinct()
        .withColumn("keep_bp", lit(500L) +
          regexp_extract(col("source"), "[0-9]+", 0).cast("bigint") * 937 % 9000)
      graft.functions.Sampling.mixtureSample(docs, "doc_id", "source", weights)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("sum_ids"),
          max("keep_bp").as("keep_bp"))
        .orderBy("source")
    }),

    // Fractional UPSAMPLING (epoch factor > 1.0 — the mixture up-leg
    // q_mix_sample's down-leg rates can't express): 2.3 epochs = 2
    // copies of every doc + a third for the hash-selected 30%. The
    // nested-sample property and the exact copy counts are both under
    // the hash via copy_idx.
    "q_mix_upsample" -> ((s, d) => {
      graft.functions.Sampling.upsample(
          Tables.documents(s, d).select("doc_id", "lang"),
          "doc_id", factorBp = 23000)
        .orderBy("doc_id", "copy_idx")
    }),

    // Token-BUDGETED mixture: each source keeps docs in deterministic-
    // shuffle order until its token budget runs out — mixes are specced
    // in tokens ("200 B web, 30 B code"), not doc keep-rates. The
    // range-shard prefilter (Sampling.tokenBudgetSample) keeps the
    // exact running sum off sources' full corpora; the oracle restates
    // the cut as one plain per-source cumsum window.
    "q_mix_token_budget" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), T.tokenCount(col("text")).as("toks"))
      val budgets = docs.select("source").distinct()
        .withColumn("token_budget", lit(400L) +
          regexp_extract(col("source"), "[0-9]+", 0).cast("bigint") * 777 % 700)
      graft.functions.Sampling
        .tokenBudgetSample(docs, "doc_id", "source", "toks", budgets)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("toks").as("tokens_kept"),
          sum("doc_id").as("sum_ids"), max("token_budget").as("token_budget"),
          max("cum_tokens").as("max_cum"))
        .orderBy("source")
    }),

    // Vocabulary APPLICATION: corpus-induced top-500 vocab encoded
    // back over the corpus as 1-based rank ids (OOV -> 0), the
    // tokenize->encode step of a training feed. The id sequence is
    // md5-pinned through the hash gate (a swapped rank, dropped
    // token, or unstable ordering breaks it).
    "q_t_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val vocab = T.vocabulary(docs, "text", 500)
      T.encodeTokens(docs, "doc_id", "text", vocab)
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          md5(concat_ws(",",
            transform(col("ids"), x => x.cast("string")))).as("ids_md5"))
        .orderBy("doc_id")
    }),

    // Gopher quality-rule battery (Rae et al. 2021 A1.1) — integer-
    // exact measurements + per-rule flags + the pass conjunction.
    // Planted stress rows: % 7 = 3 gets a symbol flood (#/... ratio
    // rule must fire), % 7 = 5 gets a numeral run (alpha-word rule
    // must fire); the rest straddle the word-count and stopword rules
    // naturally.
    "q_t_gopher" -> ((s, d) => {
      val aug = concat(col("text"),
        when(col("doc_id") % 7 === 3, lit(" ### ... ### ... ### ..."))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 5,
          lit(" 111 222 333 444 555 666 777 888 999 000"))
          .otherwise(lit("")))
      T.gopherQualityStats(
          Tables.documents(s, d).select(col("doc_id"), aug.as("text")),
          "doc_id", "text", minWords = 20)
        .orderBy("doc_id")
    }),

    // Unicode NFC normalization through the native codegen expression
    // (plans.NormalizeTextExpr — Spark has no normalization builtin;
    // DuckDB's nfc_normalize is the oracle). The ASCII corpus gets
    // planted combining-mark suffixes: decomposed e+U+0301 and
    // A+U+0308 must COMPOSE (changed=1, one char shorter), the
    // precomposed variant and plain ASCII must pass through untouched
    // — both directions of the contract under the hash gate, with the
    // normalized bytes md5-pinned.
    "q_t_normalize" -> ((s, d) => {
      val raw = concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(" cafe\u0301"))
          .when(col("doc_id") % 4 === 1, lit(" A\u0308b"))
          .when(col("doc_id") % 4 === 2, lit(" caf\u00e9"))
          .otherwise(lit(" plain")))
      Tables.documents(s, d)
        .select(col("doc_id"), raw.as("raw"))
        .withColumn("norm",
          graft.plans.NormalizeTextExpr.normalizeText(s, col("raw")))
        .select(col("doc_id"),
          when(col("norm") =!= col("raw"), 1L).otherwise(0L).as("changed"),
          length(col("raw")).cast("bigint").as("raw_len"),
          length(col("norm")).cast("bigint").as("norm_len"),
          md5(col("norm")).as("norm_md5"))
        .orderBy("doc_id")
    }),

    // Bigram-LM familiarity scoring (the CCNet perplexity-filter
    // shape) in exact integer ppm arithmetic — every per-transition
    // probability floor and both integral divisions are bit-portable,
    // so the whole score hash-matches DuckDB with no float tolerance.
    "q_t_bigram_lm" -> ((s, d) => {
      T.bigramLmScores(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Incremental ingest vs a PERSISTED fingerprint store: init the
    // store from the standing corpus (doc_id % 3 <> 0), then classify
    // a new drop holding genuinely-new docs, planted within-drop
    // duplicates (doc_id % 9 twins at +1e6) and planted already-in-
    // store duplicates (% 10 = 1 twins at +2e6), appending accepted
    // fingerprints back to the store. The corpus is duplicate-free, so
    // WITHOUT the plants both dup classes would be empty and verify
    // nothing (the r1 embed_neardup lesson).
    "q_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = graft.util.TempDirs.scoped("graft-fpstore").toString + "/store"
      Dedup.fingerprintStoreInit(
        docs.where(col("doc_id") % 3 =!= 0), "doc_id", "text", dir)
      val drop = docs.where(col("doc_id") % 3 === 0).select("doc_id", "text")
        .unionByName(docs.where(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionByName(docs.where(col("doc_id") % 3 =!= 0 && col("doc_id") % 10 === 1)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      val classified = Dedup.incrementalIngest(drop, "doc_id", "text", dir)
      val after = graft.ops.TableLayout.read(s, dir).count()
      classified.groupBy("status")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_ids"))
        .withColumn("store_after", lit(after))
        .orderBy("status")
    }),

    // The fingerprint store driven through THREE snapshot versions of
    // the manifest layout ([[graft.ops.TableLayout]]): init (v1), a
    // first drop whose append trips compactAfterFiles=1 (compaction
    // publishes v2), then a second drop classified against the
    // compacted store — its dup_in_store plants include twins of
    // drop 1's ACCEPTED docs, so the hash proves the rewrite lost no
    // appended fingerprint — and a final compaction (v3). Gates the
    // per-drop classifications plus the final store size.
    "q_dedup_store_evolve" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = graft.util.TempDirs.scoped("graft-fpevolve").toString + "/store"
      Dedup.fingerprintStoreInit(
        docs.where(col("doc_id") % 4 === 1), "doc_id", "text", dir)
      val drop1 = docs.where(col("doc_id") % 4 === 2).select("doc_id", "text")
        .unionByName(docs.where(col("doc_id") % 8 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionByName(docs.where(col("doc_id") % 16 === 2)
          .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
      val c1 = Dedup.incrementalIngest(drop1, "doc_id", "text", dir,
        compactAfterFiles = 1)
      val drop2 = docs.where(col("doc_id") % 4 === 3).select("doc_id", "text")
        .unionByName(docs.where(col("doc_id") % 8 === 2)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      val c2 = Dedup.incrementalIngest(drop2, "doc_id", "text", dir,
        compactAfterFiles = 1)
      val storeFinal = graft.ops.TableLayout.read(s, dir).count()
      c1.withColumn("drop_no", lit(1))
        .unionByName(c2.withColumn("drop_no", lit(2)))
        .groupBy("drop_no", "status")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_ids"))
        .withColumn("store_final", lit(storeFinal))
        .orderBy("drop_no", "status")
    }),

    // Incremental NEAR-DUP ingest vs a persisted LSH band store: the
    // standing corpus (doc_id % 3 <> 0) is indexed once; the drop
    // (doc_id % 3 = 0 plus planted near-dup twins of % 10 = 4 standing
    // docs — same text with an appended tail, jaccard ~0.9) probes the
    // store with one bucket equi-join, exact-verifies, and extends the
    // index. The oracle is the exhaustive drop x standing jaccard scan
    // at the spec-proven-exhaustive LSH parameters.
    "q_incremental_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val standing = docs.where(col("doc_id") % 3 =!= 0)
        .select("doc_id", "text")
      val dir = graft.util.TempDirs.scoped("graft-lshstore").toString + "/store"
      Dedup.lshStoreInit(standing, "doc_id", "text", dir)
      val drop = docs.where(col("doc_id") % 3 === 0).select("doc_id", "text")
        .unionByName(docs.where(col("doc_id") % 3 =!= 0 && col("doc_id") % 10 === 4)
          .select((col("doc_id") + 5000000L).as("doc_id"),
            concat(col("text"), lit(" shared tail anchor words appended"))
              .as("text")))
      Dedup.lshIncrementalIngest(drop, standing.unionByName(drop),
          "doc_id", "text", dir)
        .select(col("drop_id"), col("store_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("drop_id", "store_id")
    }),

    // LEGACY-LAYOUT MIGRATION of a BUCKETED dedup store is
    // value-invisible: same fixture as q_incremental_neardup, but the
    // band store is id-bucketed, then FLATTENED to the pre-manifest
    // on-disk shape (bare ib=* partition dirs at the root, no
    // manifest, the parameters in a `.meta` sidecar — the exact layout
    // round-10 stores left behind), and
    // the ingest runs with compactAfterFiles=1 so the per-bucket
    // compaction must resolve the implicit v0 snapshot, backfill
    // _manifest-v0, and commit the generation layout on top. The
    // near-dup pairs must STILL hash-match the exhaustive-jaccard
    // oracle — migration and compaction can only change layout,
    // never results. The whole migration path (legacy resolve,
    // backfill, generation commit, grace-window GC) sits under the
    // DuckDB gate.
    "q_dedup_store_migrate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val standing = docs.where(col("doc_id") % 3 =!= 0)
        .select("doc_id", "text")
      val dir = graft.util.TempDirs.scoped("graft-lshmigrate").toString + "/store"
      Dedup.lshStoreInit(standing, "doc_id", "text", dir, idBuckets = 4)
      // flatten to the legacy layout: generation partition dirs ->
      // root, manifests removed (TableLayoutSpec's migration fixture)
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(s.sessionState.newHadoopConf())
      val g1 = new org.apache.hadoop.fs.Path(root, "data-g1")
      fs.listStatus(g1).foreach { st =>
        if (st.getPath.getName.startsWith("ib="))
          require(fs.rename(st.getPath,
            new org.apache.hadoop.fs.Path(root, st.getPath.getName)),
            s"migration fixture: could not flatten ${st.getPath}")
      }
      require(fs.delete(g1, true), "migration fixture: leftover data-g1")
      fs.listStatus(root).map(_.getPath)
        .filter(_.getName.startsWith("_manifest-v"))
        .foreach(pth => fs.delete(pth, false))
      // round-10 stores pinned their parameters in a sibling
      // `<store>.meta` parquet, which the band store still reads when
      // its manifest carries no pins
      import s.implicits._
      Seq((3, 64, 16, true, 4))
        .toDF("n", "num_hashes", "bands", "nfc", "id_buckets")
        .write.parquet(dir + ".meta")
      val drop = docs.where(col("doc_id") % 3 === 0).select("doc_id", "text")
        .unionByName(docs.where(col("doc_id") % 3 =!= 0 && col("doc_id") % 10 === 4)
          .select((col("doc_id") + 5000000L).as("doc_id"),
            concat(col("text"), lit(" shared tail anchor words appended"))
              .as("text")))
      val pairs = Dedup.lshIncrementalIngest(drop,
          standing.unionByName(drop), "doc_id", "text", dir,
          compactAfterFiles = 1)
        .select(col("drop_id"), col("store_id"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("drop_id", "store_id")
      require(fs.listStatus(root)
        .exists(_.getPath.getName.startsWith("_manifest-v")),
        "migration fixture must have committed a manifest")
      pairs
    }),

    // Quality-aware cluster representatives: same LSH->CC clusters as
    // q_dedup_clusters, but each cluster keeps its LONGEST member
    // (token-count argmax, min-id ties) instead of the arbitrary
    // min-id — what production near-dedup actually ships. The argmax
    // is one struct-max aggregate, not a per-cluster sort window.
    // Rides the persisted cluster table (one label-table join + the
    // struct-max aggregate — no clustering re-run); the oracle still
    // recomputes closure + argmax from scratch.
    "q_dedup_best_rep" -> ((s, d) => {
      val scores = Tables.documents(s, d)
        .select(col("doc_id"), T.tokenCount(col("text")).as("toks"))
      Dedup.clusterTableRepresentatives(s, sharedClusterTable(s, d),
          scores, "doc_id", "toks")
        .select(col("cluster").as("cluster_id"),
          col("rep_id").as("rep_doc_id"),
          col("rep_score").as("rep_tokens"), col("n_members"),
          col("total_score").as("cluster_tokens"))
        .orderBy("cluster_id")
    }),

    // SimHash near-dup pairs (Hamming <= 6 over 64-bit signatures),
    // under the ENGINE-PORTABLE token hash so the DuckDB gate can
    // recompute the whole signature pipeline — token hash, per-bit
    // majority vote, 16-bit-chunk candidate generation, Hamming filter
    // — from scratch in SQL. (The xxhash64 default stays available for
    // production; only the projection family changes, not the
    // operator's shape or cost.)
    "q_dedup_simhash" -> ((s, d) => {
      Dedup.simHashNearDupPairs(Tables.documents(s, d), "doc_id", "text",
          maxDist = 6,
          tokenHash = t => graft.plans.PortableHash64Expr.portableHash64(s, t))
        .orderBy("id_a", "id_b")
    }),

    // Streaming exact dedup through the REAL streaming engine: the
    // corpus arrives as 4 id-ranged drop files (ascending mtimes +
    // maxFilesPerTrigger=2 -> two ordered micro-batches; every state
    // partition pays a store open/commit PER BATCH, and first-sight
    // semantics here are batch-boundary-invariant under id-ordered
    // drops, so fatter batches buy the same multi-batch incremental
    // proof at half the fixed cost), and flatMapGroupsWithState emits
    // each fingerprint once, on first sight. Drops arrive in id order,
    // so the streamed keeper set must equal the batch exact-dedup
    // contract (min doc_id per fingerprint) — which is the DuckDB
    // oracle.
    // Streaming CDC apply through the REAL engine: a versioned change
    // feed derived from orders (key = orderkey % 1000 so keys see ~15
    // changes each; version = a multiplicative scramble so arrivals
    // are version-UNORDERED and the last-writer-wins rejection path
    // actually fires) replayed as 4 ordered drops; state = one long
    // per key. The oracle restates acceptance as the per-key prefix-
    // maxima of version in arrival order — batch-boundary-invariant,
    // so the drop count cannot change the answer.
    "q_stream_upsert" -> ((s, d) => {
      val changes = Tables.orders(s, d).select(
        (col("o_orderkey") % 1000).as("key"),
        (col("o_orderkey") * 7919 % 100000).as("ver"),
        bround(col("o_totalprice") * 100, 0).cast("bigint").as("value_c"),
        col("o_orderkey").as("arrival"))
      val dir = graft.streaming.PipelineStreams.stageOrderedDrops(
        changes, "arrival", 4, "graft-stream-upsert")
      val out = graft.streaming.PipelineStreams.runToMemory(s,
          "q_stream_upsert", "stream_upsert_out",
          dir.resolve("ckpt").toString) {
        graft.streaming.PipelineStreams.upsertStream(
          graft.streaming.PipelineStreams.readDocs(s, dir.toString,
            maxFilesPerTrigger = Some(2)))
      }
      out.orderBy("key", "ver")
    }),

    // Streaming deterministic reservoir: per-language top-20 samples
    // by (portable hash, id) maintained as priority-bounded state over
    // 4 ordered drops (1 file per trigger -> 4 real micro-batches).
    // Emission = the admission log: a doc emits iff it is still in
    // the reservoir when its arrival batch commits, so the oracle
    // restates each drop's admissions as the batch quota over that
    // drop's PREFIX, restricted to the drop itself.
    "q_stream_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = graft.streaming.PipelineStreams.stageOrderedDrops(
        docs, "doc_id", 4, "graft-stream-sample")
      val out = graft.streaming.PipelineStreams.runToMemory(s,
          "q_stream_sample", "stream_sample_out",
          dir.resolve("ckpt").toString) {
        val stream = graft.streaming.PipelineStreams.readDocs(
            s, dir.toString, maxFilesPerTrigger = Some(1))
          .select(col("lang").as("stratum"), col("doc_id"),
            graft.functions.Sampling.hashBucket(col("doc_id")).as("bucket"))
        graft.streaming.PipelineStreams.reservoirSample(stream, k = 20)
      }
      out.orderBy("stratum", "bucket", "doc_id")
    }),

    "q_stream_dedup" -> ((s, d) => {
      val dir = graft.streaming.PipelineStreams.stageOrderedDrops(
        Tables.documents(s, d), "doc_id", 4, "graft-stream-dedup")
      val out = graft.streaming.PipelineStreams.runToMemory(s,
          "q_stream_dedup", "stream_dedup_out",
          dir.resolve("ckpt").toString) {
        graft.streaming.PipelineStreams.firstSeenDedup(
          graft.streaming.PipelineStreams.readDocs(s, dir.toString,
            maxFilesPerTrigger = Some(2)))
      }
      out.orderBy("fingerprint")
    }),

    // Streaming sequence packing through the real streaming engine:
    // docs arrive as 4 ordered drops and are appended to open bins
    // incrementally (state per (source, shard) = the open bin's fill
    // — two longs). Under id-ordered arrival the streamed assignment
    // equals the batch greedy fold, so the recursive-CTE oracle is
    // shared with q_pack_sequences.
    // STREAMING token-budget admission through the real engine: docs
    // arrive as 3 ordered drops and each source keeps admitting in
    // arrival order while its running total stays within budget — the
    // prefix rule, so the plain per-source cumsum SQL oracles the
    // whole replay (budget 800 vs ~1300-1550 tokens/source at gate SF
    // keeps the admission honestly partial).
    "q_stream_budget" -> ((s, d) => {
      val dir = graft.streaming.PipelineStreams.stageOrderedDrops(
        Tables.documents(s, d), "doc_id", 3, "graft-stream-budget")
      val out = graft.streaming.PipelineStreams.runToMemory(s,
          "q_stream_budget", "stream_budget_out",
          dir.resolve("ckpt").toString) {
        graft.streaming.PipelineStreams.budgetAdmitStream(
          graft.streaming.PipelineStreams.readDocs(s, dir.toString,
            maxFilesPerTrigger = Some(1)),
          budget = 800L)
      }
      out.orderBy("source", "doc_id")
    }),

    "q_stream_pack" -> ((s, d) => {
      val dir = graft.streaming.PipelineStreams.stageOrderedDrops(
        Tables.documents(s, d), "doc_id", 4, "graft-stream-pack")
      val out = graft.streaming.PipelineStreams.runToMemory(s,
          "q_stream_pack", "stream_pack_out",
          dir.resolve("ckpt").toString) {
        graft.streaming.PipelineStreams.packStream(
          graft.streaming.PipelineStreams.readDocs(s, dir.toString,
            maxFilesPerTrigger = Some(2)),
          budget = 512, shardSpan = 200)
      }
      graft.ops.Packing.packSummary(out)
    }),

    // Streaming NEAR-dup through the real streaming engine: documents
    // arrive as 4 ordered drops (2 per micro-batch — the candidate
    // PAIR SET is batch-boundary-invariant, see q_stream_dedup); the
    // stateful LSH index (flatMapGroupsWithState keyed on band
    // buckets, per-row compiled minhash signatures) emits candidate
    // pairs incrementally — each arrival is checked against every
    // earlier document at O(drop) cost.
    // Exact-jaccard verification of the streamed candidates then runs
    // batch-side against the corpus (production: against the accepted
    // shingle store). The result must equal the batch
    // minHashLshPairs output — same signatures, same buckets, state
    // accumulation covers cross-drop pairs — whose oracle is the
    // exact-jaccard SQL (banding exhaustive at these parameters on
    // this corpus; DedupSpec/PipelineStreamsSpec assert both
    // equalities in Spark).
    "q_stream_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = graft.streaming.PipelineStreams.stageOrderedDrops(
        docs, "doc_id", 4, "graft-stream-neardup")
      val out = graft.streaming.PipelineStreams.runToMemory(s,
          "q_stream_neardup", "stream_neardup_cand",
          dir.resolve("ckpt").toString) {
        graft.streaming.PipelineStreams.lshCandidates(
          graft.streaming.PipelineStreams.readDocs(s, dir.toString,
            maxFilesPerTrigger = Some(2)),
          n = 3, numHashes = 64, bands = 16)
      }
      Dedup.verifyCandidatePairs(out, docs,
          "doc_id", "text", n = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // TTL-BOUNDED streaming exact dedup — the state-eviction knob that
    // separates a demo from an unbounded-state production stream. Docs
    // arrive as 4 hourly drops (drop = doc_id % 4, event_time = T0 +
    // drop hours, watermark delay 0); the dedup horizon is 30 min, so
    // per-fingerprint state is evicted at the first FULLY-SILENT batch
    // whose start watermark (= previous drop's event time) has passed
    // last sighting + horizon — i.e. a repeat ≥ 3 drops later
    // RE-EMITS, while closer repeats are suppressed. The corpus has no
    // natural exact dups, so both branches are planted: %20==0 docs get
    // a copy in drop 1 (suppressed) and %20==4 docs a copy in drop 3
    // (horizon passed -> re-emitted); the oracle restates the whole
    // protocol as a lag-over-sighted-drops rule (emit iff first
    // sighting or gap >= 3) — exactly the eviction semantics derived
    // from watermark mechanics at these parameters.
    "q_stream_dedup_ttl" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val maxId = docs.agg(max("doc_id")).head().getLong(0)
      val base = docs.select(col("doc_id"), col("text"),
        (col("doc_id") % 4).cast("int").as("drop_idx"))
      val injNear = docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + maxId + 1).as("doc_id"), col("text"),
          lit(1).as("drop_idx"))
      val injFar = docs.filter(col("doc_id") % 20 === 4)
        .select((col("doc_id") + maxId + 1).as("doc_id"), col("text"),
          lit(3).as("drop_idx"))
      val staged = base.unionByName(injNear).unionByName(injFar)
        .withColumn("event_time",
          expr("timestamp'2024-01-01 00:00:00' + drop_idx * INTERVAL '1' HOUR"))
        .withColumn("drop_key", concat(lit("d"), col("drop_idx")))
        .drop("drop_idx")
      val dir = graft.streaming.PipelineStreams.stageKeyedDrops(
        staged, "drop_key", "graft-stream-dedup-ttl")
      val out = graft.streaming.PipelineStreams.runToMemory(s,
          "q_stream_dedup_ttl", "stream_dedup_ttl_out",
          dir.resolve("ckpt").toString) {
        graft.streaming.PipelineStreams.firstSeenDedupTtl(
          graft.streaming.PipelineStreams.readDocs(s, dir.toString,
              maxFilesPerTrigger = Some(1))
            .withWatermark("event_time", "0 seconds"),
          "event_time", horizonMs = 30L * 60L * 1000L)
      }
      out.orderBy("fingerprint", "keeper")
    }),

    // TTL-BOUNDED streaming LSH index: same hourly drops (drop =
    // doc_id % 4), 30-min near-dup horizon. Members are filtered on
    // ACCESS against the watermark (exact event-time semantics) and
    // the bucket entry is reclaimed by EventTimeTimeout — so a pair
    // can only form across ADJACENT drops (member event + 30 min must
    // beat the arrival batch's watermark = previous drop's hour) or
    // within one drop. Streamed candidates are exact-verified batch-
    // side; the oracle is the exact-jaccard pair set restricted to
    // |drop_a - drop_b| <= 1 — the horizon restated declaratively.
    // (Fixture mix at sf0.01: 20 adjacent pairs emitted, 5 distant
    // pairs suppressed — both branches live.)
    "q_stream_neardup_ttl" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val staged = docs
        .withColumn("drop_idx", (col("doc_id") % 4).cast("int"))
        .withColumn("event_time",
          expr("timestamp'2024-01-01 00:00:00' + drop_idx * INTERVAL '1' HOUR"))
        .withColumn("drop_key", concat(lit("d"), col("drop_idx")))
        .drop("drop_idx")
      val dir = graft.streaming.PipelineStreams.stageKeyedDrops(
        staged, "drop_key", "graft-stream-neardup-ttl")
      val out = graft.streaming.PipelineStreams.runToMemory(s,
          "q_stream_neardup_ttl", "stream_neardup_ttl_cand",
          dir.resolve("ckpt").toString) {
        graft.streaming.PipelineStreams.lshCandidatesTtl(
          graft.streaming.PipelineStreams.readDocs(s, dir.toString,
              maxFilesPerTrigger = Some(1))
            .withWatermark("event_time", "0 seconds"),
          "event_time", horizonMs = 30L * 60L * 1000L,
          n = 3, numHashes = 64, bands = 16)
      }
      Dedup.verifyCandidatePairs(out, docs,
          "doc_id", "text", n = 3, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // THE CORPUS-CLEANING VERDICT — the end-to-end composition a 100 TB
    // training-data pipeline actually ships: every per-doc hygiene
    // signal (language ID, token count, Gopher repetition gate, OOV
    // rate vs the corpus vocabulary), the near-dup cluster keeper
    // (connected components over exact-verified jaccard pairs), the
    // deterministic split assignment, and the final keep decision —
    // one fact scan feeding a handful of doc-grain joins. Gates are
    // chosen to split this corpus (74/426 repetition, oov median
    // ~3200, 25 near-dup losers), so every verdict branch is
    // exercised; all outputs integer/string-exact.
    "q_pipeline_clean" -> ((s, d) => {
      val docs = Tables.documents(s, d).cache()
      val rep = T.repetitionStats(docs, "doc_id", "text")
        .select(col("doc_id"), col("repetition_ok"))
      val oov = T.oovStats(docs, "doc_id", "text", vocabSize = 20)
        .select(col("doc_id"), col("oov_bp"))
      // keeper flags from the PERSISTED cluster table (same params as
      // the shared init; the oracle still recomputes the closure from
      // scratch, so a stale table fails the hash)
      val keepers = Dedup.clusterTable(s, sharedClusterTable(s, d))
        .select(col("doc_id"),
          (col("doc_id") === col("cluster")).cast("bigint").as("is_keeper"))
      docs.select(col("doc_id"),
          T.languageId(s, col("text")).as("lang_pred"),
          T.tokenCount(col("text")).as("n_toks"),
          graft.functions.Sampling.splitLabel(col("doc_id")).as("split"))
        .join(rep, Seq("doc_id"))
        .join(oov, Seq("doc_id"))
        .join(keepers, Seq("doc_id"))
        .withColumn("keep",
          (col("repetition_ok") === 1 && col("oov_bp") <= 3200 &&
            col("is_keeper") === 1).cast("bigint"))
        .orderBy("doc_id")
    }),

    // The full stateless ingest-hygiene chain (PII redaction, language
    // ID, token stats, stream-static mixture-weights join,
    // deterministic sampling) run through the REAL streaming engine
    // over 4 ordered drops. No state anywhere, so the streamed output
    // must be row-identical to the batch run of the same transform —
    // the oracle restates that batch run in SQL. PII is planted as in
    // q_t_pii (the corpus is PII-free).
    "q_stream_ingest" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val weights = docs.select("source").distinct()
        .withColumn("keep_bp", lit(500L) +
          regexp_extract(col("source"), "[0-9]+", 0).cast("bigint") * 937 % 9000)
      val dir = graft.streaming.PipelineStreams.stageOrderedDrops(
        docs, "doc_id", 4, "graft-stream-ingest")
      val aug = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")))
      val out = graft.streaming.PipelineStreams.runToMemory(s,
          "q_stream_ingest", "stream_ingest_out",
          dir.resolve("ckpt").toString) {
        graft.streaming.PipelineStreams.hygieneTransform(
          graft.streaming.PipelineStreams.readDocs(s, dir.toString,
            maxFilesPerTrigger = Some(2))
            .withColumn("text", aug),
          weights)
      }
      out.orderBy("doc_id")
    }),

    // Per-label L2-norm stats: per-row deterministic fold, scaled
    // bigints before the cross-row aggregate (order-proof).
    "q_emb_stats" -> ((s, d) => {
      Similarity.vectorStats(Tables.embeddings(s, d), "embedding", "label")
        .orderBy("label")
    }),

    // JL random projection 64 -> 16 (seed-derived portable ±1 sign
    // matrix, per-row ordered fold): scaled-integer projections,
    // hash-exact vs the oracle's identical arithmetic.
    "q_emb_project" -> ((s, d) => {
      Similarity.randomProjection(Tables.embeddings(s, d), "embedding",
          dIn = 64, dOut = 16)
        .select(col("vec_id"),
          posexplode(col("projected")).as(Seq("pos", "y")))
        .select(col("vec_id"), col("pos"),
          round(col("y") * 1000000, 0).cast("long").as("proj_x1e6"))
        .orderBy("vec_id", "pos")
    }),

    // Per-label centroids at component grain, integer-exact.
    "q_emb_centroids" -> ((s, d) => {
      Similarity.centroids(Tables.embeddings(s, d), "embedding", "label")
        .orderBy("label", "pos")
    }),

    // Distributed Lloyd k-means over int8 codes (the IVF training
    // leg): 2 update rounds + final assignment, k=8, all arithmetic
    // on exact-integer grids so the DuckDB oracle replays the whole
    // training loop as chained CTEs and the assignment hash-matches.
    // n + sum_ids pin the exact membership of every cell.
    "q_kmeans_cells" -> ((s, d) => {
      Similarity.kmeansFitInt8(Tables.embeddings(s, d), "vec_id",
          "embedding", k = 8, iters = 2)
        .groupBy(col("cell").cast("long").as("cell"))
        .agg(count(lit(1)).as("n"), sum("id").as("sum_ids"))
        .orderBy("cell")
    }),

    // DIVERSITY-balanced subset: k-means cells as semantic strata, an
    // exact per-cell quota sampled deterministically inside each —
    // the embedding-space analogue of source-balanced mixing (a
    // cluster-balanced subset can't be dominated by one dense topic,
    // the property SemDeDup-style curation is after). Pure composition:
    // kmeansFitInt8 cells |> stratifiedQuota, both already gate-proven;
    // the oracle chains the kmeans training replay into the quota
    // window.
    "q_diversity_sample" -> ((s, d) => {
      val cells = Similarity.kmeansFitInt8(Tables.embeddings(s, d),
        "vec_id", "embedding", k = 8, iters = 2)
      graft.functions.Sampling.stratifiedQuota(
          cells.select(col("id").as("vec_id"), col("cell")),
          "vec_id", "cell", quota = 12)
        .orderBy("stratum", "rk")
    }),

    // RETRIEVAL: ANN top-k joined back to document metadata — the
    // serving-side composition (embedding search -> fetch the doc).
    // The top-k result is query-bounded, so IT broadcasts into the
    // join against the (100 TB) documents table — never the reverse.
    "q_sim_retrieval" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val topk = Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = 5)
      Tables.documents(s, d)
        .select(col("doc_id").as("neighbor_id"), col("lang"), col("source"))
        .join(broadcast(topk), Seq("neighbor_id"))
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"),
          col("lang"), col("source"))
        .orderBy("query_id", "rank")
    }),

    // Brute-force cosine top-5 for the first 10 vectors — the exact
    // baseline for ANN.
    "q_sim_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(
          e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),

    // JL recall as a served observable — the SHORTLIST-THEN-RERANK
    // production shape: exact cosine top-10 in the ORIGINAL 64-dim
    // space vs how many of those true neighbors survive into the
    // top-100 shortlist ranked in the 2x-smaller PROJECTED space
    // (where the corpus scan is the cheap leg; survivors re-score in
    // the original space). All-integer output; the oracle recomputes
    // both rankings AND the sign matrix. Honest values 4-10/10 on
    // this near-tie synthetic corpus at sf0.01.
    "q_sim_rp_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val proj = Similarity.randomProjection(e, "embedding",
        dIn = 64, dOut = 32)
      val ex = Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = 10)
      val ap = Similarity.bruteForceTopK(
        proj.filter(col("vec_id") < 10), proj, "vec_id", "projected",
        k = 100)
      val hits = ex.select("query_id", "neighbor_id")
        .join(ap.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      ex.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), col("n_exact"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .orderBy("query_id")
    }),

    // LSH (sign-random-projection) approximate top-5 — the scale path.
    // Plane constants aren't portable to DuckDB, so the oracle checks
    // the CONTRACT at verified-exhaustive parameters: planes=3 x
    // tables=40 recovers every true top-5 neighbor of this corpus
    // (per-neighbor miss p < 1e-4 at the weakest sim), so the output
    // equals the brute-force top-k and the exact SQL oracles it.
    // Production tuning (fewer tables, more planes) trades recall for
    // candidate volume; SimilaritySpec measures recall at honest
    // settings (planes=5 x tables=10).
    "q_sim_ann_lsh" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.lshTopK(
          e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = 5,
          planes = 3, tables = 40)
        .orderBy("query_id", "rank")
    }),

    // IVF (inverted-file) approximate top-5, run at nProbe=nCells: on
    // this NEAR-RANDOM corpus Voronoi cells carry no locality signal
    // (a true top-5 neighbor sits in a query's 16th-ranked cell), so
    // only full probing is exhaustive. The oracle then verifies the
    // IVF MACHINERY — cell assignment, probe routing, per-cell scoring
    // — reproduces brute force exactly; SimilaritySpec keeps the
    // honest 6/16-probe recall measurement for the pruning behavior.
    "q_sim_ann_ivf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopK(
          e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = 5,
          nCells = 16, nProbe = 16)
        .orderBy("query_id", "rank")
    }),

    // END-TO-END TRAINED IVF: Lloyd-trained coarse quantizer, corpus
    // cell assignment, nProbe=2 < nCells=8 probe pruning, quantized-
    // cosine ranking — all exact-integer, so the oracle replays
    // training AND serving and the hash gate tests the trained
    // centroids and the pruning themselves (q_sim_ann_ivf's
    // exhaustive-probe oracle, by contrast, is centroid-invariant).
    "q_sim_ann_ivf_trained" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopKQuantized(
          e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
          k = 5, nCells = 8, nProbe = 2, iters = 2)
        .orderBy("query_id", "rank")
    }),

    // Retrieval EVAL: the trained-IVF ranker scored against exact
    // quantized top-3 relevance — per-query first-relevant rank,
    // reciprocal rank, hits and recall, all integer basis points. The
    // oracle re-derives BOTH legs (the full IVF training replay and
    // the exact top-3) plus the metric arithmetic from scratch, so a
    // drifted ranker OR a wrong metric breaks the hash. nProbe=2/8
    // keeps the metrics honest (some queries miss — recall ~0.8, not
    // a trivially-perfect scoreboard).
    "q_sim_eval" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val queries = e.filter(col("vec_id") < 10)
      val sys = Similarity.ivfTopKQuantized(queries, e, "vec_id",
        "embedding", k = 5, nCells = 8, nProbe = 2, iters = 2)
      val qrels = Similarity.quantizedTopK(queries, e, "vec_id",
          "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id").as("relevant_id"))
      Similarity.retrievalEval(sys, qrels, k = 5).orderBy("query_id")
    }),

    // PERSISTENT IVF INDEX with INCREMENTAL MAINTENANCE: train/build
    // on the base corpus (one vector in ten held out as the "new
    // arrivals" batch), append the delta under the PERSISTED
    // centroids — no retraining, no corpus re-scan — then serve over
    // the merged on-disk index (cell-partitioned postings; probed
    // cells prune as partition filters). The oracle replays training
    // on the BASE slice only and final assignment over EVERYTHING —
    // exactly what build+append must reconstruct from disk.
    "q_sim_ann_index" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      // first consumer of the shared build+append memo pays the
      // training ONCE per app (later consumers serve it; under
      // Bench's min-of-repeats the paying attempt is excluded from
      // the recorded second — the row measures the serve)
      Similarity.ivfIndexTopK(e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 2,
          path = sharedIvfIndex(s, d))
        .orderBy("query_id", "rank")
    }),

    // DOCUMENT RETRACTION from the persistent IVF index: the
    // build+append of q_sim_ann_index, then every 7th-mod-3 vector is
    // tombstoned (a metadata-only manifest commit — postings scatter
    // per-cell, so nothing is rewritten) and the serve must rank as
    // if those vectors were never retrievable. The oracle replays the
    // SAME training/assignment (retraction never retrains) with the
    // tombstoned ids excluded from the candidate side only.
    "q_sim_ann_retract" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      // copy-on-write from the shared build+append index: retraction
      // mutates a private clone (the cowClusterTable discipline)
      val path = cowClusterTable(s, sharedIvfIndex(s, d),
        "graft-ivf-retract")
      // the takedown list is driver-sized by contract (Tombstones cap)
      val gone = e.filter(col("vec_id") % 7 === 3)
        .select(col("vec_id").cast("long")).collect().map(_.getLong(0))
      Similarity.annIndexRetract(s, path, gone.toSeq)
      Similarity.ivfIndexTopK(e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 2, path = path)
        .orderBy("query_id", "rank")
    }),

    // PHYSICAL FOLD of the ANN retraction (vacuum): q_sim_ann_retract's
    // tombstone set, then annIndexVacuum rewrites ONLY the cells that
    // hold tombstoned rows (trained centroids untouched — retraction
    // never moves the geometry) and clears the list + bumps the
    // retraction epoch in the same manifest commit. Serve must rank
    // exactly as the metadata-only retract did — same training
    // replay, retracted ids gone from the candidate side — now with
    // the exclusion physical instead of filtered.
    "q_sim_ann_vacuum" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val path = cowClusterTable(s, sharedIvfIndex(s, d),
        "graft-ivf-vac")
      val gone = e.filter(col("vec_id") % 7 === 3)
        .select(col("vec_id").cast("long")).collect().map(_.getLong(0))
      Similarity.annIndexRetract(s, path, gone.toSeq)
      Similarity.annIndexVacuum(s, path)
      Similarity.ivfIndexTopK(e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 2, path = path)
        .orderBy("query_id", "rank")
    }),

    // STREAMED takedown feed against the ANN index: q_sim_ann_retract's
    // tombstone set arrives as 2 ordered drops (foreachBatch
    // annIndexRetract — marker-free, idempotent convergence); same
    // same-training oracle as the batch retraction gate.
    "q_stream_ann_retract" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val path = cowClusterTable(s, sharedIvfIndex(s, d),
        "graft-ivf-sretr")
      val dir = graft.util.TempDirs.scoped("graft-ivf-sretr-ckpt")
      val dropsDir = graft.streaming.PipelineStreams.stageOrderedDrops(
        e.filter(col("vec_id") % 7 === 3).select("vec_id"),
        "vec_id", 2, "graft-ivf-sretr-drops")
      graft.streaming.PipelineStreams.withShufflePartitions(s, 8) {
        graft.streaming.PipelineStreams.annIndexRetractStream(s,
          dropsDir.toString, "vec_id", path,
          dir.resolve("ckpt").toString)
      }
      Similarity.ivfIndexTopK(e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 2, path = path)
        .orderBy("query_id", "rank")
    }),

    // ANN-index HEALTH observable (the text-index health twin):
    // tombstone-aware live vector/posting grain (SQL-restated from
    // the corpus minus the retracted set), the trained cell count,
    // fresh-build file-pressure contract booleans (co-located build →
    // ≤1 file per cell), generation count, and the live tombstone
    // backlog — the maintain-rebuild prompt.
    "q_sim_ann_health" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val path = graft.util.TempDirs.scoped("graft-ivf-health").toString
      Similarity.ivfIndexBuild(e, "vec_id", "embedding",
        nCells = 8, iters = 2, path = path)
      val gone = e.filter(col("vec_id") % 13 === 3)
        .select(col("vec_id").cast("long")).collect().map(_.getLong(0))
      Similarity.annIndexRetract(s, path, gone.toSeq)
      Similarity.annIndexHealth(s, path)
        .select(col("n_vectors"), col("n_postings"), col("n_cells"),
          (col("live_files") <= col("n_cells")).cast("bigint")
            .as("files_le_cells"),
          col("max_files_per_cell"), col("n_generations"),
          col("n_tombstones"))
    }),

    // RECALL@K AS AN OBSERVABLE over the persistent index: the same
    // build+append+serve as q_sim_ann_index, but every approx row also
    // carries (n_exact, n_hit, recall_at_k) against the exact
    // quantized top-5 — computed by probing ALL cells over the same
    // on-disk postings, so the metric isolates probe-pruning loss and
    // an operator can watch index quality drift under appends without
    // retraining blind. The ENTIRE metric is inside the hash gate: the
    // oracle recomputes exact-vs-approx overlap per query in SQL.
    "q_sim_ann_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      // read-only: serves the shared build+append index
      Similarity.ivfIndexTopKWithRecall(e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 2,
          path = sharedIvfIndex(s, d), sampleMod = 1L)
        .orderBy("query_id", "rank")
    }),

    // Embedding-cosine near-dup pairs via LSH buckets, in the HIGH-SIM
    // regime — the regime LSH is FOR. At thresholds inside the corpus
    // background (r2 ran 0.4 with planes=4 x tables=50) SRP buckets
    // cannot separate signal from background: ~96% of ALL pairs
    // collided in some table and the "LSH" degenerated to an all-pairs
    // shuffle join (44 s at sf0.1 — the bench's slowest query; use
    // q_sim_neardup_exact's compiled kernel for that regime instead).
    // The corpus tops out near cos 0.5, so high-sim near-dups are
    // PLANTED in-query (Similarity.plantCosineDups: engine-exact
    // cos-1.0 copies) — non-empty output, and the true pair set is
    // known in closed form. Planted pairs collide in EVERY table
    // (identical unit vectors), so recall is exactly 1 and the
    // brute-force SQL over the same augmented corpus is the oracle;
    // planes=10 keeps background collisions at the 0.5^10 floor.
    "q_sim_embed_neardup" -> ((s, d) => {
      val aug = Similarity.plantCosineDups(
        Tables.embeddings(s, d), "vec_id", "embedding", offset = 10000000L)
      Similarity.embeddingNearDupPairs(aug, "vec_id", "embedding",
          threshold = 0.95, planes = 10, tables = 8)
        .orderBy("id_a", "id_b")
    }),

    // Semantic dedup (SemDeDup, Abbas et al. 2023 — public paper):
    // keep one item per transitive cluster of embedding-cosine
    // near-dups. Pairs come from the high-sim LSH bucket path over the
    // same planted-dup corpus as q_sim_embed_neardup (recall exactly 1
    // there — see that query's comment), closure via
    // connectedComponents — a bounded driver union-find, or past its
    // edge bound large-star/small-star rounds of hash-key shuffles, so
    // it scales where the paper's per-cluster numpy step would not.
    // Every cluster is a known {original, planted} pair, so the
    // keep/drop verdict is fully determined and the recursive-CTE SQL
    // oracles it.
    "q_semdedup" -> ((s, d) => {
      val aug = Similarity.plantCosineDups(
        Tables.embeddings(s, d), "vec_id", "embedding", offset = 10000000L)
      val pairs = Similarity.embeddingNearDupPairs(aug, "vec_id", "embedding",
          threshold = 0.95, planes = 10, tables = 8)
        .select(col("id_a"), col("id_b"))
      // bounded driver union-find (see q_dedup_clusters)
      Dedup.connectedComponents(aug.select(col("vec_id")), "vec_id", pairs)
        .select(col("id").as("vec_id"), col("cluster").as("rep_id"),
          (col("id") === col("cluster")).cast("bigint").as("keep"))
        .orderBy("vec_id")
    }),

    // EXACT embedding-cosine near-dup pairs (brute force, oracle-able);
    // threshold 0.3 sits inside this corpus's similarity range.
    "q_sim_neardup_exact" -> ((s, d) => {
      Similarity.bruteForceNearDupPairs(
          Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.3)
        .orderBy("id_a", "id_b")
    }),

    // INT8 quantization audit at vector grain: codes are exact
    // integers, so integer summaries (sum/L1/extremes) pin the whole
    // code matrix bit-for-bit; the per-vector scale is a x1e9 bigint.
    "q_emb_quantize" -> ((s, d) => {
      Similarity.quantizeInt8(Tables.embeddings(s, d), "vec_id", "embedding")
        .select(col("vec_id"), col("scale_x1e9"),
          aggregate(col("codes"), lit(0L), (a, x) => a + x).as("sum_codes"),
          aggregate(col("codes"), lit(0L), (a, x) => a + abs(x)).as("l1_codes"),
          array_max(col("codes")).as("max_code"),
          array_min(col("codes")).as("min_code"))
        .orderBy("vec_id")
    }),

    // Integer-dot top-k over the quantized codes — the int8 serving
    // kernel. Quantized cosine (int dot / int-norm product) is fully
    // reconstructable in SQL, so the oracle restates the whole path:
    // quantize, integer dot, one bit-portable double division.
    "q_sim_quantized_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.quantizedTopK(
          e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),

    // PRODUCT-QUANTIZED (PQ/ADC) top-k — the fine-quantizer half of
    // the Jegou 2011 pipeline: per-subspace integer Lloyd codebooks
    // (m=4 x ks=4, 2 refinement rounds), m-byte codes per vector, and
    // ADC serving via per-query lookup tables on the quantized-cosine
    // contract. Every training and serving step is exact-integer
    // (milli-grid centroids, int64 dots/norms, one portable double
    // division), so the oracle replays the WHOLE path — per-subspace
    // seeds, both Lloyd rounds, encode-by-argmin, reconstruction
    // cosine — from scratch in SQL and the hash pins codebook, codes,
    // and ranking at once.
    "q_sim_pq_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.pqTopK(
          e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
          k = 5, m = 4, ks = 4, iters = 2)
        .orderBy("query_id", "rank")
    }),

    // IVFADC — the complete Jegou 2011 system: trained coarse cells
    // prune which rows each query scores (nProbe=2 of 8, the pruning
    // itself under test), residual PQ codes (m=4 x ks=4 over the
    // coarse residuals) compress what is scored. The oracle replays
    // BOTH trainings (the q_kmeans_cells Lloyd chain for the coarse
    // half, a residual-grid Lloyd chain for the fine half), the
    // encode, and the probe-pruned reconstruction-cosine serve.
    "q_sim_ann_ivfpq" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfPqTopK(
          e.filter(col("vec_id") < 10), e, "vec_id", "embedding",
          k = 5, nCells = 8, nProbe = 2, itersCoarse = 2,
          m = 4, ks = 4, itersPq = 1)
        .orderBy("query_id", "rank")
    }),

    // PERSISTENT IVFADC INDEX with incremental append: train coarse
    // cells AND the residual codebook on the base slice, persist both
    // plus PQ-compressed cell-partitioned postings, append the
    // held-out tenth under the PERSISTED artifacts (no retraining),
    // serve over the merged on-disk index. The oracle replays both
    // trainings on the base slice only and assignment/encode over
    // everything — exactly what build+append must reconstruct.
    "q_sim_ann_ivfpq_index" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfPqIndexTopK(e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 2,
          path = sharedIvfPqIndex(s, d))
        .orderBy("query_id", "rank")
    }),

    // DOCUMENT RETRACTION from the persistent IVFADC index: the PQ
    // family's takedown is the same metadata-only manifest commit the
    // IVF gate drives (one unified layout underneath), but the serve
    // path is ADC — reconstruction cosine over PQ codes — so this
    // gate pins that the exclusion reaches the COMPRESSED candidate
    // side too. Oracle: the same two-quantizer training replay with
    // the tombstoned ids excluded from candidates only (queries still
    // draw from the full table; retraction never retrains).
    "q_sim_ann_ivfpq_retract" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      // copy-on-write from the shared build+append index
      val path = cowClusterTable(s, sharedIvfPqIndex(s, d),
        "graft-ivfpq-retr")
      val gone = e.filter(col("vec_id") % 7 === 3)
        .select(col("vec_id").cast("long")).collect().map(_.getLong(0))
      Similarity.annIndexRetract(s, path, gone.toSeq)
      Similarity.ivfPqIndexTopK(e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 2, path = path)
        .orderBy("query_id", "rank")
    }),

    // The IVFADC index's recall observable: same build+append, every
    // approx row carries n_exact/n_hit/recall@5 against the ALL-CELLS
    // ADC serve over the same postings — pruning loss isolated from
    // quantization loss (which is a rebuild-time property), the whole
    // metric inside the hash.
    "q_sim_ann_ivfpq_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfPqIndexTopKWithRecall(e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 2,
          path = sharedIvfPqIndex(s, d), sampleMod = 1L)
        .orderBy("query_id", "rank")
    }),

    // INDEX COMPACTION is value-invisible: same base build + append
    // as q_sim_ann_ivfpq_index, then the held-out tenth arrives as 3
    // further appends (file accretion per touched cell), compaction
    // rewrites every cell past the 1-file threshold, and the served
    // result must STILL hash-match the ordinary index oracle — the
    // maintenance op can only change layout, never rows.
    "q_sim_ann_index_compact" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val path = graft.util.TempDirs.scoped("graft-ivfpq-compact").toString
      Similarity.ivfPqIndexBuild(e.filter(col("vec_id") % 10 =!= 9),
        "vec_id", "embedding", nCells = 8, itersCoarse = 2,
        m = 4, ks = 4, itersPq = 1, path = path)
      (0 to 2).foreach { r =>
        Similarity.ivfPqIndexAppend(
          e.filter(col("vec_id") % 10 === 9 && col("vec_id") % 3 === r),
          "vec_id", "embedding", path = path)
      }
      val rep = Similarity.ivfIndexCompact(s, path, maxFilesPerCell = 1)
      require(rep.cellsCompacted > 0 && rep.filesAfter < rep.filesBefore,
        s"compaction fixture must actually compact, got $rep")
      Similarity.ivfPqIndexTopK(e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 2, path = path)
        .orderBy("query_id", "rank")
    }),

    // LEGACY-LAYOUT MIGRATION is value-invisible: build, then flatten
    // the artifacts to the PRE-MANIFEST on-disk shape (bare
    // postings/centroids/pqcents, no manifest — the exact layout
    // round-10 stores left behind), run the same append+compact
    // choreography as q_sim_ann_index_compact — the first replacing
    // mutation must resolve the implicit v0 snapshot, backfill
    // manifest-v0 and commit the generation layout on top — and the
    // served result must STILL hash-match the ordinary index oracle.
    // The whole migration path (resolve-legacy, backfill, generation
    // commit, grace-window GC) sits under the DuckDB gate.
    "q_sim_ann_index_migrate" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val path = graft.util.TempDirs.scoped("graft-ivfpq-migrate").toString
      Similarity.ivfPqIndexBuild(e.filter(col("vec_id") % 10 =!= 9),
        "vec_id", "embedding", nCells = 8, itersCoarse = 2,
        m = 4, ks = 4, itersPq = 1, path = path)
      // flatten to the legacy layout: versioned dirs -> fixed names,
      // manifests removed (IndexLayoutSpec's migration fixture)
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(s.sessionState.newHadoopConf())
      def mv(from: String, to: String): Unit =
        require(fs.rename(new org.apache.hadoop.fs.Path(root, from),
          new org.apache.hadoop.fs.Path(root, to)),
          s"migration fixture: could not flatten $from -> $to")
      mv("centroids-v1", "centroids")
      mv("pqcents-v1", "pqcents")
      mv("postings-g1", "postings")
      fs.listStatus(root).map(_.getPath)
        .filter(_.getName.startsWith("manifest-v"))
        .foreach(p => fs.delete(p, false))
      (0 to 2).foreach { r =>
        Similarity.ivfPqIndexAppend(
          e.filter(col("vec_id") % 10 === 9 && col("vec_id") % 3 === r),
          "vec_id", "embedding", path = path)
      }
      val rep = Similarity.ivfIndexCompact(s, path, maxFilesPerCell = 1)
      require(rep.cellsCompacted > 0 && rep.filesAfter < rep.filesBefore,
        s"migration fixture must actually compact, got $rep")
      Similarity.ivfPqIndexTopK(e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 2, path = path)
        .orderBy("query_id", "rank")
    }),

    // IVFADC DRIFT MAINTENANCE end-to-end: build on the base slice,
    // append the held-out tenth (recall@5 drops to 0.94 at sf0.01 —
    // below the 0.999 floor), maintain measures the served recall,
    // trips, REBUILDS both quantizers from the full corpus (after the
    // corpus-covers-postings precondition), swaps the artifacts, and
    // the gate hashes the POST-MAINTAIN serve against a DuckDB replay
    // trained on everything. `retrained` rides the hash, so a floor
    // that silently stops tripping turns the gate red.
    "q_sim_ann_ivfpq_maintain" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      // the rebuild mutates a copy-on-write clone of the shared index
      val path = cowClusterTable(s, sharedIvfPqIndex(s, d),
        "graft-ivfpq-maintain")
      val rep = Similarity.ivfPqIndexMaintain(e.filter(col("vec_id") < 10),
        e, "vec_id", "embedding", k = 5, nProbe = 2, path = path,
        recallFloor = 0.999, itersCoarse = 2, itersPq = 1)
      Similarity.ivfPqIndexTopK(e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 2, path = path)
        .withColumn("retrained", lit(rep.retrained))
        .orderBy("query_id", "rank")
    }),

    // STREAMING ANN index maintenance: the same base build, but the
    // held-out tenth arrives as 2 ordered drops through the real
    // streaming engine (AvailableNow replay, per-batch append under
    // the persisted artifacts, marker-guarded re-delivery). Appends
    // are content-commutative — the final postings equal one batch
    // append of everything — so the SAME oracle as
    // q_sim_ann_ivfpq_index must hash-match the served result.
    "q_stream_ann_index" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val path = graft.util.TempDirs.scoped("graft-streamann-index").toString
      val dir = graft.util.TempDirs.scoped("graft-streamann")
      Similarity.ivfPqIndexBuild(e.filter(col("vec_id") % 10 =!= 9),
        "vec_id", "embedding", nCells = 8, itersCoarse = 2,
        m = 4, ks = 4, itersPq = 1, path = path)
      val dropsDir = graft.streaming.PipelineStreams.stageOrderedDrops(
        e.filter(col("vec_id") % 10 === 9), "vec_id", 2,
        "graft-streamann-drops")
      graft.streaming.PipelineStreams.withShufflePartitions(s, 8) {
        graft.streaming.PipelineStreams.annIndexAppendStream(s,
          dropsDir.toString, "vec_id", "embedding", path,
          dir.resolve("ckpt").toString)
      }
      Similarity.ivfPqIndexTopK(e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 2, path = path)
        .orderBy("query_id", "rank")
    }),

    // Stratified EXACT-QUOTA sample: 30 docs per language by portable
    // hash rank — hard per-class counts where q_mix_sample's rate-based
    // membership only hits targets in expectation. The map-side
    // bounded-heap prune (see Sampling.stratifiedQuota) keeps the
    // shuffle at quota x partitions per stratum, provably without
    // changing the winners — so the plain row_number SQL oracles it.
    "q_stratified_sample" -> ((s, d) => {
      graft.functions.Sampling.stratifiedQuota(
          Tables.documents(s, d), "doc_id", "lang", quota = 30)
        .orderBy("stratum", "rk")
    }),

    // TEMPERATURE-smoothed mixture: per-source quotas ~ count^0.5
    // (the multilingual-LM p^alpha upsampling idiom) — dominant
    // sources flattened, low-resource sources keep proportionally
    // more. Engine-exact via the sqrt grid + integer micro-unit
    // weights + int64 floor division; selection is the stratified
    // hash-rank. The oracle restates counts -> sqrt -> quota -> rank.
    "q_mix_temperature" -> ((s, d) => {
      graft.functions.Sampling.temperatureQuota(
          Tables.documents(s, d), "doc_id", "lang",
          totalN = 300, sqrtSteps = 1)
        .orderBy("grp", "rk")
    }),

    // WEIGHTED sampling without replacement (sequential Poisson /
    // priority sampling): 20 docs per source, probability ~ n_chars —
    // longer docs proportionally likelier, reproducibly. The priority
    // is one IEEE division ((hash9+0.5)/weight), so the SQL oracle
    // recomputes the identical doubles and the identical sample.
    "q_weighted_sample" -> ((s, d) => {
      graft.functions.Sampling.weightedSample(
          Tables.documents(s, d), "doc_id", "n_chars", k = 20,
          stratumCol = "source")
        .orderBy("stratum", "rk")
    }),

    // TF-IDF top-3 terms per doc under the integer-scaled
    // rank-preserving idf (no libm ln in the ranking — see
    // TextFunctions.tfIdfTopTerms).
    "q_t_tfidf" -> ((s, d) => {
      T.tfIdfTopTerms(Tables.documents(s, d), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")
    }),

    // PERSISTENT INVERTED TEXT INDEX + BM25 top-5 — build the
    // bucket-partitioned postings store, then serve first-8-token
    // self-queries (every 37th doc). The oracle restates tokenize →
    // tf/df/dl → the portable-exact micro-unit BM25 (the no-libm ln
    // polynomial, generated from the SAME template as the engine
    // expression) → (score_u DESC, doc_id) top-5.
    "q_text_bm25_topk" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextIndex.topK(bm25Queries(docs, "doc_id % 37 = 0"),
          "query_id", "qtext", k = 5, sharedTextIndex(s, d))
        .orderBy("query_id", "rank")
    }),

    // Same serve through the INCREMENTAL path: build on doc_id%3<>0,
    // append the rest, then COMPACT every bucket to ~one file — the
    // postings, stats and scores must equal the full-corpus build bit
    // for bit (same full-corpus oracle; compaction is value-invisible
    // or the hash turns red).
    "q_text_bm25_append" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val path =
        graft.util.TempDirs.scoped("graft-textidx-app").toString + "/index"
      TextIndex.build(docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", path, nBuckets = 32)
      TextIndex.append(docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", path)
      TextIndex.compact(s, path, maxFilesPerBucket = 1)
      TextIndex.topK(bm25Queries(docs, "doc_id % 37 = 0"),
          "query_id", "qtext", k = 5, path)
        .orderBy("query_id", "rank")
    }),

    // BM25 serve with the STOPWORD-SKEW dial live: maxDfFrac = 0.78
    // drops query terms whose document frequency exceeds 78% of the
    // corpus — the one skew defense the index has at 100 TB (a
    // stopword's inverted list is corpus-sized by nature). The corpus'
    // query terms straddle the cut (df fracs 0.75–0.80), so some terms
    // are genuinely pruned and some genuinely kept; the oracle
    // restates the cap from the same postings (CAST(df AS DOUBLE) <=
    // 0.78 * N — one IEEE multiply + compare, engine-portable).
    "q_text_bm25_df" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      TextIndex.topK(bm25Queries(docs, "doc_id % 37 = 0"),
          "query_id", "qtext", k = 5, sharedTextIndex(s, d),
          maxDfFrac = 0.78)
        .orderBy("query_id", "rank")
    }),

    // DOCUMENT RETRACTION (takedown/opt-out) from the text index:
    // full build, then every 5th doc is retracted — ONE atomic meta
    // write pairing the tombstone list with the decremented
    // N/total_tokens (postings scatter across term buckets, so
    // nothing is rewritten; serves drop the ids before df
    // derivation). The serve must score EXACTLY as a fresh build
    // without those docs: same stats, same df, same micro-unit BM25 —
    // the oracle restates the retracted corpus while queries still
    // draw from the full table (a retracted doc's query keeps
    // serving; it just can't be retrieved).
    "q_text_retract" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // copy-on-write from the shared full-corpus index (the
      // cowClusterTable discipline): retraction mutates a private
      // copy; correctness does not lean on the sharing — the serve
      // hash-matches the from-scratch retracted-corpus oracle
      val path = cowClusterTable(s, sharedTextIndex(s, d),
        "graft-textidx-retr")
      val gone = docs.filter(expr("doc_id % 5 = 0"))
        .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
      TextIndex.retract(s, path, gone.toSeq)
      TextIndex.topK(bm25Queries(docs, "doc_id % 37 = 0"),
          "query_id", "qtext", k = 5, path)
        .orderBy("query_id", "rank")
    }),

    // PHYSICAL FOLD of the retraction (vacuum): q_text_retract's
    // takedown set, then TextIndex.vacuum rewrites ONLY the term
    // buckets holding tombstoned postings (the ANN cell-fold
    // discipline applied to the inverted file) and resets the list
    // (the retraction-epoch bump rides the same atomic commit). The
    // fold is value-invisible — stats were already decremented at
    // retract — so the serve must STILL hash-match the fresh-build-
    // without-the-docs oracle, now with zero tombstones left to
    // filter at serve time (the pure physical-deletion path a
    // compliance deadline demands).
    "q_text_vacuum" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val path = cowClusterTable(s, sharedTextIndex(s, d),
        "graft-textidx-vac")
      val gone = docs.filter(expr("doc_id % 5 = 0"))
        .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
      TextIndex.retract(s, path, gone.toSeq)
      TextIndex.vacuum(s, path)
      TextIndex.topK(bm25Queries(docs, "doc_id % 37 = 0"),
          "query_id", "qtext", k = 5, path)
        .orderBy("query_id", "rank")
    }),

    // STREAMED takedown feed against the text index: the same
    // retraction set as q_text_retract arrives as 2 ordered drops
    // through the real streaming engine (foreachBatch retract — NO
    // markers: retraction is idempotent per id, so checkpoint
    // re-delivery converges by algebra). Served result must equal the
    // batch retraction bit for bit — the SAME fresh-build-without-
    // the-docs oracle covers both paths.
    "q_stream_text_retract" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val path = cowClusterTable(s, sharedTextIndex(s, d),
        "graft-textidx-sretr")
      val dir = graft.util.TempDirs.scoped("graft-textidx-sretr-ckpt")
      val dropsDir = graft.streaming.PipelineStreams.stageOrderedDrops(
        docs.filter(expr("doc_id % 5 = 0")).select("doc_id"),
        "doc_id", 2, "graft-textidx-sretr-drops")
      graft.streaming.PipelineStreams.withShufflePartitions(s, 8) {
        graft.streaming.PipelineStreams.textIndexRetractStream(s,
          dropsDir.toString, "doc_id", path,
          dir.resolve("ckpt").toString)
      }
      TextIndex.topK(bm25Queries(docs, "doc_id % 37 = 0"),
          "query_id", "qtext", k = 5, path)
        .orderBy("query_id", "rank")
    }),

    // STREAMED text-index maintenance: base build on doc_id%3<>0, the
    // rest arrives as 2 ordered drops through the real streaming
    // engine (foreachBatch append + per-batch markers), served result
    // vs the same full-corpus oracle — appends are content-
    // commutative, so one oracle covers batch and streamed paths.
    "q_stream_text_bm25" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val path =
        graft.util.TempDirs.scoped("graft-textidx-str").toString + "/index"
      val dir = graft.util.TempDirs.scoped("graft-textidx-str-ckpt")
      TextIndex.build(docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", path, nBuckets = 32)
      val dropsDir = graft.streaming.PipelineStreams.stageOrderedDrops(
        docs.filter(col("doc_id") % 3 === 0).select("doc_id", "text"),
        "doc_id", 2, "graft-textidx-drops")
      graft.streaming.PipelineStreams.withShufflePartitions(s, 8) {
        graft.streaming.PipelineStreams.textIndexAppendStream(s,
          dropsDir.toString, "doc_id", "text", path,
          dir.resolve("ckpt").toString)
      }
      TextIndex.topK(bm25Queries(docs, "doc_id % 37 = 0"),
          "query_id", "qtext", k = 5, path)
        .orderBy("query_id", "rank")
    }),

    // Text-index HEALTH observable: corpus stats, vocabulary and
    // posting grain (SQL-restated), plus the file-pressure contract
    // booleans a fresh bucket-co-located build pins (<= one file per
    // bucket, never more files than buckets).
    "q_text_index_health" -> ((s, d) => {
      TextIndex.health(s, sharedTextIndex(s, d))
        .select(col("n_docs"), col("total_tokens"), col("n_buckets"),
          col("vocab"), col("postings"),
          (col("live_files") <= col("n_buckets")).cast("bigint")
            .as("files_le_buckets"),
          col("max_files_per_bucket"), col("n_tombstones"))
    }),

    // BM25 retrieval QUALITY observable: self-retrieval MRR /
    // hit-rate / recall@5 through the generic retrievalEval metric
    // (each query's source doc is its one relevant document — the
    // first-8-token query should surface it at or near rank 1).
    // All-integer metrics; the oracle recomputes the BM25 leg AND
    // the metric arithmetic.
    "q_text_bm25_eval" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val results = TextIndex.topK(bm25Queries(docs, "doc_id % 37 = 0"),
          "query_id", "qtext", k = 5, sharedTextIndex(s, d))
        .withColumnRenamed("doc_id", "neighbor_id")
      val qrels = docs.filter(expr("doc_id % 37 = 0"))
        .select(col("doc_id").as("query_id"),
          col("doc_id").as("relevant_id"))
      Similarity.retrievalEval(results, qrels, k = 5)
        .orderBy("query_id")
    }),

    // EXACT PHRASE search over the POSITIONAL index: queries are each
    // 41st doc's tokens 3..5 as a contiguous phrase; documents rank
    // by occurrence count (overlaps counted). The oracle restates the
    // anchor-join (positions from the token arrays, group by
    // (query, doc, pos - qpos), anchor complete iff every qpos
    // matched) — all-integer output.
    "q_text_phrase" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val path = sharedTextIndex(s, d)
      val q = docs.filter(expr("doc_id % 41 = 0"))
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(T.tokens(col("text")), 3, 3)).as("qtext"))
      TextIndex.phraseTopK(q, "query_id", "qtext", k = 5, path)
        .orderBy("query_id", "rank")
    }),

    // HYBRID lexical ⊕ embedding retrieval: BM25 top-10 and exact
    // cosine top-10 over the same query ids, fused by micro-unit
    // reciprocal-rank fusion (rrfK=60) into the final top-5. The
    // oracle recomputes both legs (the q_sim_topk cosine chain + the
    // BM25 chain) and the integer fusion.
    "q_text_hybrid_rrf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val e = Tables.embeddings(s, d)
      val bm = TextIndex.topK(bm25Queries(docs, "doc_id < 10"),
        "query_id", "qtext", k = 10, sharedTextIndex(s, d))
      val cos = Similarity.bruteForceTopK(
          e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      TextIndex.rrfFuse(Seq(bm, cos), k = 5)
        .orderBy("query_id", "rank")
    }),

    // HYBRID retrieval over BOTH PERSISTED INDEXES — the production
    // 100 TB composition: the BM25 inverted-index serve (bucket-pruned)
    // ⊕ the IVFADC index serve (cell-pruned ADC over the persisted
    // build+append postings), fused by micro-unit RRF. Unlike
    // q_text_hybrid_rrf (whose embedding leg is brute-force cosine),
    // neither leg here scans the corpus: both read pruned slices of
    // on-disk index structures. The oracle chains the two existing
    // serve restatements (the BM25 CTE chain nested as a subquery —
    // its CTE names collide with the IVFADC replay's — and the
    // full IVFADC train/encode/probe replay) plus the integer fusion.
    "q_hybrid_indexed" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val e = Tables.embeddings(s, d)
      val bm = TextIndex.topK(bm25Queries(docs, "doc_id < 10"),
        "query_id", "qtext", k = 10, sharedTextIndex(s, d))
      val path = graft.util.TempDirs.scoped("graft-hybrid-ivfpq")
        .toString
      Similarity.ivfPqIndexBuild(e.filter(col("vec_id") % 10 =!= 9),
        "vec_id", "embedding", nCells = 8, itersCoarse = 2,
        m = 4, ks = 4, itersPq = 1, path = path)
      Similarity.ivfPqIndexAppend(e.filter(col("vec_id") % 10 === 9),
        "vec_id", "embedding", path = path)
      val ann = Similarity.ivfPqIndexTopK(e.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 10, nProbe = 2, path = path)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      TextIndex.rrfFuse(Seq(bm, ann), k = 5)
        .orderBy("query_id", "rank")
    }))

  /** The BM25 gates' query frame: each selected doc's first 8
    * whitespace tokens re-joined as the query text (self-retrieval —
    * the source doc should rank at or near the top). */
  private def bm25Queries(docs: DataFrame, pred: String): DataFrame =
    docs.filter(expr(pred))
      .select(col("doc_id").as("query_id"),
        concat_ws(" ",
          slice(T.tokens(col("text")), 1, 8)).as("qtext"))

  private val punctClass = """[.,;:!?''"()\-]""" // SQL-escaped ' as ''

  /** Full SQL restatement of the SimHash pipeline under the portable
    * token hash: the four mod-2^32 character folds
    * ([[graft.plans.PortableHash64Expr]], seeds/multipliers read from
    * the same arrays), per-doc per-bit majority vote, the four 16-bit
    * chunks, and pair generation = (shares a chunk) AND (Hamming <= 6)
    * — exactly [[graft.dedup.Dedup.simHashNearDupPairs]]. Generated
    * (64 bit-count sums) rather than hand-written so the constants
    * can't drift from the expression. */
  private val simhashOracle: String = {
    import graft.plans.PortableHash64Expr.{Seeds, Mults}
    val foldCols = Seeds.zip(Mults).zipWithIndex.map { case ((seed, mult), k) =>
      s"    list_reduce(list_prepend(CAST($seed AS BIGINT), cs),\n" +
        s"      (h, c) -> (h * $mult + c) % 4294967296) AS h$k"
    }.mkString(",\n")
    val bitSums = (0 until 64).map { b =>
      s"sum((h${b / 16} >> ${b % 16}) & 1) AS c$b"
    }.grouped(4).map(_.mkString(", ")).mkString(",\n    ")
    val chunkCols = (0 until 4).map { k =>
      (0 until 16).map { i =>
        s"CASE WHEN 2 * c${k * 16 + i} >= n THEN ${1L << i} ELSE 0 END"
      }.mkString("    ", " +\n      ", s" AS k$k")
    }.mkString(",\n")
    val ham = (0 until 4).map(k => s"bit_count(xor(a.k$k, b.k$k))").mkString(" + ")
    raw"""WITH toks AS (
         |  SELECT doc_id,
         |    unnest(CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         |      ELSE regexp_split_to_array(trim(text), '\s+') END) AS tok
         |  FROM documents),
         |ch AS (
         |  SELECT doc_id,
         |    list_transform(range(length(tok)),
         |      j -> CAST(ascii(substr(tok, CAST(j + 1 AS INT), 1)) AS BIGINT)) AS cs
         |  FROM toks),
         |hs AS (
         |  SELECT doc_id,
         |$foldCols
         |  FROM ch),
         |cnt AS (
         |  SELECT doc_id, count(*) AS n,
         |    $bitSums
         |  FROM hs GROUP BY doc_id),
         |sig AS (
         |  SELECT d.doc_id AS doc_id,
         |$chunkCols
         |  FROM documents d LEFT JOIN cnt c ON d.doc_id = c.doc_id)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST($ham AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE (a.k0 = b.k0 OR a.k1 = b.k1 OR a.k2 = b.k2 OR a.k3 = b.k3)
         |  AND $ham <= 6
         |ORDER BY id_a, id_b""".stripMargin
  }

  /** The exact 3-gram jaccard pair set at threshold 0.5 — the shared
    * oracle of every near-dup operator whose candidate generation is
    * verified-exhaustive on this corpus (minhash LSH, winnowing, and
    * the streamed LSH index). */
  // Shared CTE chain for the persistent-IVF-index oracles: quantize,
  // train on the base slice (vec_id %% 10 <> 9), assign EVERYTHING under
  // the trained centroids, probe nProbe=2, score, rank -> `r`. Ends
  // without a final SELECT so both the index gate and the recall gate
  // can extend it.
  /** The base/delta-split coarse chain alone (training on the base
    * slice `vec_id % 10 <> 9`, final assignment `a3` over everything)
    * — the shared prefix of the persistent-index oracles; the IVFADC
    * index oracle chains its residual-PQ replay onto it. */
  /** `trainPred` selects the TRAINING slice (`cb`): the build-time
    * corpus for the build+append gates, `TRUE` for the post-maintain
    * gate (maintain rebuilds both quantizers from the full corpus). */
  private def ivfIndexAssignCtesFor(trainPred: String): String =
    s"""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        |  FROM e),
        |c AS (
        |  SELECT vec_id,
        |    CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / scale, 0) AS BIGINT))
        |    END AS codes
        |  FROM s),
        |cb AS (SELECT vec_id, codes FROM c WHERE $trainPred),""".stripMargin +
    """
        |x AS (
        |  SELECT vec_id, CAST(i AS INT) AS pos,
        |    codes[CAST(i + 1 AS INT)] AS x
        |  FROM (SELECT vec_id, codes, unnest(range(len(codes))) AS i FROM cb)),
        |cents0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
        |    list_transform(codes, x -> 1000 * x) AS cent
        |  FROM (SELECT vec_id, codes FROM cb ORDER BY vec_id LIMIT 8) seeds),
        |a1 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT v.vec_id, s.cell,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_sum(list_transform(range(len(v.codes)),
        |          i -> (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)])
        |             * (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)]))),
        |        s.cell) AS rn
        |    FROM cb v CROSS JOIN cents0 s) t WHERE rn = 1),
        |u1 AS (
        |  SELECT a.cell, x.pos,
        |    CAST(round((1000.0 * sum(x.x)) / count(*), 0) AS BIGINT) AS m
        |  FROM a1 a JOIN x ON a.vec_id = x.vec_id
        |  GROUP BY a.cell, x.pos),
        |cents1 AS (
        |  SELECT p.cell,
        |    CASE WHEN count(u.m) = 0 THEN any_value(p.cent)
        |         ELSE list(u.m ORDER BY u.pos) END AS cent
        |  FROM cents0 p LEFT JOIN u1 u ON p.cell = u.cell
        |  GROUP BY p.cell),
        |a2 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT v.vec_id, s.cell,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_sum(list_transform(range(len(v.codes)),
        |          i -> (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)])
        |             * (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)]))),
        |        s.cell) AS rn
        |    FROM cb v CROSS JOIN cents1 s) t WHERE rn = 1),
        |u2 AS (
        |  SELECT a.cell, x.pos,
        |    CAST(round((1000.0 * sum(x.x)) / count(*), 0) AS BIGINT) AS m
        |  FROM a2 a JOIN x ON a.vec_id = x.vec_id
        |  GROUP BY a.cell, x.pos),
        |cents2 AS (
        |  SELECT p.cell,
        |    CASE WHEN count(u.m) = 0 THEN any_value(p.cent)
        |         ELSE list(u.m ORDER BY u.pos) END AS cent
        |  FROM cents1 p LEFT JOIN u2 u ON p.cell = u.cell
        |  GROUP BY p.cell),
        |a3 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT v.vec_id, s.cell,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_sum(list_transform(range(len(v.codes)),
        |          i -> (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)])
        |             * (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)]))),
        |        s.cell) AS rn
        |    FROM c v CROSS JOIN cents2 s) t WHERE rn = 1)""".stripMargin

  /** The build+append gates' training slice (the base build corpus). */
  private val ivfIndexAssignCtes: String =
    ivfIndexAssignCtesFor("vec_id % 10 <> 9")

  /** IVF-index serve replay; `candPred` filters the CANDIDATE side
    * (`t` = postings) — "TRUE" for the plain gates, the tombstone
    * restatement (`NOT (vec_id ...)`) for the retraction gate, where
    * training/assignment are untouched (retraction never retrains)
    * but retracted ids cannot be retrieved. */
  private def ivfIndexServeCtesFor(candPred: String): String =
    ivfIndexAssignCtes + s""",
        |qp AS (
        |  SELECT vec_id AS query_id, cell FROM (
        |    SELECT v.vec_id, s.cell,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_sum(list_transform(range(len(v.codes)),
        |          i -> (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)])
        |             * (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)]))),
        |        s.cell) AS rn
        |    FROM c v CROSS JOIN cents2 s WHERE v.vec_id < 10) t WHERE rn <= 2),
        |n AS (SELECT vec_id, codes,
        |        CAST(list_sum(list_transform(codes, x -> x * x)) AS BIGINT) AS nsq
        |      FROM c),
        |cand AS (
        |  SELECT q.query_id, t.vec_id AS neighbor_id,
        |    round(CAST(list_sum(list_transform(range(len(qn.codes)),
        |            i -> qn.codes[CAST(i + 1 AS INT)] * t.codes[CAST(i + 1 AS INT)]))
        |          AS DOUBLE)
        |      / (sqrt(CAST(qn.nsq AS DOUBLE)) * sqrt(CAST(t.nsq AS DOUBLE))), 4)
        |      AS sim
        |  FROM qp q
        |  JOIN a3 a ON a.cell = q.cell
        |  JOIN n t ON t.vec_id = a.vec_id
        |  JOIN n qn ON qn.vec_id = q.query_id
        |  WHERE t.vec_id <> q.query_id AND qn.nsq > 0 AND t.nsq > 0
        |    AND ($candPred)),
        |r AS (SELECT query_id, neighbor_id, sim,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM cand)
      |""".stripMargin

  private val ivfIndexServeCtes: String = ivfIndexServeCtesFor("TRUE")

  /** IVFADC-index replay through the ranked `r` CTE — shared by the
    * batch gate, the streaming gate, the recall observable, and (at
    * `trainPred = TRUE`, the full corpus) the post-maintain gate. */
  private def ivfPqIndexCtesFor(trainPred: String,
      candPred: String = "TRUE"): String =
    (ivfIndexAssignCtesFor(trainPred) + """,
        |resi AS (
        |  SELECT a.vec_id, a.cell,
        |    list_transform(range(len(c.codes)),
        |      i -> 1000 * c.codes[CAST(i + 1 AS INT)] - ct.cent[CAST(i + 1 AS INT)]) AS res
        |  FROM a3 a JOIN c ON a.vec_id = c.vec_id
        |       JOIN cents2 ct ON a.cell = ct.cell),
        |rsub AS (
        |  SELECT vec_id, CAST(j AS INT) AS j,
        |    list_slice(res, j * 16 + 1, j * 16 + 16) AS sc
        |  FROM resi, range(4) tj(j)),
        |rx AS (
        |  SELECT vec_id, j, CAST(i AS INT) AS pos, sc[CAST(i + 1 AS INT)] AS x
        |  FROM (SELECT vec_id, j, sc, unnest(range(len(sc))) AS i FROM rsub)),
        |rcents0 AS (
        |  SELECT j,
        |    CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS cell,
        |    sc AS cent
        |  FROM rsub
        |  WHERE vec_id IN (SELECT vec_id FROM cb ORDER BY vec_id LIMIT 4)),
        |ra1 AS (
        |  SELECT vec_id, j, cell FROM (
        |    SELECT v.vec_id, v.j, s.cell,
        |      row_number() OVER (PARTITION BY v.vec_id, v.j ORDER BY
        |        list_sum(list_transform(range(len(v.sc)),
        |          i -> (v.sc[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)])
        |             * (v.sc[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)]))),
        |        s.cell) AS rn
        |    FROM rsub v JOIN rcents0 s ON v.j = s.j
        |    WHERE v.vec_id IN (SELECT vec_id FROM cb)) t WHERE rn = 1),
        |ru1 AS (
        |  SELECT a.j, a.cell, x.pos,
        |    CAST(round((1.0 * sum(x.x)) / count(*), 0) AS BIGINT) AS mc
        |  FROM ra1 a JOIN rx x ON a.vec_id = x.vec_id AND a.j = x.j
        |  GROUP BY a.j, a.cell, x.pos),
        |rcents1 AS (
        |  SELECT pp.j, pp.cell,
        |    CASE WHEN count(u.mc) = 0 THEN any_value(pp.cent)
        |         ELSE list(u.mc ORDER BY u.pos) END AS cent
        |  FROM rcents0 pp LEFT JOIN ru1 u ON pp.j = u.j AND pp.cell = u.cell
        |  GROUP BY pp.j, pp.cell),
        |encr AS (
        |  SELECT vec_id, j, cell FROM (
        |    SELECT v.vec_id, v.j, s.cell,
        |      row_number() OVER (PARTITION BY v.vec_id, v.j ORDER BY
        |        list_sum(list_transform(range(len(v.sc)),
        |          i -> (v.sc[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)])
        |             * (v.sc[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)]))),
        |        s.cell) AS rn
        |    FROM rsub v JOIN rcents1 s ON v.j = s.j) t WHERE rn = 1),
        |recr AS (
        |  SELECT en.vec_id, en.j, ct.cent
        |  FROM encr en JOIN rcents1 ct ON en.j = ct.j AND en.cell = ct.cell),
        |xhat AS (
        |  SELECT rc.vec_id, rc.j,
        |    list_transform(range(16),
        |      i -> ct.cent[CAST(rc.j * 16 + i + 1 AS INT)] + rc.cent[CAST(i + 1 AS INT)]) AS xs
        |  FROM recr rc JOIN a3 a ON rc.vec_id = a.vec_id
        |       JOIN cents2 ct ON a.cell = ct.cell),
        |xn AS (
        |  SELECT vec_id, CAST(sum(csq) AS BIGINT) AS x2
        |  FROM (SELECT vec_id,
        |          CAST(list_sum(list_transform(xs, y -> y * y)) AS BIGINT) AS csq
        |        FROM xhat) t
        |  GROUP BY vec_id),
        |nq AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(codes, x -> x * x)) AS BIGINT) AS nsq
        |  FROM c),
        |qn AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(codes,
        |      x -> 1000 * x * 1000 * x)) AS BIGINT) AS q2
        |  FROM c WHERE vec_id < 10),
        |qprobe AS (
        |  SELECT vec_id AS query_id, cell FROM (
        |    SELECT q.vec_id, s.cell,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(range(len(q.codes)),
        |          i -> (1000 * q.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)])
        |             * (1000 * q.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)]))),
        |        s.cell) AS rn
        |    FROM c q CROSS JOIN cents2 s WHERE q.vec_id < 10) t WHERE rn <= 2),
        |cand AS (
        |  SELECT qp2.query_id, a.vec_id AS neighbor_id
        |  FROM qprobe qp2 JOIN a3 a ON qp2.cell = a.cell
        |  WHERE a.vec_id <> qp2.query_id AND (""".stripMargin +
      candPred + """)),
        |qsub AS (
        |  SELECT vec_id, CAST(j AS INT) AS j,
        |    list_transform(list_slice(codes, j * 16 + 1, j * 16 + 16),
        |      x -> 1000 * x) AS qs
        |  FROM c, range(4) tj(j) WHERE vec_id < 10),
        |d AS (
        |  SELECT cd.query_id, cd.neighbor_id,
        |    CAST(list_sum(list_transform(range(len(q.qs)),
        |      i -> q.qs[CAST(i + 1 AS INT)] * xh.xs[CAST(i + 1 AS INT)])) AS BIGINT) AS pd
        |  FROM cand cd JOIN qsub q ON q.vec_id = cd.query_id
        |       JOIN xhat xh ON xh.vec_id = cd.neighbor_id AND xh.j = q.j),
        |dd AS (SELECT query_id, neighbor_id, CAST(sum(pd) AS BIGINT) AS dt
        |       FROM d GROUP BY query_id, neighbor_id),
        |p AS (
        |  SELECT dd.query_id, dd.neighbor_id,
        |    round(CAST(dd.dt AS DOUBLE)
        |      / (sqrt(CAST(qn.q2 AS DOUBLE)) * sqrt(CAST(xn.x2 AS DOUBLE))), 4) AS sim
        |  FROM dd JOIN qn ON dd.query_id = qn.vec_id
        |       JOIN xn ON dd.neighbor_id = xn.vec_id
        |       JOIN nq ON dd.neighbor_id = nq.vec_id
        |  WHERE qn.q2 > 0 AND xn.x2 > 0 AND nq.nsq > 0),
        |r AS (SELECT query_id, neighbor_id, sim,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM p)""".stripMargin)

  private val ivfPqIndexCtes: String =
    ivfPqIndexCtesFor("vec_id % 10 <> 9")

  /** Shared by q_sim_ann_ivfpq_index (batch build+append) and
    * q_stream_ann_index (streamed appends): both must reconstruct
    * the identical on-disk index, so one replay oracles both. */
  private val ivfPqIndexOracle: String =
    ivfPqIndexCtes + """
        |SELECT query_id, rank, neighbor_id, sim FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin

  /** The post-maintain serve: maintain's rebuild IS a deterministic
    * from-scratch ivfPqIndexBuild on the FULL corpus (same geometry,
    * read back from the artifacts), so the oracle is the same replay
    * trained on everything. `retrained` rides the hash: a maintain
    * that failed to trip its floor would serve the STALE index and
    * carry false — either way the gate goes red, so the drift
    * trigger itself is under test, not just the rebuild. */
  private val ivfPqMaintainOracle: String =
    ivfPqIndexCtesFor("TRUE") + """
        |SELECT query_id, rank, neighbor_id, sim, TRUE AS retrained
        |FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin

  /** The recall observable on top of the same replay: the EXACT leg
    * is the ADC ranking with NO probe pruning — the same
    * reconstruction-cosine chain over ALL (query, vector) pairs (the
    * postings hold PQ codes, so all-cells probing serves ADC over
    * every reconstruction, NOT full-code brute force — the metric
    * isolates pruning loss on top of quantization, which is the
    * serving dial). */
  private val ivfPqRecallOracle: String =
    ivfPqIndexCtes + """,
        |df AS (
        |  SELECT q.vec_id AS query_id, xh.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(len(q.qs)),
        |      i -> q.qs[CAST(i + 1 AS INT)] * xh.xs[CAST(i + 1 AS INT)])) AS BIGINT) AS pd
        |  FROM qsub q JOIN xhat xh ON xh.j = q.j
        |  WHERE xh.vec_id <> q.vec_id),
        |ddf AS (SELECT query_id, neighbor_id, CAST(sum(pd) AS BIGINT) AS dt
        |        FROM df GROUP BY query_id, neighbor_id),
        |pf AS (
        |  SELECT ddf.query_id, ddf.neighbor_id,
        |    round(CAST(ddf.dt AS DOUBLE)
        |      / (sqrt(CAST(qn.q2 AS DOUBLE)) * sqrt(CAST(xn.x2 AS DOUBLE))), 4) AS sim
        |  FROM ddf JOIN qn ON ddf.query_id = qn.vec_id
        |       JOIN xn ON ddf.neighbor_id = xn.vec_id
        |       JOIN nq ON ddf.neighbor_id = nq.vec_id
        |  WHERE qn.q2 > 0 AND xn.x2 > 0 AND nq.nsq > 0),
        |exact AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY sim DESC, neighbor_id) AS rk
        |    FROM pf) t WHERE rk <= 5),
        |approx AS (
        |  SELECT query_id, rank, neighbor_id, sim FROM r WHERE rank <= 5),
        |nex AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY 1),
        |hit AS (
        |  SELECT a.query_id, count(*) AS n_hit
        |  FROM approx a JOIN exact e
        |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        |  GROUP BY 1)
        |SELECT a.query_id, a.rank, a.neighbor_id, a.sim, nx.n_exact,
        |  coalesce(h.n_hit, 0) AS n_hit,
        |  round(1.0 * coalesce(h.n_hit, 0) / nx.n_exact, 4) AS recall_at_k
        |FROM approx a
        |JOIN nex nx USING (query_id)
        |LEFT JOIN hit h ON a.query_id = h.query_id
        |ORDER BY query_id, rank""".stripMargin

  private val jaccardPairsSql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(CASE WHEN len(a) < 3 THEN CAST([] AS VARCHAR[])
      |      ELSE list_transform(range(len(a) - 2),
      |        i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]) END) AS shingle
      |  FROM t),
      |n AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  round(1.0 * shared / (na.n_sh + nb.n_sh - shared), 6) AS jaccard
      |FROM p JOIN n na ON id_a = na.doc_id JOIN n nb ON id_b = nb.doc_id
      |WHERE 1.0 * shared / (na.n_sh + nb.n_sh - shared) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  // Packing.packGreedy restated as a recursive chain advance: each
  // iteration extends every (grp, shard) chain by its next doc in id
  // order. Shared by the batch AND streamed packing queries.
  private val packOracle: String =
    raw"""WITH RECURSIVE d AS (
      |  SELECT source AS grp, doc_id // 200 AS shard, doc_id,
      |    least(CASE WHEN length(trim(text)) = 0 THEN 0
      |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END,
      |      512) AS toks,
      |    row_number() OVER (PARTITION BY source, doc_id // 200
      |      ORDER BY doc_id) AS rn
      |  FROM documents),
      |p AS (
      |  SELECT grp, shard, doc_id, toks, rn, toks AS fill, 0 AS bin
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.grp, d.shard, d.doc_id, d.toks, d.rn,
      |    CASE WHEN p.fill + d.toks > 512 THEN d.toks
      |         ELSE p.fill + d.toks END,
      |    CASE WHEN p.fill + d.toks > 512 THEN p.bin + 1 ELSE p.bin END
      |  FROM p JOIN d ON d.grp = p.grp AND d.shard = p.shard
      |    AND d.rn = p.rn + 1)
      |SELECT grp, shard, CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
      |  CAST(sum(toks) AS BIGINT) AS fill_toks,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM p GROUP BY grp, shard, bin ORDER BY grp, shard, bin""".stripMargin

  // Shared-shingle contamination closure — shared by q_decontaminate
  // and q_decontaminate_bloom (the bloom pre-prune cannot change the
  // result set, only the shuffle volume).
  private val decontaminateOracle: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(CASE WHEN len(a) < 3 THEN CAST([] AS VARCHAR[])
      |      ELSE list_transform(range(len(a) - 2),
      |        i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]) END) AS shingle
      |  FROM t),
      |tr AS (SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id % 50 <> 0),
      |ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 50 = 0)
      |SELECT train_id, eval_id, count(*) AS shared
      |FROM tr JOIN ev USING (shingle)
      |GROUP BY 1, 2 HAVING count(*) >= 2
      |ORDER BY train_id, eval_id""".stripMargin

  // Recursive closure over exact-jaccard pairs — shared by
  // q_dedup_clusters (driver union-find) and q_dedup_ccstar
  // (large-star/small-star): connected components are unique, so both
  // algorithms must hash-match the same SQL.
  /** Recursive-closure CTE chain shared by every LSH->CC oracle:
    * exhaustive jaccard>=0.5 pair set + reachability. Append a final
    * SELECT (labels = min reachable id per doc). */
  /** Predicate-parametrized: the retraction gate runs the closure over
    * the SURVIVING corpus only. */
  private def clusterClosureCtesOver(pred: String): String =
    s"""WITH RECURSIVE t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS a
      |  FROM documents WHERE $pred),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(CASE WHEN len(a) < 3 THEN CAST([] AS VARCHAR[])
      |      ELSE list_transform(range(len(a) - 2),
      |        i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]) END) AS shingle
      |  FROM t),
      |n AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pq AS (
      |  SELECT id_a, id_b FROM p
      |  JOIN n na ON id_a = na.doc_id JOIN n nb ON id_b = nb.doc_id
      |  WHERE 1.0 * shared / (na.n_sh + nb.n_sh - shared) >= 0.5),
      |e AS (SELECT id_a AS src, id_b AS dst FROM pq
      |      UNION ALL SELECT id_b, id_a FROM pq),
      |reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents WHERE $pred
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id)""".stripMargin

  private val clusterClosureCtes: String = clusterClosureCtesOver("TRUE")

  private val clustersOracle: String =
    clusterClosureCtes +
      """
        |SELECT id AS doc_id, min(r) AS cluster_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** The q_kmeans_cells training replay (int8 quantize, seeds, two
    * Lloyd rounds, final corpus assignment) as a reusable CTE chain
    * ending at `a3(vec_id, cell)` — append a final SELECT. */
  private val kmeansAssignCtes: String =
    """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        |  FROM e),
        |c AS (
        |  SELECT vec_id,
        |    CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / scale, 0) AS BIGINT))
        |    END AS codes
        |  FROM s),
        |x AS (
        |  SELECT vec_id, CAST(i AS INT) AS pos,
        |    codes[CAST(i + 1 AS INT)] AS x
        |  FROM (SELECT vec_id, codes, unnest(range(len(codes))) AS i FROM c)),
        |cents0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
        |    list_transform(codes, x -> 1000 * x) AS cent
        |  FROM (SELECT vec_id, codes FROM c ORDER BY vec_id LIMIT 8) seeds),
        |a1 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT v.vec_id, s.cell,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_sum(list_transform(range(len(v.codes)),
        |          i -> (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)])
        |             * (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)]))),
        |        s.cell) AS rn
        |    FROM c v CROSS JOIN cents0 s) t WHERE rn = 1),
        |u1 AS (
        |  SELECT a.cell, x.pos,
        |    CAST(round((1000.0 * sum(x.x)) / count(*), 0) AS BIGINT) AS m
        |  FROM a1 a JOIN x ON a.vec_id = x.vec_id
        |  GROUP BY a.cell, x.pos),
        |cents1 AS (
        |  SELECT p.cell,
        |    CASE WHEN count(u.m) = 0 THEN any_value(p.cent)
        |         ELSE list(u.m ORDER BY u.pos) END AS cent
        |  FROM cents0 p LEFT JOIN u1 u ON p.cell = u.cell
        |  GROUP BY p.cell),
        |a2 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT v.vec_id, s.cell,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_sum(list_transform(range(len(v.codes)),
        |          i -> (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)])
        |             * (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)]))),
        |        s.cell) AS rn
        |    FROM c v CROSS JOIN cents1 s) t WHERE rn = 1),
        |u2 AS (
        |  SELECT a.cell, x.pos,
        |    CAST(round((1000.0 * sum(x.x)) / count(*), 0) AS BIGINT) AS m
        |  FROM a2 a JOIN x ON a.vec_id = x.vec_id
        |  GROUP BY a.cell, x.pos),
        |cents2 AS (
        |  SELECT p.cell,
        |    CASE WHEN count(u.m) = 0 THEN any_value(p.cent)
        |         ELSE list(u.m ORDER BY u.pos) END AS cent
        |  FROM cents1 p LEFT JOIN u2 u ON p.cell = u.cell
        |  GROUP BY p.cell),
        |a3 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT v.vec_id, s.cell,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_sum(list_transform(range(len(v.codes)),
        |          i -> (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)])
        |             * (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)]))),
        |        s.cell) AS rn
        |    FROM c v CROSS JOIN cents2 s) t WHERE rn = 1)""".stripMargin

  /** Unrolled-round BPE training restatement: word table -> N rounds
    * of (pair count, argmax, replace-apply) as chained CTEs — the
    * separator-wrapped-string representation makes each round's merge
    * application one `replace`, so DuckDB re-derives the whole merge
    * sequence independently. Generated (mechanical per round), not
    * hand-maintained. */
  /** The shared training-replay CTE chain: `w1` (word table) through
    * `w{n+1}` (the word table AFTER all n merges — i.e. the trained
    * SEGMENTATION of every corpus word) plus the per-round argmax
    * tables `b1..bn`. `throughFinal` controls whether the last
    * round's applied table `w{n+1}` is emitted (the segmentation
    * oracle needs it; the training oracle stops at `bn`). */
  private def bpeCtes(n: Int, throughFinal: Boolean): Seq[String] = {
    def syms(s: String) =
      s"string_split(trim($s, chr(31)), chr(31)||chr(31))"
    def pairs(s: String) =
      s"""list_transform(range(len(${syms(s)}) - 1),
         |      i -> ${syms(s)}[i+1] || chr(31) || ${syms(s)}[i+2])""".stripMargin
    val ctes = scala.collection.mutable.ArrayBuffer(
      """w1 AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt,
        |    chr(31) || array_to_string(list_transform(range(length(word)),
        |      i -> substr(word, CAST(i+1 AS INT), 1)), chr(31)||chr(31)) || chr(31) AS s
        |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |        FROM documents WHERE length(trim(text)) > 0)
        |  WHERE word <> '' GROUP BY word)""".stripMargin)
    for (r <- 1 to n) {
      ctes += s"""p$r AS MATERIALIZED (
        |  SELECT pair, CAST(sum(cnt) AS BIGINT) AS c
        |  FROM (SELECT cnt, unnest(${pairs("s")}) AS pair FROM w$r)
        |  GROUP BY pair)""".stripMargin
      // MATERIALIZED everywhere in the chain: DuckDB inlines a plain
      // CTE at every reference, and w_r/p_r are referenced multiply
      // per round — at 24 unrolled rounds the inlining is exponential
      // (thousands of re-scans of the documents parquet; observed as
      // fd exhaustion). Materialization makes each round one pass.
      ctes += s"b$r AS MATERIALIZED (SELECT CAST($r AS BIGINT) AS " +
        s"merge_rank, pair, c FROM p$r ORDER BY c DESC, pair LIMIT 1)"
      if (r < n || throughFinal) ctes += s"""w${r + 1} AS MATERIALIZED (
        |  SELECT word, cnt, replace(s,
        |    chr(31) || string_split(pair, chr(31))[1] || chr(31) || chr(31)
        |      || string_split(pair, chr(31))[2] || chr(31),
        |    chr(31) || string_split(pair, chr(31))[1]
        |      || string_split(pair, chr(31))[2] || chr(31)) AS s
        |  FROM w$r, b$r)""".stripMargin
    }
    ctes.toSeq
  }

  private def bpeOracle(n: Int): String = {
    val sel = (1 to n).map(r =>
      s"SELECT merge_rank, string_split(pair, chr(31))[1] AS left_sym, " +
        s"string_split(pair, chr(31))[2] AS right_sym, c AS pair_count FROM b$r")
      .mkString(" UNION ALL ")
    "WITH " + bpeCtes(n, throughFinal = false).mkString(",\n") +
      s"\nSELECT * FROM ($sel) ORDER BY merge_rank"
  }

  /** Segmentation oracle: re-derive the n merges (same chain as
    * [[bpeOracle]]), then `w{n+1}`.s IS each word's trained
    * segmentation — join every document's word stream against it and
    * flatten in word order. Output shape matches the engine's
    * md5-over-symbol-stream summary. */
  private def bpeSegmentOracle(n: Int): String =
    "WITH " + bpeCtes(n, throughFinal = true).mkString(",\n") + s""",
      |d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
      |  FROM documents WHERE text IS NOT NULL),
      |dw AS (
      |  SELECT doc_id, i AS ord, ws[CAST(i + 1 AS INT)] AS word
      |  FROM (SELECT doc_id, ws, unnest(range(len(ws))) AS i FROM d)
      |  WHERE ws[CAST(i + 1 AS INT)] <> ''),
      |seg AS (
      |  SELECT dw.doc_id, dw.ord,
      |    string_split(trim(w.s, chr(31)), chr(31)||chr(31)) AS syms
      |  FROM dw JOIN w${n + 1} w USING (word)),
      |agg AS (
      |  SELECT doc_id, flatten(list(syms ORDER BY ord)) AS syms
      |  FROM seg GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(len(a.syms), 0) AS BIGINT) AS n_symbols,
      |  md5(coalesce(array_to_string(a.syms, chr(30)), '')) AS sym_md5
      |FROM d LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** The q_sim_ann_ivf_trained training replay (int8 quantize, seeds,
    * two Lloyd rounds, nProbe=2 probe, candidate scoring) as a
    * reusable WITH-chain ending at ranked `r` — shared by the serve
    * gate and the retrieval-eval gate. */
  private val ivfTrainedCtes: String =
    """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        |  FROM e),
        |c AS (
        |  SELECT vec_id,
        |    CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / scale, 0) AS BIGINT))
        |    END AS codes
        |  FROM s),
        |x AS (
        |  SELECT vec_id, CAST(i AS INT) AS pos,
        |    codes[CAST(i + 1 AS INT)] AS x
        |  FROM (SELECT vec_id, codes, unnest(range(len(codes))) AS i FROM c)),
        |cents0 AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
        |    list_transform(codes, x -> 1000 * x) AS cent
        |  FROM (SELECT vec_id, codes FROM c ORDER BY vec_id LIMIT 8) seeds),
        |a1 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT v.vec_id, s.cell,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_sum(list_transform(range(len(v.codes)),
        |          i -> (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)])
        |             * (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)]))),
        |        s.cell) AS rn
        |    FROM c v CROSS JOIN cents0 s) t WHERE rn = 1),
        |u1 AS (
        |  SELECT a.cell, x.pos,
        |    CAST(round((1000.0 * sum(x.x)) / count(*), 0) AS BIGINT) AS m
        |  FROM a1 a JOIN x ON a.vec_id = x.vec_id
        |  GROUP BY a.cell, x.pos),
        |cents1 AS (
        |  SELECT p.cell,
        |    CASE WHEN count(u.m) = 0 THEN any_value(p.cent)
        |         ELSE list(u.m ORDER BY u.pos) END AS cent
        |  FROM cents0 p LEFT JOIN u1 u ON p.cell = u.cell
        |  GROUP BY p.cell),
        |a2 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT v.vec_id, s.cell,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_sum(list_transform(range(len(v.codes)),
        |          i -> (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)])
        |             * (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)]))),
        |        s.cell) AS rn
        |    FROM c v CROSS JOIN cents1 s) t WHERE rn = 1),
        |u2 AS (
        |  SELECT a.cell, x.pos,
        |    CAST(round((1000.0 * sum(x.x)) / count(*), 0) AS BIGINT) AS m
        |  FROM a2 a JOIN x ON a.vec_id = x.vec_id
        |  GROUP BY a.cell, x.pos),
        |cents2 AS (
        |  SELECT p.cell,
        |    CASE WHEN count(u.m) = 0 THEN any_value(p.cent)
        |         ELSE list(u.m ORDER BY u.pos) END AS cent
        |  FROM cents1 p LEFT JOIN u2 u ON p.cell = u.cell
        |  GROUP BY p.cell),
        |a3 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT v.vec_id, s.cell,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_sum(list_transform(range(len(v.codes)),
        |          i -> (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)])
        |             * (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)]))),
        |        s.cell) AS rn
        |    FROM c v CROSS JOIN cents2 s) t WHERE rn = 1),
        |qp AS (
        |  SELECT vec_id AS query_id, cell FROM (
        |    SELECT v.vec_id, s.cell,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_sum(list_transform(range(len(v.codes)),
        |          i -> (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)])
        |             * (1000 * v.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)]))),
        |        s.cell) AS rn
        |    FROM c v CROSS JOIN cents2 s WHERE v.vec_id < 10) t WHERE rn <= 2),
        |n AS (SELECT vec_id, codes,
        |        CAST(list_sum(list_transform(codes, x -> x * x)) AS BIGINT) AS nsq
        |      FROM c),
        |cand AS (
        |  SELECT q.query_id, t.vec_id AS neighbor_id,
        |    round(CAST(list_sum(list_transform(range(len(qn.codes)),
        |            i -> qn.codes[CAST(i + 1 AS INT)] * t.codes[CAST(i + 1 AS INT)]))
        |          AS DOUBLE)
        |      / (sqrt(CAST(qn.nsq AS DOUBLE)) * sqrt(CAST(t.nsq AS DOUBLE))), 4)
        |      AS sim
        |  FROM qp q
        |  JOIN a3 a ON a.cell = q.cell
        |  JOIN n t ON t.vec_id = a.vec_id
        |  JOIN n qn ON qn.vec_id = q.query_id
        |  WHERE t.vec_id <> q.query_id AND qn.nsq > 0 AND t.nsq > 0),
        |r AS (SELECT query_id, neighbor_id, sim,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM cand)""".stripMargin

  /** Exhaustive drop x standing jaccard ground truth for the
    * incremental LSH ingest — shared by q_incremental_neardup and
    * q_dedup_store_migrate (layout choreography is value-invisible). */
  private val incrementalNeardupOracle: String =
      """WITH standing AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
        |drp AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 5000000, text || ' shared tail anchor words appended'
        |  FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 10 = 4),
        |u AS (SELECT * FROM standing UNION ALL SELECT * FROM drp),
        |t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a FROM u),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(a) < 3 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(len(a) - 2),
        |        i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]) END) AS shingle
        |  FROM t),
        |n AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |p AS (
        |  SELECT d.doc_id AS drop_id, s.doc_id AS store_id, count(*) AS shared
        |  FROM sh d JOIN sh s ON d.shingle = s.shingle
        |  WHERE d.doc_id IN (SELECT doc_id FROM drp)
        |    AND s.doc_id IN (SELECT doc_id FROM standing)
        |  GROUP BY 1, 2)
        |SELECT drop_id, store_id,
        |  round(1.0 * shared / (na.n_sh + nb.n_sh - shared), 6) AS jaccard
        |FROM p
        |JOIN n na ON drop_id = na.doc_id JOIN n nb ON store_id = nb.doc_id
        |WHERE 1.0 * shared / (na.n_sh + nb.n_sh - shared) >= 0.5
        |ORDER BY drop_id, store_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_t_bpe" -> bpeOracle(6),
    "q_t_bpe_segment" -> bpeSegmentOracle(24),
    // both legs re-derived: the IVF replay chain (shared with
    // q_sim_ann_ivf_trained) AND the exact quantized top-3 relevance,
    // then the integer-bp metric arithmetic
    "q_sim_eval" ->
      (ivfTrainedCtes + """,
        |sys AS (SELECT query_id, rank, neighbor_id FROM r WHERE rank <= 5),
        |xp AS (SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
        |        round(CAST(list_sum(list_transform(range(len(q.codes)),
        |                i -> q.codes[CAST(i + 1 AS INT)] * t.codes[CAST(i + 1 AS INT)]))
        |              AS DOUBLE)
        |          / (sqrt(CAST(q.nsq AS DOUBLE)) * sqrt(CAST(t.nsq AS DOUBLE))), 4)
        |          AS sim
        |      FROM n q CROSS JOIN n t
        |      WHERE q.vec_id < 10 AND t.vec_id <> q.vec_id
        |        AND q.nsq > 0 AND t.nsq > 0),
        |ex AS (SELECT query_id, neighbor_id AS relevant_id FROM (
        |        SELECT query_id, neighbor_id,
        |          row_number() OVER (PARTITION BY query_id
        |            ORDER BY sim DESC, neighbor_id) AS rk
        |        FROM xp) WHERE rk <= 3),
        |nr AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
        |       FROM ex GROUP BY 1),
        |hit AS (SELECT s.query_id,
        |          CAST(count(*) AS BIGINT) AS hits_at_k,
        |          CAST(min(s.rank) AS BIGINT) AS frr
        |        FROM sys s JOIN ex x
        |          ON s.query_id = x.query_id AND s.neighbor_id = x.relevant_id
        |        GROUP BY 1)
        |SELECT nr.query_id,
        |  CAST(coalesce(hit.frr, 0) AS BIGINT) AS first_rel_rank,
        |  CAST(CASE WHEN hit.frr IS NULL THEN 0
        |       ELSE 10000 // hit.frr END AS BIGINT) AS rr_bp,
        |  CAST(coalesce(hit.hits_at_k, 0) AS BIGINT) AS hits_at_k,
        |  nr.n_rel,
        |  CAST(coalesce(hit.hits_at_k, 0) * 10000 // nr.n_rel AS BIGINT)
        |    AS recall_bp
        |FROM nr LEFT JOIN hit USING (query_id)
        |ORDER BY nr.query_id""".stripMargin),
    // same portable hash; 2 whole copies + the < 3000 bp fractional one
    "q_mix_upsample" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    2 + CASE WHEN ((doc_id % 2147483648) * 1597334677
        |          + (doc_id >> 31) * 7919) % 10000 < 3000
        |        THEN 1 ELSE 0 END AS n
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CAST(unnest(range(1, n + 1)) AS BIGINT) AS copy_idx
        |FROM h ORDER BY doc_id, copy_idx""".stripMargin,
    "q_dedup_simhash" -> simhashOracle,
    // Same planted-PII augmentation, same Java/RE2-common patterns.
    "q_t_pii" ->
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    text ||
         |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||
         |      CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN ' ip 10.0.' ||
         |      CAST(doc_id % 256 AS VARCHAR) || '.7 ping' ELSE '' END ||
         |    CASE WHEN doc_id % 7 = 0 THEN ' call +1 555 0' ||
         |      CAST(100 + doc_id % 100 AS VARCHAR) || ' end' ELSE '' END AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '${T.emailPattern}')) AS BIGINT)
         |    AS n_email,
         |  CAST(len(regexp_extract_all(t, '${T.ipv4Pattern}')) AS BIGINT)
         |    AS n_ip,
         |  CAST(len(regexp_extract_all(t, '${T.phonePattern}')) AS BIGINT)
         |    AS n_phone,
         |  md5(regexp_replace(regexp_replace(regexp_replace(t,
         |    '${T.emailPattern}', '<EMAIL>', 'g'),
         |    '${T.ipv4Pattern}', '<IP>', 'g'),
         |    '${T.phonePattern}', '<PHONE>', 'g')) AS redacted_md5
         |FROM aug ORDER BY doc_id""".stripMargin,
    // Exact side recomputed; the literal-1 flag column makes the gate
    // FAIL if Spark's estimate ever leaves the error envelope.
    // exact discrete median restated; sketch_ok = 1 is the CONTRACT —
    // a drifting sketch flips the flag and fails the hash gate
    "q_t_approx_quantile" ->
      """WITH t AS (
        |  SELECT lang,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_toks
        |  FROM documents),
        |r AS (SELECT lang, n_toks,
        |        row_number() OVER (PARTITION BY lang ORDER BY n_toks) AS rk,
        |        count(*) OVER (PARTITION BY lang) AS n
        |      FROM t)
        |SELECT lang, n_toks AS p50_exact, CAST(n AS BIGINT) AS n,
        |  CAST(1 AS BIGINT) AS sketch_ok
        |FROM r WHERE rk = (n + 1) // 2 ORDER BY lang""".stripMargin,
    // exact restatement of the true-heavy-hitter set; the sketch's
    // contribution is the contract flag (1 unless the MG guarantee is
    // violated, which flips the hash gate red)
    "q_t_heavy_hitters" ->
      """WITH t AS (
        |  SELECT unnest(CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |    ELSE regexp_split_to_array(trim(text), '\s+') END) AS token
        |  FROM documents),
        |e AS (SELECT token, count(*) AS n_tok FROM t GROUP BY token),
        |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS n_total FROM e)
        |SELECT token, n_tok, n_total, CAST(1 AS BIGINT) AS sketch_ok
        |FROM e, tot WHERE n_tok * 33 > n_total
        |ORDER BY n_tok DESC, token""".stripMargin,
    "q_t_approx_distinct" ->
      """WITH t AS (
        |  SELECT lang,
        |    unnest(CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |      ELSE regexp_split_to_array(trim(text), '\s+') END) AS token
        |  FROM documents)
        |SELECT lang, count(DISTINCT token) AS n_exact,
        |  CAST(1 AS BIGINT) AS within_20pct
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "q_t_len_quantile" ->
      """WITH spine AS (
        |  SELECT l.lang, b.band FROM
        |    (SELECT DISTINCT lang FROM documents) l
        |    CROSS JOIN (SELECT unnest(generate_series(1, 120)) AS band) b),
        |h AS (
        |  SELECT lang,
        |    least(greatest(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END, 1), 120)
        |      AS band,
        |    count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |t AS (
        |  SELECT s.lang, s.band,
        |    sum(coalesce(h.c, 0)) OVER (PARTITION BY s.lang ORDER BY s.band) AS cum,
        |    sum(coalesce(h.c, 0)) OVER (PARTITION BY s.lang) AS total
        |  FROM spine s LEFT JOIN h ON s.lang = h.lang AND s.band = h.band)
        |SELECT lang,
        |  count(*) FILTER (WHERE cum < 0.5 * total) AS median_band,
        |  count(*) FILTER (WHERE cum < 0.95 * total) AS p95_band,
        |  CAST(max(total) AS BIGINT) AS total
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "q_t_vocab" ->
      """WITH t AS (
        |  SELECT unnest(CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |    ELSE regexp_split_to_array(trim(text), '\s+') END) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1),
        |r AS (SELECT token, cnt,
        |        row_number() OVER (ORDER BY cnt DESC, token) AS rank
        |      FROM c)
        |SELECT token, cnt, rank FROM r WHERE rank <= 25 ORDER BY rank""".stripMargin,
    "q_t_oov" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |      ELSE regexp_split_to_array(trim(text), '\s+') END) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM t GROUP BY 1),
        |v AS (SELECT token FROM c ORDER BY cnt DESC, token LIMIT 20),
        |o AS (SELECT doc_id, count(*) AS n_oov FROM t
        |      WHERE token NOT IN (SELECT token FROM v) GROUP BY doc_id),
        |n AS (SELECT doc_id,
        |        CASE WHEN length(trim(text)) = 0 THEN 0
        |          ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_toks
        |      FROM documents)
        |SELECT n.doc_id AS doc_id, CAST(n_toks AS BIGINT) AS n_toks,
        |  CAST(coalesce(o.n_oov, 0) AS BIGINT) AS n_oov,
        |  CAST(CASE WHEN n_toks > 0
        |    THEN (coalesce(o.n_oov, 0) * 10000) // n_toks ELSE 0 END AS BIGINT)
        |    AS oov_bp
        |FROM n LEFT JOIN o ON n.doc_id = o.doc_id
        |ORDER BY doc_id""".stripMargin,
    // Same planted line structure; first-occurrence line dedup ordered
    // by (doc, position); reassembly preserves original line order.
    "q_t_c4_clean" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || chr(10) || 'all rights reserved' ||
        |    CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'lorem ipsum dolor sit'
        |      ELSE '' END AS t
        |  FROM documents),
        |ls AS (SELECT doc_id, string_split(t, chr(10)) AS a FROM aug),
        |l AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos, a[CAST(i + 1 AS INT)] AS line
        |  FROM (SELECT doc_id, a, unnest(range(len(a))) AS i FROM ls)),
        |k AS (
        |  SELECT doc_id, pos, line FROM l
        |  WHERE (CASE WHEN length(trim(line)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(line), '\s+')) END) >= 2
        |    AND NOT contains(line, 'lorem ipsum')),
        |f AS (
        |  SELECT doc_id, pos, line,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
        |  FROM k),
        |r AS (
        |  SELECT doc_id, count(*) AS n_lines,
        |    string_agg(line, chr(10) ORDER BY pos) AS clean_text
        |  FROM f WHERE rn = 1 GROUP BY doc_id)
        |SELECT d.doc_id AS doc_id,
        |  CAST(coalesce(r.n_lines, 0) AS BIGINT) AS n_lines,
        |  md5(coalesce(r.clean_text, '')) AS clean_md5
        |FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_t_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT)
        |    AS ws_tokens,
        |  CAST(sum(len(regexp_extract_all(lower(text),
        |    '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS bpe_tokens,
        |  CAST(round_even(avg(n_chars) * 1000.0, 0) AS BIGINT) AS avg_chars_x1000
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // mirrors the expression's rolling hash as a from-scratch k-gram
    // fold (mathematically identical mod 2^32) + window minima
    "q_t_winnow" ->
      """WITH pos AS (
        |  SELECT doc_id, text, unnest(range(length(text) - 8 + 1)) AS i
        |  FROM documents WHERE length(text) >= 8),
        |kg AS (
        |  SELECT doc_id, i,
        |    list_reduce(list_transform(range(8),
        |        j -> CAST(ascii(substr(text, CAST(i + j + 1 AS INT), 1)) AS BIGINT)),
        |      (h, c) -> (h * 31 + c) % 4294967296) AS h
        |  FROM pos),
        |wm AS (
        |  SELECT doc_id, i,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
        |    count(*) OVER (PARTITION BY doc_id) AS np
        |  FROM kg),
        |agg AS (
        |  SELECT doc_id,
        |    count(DISTINCT m) FILTER (WHERE i + 4 <= np) AS n_fp,
        |    min(m) FILTER (WHERE i + 4 <= np) AS min_fp,
        |    max(m) FILTER (WHERE i + 4 <= np) AS max_fp
        |  FROM wm GROUP BY doc_id)
        |SELECT d.doc_id AS doc_id, coalesce(a.n_fp, 0) AS n_fp,
        |  a.min_fp, a.max_fp
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_t_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |      ELSE regexp_split_to_array(trim(text), '\s+') END AS a
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, len(a) AS n_toks, len(list_distinct(a)) AS n_distinct_toks,
        |    CASE WHEN len(a) < 2 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(len(a) - 1), i -> a[i+1] || ' ' || a[i+2])
        |      END AS g2,
        |    CASE WHEN len(a) < 3 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(len(a) - 2),
        |        i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]) END AS g3
        |  FROM t),
        |c2 AS (SELECT doc_id, max(c) AS top2 FROM (
        |    SELECT doc_id, g, count(*) AS c
        |    FROM (SELECT doc_id, unnest(g2) AS g FROM base) GROUP BY 1, 2)
        |  GROUP BY 1),
        |c3 AS (SELECT doc_id, max(c) AS top3 FROM (
        |    SELECT doc_id, g, count(*) AS c
        |    FROM (SELECT doc_id, unnest(g3) AS g FROM base) GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT b.doc_id AS doc_id,
        |  CAST(n_toks AS BIGINT) AS n_toks,
        |  CAST(n_distinct_toks AS BIGINT) AS n_distinct_toks,
        |  CAST(len(g2) AS BIGINT) AS n_2grams,
        |  CAST(len(g3) AS BIGINT) AS n_3grams,
        |  CAST(coalesce(top2, 0) AS BIGINT) AS top_2gram_cnt,
        |  CAST(coalesce(top3, 0) AS BIGINT) AS top_3gram_cnt,
        |  CAST(CASE WHEN n_toks > 0
        |    AND (n_toks - n_distinct_toks) * 10 <= n_toks * 3
        |    AND coalesce(top2, 0) * 5 <= len(g2)
        |    AND coalesce(top3, 0) * 50 <= len(g3) * 9
        |    THEN 1 ELSE 0 END AS BIGINT) AS repetition_ok
        |FROM base b
        |LEFT JOIN c2 ON b.doc_id = c2.doc_id
        |LEFT JOIN c3 ON b.doc_id = c3.doc_id
        |ORDER BY doc_id""".stripMargin,
    // identical integer arithmetic to contrastModelTrain/Score: ppm
    // weights by floor division (// == Spark div on non-negatives),
    // top-200 vocab by (count DESC, token ASC) — a total order, so the
    // kept set matches Spark's TakeOrdered bit-exactly
    "q_t_classifier" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS pos,
        |    unnest(CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |      ELSE regexp_split_to_array(trim(text), '\s+') END) AS token
        |  FROM documents),
        |c AS (SELECT token, sum(pos) AS pc, sum(1 - pos) AS nc
        |      FROM t GROUP BY 1),
        |m AS (SELECT greatest(sum(pc), 1) AS pm, greatest(sum(nc), 1) AS nm
        |      FROM c),
        |v AS (SELECT token, pc, nc FROM c
        |      ORDER BY pc + nc DESC, token LIMIT 200),
        |w AS (SELECT token,
        |        (pc * 1000000 // pm) - (nc * 1000000 // nm) AS weight
        |      FROM v, m),
        |occ AS (SELECT doc_id, token, count(*) AS k FROM t GROUP BY 1, 2),
        |sc AS (SELECT o.doc_id, sum(o.k) AS n_tokens,
        |         sum(o.k * coalesce(w.weight, 0)) AS score
        |       FROM occ o LEFT JOIN w ON o.token = w.token GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(sc.score, 0) AS BIGINT) AS score,
        |  CAST(coalesce(sc.score, 0) > 0 AS INT) AS pred
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // identical integer arithmetic to Dsir.scores/selectTop: md5-hex
    // fold buckets mod 4096, ppm weights by floor division, top-100
    // by (score DESC, doc_id ASC) — a total order, so the selected
    // set matches Spark's TakeOrdered bit-exactly
    "q_t_dsir" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |      ELSE regexp_split_to_array(trim(text), '\s+') END AS a
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang,
        |    unnest(a || CASE WHEN len(a) < 2 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(len(a) - 1),
        |        i -> a[i+1] || ' ' || a[i+2]) END) AS gram
        |  FROM t),
        |b AS (
        |  SELECT doc_id, lang,
        |    CAST(list_sum(list_transform(range(8),
        |      i -> CAST(strpos('0123456789abcdef',
        |             substr(md5(gram), CAST(i+1 AS INT), 1)) - 1 AS BIGINT)
        |           * (CAST(1 AS BIGINT) << (4*(7-CAST(i AS INT))))))
        |      % 4096 AS BIGINT) AS bucket
        |  FROM g),
        |tc AS (SELECT bucket, count(*) AS tc FROM b WHERE lang = 'en'
        |       GROUP BY 1),
        |rc AS (SELECT bucket, count(*) AS rc FROM b GROUP BY 1),
        |spine AS (SELECT range AS bucket FROM range(4096)),
        |j AS (SELECT s.bucket, coalesce(tc.tc, 0) AS tc,
        |        coalesce(rc.rc, 0) AS rc
        |      FROM spine s LEFT JOIN tc USING (bucket)
        |        LEFT JOIN rc USING (bucket)),
        |m AS (SELECT greatest(sum(tc), 1) AS tm,
        |        greatest(sum(rc), 1) AS rm FROM j),
        |w AS (SELECT bucket,
        |        (tc * 1000000 // tm) - (rc * 1000000 // rm) AS weight
        |      FROM j, m),
        |occ AS (SELECT doc_id, bucket, count(*) AS k FROM b GROUP BY 1, 2),
        |sc AS (SELECT o.doc_id, sum(o.k) AS n_grams,
        |         sum(o.k * w.weight) AS score
        |       FROM occ o JOIN w USING (bucket) GROUP BY 1),
        |sel AS (SELECT doc_id,
        |          row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
        |        FROM (SELECT d.doc_id, coalesce(sc.score, 0) AS score
        |              FROM documents d LEFT JOIN sc USING (doc_id))),
        |out AS (
        |  SELECT d.doc_id,
        |    CAST(coalesce(sc.n_grams, 0) AS BIGINT) AS n_grams,
        |    CAST(coalesce(sc.score, 0) AS BIGINT) AS score,
        |    CAST(sel.rnk <= 100 AS INT) AS selected
        |  FROM documents d LEFT JOIN sc USING (doc_id)
        |    JOIN sel USING (doc_id))
        |SELECT * FROM out ORDER BY doc_id""".stripMargin,
    "q_t_quality" ->
      s"""WITH t AS (
        |  SELECT source,
        |    CASE WHEN length(text) = 0 THEN 0.0
        |      ELSE (length(text) - length(regexp_replace(text, '$punctClass', '', 'g')))
        |           * 1.0 / length(text) END AS punct,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |      ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks,
        |    length(text) AS len
        |  FROM documents),
        |t2 AS (
        |  SELECT source, punct, len,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |      ELSE len(list_filter(toks, x -> list_contains(
        |        ['the','and','of','to','a','in','is','that','it','was'], x)))
        |        * 1.0 / len(toks) END AS stop
        |  FROM t)
        |SELECT source, count(*) AS n_docs,
        |  round(avg(punct), 5) AS avg_punct,
        |  round(avg(stop), 5) AS avg_stop,
        |  round(avg(greatest(0.0, least(1.0,
        |    0.5 * least(len / 500.0, 1.0) + 0.5 * least(stop * 5.0, 1.0) - punct))), 5)
        |    AS avg_quality
        |FROM t2 GROUP BY source ORDER BY source""".stripMargin,
    "q_t_langid" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |      ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(toks, x -> list_contains(
        |      ['the','and','of','to','a','in','is','that','it','was'], x))) AS s_en,
        |    len(list_filter(toks, x -> list_contains(
        |      ['der','die','das','und','ist','von','mit','den','im','zu'], x))) AS s_de,
        |    len(list_filter(toks, x -> list_contains(
        |      ['le','la','les','et','de','un','une','dans','est','pour'], x))) AS s_fr,
        |    len(list_filter(toks, x -> list_contains(
        |      ['el','los','las','y','en','que','un','una','es','por'], x))) AS s_es
        |  FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
        |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |       WHEN s_fr >= s_es THEN 'fr'
        |       ELSE 'es' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin,
    // nfc_normalize mirrors fingerprint()'s NFC pre-fold (identity on
    // this ASCII corpus, asserted equivalent under the hash gate)
    "q_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(nfc_normalize(text))), '\s+', ' ', 'g')) AS fingerprint,
        |  count(*) AS n_docs, min(doc_id) AS keeper
        |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin,
    // chr(233) = precomposed U+00E9, chr(769) = combining acute: the
    // two planted encodings only collapse through the NFC fold
    "q_dedup_exact_nfc" ->
      """WITH a AS (
        |  SELECT doc_id, text || ' caf' || chr(233) AS text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' cafe' || chr(769) FROM documents)
        |SELECT md5(regexp_replace(lower(trim(nfc_normalize(text))), '\s+', ' ', 'g')) AS fingerprint,
        |  count(*) AS n_docs, min(doc_id) AS keeper
        |FROM a GROUP BY 1 ORDER BY fingerprint""".stripMargin,
    "q_dedup_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(a) < 3 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(len(a) - 2),
        |        i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]) END) AS shingle
        |  FROM t),
        |n AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, shared, na.n_sh AS n_a, nb.n_sh AS n_b,
        |  round(1.0 * shared / (na.n_sh + nb.n_sh - shared), 6) AS jaccard
        |FROM p JOIN n na ON id_a = na.doc_id JOIN n nb ON id_b = nb.doc_id
        |WHERE 1.0 * shared / (na.n_sh + nb.n_sh - shared) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    // q_dedup_jaccard's shingle machinery over the excerpt-augmented
    // corpus, scored as containment = shared / min(n_a, n_b) with the
    // smaller side reported as contained_id (ties -> lower id, which
    // the id_a < id_b join order provides)
    "q_dedup_containment" ->
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id,
        |    array_to_string(list_slice(
        |      regexp_split_to_array(trim(text), '\s+'), 1, 20), ' ') AS text
        |  FROM documents WHERE doc_id % 100 = 0),
        |t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
        |  FROM u),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(a) < 3 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(len(a) - 2),
        |        i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]) END) AS shingle
        |  FROM t),
        |n AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT id_a, id_b, shared, na.n_sh AS n_a, nb.n_sh AS n_b
        |  FROM p JOIN n na ON id_a = na.doc_id JOIN n nb ON id_b = nb.doc_id)
        |SELECT CASE WHEN n_a <= n_b THEN id_a ELSE id_b END AS contained_id,
        |  CASE WHEN n_a <= n_b THEN id_b ELSE id_a END AS container_id,
        |  CAST(shared AS BIGINT) AS shared,
        |  round(1.0 * shared / least(n_a, n_b), 6) AS containment
        |FROM c WHERE 1.0 * shared / least(n_a, n_b) >= 0.9
        |ORDER BY contained_id, container_id""".stripMargin,
    "q_decontaminate" -> decontaminateOracle,
    // bloom pre-prune is result-invariant (false positives die in the
    // exact join), so the bloom run must hash-match the same closure
    "q_decontaminate_bloom" -> decontaminateOracle,
    "q_dedup_clusters" -> clustersOracle,
    // same closure — components are algorithm-independent, so the
    // star-scheme run must hash-match the union-find run's oracle
    "q_dedup_ccstar" -> clustersOracle,
    // incremental == from-scratch: the ingest gate shares the same
    // full-corpus closure oracle verbatim
    "q_cluster_ingest" -> clustersOracle,
    // streamed drops == from-scratch: the streaming cluster ingest
    // replays the same drops through foreachBatch, so the identical
    // full-corpus closure gates it
    "q_stream_cluster" -> clustersOracle,
    // retraction == rebuild-without-the-deleted: same closure over the
    // surviving corpus only
    "q_cluster_retract" ->
      (clusterClosureCtesOver("doc_id % 50 <> 0") +
        """
          |SELECT id AS doc_id, min(r) AS cluster_id
          |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),
    // exhaustive drop x standing jaccard >= 0.5 (the incremental LSH
    // probe's ground truth; parameters spec-proven exhaustive on this
    // corpus). Shared verbatim by q_dedup_store_migrate: the bucketed
    // legacy-migration choreography is layout-only, so its pairs must
    // hash-match the same ground truth.
    "q_incremental_neardup" -> incrementalNeardupOracle,
    "q_dedup_store_migrate" -> incrementalNeardupOracle,
    // same closure + token counts: per cluster keep the (tokens DESC,
    // id ASC) argmax member — the quality-aware keeper
    "q_dedup_best_rep" ->
      (clusterClosureCtes +
      """,
        |lab AS (SELECT id AS doc_id, min(r) AS cluster_id
        |        FROM reach GROUP BY id),
        |tok AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks
        |  FROM documents),
        |m AS (
        |  SELECT lab.cluster_id, lab.doc_id, tok.toks,
        |    row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY toks DESC, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY cluster_id) AS n_members,
        |    sum(toks) OVER (PARTITION BY cluster_id) AS cluster_tokens
        |  FROM lab JOIN tok USING (doc_id))
        |SELECT cluster_id, doc_id AS rep_doc_id,
        |  CAST(toks AS BIGINT) AS rep_tokens,
        |  CAST(n_members AS BIGINT) AS n_members,
        |  CAST(cluster_tokens AS BIGINT) AS cluster_tokens
        |FROM m WHERE rk = 1 ORDER BY cluster_id""".stripMargin),
    // closure keepers recomputed from scratch: the table-derived
    // semi-join must keep exactly the min-reachable-id docs
    "q_cluster_keep" ->
      (clusterClosureCtes +
        """,
          |c AS (SELECT id AS doc_id, min(r) AS cluster_id
          |      FROM reach GROUP BY id)
          |SELECT d.doc_id, d.lang, d.n_chars
          |FROM documents d JOIN c ON d.doc_id = c.doc_id
          |WHERE c.doc_id = c.cluster_id
          |ORDER BY d.doc_id""".stripMargin),
    // q_dedup_clusters' recursive closure + the portable split hash of
    // the CLUSTER representative: same cluster -> same split, by
    // construction, on both engines
    "q_cluster_split" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(a) < 3 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(len(a) - 2),
        |        i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]) END) AS shingle
        |  FROM t),
        |n AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pq AS (
        |  SELECT id_a, id_b FROM p
        |  JOIN n na ON id_a = na.doc_id JOIN n nb ON id_b = nb.doc_id
        |  WHERE 1.0 * shared / (na.n_sh + nb.n_sh - shared) >= 0.5),
        |e AS (SELECT id_a AS src, id_b AS dst FROM pq
        |      UNION ALL SELECT id_b, id_a FROM pq),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
        |c AS (SELECT id AS doc_id, min(r) AS cluster_id
        |      FROM reach GROUP BY id),
        |hb AS (SELECT doc_id, cluster_id,
        |         ((cluster_id % 2147483648) * 1597334677
        |           + (cluster_id >> 31) * 7919) % 10000 AS b
        |       FROM c)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN b < 8000 THEN 'train'
        |       WHEN b < 9000 THEN 'valid' ELSE 'test' END AS split
        |FROM hb ORDER BY doc_id""".stripMargin,
    // Same hash family as q_t_winnow's oracle (from-scratch k-gram
    // fold == the kernel's rolling recurrence, mod-2^32 identity);
    // islands merge char intervals [i, i+20) wherever consecutive
    // flagged positions gap by <= 20.
    "q_dedup_spans" ->
      raw"""WITH pos AS (
        |  SELECT doc_id, text, unnest(range(length(text) - 20 + 1)) AS i
        |  FROM documents WHERE length(text) >= 20),
        |kg AS (
        |  SELECT doc_id, i,
        |    list_reduce(list_transform(range(20),
        |        j -> CAST(ascii(substr(text, CAST(i + j + 1 AS INT), 1)) AS BIGINT)),
        |      (h, c) -> (h * 31 + c) % 4294967296) AS h
        |  FROM pos),
        |dup AS (SELECT h FROM kg GROUP BY h HAVING min(doc_id) <> max(doc_id)),
        |c AS (SELECT doc_id, i FROM kg WHERE h IN (SELECT h FROM dup)),
        |l AS (SELECT doc_id, i,
        |    lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM c),
        |f AS (SELECT doc_id, i,
        |    CASE WHEN prev IS NULL OR i - prev > 20 THEN 1 ELSE 0 END AS brk
        |  FROM l),
        |x AS (SELECT doc_id, i,
        |    CAST(sum(brk) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS island
        |  FROM f)
        |SELECT doc_id, min(i) AS span_start, max(i) + 20 AS span_end,
        |  max(i) + 20 - min(i) AS span_len
        |FROM x GROUP BY doc_id, island
        |HAVING max(i) + 20 - min(i) >= 40
        |ORDER BY doc_id, span_start""".stripMargin,
    // Same k-gram fold; dup = (doc, hash) pairs hit 2+ times IN THAT
    // DOC, islands identical to q_dedup_spans
    "q_dedup_selfspans" ->
      raw"""WITH pos AS (
        |  SELECT doc_id, text, unnest(range(length(text) - 10 + 1)) AS i
        |  FROM documents WHERE length(text) >= 10),
        |kg AS (
        |  SELECT doc_id, i,
        |    list_reduce(list_transform(range(10),
        |        j -> CAST(ascii(substr(text, CAST(i + j + 1 AS INT), 1)) AS BIGINT)),
        |      (h, c) -> (h * 31 + c) % 4294967296) AS h
        |  FROM pos),
        |dup AS (SELECT doc_id, h FROM kg GROUP BY doc_id, h
        |        HAVING count(*) >= 2),
        |c AS (SELECT kg.doc_id, kg.i FROM kg
        |      JOIN dup ON kg.doc_id = dup.doc_id AND kg.h = dup.h),
        |l AS (SELECT doc_id, i,
        |    lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM c),
        |f AS (SELECT doc_id, i,
        |    CASE WHEN prev IS NULL OR i - prev > 10 THEN 1 ELSE 0 END AS brk
        |  FROM l),
        |x AS (SELECT doc_id, i,
        |    CAST(sum(brk) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS island
        |  FROM f)
        |SELECT doc_id, min(i) AS span_start, max(i) + 10 AS span_end,
        |  max(i) + 10 - min(i) AS span_len
        |FROM x GROUP BY doc_id, island
        |HAVING max(i) + 10 - min(i) >= 20
        |ORDER BY doc_id, span_start""".stripMargin,
    // Apply leg: same span CTE chain, then stitch the KEPT segments
    // (gap before each span + the tail after the last) with an
    // ordered string_agg — the from-scratch restatement of the HOF
    // cut fold. Docs with no spans fall through the left join intact.
    "q_dedup_spans_cut" ->
      raw"""WITH pos AS (
        |  SELECT doc_id, text, unnest(range(length(text) - 20 + 1)) AS i
        |  FROM documents WHERE length(text) >= 20),
        |kg AS (
        |  SELECT doc_id, i,
        |    list_reduce(list_transform(range(20),
        |        j -> CAST(ascii(substr(text, CAST(i + j + 1 AS INT), 1)) AS BIGINT)),
        |      (h, c) -> (h * 31 + c) % 4294967296) AS h
        |  FROM pos),
        |dup AS (SELECT h FROM kg GROUP BY h HAVING min(doc_id) <> max(doc_id)),
        |c AS (SELECT doc_id, i FROM kg WHERE h IN (SELECT h FROM dup)),
        |l AS (SELECT doc_id, i,
        |    lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM c),
        |f AS (SELECT doc_id, i,
        |    CASE WHEN prev IS NULL OR i - prev > 20 THEN 1 ELSE 0 END AS brk
        |  FROM l),
        |x AS (SELECT doc_id, i,
        |    CAST(sum(brk) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS island
        |  FROM f),
        |sp AS (SELECT doc_id, min(i) AS s, max(i) + 20 AS e
        |  FROM x GROUP BY doc_id, island HAVING max(i) + 20 - min(i) >= 40),
        |seg AS (
        |  SELECT doc_id,
        |    lag(e, 1, 0) OVER (PARTITION BY doc_id ORDER BY s) AS gs,
        |    s AS ge, s AS ord
        |  FROM sp
        |  UNION ALL
        |  SELECT doc_id, max(e) AS gs, NULL AS ge,
        |    9223372036854775807 AS ord
        |  FROM sp GROUP BY doc_id),
        |kept AS (
        |  SELECT seg.doc_id,
        |    string_agg(CASE WHEN ge IS NULL
        |        THEN substr(d.text, CAST(gs + 1 AS INT))
        |        ELSE substr(d.text, CAST(gs + 1 AS INT), CAST(ge - gs AS INT))
        |      END, '' ORDER BY ord) AS clean,
        |    count(*) - 1 AS n_spans
        |  FROM seg JOIN documents d USING (doc_id)
        |  GROUP BY seg.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(k.n_spans, 0) AS INT) AS n_spans_cut,
        |  CAST(length(d.text) - length(coalesce(k.clean, d.text)) AS INT)
        |    AS chars_cut,
        |  CAST(length(coalesce(k.clean, d.text)) AS INT) AS clean_len,
        |  md5(coalesce(k.clean, d.text)) AS clean_md5
        |FROM documents d LEFT JOIN kept k USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // The same greedy fold as Packing.packGreedy, restated as a
    // recursive chain advance: each iteration extends every
    // (grp, shard) chain by its next doc in id order. Bound once and
    // used for BOTH the batch and streamed queries: the streamed fold
    // equals the batch fold under ordered drops (the q_dashboard_cube
    // / q_stream_cube one-SQL-two-engines pattern).
    "q_pack_sequences" -> packOracle,
    // the gopher keep-set drives the same recursive greedy fold
    "q_train_feed" ->
      raw"""WITH RECURSIVE w AS (
        |  SELECT doc_id, text, source,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |      ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, len(toks) AS n_words,
        |    coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS swc,
        |    len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS aw,
        |    (length(text) - length(replace(text, '#', '')))
        |      + (length(text) - length(replace(text, '...', ''))) // 3 AS sym,
        |    len(list_filter(['the','and','of','to','a','in','is','that','it','was'],
        |      x -> list_contains(toks, x))) AS sk
        |  FROM w),
        |m2 AS (SELECT * FROM m WHERE n_words BETWEEN 20 AND 100000),
        |keep AS (
        |  SELECT doc_id FROM m2
        |  WHERE (swc * 100) // n_words BETWEEN 300 AND 1000
        |    AND (aw * 10000) // n_words >= 8000
        |    AND (sym * 10000) // n_words <= 1000
        |    AND sk >= 2),
        |d AS (
        |  SELECT w.source AS grp, w.doc_id // 200 AS shard, w.doc_id,
        |    least(len(w.toks), 512) AS toks,
        |    row_number() OVER (PARTITION BY w.source, w.doc_id // 200
        |      ORDER BY w.doc_id) AS rn
        |  FROM w JOIN keep USING (doc_id)),
        |p AS (
        |  SELECT grp, shard, doc_id, toks, rn, toks AS fill, 0 AS bin
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.grp, d.shard, d.doc_id, d.toks, d.rn,
        |    CASE WHEN p.fill + d.toks > 512 THEN d.toks
        |         ELSE p.fill + d.toks END,
        |    CASE WHEN p.fill + d.toks > 512 THEN p.bin + 1 ELSE p.bin END
        |  FROM p JOIN d ON d.grp = p.grp AND d.shard = p.shard
        |    AND d.rn = p.rn + 1)
        |SELECT grp, shard, CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS fill_toks,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM p GROUP BY grp, shard, bin ORDER BY grp, shard, bin""".stripMargin,
    // Greedy chunker restated as a recursive chain advance: each
    // iteration emits the next chunk of every still-unfinished doc.
    // clen = the greedy cut — whole remainder if it fits, else up to
    // the LAST whitespace in the window ((?s) so `.` crosses
    // newlines), else the 120-char hard cut.
    "q_chunk_docs" ->
      raw"""WITH RECURSIVE ch AS (
        |  SELECT doc_id, text, CAST(0 AS BIGINT) AS pos, 0 AS ord,
        |    CAST(NULL AS VARCHAR) AS chunk
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, text, pos + clen, ord + 1,
        |    substr(text, CAST(pos + 1 AS INT), CAST(clen AS INT))
        |  FROM (
        |    SELECT doc_id, text, pos, ord,
        |      CASE WHEN length(text) - pos <= 120 THEN length(text) - pos
        |           ELSE coalesce(nullif(length(regexp_extract(
        |             substr(text, CAST(pos + 1 AS INT), 120),
        |             '(?s)^(.*[ \t\n\r])', 1)), 0), 120)
        |      END AS clen
        |    FROM ch WHERE pos < length(text)) t)
        |SELECT doc_id, CAST(ord - 1 AS INT) AS ord,
        |  CAST(length(chunk) AS INT) AS chunk_len, md5(chunk) AS chunk_md5
        |FROM ch WHERE chunk IS NOT NULL
        |ORDER BY doc_id, ord""".stripMargin,
    "q_stream_pack" -> packOracle,
    "q_split_sample" ->
      """WITH h AS (
        |  SELECT lang, doc_id,
        |    ((doc_id % 2147483648) * 1597334677 + (doc_id >> 31) * 7919) % 10000 AS b
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN b < 8000 THEN 'train'
        |       WHEN b < 9000 THEN 'valid' ELSE 'test' END AS split,
        |  count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(CASE WHEN b < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        |FROM h GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
    // Global row_number over the same seeded portable hash — one
    // window is fine ENGINE-SIDE (DuckDB is single-node anyway); the
    // Spark side must match it through the sharded composition.
    "q_shuffle_positions" ->
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY
        |    ((doc_id % 2147483648) * 1597334677 + (doc_id >> 31) * 7919
        |      + 7 * 2654435761) % 2147483648,
        |    doc_id) - 1 AS pos,
        |  source
        |FROM documents ORDER BY doc_id""".stripMargin,
    // The batch exact-dedup contract: keeper = min doc_id per
    // fingerprint. Valid because the streamed drops arrive in id order
    // (see the query comment), so first-sight == minimal id.
    "q_stream_dedup" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    AS fingerprint,
        |  min(doc_id) AS keeper
        |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin,
    // admissions per drop = batch quota over that drop's PREFIX
    // (chunking mirrors stageOrderedDrops: span = max id div 4 + 1)
    "q_stream_sample" ->
      ("""WITH d AS (
        |  SELECT doc_id, lang AS stratum,
        |    ((doc_id % 2147483648) * 1597334677 + (doc_id >> 31) * 7919) % 10000
        |      AS bucket,
        |    doc_id // ((SELECT max(doc_id) FROM documents) // 4 + 1) AS chunk
        |  FROM documents),
        |adm AS (
        |""".stripMargin +
        (0 to 3).map(b =>
          s"""  SELECT stratum, doc_id, bucket FROM (
             |    SELECT stratum, doc_id, bucket, chunk,
             |      row_number() OVER (PARTITION BY stratum
             |        ORDER BY bucket, doc_id) AS rk
             |    FROM d WHERE chunk <= $b) t WHERE rk <= 20 AND chunk = $b""")
          .mkString("\n  UNION ALL\n") +
        """
        |)
        |SELECT stratum, doc_id, bucket FROM adm
        |ORDER BY stratum, bucket, doc_id""").stripMargin,
    // acceptance = per-key prefix maxima of version in arrival order;
    // prev_ver = the superseded version (running max over earlier
    // arrivals, NULL on first sighting)
    "q_stream_upsert" ->
      """WITH ch AS (
        |  SELECT o_orderkey % 1000 AS key,
        |    (o_orderkey * 7919) % 100000 AS ver,
        |    CAST(round_even(o_totalprice * 100, 0) AS BIGINT) AS value_c,
        |    o_orderkey AS arrival
        |  FROM orders),
        |w AS (
        |  SELECT key, ver, value_c, arrival,
        |    max(ver) OVER (PARTITION BY key ORDER BY arrival
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM ch)
        |SELECT key, ver, value_c, prev_max AS prev_ver
        |FROM w WHERE prev_max IS NULL OR ver > prev_max
        |ORDER BY key, ver""".stripMargin,
    "q_mix_sample" ->
      """WITH w AS (
        |  SELECT source,
        |    500 + CAST(regexp_extract(source, '[0-9]+') AS BIGINT) * 937 % 9000
        |      AS keep_bp
        |  FROM (SELECT DISTINCT source FROM documents)),
        |k AS (
        |  SELECT d.source, d.doc_id, w.keep_bp
        |  FROM documents d JOIN w USING (source)
        |  WHERE ((doc_id % 2147483648) * 1597334677 + (doc_id >> 31) * 7919)
        |    % 10000 < keep_bp)
        |SELECT source, count(*) AS n_kept,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  max(keep_bp) AS keep_bp
        |FROM k GROUP BY 1 ORDER BY source""".stripMargin,
    // the range-sharded budget cut restated as ONE per-source cumsum
    // window — kept set = docs whose running token total (shuffle-hash
    // order, seed 17) stays within the source budget
    "q_mix_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks,
        |    ((doc_id % 2147483648) * 1597334677 + (doc_id >> 31) * 7919
        |      + 17 * 2654435761) % 2147483648 AS h
        |  FROM documents),
        |b AS (
        |  SELECT source,
        |    400 + CAST(regexp_extract(source, '[0-9]+') AS BIGINT) * 777 % 700
        |      AS token_budget
        |  FROM (SELECT DISTINCT source FROM documents)),
        |c AS (
        |  SELECT t.doc_id, t.source, t.toks, b.token_budget,
        |    sum(toks) OVER (PARTITION BY t.source ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t JOIN b USING (source))
        |SELECT source, count(*) AS n_kept,
        |  CAST(sum(toks) AS BIGINT) AS tokens_kept,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  max(token_budget) AS token_budget,
        |  CAST(max(cum) AS BIGINT) AS max_cum
        |FROM c WHERE cum <= token_budget
        |GROUP BY source ORDER BY source""".stripMargin,
    // same induction (count DESC, token ASC ranks) + positional
    // re-encode; md5 over the comma-joined id sequence in pos order
    "q_t_encode" ->
      """WITH tt AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |      ELSE regexp_split_to_array(trim(text), '\s+') END AS a
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(a) AS token,
        |    generate_subscripts(a, 1) AS pos
        |  FROM tt),
        |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
        |v AS (
        |  SELECT token, row_number() OVER (ORDER BY cnt DESC, token) AS rank
        |  FROM c ORDER BY cnt DESC, token LIMIT 500),
        |e AS (
        |  SELECT tok.doc_id, tok.pos, coalesce(v.rank, 0) AS id
        |  FROM tok LEFT JOIN v USING (token)),
        |pd AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS n_oov,
        |    md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos)) AS ids_md5
        |  FROM e GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(n_oov, 0) AS BIGINT) AS n_oov,
        |  coalesce(ids_md5, md5('')) AS ids_md5
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // every rule restated: counts via list ops, ratios via integral
    // division, # / ... occurrences via non-overlapping replace
    "q_t_gopher" ->
      (s"""WITH a AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 7 = 3 THEN ' ### ... ### ... ### ...'
         |         ELSE '' END ||
         |    CASE WHEN doc_id % 7 = 5
         |         THEN ' 111 222 333 444 555 666 777 888 999 000'
         |         ELSE '' END AS t
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, t,
         |    CASE WHEN length(trim(t)) = 0 THEN CAST([] AS VARCHAR[])
         |      ELSE regexp_split_to_array(trim(t), '\\s+') END AS toks
         |  FROM a),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_words,
         |    CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
         |      AS BIGINT) AS sum_word_chars,
         |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
         |      AS BIGINT) AS alpha_words,
         |    CAST((length(t) - length(replace(t, '#', '')))
         |      + (length(t) - length(replace(t, '...', ''))) // 3
         |      AS BIGINT) AS n_symbols,
         |    CAST(len(list_filter(
         |      ['${T.stopwords("en").mkString("','")}'],
         |      x -> list_contains(toks, x))) AS BIGINT) AS stop_kinds
         |  FROM w),
         |r AS (
         |  SELECT m.*,
         |    CASE WHEN n_words > 0
         |      THEN CAST((sum_word_chars * 100) // n_words AS BIGINT)
         |    END AS mean_len_x100,
         |    CASE WHEN n_words > 0
         |      THEN CAST((alpha_words * 10000) // n_words AS BIGINT)
         |    END AS alpha_bp,
         |    CASE WHEN n_words > 0
         |      THEN CAST((n_symbols * 10000) // n_words AS BIGINT)
         |    END AS symbol_bp
         |  FROM m),
         |f AS (
         |  SELECT r.*,
         |    CAST(CASE WHEN n_words BETWEEN 20 AND 100000 THEN 1 ELSE 0 END
         |      AS BIGINT) AS f_words,
         |    CAST(CASE WHEN mean_len_x100 BETWEEN 300 AND 1000 THEN 1 ELSE 0 END
         |      AS BIGINT) AS f_meanlen,
         |    CAST(CASE WHEN alpha_bp >= 8000 THEN 1 ELSE 0 END AS BIGINT)
         |      AS f_alpha,
         |    CAST(CASE WHEN symbol_bp <= 1000 THEN 1 ELSE 0 END AS BIGINT)
         |      AS f_symbol,
         |    CAST(CASE WHEN stop_kinds >= 2 THEN 1 ELSE 0 END AS BIGINT)
         |      AS f_stop
         |  FROM r)
         |SELECT doc_id, n_words, sum_word_chars, alpha_words, n_symbols,
         |  stop_kinds, mean_len_x100, alpha_bp, symbol_bp,
         |  f_words, f_meanlen, f_alpha, f_symbol, f_stop,
         |  CAST(CASE WHEN f_words = 1 AND f_meanlen = 1 AND f_alpha = 1
         |    AND f_symbol = 1 AND f_stop = 1 THEN 1 ELSE 0 END AS BIGINT)
         |    AS gopher_pass
         |FROM f ORDER BY doc_id""").stripMargin,
    // same planted variants via chr(): 769 = U+0301 combining acute,
    // 776 = U+0308 combining diaeresis, 233 = precomposed U+00E9
    "q_t_normalize" ->
      """WITH a AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' cafe' || chr(769)
        |         WHEN doc_id % 4 = 1 THEN ' A' || chr(776) || 'b'
        |         WHEN doc_id % 4 = 2 THEN ' caf' || chr(233)
        |         ELSE ' plain' END AS raw
        |  FROM documents),
        |n AS (SELECT doc_id, raw, nfc_normalize(raw) AS norm FROM a)
        |SELECT doc_id,
        |  CAST(CASE WHEN norm <> raw THEN 1 ELSE 0 END AS BIGINT) AS changed,
        |  CAST(length(raw) AS BIGINT) AS raw_len,
        |  CAST(length(norm) AS BIGINT) AS norm_len,
        |  md5(norm) AS norm_md5
        |FROM n ORDER BY doc_id""".stripMargin,
    // per-corpus-bigram conditional ppm floor ((c * 1000000) // cp is
    // integral on both engines for positive ints), summed over each
    // doc's bigram occurrences — no float, no log, no tolerance
    "q_t_bigram_lm" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |      ELSE regexp_split_to_array(trim(text), '\s+') END AS a
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN len(a) < 2 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(len(a) - 1),
        |        i -> a[i+1] || ' ' || a[i+2]) END) AS bg
        |  FROM t),
        |occ AS (SELECT doc_id, bg, count(*) AS k FROM bg GROUP BY 1, 2),
        |cnt AS (SELECT bg, count(*) AS c FROM bg GROUP BY 1),
        |pref AS (
        |  SELECT split_part(bg, ' ', 1) AS w1, sum(c) AS cp
        |  FROM cnt GROUP BY 1),
        |sc AS (
        |  SELECT bg, (c * 1000000) // cp AS s
        |  FROM cnt JOIN pref ON split_part(bg, ' ', 1) = w1),
        |pd AS (
        |  SELECT doc_id, sum(k) AS n_bigrams, sum(k * s) AS score_sum
        |  FROM occ JOIN sc USING (bg) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(score_sum, 0) AS BIGINT) AS score_sum,
        |  CASE WHEN n_bigrams > 0
        |    THEN CAST(score_sum // n_bigrams AS BIGINT) END AS fam_ppm
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // store = distinct fingerprints of the standing corpus; the drop's
    // three-way classification and the post-append store size restated
    // as pure set logic over the same table
    "q_incremental_dedup" ->
      """WITH drop AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 9 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents
        |  WHERE doc_id % 3 <> 0 AND doc_id % 10 = 1),
        |store AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 3 <> 0),
        |f AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM drop),
        |k AS (SELECT fp, min(doc_id) AS keeper FROM f GROUP BY 1),
        |c AS (
        |  SELECT f.doc_id,
        |    CASE WHEN f.fp IN (SELECT fp FROM store) THEN 'dup_in_store'
        |      WHEN f.doc_id <> k.keeper THEN 'dup_in_drop'
        |      ELSE 'accepted' END AS status
        |  FROM f JOIN k USING (fp))
        |SELECT status, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  (SELECT count(*) FROM store)
        |    + (SELECT count(*) FROM c WHERE status = 'accepted') AS store_after
        |FROM c GROUP BY status ORDER BY status""".stripMargin,
    // sequential set logic over the same table: drop 1 vs the init
    // store, drop 2 vs the store EXTENDED by drop 1's accepted
    // fingerprints — compaction between the two is layout-only, so
    // the classifications and the final store size must be invariant
    "q_dedup_store_evolve" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |store0 AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 4 = 1),
        |d1 AS (
        |  SELECT doc_id, fp FROM fp WHERE doc_id % 4 = 2
        |  UNION ALL
        |  SELECT doc_id + 1000000, fp FROM fp WHERE doc_id % 8 = 1
        |  UNION ALL
        |  SELECT doc_id + 3000000, fp FROM fp WHERE doc_id % 16 = 2),
        |k1 AS (SELECT fp, min(doc_id) AS keeper FROM d1 GROUP BY 1),
        |c1 AS (
        |  SELECT d1.doc_id,
        |    CASE WHEN d1.fp IN (SELECT fp FROM store0) THEN 'dup_in_store'
        |      WHEN d1.doc_id <> k1.keeper THEN 'dup_in_drop'
        |      ELSE 'accepted' END AS status, d1.fp
        |  FROM d1 JOIN k1 USING (fp)),
        |store1 AS (SELECT fp FROM store0
        |  UNION SELECT fp FROM c1 WHERE status = 'accepted'),
        |d2 AS (
        |  SELECT doc_id, fp FROM fp WHERE doc_id % 4 = 3
        |  UNION ALL
        |  SELECT doc_id + 2000000, fp FROM fp WHERE doc_id % 8 = 2),
        |k2 AS (SELECT fp, min(doc_id) AS keeper FROM d2 GROUP BY 1),
        |c2 AS (
        |  SELECT d2.doc_id,
        |    CASE WHEN d2.fp IN (SELECT fp FROM store1) THEN 'dup_in_store'
        |      WHEN d2.doc_id <> k2.keeper THEN 'dup_in_drop'
        |      ELSE 'accepted' END AS status, d2.fp
        |  FROM d2 JOIN k2 USING (fp)),
        |u AS (
        |  SELECT 1 AS drop_no, doc_id, status FROM c1
        |  UNION ALL SELECT 2, doc_id, status FROM c2)
        |SELECT drop_no, status, count(*) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  (SELECT count(*) FROM store1)
        |    + (SELECT count(*) FROM c2 WHERE status = 'accepted')
        |    AS store_final
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Composite oracle: near-dup cluster keepers (recursive closure
    // over the exact-jaccard pair set), Gopher repetition gate, OOV
    // rate, language ID, split hash — joined at doc grain exactly as
    // the Spark composition does.
    "q_pipeline_clean" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |      ELSE regexp_split_to_array(trim(text), '\s+') END AS a
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(a) < 3 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(len(a) - 2),
        |        i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]) END) AS shingle
        |  FROM t),
        |n AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pq AS (
        |  SELECT id_a, id_b FROM p
        |  JOIN n na ON id_a = na.doc_id JOIN n nb ON id_b = nb.doc_id
        |  WHERE 1.0 * shared / (na.n_sh + nb.n_sh - shared) >= 0.5),
        |e AS (SELECT id_a AS src, id_b AS dst FROM pq
        |      UNION ALL SELECT id_b, id_a FROM pq),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
        |cl AS (
        |  SELECT id AS doc_id,
        |    CASE WHEN min(r) = id THEN 1 ELSE 0 END AS is_keeper
        |  FROM reach GROUP BY id),
        |base AS (
        |  SELECT doc_id, len(a) AS n_toks, len(list_distinct(a)) AS n_dis,
        |    CASE WHEN len(a) < 2 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(len(a) - 1), i -> a[i+1] || ' ' || a[i+2])
        |      END AS g2,
        |    CASE WHEN len(a) < 3 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(len(a) - 2),
        |        i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]) END AS g3
        |  FROM t),
        |c2 AS (SELECT doc_id, max(c) AS top2 FROM (
        |    SELECT doc_id, g, count(*) AS c
        |    FROM (SELECT doc_id, unnest(g2) AS g FROM base) GROUP BY 1, 2)
        |  GROUP BY 1),
        |c3 AS (SELECT doc_id, max(c) AS top3 FROM (
        |    SELECT doc_id, g, count(*) AS c
        |    FROM (SELECT doc_id, unnest(g3) AS g FROM base) GROUP BY 1, 2)
        |  GROUP BY 1),
        |rep AS (
        |  SELECT b.doc_id,
        |    CASE WHEN b.n_toks > 0
        |      AND (b.n_toks - b.n_dis) * 10 <= b.n_toks * 3
        |      AND coalesce(top2, 0) * 5 <= len(g2)
        |      AND coalesce(top3, 0) * 50 <= len(g3) * 9
        |      THEN 1 ELSE 0 END AS repetition_ok
        |  FROM base b
        |  LEFT JOIN c2 ON b.doc_id = c2.doc_id
        |  LEFT JOIN c3 ON b.doc_id = c3.doc_id),
        |tc AS (SELECT token, count(*) AS cnt
        |       FROM (SELECT unnest(a) AS token FROM t) GROUP BY 1),
        |v AS (SELECT token FROM tc ORDER BY cnt DESC, token LIMIT 20),
        |o AS (SELECT doc_id, count(*) AS n_oov
        |      FROM (SELECT doc_id, unnest(a) AS token FROM t)
        |      WHERE token NOT IN (SELECT token FROM v) GROUP BY doc_id),
        |sc AS (
        |  SELECT doc_id, len(a) AS n_toks,
        |    len(list_filter(a, x -> list_contains(
        |      ['the','and','of','to','a','in','is','that','it','was'], x))) AS s_en,
        |    len(list_filter(a, x -> list_contains(
        |      ['der','die','das','und','ist','von','mit','den','im','zu'], x))) AS s_de,
        |    len(list_filter(a, x -> list_contains(
        |      ['le','la','les','et','de','un','une','dans','est','pour'], x))) AS s_fr,
        |    len(list_filter(a, x -> list_contains(
        |      ['el','los','las','y','en','que','un','una','es','por'], x))) AS s_es
        |  FROM t),
        |fin AS (
        |  SELECT sc.doc_id,
        |    CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
        |         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        |         WHEN s_fr >= s_es THEN 'fr'
        |         ELSE 'es' END AS lang_pred,
        |    CAST(sc.n_toks AS BIGINT) AS n_toks,
        |    CASE WHEN ((sc.doc_id % 2147483648) * 1597334677
        |        + (sc.doc_id >> 31) * 7919) % 10000 < 8000 THEN 'train'
        |      WHEN ((sc.doc_id % 2147483648) * 1597334677
        |        + (sc.doc_id >> 31) * 7919) % 10000 < 9000 THEN 'valid'
        |      ELSE 'test' END AS split,
        |    CAST(rep.repetition_ok AS BIGINT) AS repetition_ok,
        |    CAST(CASE WHEN sc.n_toks > 0
        |      THEN (coalesce(o.n_oov, 0) * 10000) // sc.n_toks
        |      ELSE 0 END AS BIGINT) AS oov_bp,
        |    CAST(cl.is_keeper AS BIGINT) AS is_keeper
        |  FROM sc
        |  JOIN rep ON sc.doc_id = rep.doc_id
        |  LEFT JOIN o ON sc.doc_id = o.doc_id
        |  JOIN cl ON sc.doc_id = cl.doc_id)
        |SELECT doc_id, lang_pred, n_toks, split, repetition_ok, oov_bp,
        |  is_keeper,
        |  CAST(CASE WHEN repetition_ok = 1 AND oov_bp <= 3200
        |    AND is_keeper = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM fin ORDER BY doc_id""".stripMargin,
    // The batch restatement of the stateless streamed hygiene chain.
    "q_stream_ingest" ->
      s"""WITH w AS (
         |  SELECT source,
         |    500 + CAST(regexp_extract(source, '[0-9]+') AS BIGINT) * 937 % 9000
         |      AS keep_bp
         |  FROM (SELECT DISTINCT source FROM documents)),
         |aug AS (
         |  SELECT doc_id, source,
         |    text ||
         |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||
         |      CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END AS t
         |  FROM documents),
         |k AS (
         |  SELECT a.doc_id, a.source, a.t, w.keep_bp
         |  FROM aug a JOIN w USING (source)
         |  WHERE ((doc_id % 2147483648) * 1597334677 + (doc_id >> 31) * 7919)
         |    % 10000 < keep_bp),
         |t2 AS (
         |  SELECT doc_id, source, keep_bp, t,
         |    CASE WHEN length(trim(t)) = 0 THEN CAST([] AS VARCHAR[])
         |      ELSE regexp_split_to_array(trim(t), '\\s+') END AS toks
         |  FROM k),
         |sc AS (
         |  SELECT doc_id, source, keep_bp, t, len(toks) AS n_toks,
         |    len(list_filter(toks, x -> list_contains(
         |      ['the','and','of','to','a','in','is','that','it','was'], x))) AS s_en,
         |    len(list_filter(toks, x -> list_contains(
         |      ['der','die','das','und','ist','von','mit','den','im','zu'], x))) AS s_de,
         |    len(list_filter(toks, x -> list_contains(
         |      ['le','la','les','et','de','un','une','dans','est','pour'], x))) AS s_fr,
         |    len(list_filter(toks, x -> list_contains(
         |      ['el','los','las','y','en','que','un','una','es','por'], x))) AS s_es
         |  FROM t2)
         |SELECT doc_id, source,
         |  CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
         |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |       WHEN s_fr >= s_es THEN 'fr'
         |       ELSE 'es' END AS lang_pred,
         |  CAST(n_toks AS BIGINT) AS n_toks, keep_bp,
         |  md5(regexp_replace(regexp_replace(regexp_replace(t,
         |    '${T.emailPattern}', '<EMAIL>', 'g'),
         |    '${T.ipv4Pattern}', '<IP>', 'g'),
         |    '${T.phonePattern}', '<PHONE>', 'g')) AS redacted_md5
         |FROM sc ORDER BY doc_id""".stripMargin,
    "q_emb_stats" ->
      """WITH v AS (
        |  SELECT label,
        |    CAST(round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)),
        |      (a, b) -> a + b)) * 1000000, 0) AS BIGINT) AS norm_x1e6
        |  FROM embeddings)
        |SELECT label, count(*) AS n_vecs,
        |  CAST(sum(norm_x1e6) AS BIGINT) AS sum_norm_x1e6,
        |  min(norm_x1e6) AS min_norm_x1e6, max(norm_x1e6) AS max_norm_x1e6
        |FROM v GROUP BY label ORDER BY label""".stripMargin,
    // the sign matrix rebuilt from the seed by the same md5-hex fold,
    // the projection re-run as the same ordered double fold — bit-
    // identical IEEE sequence, so the x1e6 rounding is hash-exact
    "q_emb_project" ->
      """WITH sgn AS (
        |  SELECT CAST(j AS INT) AS j, CAST(i AS INT) AS i,
        |    CASE WHEN CAST(list_sum(list_transform(range(8),
        |        k -> CAST(strpos('0123456789abcdef',
        |               substr(md5('rp:0:' || i || ':' || j),
        |                 CAST(k+1 AS INT), 1)) - 1 AS BIGINT)
        |             * (CAST(1 AS BIGINT) << (4*(7-CAST(k AS INT))))))
        |        % 2 AS BIGINT) = 0
        |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE)
        |    END AS s
        |  FROM range(16) tj(j), range(64) ti(i)),
        |m AS (SELECT list(s ORDER BY j*64 + i) AS sl FROM sgn),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings),
        |p AS (
        |  SELECT vec_id, CAST(j AS INT) AS pos,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(range(64),
        |        i -> sl[CAST(j*64 + i + 1 AS INT)]
        |             * v[CAST(i + 1 AS INT)])),
        |      (a, b) -> a + b) AS y
        |  FROM e, m, range(16) tj(j))
        |SELECT vec_id, pos,
        |  CAST(round(y * 1000000, 0) AS BIGINT) AS proj_x1e6
        |FROM p ORDER BY vec_id, pos""".stripMargin,
    "q_emb_centroids" ->
      """WITH e AS (
        |  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (
        |  SELECT label, CAST(i AS INT) AS pos,
        |    CAST(round(v[CAST(i + 1 AS INT)] * 1000000, 0) AS BIGINT) AS x1e6
        |  FROM (SELECT label, v, unnest(range(len(v))) AS i FROM e))
        |SELECT label, pos, count(*) AS n,
        |  CAST(sum(x1e6) AS BIGINT) AS sum_x1e6,
        |  CAST(floor(sum(x1e6) * 1.0 / count(*)) AS BIGINT) AS avg_x1e6
        |FROM c GROUP BY label, pos ORDER BY label, pos""".stripMargin,
    // The whole Lloyd loop replayed as chained CTEs: quantize (the
    // proven q_emb_quantize CTE), seed on the 8 lowest ids (milli
    // grid), then assign/update x2 and a final assignment. Distances
    // are exact-integer squared-L2 on the milli grid; centroid update
    // = round((1000.0 * sum) / n) — exact-int product, IEEE division,
    // half-away rounding, identical in Spark. Ties break on cell id
    // (row_number ORDER BY dist, cell == Spark's struct array_min).
    "q_kmeans_cells" ->
      (kmeansAssignCtes +
      """
        |SELECT CAST(cell AS BIGINT) AS cell, count(*) AS n,
        |  CAST(sum(vec_id) AS BIGINT) AS sum_ids
        |FROM a3 GROUP BY cell ORDER BY cell""".stripMargin),
    // the same training replay chained into the stratified-quota
    // window (the q_stratified_sample rule, stratum = trained cell)
    "q_diversity_sample" ->
      (kmeansAssignCtes +
      """,
        |hq AS (
        |  SELECT CAST(cell AS VARCHAR) AS stratum, vec_id,
        |    ((vec_id % 2147483648) * 1597334677 + (vec_id >> 31) * 7919) % 10000
        |      AS b
        |  FROM a3),
        |rq AS (
        |  SELECT stratum, vec_id, b,
        |    row_number() OVER (PARTITION BY stratum ORDER BY b, vec_id) AS rk
        |  FROM hq)
        |SELECT stratum, vec_id AS key, b AS bucket, CAST(rk AS BIGINT) AS rk
        |FROM rq WHERE rk <= 12 ORDER BY stratum, rk""".stripMargin),
    // Trained-IVF serving on top of the SAME training replay: corpus
    // assignment under the trained centroids, nProbe=2 nearest cells
    // per query by the identical exact distance, quantized-cosine
    // ranking inside probed cells (int dot, one portable division).
    "q_sim_ann_ivf_trained" ->
      (ivfTrainedCtes + """
        |SELECT query_id, rank, neighbor_id, sim FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),
    // q_sim_ann_ivf_trained's oracle with the base/delta split: the
    // Lloyd loop (seeds, both refinement rounds) sees ONLY the base
    // slice (vec_id % 10 <> 9); the FINAL assignment a3 covers the
    // whole corpus under the trained centroids — which is precisely
    // what ivfIndexBuild (base) + ivfIndexAppend (delta, persisted
    // centroids, no retrain) must reconstruct from the on-disk index.
    "q_sim_ann_index" ->
      (ivfIndexServeCtes +
      """SELECT query_id, rank, neighbor_id, sim FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),
    // retraction: identical training + assignment (a tombstone commit
    // never retrains), retracted ids excluded from candidates only
    "q_sim_ann_retract" ->
      (ivfIndexServeCtesFor("NOT (t.vec_id % 7 = 3)") +
      """SELECT query_id, rank, neighbor_id, sim FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),
    // the physical fold never retrains and the exclusion set is the
    // same, so the retraction oracle covers the post-vacuum serve
    "q_sim_ann_vacuum" ->
      (ivfIndexServeCtesFor("NOT (t.vec_id % 7 = 3)") +
      """SELECT query_id, rank, neighbor_id, sim FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),
    // live grain = corpus minus the retracted set; the file/cell/
    // generation numbers ride as the fresh-build contract
    "q_sim_ann_health" ->
      raw"""WITH n AS (SELECT count(*) AS n FROM embeddings),
           |g AS (SELECT count(*) AS n_gone FROM embeddings
           |      WHERE vec_id % 13 = 3)
           |SELECT CAST(n.n - g.n_gone AS BIGINT) AS n_vectors,
           |  CAST(n.n - g.n_gone AS BIGINT) AS n_postings,
           |  CAST(8 AS BIGINT) AS n_cells,
           |  CAST(1 AS BIGINT) AS files_le_cells,
           |  CAST(1 AS BIGINT) AS max_files_per_cell,
           |  CAST(1 AS BIGINT) AS n_generations,
           |  CAST(g.n_gone AS BIGINT) AS n_tombstones
           |FROM n CROSS JOIN g""".stripMargin,
    // streamed takedown == batch retraction (idempotent tombstone
    // commits), same oracle
    "q_stream_ann_retract" ->
      (ivfIndexServeCtesFor("NOT (t.vec_id % 7 = 3)") +
      """SELECT query_id, rank, neighbor_id, sim FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),
    // the recall observable: approx = the served nProbe=2 top-5 (CTE
    // chain above); exact = quantized top-5 with NO probe pruning over
    // the same codes (what probing all cells computes); recall_at_k =
    // overlap / exact count per query, carried on every approx row —
    // the whole metric hash-checked, not just the serving rows.
    "q_sim_ann_recall" ->
      (ivfIndexServeCtes +
      """, excand AS (
        |  SELECT qn.vec_id AS query_id, t.vec_id AS neighbor_id,
        |    round(CAST(list_sum(list_transform(range(len(qn.codes)),
        |            i -> qn.codes[CAST(i + 1 AS INT)] * t.codes[CAST(i + 1 AS INT)]))
        |          AS DOUBLE)
        |      / (sqrt(CAST(qn.nsq AS DOUBLE)) * sqrt(CAST(t.nsq AS DOUBLE))), 4)
        |      AS sim
        |  FROM n qn JOIN n t ON t.vec_id <> qn.vec_id
        |  WHERE qn.vec_id < 10 AND qn.nsq > 0 AND t.nsq > 0),
        |exact AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY sim DESC, neighbor_id) AS rk
        |    FROM excand) t WHERE rk <= 5),
        |approx AS (
        |  SELECT query_id, rank, neighbor_id, sim FROM r WHERE rank <= 5),
        |nex AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY 1),
        |hit AS (
        |  SELECT a.query_id, count(*) AS n_hit
        |  FROM approx a JOIN exact e
        |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        |  GROUP BY 1)
        |SELECT a.query_id, a.rank, a.neighbor_id, a.sim, nx.n_exact,
        |  coalesce(h.n_hit, 0) AS n_hit,
        |  round(1.0 * coalesce(h.n_hit, 0) / nx.n_exact, 4) AS recall_at_k
        |FROM approx a
        |JOIN nex nx USING (query_id)
        |LEFT JOIN hit h ON a.query_id = h.query_id
        |ORDER BY query_id, rank""".stripMargin),
    "q_sim_neardup_exact" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,
    // Valid because exact-verified LSH at these parameters is
    // exhaustive on this corpus (see the query comment): the oracle is
    // the brute-force pair set at the same threshold.
    // Brute force over the SAME planted-dup augmented corpus (vec_id +
    // 10M, v * 2 — cosine-identical; see Similarity.plantCosineDups):
    // valid as the LSH path's oracle because identical unit vectors
    // collide in every table, so LSH recall is exactly 1 there.
    "q_sim_embed_neardup" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |e AS (SELECT vec_id, v FROM e0
        |      UNION ALL
        |      SELECT vec_id + 10000000, list_transform(v, x -> x * 2) FROM e0)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.95
        |ORDER BY id_a, id_b""".stripMargin,
    // Brute-force pair set over the same augmented corpus at the same
    // threshold/rounding as the LSH path (recall exactly 1 there),
    // then the q_dedup_clusters recursive min-label closure over it.
    "q_semdedup" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ea AS (SELECT vec_id, v FROM e0
        |       UNION ALL
        |       SELECT vec_id + 10000000, list_transform(v, x -> x * 2) FROM e0),
        |pq AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM ea a JOIN ea b ON a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.95),
        |e AS (SELECT id_a AS src, id_b AS dst FROM pq
        |      UNION ALL SELECT id_b, id_a FROM pq),
        |reach(id, r) AS (
        |  SELECT vec_id, vec_id FROM ea
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id)
        |SELECT id AS vec_id, min(r) AS rep_id,
        |  CAST(CASE WHEN id = min(r) THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin,
    // Valid because 16x4 LSH banding is exhaustive on this corpus's
    // pair set (all true pairs >= 0.88 jaccard) — see the query comment.
    "q_dedup_minhash" -> jaccardPairsSql,
    // Valid because shared-fingerprint candidate generation is
    // exhaustive on this corpus's >=0.88-jaccard pair set (MOSS
    // shared-run guarantee) — see the query comment.
    "q_dedup_winnow" -> jaccardPairsSql,
    // Valid because the streamed LSH index accumulates every bucket
    // member across drops, so its candidate union equals the batch
    // banding candidate set, which is exhaustive here (see above);
    // exact verification makes the output the true pair set.
    "q_stream_neardup" -> jaccardPairsSql,
    // the 30-min horizon at hourly drops restated declaratively: only
    // same-drop or adjacent-drop pairs can form (see the query comment)
    "q_stream_neardup_ttl" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(CASE WHEN len(a) < 3 THEN CAST([] AS VARCHAR[])
        |      ELSE list_transform(range(len(a) - 2),
        |        i -> a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]) END) AS shingle
        |  FROM t),
        |n AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(1.0 * shared / (na.n_sh + nb.n_sh - shared), 6) AS jaccard
        |FROM p JOIN n na ON id_a = na.doc_id JOIN n nb ON id_b = nb.doc_id
        |WHERE 1.0 * shared / (na.n_sh + nb.n_sh - shared) >= 0.5
        |  AND abs(id_a % 4 - id_b % 4) <= 1
        |ORDER BY id_a, id_b""".stripMargin,
    // eviction protocol as a lag rule: at 30-min horizon over hourly
    // drops, state survives until the first fully-silent batch whose
    // start watermark (= previous drop's hour) passes last sighting +
    // horizon -> a sighted drop re-emits iff the previous sighted drop
    // is >= 3 back; keeper = min doc of the emitting drop
    "q_stream_dedup_ttl" ->
      """WITH m AS (SELECT max(doc_id) AS mx FROM documents),
        |allrows AS (
        |  SELECT doc_id, text, doc_id % 4 AS c FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT mx FROM m) + 1, text, 1
        |  FROM documents WHERE doc_id % 20 = 0
        |  UNION ALL
        |  SELECT doc_id + (SELECT mx FROM m) + 1, text, 3
        |  FROM documents WHERE doc_id % 20 = 4),
        |f AS (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |    doc_id, c
        |  FROM allrows),
        |sight AS (SELECT fp, c, min(doc_id) AS keeper FROM f GROUP BY fp, c),
        |r AS (SELECT fp, c, keeper,
        |    lag(c) OVER (PARTITION BY fp ORDER BY c) AS pc
        |  FROM sight)
        |SELECT fp AS fingerprint, keeper FROM r
        |WHERE pc IS NULL OR c - pc >= 3
        |ORDER BY fingerprint, keeper""".stripMargin,
    "q_sim_retrieval" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT query_id, neighbor_id,
        |        round(list_cosine_similarity(qv, cv), 4) AS sim
        |      FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
        |r AS (SELECT query_id, neighbor_id, sim,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM s)
        |SELECT r.query_id, r.rank, r.neighbor_id, r.sim, d.lang, d.source
        |FROM r JOIN documents d ON r.neighbor_id = d.doc_id
        |WHERE r.rank <= 5
        |ORDER BY r.query_id, r.rank""".stripMargin,
    "q_sim_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT query_id, neighbor_id,
        |        round(list_cosine_similarity(qv, cv), 4) AS sim
        |      FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
        |r AS (SELECT query_id, neighbor_id, sim,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, neighbor_id, sim FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // both rankings recomputed: exact cosine in the original space,
    // cosine in the md5-fold-rebuilt projected space — identical 4dp
    // rounding + (sim DESC, id ASC) tie-break, so both top-10 SETS
    // match Spark's bounded-heap output exactly
    "q_sim_rp_recall" ->
      """WITH sgn AS (
        |  SELECT CAST(j AS INT) AS j, CAST(i AS INT) AS i,
        |    CASE WHEN CAST(list_sum(list_transform(range(8),
        |        k -> CAST(strpos('0123456789abcdef',
        |               substr(md5('rp:0:' || i || ':' || j),
        |                 CAST(k+1 AS INT), 1)) - 1 AS BIGINT)
        |             * (CAST(1 AS BIGINT) << (4*(7-CAST(k AS INT))))))
        |        % 2 AS BIGINT) = 0
        |      THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE)
        |    END AS s
        |  FROM range(32) tj(j), range(64) ti(i)),
        |m AS (SELECT list(s ORDER BY j*64 + i) AS sl FROM sgn),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings),
        |p AS (
        |  SELECT vec_id,
        |    list_transform(range(32), j ->
        |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(range(64),
        |          i -> sl[CAST(j*64 + i + 1 AS INT)]
        |               * v[CAST(i + 1 AS INT)])),
        |        (a, b) -> a + b)) AS pv
        |  FROM e, m),
        |ex AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_cosine_similarity(q.v, c.v), 4) DESC,
        |          c.vec_id) AS rank
        |    FROM e q CROSS JOIN e c
        |    WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
        |  WHERE rank <= 10),
        |ap AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY round(list_cosine_similarity(q.pv, c.pv), 4) DESC,
        |          c.vec_id) AS rank
        |    FROM p q CROSS JOIN p c
        |    WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
        |  WHERE rank <= 100),
        |h AS (SELECT ex.query_id, count(*) AS n_hit
        |      FROM ex JOIN ap USING (query_id, neighbor_id)
        |      GROUP BY 1),
        |ne AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY 1)
        |SELECT ne.query_id, ne.n_exact,
        |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit
        |FROM ne LEFT JOIN h USING (query_id)
        |ORDER BY ne.query_id""".stripMargin,
    // ANN oracles: at the query's verified-exhaustive parameters the
    // approximate output equals the brute-force top-k (see comments on
    // the defs), so the exact SQL is the oracle for both.
    "q_sim_ann_lsh" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT query_id, neighbor_id,
        |        round(list_cosine_similarity(qv, cv), 4) AS sim
        |      FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
        |r AS (SELECT query_id, neighbor_id, sim,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, neighbor_id, sim FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q_sim_ann_ivf" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |      FROM embeddings),
        |s AS (SELECT query_id, neighbor_id,
        |        round(list_cosine_similarity(qv, cv), 4) AS sim
        |      FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
        |r AS (SELECT query_id, neighbor_id, sim,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, neighbor_id, sim FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // Full restatement of Similarity.quantizeInt8: same absmax/127
    // scale, same round-half-away division (round(x, 0) is
    // away-from-zero in both engines, and the .5 boundaries are
    // exactly representable doubles).
    "q_emb_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        |  FROM e),
        |c AS (
        |  SELECT vec_id,
        |    CAST(round(scale * 1000000000, 0) AS BIGINT) AS scale_x1e9,
        |    CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(v, x -> CAST(round(x / scale, 0) AS BIGINT))
        |    END AS codes
        |  FROM s)
        |SELECT vec_id, scale_x1e9,
        |  CAST(list_sum(codes) AS BIGINT) AS sum_codes,
        |  CAST(list_sum(list_transform(codes, x -> abs(x))) AS BIGINT) AS l1_codes,
        |  list_max(codes) AS max_code,
        |  list_min(codes) AS min_code
        |FROM c ORDER BY vec_id""".stripMargin,
    // Quantize + integer pairwise dot + the kernel's exact division
    // order: dot / (sqrt(na) * sqrt(nb)), every input an exact int.
    "q_sim_quantized_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        |      FROM e),
        |c AS (SELECT vec_id,
        |        CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |             ELSE list_transform(v, x -> CAST(round(x / scale, 0) AS BIGINT))
        |        END AS codes
        |      FROM s),
        |n AS (SELECT vec_id, codes,
        |        CAST(list_sum(list_transform(codes, x -> x * x)) AS BIGINT) AS nsq
        |      FROM c),
        |p AS (SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
        |        round(CAST(list_sum(list_transform(range(len(q.codes)),
        |                i -> q.codes[CAST(i + 1 AS INT)] * t.codes[CAST(i + 1 AS INT)]))
        |              AS DOUBLE)
        |          / (sqrt(CAST(q.nsq AS DOUBLE)) * sqrt(CAST(t.nsq AS DOUBLE))), 4)
        |          AS sim
        |      FROM n q CROSS JOIN n t
        |      WHERE q.vec_id < 10 AND t.vec_id <> q.vec_id
        |        AND q.nsq > 0 AND t.nsq > 0),
        |r AS (SELECT query_id, neighbor_id, sim,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM p)
        |SELECT query_id, rank, neighbor_id, sim FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // q_sim_ann_ivfpq's oracle with the base/delta split: BOTH
    // trainings (the coarse Lloyd chain via ivfIndexAssignCtes and
    // the residual-PQ Lloyd round via the vec_id % 10 <> 9 filters)
    // see only the base slice; assignment (a3) and encode (encr)
    // cover the whole corpus under the trained artifacts — which is
    // precisely what ivfPqIndexBuild (base) + ivfPqIndexAppend
    // (delta, persisted centroids+codebook, no retrain) must
    // reconstruct from disk.
    "q_sim_ann_ivfpq_index" -> ivfPqIndexOracle,
    // PQ retraction: identical two-quantizer replay (a tombstone
    // commit never retrains), retracted ids excluded from the ADC
    // candidate side only
    "q_sim_ann_ivfpq_retract" ->
      (ivfPqIndexCtesFor("vec_id % 10 <> 9", "NOT (a.vec_id % 7 = 3)") +
      """
        |SELECT query_id, rank, neighbor_id, sim FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),
    // compaction is value-invisible: rows identical to the ordinary
    // build+append index, only the file layout changes
    "q_sim_ann_index_compact" -> ivfPqIndexOracle,
    // migration is value-invisible BY CONTRACT — the ordinary index
    // replay oracles the post-migration serve verbatim
    "q_sim_ann_index_migrate" -> ivfPqIndexOracle,
    "q_sim_ann_ivfpq_recall" -> ivfPqRecallOracle,
    // maintain rebuilds from the FULL corpus: same replay, train
    // slice = everything; TRUE AS retrained pins the tripped floor
    "q_sim_ann_ivfpq_maintain" -> ivfPqMaintainOracle,
    // appends are content-commutative: 2 streamed drops of the same
    // held-out tenth end in the identical postings state, so the
    // batch index oracle IS the streaming gate's oracle
    "q_stream_ann_index" -> ivfPqIndexOracle,
    // the streamed prefix-rule admission equals the batch cumsum over
    // (source, doc_id) order: the running total accumulates EVERY doc
    // and a doc admits iff its running total fits the budget
    "q_stream_budget" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, toks,
        |    sum(toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT source, doc_id, CAST(toks AS BIGINT) AS toks,
        |  CAST(cum AS BIGINT) AS cum_tokens
        |FROM c WHERE cum <= 800 ORDER BY source, doc_id""".stripMargin,
    // IVFADC replayed in SQL end-to-end: the coarse half is the
    // proven q_kmeans_cells Lloyd chain (cents2 = trained coarse
    // centroids, a3 = corpus cell assignment); the fine half derives
    // milli-grid residuals, seeds a per-subspace codebook on the 4
    // lowest ids, runs one residual Lloyd round, encodes by argmin,
    // and serves probe-pruned reconstruction cosine — every sum an
    // exact int64, one portable double division at the end.
    "q_sim_ann_ivfpq" ->
      (kmeansAssignCtes + """,
        |resi AS (
        |  SELECT a.vec_id, a.cell,
        |    list_transform(range(len(c.codes)),
        |      i -> 1000 * c.codes[CAST(i + 1 AS INT)] - ct.cent[CAST(i + 1 AS INT)]) AS res
        |  FROM a3 a JOIN c ON a.vec_id = c.vec_id
        |       JOIN cents2 ct ON a.cell = ct.cell),
        |rsub AS (
        |  SELECT vec_id, CAST(j AS INT) AS j,
        |    list_slice(res, j * 16 + 1, j * 16 + 16) AS sc
        |  FROM resi, range(4) tj(j)),
        |rx AS (
        |  SELECT vec_id, j, CAST(i AS INT) AS pos, sc[CAST(i + 1 AS INT)] AS x
        |  FROM (SELECT vec_id, j, sc, unnest(range(len(sc))) AS i FROM rsub)),
        |rcents0 AS (
        |  SELECT j,
        |    CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS cell,
        |    sc AS cent
        |  FROM rsub
        |  WHERE vec_id IN (SELECT vec_id FROM c ORDER BY vec_id LIMIT 4)),
        |ra1 AS (
        |  SELECT vec_id, j, cell FROM (
        |    SELECT v.vec_id, v.j, s.cell,
        |      row_number() OVER (PARTITION BY v.vec_id, v.j ORDER BY
        |        list_sum(list_transform(range(len(v.sc)),
        |          i -> (v.sc[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)])
        |             * (v.sc[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)]))),
        |        s.cell) AS rn
        |    FROM rsub v JOIN rcents0 s ON v.j = s.j) t WHERE rn = 1),
        |ru1 AS (
        |  SELECT a.j, a.cell, x.pos,
        |    CAST(round((1.0 * sum(x.x)) / count(*), 0) AS BIGINT) AS mc
        |  FROM ra1 a JOIN rx x ON a.vec_id = x.vec_id AND a.j = x.j
        |  GROUP BY a.j, a.cell, x.pos),
        |rcents1 AS (
        |  SELECT pp.j, pp.cell,
        |    CASE WHEN count(u.mc) = 0 THEN any_value(pp.cent)
        |         ELSE list(u.mc ORDER BY u.pos) END AS cent
        |  FROM rcents0 pp LEFT JOIN ru1 u ON pp.j = u.j AND pp.cell = u.cell
        |  GROUP BY pp.j, pp.cell),
        |encr AS (
        |  SELECT vec_id, j, cell FROM (
        |    SELECT v.vec_id, v.j, s.cell,
        |      row_number() OVER (PARTITION BY v.vec_id, v.j ORDER BY
        |        list_sum(list_transform(range(len(v.sc)),
        |          i -> (v.sc[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)])
        |             * (v.sc[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)]))),
        |        s.cell) AS rn
        |    FROM rsub v JOIN rcents1 s ON v.j = s.j) t WHERE rn = 1),
        |recr AS (
        |  SELECT en.vec_id, en.j, ct.cent
        |  FROM encr en JOIN rcents1 ct ON en.j = ct.j AND en.cell = ct.cell),
        |xhat AS (
        |  SELECT rc.vec_id, rc.j,
        |    list_transform(range(16),
        |      i -> ct.cent[CAST(rc.j * 16 + i + 1 AS INT)] + rc.cent[CAST(i + 1 AS INT)]) AS xs
        |  FROM recr rc JOIN a3 a ON rc.vec_id = a.vec_id
        |       JOIN cents2 ct ON a.cell = ct.cell),
        |xn AS (
        |  SELECT vec_id, CAST(sum(csq) AS BIGINT) AS x2
        |  FROM (SELECT vec_id,
        |          CAST(list_sum(list_transform(xs, y -> y * y)) AS BIGINT) AS csq
        |        FROM xhat) t
        |  GROUP BY vec_id),
        |nq AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(codes, x -> x * x)) AS BIGINT) AS nsq
        |  FROM c),
        |qn AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(codes,
        |      x -> 1000 * x * 1000 * x)) AS BIGINT) AS q2
        |  FROM c WHERE vec_id < 10),
        |qprobe AS (
        |  SELECT vec_id AS query_id, cell FROM (
        |    SELECT q.vec_id, s.cell,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_sum(list_transform(range(len(q.codes)),
        |          i -> (1000 * q.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)])
        |             * (1000 * q.codes[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)]))),
        |        s.cell) AS rn
        |    FROM c q CROSS JOIN cents2 s WHERE q.vec_id < 10) t WHERE rn <= 2),
        |cand AS (
        |  SELECT qp.query_id, a.vec_id AS neighbor_id
        |  FROM qprobe qp JOIN a3 a ON qp.cell = a.cell
        |  WHERE a.vec_id <> qp.query_id),
        |qsub AS (
        |  SELECT vec_id, CAST(j AS INT) AS j,
        |    list_transform(list_slice(codes, j * 16 + 1, j * 16 + 16),
        |      x -> 1000 * x) AS qs
        |  FROM c, range(4) tj(j) WHERE vec_id < 10),
        |d AS (
        |  SELECT cd.query_id, cd.neighbor_id,
        |    CAST(list_sum(list_transform(range(len(q.qs)),
        |      i -> q.qs[CAST(i + 1 AS INT)] * xh.xs[CAST(i + 1 AS INT)])) AS BIGINT) AS pd
        |  FROM cand cd JOIN qsub q ON q.vec_id = cd.query_id
        |       JOIN xhat xh ON xh.vec_id = cd.neighbor_id AND xh.j = q.j),
        |dd AS (SELECT query_id, neighbor_id, CAST(sum(pd) AS BIGINT) AS dt
        |       FROM d GROUP BY query_id, neighbor_id),
        |p AS (
        |  SELECT dd.query_id, dd.neighbor_id,
        |    round(CAST(dd.dt AS DOUBLE)
        |      / (sqrt(CAST(qn.q2 AS DOUBLE)) * sqrt(CAST(xn.x2 AS DOUBLE))), 4) AS sim
        |  FROM dd JOIN qn ON dd.query_id = qn.vec_id
        |       JOIN xn ON dd.neighbor_id = xn.vec_id
        |       JOIN nq ON dd.neighbor_id = nq.vec_id
        |  WHERE qn.q2 > 0 AND xn.x2 > 0 AND nq.nsq > 0),
        |r AS (SELECT query_id, neighbor_id, sim,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM p)
        |SELECT query_id, rank, neighbor_id, sim FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),
    // The whole PQ path replayed in SQL: quantize, per-subspace seeds
    // on the 4 lowest ids, two Lloyd rounds keyed by (subspace, cell),
    // encode-by-argmin under the trained codebook, then ADC serving
    // restated as reconstruction cosine — dot(q_milli, concat of
    // assigned centroids) over exact int64 sums with one portable
    // double division. Hash-pins codebook, codes, and ranking at once.
    "q_sim_pq_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        |      FROM e),
        |c AS (SELECT vec_id,
        |        CASE WHEN scale = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
        |             ELSE list_transform(v, x -> CAST(round(x / scale, 0) AS BIGINT))
        |        END AS codes
        |      FROM s),
        |sub AS (
        |  SELECT vec_id, CAST(j AS INT) AS j,
        |    list_slice(codes, j * 16 + 1, j * 16 + 16) AS sc
        |  FROM c, range(4) tj(j)),
        |x AS (
        |  SELECT vec_id, j, CAST(i AS INT) AS pos, sc[CAST(i + 1 AS INT)] AS x
        |  FROM (SELECT vec_id, j, sc, unnest(range(len(sc))) AS i FROM sub)),
        |cents0 AS (
        |  SELECT j,
        |    CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS INT) AS cell,
        |    list_transform(sc, x -> 1000 * x) AS cent
        |  FROM sub
        |  WHERE vec_id IN (SELECT vec_id FROM c ORDER BY vec_id LIMIT 4)),
        |a1 AS (
        |  SELECT vec_id, j, cell FROM (
        |    SELECT v.vec_id, v.j, s.cell,
        |      row_number() OVER (PARTITION BY v.vec_id, v.j ORDER BY
        |        list_sum(list_transform(range(len(v.sc)),
        |          i -> (1000 * v.sc[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)])
        |             * (1000 * v.sc[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)]))),
        |        s.cell) AS rn
        |    FROM sub v JOIN cents0 s ON v.j = s.j) t WHERE rn = 1),
        |u1 AS (
        |  SELECT a.j, a.cell, x.pos,
        |    CAST(round((1000.0 * sum(x.x)) / count(*), 0) AS BIGINT) AS mc
        |  FROM a1 a JOIN x ON a.vec_id = x.vec_id AND a.j = x.j
        |  GROUP BY a.j, a.cell, x.pos),
        |cents1 AS (
        |  SELECT p.j, p.cell,
        |    CASE WHEN count(u.mc) = 0 THEN any_value(p.cent)
        |         ELSE list(u.mc ORDER BY u.pos) END AS cent
        |  FROM cents0 p LEFT JOIN u1 u ON p.j = u.j AND p.cell = u.cell
        |  GROUP BY p.j, p.cell),
        |a2 AS (
        |  SELECT vec_id, j, cell FROM (
        |    SELECT v.vec_id, v.j, s.cell,
        |      row_number() OVER (PARTITION BY v.vec_id, v.j ORDER BY
        |        list_sum(list_transform(range(len(v.sc)),
        |          i -> (1000 * v.sc[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)])
        |             * (1000 * v.sc[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)]))),
        |        s.cell) AS rn
        |    FROM sub v JOIN cents1 s ON v.j = s.j) t WHERE rn = 1),
        |u2 AS (
        |  SELECT a.j, a.cell, x.pos,
        |    CAST(round((1000.0 * sum(x.x)) / count(*), 0) AS BIGINT) AS mc
        |  FROM a2 a JOIN x ON a.vec_id = x.vec_id AND a.j = x.j
        |  GROUP BY a.j, a.cell, x.pos),
        |cents2 AS (
        |  SELECT p.j, p.cell,
        |    CASE WHEN count(u.mc) = 0 THEN any_value(p.cent)
        |         ELSE list(u.mc ORDER BY u.pos) END AS cent
        |  FROM cents1 p LEFT JOIN u2 u ON p.j = u.j AND p.cell = u.cell
        |  GROUP BY p.j, p.cell),
        |enc AS (
        |  SELECT vec_id, j, cell FROM (
        |    SELECT v.vec_id, v.j, s.cell,
        |      row_number() OVER (PARTITION BY v.vec_id, v.j ORDER BY
        |        list_sum(list_transform(range(len(v.sc)),
        |          i -> (1000 * v.sc[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)])
        |             * (1000 * v.sc[CAST(i + 1 AS INT)] - s.cent[CAST(i + 1 AS INT)]))),
        |        s.cell) AS rn
        |    FROM sub v JOIN cents2 s ON v.j = s.j) t WHERE rn = 1),
        |rec AS (
        |  SELECT en.vec_id, en.j, ct.cent
        |  FROM enc en JOIN cents2 ct ON en.j = ct.j AND en.cell = ct.cell),
        |xn AS (
        |  SELECT vec_id, CAST(sum(csq) AS BIGINT) AS x2
        |  FROM (SELECT vec_id,
        |          CAST(list_sum(list_transform(cent, y -> y * y)) AS BIGINT) AS csq
        |        FROM rec) t
        |  GROUP BY vec_id),
        |nq AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(codes, x -> x * x)) AS BIGINT) AS nsq
        |  FROM c),
        |qn AS (
        |  SELECT vec_id,
        |    CAST(list_sum(list_transform(codes,
        |      x -> 1000 * x * 1000 * x)) AS BIGINT) AS q2
        |  FROM c WHERE vec_id < 10),
        |d AS (
        |  SELECT q.vec_id AS query_id, rc.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(len(q.sc)),
        |      i -> 1000 * q.sc[CAST(i + 1 AS INT)] * rc.cent[CAST(i + 1 AS INT)])) AS BIGINT)
        |      AS pd
        |  FROM sub q JOIN rec rc ON q.j = rc.j
        |  WHERE q.vec_id < 10 AND rc.vec_id <> q.vec_id),
        |dd AS (SELECT query_id, neighbor_id, CAST(sum(pd) AS BIGINT) AS dt
        |       FROM d GROUP BY query_id, neighbor_id),
        |p AS (
        |  SELECT dd.query_id, dd.neighbor_id,
        |    round(CAST(dd.dt AS DOUBLE)
        |      / (sqrt(CAST(qn.q2 AS DOUBLE)) * sqrt(CAST(xn.x2 AS DOUBLE))), 4) AS sim
        |  FROM dd JOIN qn ON dd.query_id = qn.vec_id
        |       JOIN xn ON dd.neighbor_id = xn.vec_id
        |       JOIN nq ON dd.neighbor_id = nq.vec_id
        |  WHERE qn.q2 > 0 AND xn.x2 > 0 AND nq.nsq > 0),
        |r AS (SELECT query_id, neighbor_id, sim,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM p)
        |SELECT query_id, rank, neighbor_id, sim FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // Plain per-stratum row_number — valid because the map-side prune
    // keeps a superset of every stratum's quota winners by
    // construction (each partition keeps its own top-quota).
    "q_stratified_sample" ->
      """WITH h AS (
        |  SELECT lang, doc_id,
        |    ((doc_id % 2147483648) * 1597334677 + (doc_id >> 31) * 7919) % 10000
        |      AS b
        |  FROM documents),
        |r AS (SELECT lang, doc_id, b,
        |        row_number() OVER (PARTITION BY lang ORDER BY b, doc_id) AS rk
        |      FROM h)
        |SELECT lang AS stratum, doc_id AS key, b AS bucket,
        |  CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 30 ORDER BY stratum, rk""".stripMargin,
    "q_mix_temperature" ->
      """WITH c AS (
        |  SELECT CAST(lang AS VARCHAR) AS grp, count(*) AS cnt
        |  FROM documents GROUP BY 1),
        |wt AS (
        |  SELECT grp,
        |    CAST(floor(sqrt(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT) AS wq
        |  FROM c),
        |q AS (
        |  SELECT grp,
        |    CAST((300 * wq) // (SELECT CAST(sum(wq) AS BIGINT) FROM wt)
        |      AS BIGINT) AS quota
        |  FROM wt),
        |r AS (
        |  SELECT CAST(lang AS VARCHAR) AS grp,
        |    CAST(doc_id AS BIGINT) AS key,
        |    row_number() OVER (PARTITION BY lang ORDER BY
        |      ((doc_id % 2147483648) * 1597334677 + (doc_id >> 31) * 7919)
        |        % 10000, doc_id) AS rk
        |  FROM documents)
        |SELECT r.grp AS grp, r.key AS key, CAST(r.rk AS BIGINT) AS rk,
        |  q.quota AS quota
        |FROM r JOIN q ON r.grp = q.grp
        |WHERE r.rk <= q.quota
        |ORDER BY r.grp, r.rk""".stripMargin,
    "q_weighted_sample" ->
      """WITH h AS (
        |  SELECT source, doc_id,
        |    (CAST(((doc_id % 2147483648) * 1597334677
        |           + (doc_id >> 31) * 7919) % 1000000000 AS DOUBLE) + 0.5)
        |      / CAST(n_chars AS DOUBLE) AS pri
        |  FROM documents WHERE n_chars > 0),
        |r AS (SELECT source, doc_id, pri,
        |        row_number() OVER (PARTITION BY source ORDER BY pri, doc_id)
        |          AS rk
        |      FROM h)
        |SELECT source AS stratum, doc_id AS key, pri, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 20 ORDER BY stratum, rk""".stripMargin,
    "q_t_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents WHERE length(trim(text)) > 0),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |sc AS (SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
        |         (n.n * 1000) // dfq.df AS idf_x1000,
        |         tf.tf * ((n.n * 1000) // dfq.df) AS score
        |       FROM tf JOIN dfq USING (token) CROSS JOIN n),
        |r AS (SELECT doc_id, token, tf, df, idf_x1000, score,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY score DESC, token) AS rank
        |      FROM sc)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, token,
        |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  CAST(idf_x1000 AS BIGINT) AS idf_x1000, CAST(score AS BIGINT) AS score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q_text_bm25_topk" -> bm25OracleSql("doc_id % 37 = 0", 5),
    "q_text_bm25_df" ->
      bm25OracleSql("doc_id % 37 = 0", 5, maxDfFrac = Some(0.78)),
    // retraction restated as a fresh build WITHOUT the retracted docs
    // (stats, tf, df all over the remaining corpus); queries from the
    // full table
    "q_text_retract" ->
      bm25OracleSql("doc_id % 37 = 0", 5,
        corpusPred = "NOT (doc_id % 5 = 0)"),
    // vacuum is value-invisible after retract (stats already
    // decremented; the fold only moves the exclusion from serve-time
    // filter to physical absence), so the retraction oracle covers
    // the post-fold serve verbatim
    "q_text_vacuum" ->
      bm25OracleSql("doc_id % 37 = 0", 5,
        corpusPred = "NOT (doc_id % 5 = 0)"),
    // the streamed takedown lands the same tombstones + stats the
    // batch retract does (idempotent, content-commutative), so the
    // batch oracle covers the streaming gate too
    "q_stream_text_retract" ->
      bm25OracleSql("doc_id % 37 = 0", 5,
        corpusPred = "NOT (doc_id % 5 = 0)"),
    // the append gate serves the SAME postings + stats the full build
    // produces, so it shares the full-corpus oracle verbatim
    "q_text_bm25_append" -> bm25OracleSql("doc_id % 37 = 0", 5),
    // the streamed appends land the same postings + stats the batch
    // path does (content-commutative), so the full-corpus oracle
    // covers the streaming gate too
    "q_stream_text_bm25" -> bm25OracleSql("doc_id % 37 = 0", 5),
    "q_text_phrase" -> phraseOracleSql,
    // stats/vocab/postings restated from the token arrays; the file
    // numbers ride as the fresh-build contract (one co-located file
    // per non-empty bucket)
    "q_text_index_health" ->
      raw"""WITH d AS (
           |  SELECT doc_id,
           |    CASE WHEN length(trim(coalesce(text, ''))) = 0
           |      THEN CAST([] AS VARCHAR[])
           |      ELSE regexp_split_to_array(trim(coalesce(text, '')), '\s+')
           |    END AS toks
           |  FROM documents),
           |tf AS (SELECT doc_id, term FROM
           |        (SELECT doc_id, unnest(toks) AS term FROM d)
           |       GROUP BY doc_id, term)
           |SELECT
           |  (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_docs,
           |  (SELECT CAST(coalesce(sum(len(toks)), 0) AS BIGINT) FROM d)
           |    AS total_tokens,
           |  CAST(32 AS BIGINT) AS n_buckets,
           |  (SELECT CAST(count(DISTINCT term) AS BIGINT) FROM tf)
           |    AS vocab,
           |  (SELECT CAST(count(*) AS BIGINT) FROM tf) AS postings,
           |  CAST(1 AS BIGINT) AS files_le_buckets,
           |  CAST(1 AS BIGINT) AS max_files_per_bucket,
           |  CAST(0 AS BIGINT) AS n_tombstones""".stripMargin,
    "q_text_bm25_eval" -> (bm25Ctes("doc_id % 37 = 0") + """,
       |res AS (SELECT query_id, doc_id AS neighbor_id, rank
       |        FROM bmr WHERE rank <= 5),
       |qr AS (SELECT doc_id AS query_id, doc_id AS relevant_id
       |       FROM documents WHERE doc_id % 37 = 0),
       |nr AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
       |       FROM qr GROUP BY query_id),
       |hit AS (SELECT r.query_id, CAST(count(*) AS BIGINT) AS hits,
       |          CAST(min(r.rank) AS BIGINT) AS frr
       |        FROM res r JOIN qr ON r.query_id = qr.query_id
       |          AND r.neighbor_id = qr.relevant_id
       |        GROUP BY r.query_id)
       |SELECT nr.query_id,
       |  CAST(coalesce(hit.frr, 0) AS BIGINT) AS first_rel_rank,
       |  CAST(CASE WHEN hit.frr IS NOT NULL THEN 10000 // hit.frr
       |       ELSE 0 END AS BIGINT) AS rr_bp,
       |  CAST(coalesce(hit.hits, 0) AS BIGINT) AS hits_at_k,
       |  nr.n_rel,
       |  CAST(coalesce(hit.hits, 0) * 10000 // nr.n_rel AS BIGINT)
       |    AS recall_bp
       |FROM nr LEFT JOIN hit ON nr.query_id = hit.query_id
       |ORDER BY nr.query_id""".stripMargin),
    "q_text_hybrid_rrf" -> hybridRrfOracleSql,
    "q_hybrid_indexed" -> hybridIndexedOracleSql)

  /** Phrase-search oracle: token positions from the arrays, the
    * query's (qpos, term) rows for tokens 3..5 of every 41st doc, and
    * the anchor-join — an anchor (query, doc, pos - qpos) is one
    * occurrence iff every query position matched there. */
  private def phraseOracleSql: String =
    raw"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(coalesce(text, ''))) = 0
         |      THEN CAST([] AS VARCHAR[])
         |      ELSE regexp_split_to_array(trim(coalesce(text, '')), '\s+')
         |    END AS toks
         |  FROM documents),
         |pos AS (SELECT doc_id,
         |          CAST(generate_subscripts(toks, 1) - 1 AS BIGINT) AS pos,
         |          unnest(toks) AS term
         |        FROM d),
         |qp AS (SELECT doc_id AS query_id,
         |         CAST(generate_subscripts(toks[3:5], 1) - 1 AS BIGINT)
         |           AS qpos,
         |         unnest(toks[3:5]) AS term
         |       FROM d WHERE doc_id % 41 = 0),
         |ql AS (SELECT query_id, CAST(count(*) AS BIGINT) AS qlen
         |       FROM qp GROUP BY query_id),
         |m AS (SELECT qp.query_id, pos.doc_id,
         |        pos.pos - qp.qpos AS anchor, qp.qpos
         |      FROM qp JOIN pos USING (term)),
         |a AS (SELECT query_id, doc_id, anchor,
         |        CAST(count(DISTINCT qpos) AS BIGINT) AS nq
         |      FROM m GROUP BY query_id, doc_id, anchor),
         |c AS (SELECT a.query_id, a.doc_id,
         |        CAST(count(*) AS BIGINT) AS n_phrase
         |      FROM a JOIN ql ON a.query_id = ql.query_id
         |        AND a.nq = ql.qlen
         |      GROUP BY a.query_id, a.doc_id),
         |r AS (SELECT query_id, doc_id, n_phrase,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY n_phrase DESC, doc_id) AS rank
         |      FROM c)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, n_phrase
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** BM25 oracle CTE chain up through the per-query ranking `bmr`:
    * tokenize (null-safe, the engine tokenizer restated), per-doc
    * lengths, corpus stats, tf/df, the first-8-token query terms for
    * docs matching `queryPred`, and the micro-unit scoring — the
    * contribution expression GENERATED from the engine's own template
    * ([[graft.text.TextIndex.contribMicroSql]], DuckDB dialect), so
    * the no-libm ln polynomial cannot drift between the sides. */
  private def bm25Ctes(queryPred: String,
      maxDfFrac: Option[Double] = None,
      corpusPred: String = "TRUE"): String = {
    val contrib = TextIndex.contribMicroSql("tf", "dl", "df", "n", "t",
      TextIndex.DuckDialect)
    // the stopword-drop dial, restated from the same postings: terms
    // past the df cap contribute nothing (the engine prunes them from
    // its per-term df table; here they fall out of the dfq join)
    val dfCap = maxDfFrac.fold("")(f =>
      s"\n        HAVING CAST(count(*) AS DOUBLE) <= CAST($f AS DOUBLE) * " +
        "(SELECT CAST(count(*) AS DOUBLE) FROM d)")
    // `corpusPred` is the retraction restatement: the SCORED corpus
    // (stats, tf, df) is the docs passing it, while queries (`q`)
    // still draw from the FULL table — a retracted doc's query keeps
    // serving, it just can't be retrieved
    raw"""WITH d0 AS (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(coalesce(text, ''))) = 0
         |      THEN CAST([] AS VARCHAR[])
         |      ELSE regexp_split_to_array(trim(coalesce(text, '')), '\s+')
         |    END AS toks
         |  FROM documents),
         |d AS (SELECT doc_id, toks FROM d0 WHERE $corpusPred),
         |dln AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
         |meta AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |                CAST(coalesce(sum(dl), 0) AS BIGINT) AS t
         |         FROM dln),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest(toks) AS term FROM d)
         |       GROUP BY doc_id, term),
         |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |        FROM tf GROUP BY term$dfCap),
         |q AS (SELECT DISTINCT query_id, term FROM (
         |        SELECT doc_id AS query_id, unnest(toks[1:8]) AS term
         |        FROM d0 WHERE $queryPred)),
         |mm AS (SELECT q.query_id, tf.doc_id, tf.tf, dln.dl, dfq.df,
         |         meta.n, meta.t
         |       FROM q JOIN tf USING (term)
         |         JOIN dln ON tf.doc_id = dln.doc_id
         |         JOIN dfq USING (term) CROSS JOIN meta),
         |bms AS (SELECT query_id, doc_id,
         |          CAST(sum($contrib) AS BIGINT) AS score_u
         |        FROM mm GROUP BY query_id, doc_id),
         |bmr AS (SELECT query_id, doc_id, score_u,
         |          row_number() OVER (PARTITION BY query_id
         |            ORDER BY score_u DESC, doc_id) AS rank
         |        FROM bms)""".stripMargin
  }

  private def bm25OracleSql(queryPred: String, k: Int,
      maxDfFrac: Option[Double] = None,
      corpusPred: String = "TRUE"): String =
    bm25Ctes(queryPred, maxDfFrac, corpusPred) + s"""
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score_u
       |FROM bmr WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** Hybrid oracle: the BM25 chain (queries = docs with id < 10) and
    * the q_sim_topk exact-cosine chain, both at top-10, fused by the
    * generated micro-unit RRF expression into the final top-5. */
  private def hybridRrfOracleSql: String = {
    val rrf = TextIndex.rrfMicroSql("rank", 60)
    bm25Ctes("doc_id < 10") + s""",
       |cq AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |       FROM embeddings WHERE vec_id < 10),
       |cc AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
       |       FROM embeddings),
       |cs AS (SELECT query_id, neighbor_id,
       |         round(list_cosine_similarity(qv, cv), 4) AS sim
       |       FROM cq CROSS JOIN cc WHERE query_id <> neighbor_id),
       |cr AS (SELECT query_id, neighbor_id AS doc_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY sim DESC, neighbor_id) AS rank
       |       FROM cs),
       |legs AS (
       |  SELECT query_id, doc_id, $rrf AS rrf_u
       |  FROM bmr WHERE rank <= 10
       |  UNION ALL
       |  SELECT query_id, doc_id, $rrf AS rrf_u
       |  FROM cr WHERE rank <= 10),
       |fs AS (SELECT query_id, doc_id, CAST(sum(rrf_u) AS BIGINT) AS rrf_u
       |       FROM legs GROUP BY query_id, doc_id),
       |fr AS (SELECT query_id, doc_id, rrf_u,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY rrf_u DESC, doc_id) AS rank
       |       FROM fs)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf_u
       |FROM fr WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** Hybrid-over-both-indexes oracle: the IVFADC index replay
    * (train-on-base + append-all, the `r` ranking) as the host WITH
    * chain, the BM25 chain NESTED as a subquery (its CTE names — `d`,
    * `q` — collide with the replay's), and the generated micro-unit
    * RRF fusion on top. */
  private def hybridIndexedOracleSql: String = {
    val rrf = TextIndex.rrfMicroSql("rank", 60)
    val bm = bm25Ctes("doc_id < 10") + """
       |SELECT query_id, doc_id, rank FROM bmr WHERE rank <= 10""".stripMargin
    ivfPqIndexCtes + s""",
       |bmleg AS (
       |  SELECT query_id, doc_id, rank FROM (
       |$bm
       |  )),
       |annleg AS (
       |  SELECT query_id, neighbor_id AS doc_id, rank
       |  FROM r WHERE rank <= 10),
       |legs AS (
       |  SELECT query_id, doc_id, $rrf AS rrf_u FROM bmleg
       |  UNION ALL
       |  SELECT query_id, doc_id, $rrf AS rrf_u FROM annleg),
       |fsum AS (SELECT query_id, doc_id, CAST(sum(rrf_u) AS BIGINT) AS rrf_u
       |         FROM legs GROUP BY query_id, doc_id),
       |frank AS (SELECT query_id, doc_id, rrf_u,
       |            row_number() OVER (PARTITION BY query_id
       |              ORDER BY rrf_u DESC, doc_id) AS rank
       |          FROM fsum)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf_u
       |FROM frank WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }
}
