package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class TextIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown cat sat on the mat"),
    (3L, "distributed inverted index retrieval with bm25 scoring"),
    (4L, "spark builds the distributed index for retrieval"),
    (5L, ""),
    (6L, "fox fox fox fox fox")
  ).toDF("doc_id", "text")

  /** Scala twin of [[TextIndex.idfMicroSql]] — same op tree, so the
    * Column evaluation must match it EXACTLY (both are IEEE
    * exactly-rounded sequences of the same shape). */
  private def idfMicroRef(df: Long, n: Long): Long = {
    val x = (((n - df) + 0.5) / (df + 0.5)) + 1.0
    val fx = math.floor(x).toLong
    val e = 63 - java.lang.Long.numberOfLeadingZeros(fx)
    val p = (1L << e).toDouble
    val m = x / p
    val z = (m - 1.0) / (m + 1.0)
    val z2 = z * z
    val poly = 1.0 + (z2 * ((1.0 / 3.0) + (z2 * ((1.0 / 5.0) +
      (z2 * ((1.0 / 7.0) + (z2 * (1.0 / 9.0))))))))
    val lnm = (2.0 * z) * poly
    val lnx = (e.toDouble * 0.6931471805599453) + lnm
    math.floor((lnx * 1000000.0) + 0.5).toLong
  }

  test("portable idf: Column evaluation == Scala twin, and tracks ln") {
    val cases = (for (n <- Seq(3L, 10L, 1000L, 1000000L);
                      df <- Seq(1L, 2L, 7L, n / 2 + 1, n) if df <= n)
      yield (df, n)).distinct
    val got = cases.toDF("df", "n")
      .withColumn("idf_u",
        expr(TextIndex.idfMicroSql("df", "n", TextIndex.SparkDialect)))
      .select("df", "n", "idf_u").collect()
    got.foreach { r =>
      val (df, n, u) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(u === idfMicroRef(df, n), s"df=$df n=$n")
      val exact = math.log((n - df + 0.5) / (df + 0.5) + 1.0) * 1e6
      // series truncation (z <= 1/3, degree 9) stays under ~2 micro-units
      assert(math.abs(u - exact) <= 2.0, s"df=$df n=$n u=$u exact=$exact")
    }
  }

  test("build + topK: self-retrieval ranks the source doc first") {
    val path = graft.util.TempDirs.scoped("textidx-basic").toString + "/ix"
    TextIndex.build(corpus, "doc_id", "text", path, nBuckets = 8)
    val meta = TextIndex.readMeta(spark, path)
    assert(meta.nDocs === 6L)
    assert(meta.totalTokens === 9 + 8 + 7 + 7 + 0 + 5)
    val q = Seq((3L, "distributed inverted index retrieval with bm25 scoring"))
      .toDF("query_id", "qtext")
    val top = TextIndex.topK(q, "query_id", "qtext", k = 3, path).collect()
    assert(top.head.getLong(0) === 3L)   // query_id
    assert(top.head.getLong(1) === 1L)   // rank
    assert(top.head.getLong(2) === 3L)   // the doc itself wins
    assert(top.forall(_.getLong(3) > 0L))
    // doc 4 shares "distributed"/"index"/"retrieval" — must appear
    assert(top.map(_.getLong(2)).contains(4L))
  }

  test("append path equals full build bit for bit") {
    val full = graft.util.TempDirs.scoped("textidx-full").toString + "/ix"
    val inc = graft.util.TempDirs.scoped("textidx-inc").toString + "/ix"
    TextIndex.build(corpus, "doc_id", "text", full, nBuckets = 4)
    TextIndex.build(corpus.filter($"doc_id" <= 3), "doc_id", "text", inc,
      nBuckets = 4)
    TextIndex.append(corpus.filter($"doc_id" > 3), "doc_id", "text", inc)
    assert(TextIndex.readMeta(spark, inc) ===
      TextIndex.readMeta(spark, full))
    // the ingested-id bound folds delta maxes in (the monotonic-id
    // fast path's invariant: an upper bound on every id ever ingested)
    assert(TextIndex.readMeta(spark, inc).maxDocId === Some(6L))
    val q = Seq((1L, "the quick brown fox"), (2L, "distributed index"))
      .toDF("query_id", "qtext")
    def serve(p: String) =
      TextIndex.topK(q, "query_id", "qtext", k = 5, p)
        .orderBy("query_id", "rank").collect().toSeq
    assert(serve(inc) === serve(full))
  }

  test("serve prunes to the query terms' buckets") {
    val path = graft.util.TempDirs.scoped("textidx-prune").toString + "/ix"
    TextIndex.build(corpus, "doc_id", "text", path, nBuckets = 8)
    val q = Seq((1L, "fox")).toDF("query_id", "qtext")
    val plan = TextIndex.topK(q, "query_id", "qtext", k = 3, path)
      .queryExecution.executedPlan.toString
    // the bucket partition filter and the term pushdown both reach
    // the postings scan
    assert(plan.contains("bucket"), plan.take(2000))
    assert(plan.contains("term"), plan.take(2000))
    // the positional payload must NOT tax the bag-of-words path: no
    // scan in the BM25 serve reads the positions column
    val schemas = "ReadSchema: [^\n]+".r.findAllIn(plan).toList
    assert(schemas.nonEmpty && schemas.forall(!_.contains("positions")),
      schemas.mkString("; "))
    val top = TextIndex.topK(q, "query_id", "qtext", k = 3, path).collect()
    // tf=5 but dl=5 self-repetition: doc 6 still outranks the long docs
    assert(top.head.getLong(2) === 6L)
  }

  test("empty / unmatched queries emit no rows with the right schema") {
    val path = graft.util.TempDirs.scoped("textidx-empty").toString + "/ix"
    TextIndex.build(corpus, "doc_id", "text", path, nBuckets = 4)
    val q0 = Seq((9L, "")).toDF("query_id", "qtext")
    val r0 = TextIndex.topK(q0, "query_id", "qtext", k = 3, path)
    assert(r0.columns.toSeq ===
      Seq("query_id", "rank", "doc_id", "score_u"))
    assert(r0.count() === 0L)
    val q1 = Seq((9L, "zzzunseen")).toDF("query_id", "qtext")
    assert(TextIndex.topK(q1, "query_id", "qtext", k = 3, path)
      .count() === 0L)
  }

  test("maxDfFrac drops ubiquitous terms from scoring") {
    val path = graft.util.TempDirs.scoped("textidx-maxdf").toString + "/ix"
    // "the" appears in docs 1, 2, 4 (df=3, N=6 -> frac 0.5)
    TextIndex.build(corpus, "doc_id", "text", path, nBuckets = 4)
    val q = Seq((1L, "the")).toDF("query_id", "qtext")
    assert(TextIndex.topK(q, "query_id", "qtext", k = 5, path)
      .count() === 3L)
    assert(TextIndex.topK(q, "query_id", "qtext", k = 5, path,
      maxDfFrac = 0.4).count() === 0L)
  }

  test("compact folds per-bucket append files, value-invisible, idempotent") {
    val path = graft.util.TempDirs.scoped("textidx-compact").toString + "/ix"
    TextIndex.build(corpus.filter($"doc_id" <= 2), "doc_id", "text", path,
      nBuckets = 2)
    TextIndex.append(corpus.filter($"doc_id" === 3L || $"doc_id" === 4L),
      "doc_id", "text", path)
    TextIndex.append(corpus.filter($"doc_id" > 4), "doc_id", "text", path)
    val q = Seq((1L, "the quick brown fox"), (2L, "distributed index"))
      .toDF("query_id", "qtext")
    def serve() = TextIndex.topK(q, "query_id", "qtext", k = 5, path)
      .orderBy("query_id", "rank").collect().toSeq
    val before = serve()
    val r = TextIndex.compact(spark, path, maxFilesPerBucket = 1)
    assert(r.bucketsCompacted > 0)
    assert(r.filesAfter < r.filesBefore)
    val perBucket = graft.ops.TableLayout.filesPerPartition(spark, path,
      graft.ops.TableLayout.resolve(spark, path))
    assert(perBucket.values.forall(_ <= 1L), perBucket)
    assert(serve() === before)
    assert(TextIndex.compact(spark, path, maxFilesPerBucket = 1)
      .bucketsCompacted === 0)
  }

  test("textIndexAppendStream: streamed drops == batch build; replay no-op") {
    val path = graft.util.TempDirs.scoped("textidx-stream").toString + "/ix"
    val full = graft.util.TempDirs.scoped("textidx-stream-full").toString +
      "/ix"
    val ckpt = graft.util.TempDirs.scoped("textidx-stream-ckpt")
      .resolve("ckpt").toString
    TextIndex.build(corpus.filter($"doc_id" <= 3), "doc_id", "text", path,
      nBuckets = 4)
    TextIndex.build(corpus, "doc_id", "text", full, nBuckets = 4)
    val drops = graft.streaming.PipelineStreams.stageOrderedDrops(
      corpus.filter($"doc_id" > 3).select("doc_id", "text"), "doc_id", 2,
      "textidx-stream-drops")
    def run(): Unit =
      graft.streaming.PipelineStreams.withShufflePartitions(spark, 4) {
        graft.streaming.PipelineStreams.textIndexAppendStream(spark,
          drops.toString, "doc_id", "text", path, ckpt,
          compactMaxFilesPerBucket = 1)
      }
    run()
    assert(TextIndex.readMeta(spark, path) ===
      TextIndex.readMeta(spark, full))
    val q = Seq((1L, "the quick brown fox"), (2L, "distributed index"),
      (3L, "fox")).toDF("query_id", "qtext")
    def serve(p: String) =
      TextIndex.topK(q, "query_id", "qtext", k = 5, p)
        .orderBy("query_id", "rank").collect().toSeq
    assert(serve(path) === serve(full))
    // same-checkpoint replay: markers make re-delivery a no-op
    run()
    assert(TextIndex.readMeta(spark, path) ===
      TextIndex.readMeta(spark, full))
    assert(serve(path) === serve(full))
  }

  test("meta snapshots WITH the data: a rebuild with different " +
      "nBuckets cannot be paired with another snapshot's postings") {
    val path = graft.util.TempDirs.scoped("textidx-meta-snap").toString +
      "/ix"
    TextIndex.build(corpus, "doc_id", "text", path, nBuckets = 8)
    assert(TextIndex.readMeta(spark, path).nBuckets === 8)
    val q = Seq((1L, "the quick brown fox")).toDF("query_id", "qtext")
    val before = TextIndex.topK(q, "query_id", "qtext", k = 5, path)
      .orderBy("rank").collect().toSeq
    // full rebuild with DIFFERENT bucketing: the stats are pins of
    // the rebuild's own manifest commit, so the live serve pairs the
    // new stats with the new postings...
    TextIndex.build(corpus, "doc_id", "text", path, nBuckets = 4)
    assert(TextIndex.readMeta(spark, path).nBuckets === 4)
    assert(TextIndex.topK(q, "query_id", "qtext", k = 5, path)
      .orderBy("rank").collect().toSeq === before)
    // ...and the KEPT previous manifest still pairs the superseded
    // generation with its own stats for in-flight readers of the
    // previous snapshot (grace window)
    val prev = scala.io.Source.fromFile(
      new java.io.File(path, "_manifest-v000000000001"), "UTF-8")
    val prevLines = try prev.getLines().toSet finally prev.close()
    assert(prevLines.contains("pin=n_buckets;8") &&
      prevLines.contains("gen=data-g1;"), prevLines)
    assert(new java.io.File(path, "data-g1").exists,
      "previous generation must survive the grace window")
  }

  test("no mutation writes a _textmeta sidecar: build, append, " +
      "retract, vacuum and compact commit through the manifest only") {
    val path = graft.util.TempDirs.scoped("textidx-nosidecar").toString +
      "/ix"
    TextIndex.build(corpus.filter($"doc_id" <= 3), "doc_id", "text", path,
      nBuckets = 2)
    TextIndex.append(corpus.filter($"doc_id" > 3), "doc_id", "text", path)
    assert(TextIndex.compact(spark, path, maxFilesPerBucket = 1)
      .bucketsCompacted > 0)
    TextIndex.retract(spark, path, Seq(1L))
    TextIndex.vacuum(spark, path)
    val root = new java.io.File(path)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val sidecars = walk(root).filter(_.getName.startsWith("_textmeta"))
    assert(sidecars.isEmpty, sidecars)
    // the stats, tombstones and epoch all read back from the manifest
    val m = TextIndex.readMeta(spark, path)
    assert(m.nDocs === 5L && m.tombstones === Nil && m.retractEpoch === 1L)
    assert(m.maxDocId === Some(6L) && m.nBuckets === 2)
  }

  test("an index whose manifest lacks the stats pins (built before the " +
      "stats moved into the manifest) fails every read and mutation " +
      "with a rebuild message; build re-initializes it") {
    val path = graft.util.TempDirs.scoped("textidx-pinless").toString +
      "/ix"
    TextIndex.build(corpus, "doc_id", "text", path, nBuckets = 4)
    graft.ops.StoreLock.withLockCtx(spark, path) { ctx =>
      val snap = graft.ops.TableLayout.resolve(spark, path)
      graft.ops.TableLayout.commit(spark, path,
        snap.copy(version = snap.version + 1L, pins = Map.empty), ctx.token)
    }
    val q = Seq((1L, "the quick brown fox")).toDF("query_id", "qtext")
    val calls: Seq[(String, () => Any)] = Seq(
      "readMeta" -> (() => TextIndex.readMeta(spark, path)),
      "retractEpoch" -> (() => TextIndex.retractEpoch(spark, path)),
      "topK" -> (() => TextIndex.topK(q, "query_id", "qtext", k = 3, path)),
      "phraseTopK" -> (() =>
        TextIndex.phraseTopK(q, "query_id", "qtext", k = 3, path)),
      "health" -> (() => TextIndex.health(spark, path)),
      "append" -> (() => TextIndex.append(
        Seq((7L, "late doc")).toDF("doc_id", "text"), "doc_id", "text",
        path)),
      "retract" -> (() => TextIndex.retract(spark, path, Seq(1L))),
      "vacuum" -> (() => TextIndex.vacuum(spark, path)),
      "compact" -> (() =>
        TextIndex.compact(spark, path, maxFilesPerBucket = 1)))
    val v = graft.ops.TableLayout.resolve(spark, path).version
    calls.foreach { case (name, call) =>
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains("rebuild the index"), s"$name: $e")
    }
    assert(graft.ops.TableLayout.resolve(spark, path).version === v,
      "a refused mutation commits nothing")
    TextIndex.build(corpus, "doc_id", "text", path, nBuckets = 4)
    assert(TextIndex.readMeta(spark, path).nDocs === 6L)
  }

  test("empty-corpus build serves empty results, not a failure") {
    val path = graft.util.TempDirs.scoped("textidx-empty-corpus")
      .toString + "/ix"
    TextIndex.build(corpus.filter($"doc_id" < 0), "doc_id", "text", path,
      nBuckets = 4)
    val meta = TextIndex.readMeta(spark, path)
    assert(meta.nDocs === 0L && meta.totalTokens === 0L)
    val q = Seq((1L, "anything at all")).toDF("query_id", "qtext")
    val r = TextIndex.topK(q, "query_id", "qtext", k = 3, path)
    assert(r.columns.toSeq === Seq("query_id", "rank", "doc_id", "score_u"))
    assert(r.count() === 0L)
    // and the index grows out of the empty state through append
    TextIndex.append(corpus.filter($"doc_id" === 3L), "doc_id", "text",
      path)
    assert(TextIndex.topK(Seq((1L, "distributed")).toDF("query_id",
      "qtext"), "query_id", "qtext", k = 3, path).count() === 1L)
  }

  test("phraseTopK: contiguity, overlap counting, repeated tokens") {
    val path = graft.util.TempDirs.scoped("textidx-phrase").toString + "/ix"
    TextIndex.build(corpus, "doc_id", "text", path, nBuckets = 8)
    def phrase(p: String) = TextIndex.phraseTopK(
        Seq((9L, p)).toDF("query_id", "qtext"),
        "query_id", "qtext", k = 5, path)
      .orderBy("rank")
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSeq
    // exact contiguous phrase: only doc 1
    assert(phrase("the quick brown fox") === Seq((1L, 1L)))
    // shared prefix phrase: docs 1 and 2, once each
    assert(phrase("the quick brown") === Seq((1L, 1L), (2L, 1L)))
    // words present but NOT contiguous: no match ("quick" ... "fox"
    // with "brown" between in doc 1)
    assert(phrase("quick fox") === Seq.empty)
    // overlapping occurrences all count: "fox fox" in
    // "fox fox fox fox fox" anchors at 0,1,2,3
    assert(phrase("fox fox") === Seq((6L, 4L)))
    // repeated token must match at EVERY query position: "fox the"
    // never occurs
    assert(phrase("fox the") === Seq.empty)
    // phrase crossing a repeated word: "over the lazy" in doc 1
    assert(phrase("over the lazy") === Seq((1L, 1L)))
  }

  test("a serve planned before compaction still reads its complete " +
      "snapshot (reader isolation through the grace window)") {
    val path = graft.util.TempDirs.scoped("textidx-race").toString + "/ix"
    TextIndex.build(corpus.filter($"doc_id" <= 3), "doc_id", "text", path,
      nBuckets = 2)
    TextIndex.append(corpus.filter($"doc_id" > 3), "doc_id", "text", path)
    val q = Seq((1L, "the quick brown fox"), (2L, "distributed index"))
      .toDF("query_id", "qtext")
    // plan the serve against the PRE-compaction snapshot...
    val served = TextIndex.topK(q, "query_id", "qtext", k = 5, path)
    val expect = TextIndex.topK(q, "query_id", "qtext", k = 5, path)
      .orderBy("query_id", "rank").collect().toSeq
    // ...rewrite every bucket underneath it...
    assert(TextIndex.compact(spark, path, maxFilesPerBucket = 1)
      .bucketsCompacted > 0)
    // ...the in-flight plan still collects its complete snapshot (the
    // superseded generation survives the grace window), same rows
    assert(served.orderBy("query_id", "rank").collect().toSeq === expect)
  }

  test("append guards its doc_ids-must-be-NEW contract: a re-append " +
      "throws with the store unchanged; allowReplay skips the probe") {
    val path = graft.util.TempDirs.scoped("textidx-guard").toString + "/ix"
    TextIndex.build(corpus.filter($"doc_id" <= 3), "doc_id", "text", path,
      nBuckets = 4)
    TextIndex.append(corpus.filter($"doc_id" === 4L), "doc_id", "text",
      path)
    val metaBefore = TextIndex.readMeta(spark, path)
    val q = Seq((1L, "the quick brown fox"), (2L, "distributed index"))
      .toDF("query_id", "qtext")
    def serve() = TextIndex.topK(q, "query_id", "qtext", k = 5, path)
      .orderBy("query_id", "rank").collect().toSeq
    val before = serve()
    // replaying doc 4 (and a genuinely new doc 6 beside it) must throw
    // BEFORE any postings land — a silent double would corrupt tf AND
    // N/avgdl permanently
    val e = intercept[IllegalStateException] {
      TextIndex.append(corpus.filter($"doc_id" === 4L || $"doc_id" === 6L),
        "doc_id", "text", path)
    }
    assert(e.getMessage.contains("already have postings"))
    assert(TextIndex.readMeta(spark, path) === metaBefore)
    assert(serve() === before)
    // the escape hatch: a caller owning its own idempotence
    // choreography can skip the probe (and owns the consequences)
    TextIndex.append(corpus.filter($"doc_id" === 6L), "doc_id", "text",
      path, allowReplay = true)
    assert(TextIndex.readMeta(spark, path).nDocs === metaBefore.nDocs + 1)
  }

  test("retract: serve == fresh build without the docs, stats " +
      "decremented atomically, idempotent; a serve planned before the " +
      "retract keeps its snapshot") {
    val path = graft.util.TempDirs.scoped("textidx-retr").toString + "/ix"
    val fresh = graft.util.TempDirs.scoped("textidx-retr-fresh")
      .toString + "/ix"
    TextIndex.build(corpus, "doc_id", "text", path, nBuckets = 4)
    // the would-be-fresh state: built WITHOUT docs 2 and 6 (doc 5 —
    // EMPTY text, the zero-token edge — is retracted separately below
    // to pin the presence-based residual)
    TextIndex.build(corpus.filter(!$"doc_id".isin(2L, 6L)),
      "doc_id", "text", fresh, nBuckets = 4)
    val q = Seq((1L, "the quick brown fox"), (2L, "distributed index"),
      (3L, "fox")).toDF("query_id", "qtext")
    def serve(p: String) = TextIndex.topK(q, "query_id", "qtext", k = 5, p)
      .orderBy("query_id", "rank").collect().toSeq
    // plan a serve against the PRE-retract snapshot (serveSlice pins
    // meta + slice at construction)...
    val preRetract = TextIndex.topK(q, "query_id", "qtext", k = 5, path)
    val preExpect = serve(path)
    TextIndex.retract(spark, path, Seq(2L, 6L))
    // ...the in-flight plan still scores the old corpus
    assert(preRetract.orderBy("query_id", "rank").collect().toSeq
      === preExpect)
    // a new serve scores EXACTLY the fresh-build-without-the-docs
    // state: same stats, same df, same micro-unit scores
    assert(serve(path) === serve(fresh))
    val m = TextIndex.readMeta(spark, path)
    assert(m.nDocs === TextIndex.readMeta(spark, fresh).nDocs)
    assert(m.totalTokens === TextIndex.readMeta(spark, fresh).totalTokens)
    assert(m.tombstones === Seq(2L, 6L))
    // idempotent re-delivery: same ids again is a no-op
    TextIndex.retract(spark, path, Seq(2L, 6L))
    assert(TextIndex.readMeta(spark, path) === m)
    // the PRESENCE-BASED residual, pinned: retracting the EMPTY doc 5
    // (zero tokens -> zero postings) tombstones it but decrements
    // NOTHING — nDocs stays one HIGH vs a fresh build without it (the
    // conservative, bounded direction; the doc has no postings and
    // can never be served), which is the price of closing the
    // repeatable downward drift a vacuumed duplicate used to cause
    TextIndex.retract(spark, path, Seq(5L))
    val m5 = TextIndex.readMeta(spark, path)
    assert(m5.nDocs === m.nDocs && m5.totalTokens === m.totalTokens)
    assert(m5.tombstones === Seq(2L, 5L, 6L))
    assert(serve(path) === serve(fresh))
    // a takedown id that was provably never ingested (above the
    // ingested-id bound) is rejected with the store unchanged —
    // decrementing N for it would silently corrupt every later score
    val bogusEx = intercept[IllegalArgumentException] {
      TextIndex.retract(spark, path, Seq(99L))
    }
    assert(bogusEx.getMessage.contains("never ingested"))
    assert(TextIndex.readMeta(spark, path) === m5)
    // re-appending a LIVE-TOMBSTONED id fails loudly BEFORE any IO:
    // the serve filter would hide it, stats would count it, and the
    // next vacuum would physically drop the new content
    val tombEx = intercept[IllegalStateException] {
      TextIndex.append(corpus.filter($"doc_id" === 6L), "doc_id", "text",
        path)
    }
    assert(tombEx.getMessage.contains("LIVE-TOMBSTONED"))
    assert(TextIndex.readMeta(spark, path) === m5)
    // phrase serving drops the docs too ("the quick brown" matched
    // docs 1 and 2 pre-retract)
    val ph = TextIndex.phraseTopK(
        Seq((9L, "the quick brown")).toDF("query_id", "qtext"),
        "query_id", "qtext", k = 5, path)
      .collect().map(_.getLong(2)).toSeq
    assert(ph === Seq(1L))
  }

  test("vacuum folds tombstoned rows out physically and resets the " +
      "list; serving is unchanged and the doc can re-ingest") {
    val path = graft.util.TempDirs.scoped("textidx-vac").toString + "/ix"
    TextIndex.build(corpus, "doc_id", "text", path, nBuckets = 4)
    TextIndex.retract(spark, path, Seq(1L, 6L))
    val q = Seq((1L, "the quick brown fox"), (3L, "fox"))
      .toDF("query_id", "qtext")
    def serve() = TextIndex.topK(q, "query_id", "qtext", k = 5, path)
      .orderBy("query_id", "rank").collect().toSeq
    val before = serve()
    val metaBefore = TextIndex.readMeta(spark, path)
    TextIndex.vacuum(spark, path)
    val m = TextIndex.readMeta(spark, path)
    assert(m.tombstones === Nil, "vacuum must reset the tombstone list")
    assert(m.nDocs === metaBefore.nDocs &&
      m.totalTokens === metaBefore.totalTokens,
      "vacuum changes layout, never stats")
    // physical deletion: the live postings hold NO rows for the docs
    assert(graft.ops.TableLayout.read(spark, path)
      .filter($"doc_id".isin(1L, 6L)).count() === 0L)
    assert(serve() === before, "vacuum must be serve-invisible")
    // a vacuumed doc may legitimately re-ingest (the append guard
    // sees no postings and the list no longer names it)
    TextIndex.append(corpus.filter($"doc_id" === 6L), "doc_id", "text",
      path)
    assert(TextIndex.readMeta(spark, path).nDocs === m.nDocs + 1)
    // idempotent: vacuum with no tombstones is a no-op (no snapshot burned)
    val v = graft.ops.TableLayout.resolve(spark, path).version
    TextIndex.vacuum(spark, path)
    assert(graft.ops.TableLayout.resolve(spark, path).version === v)
  }

  test("vacuum is BUCKET-SCOPED: only buckets holding a tombstoned " +
      "doc's postings are rewritten; untouched buckets' files are " +
      "never re-staged") {
    import org.apache.hadoop.fs.Path
    val path = graft.util.TempDirs.scoped("textidx-vacsc").toString + "/ix"
    val fresh = graft.util.TempDirs.scoped("textidx-vacsc-fresh")
      .toString + "/ix"
    // doc 6 is a single distinct term ("fox") -> exactly ONE bucket
    TextIndex.build(corpus, "doc_id", "text", path, nBuckets = 8)
    TextIndex.build(corpus.filter($"doc_id" =!= 6L), "doc_id", "text",
      fresh, nBuckets = 8)
    val fs = graft.ops.TableLayout.fsOf(spark, path)
    val base = graft.ops.TableLayout.resolve(spark, path)
    val baseGenDir = new Path(path, base.gens.last.dir)
    def files(dir: Path): Map[String, Long] = {
      val it = fs.listFiles(dir, true)
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          b += (f.getPath.toString -> f.getModificationTime)
      }
      b.result()
    }
    val baseFiles = files(baseGenDir)
    TextIndex.retract(spark, path, Seq(6L))
    TextIndex.vacuum(spark, path)
    val snap = graft.ops.TableLayout.resolve(spark, path)
    assert(snap.gens.length === 2, "the fold lands in a NEW generation")
    val newGenDir = new Path(path, snap.gens.last.dir)
    val rewritten = fs.listStatus(newGenDir)
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("bucket="))
    assert(rewritten.length === 1,
      s"one distinct term -> one touched bucket; got ${rewritten.toSeq}")
    // the base generation's files are untouched on disk (no rename,
    // no rewrite) and the manifest excludes only the touched value
    assert(files(baseGenDir) === baseFiles,
      "untouched buckets must never be re-staged")
    assert(snap.gens.head.exclude === Seq(rewritten.head.split("=")(1)),
      "older generations exclude exactly the rewritten bucket value")
    // the touched bucket's rewrite holds the OTHER fox docs, not doc 6
    val newRows = spark.read.parquet(newGenDir.toString)
    assert(newRows.filter($"doc_id" === 6L).count() === 0L)
    assert(newRows.filter($"doc_id" =!= 6L).count() > 0L,
      "co-bucketed live postings survive the fold")
    // value-level: serve equals a fresh build without the doc
    val q = Seq((1L, "quick fox"), (3L, "fox scoring"))
      .toDF("query_id", "qtext")
    def serve(p: String) = TextIndex.topK(q, "query_id", "qtext",
        k = 5, p).orderBy("query_id", "rank").collect().toSeq
    assert(serve(path) === serve(fresh))
    val m = TextIndex.readMeta(spark, path)
    assert(m.tombstones === Nil && m.retractEpoch === 1L)
    // compliance tail on a QUIESCENT store: nothing will rotate the
    // pre-vacuum manifest out, so the folded bucket's bytes stay on
    // disk until expire closes the grace window explicitly
    TextIndex.expire(spark, path)
    assert(!fs.exists(new Path(baseGenDir, rewritten.head)),
      "expire must let the reap delete the folded bucket's old bytes")
    assert(serve(path) === serve(fresh), "expire is value-invisible")
  }

  test("a takedown id repeated across BATCHES after a vacuum converges " +
      "to a stats no-op (presence-based decrement; the cross-batch " +
      "duplicate the epoch fence cannot see)") {
    val path = graft.util.TempDirs.scoped("textidx-dupvac").toString + "/ix"
    val fresh = graft.util.TempDirs.scoped("textidx-dupvac-fresh")
      .toString + "/ix"
    TextIndex.build(corpus, "doc_id", "text", path, nBuckets = 4)
    TextIndex.build(corpus.filter($"doc_id" =!= 2L), "doc_id", "text",
      fresh, nBuckets = 4)
    // batch 1 retracts doc 2; an in-stream vacuum folds it out and
    // RESETS the tombstone list (so per-id idempotence can no longer
    // recognize the id)
    TextIndex.retract(spark, path, Seq(2L))
    TextIndex.vacuum(spark, path)
    val m = TextIndex.readMeta(spark, path)
    // batch 2 (a DIFFERENT batch — same-batch replay is the epoch
    // fence's job) carries doc 2 again: no live postings -> nothing
    // decrements; pre-fix this double-decremented nDocs permanently
    TextIndex.retract(spark, path, Seq(2L))
    val after = TextIndex.readMeta(spark, path)
    assert(after.nDocs === m.nDocs && after.totalTokens === m.totalTokens,
      "a vacuumed duplicate must not decrement stats again")
    assert(after.tombstones === Seq(2L),
      "the duplicate re-tombstones (harmless: serve-filtered, next " +
        "vacuum folds nothing)")
    val q = Seq((1L, "the quick brown fox"), (3L, "fox"))
      .toDF("query_id", "qtext")
    def serve(p: String) = TextIndex.topK(q, "query_id", "qtext", k = 5, p)
      .orderBy("query_id", "rank").collect().toSeq
    assert(serve(path) === serve(fresh),
      "post-duplicate serve must still equal the fresh build without " +
        "the doc")
  }

  test("build over a store whose meta EXISTS but cannot be parsed " +
      "fails loudly instead of silently resetting the retraction epoch") {
    val path = graft.util.TempDirs.scoped("textidx-badmeta").toString + "/ix"
    TextIndex.build(corpus, "doc_id", "text", path, nBuckets = 4)
    TextIndex.retract(spark, path, Seq(2L))
    TextIndex.vacuum(spark, path)
    assert(TextIndex.retractEpoch(spark, path) === 1L)
    // corrupt the live manifest in place (a transient-IO / partial-
    // write stand-in): the rebuild must PROPAGATE, not publish over it
    // with epoch 0
    val manifests = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("_manifest-v")).sortBy(_.getName)
    val live = manifests.last
    val out = graft.ops.TableLayout.fsOf(spark, path).create(
      new org.apache.hadoop.fs.Path(live.getPath), true)
    out.write("not a manifest".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalStateException] {
      TextIndex.build(corpus, "doc_id", "text", path, nBuckets = 4)
    }
    assert(e.getMessage.contains("unparseable"), e.getMessage)
    assert(new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("_manifest-v")).sortBy(_.getName)
      .last.getName === live.getName, "the failed build committed nothing")
  }

  test("textIndexRetractStream: streamed takedown == batch retract; " +
      "re-delivery converges WITHOUT markers (idempotence by algebra)") {
    val streamed = graft.util.TempDirs.scoped("textidx-sretr").toString +
      "/ix"
    val batch = graft.util.TempDirs.scoped("textidx-sretr-b").toString +
      "/ix"
    TextIndex.build(corpus, "doc_id", "text", streamed, nBuckets = 4)
    TextIndex.build(corpus, "doc_id", "text", batch, nBuckets = 4)
    TextIndex.retract(spark, batch, Seq(2L, 6L))
    val drops = graft.streaming.PipelineStreams.stageOrderedDrops(
      corpus.filter($"doc_id".isin(2L, 6L)).select("doc_id"), "doc_id",
      2, "textidx-sretr-drops")
    def run(ckpt: String): Unit =
      graft.streaming.PipelineStreams.withShufflePartitions(spark, 4) {
        graft.streaming.PipelineStreams.textIndexRetractStream(spark,
          drops.toString, "doc_id", streamed, ckpt)
      }
    val ck1 = graft.util.TempDirs.scoped("textidx-sretr-ck1")
      .resolve("ckpt").toString
    run(ck1)
    assert(TextIndex.readMeta(spark, streamed) ===
      TextIndex.readMeta(spark, batch))
    val q = Seq((1L, "the quick brown fox"), (3L, "fox"))
      .toDF("query_id", "qtext")
    def serve(p: String) = TextIndex.topK(q, "query_id", "qtext", k = 5, p)
      .orderBy("query_id", "rank").collect().toSeq
    assert(serve(streamed) === serve(batch))
    // same-checkpoint replay: no-op
    run(ck1)
    // FRESH-checkpoint re-delivery of the same takedowns: STILL a
    // no-op — the marker-free claim (append streams need markers;
    // retraction converges because already-tombstoned ids are skipped
    // without burning a meta version)
    run(graft.util.TempDirs.scoped("textidx-sretr-ck2")
      .resolve("ckpt").toString)
    assert(TextIndex.readMeta(spark, streamed) ===
      TextIndex.readMeta(spark, batch))
    assert(serve(streamed) === serve(batch))
  }

  test("retract stream replayed across a VACUUM: markers keep " +
      "same-checkpoint re-delivery a no-op even after the tombstone " +
      "list resets (no version burned, no cap slot re-eaten; stats " +
      "would also survive by the presence-based algebra)") {
    val path = graft.util.TempDirs.scoped("textidx-sretr-vac").toString +
      "/ix"
    TextIndex.build(corpus, "doc_id", "text", path, nBuckets = 4)
    val drops = graft.streaming.PipelineStreams.stageOrderedDrops(
      corpus.filter($"doc_id".isin(2L, 6L)).select("doc_id"), "doc_id",
      2, "textidx-sretr-vac-drops")
    val ckpt = graft.util.TempDirs.scoped("textidx-sretr-vac-ck")
      .resolve("ckpt").toString
    def run(): Unit =
      graft.streaming.PipelineStreams.withShufflePartitions(spark, 4) {
        graft.streaming.PipelineStreams.textIndexRetractStream(spark,
          drops.toString, "doc_id", path, ckpt)
      }
    run()
    // vacuum folds the rows out and RESETS the tombstone list — the
    // exact state where a re-delivered takedown would count as fresh
    // if only idempotence protected it
    TextIndex.vacuum(spark, path)
    val m = TextIndex.readMeta(spark, path)
    assert(m.tombstones === Nil)
    // WIPE the checkpoint (simulating checkpoint loss): the source
    // re-delivers every batch under the SAME checkpoint path, so the
    // same marker scope applies — an intact checkpoint would make the
    // second run a no-op via file tracking alone, proving nothing
    def wipe(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(wipe))
      f.delete(): Unit
    }
    wipe(new java.io.File(ckpt))
    // the batch markers (written beside the store, scoped to the
    // checkpoint path) make the re-delivery a no-op — N is NOT
    // decremented again despite the reset tombstone list
    run()
    assert(TextIndex.readMeta(spark, path) === m,
      "a marker-protected replay across a vacuum must not drift stats")
  }

  test("retract verifyExists: a below-bound id with no postings is " +
      "rejected (untrusted feed), ingested ids pass, and the empty-doc " +
      "ambiguity refuses loudly instead of guessing") {
    val path = graft.util.TempDirs.scoped("textidx-vexists").toString +
      "/ix"
    // doc 3 left out: id 3 sits BELOW the ingested bound (maxDocId=6)
    // with no postings — exactly the gap the cheap bound check cannot
    // see and the ADVICE named as the caller's blind honesty contract
    TextIndex.build(corpus.filter($"doc_id" =!= 3L), "doc_id", "text",
      path, nBuckets = 4)
    val before = TextIndex.readMeta(spark, path)
    val gapEx = intercept[IllegalArgumentException] {
      TextIndex.retract(spark, path, Seq(3L), verifyExists = true)
    }
    assert(gapEx.getMessage.contains("no live postings"))
    assert(TextIndex.readMeta(spark, path) === before,
      "a rejected batch must leave the store unchanged")
    // the documented limitation: an ingested EMPTY doc (5) has no
    // postings either — verifyExists refuses it rather than guessing
    val emptyEx = intercept[IllegalArgumentException] {
      TextIndex.retract(spark, path, Seq(5L), verifyExists = true)
    }
    assert(emptyEx.getMessage.contains("no live postings"))
    // genuinely ingested ids pass the probe and retract normally
    TextIndex.retract(spark, path, Seq(4L, 6L), verifyExists = true)
    val m = TextIndex.readMeta(spark, path)
    assert(m.tombstones === Seq(4L, 6L))
    assert(m.nDocs === before.nDocs - 2)
    // default mode tombstones the empty doc but decrements NOTHING
    // (presence-based: no postings -> no stats movement; N stays one
    // high until a rebuild — the documented conservative residual)
    TextIndex.retract(spark, path, Seq(5L))
    val m5 = TextIndex.readMeta(spark, path)
    assert(m5.tombstones === Seq(4L, 5L, 6L))
    assert(m5.nDocs === before.nDocs - 2 &&
      m5.totalTokens === m.totalTokens)
  }

  test("retraction epoch fences a pre-marker crash replayed across a " +
      "vacuum: loud refusal with stats intact; the same-epoch replay " +
      "converges idempotently") {
    val path = graft.util.TempDirs.scoped("textidx-fence").toString + "/ix"
    TextIndex.build(corpus, "doc_id", "text", path, nBuckets = 4)
    assert(TextIndex.retractEpoch(spark, path) === 0L)
    val drops = graft.streaming.PipelineStreams.stageOrderedDrops(
      corpus.filter($"doc_id".isin(2L, 6L)).select("doc_id"), "doc_id",
      1, "textidx-fence-drops")
    val ckpt = graft.util.TempDirs.scoped("textidx-fence-ck")
      .resolve("ckpt").toString
    def run(): Unit =
      graft.streaming.PipelineStreams.withShufflePartitions(spark, 4) {
        graft.streaming.PipelineStreams.textIndexRetractStream(spark,
          drops.toString, "doc_id", path, ckpt)
      }
    run()
    val applied = TextIndex.readMeta(spark, path)
    assert(applied.tombstones === Seq(2L, 6L))
    // the stream's own marker bookkeeping: scope = md5(ckpt) prefix
    // (the naming contract the test replicates to manufacture the
    // crash state)
    val scope = java.security.MessageDigest.getInstance("MD5")
      .digest(ckpt.getBytes("UTF-8")).take(4)
      .map("%02x".format(_)).mkString
    val markers = new org.apache.hadoop.fs.Path(path, ".batches")
    val fs = markers.getFileSystem(spark.sessionState.newHadoopConf())
    val done = new org.apache.hadoop.fs.Path(markers, s"$scope-b0")
    val intent = new org.apache.hadoop.fs.Path(markers, s"$scope-i0-e0")
    assert(fs.exists(done) && !fs.exists(intent),
      "a completed batch must have its done marker and no intent")
    def wipe(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(wipe))
      f.delete(): Unit
    }
    // manufacture the CRASH-BETWEEN-RETRACT-AND-MARKER replay state:
    // retract applied, done marker missing, intent (epoch 0) present,
    // checkpoint lost
    def crashState(): Unit = {
      fs.delete(done, false)
      fs.create(intent, false).close()
      wipe(new java.io.File(ckpt))
    }
    // benign leg: NO vacuum between crash and replay — same epoch, so
    // the replay re-runs the retract and converges by idempotence
    crashState()
    run()
    assert(TextIndex.readMeta(spark, path) === applied,
      "same-epoch replay must converge without drifting stats")
    assert(fs.exists(done) && !fs.exists(intent),
      "the converged replay must commit its marker and clear the intent")
    // fatal leg: a vacuum INSIDE the crash window resets the list and
    // bumps the epoch — the replay must refuse loudly, stats intact
    crashState()
    TextIndex.vacuum(spark, path)
    assert(TextIndex.retractEpoch(spark, path) === 1L,
      "vacuum must bump the retraction epoch")
    val postVac = TextIndex.readMeta(spark, path)
    val ex = intercept[Exception] { run() }
    def messages(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + messages(t.getCause)
    assert(messages(ex).contains("retraction epoch"),
      s"expected the epoch-fence refusal, got: ${messages(ex)}")
    assert(TextIndex.readMeta(spark, path) === postVac,
      "the refusal must leave stats and tombstones untouched")
    // the documented reconciliation: the ids are already absent (the
    // first attempt landed before the vacuum) -> hand-commit the done
    // marker, drop the intent, and the stream completes
    fs.create(done, false).close()
    fs.delete(new org.apache.hadoop.fs.Path(markers, s"$scope-i0-e0"),
      false)
    run()
    assert(TextIndex.readMeta(spark, path) === postVac)
  }

  test("vacuumAfterTombstones automation: a takedown feed larger than " +
      "the threshold crosses it without manual intervention; serve " +
      "matches the fresh build without the docs") {
    val path = graft.util.TempDirs.scoped("textidx-autovac").toString +
      "/ix"
    val fresh = graft.util.TempDirs.scoped("textidx-autovac-f")
      .toString + "/ix"
    TextIndex.build(corpus, "doc_id", "text", path, nBuckets = 4)
    TextIndex.build(corpus.filter(!$"doc_id".isin(1L, 2L, 6L)),
      "doc_id", "text", fresh, nBuckets = 4)
    val drops = graft.streaming.PipelineStreams.stageOrderedDrops(
      corpus.filter($"doc_id".isin(1L, 2L, 6L)).select("doc_id"),
      "doc_id", 3, "textidx-autovac-drops")
    graft.streaming.PipelineStreams.withShufflePartitions(spark, 4) {
      graft.streaming.PipelineStreams.textIndexRetractStream(spark,
        drops.toString, "doc_id", path,
        graft.util.TempDirs.scoped("textidx-autovac-ck")
          .resolve("ckpt").toString,
        vacuumAfterTombstones = 2)
    }
    val m = TextIndex.readMeta(spark, path)
    // three 1-id batches against threshold 2: the backlog crossed the
    // threshold mid-feed and the in-stream vacuum relieved it — the
    // feed never needed an operator, and the list ends BELOW the
    // threshold (the third id may still be pending its own fold)
    assert(m.tombstones.length < 2,
      s"automation must keep the backlog below the threshold, got $m")
    assert(TextIndex.retractEpoch(spark, path) >= 1L,
      "at least one in-stream vacuum must have run")
    val q = Seq((1L, "the quick brown fox"), (3L, "fox"))
      .toDF("query_id", "qtext")
    def serve(p: String) = TextIndex.topK(q, "query_id", "qtext", k = 5, p)
      .orderBy("query_id", "rank").collect().toSeq
    assert(serve(path) === serve(fresh),
      "the automated fold must stay value-correct")
    assert(m.nDocs === TextIndex.readMeta(spark, fresh).nDocs &&
      m.totalTokens === TextIndex.readMeta(spark, fresh).totalTokens)
  }

  test("rrfFuse: hand-checked fusion of two legs") {
    // leg A ranks docs 10, 11; leg B ranks 11, 12: doc 11 carries
    // 1e6/61 + 1e6/62 ~ 32524, beating both rank-1 singles (16393)
    val a = Seq((1L, 10L, 1L), (1L, 11L, 2L))
      .toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 11L, 1L), (1L, 12L, 2L))
      .toDF("query_id", "doc_id", "rank")
    val fused = TextIndex.rrfFuse(Seq(a, b), k = 3)
      .orderBy("rank").collect()
    def rrf(rank: Long): Long =
      math.floor(1000000.0 / (60.0 + rank.toDouble) + 0.5).toLong
    assert(fused.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      === Seq(
        (1L, 11L, rrf(1) + rrf(2)),
        (2L, 10L, rrf(1)),
        (3L, 12L, rrf(2))))
  }
}
