package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Empirical SCALE PROBE for the heavy operator family: every "scales"
  * verdict in PLANS.md is design-audited at sf0.1; this runs the five
  * heaviest corpus operators at `factor`x the document/embedding
  * corpus (default 10x — an sf1-equivalent staging) and reports the
  * measured scaling exponent per query, to catch any hidden
  * driver-side or skew cliff one order of magnitude up.
  *
  * Staging keeps the fixture's duplicate/near-dup DENSITY constant
  * instead of multiplying it: copy k>0 suffixes every word with `_k`,
  * so each copy reproduces the planted within-copy near-dup structure
  * but shares no shingles across copies (a plain text copy would make
  * every doc a 10-way near-dup — a much HEAVIER workload than real
  * sf1). Embeddings rotate by k positions — norms and within-copy
  * geometry preserved, no cross-copy collapse.
  *
  * Also times BPE training at a production-shaped merge count (100)
  * through both loops — the driver-local collected loop vs the
  * per-round cluster-job loop — on the scaled corpus, quantifying the
  * scheduler-overhead gap the local loop exists to remove.
  *
  * Output: one JSON line on stdout + the full record at `outPath`
  * (default SCALE_PROBE.json). Not part of the driver contract — a
  * builder-run evidence artifact.
  */
object ScaleProbe {

  private[graft] def stageScaled(spark: SparkSession, baseDir: String,
      factor: Int): String = {
    val dir = graft.util.TempDirs.scoped("graft-scaleprobe").toString
    val docs = spark.read.parquet(s"$baseDir/documents.parquet")
    val span = docs.agg(max("doc_id")).head().getLong(0) + 1L
    val scaledDocs = (0 until factor).map { k =>
      if (k == 0) docs
      else {
        val perturbed = array_join(
          transform(split(col("text"), "\\s+"),
            w => concat(w, lit("_" + k))), " ")
        docs.select(
            (col("doc_id") + lit(k * span)).as("doc_id"),
            when(col("text").isNull || length(trim(col("text"))) === 0,
              col("text")).otherwise(perturbed).as("text"),
            col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")))
          .select("doc_id", "text", "lang", "source", "n_chars")
      }
    }.reduce(_ unionByName _)
    scaledDocs.repartition(32).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val vspan = emb.agg(max("vec_id")).head().getLong(0) + 1L
    val scaledEmb = (0 until factor).map { k =>
      val shift = k % dim
      if (shift == 0)
        emb.select((col("vec_id") + lit(k * vspan)).as("vec_id"),
          col("embedding"), col("label"))
      else
        emb.select((col("vec_id") + lit(k * vspan)).as("vec_id"),
          concat(slice(col("embedding"), shift + 1, dim - shift),
            slice(col("embedding"), 1, shift)).as("embedding"),
          col("label"))
    }.reduce(_ unionByName _)
    scaledEmb.repartition(8).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    dir
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val outPath = args.drop(2).headOption
      .getOrElse("/root/repo/SCALE_PROBE.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPEATS", "2")
      .toInt.max(1)
    // min-of-repeats, the probe-wide timing discipline (one
    // definition so a change — e.g. min -> median — cannot diverge
    // between the text and ANN probes and skew their exponents)
    def timed(body: => Unit): Double = (1 to repeats).map { _ =>
      val t1 = System.nanoTime()
      body
      (System.nanoTime() - t1) / 1e9
    }.min
    // the setup-aware variant for one-shot mutations (a repeat must
    // bring fresh state — e.g. a vacuum needs fresh tombstones); the
    // SAME min discipline as [[timed]], defined beside it so a change
    // to one cannot leave the other on the old discipline
    def timedEach[A](units: Seq[A])(setup: A => Unit)
        (body: => Unit): Double = units.map { u =>
      setup(u)
      val t1 = System.nanoTime()
      body
      (System.nanoTime() - t1) / 1e9
    }.min
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val scaledDir = stageScaled(spark, baseDir, factor)

    // untimed warmup (the Bench discipline): JVM/codegen/parquet-reader
    // init otherwise lands on the first timed query's BASE measurement,
    // skewing its exponent low
    try SparkEntry.queries("q_t_c4_clean")(spark, baseDir).count()
    catch { case _: Throwable => () }
    spark.catalog.clearCache(); System.gc()

    // r8 additions: q_t_dsir (gram-explosion aggregate), q_stream_cluster
    // (streaming ingest through the durable store), q_cluster_retract
    // (partition-scoped purge) postdate the first probe — their
    // "scales" verdicts were design-audited only until measured here.
    // For the memoized cluster-table queries, repeats>=2 + min() makes
    // the measurement the OPERATOR: the first repeat pays the
    // shared-table init memo, the second rides it.
    // r9 additions: q_sim_ann_ivfpq (both quantizer trainings + ADC
    // serve) and q_stream_ann_index (base build + streamed appends
    // into the persisted PQ index) postdate the r8 probe run.
    // r10 addition: q_sim_ann_ivfpq_maintain (recall measure + full
    // rebuild + swap — the heaviest maintenance path).
    val names = Seq("q_dedup_minhash", "q_dedup_ccstar", "q_cluster_ingest",
      "q_sim_ann_ivf_trained", "q_t_c4_clean",
      "q_t_dsir", "q_stream_cluster", "q_cluster_retract",
      "q_sim_ann_ivfpq", "q_stream_ann_index", "q_sim_ann_ivfpq_maintain")
    def timeQuery(name: String, dir: String): Double =
      (1 to repeats).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        spark.streams.active.foreach(_.stop())
        System.gc()
        dt
      }.min
    val rows = names.map { n =>
      val tb = timeQuery(n, baseDir)
      val ts = timeQuery(n, scaledDir)
      val exp = math.log(ts / tb) / math.log(factor.toDouble)
      System.err.println(f"[probe] $n base $tb%.2f s -> ${factor}x $ts%.2f s" +
        f" (exponent $exp%.2f)")
      (n, tb, ts, exp)
    }

    // BPE at a production-shaped merge count, both loop shapes, on the
    // SCALED corpus (vocab is factor x the base corpus's)
    val scaledDocs = spark.read.parquet(s"$scaledDir/documents.parquet")
    def timeBpe(limit: Long): Double = {
      val t0 = System.nanoTime()
      val n = graft.functions.Bpe.train(scaledDocs, "text",
        numMerges = 100, localVocabLimit = limit).count()
      require(n == 100L, s"expected 100 merges, got $n")
      (System.nanoTime() - t0) / 1e9
    }
    val bpeLocal = timeBpe(Long.MaxValue)
    val bpeDist = timeBpe(0L)
    System.err.println(f"[probe] bpe 100 merges: local $bpeLocal%.2f s, " +
      f"distributed $bpeDist%.2f s")

    // Text index (r11 addition; phrase leg r12): build is
    // corpus-linear BY DESIGN (one tokenize + count shuffle); the
    // claims under test are the SERVES — a FIXED 10-query set against
    // the 10x corpus must stay ~flat for BOTH the BM25 top-k and the
    // positional phrase serve, because the `_k`-suffixed copies carry
    // a disjoint vocabulary, so the queried terms' posting lists (and
    // their exploded positions — the phrase serve's grain, the
    // family's largest) don't grow: any corpus-sized read surviving
    // the bucket+term prune shows up as a positive exponent.
    def timeTextIndex(dir: String): (Double, Double, Double, Double, Double) = {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val path = graft.util.TempDirs.scoped("probe-textidx").toString + "/ix"
      val t0 = System.nanoTime()
      graft.text.TextIndex.build(docs, "doc_id", "text", path,
        nBuckets = 64)
      val tb = (System.nanoTime() - t0) / 1e9
      // materialize the 10-query frame ONCE as local rows: the serve
      // rebuilds its query side per call (serveSlice collects), so an
      // un-materialized lineage would re-read documents.parquet inside
      // every timed repeat — a corpus-linear read that would fake a
      // positive serve exponent on corpora where row-group stats
      // don't prune doc_id
      val toks = graft.functions.TextFunctions.tokens(col("text"))
      val qRows = docs.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(toks, 1, 8)).as("qtext"),
          concat_ws(" ", slice(toks, 3, 3)).as("ptext"))
        .collect().toSeq
      val qLocal = spark.createDataFrame(
        spark.sparkContext.parallelize(qRows, 1),
        org.apache.spark.sql.types.StructType.fromDDL(
          "query_id BIGINT, qtext STRING, ptext STRING"))
      val q = qLocal.select("query_id", "qtext")
      val qp = qLocal.select(col("query_id"), col("ptext").as("qtext"))
      val ts = timed {
        graft.text.TextIndex.topK(q, "query_id", "qtext", k = 5, path)
          .count(): Unit
      }
      val tp = timed {
        graft.text.TextIndex.phraseTopK(qp, "query_id", "qtext", k = 5,
          path).count(): Unit
      }
      // r13 addition — TOMBSTONE-FILTERED serves (the retraction
      // family's serve-path code): the claim under test is that the
      // exclude filter stays map-side flat on BOTH sides of the
      // isin -> broadcast-anti-join switchover
      // (graft.ops.Tombstones, threshold 1024). 600 and 2000
      // retracted ids against the same fixed 10-query set; the
      // retracts themselves are untimed setup.
      val tombIds = docs.filter(col("doc_id") >= 10)
        .select("doc_id").orderBy("doc_id").limit(2000)
        .collect().map(_.getLong(0)).toSeq
      graft.text.TextIndex.retract(spark, path, tombIds.take(600))
      val ts600 = timed {
        graft.text.TextIndex.topK(q, "query_id", "qtext", k = 5, path)
          .count(): Unit
      }
      graft.text.TextIndex.retract(spark, path, tombIds) // 600 stale skip
      val ts2000 = timed {
        graft.text.TextIndex.topK(q, "query_id", "qtext", k = 5, path)
          .count(): Unit
      }
      (tb, ts, tp, ts600, ts2000)
    }
    val (tiBuildB, tiServeB, tiPhraseB, tiT600B, tiT2000B) =
      timeTextIndex(baseDir)
    val (tiBuildS, tiServeS, tiPhraseS, tiT600S, tiT2000S) =
      timeTextIndex(scaledDir)
    val tiServeExp = math.log(tiServeS / tiServeB) /
      math.log(factor.toDouble)
    val tiPhraseExp = math.log(tiPhraseS / tiPhraseB) /
      math.log(factor.toDouble)
    val tiT600Exp = math.log(tiT600S / tiT600B) / math.log(factor.toDouble)
    val tiT2000Exp = math.log(tiT2000S / tiT2000B) /
      math.log(factor.toDouble)
    System.err.println(f"[probe] text index: build $tiBuildB%.2f -> " +
      f"$tiBuildS%.2f s, serve $tiServeB%.2f -> $tiServeS%.2f s " +
      f"(serve exponent $tiServeExp%.2f), phrase $tiPhraseB%.2f -> " +
      f"$tiPhraseS%.2f s (exponent $tiPhraseExp%.2f), tomb600 serve " +
      f"exponent $tiT600Exp%.2f, tomb2000 $tiT2000Exp%.2f")

    // ANN index with tombstone-filtered serves — same switchover
    // drill against the persisted IVF index (postingsDf's exclusion
    // is the shared serve filter for BOTH ANN families)
    def timeAnnTomb(dir: String): (Double, Double, Double) = {
      val emb2 = spark.read.parquet(s"$dir/embeddings.parquet")
      val path = graft.util.TempDirs.scoped("probe-annidx").toString
      graft.similarity.Similarity.ivfIndexBuild(emb2, "vec_id",
        "embedding", nCells = 64, iters = 1, path = path)
      val qdf = emb2.filter(col("vec_id") < 10)
        .select("vec_id", "embedding")
      val qLocal = spark.createDataFrame(
        spark.sparkContext.parallelize(qdf.collect().toSeq, 1), qdf.schema)
      def serve(): Unit =
        graft.similarity.Similarity.ivfIndexTopK(qLocal, "vec_id",
          "embedding", k = 5, nProbe = 2, path = path).count(): Unit
      val t0t = timed(serve())
      val tombIds = emb2.filter(col("vec_id") >= 10)
        .select("vec_id").orderBy("vec_id").limit(2000)
        .collect().map(_.getLong(0)).toSeq
      graft.similarity.Similarity.annIndexRetract(spark, path,
        tombIds.take(600))
      val t600 = timed(serve())
      graft.similarity.Similarity.annIndexRetract(spark, path, tombIds)
      val t2000 = timed(serve())
      (t0t, t600, t2000)
    }
    val (anT0B, anT600B, anT2000B) = timeAnnTomb(baseDir)
    val (anT0S, anT600S, anT2000S) = timeAnnTomb(scaledDir)
    val anT0Exp = math.log(anT0S / anT0B) / math.log(factor.toDouble)
    val anT600Exp = math.log(anT600S / anT600B) / math.log(factor.toDouble)
    val anT2000Exp = math.log(anT2000S / anT2000B) /
      math.log(factor.toDouble)
    System.err.println(f"[probe] ann index serve: clean exponent " +
      f"$anT0Exp%.2f, tomb600 $anT600Exp%.2f, tomb2000 $anT2000Exp%.2f")

    // r13 addition — the PHYSICAL FOLD paths (bucket-scoped text
    // vacuum, cell-scoped ANN vacuum): the claim under test is that a
    // takedown-unit fold is TOUCHED-partition-sized, not index-sized,
    // under the production posture nBuckets/nCells ∝ corpus (a
    // fixed-size takedown then rewrites a fixed number of fixed-size
    // partitions). A corpus-sized rewrite would show exponent ~1; the
    // scoped fold stays ~flat. Per repeat: retract a FRESH id set
    // (untimed), fold (timed), min over repeats — a second vacuum of
    // the same list is a no-op, so repeats must each bring their own
    // tombstones. Takedown units match the fold grains: one document
    // (its distinct terms bound the touched buckets) / 8 vectors
    // (each lives in exactly one cell).
    def timeTextVacuum(dir: String, nBuckets: Int): Double = {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val path = graft.util.TempDirs.scoped("probe-tvac").toString + "/ix"
      graft.text.TextIndex.build(docs, "doc_id", "text", path,
        nBuckets = nBuckets)
      val ids = docs.filter(col("doc_id") >= 10).select("doc_id")
        .orderBy("doc_id").limit(repeats).collect()
        .map(_.getLong(0)).toSeq
      timedEach(ids)(id =>
        graft.text.TextIndex.retract(spark, path, Seq(id))) {
        graft.text.TextIndex.vacuum(spark, path)
      }
    }
    def timeAnnVacuum(dir: String, nCells: Int): Double = {
      val emb2 = spark.read.parquet(s"$dir/embeddings.parquet")
      val path = graft.util.TempDirs.scoped("probe-avac").toString
      graft.similarity.Similarity.ivfIndexBuild(emb2, "vec_id",
        "embedding", nCells = nCells, iters = 1, path = path)
      val ids = emb2.filter(col("vec_id") >= 10).select("vec_id")
        .orderBy("vec_id").limit(8 * repeats).collect()
        .map(_.getLong(0)).toSeq
      timedEach(ids.grouped(8).toSeq)(g =>
        graft.similarity.Similarity.annIndexRetract(spark, path,
          g.toSeq)) {
        graft.similarity.Similarity.annIndexVacuum(spark, path)
      }
    }
    val tvB = timeTextVacuum(baseDir, 64)
    val tvS = timeTextVacuum(scaledDir, 64 * factor)
    val avB = timeAnnVacuum(baseDir, 64)
    val avS = timeAnnVacuum(scaledDir, 64 * factor)
    val tvExp = math.log(tvS / tvB) / math.log(factor.toDouble)
    val avExp = math.log(avS / avB) / math.log(factor.toDouble)
    System.err.println(f"[probe] vacuum folds: text 1-doc $tvB%.2f -> " +
      f"$tvS%.2f s (exponent $tvExp%.2f), ann 8-id $avB%.2f -> " +
      f"$avS%.2f s (exponent $avExp%.2f)")

    def f3(d: Double): String =
      "%.3f".formatLocal(java.util.Locale.ROOT, d)
    val qJson = rows.map { case (n, tb, ts, exp) =>
      s""""$n":{"base_sec":${f3(tb)},"scaled_sec":${f3(ts)},"exponent":${f3(exp)}}"""
    }.mkString("{", ",", "}")
    val tombJson =
      s""""tomb_serves":{"text_600":{"base_sec":${f3(tiT600B)},"scaled_sec":${f3(tiT600S)},"exponent":${f3(tiT600Exp)}},"text_2000":{"base_sec":${f3(tiT2000B)},"scaled_sec":${f3(tiT2000S)},"exponent":${f3(tiT2000Exp)}},"ann_0":{"base_sec":${f3(anT0B)},"scaled_sec":${f3(anT0S)},"exponent":${f3(anT0Exp)}},"ann_600":{"base_sec":${f3(anT600B)},"scaled_sec":${f3(anT600S)},"exponent":${f3(anT600Exp)}},"ann_2000":{"base_sec":${f3(anT2000B)},"scaled_sec":${f3(anT2000S)},"exponent":${f3(anT2000Exp)}}}"""
    val vacJson =
      s""""vacuum":{"text_1doc":{"base_sec":${f3(tvB)},"scaled_sec":${f3(tvS)},"exponent":${f3(tvExp)}},"ann_8id":{"base_sec":${f3(avB)},"scaled_sec":${f3(avS)},"exponent":${f3(avExp)}}}"""
    val json =
      s"""{"metric":"scale_probe","factor":$factor,"base":"$baseDir","repeats":$repeats,"bpe100_local_sec":${f3(bpeLocal)},"bpe100_distributed_sec":${f3(bpeDist)},"text_index":{"build_base_sec":${f3(tiBuildB)},"build_scaled_sec":${f3(tiBuildS)},"serve_base_sec":${f3(tiServeB)},"serve_scaled_sec":${f3(tiServeS)},"serve_exponent":${f3(tiServeExp)},"phrase_base_sec":${f3(tiPhraseB)},"phrase_scaled_sec":${f3(tiPhraseS)},"phrase_exponent":${f3(tiPhraseExp)}},$tombJson,$vacJson,"queries":$qJson}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.sparkContext.setLogLevel("OFF")
    try spark.stop() catch { case _: Throwable => () }
    println(json)
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}
