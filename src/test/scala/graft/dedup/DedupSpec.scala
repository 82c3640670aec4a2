package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}

/** The LSH/SimHash paths have no DuckDB oracle (hash functions aren't
  * portable) — they are verified here against their exact counterparts
  * on the sf0.001 documents table. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val docs = Tables.documents(spark, sf).cache()

  private lazy val exactPairs =
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash LSH at q_dedup_minhash parameters is exhaustive (== exact set)") {
    // the equivalence that licenses the exact-jaccard SQL as the oracle
    // for q_dedup_minhash: every true pair here is jaccard >= 0.88,
    // where 16x4 banding misses with p < 1e-6 per pair.
    val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.nonEmpty, "fixture should contain near-dup pairs")
    // LSH candidates are verified with exact Jaccard -> no false positives
    assert(lsh.subsetOf(exactPairs))
    assert(lsh == exactPairs,
      s"LSH missed ${(exactPairs -- lsh).size} of ${exactPairs.size} pairs")
  }

  test("minhash LSH with a precomputed bucket table matches the computed path") {
    import spark.implicits._
    // exercises BOTH precomputed branches: NFD twin (fold + exact-
    // collapse engage -> reps semi-join) and plain near-dups
    val nfd = java.text.Normalizer.normalize("menu du café gamma delta",
      java.text.Normalizer.Form.NFD)
    val corpus = Seq(
      (1L, "menu du café gamma delta"), (2L, nfd),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "alpha beta gamma delta epsilon eta"),
      (5L, "totally unrelated words here")).toDF("doc_id", "text")
    def pairs(pre: Option[org.apache.spark.sql.DataFrame]) =
      Dedup.minHashLshPairs(corpus, "doc_id", "text", n = 3,
          numHashes = 64, bands = 16, threshold = 0.3,
          precomputedBuckets = pre)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
        .toMap
    // the caller's contract: bandBuckets over the SAME nfc-folded text
    val folded = corpus.withColumn("text",
      graft.plans.NormalizeTextExpr.normalizeText(spark, col("text")))
    val pre = Dedup.bandBuckets(folded, "doc_id", "text",
      n = 3, numHashes = 64, bands = 16).cache()
    val computed = pairs(None)
    assert(computed.contains((1L, 2L)) && computed((1L, 2L)) == 1.0)
    assert(computed.keySet.contains((3L, 4L)))
    assert(pairs(Some(pre)) == computed)
    pre.unpersist()
  }

  test("fingerprint folds NFC: precomposed/decomposed twins share a group") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "menu du café gamma"),   // precomposed U+00E9
      (2L, "menu du café gamma"),  // decomposed e + U+0301
      (3L, "unrelated words entirely")
    ).toDF("doc_id", "text")
    val groups = Dedup.exactGroups(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(2) -> r.getLong(1)).toMap
    assert(groups == Map(1L -> 2L, 3L -> 1L),
      s"NFC twins must share one fingerprint group, got $groups")
    // opt-out knob keeps the raw-bytes behavior
    val raw = corpus.select(
      graft.functions.TextFunctions.fingerprint(col("text"), nfc = false)
        .as("fp")).distinct().count()
    assert(raw == 3L)
  }

  test("minhash LSH folds NFC: an NFD re-encoding collapses with its NFC twin") {
    import spark.implicits._
    val text = "alpha beta café delta epsilon zeta eta theta iota kappa"
    val nfd = java.text.Normalizer.normalize(text,
      java.text.Normalizer.Form.NFD)
    assert(nfd != text)
    val corpus = Seq((1L, text), (2L, nfd),
      (3L, "one two three four five six seven")).toDF("doc_id", "text")
    val got = Dedup.minHashLshPairs(corpus, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got == Map((1L, 2L) -> 1.0),
      s"NFC/NFD twins must pair at jaccard 1.0, got $got")
    // without the fold the encodings shingle apart and never pair
    val rawPairs = Dedup.minHashLshPairs(corpus, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.5,
        nfcFold = false).count()
    assert(rawPairs == 0L)
  }

  test("minhash LSH collapses exact duplicates: floods never ride the bucket join") {
    import spark.implicits._
    // A 200-copy flood (the web-scale hazard: identical signatures put
    // all copies in the same bucket in EVERY band -> 16*m^2/2 candidate
    // rows uncollapsed), a 3-copy near-dup group, an unrelated doc and
    // a too-short-to-shingle identical pair.
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val flood = (1L to 199L).map(i => (i, a)) :+
      // whitespace-variant copy: same token stream, must collapse too
      (200L, "alpha  beta\tgamma delta epsilon zeta eta theta iota kappa")
    val corpus = (flood ++ Seq((201L, b), (202L, b), (203L, b),
      (300L, "one two three four five six seven"),
      (400L, "a b"), (401L, "a b"))).toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard").collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = pairSet(Dedup.minHashLshPairs(corpus, "doc_id", "text",
      n = 3, numHashes = 64, bands = 16, threshold = 0.5))
    val exact = pairSet(Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      n = 3, threshold = 0.5))
    // pair-set equality with the exact shared-shingle join: 19900
    // within-flood pairs at 1.0, 3 within-B pairs at 1.0, 600 cross
    // A-B pairs at 7/9; nothing for the short identical pair.
    assert(exact.size == 19900 + 3 + 600)
    assert(lsh == exact,
      s"missed ${(exact.keySet -- lsh.keySet).size} / " +
        s"spurious ${(lsh.keySet -- exact.keySet).size}")
    assert(lsh((1L, 200L)) == 1.0 && lsh((1L, 201L)) == 7.0 / 9.0)
    // maxBucketSize = 1 kills EVERY multi-member bucket: pairs that
    // ride the bucket join (the cross A-B products) vanish, while both
    // identical-doc cliques survive untouched — proof the flood is
    // collapsed BEFORE candidate generation, exactly the property
    // COVERAGE.md claims.
    val capped = pairSet(Dedup.minHashLshPairs(corpus, "doc_id", "text",
      n = 3, numHashes = 64, bands = 16, threshold = 0.5,
      maxBucketSize = Some(1)))
    assert(capped == exact.filter { case (_, j) => j == 1.0 })
    // a generous cap is a no-op (all post-collapse buckets are small)
    val roomy = pairSet(Dedup.minHashLshPairs(corpus, "doc_id", "text",
      n = 3, numHashes = 64, bands = 16, threshold = 0.5,
      maxBucketSize = Some(16)))
    assert(roomy == exact)
  }

  test("minhash LSH collapse pressure gate: below-gate corpora take the " +
      "uncollapsed plan with pair-identical output") {
    import spark.implicits._
    // small dup groups (pressure = (2·1 + 3·2 + 2·1)/2 = 5 pairs, far
    // below the 4096 default gate) plus plain near-dups: the default
    // call runs UNCOLLAPSED; forcing the collapse (gate at 0) must
    // yield the exact same pair set — the lossless-collapse property,
    // now pinned across the gate rather than inside one path
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val corpus = Seq(
      (1L, a), (2L, a),
      (3L, b), (4L, b), (5L, b),
      (6L, "one two three four five six seven"),
      (7L, "a b"), (8L, "a b")).toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard").collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val gated = pairSet(Dedup.minHashLshPairs(corpus, "doc_id", "text",
      n = 3, numHashes = 64, bands = 16, threshold = 0.5))
    val forced = pairSet(Dedup.minHashLshPairs(corpus, "doc_id", "text",
      n = 3, numHashes = 64, bands = 16, threshold = 0.5,
      collapseAtExtraPairs = 0L))
    val exact = pairSet(Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      n = 3, threshold = 0.5))
    assert(gated == exact,
      s"uncollapsed-path drift: missed ${(exact.keySet -- gated.keySet).size} " +
        s"/ spurious ${(gated.keySet -- exact.keySet).size}")
    assert(forced == exact)
    // identical docs pair at 1.0 through BOTH paths; the short
    // identical pair (< n tokens, empty signature) through NEITHER
    assert(gated((1L, 2L)) == 1.0 && !gated.contains((7L, 8L)))
  }

  test("minhash signature approximates Jaccard (similar docs share mins)") {
    import spark.implicits._
    val sig = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i k"),  // ~0.6 shingle overlap with 1
      (3L, "z y x w v u t s r q")) // disjoint
      .toDF("doc_id", "text")
      .withColumn("sh", graft.functions.TextFunctions.wordShingles(col("text"), 3))
      .withColumn("sig", Dedup.minHashSignature(col("sh"), 64))
      .select("doc_id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def agree(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).count { case (x, y) => x == y }.toDouble / a.size
    assert(agree(sig(1L), sig(2L)) > agree(sig(1L), sig(3L)))
    assert(agree(sig(1L), sig(3L)) < 0.2)
  }

  test("simhash near-dup pairs overlap the exact near-dup set and are symmetric-safe") {
    val sh = Dedup.simHashNearDupPairs(docs, "doc_id", "text", maxDist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // id_a < id_b invariant, hamming bound respected
    assert(sh.forall { case (a, b, h) => a < b && h <= 6 })
    // near-identical texts should also be simhash-close: most exact
    // pairs (Jaccard>=0.5) should appear at a loose hamming bound
    val loose = Dedup.simHashNearDupPairs(docs, "doc_id", "text", maxDist = 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val covered = exactPairs.count(loose.contains)
    assert(covered.toDouble / exactPairs.size >= 0.8,
      s"simhash found $covered of ${exactPairs.size} exact near-dups")
  }

  test("winnow near-dup at q_dedup_winnow parameters is exhaustive (== exact set)") {
    // licenses the exact-jaccard SQL as q_dedup_winnow's oracle: every
    // true pair is near-identical text (jaccard >= 0.88) with shared
    // runs far beyond the w+k-1 = 11 char winnowing guarantee
    val win = Dedup.winnowNearDupPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5, k = 8, w = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(win == exactPairs,
      s"winnow missed ${(exactPairs -- win).size} / spurious ${(win -- exactPairs).size}")
  }

  test("hot-shingle dropping prunes stopword-phrase candidates, keeps jaccard exact") {
    import spark.implicits._
    // docs 1/2: true near-dups (share rare shingles). docs 3/4: share
    // ONLY the hot boilerplate shingle every doc carries.
    val boiler = "terms and conditions apply"
    val d = Seq(
      (1L, s"alpha beta gamma delta epsilon $boiler"),
      (2L, s"alpha beta gamma delta zeta $boiler"),
      (3L, s"one two three $boiler"),
      (4L, s"four five six $boiler"))
      .toDF("doc_id", "text")
    // cap 2: the boilerplate shingles (df=4) leave candidate generation
    val got = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        n = 3, threshold = 0.1, maxDocFreq = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
    assert(got.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      s"expected only the rare-shingle pair, got ${got.toSeq}")
    // jaccard verified on FULL shingle sets (boilerplate included):
    // exact path must agree on the surviving pair
    val exact = Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.1)
      .filter($"id_a" === 1L && $"id_b" === 2L)
      .head.getAs[Double]("jaccard")
    assert(got.head._3 == exact)
  }

  test("simhash is deterministic and order-invariant-ish (same text -> same sig)") {
    import spark.implicits._
    val sigs = Seq((1L, "the quick brown fox"), (2L, "the quick brown fox"))
      .toDF("id", "text").select(Dedup.simHash64(col("text")).as("s"))
      .collect().map(_.getLong(0))
    assert(sigs(0) == sigs(1))
  }

  test("scalable simhash (explode+agg) equals the expression form") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox the fox"), (2L, "a b c d"),
      (3L, "lorem ipsum dolor sit amet"), (4L, ""))
      .toDF("doc_id", "text")
    val viaExpr = df.select(col("doc_id"), Dedup.simHash64(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaAgg = Dedup.simHashSignatures(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr == viaAgg)
  }

  test("exactDedup keeps exactly one row per fingerprint") {
    import spark.implicits._
    val df = Seq((1L, "same  text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val kept = Dedup.exactDedup(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L)) // whitespace-normalized dup collapses to min id
  }

  /** Runs one graph through every connected-components path — the
    * gate's driver union-find, the gate forced past its edge bound
    * (large-star/small-star over the cached pair leg) and
    * [[Dedup.connectedComponentsStar]] — and asserts on each that the
    * pair subtree ran exactly once (a counting filter on `pairs`) and
    * that no CacheManager entry outlives the call. Returns the labels,
    * which must agree across the three paths. */
  private def ccAllPaths(nodes: org.apache.spark.sql.DataFrame,
      pairs: org.apache.spark.sql.DataFrame,
      checkpointDir: Option[String] = None): Map[Any, Any] = {
    import org.apache.spark.sql.DataFrame
    val nPairs = pairs.count()
    val reads = spark.sparkContext.longAccumulator("cc-pair-reads")
    val counted = pairs.filter(
      udf(() => { reads.add(1L); true }).asNondeterministic()())
    val cm = spark.sharedState.cacheManager
    def run(path: String, cc: DataFrame => DataFrame) = {
      spark.catalog.clearCache()
      reads.reset()
      val got = cc(counted).collect().map(r => r.get(0) -> r.get(1)).toMap
      assert(reads.value == nPairs,
        s"$path: the pair subtree ran ${reads.value} rows for $nPairs pairs")
      assert(cm.isEmpty, s"$path: a cache entry outlived the call")
      got
    }
    val fast = run("fast path", Dedup.connectedComponents(nodes, "doc_id", _,
      checkpointDir))
    val dist = run("gate past its bound", Dedup.connectedComponentsUpTo(nodes,
      "doc_id", _, checkpointDir, edgeLimit = 0))
    val star = run("star", Dedup.connectedComponentsStar(nodes, "doc_id", _,
      checkpointDir = checkpointDir))
    assert(dist == fast, "the distributed branch disagrees with the fast path")
    assert(star == fast, "connectedComponentsStar disagrees with the fast path")
    fast
  }

  test("connectedComponents: chains, cliques, singletons") {
    import spark.implicits._
    // component {1,2,3,4} is a CHAIN (diameter 3 — multi-round on the
    // star branch), {10,11,12} a clique, {20} and {21} singletons
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("id_a", "id_b")
    assert(ccAllPaths(nodes, pairs) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 21L))
  }

  test("connectedComponents agrees with brute-force closure on the fixture pairs") {
    val got = ccAllPaths(docs,
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
        .select("id_a", "id_b"))
    // brute-force union-find over the exact pair set
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    exactPairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    docs.select("doc_id").collect().map(_.getLong(0)).foreach { id =>
      assert(got(id) == find(id), s"doc $id")
    }
  }

  test("connectedComponents: every path agrees on the q_dedup_clusters LSH pairs") {
    // the pair set q_dedup_clusters clusters, LSH verify plan and all
    val got = ccAllPaths(docs, Dedup.minHashLshPairs(docs, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b"))
    assert(got.size == docs.count())
    assert(got.exists { case (id, c) => id != c },
      "fixture should contain at least one non-singleton cluster")
  }

  test("connectedComponentsStar: path graph with diameter > 50 in O(log n) rounds") {
    import spark.implicits._
    // a 64-node PATH — diameter 63 — must close in ~log2(64) + change
    // rounds of large/small-star (maxIter = 15 enforces the bound)
    val n = 64
    val nodes = (0L until n.toLong).toDF("doc_id")
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponentsStar(nodes, "doc_id", pairs, maxIter = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until n.toLong).map(_ -> 0L).toMap)
  }

  test("connectedComponents: every path agrees on random graphs (+ singletons)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val nNodes = 200
      val nodes = (0L until nNodes.toLong).toDF("doc_id")
      // sparse random graph: ~0.7 edges/node leaves a mix of chains,
      // small trees, and isolated nodes
      val pairs = Seq.fill(140)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter(p => p._1 != p._2).toDF("id_a", "id_b")
      withClue(s"trial $trial: ") {
        assert(ccAllPaths(nodes, pairs).size == nNodes)
      }
    }
  }

  test("connectedComponents: deep max-id-first chain and string ids, every path") {
    import spark.implicits._
    // a DEEP chain fed max-id-first: during construction the union-find
    // parent forest chains thousands deep — the shape a recursive find
    // would overflow on; labels must still be the component min (0)
    val n = 5000
    val nodes = (0L until n.toLong).toDF("doc_id")
    val chain = (0L until (n - 1).toLong).reverse.map(i => (i, i + 1))
      .toDF("id_a", "id_b").coalesce(1) // one partition: preserves feed order
    assert(ccAllPaths(nodes, chain) == (0L until n.toLong).map(_ -> 0L).toMap)
    // string ids: the fast path requires integral ids — every path
    // takes the star branch, no crash
    val snodes = Seq("a", "b", "c", "z").toDF("doc_id")
    val spairs = Seq(("a", "b"), ("b", "c")).toDF("id_a", "id_b")
    assert(ccAllPaths(snodes, spairs) ==
      Map("a" -> "a", "b" -> "a", "c" -> "a", "z" -> "z"))
  }

  test("reliable checkpointDir path yields identical labels (both CC algorithms)") {
    import spark.implicits._
    // chain + clique + singleton — multi-round on the star branch, so
    // every round truncates through the RELIABLE df.checkpoint() leg
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L)
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    try {
      // the driver fast path checkpoints nothing, so binds no directory
      Dedup.connectedComponents(nodes, "doc_id", pairs,
        checkpointDir = Some(dir.toString)).collect()
      assert(dir.toFile.list().isEmpty,
        "the driver fast path bound a checkpoint dir")
      assert(ccAllPaths(nodes, pairs, Some(dir.toString)) == expected)
      // the durable leg actually wrote checkpoint files
      val wrote = java.nio.file.Files.walk(dir)
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable checkpoint wrote no files")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("contamination pairs: hand-computed shared n-gram counts") {
    import spark.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "lorem ipsum dolor sit amet consectetur"),
      (3L, "the quick brown cat sleeps")) // shares only "the quick brown"
      .toDF("doc_id", "text")
    val eval = Seq(
      (100L, "the quick brown fox jumps high"), // 3 shared 3-grams with doc 1
      (101L, "completely different words here")).toDF("doc_id", "text")
    def run(minShared: Int) =
      Dedup.contaminationPairs(train, eval, "doc_id", "text",
          n = 3, minShared = minShared)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // doc1 x eval100 share "the quick brown", "quick brown fox",
    // "brown fox jumps"; doc3 x eval100 share only "the quick brown"
    assert(run(1) == Map((1L, 100L) -> 3L, (3L, 100L) -> 1L))
    assert(run(2) == Map((1L, 100L) -> 3L))
  }

  test("contamination eval-side df cap drops boilerplate shingles") {
    import spark.implicits._
    val train = Seq((1L, "common phrase here")).toDF("doc_id", "text")
    val eval = Seq( // "common phrase here" appears in ALL eval docs
      (100L, "common phrase here a"), (101L, "common phrase here b"),
      (102L, "common phrase here c")).toDF("doc_id", "text")
    val uncapped = Dedup.contaminationPairs(train, eval, "doc_id", "text",
      n = 3, minShared = 1)
    assert(uncapped.count() == 3)
    val capped = Dedup.contaminationPairs(train, eval, "doc_id", "text",
      n = 3, minShared = 1, maxDocFreq = Some(2))
    assert(capped.count() == 0)
  }

  test("duplicatedSpans: hand-computed shared substring, self-repeats ignored") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps over"),
      (2L, "xx the quick brown fox yy"),
      // internal repetition only — k-grams repeat within ONE doc, so
      // min(doc) == max(doc) and nothing is flagged
      (3L, "zqzqzqzqzqzqzqzqzqzqzqzqzqzq")).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(d, "doc_id", "text", k = 5, minLen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toList
    // shared substring "the quick brown fox " — INCLUDING the trailing
    // space (both docs continue with ' ') — 20 chars: d1[0,20), d2[3,23)
    assert(spans === List((1L, 0L, 20L, 20L), (2L, 3L, 23L, 20L)))
  }

  test("duplicatedSpans: every span's leading k-gram occurs in another doc") {
    val k = 20
    val docs = Tables.documents(spark, sf)
    val spans = Dedup.duplicatedSpans(docs, "doc_id", "text", k, minLen = 40)
      .collect()
    assert(spans.nonEmpty, "fixture should contain duplicated substrings")
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    spans.foreach { r =>
      val (id, start, end) = (r.getLong(0), r.getLong(1).toInt, r.getLong(2).toInt)
      assert(end - start >= 40 && end <= texts(id).length)
      val lead = texts(id).substring(start, start + k)
      assert(texts.exists { case (o, t) => o != id && t.contains(lead) },
        s"span lead of doc $id not found elsewhere: '$lead'")
    }
  }

  test("selfRepeatedSpans: within-doc repeats flagged, cross-doc-only repeats ignored") {
    import spark.implicits._
    val d = Seq(
      // "abcdefghij" (10 chars) repeats at 0 and 12 -> both occurrences
      // flagged, two spans of exactly k
      (1L, "abcdefghij##abcdefghij"),
      // shares a run with doc 1 but repeats NOTHING internally
      (2L, "abcdefghij the quick brown fox"),
      (3L, "no repetition in here at all!!")).toDF("doc_id", "text")
    val spans = Dedup.selfRepeatedSpans(d, "doc_id", "text", k = 10, minLen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(spans == List((1L, 0L, 10L), (1L, 12L, 22L)))
    // the cross-doc detector sees doc1/doc2's shared run instead
    val cross = Dedup.duplicatedSpans(d, "doc_id", "text", k = 10, minLen = 10)
      .collect().map(_.getLong(0)).toSet
    assert(cross == Set(1L, 2L))
  }

  test("removeDuplicatedSpans: cut equals scala-side splice; no-span docs intact") {
    import spark.implicits._
    val d = Seq(
      (1L, "AAAA the quick brown fox jumps BBBB"),
      (2L, "CC the quick brown fox jumps DDDDDD"),
      (3L, "totally unrelated content here")).toDF("doc_id", "text")
    val k = 5; val minLen = 10
    val spans = Dedup.duplicatedSpans(d, "doc_id", "text", k, minLen)
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt, r.getLong(2).toInt))
    val texts = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // scala-side splice: delete each [start, end) right-to-left
    val expected = texts.map { case (id, t) =>
      val cuts = spans.filter(_._1 == id).sortBy(-_._2)
      id -> cuts.foldLeft(t) { case (acc, (_, s, e)) =>
        acc.substring(0, s) + acc.substring(e) }
    }
    val out = Dedup.removeDuplicatedSpans(d, "doc_id", "text", k, minLen)
      .select("doc_id", "clean_text", "n_spans_cut", "chars_cut").collect()
    assert(out.length == 3)
    out.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) == expected(id), s"doc $id clean_text mismatch")
      assert(r.getInt(3) == texts(id).length - expected(id).length)
    }
    // doc 3 shares nothing: untouched, zero spans
    val r3 = out.find(_.getLong(0) == 3L).get
    assert(r3.getString(1) == texts(3L) && r3.getInt(2) == 0)
    assert(spans.exists(_._1 == 1L) && spans.exists(_._1 == 2L))
  }

  test("removeDuplicatedSpans: fully-duplicated doc collapses to empty text") {
    import spark.implicits._
    val dup = "0123456789" * 5 // 50 chars, shared verbatim
    val d = Seq((1L, dup), (2L, dup)).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(d, "doc_id", "text", k = 5, minLen = 10)
      .select("doc_id", "clean_text", "chars_cut").collect()
    out.foreach { r =>
      assert(r.getString(1) == "", s"doc ${r.getLong(0)} should be fully cut")
      assert(r.getInt(2) == 50)
    }
  }

  test("containmentPairs: excerpt fully contained scores 1.0; jaccard misses it; " +
      "cap path re-verifies on full sets") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val words = (1 to 40).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 8).map(i => s"w$i").mkString(" ")  // 8 toks -> 6 shingles
    val other = (100 to 130).map(i => s"x$i").mkString(" ")
    val df = Seq((1L, words), (2L, excerpt), (3L, other)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "doc_id", "text", n = 3,
      threshold = 0.9).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 2L && r.getLong(1) == 1L)   // contained, container
    assert(r.getLong(2) == 6L)                          // all 6 excerpt shingles
    assert(r.getDouble(3) == 1.0)
    // jaccard at the same pair: 6 / (38 + 6 - 6) = 0.157... -> the
    // symmetric metric misses what containment catches
    val j = Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 3,
      threshold = 0.15).where(col("id_a") === 1 && col("id_b") === 2)
      .select("jaccard").head().getDouble(0)
    assert(j < 0.2, s"jaccard $j should be far below the 1.0 containment")
    // cap path: reported values must equal the exact path's wherever
    // the capped candidate generation retains the pair
    val exact = Dedup.containmentPairs(df, "doc_id", "text", n = 3,
      threshold = 0.9).collect().toSet
    val capped = Dedup.containmentPairs(df, "doc_id", "text", n = 3,
      threshold = 0.9, maxDocFreq = Some(100)).collect().toSet
    assert(capped == exact)
  }

  test("incrementalIngest classifies against the store and extends it") {
    import spark.implicits._
    val dir = graft.util.TempDirs.scoped("dedup-incr").toString + "/store"
    val standing = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    Dedup.fingerprintStoreInit(standing, "doc_id", "text", dir)

    // drop 1: store dup (case/space-normalized), within-drop dup pair, one new
    val drop1 = Seq(
      (10L, "ALPHA   beta"),  // dup_in_store (normalized fingerprint)
      (11L, "epsilon zeta"),  // accepted (keeper of the pair)
      (12L, "epsilon zeta"),  // dup_in_drop
      (13L, "eta theta")      // accepted
    ).toDF("doc_id", "text")
    val c1 = Dedup.incrementalIngest(drop1, "doc_id", "text", dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(c1 == Map(10L -> "dup_in_store", 11L -> "accepted",
      12L -> "dup_in_drop", 13L -> "accepted"))
    // dup_in_store rows point at the original carrier
    assert(graft.ops.TableLayout.read(spark, dir).count() == 4) // 2 init + 2 accepted

    // drop 2: drop 1's accepted text must now hit the store
    val drop2 = Seq((20L, "epsilon zeta"), (21L, "iota kappa"))
      .toDF("doc_id", "text")
    val c2 = Dedup.incrementalIngest(drop2, "doc_id", "text", dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(c2 == Map(20L -> "dup_in_store", 21L -> "accepted"))
    assert(graft.ops.TableLayout.read(spark, dir).count() == 5)
  }

  test("batch-dir retention: a legacy (pre-naming-scheme) dir survives " +
      "the two-ingest consume window, then reaps; named dirs unaffected") {
    import spark.implicits._
    val dir = graft.util.TempDirs.scoped("dedup-legacybatch").toString + "/store"
    Dedup.fingerprintStoreInit(
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), "doc_id", "text", dir)
    // a pre-upgrade ingest's batch dir: plain-UUID naming, content a
    // still-consumable classified frame (content irrelevant here)
    val legacy = new java.io.File(dir + ".batch/" +
      "c0ffee00-dead-beef-0000-000000000001")
    assert(legacy.mkdirs())
    def ingest(id: Long): Unit =
      Dedup.incrementalIngest(Seq((id, s"text $id")).toDF("doc_id", "text"),
        "doc_id", "text", dir).collect()
    // the legacy dir counts toward the keep window: consumable through
    // two post-upgrade ingests (the documented window), reaped by the third
    ingest(100L)
    assert(legacy.exists(), "legacy dir reaped by the FIRST post-upgrade ingest")
    ingest(101L)
    assert(legacy.exists(), "legacy dir reaped inside the consume window")
    ingest(102L)
    assert(!legacy.exists(), "legacy dir must reap once the window lapses")
    // and the named dirs kept are the two NEWEST
    val named = new java.io.File(dir + ".batch").listFiles()
      .map(_.getName).sorted
    assert(named.length == 3) // ingest 102's own dir + the kept 2
  }

  test("clusterRepresentatives keeps the (score DESC, id ASC) argmax per cluster") {
    import spark.implicits._
    val labeled = Seq(
      (1L, 1L, 5L), (2L, 1L, 9L), (3L, 1L, 9L), // tie at 9 -> min id 2
      (7L, 7L, 4L)                              // singleton
    ).toDF("doc_id", "cluster_id", "toks")
    val out = Dedup.clusterRepresentatives(labeled, "doc_id", "cluster_id", "toks")
      .collect().map(r => r.getAs[Long]("cluster_id") ->
        ((r.getAs[Long]("rep_id"), r.getAs[Long]("rep_score"),
          r.getAs[Long]("n_members"), r.getAs[Long]("total_score")))).toMap
    assert(out(1L) == ((2L, 9L, 3L, 23L)))
    assert(out(7L) == ((7L, 4L, 1L, 4L)))
  }

  test("lshIncrementalIngest probes the persisted index and extends it") {
    import spark.implicits._
    val dir = graft.util.TempDirs.scoped("dedup-lshstore").toString + "/store"
    val standing = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "one two three four five six seven eight nine")
    ).toDF("doc_id", "text")
    Dedup.lshStoreInit(standing, "doc_id", "text", dir)

    // drop 1: a near-dup of 10 (tail appended), one unrelated doc
    val drop1 = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta extra tail"),
      (101L, "totally different words nothing shared at all here now")
    ).toDF("doc_id", "text")
    val texts1 = standing.unionByName(drop1)
    val p1 = Dedup.lshIncrementalIngest(drop1, texts1, "doc_id", "text", dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1 == Set((100L, 10L)), s"got $p1")

    // drop 2: a near-dup of drop 1's doc 101 — only findable because
    // the ingest appended drop 1's buckets to the store
    val drop2 = Seq(
      (200L, "totally different words nothing shared at all here too")
    ).toDF("doc_id", "text")
    val texts2 = texts1.unionByName(drop2)
    val p2 = Dedup.lshIncrementalIngest(drop2, texts2, "doc_id", "text", dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2 == Set((200L, 101L)), s"got $p2")

    val storeRows = graft.ops.TableLayout.read(spark, dir).count()

    // at-least-once RE-DELIVERY of drop 2: no self-pairs (its own
    // earlier append is in the store), the real pair re-emits, and the
    // store does NOT grow (idempotent append)
    val p2b = Dedup.lshIncrementalIngest(drop2, texts2, "doc_id", "text", dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2b == Set((200L, 101L)), s"re-delivery got $p2b")
    assert(graft.ops.TableLayout.read(spark, dir).count() == storeRows,
      "re-delivered drop must not duplicate index rows")

    // parameter drift vs the store meta fails loudly
    val ex = intercept[IllegalArgumentException] {
      Dedup.lshIncrementalIngest(drop2, texts2, "doc_id", "text", dir,
        bands = 8)
    }
    assert(ex.getMessage.contains("does not match the store"))

    // an incomplete texts view (missing drop 1's indexed docs) fails
    // loudly instead of silently losing pairs
    val ex2 = intercept[IllegalArgumentException] {
      Dedup.lshIncrementalIngest(drop2, standing.unionByName(drop2),
        "doc_id", "text", dir)
    }
    assert(ex2.getMessage.contains("no row in `texts`"))
  }

  test("store compaction: bounded file count, invariant classifications") {
    import spark.implicits._
    // LIVE-snapshot file count (the store is manifest-versioned now:
    // superseded generations awaiting GC are not compaction pressure)
    def dataFiles(dir: String): Int =
      graft.ops.TableLayout.fileStats(spark, dir,
        graft.ops.TableLayout.resolve(spark, dir))._1.toInt
    // two stores fed identical drops: compacting (threshold 2 files)
    // vs never-compacting — classifications must match drop for drop
    val dirC = graft.util.TempDirs.scoped("dedup-compact").toString + "/store"
    val dirN = graft.util.TempDirs.scoped("dedup-nocompact").toString + "/store"
    val standing = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    Dedup.fingerprintStoreInit(standing, "doc_id", "text", dirC)
    Dedup.fingerprintStoreInit(standing, "doc_id", "text", dirN)
    var maxFiles = 0
    (0 until 5).foreach { i =>
      val drop = Seq(
        (100L + i, s"novel text number $i"),
        (200L + i, "alpha beta")  // always dup_in_store
      ).toDF("doc_id", "text")
      val c = Dedup.incrementalIngest(drop, "doc_id", "text", dirC,
          compactAfterFiles = 2)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[String]("status")).toMap
      val nc = Dedup.incrementalIngest(drop, "doc_id", "text", dirN,
          compactAfterFiles = 0)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[String]("status")).toMap
      assert(c == nc, s"drop $i diverged: $c vs $nc")
      assert(c(100L + i) == "accepted" && c(200L + i) == "dup_in_store")
      maxFiles = math.max(maxFiles, dataFiles(dirC))
    }
    // compacted store: file count bounded by threshold + one append's
    // worth of files; the uncompacted one keeps growing past it
    assert(maxFiles <= 2 + spark.conf.get("spark.sql.shuffle.partitions").toInt,
      s"compacted store grew to $maxFiles files")
    assert(dataFiles(dirN) > dataFiles(dirC))
    // row multiset identical after all the swaps
    val rowsC = graft.ops.TableLayout.read(spark, dirC).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val rowsN = graft.ops.TableLayout.read(spark, dirN).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(rowsC == rowsN)
    // health observable: profile rows for all store columns + file stats
    val health = Dedup.storeHealth(spark, dirC).collect()
    assert(health.length == 2)
    val fpRow = health.find(_.getString(0) == "fingerprint").get
    assert(fpRow.getAs[Long]("n_rows") == 2L + 5L)
    assert(fpRow.getAs[Long]("n_distinct") == 7L)
    assert(fpRow.getAs[Long]("n_files") >= 1L)
    assert(fpRow.getAs[Long]("total_bytes") > 0L)
    assert(fpRow.getAs[Long]("max_files_per_dir") >= 1L)
    // the manifest pin survives the compaction swaps
    assert(graft.ops.TableLayout.resolve(spark, dirC).pins ==
      Map("nfc" -> "true"))
  }

  test("LSH store compaction: candidate sets invariant across the swap") {
    import spark.implicits._
    val dir = graft.util.TempDirs.scoped("dedup-lshcompact").toString + "/store"
    val standing = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "one two three four five six seven eight nine")
    ).toDF("doc_id", "text")
    Dedup.lshStoreInit(standing, "doc_id", "text", dir)
    var texts = standing
    // several drops with threshold 1: compaction triggers every round;
    // probes must keep finding near-dups of docs indexed BEFORE swaps
    (0 until 3).foreach { i =>
      val drop = Seq(
        (100L + i,
          s"alpha beta gamma delta epsilon zeta eta theta tail$i"),
        (200L + i, s"unrelated$i " + (0 to 8).map(j => s"w$i-$j").mkString(" "))
      ).toDF("doc_id", "text")
      texts = texts.unionByName(drop)
      val pairs = Dedup.lshIncrementalIngest(drop, texts, "doc_id", "text",
          dir, compactAfterFiles = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // each drop's first doc near-dups doc 10 AND every earlier
      // 100-series doc (all indexed across prior compaction swaps)
      val expect = ((10L +: (0 until i).map(100L + _)).map(s => (100L + i, s))).toSet
      assert(pairs == expect, s"drop $i: got $pairs, want $expect")
    }
    // params still validate after swaps (the manifest pins)
    val ex = intercept[IllegalArgumentException] {
      Dedup.lshIncrementalIngest(
        Seq((999L, "x y z a b c")).toDF("doc_id", "text"),
        texts, "doc_id", "text", dir, bands = 8)
    }
    assert(ex.getMessage.contains("does not match the store"))
  }

  test("cluster table: persisted-derived artifacts equal from-scratch") {
    val dir = graft.util.TempDirs.scoped("dedup-clustertable").toString + "/store"
    Dedup.clusterTableInit(docs, "doc_id", "text", dir)
    // from-scratch labels (the same pipeline, not persisted)
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text",
      n = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b")
    val scratch = Dedup.connectedComponents(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stored = Dedup.clusterTable(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stored == scratch)
    assert(scratch.exists { case (id, c) => id != c },
      "fixture should contain at least one non-singleton cluster")
    // split from the table == splitLabel over scratch labels
    val splitT = Dedup.clusterTableSplit(spark, dir, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val splitS = Dedup.connectedComponents(docs, "doc_id", pairs)
      .select(col("id"),
        graft.functions.Sampling.splitLabel(col("cluster")).as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(splitT == splitS)
    // keeper filter == id-is-cluster rows, one per cluster
    val kept = Dedup.clusterTableKeep(docs, dir, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == scratch.collect { case (id, c) if id == c => id }.toSet)
    // representatives from the table == clusterRepresentatives on the
    // scratch labels joined to the same score
    val scores = docs.select(col("doc_id"), length(col("text")).as("len"))
    val repT = Dedup.clusterTableRepresentatives(spark, dir, scores,
        "doc_id", "len")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val labeled = Dedup.connectedComponents(docs, "doc_id", pairs)
      .select(col("id").as("doc_id"), col("cluster"))
      .join(scores, Seq("doc_id"))
    val repS = Dedup.clusterRepresentatives(labeled, "doc_id", "cluster", "len")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(repT == repS)
  }

  test("clusterTableIngest: bridge-merges clusters; labels == from-scratch") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val c = "one two three four five six seven eight nine ten"
    val standing = Seq(
      (10L, a), (11L, a + " tail"),              // cluster A -> label 10
      (20L, "lone wolf doc nothing shared here at all today ok"),
      (30L, c), (31L, c + " extra")              // cluster C -> label 30
    ).toDF("doc_id", "text")
    // drop: 100 bridges A and C (near-dup of both via shared halves is
    // impossible textually — instead 100 pairs with A's text and 101
    // pairs with C's, while 100~101 pair with each other through a
    // THIRD shared text, chaining A-100-101-C into ONE component);
    // 200 is novel; 210/211 are a within-drop dup pair.
    val bridge = "november oscar papa quebec romeo sierra tango uniform victor whiskey"
    val drop = Seq(
      (100L, a + " tail2"),           // near-dup of A
      (101L, c + " extra2"),          // near-dup of C
      (102L, bridge), (103L, bridge + " x"), // within-drop pair
      (104L, a.split(" ").take(7).mkString(" ") + " " +
        c.split(" ").take(7).mkString(" ")), // overlaps both? verify below
      (200L, "totally novel content words unseen anywhere else in corpus")
    ).toDF("doc_id", "text")
    val texts = standing.unionByName(drop)
    val dir = graft.util.TempDirs.scoped("dedup-ctingest").toString + "/store"
    Dedup.clusterTableInit(standing, "doc_id", "text", dir, idBuckets = 8)
    Dedup.clusterTableIngest(drop, texts, "doc_id", "text", dir).count()
    val got = Dedup.clusterTable(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ground truth: from-scratch clustering over the FULL corpus
    val dir2 = graft.util.TempDirs.scoped("dedup-ctscratch").toString + "/store"
    Dedup.clusterTableInit(texts, "doc_id", "text", dir2, idBuckets = 8)
    val want = Dedup.clusterTable(spark, dir2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"incremental diverged:\n got=$got\nwant=$want")
    // the merge actually exercised: at least one standing cluster
    // label changed (a drop doc joined A and C components or chained)
    assert(got(11L) == got(10L) && got(100L) == got(10L),
      "drop near-dup of A must join A's cluster")
    assert(got(31L) == got(30L) && got(101L) == got(30L))
    assert(got(102L) == got(103L))
    assert(got(200L) == 200L, "novel doc labels itself")
    // RE-DELIVERY: same drop again must be a label no-op (higher ver,
    // same labels), not duplicate rows
    Dedup.clusterTableIngest(drop, texts, "doc_id", "text", dir).count()
    val again = Dedup.clusterTable(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
    assert(Dedup.clusterTable(spark, dir).count().toInt == got.size)
  }

  test("clusterTableIngest: repeated drops leave no cached state " +
      "behind (storage-leak bound for long-lived streaming sessions)") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val standing = Seq((10L, a), (11L, a + " tail"),
      (30L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val dir = graft.util.TempDirs.scoped("dedup-ctleak").toString + "/store"
    Dedup.clusterTableInit(standing, "doc_id", "text", dir, idBuckets = 4)
    val drops = Seq(
      Seq((100L, a + " t2")).toDF("doc_id", "text"),
      Seq((101L, a + " t3")).toDF("doc_id", "text"),
      Seq((102L, "wholly novel words unseen anywhere in this corpus"))
        .toDF("doc_id", "text"))
    // baseline AFTER init: alien persisted ids (other suites'
    // localCheckpoints, the init's own) may linger; they can only
    // disappear, never re-appear (suites run sequentially)
    spark.catalog.clearCache()
    org.apache.spark.graft.ListenerBusSync.drain(spark.sparkContext)
    val base = spark.sparkContext.getPersistentRDDs.keySet.toSet
    var texts = standing
    drops.foreach { drop =>
      texts = texts.unionByName(drop)
      Dedup.clusterTableIngest(drop, texts, "doc_id", "text", dir).count()
      org.apache.spark.graft.ListenerBusSync.drain(spark.sparkContext)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet
        .count(!base.contains(_))
      assert(leaked == 0,
        s"ingest drop leaked $leaked cached RDD(s) — the per-call " +
          "release bound is broken (a streaming session would accrete " +
          "storage per micro-batch)")
    }
  }

  test("clusterTableIngest: a smaller-id drop doc remaps the standing label") {
    import spark.implicits._
    // the movedRows leg: drop doc 5 < label 10 joins cluster {10, 11}
    // -> component min becomes 5, so the STANDING rows must rewrite
    // (10 -> 5, 11 -> 5) through the partition-scoped merge
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val standing = Seq((10L, a), (11L, a + " tail"),
      (30L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val dir = graft.util.TempDirs.scoped("dedup-ctremap").toString + "/store"
    Dedup.clusterTableInit(standing, "doc_id", "text", dir, idBuckets = 4)
    val drop = Seq((5L, a + " t2")).toDF("doc_id", "text")
    val lab = Dedup.clusterTableIngest(drop,
        standing.unionByName(drop), "doc_id", "text", dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lab == Map(5L -> 5L))
    val got = Dedup.clusterTable(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(5L -> 5L, 10L -> 5L, 11L -> 5L, 30L -> 30L),
      s"standing labels must remap to the new min id, got $got")
    // untouched cluster's row version is still the init version (its
    // id-bucket was never rewritten unless it shares a bucket)
    val vers = Dedup.clusterTable(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(vers(10L) == 1L && vers(11L) == 1L && vers(5L) == 1L)
  }

  test("incremental paths fold NFC like batch: NFD drop finds its NFC standing twin") {
    import spark.implicits._
    val text = "alpha beta café delta epsilon zeta eta theta iota kappa"
    val nfd = java.text.Normalizer.normalize(text,
      java.text.Normalizer.Form.NFD)
    assert(nfd != text)
    val standing = Seq((10L, text),
      (20L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val drop = Seq((100L, nfd)).toDF("doc_id", "text")
    val texts = standing.unionByName(drop)
    // LSH band store: the NFD re-encoding must hash into the NFC
    // standing doc's buckets (incremental == from-scratch, which pairs
    // them per the batch NFC test above)
    val dirL = graft.util.TempDirs.scoped("dedup-nfcinc").toString + "/store"
    Dedup.lshStoreInit(standing, "doc_id", "text", dirL)
    val pairs = Dedup.lshIncrementalIngest(drop, texts, "doc_id", "text",
        dirL).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((100L, 10L)), s"NFD drop missed its twin: $pairs")
    // drifted fold setting fails loudly against the pin
    val exL = intercept[IllegalArgumentException] {
      Dedup.lshIncrementalIngest(drop, texts, "doc_id", "text", dirL,
        nfcFold = false)
    }
    assert(exL.getMessage.contains("does not match the store"))
    // fingerprint store: exact NFD twin classifies dup_in_store
    val dirF = graft.util.TempDirs.scoped("dedup-nfcfp").toString + "/store"
    Dedup.fingerprintStoreInit(standing, "doc_id", "text", dirF)
    val cls = Dedup.incrementalIngest(
        Seq((200L, nfd)).toDF("doc_id", "text"), "doc_id", "text", dirF)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("status")).toMap
    assert(cls == Map(200L -> "dup_in_store"), s"got $cls")
    val exF = intercept[IllegalArgumentException] {
      Dedup.incrementalIngest(Seq((201L, nfd)).toDF("doc_id", "text"),
        "doc_id", "text", dirF, nfc = false)
    }
    assert(exF.getMessage.contains("does not match the store"))
    // cluster table: labels layout pin rejects an uninitialized path
    val exP = intercept[IllegalStateException] {
      Dedup.clusterTableIngest(drop, texts, "doc_id", "text",
        graft.util.TempDirs.scoped("dedup-nopin").toString + "/store")
    }
    assert(exP.getMessage.contains("labels-layout pin"))
  }

  test("clusterTableRetract: removed rows vanish, chains split, label min repairs") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // chain cluster: 10 ~ 11 ~ 12 where 11 is the connective tissue
    // (10 and 12 share too little directly: 10 = a, 11 = a + 4 words,
    // 12 = 11's tail half + more — construct so j(10,11) >= .5,
    // j(11,12) >= .5, j(10,12) < .5)
    val t10 = a                                           // 8 shingles
    val t11 = a + " lima mike"                            // 10 shingles, shared 8 -> j=0.8
    val t12 = a.split(" ").drop(4).mkString(" ") + " lima mike november oscar"
    // t12 words: 6 tail words of a + 4 -> 8 shingles; shared with t11:
    // tail-of-a shingles (4) + boundary... verified below via engine
    val corpus = Seq((10L, t10), (11L, t11), (12L, t12),
      (30L, "one two three four five six seven eight nine ten"),
      (31L, "one two three four five six seven eight nine ten plus"))
      .toDF("doc_id", "text")
    // precondition: the chain holds and 10~12 is NOT a direct pair
    val pairs0 = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        n = 3, threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs0.contains((10L, 11L)) && pairs0.contains((11L, 12L)),
      s"chain links missing: $pairs0")
    assert(!pairs0.contains((10L, 12L)), s"10~12 must not pair: $pairs0")
    val dir = graft.util.TempDirs.scoped("dedup-ctretract").toString + "/store"
    Dedup.clusterTableInit(corpus, "doc_id", "text", dir, idBuckets = 4)
    assert(Dedup.clusterTable(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 30L -> 30L, 31L -> 30L))
    // retract the connective doc 11: {10,12} must SPLIT into
    // singletons (no direct pair), untouched cluster {30,31} intact
    Dedup.clusterTableRetract(Seq(11L).toDF("doc_id"), corpus,
      "doc_id", "text", dir)
    val got = Dedup.clusterTable(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 10L, 12L -> 12L, 30L -> 30L, 31L -> 30L),
      s"split repair wrong: $got")
    // the band store no longer knows 11: a fresh near-dup of 11's text
    // can only pair with the surviving docs
    val probe = Seq((100L, t11 + " x")).toDF("doc_id", "text")
    val hits = Dedup.lshIncrementalIngest(probe,
        corpus.where(col("doc_id") =!= 11L).unionByName(probe),
        "doc_id", "text", dir + "/lsh")
      .select("store_id").collect().map(_.getLong(0)).toSet
    assert(!hits.contains(11L), s"retracted id resurfaced: $hits")
    // retract the label-carrier 30: 31 relabels to itself
    Dedup.clusterTableRetract(Seq(30L).toDF("doc_id"),
      corpus.where(col("doc_id") =!= 11L), "doc_id", "text", dir)
    val got2 = Dedup.clusterTable(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2.get(30L).isEmpty && got2(31L) == 31L)
  }

  test("lshIncrementalIngest accepts a rowless store (meta pin governs)") {
    import spark.implicits._
    val dir = graft.util.TempDirs.scoped("dedup-lshempty").toString + "/store"
    // every standing doc shorter than n=3 tokens -> zero bucket rows
    val standing = Seq((1L, "too short"), (2L, "also tiny"))
      .toDF("doc_id", "text")
    Dedup.lshStoreInit(standing, "doc_id", "text", dir)
    val drop = Seq((10L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    // must not throw NoSuchElementException from the in-store param
    // probe; no candidates either (store had nothing indexed)
    val got = Dedup.lshIncrementalIngest(drop,
      standing.unionByName(drop), "doc_id", "text", dir).collect()
    assert(got.isEmpty)
    // the drop's buckets did append: params still validate afterwards
    assert(graft.ops.TableLayout.read(spark, dir).count() > 0)
    // and a drifted-parameter call still fails loudly on the meta pin
    val ex = intercept[IllegalArgumentException] {
      Dedup.lshIncrementalIngest(drop, standing.unionByName(drop),
        "doc_id", "text", dir, bands = 8)
    }
    assert(ex.getMessage.contains("does not match the store"))
  }

  /** The live manifest's pins of the store at `dir`. */
  private def pinsAt(dir: String): Map[String, String] =
    graft.ops.TableLayout.resolve(spark, dir).pins

  /** Commit the live snapshot again WITHOUT its pins — a store whose
    * manifest carries none (one initialized before the pins moved
    * there). */
  private def dropPins(dir: String): Unit =
    graft.ops.StoreLock.withLockCtx(spark, dir) { ctx =>
      val s = graft.ops.TableLayout.resolve(spark, dir)
      graft.ops.TableLayout.commit(spark, dir,
        s.copy(version = s.version + 1L, pins = Map.empty), ctx.token)
    }

  /** Run `mutate`, which must commit a new snapshot of `dir`, and check
    * that the commit carried `want` forward. */
  private def rewriteKeepsPins(dir: String, want: Map[String, String],
      what: String)(mutate: => Unit): Unit = {
    val v0 = graft.ops.TableLayout.resolve(spark, dir).version
    mutate
    assert(graft.ops.TableLayout.resolve(spark, dir).version > v0,
      s"$what must commit a snapshot of $dir")
    assert(pinsAt(dir) == want, s"$what dropped the pins of $dir")
  }

  test("fingerprint store: the nfc pin rides the manifest through every " +
      "rewrite") {
    import spark.implicits._
    val dir = graft.util.TempDirs.scoped("dedup-fppin").toString + "/store"
    Dedup.fingerprintStoreInit(
      Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text"),
      "doc_id", "text", dir, nfc = false)
    val want = Map("nfc" -> "false")
    assert(pinsAt(dir) == want)
    assert(!new java.io.File(dir + ".meta").exists(), "no sidecar pin")
    assert(graft.ops.TableLayout.read(spark, dir).columns.toSeq ==
      Seq("fingerprint", "first_id"), "no in-row pin")
    def ingest(i: Int, nfc: Boolean) = Dedup.incrementalIngest(
        Seq((10L + i, s"novel text $i")).toDF("doc_id", "text"),
        "doc_id", "text", dir, compactAfterFiles = 1, nfc = nfc)
      .collect()
    (0 until 2).foreach { i =>
      // threshold 1: every ingest's append triggers the compaction
      // republish
      rewriteKeepsPins(dir, want, s"compaction $i")(ingest(i, nfc = false))
      val e = intercept[IllegalArgumentException](ingest(100 + i, nfc = true))
      assert(e.getMessage.contains("does not match the store"))
    }
    rewriteKeepsPins(dir, want, "expire")(
      graft.ops.TableLayout.expire(spark, dir))
    // a manifest without the pin fails loudly
    dropPins(dir)
    val e = intercept[IllegalStateException](ingest(200, nfc = false))
    assert(e.getMessage.contains("no fingerprint-version pin"))
  }

  test("band store: parameter pins ride the manifest through every " +
      "rewrite; a round-10 store validates against its .meta") {
    import spark.implicits._
    // unrelated fillers spread the standing ids over every id bucket,
    // so each drop's append lands a second file in some bucket and the
    // per-bucket compaction (threshold 1) fires on every ingest
    val standing = (Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "one two three four five six seven eight nine")) ++
      (12L until 20L).map(j => (j, (0 to 8).map(w => s"f$j-$w").mkString(" "))))
      .toDF("doc_id", "text")
    def drop(i: Int) = Seq(
      (100L + i, s"alpha beta gamma delta epsilon zeta eta theta tail$i"))
      .toDF("doc_id", "text")
    val texts = (0 until 4).map(drop).foldLeft(standing)(_ unionByName _)
    def ingest(dir: String, i: Int, bands: Int = 16) =
      Dedup.lshIncrementalIngest(drop(i), texts, "doc_id", "text", dir,
        bands = bands, compactAfterFiles = 1).collect()
    def driftFails(dir: String): Unit = {
      val e = intercept[IllegalArgumentException](ingest(dir, 3, bands = 8))
      assert(e.getMessage.contains("does not match the store"))
    }
    // flat (whole-store compaction) and id-bucketed (per-bucket
    // compaction) layouts
    Seq(0, 4).foreach { ib =>
      val dir = graft.util.TempDirs.scoped(s"dedup-lshpin$ib").toString +
        "/store"
      Dedup.lshStoreInit(standing, "doc_id", "text", dir, idBuckets = ib)
      val want = Map("n" -> "3", "num_hashes" -> "64", "bands" -> "16",
        "nfc" -> "true", "id_buckets" -> ib.toString)
      assert(pinsAt(dir) == want)
      assert(!new java.io.File(dir + ".meta").exists(), "no sidecar pin")
      assert(graft.ops.TableLayout.read(spark, dir).columns.toSet ==
        Set("doc_id", "band", "bh") ++ (if (ib > 0) Set("ib") else Set()),
        "no in-row pins")
      (0 until 2).foreach { i =>
        rewriteKeepsPins(dir, want, s"compaction $i (idBuckets=$ib)")(
          ingest(dir, i))
        driftFails(dir)
      }
      dropPins(dir)
      val e = intercept[IllegalStateException](ingest(dir, 2))
      assert(e.getMessage.contains("parameter pin"))
    }
    // a round-10 store: bare ib=* partition dirs at the root, no
    // manifest, the parameters in a sibling <store>.meta parquet
    val dir = graft.util.TempDirs.scoped("dedup-lshround10").toString +
      "/store"
    Dedup.lshStoreInit(standing, "doc_id", "text", dir, idBuckets = 4)
    val root = new java.io.File(dir)
    new java.io.File(root, "data-g1").listFiles()
      .filter(_.getName.startsWith("ib="))
      .foreach(d => assert(d.renameTo(new java.io.File(root, d.getName))))
    root.listFiles().filter(f => f.getName.startsWith("_manifest-v") ||
        f.getName == "data-g1")
      .foreach(f => org.apache.commons.io.FileUtils.forceDelete(f))
    val meta = dir + ".meta"
    Seq((3, 64, 16, true, 4))
      .toDF("n", "num_hashes", "bands", "nfc", "id_buckets")
      .write.parquet(meta)
    assert(graft.ops.TableLayout.resolve(spark, dir).pins.isEmpty)
    assert(ingest(dir, 0).map(_.getLong(1)).toSet == Set(10L))
    driftFails(dir)
    // without the .meta the store has no pins at all: loud
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(meta))
    val e = intercept[IllegalStateException](ingest(dir, 1))
    assert(e.getMessage.contains("parameter pin"))
  }

  test("cluster table: labels and band-store pins ride the manifests " +
      "through ingest merges and retraction purges") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (3L, "one two three four five six seven eight nine"),
      (4L, "red orange yellow green blue indigo violet white"))
      .toDF("doc_id", "text")
    val drop = Seq((10L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val texts = corpus.unionByName(drop)
    val dir = graft.util.TempDirs.scoped("dedup-ctpin").toString + "/store"
    Dedup.clusterTableInit(corpus, "doc_id", "text", dir, idBuckets = 4)
    val (labels, lsh) = (dir + "/labels", dir + "/lsh")
    val wantLabels = Map("id_buckets" -> "4", "nfc" -> "true")
    val wantLsh = Map("n" -> "3", "num_hashes" -> "64", "bands" -> "16",
      "nfc" -> "true", "id_buckets" -> "4")
    assert(pinsAt(labels) == wantLabels && pinsAt(lsh) == wantLsh)
    assert(!new java.io.File(labels + ".meta").exists() &&
      !new java.io.File(dir + "/labels.meta").exists() &&
      !new java.io.File(lsh + ".meta").exists(), "no sidecar pins")
    assert(graft.ops.TableLayout.read(spark, labels).columns.toSet ==
      Set("doc_id", "cluster", "ver", "ib"), "no in-row pins")
    def driftFails(): Unit = {
      val e = intercept[IllegalArgumentException](
        Dedup.clusterTableIngest(drop, texts, "doc_id", "text", dir,
          bands = 8))
      assert(e.getMessage.contains("does not match the store"))
    }
    // ingest: the labels merge (mergeByKey -> partition rewrite)
    rewriteKeepsPins(labels, wantLabels, "ingest merge")(
      Dedup.clusterTableIngest(drop, texts, "doc_id", "text", dir)
        .collect())
    assert(pinsAt(lsh) == wantLsh)
    driftFails()
    // retraction: partition purges of both stores
    val lshV0 = graft.ops.TableLayout.resolve(spark, lsh).version
    rewriteKeepsPins(labels, wantLabels, "retract purge")(
      Dedup.clusterTableRetract(Seq(3L).toDF("doc_id"), texts,
        "doc_id", "text", dir))
    assert(graft.ops.TableLayout.resolve(spark, lsh).version > lshV0,
      "the retraction must purge the band store")
    assert(pinsAt(lsh) == wantLsh, "the band-store purge dropped its pins")
    driftFails()
    assert(Dedup.clusterTable(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 10L -> 10L))
    // a band store whose pins cannot be read: the retraction fails
    // loudly BEFORE any commit — both stores and the table unchanged
    dropPins(lsh)
    def state(p: String) = (graft.ops.TableLayout.resolve(spark, p).version,
      graft.ops.TableLayout.read(spark, p).collect().map(_.toString).sorted
        .toSeq)
    val (labels0, lsh0) = (state(labels), state(lsh))
    val e = intercept[IllegalStateException](
      Dedup.clusterTableRetract(Seq(4L).toDF("doc_id"), texts,
        "doc_id", "text", dir))
    assert(e.getMessage.contains("parameter pin"))
    assert(state(labels) == labels0 && state(lsh) == lsh0)
    assert(!new java.io.File(dir + "/retract.intent").exists(),
      "no retraction intent may be left pending")
    // a labels store without its pin fails loudly too
    dropPins(labels)
    val e2 = intercept[IllegalStateException](
      Dedup.clusterTableIngest(drop, texts, "doc_id", "text", dir))
    assert(e2.getMessage.contains("labels-layout pin"))
  }

  /** Live md5s per bucket across the store's snapshot generations —
    * the byte-identical observable for the partition-scoped-purge
    * contract, on the manifest-versioned layout. */
  private def bucketFileMd5s(root: String): Map[String, Map[String, String]] = {
    val snap = graft.ops.TableLayout.resolve(spark, root)
    val base = new java.io.File(root)
    snap.gens.flatMap { g =>
      val gdir = if (g.dir.isEmpty) base else new java.io.File(base, g.dir)
      Option(gdir.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("ib="))
        .filter(d => !g.exclude.contains(d.getName.stripPrefix("ib=")))
        .map { d =>
          d.getName -> d.listFiles()
            .filter(f => f.isFile && f.getName.endsWith(".parquet"))
            .map { f =>
              val bytes = java.nio.file.Files.readAllBytes(f.toPath)
              val md5 = java.security.MessageDigest.getInstance("MD5")
                .digest(bytes).map("%02x".format(_)).mkString
              f.getName -> md5
            }.toMap
        }
    }.groupBy(_._1).map { case (k, xs) => k -> xs.flatMap(_._2).toMap }
  }

  test("clusterTableRetract: band-store purge is partition-scoped " +
      "(untouched buckets byte-identical)") {
    import spark.implicits._
    val corpus = (0 until 24).map { i =>
      (i.toLong, s"unique doc $i " + (0 to 8).map(j => s"w$i-$j").mkString(" "))
    }.toDF("doc_id", "text")
    val dir = graft.util.TempDirs.scoped("dedup-ctscoped").toString + "/store"
    Dedup.clusterTableInit(corpus, "doc_id", "text", dir, idBuckets = 8)
    val before = bucketFileMd5s(dir + "/lsh")
    assert(before.size > 1, s"fixture must span several buckets: $before")
    // the removed id's bucket under the SAME pinned layout
    val rmBucket = spark.range(1).select(
        org.apache.spark.sql.functions.pmod(
          graft.functions.Sampling.hashBucket(
            org.apache.spark.sql.functions.lit(5L)),
          org.apache.spark.sql.functions.lit(8L)))
      .head().getLong(0)
    Dedup.clusterTableRetract(Seq(5L).toDF("doc_id"),
      corpus.where(col("doc_id") =!= 5L), "doc_id", "text", dir)
    val after = bucketFileMd5s(dir + "/lsh")
    // every bucket EXCEPT the removed id's is bytes-untouched — the
    // O(touched)-IO contract of the partition-scoped purge
    before.foreach { case (bucket, files) =>
      if (bucket != s"ib=$rmBucket")
        assert(after.get(bucket).contains(files),
          s"untouched bucket $bucket rewritten: $files -> ${after.get(bucket)}")
    }
    // the touched bucket no longer holds doc 5's band rows
    assert(after.get(s"ib=$rmBucket") != Some(before(s"ib=$rmBucket")),
      "the removed id's bucket was not rewritten")
    assert(graft.ops.TableLayout.read(spark, dir + "/lsh")
      .where(col("doc_id") === 5L).count() == 0)
    // labels repaired, everything else intact
    val got = Dedup.clusterTable(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!got.contains(5L) && got.size == 23)
  }

  test("retract-intent marker: pending retraction blocks reads and " +
      "ingests; a re-run completes it") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "red orange yellow green blue indigo")).toDF("doc_id", "text")
    val dir = graft.util.TempDirs.scoped("dedup-ctmarker").toString + "/store"
    Dedup.clusterTableInit(corpus, "doc_id", "text", dir, idBuckets = 4)
    // simulate a retraction crashed between its commits: the intent
    // marker is on disk, the labels still carry the retracted id
    Seq(Tuple1(2L)).toDF("doc_id")
      .withColumn("retract_ts", org.apache.spark.sql.functions.lit(0L))
      .write.parquet(dir + "/retract.intent")
    val exRead = intercept[IllegalStateException] {
      Dedup.clusterTable(spark, dir)
    }
    assert(exRead.getMessage.contains("PENDING RETRACTION"))
    val exIngest = intercept[IllegalStateException] {
      Dedup.clusterTableIngest(
        Seq((10L, "ten eleven twelve thirteen fourteen")).toDF("doc_id", "text"),
        corpus, "doc_id", "text", dir)
    }
    assert(exIngest.getMessage.contains("PENDING RETRACTION"))
    // a re-run (even with an empty id set) folds the marker's ids in,
    // completes both commits, and unblocks the table
    Dedup.clusterTableRetract(
      Seq.empty[Long].toDF("doc_id"),
      corpus.where(col("doc_id") =!= 2L), "doc_id", "text", dir)
    val got = Dedup.clusterTable(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 3L -> 3L), s"marker ids not retracted: $got")
    assert(!new java.io.File(dir + "/retract.intent").exists())
  }

  test("StoreLock: a concurrent writer throws; a stale lease is reclaimed") {
    import spark.implicits._
    val dir = graft.util.TempDirs.scoped("dedup-lock").toString + "/store"
    val standing = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    Dedup.fingerprintStoreInit(standing, "doc_id", "text", dir)
    val drop = Seq((2L, "gamma delta")).toDF("doc_id", "text")
    // a live concurrent writer's lease: the second writer must FAIL
    // LOUDLY, not silently duplicate store rows
    val lock = new java.io.File(dir + ".lock")
    assert(lock.createNewFile())
    val ex = intercept[IllegalStateException] {
      Dedup.incrementalIngest(drop, "doc_id", "text", dir)
    }
    assert(ex.getMessage.contains("another writer"))
    // the blocked attempt mutated nothing
    assert(graft.ops.TableLayout.read(spark, dir).count() == 1)
    // a lease older than the TTL marks a dead holder: reclaimed, the
    // ingest proceeds, and the lease is released afterwards
    assert(lock.setLastModified(
      System.currentTimeMillis() - 31L * 60 * 1000))
    val got = Dedup.incrementalIngest(drop, "doc_id", "text", dir)
      .collect().map(r => r.getAs[String]("status")).toSeq
    assert(got == Seq("accepted"))
    assert(!lock.exists())
    // nested cluster-table locks (root + /lsh) compose without
    // deadlock: a full init-ingest cycle under locks
    val cdir = graft.util.TempDirs.scoped("dedup-lock-ct").toString + "/store"
    Dedup.clusterTableInit(standing
        .withColumn("text", org.apache.spark.sql.functions
          .concat_ws(" ", col("text"), org.apache.spark.sql.functions
            .lit("gamma delta epsilon zeta"))),
      "doc_id", "text", cdir, idBuckets = 2)
    assert(Dedup.clusterTable(spark, cdir).count() == 1)
  }

  test("partitioned band store: per-bucket compaction bounds growth, " +
      "probes invariant; labels files stay bounded over drops") {
    import spark.implicits._
    def maxBucketFiles(root: String): Int = {
      val m = graft.ops.TableLayout.filesPerPartition(spark, root,
        graft.ops.TableLayout.resolve(spark, root))
      if (m.isEmpty) 0 else m.values.max.toInt
    }
    val dir = graft.util.TempDirs.scoped("dedup-lshbuckets").toString + "/store"
    val standing = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "one two three four five six seven eight nine")
    ).toDF("doc_id", "text")
    Dedup.lshStoreInit(standing, "doc_id", "text", dir, idBuckets = 2)
    var texts = standing
    (0 until 3).foreach { i =>
      val drop = Seq(
        (100L + i,
          s"alpha beta gamma delta epsilon zeta eta theta tail$i"),
        (200L + i, s"unrelated$i " + (0 to 8).map(j => s"w$i-$j").mkString(" "))
      ).toDF("doc_id", "text")
      texts = texts.unionByName(drop)
      // threshold 1: per-bucket compaction triggers every round; the
      // probe must keep finding near-dups indexed across prior swaps
      val pairs = Dedup.lshIncrementalIngest(drop, texts, "doc_id", "text",
          dir, compactAfterFiles = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expect = ((10L +: (0 until i).map(100L + _)).map(s => (100L + i, s))).toSet
      assert(pairs == expect, s"drop $i: got $pairs, want $expect")
      assert(maxBucketFiles(dir) <= 2,
        s"bucket file count unbounded: ${maxBucketFiles(dir)}")
    }
    // recursive health sees the partitioned layout
    val h = Dedup.storeHealth(spark, dir).collect()
    assert(h.head.getAs[Long]("n_files") >= 1L)
    assert(h.head.getAs[Long]("max_files_per_dir") <= 2L)
    // labels table: replace-not-append keeps per-bucket files bounded
    // over repeated ingests (no compaction needed by construction)
    val cdir = graft.util.TempDirs.scoped("dedup-ctfiles").toString + "/store"
    val corpus0 = Seq((1L, "base doc alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    Dedup.clusterTableInit(corpus0, "doc_id", "text", cdir, idBuckets = 2)
    var all = corpus0
    (0 until 4).foreach { i =>
      val drop = Seq((10L + i,
        s"novel$i " + (0 to 6).map(j => s"v$i-$j").mkString(" ")))
        .toDF("doc_id", "text")
      all = all.unionByName(drop)
      Dedup.clusterTableIngest(drop, all, "doc_id", "text", cdir).count()
      assert(maxBucketFiles(cdir + "/labels") <= 2,
        s"labels bucket files grew: ${maxBucketFiles(cdir + "/labels")}")
    }
    val hl = Dedup.storeHealth(spark, cdir + "/labels").collect()
    assert(hl.head.getAs[Long]("max_files_per_dir") <= 2L)
  }

  test("clusterTableIngest: an empty drop is a no-op (labels and version " +
      "unchanged, empty result)") {
    import spark.implicits._
    val dir = graft.util.TempDirs.scoped("dedup-emptydrop").toString + "/store"
    val corpus = Seq((1L, "alpha beta gamma delta"),
      (2L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    Dedup.clusterTableInit(corpus, "doc_id", "text", dir, idBuckets = 2)
    val before = graft.ops.TableLayout.read(spark, dir + "/labels")
      .select("doc_id", "cluster", "ver").collect().toSet
    val out = Dedup.clusterTableIngest(corpus.where(col("doc_id") < 0),
      corpus, "doc_id", "text", dir)
    assert(out.columns.toSeq == Seq("doc_id", "cluster"))
    assert(out.count() == 0L)
    val after = graft.ops.TableLayout.read(spark, dir + "/labels")
      .select("doc_id", "cluster", "ver").collect().toSet
    assert(after == before)
  }

  test("a re-init under the other fold re-pins the store: the old " +
      "setting then fails loudly") {
    import spark.implicits._
    val dir = graft.util.TempDirs.scoped("dedup-pincache").toString + "/store"
    val corpus = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    Dedup.fingerprintStoreInit(corpus, "doc_id", "text", dir, nfc = true)
    Dedup.incrementalIngest(Seq((10L, "x y")).toDF("doc_id", "text"),
      "doc_id", "text", dir).collect()
    // re-init under the OTHER fold: the re-init's commit re-pins the
    // store, so an nfc=true ingest now fails loudly instead of
    // silently misclassifying
    Dedup.fingerprintStoreInit(corpus, "doc_id", "text", dir, nfc = false)
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalIngest(Seq((11L, "p q")).toDF("doc_id", "text"),
        "doc_id", "text", dir).collect()
    }
    assert(e.getMessage.contains("does not match the store"))
    // and the matching setting reads the refreshed pin
    Dedup.incrementalIngest(Seq((12L, "r s")).toDF("doc_id", "text"),
      "doc_id", "text", dir, nfc = false).collect()
  }

  test("ingest version cache: monotone across cached drops; an interloper " +
      "mutation forces the recompute") {
    import spark.implicits._
    val dir = graft.util.TempDirs.scoped("dedup-vercache").toString + "/store"
    // 5 and 6 are near-dups so the retraction below WRITES repair rows
    // at its version (an interloper bump the cache cannot see)
    val corpus = Seq(
      (1L, "one unique alpha doc"), (2L, "two unique beta doc"),
      (5L, "shared phrase common tail words here"),
      (6L, "shared phrase common tail words here too")).toDF("doc_id", "text")
    Dedup.clusterTableInit(corpus, "doc_id", "text", dir, idBuckets = 2)
    def maxVer: Long = graft.ops.TableLayout.read(spark, dir + "/labels")
      .agg(max("ver")).head().getLong(0)
    assert(maxVer == 0L)
    var all = corpus
    def ingest(id: Long): Unit = {
      val drop = Seq((id, s"novel $id " + (0 to 5).map(j => s"w$id-$j")
        .mkString(" "))).toDF("doc_id", "text")
      all = all.unionByName(drop)
      Dedup.clusterTableIngest(drop, all, "doc_id", "text", dir).count()
    }
    ingest(10L); assert(maxVer == 1L)
    ingest(11L); assert(maxVer == 2L) // cache-served version
    // interloper: a retraction bumps the table's version out from under
    // the session cache (its epoch stamp must invalidate it)
    Dedup.clusterTableRetract(Seq(Tuple1(6L)).toDF("doc_id"),
      all.where(col("doc_id") =!= 6L), "doc_id", "text", dir)
    assert(maxVer == 3L, "retraction should write repair rows at ver 3")
    all = all.where(col("doc_id") =!= 6L)
    ingest(12L)
    assert(maxVer == 4L, "post-interloper ingest must recompute the version")
    // and the final labels still read clean
    val labels = Dedup.clusterTable(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    assert(labels == Set(1L, 2L, 5L, 10L, 11L, 12L))
  }
  test("per-drop store joins are bloom-pruned map-side: the executed " +
      "classification and probe plans carry might_contain over the " +
      "store scan") {
    import spark.implicits._
    import scala.collection.mutable.ArrayBuffer
    val plans = ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val fdir = graft.util.TempDirs.scoped("dedup-bloomplan").toString + "/fp"
      Dedup.fingerprintStoreInit(
        Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text"),
        "doc_id", "text", fdir)
      Dedup.incrementalIngest(
        Seq((10L, "alpha beta"), (11L, "epsilon zeta")).toDF("doc_id", "text"),
        "doc_id", "text", fdir).collect()
      val ldir = graft.util.TempDirs.scoped("dedup-bloomplan").toString + "/lsh"
      val standing = Seq(
        (10L, "alpha beta gamma delta epsilon zeta eta theta"),
        (11L, "one two three four five six seven eight nine")
      ).toDF("doc_id", "text")
      Dedup.lshStoreInit(standing, "doc_id", "text", ldir)
      val drop = Seq((100L,
        "alpha beta gamma delta epsilon zeta eta theta tail"))
        .toDF("doc_id", "text")
      Dedup.lshIncrementalIngest(drop, standing.unionByName(drop),
        "doc_id", "text", ldir).collect()
      // QueryExecutionListener delivery is async: poll until the
      // expected plan shapes arrive (bounded)
      def snapshot(): Seq[String] = plans.synchronized(plans.toList)
      def pruned(): Int = snapshot().count(_.contains("might_contain"))
      val deadline = System.currentTimeMillis() + 20000
      // fingerprint classification + LSH probe + LSH idempotence
      // anti-join = at least 3 bloom-probed executions
      while (pruned() < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(pruned() >= 3,
        s"expected >=3 bloom-pruned store plans, got ${pruned()}:\n" +
          snapshot().filter(_.contains("might_contain")).mkString("\n---\n"))
      // and at least one of them probes an on-disk store generation
      assert(snapshot().exists(pl => pl.contains("might_contain") &&
        pl.contains("data-g")),
        "no bloom-probed plan scans a store generation")
    } finally spark.listenerManager.unregister(listener)
  }

  test("pair operators: every call's caches drop with its consuming " +
      "action (verify-stage release, both sides of each gate)") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "one two three four five six seven eight nine ten"
    // docs 1 and 2 are identical (collapse pressure 1 extra pair), 3
    // contains 1, 5 contains 4, 6 pairs with nothing
    val corpus = Seq((1L, a), (2L, a), (3L, a + " tail"), (4L, b),
      (5L, b + " more"), (6L, "wholly novel words unseen anywhere here"))
      .toDF("doc_id", "text")
    val external = Seq((1L, 3L), (1L, 3L), (4L, 5L), (1L, 6L))
      .toDF("id_a", "id_b")
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "minHashLshPairs below the collapse gate" -> (() =>
        Dedup.minHashLshPairs(corpus, "doc_id", "text")),
      "minHashLshPairs above the collapse gate" -> (() =>
        Dedup.minHashLshPairs(corpus, "doc_id", "text",
          collapseAtExtraPairs = 0)),
      "winnowNearDupPairs" -> (() =>
        Dedup.winnowNearDupPairs(corpus, "doc_id", "text")),
      "ngramJaccardPairs exact" -> (() =>
        Dedup.ngramJaccardPairs(corpus, "doc_id", "text")),
      "ngramJaccardPairs capped" -> (() =>
        Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
          maxDocFreq = Some(3))),
      "containmentPairs exact" -> (() =>
        Dedup.containmentPairs(corpus, "doc_id", "text")),
      "containmentPairs capped" -> (() =>
        Dedup.containmentPairs(corpus, "doc_id", "text",
          maxDocFreq = Some(3))),
      "verifyCandidatePairs" -> (() =>
        Dedup.verifyCandidatePairs(external, corpus, "doc_id", "text")))
    spark.catalog.clearCache()
    org.apache.spark.graft.ListenerBusSync.drain(spark.sparkContext)
    val base = spark.sparkContext.getPersistentRDDs.keySet.toSet
    ops.foreach { case (name, op) =>
      val rows = op().collect()
      assert(rows.nonEmpty, s"$name: the fixture should yield pairs")
      org.apache.spark.graft.ListenerBusSync.drain(spark.sparkContext)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet
        .count(!base.contains(_))
      assert(leaked == 0,
        s"$name leaked $leaked cached RDD(s) after its result was consumed")
    }
  }
}
