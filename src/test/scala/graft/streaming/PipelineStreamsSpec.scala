package graft.streaming

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

case class DropDoc(doc_id: Long, text: String, lang: String,
    source: String, n_chars: Long)

/** Streaming exact dedup: state must persist across drops (via the
  * checkpoint), first sighting wins, and within a batch the minimum
  * doc id claims the fingerprint. */
class PipelineStreamsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("first-seen dedup holds state across drops; min id wins in-batch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pipe-stream")
    val sink = dir.resolve("out").toString
    val drops = java.nio.file.Files.createDirectory(dir.resolve("drops"))

    // memory sink cannot RECOVER a checkpoint (append mode), and this
    // test's whole point is resuming state on drop 2 — so the keeper
    // stream appends to a durable parquet sink like production would
    def keepers(): Map[String, Long] =
      spark.read.schema("fingerprint STRING, keeper BIGINT").parquet(sink)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    def stage(rows: Seq[DropDoc], name: String): Unit = {
      val tmp = dir.resolve(name + ".tmpdir").toString
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, drops.resolve(name))
    }
    def run(): Unit = {
      val q = PipelineStreams.firstSeenDedup(
          PipelineStreams.readDocs(spark, drops.toString)).toDF()
        .writeStream.format("parquet")
        .option("path", sink)
        .outputMode("append")
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000)); q.stop()
    }

    // drop 1: "a b" under ids 2 and 1 (same fingerprint, min id 1 must
    // win within the batch); "c d" unique; whitespace/case variants of
    // "a b" normalize to the same fingerprint
    stage(Seq(
      DropDoc(2L, "a b", "en", "s", 3L),
      DropDoc(1L, "A  b ", "en", "s", 5L),
      DropDoc(3L, "c d", "en", "s", 3L)), "d1.parquet")
    run()
    val k1 = keepers()
    assert(k1.size == 2)
    val fpAB = k1.find(_._2 == 1L).map(_._1)
    assert(fpAB.isDefined, s"'a b' fingerprint must keep id 1, got $k1")

    // drop 2: id 10 repeats "a b" (must NOT re-emit — state filters
    // it), id 11 brings a new fingerprint (must emit)
    stage(Seq(
      DropDoc(10L, "a b", "en", "s", 3L),
      DropDoc(11L, "e f", "en", "s", 3L)), "d2.parquet")
    run()
    val k2 = keepers()
    assert(k2.size == 3, s"exactly one new keeper, got $k2")
    assert(k2(fpAB.get) == 1L, "drop-2 repeat must not steal the fingerprint")
    assert(k2.values.toSet == Set(1L, 3L, 11L))
  }

  test("TTL dedup: in-horizon dups filtered, state evicted at watermark, late dup re-emits") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ttl-stream")
    val sink = dir.resolve("out").toString
    val drops = java.nio.file.Files.createDirectory(dir.resolve("drops"))
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

    def stage(rows: Seq[(Long, String, java.sql.Timestamp)], idx: Int): Unit = {
      val tmp = dir.resolve(s"d$idx.tmpdir").toString
      rows.toDF("doc_id", "text", "event_time")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = drops.resolve(f"d$idx%02d.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      dest.toFile.setLastModified(1000000000000L + idx * 60000L)
    }
    // horizon 3600s. Batch trace (watermark = prior batches' max event):
    //  b1 A@1000 B@1000        -> emit A(1) B(2); timeouts armed 4600
    //  b2 A-dup@2000 C@2000    -> A filtered (in horizon), re-armed 5600
    //  b3 D@8000               -> watermark 2000: nothing expires yet
    //  b4 E@9000               -> watermark 8000: A/B/C state EVICTED
    //  b5 A-dup@9500           -> state gone: A RE-EMITS with keeper 30
    stage(Seq((1L, "aaa", ts(1000)), (2L, "bbb", ts(1000))), 1)
    stage(Seq((10L, "aaa", ts(2000)), (11L, "ccc", ts(2000))), 2)
    stage(Seq((20L, "ddd", ts(8000))), 3)
    stage(Seq((21L, "eee", ts(9000))), 4)
    stage(Seq((30L, "aaa", ts(9500))), 5)

    val q = PipelineStreams.firstSeenDedupTtl(
        spark.readStream
          .schema("doc_id BIGINT, text STRING, event_time TIMESTAMP")
          .option("maxFilesPerTrigger", "1").parquet(drops.toString)
          .withWatermark("event_time", "0 seconds"),
        "event_time", horizonMs = 3600 * 1000L)
      .toDF()
      .writeStream.format("parquet").option("path", sink)
      .outputMode("append")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000)); q.stop()

    val keepers = spark.read.schema("fingerprint STRING, keeper BIGINT")
      .parquet(sink).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(keepers.size == 5, s"five distinct fingerprints, got $keepers")
    // "aaa" emitted TWICE: original keeper 1, then keeper 30 after the
    // horizon evicted its state — the stream forgets, as configured
    assert(keepers.values.count(_ == Set(1L, 30L)) == 1,
      s"expected one fingerprint with keepers {1,30}, got $keepers")
    // everything else exactly once (incl. the in-horizon dup at t=2000)
    assert(keepers.values.filterNot(_ == Set(1L, 30L)).forall(_.size == 1),
      s"unexpected keeper sets: $keepers")
    assert(keepers.values.flatten.toSet == Set(1L, 2L, 11L, 20L, 21L, 30L))
  }

  test("TTL LSH index: in-horizon pair found, post-horizon member evicted") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ttl-lsh")
    val sink = dir.resolve("out").toString
    val drops = java.nio.file.Files.createDirectory(dir.resolve("drops"))
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

    def stage(rows: Seq[(Long, String, java.sql.Timestamp)], idx: Int): Unit = {
      val tmp = dir.resolve(s"d$idx.tmpdir").toString
      rows.toDF("doc_id", "text", "event_time")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = drops.resolve(f"d$idx%02d.parquet")
      java.nio.file.Files.move(part.toPath, dest)
      dest.toFile.setLastModified(1000000000000L + idx * 60000L)
    }
    val a = "the quick brown fox jumps over the lazy dog again and again"
    // horizon 3600s: doc 10 (t=2000) pairs with doc 1 (t=1000); the
    // watermark jump to 9000 (drop 3) evicts the bucket; doc 30
    // (t=9500) repeats the text but finds an EMPTY index -> no pair
    stage(Seq((1L, a, ts(1000))), 1)
    stage(Seq((10L, a, ts(2000))), 2)
    stage(Seq((20L, "entirely different filler words here now", ts(9000))), 3)
    stage(Seq((30L, a, ts(9500))), 4)

    val q = PipelineStreams.lshCandidatesTtl(
        spark.readStream
          .schema("doc_id BIGINT, text STRING, event_time TIMESTAMP")
          .option("maxFilesPerTrigger", "1").parquet(drops.toString)
          .withWatermark("event_time", "0 seconds"),
        "event_time", horizonMs = 3600 * 1000L)
      .toDF()
      .writeStream.format("parquet").option("path", sink)
      .outputMode("append")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000)); q.stop()

    val pairs = spark.read.schema("id_a BIGINT, id_b BIGINT").parquet(sink)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 10L)),
      s"in-horizon pair only — the post-eviction repeat must find nothing: $pairs")
  }

  test("streamed LSH index emits cross-drop candidates from resumed state") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-stream")
    val sink = dir.resolve("out").toString
    val drops = java.nio.file.Files.createDirectory(dir.resolve("drops"))

    def stage(rows: Seq[DropDoc], name: String): Unit = {
      val tmp = dir.resolve(name + ".tmpdir").toString
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, drops.resolve(name))
    }
    def run(): Unit = {
      val q = PipelineStreams.lshCandidates(
          PipelineStreams.readDocs(spark, drops.toString)).toDF()
        .writeStream.format("parquet")
        .option("path", sink)
        .outputMode("append")
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000)); q.stop()
    }
    def pairs(): Set[(Long, Long)] =
      spark.read.schema("id_a BIGINT, id_b BIGINT").parquet(sink)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val a = "the quick brown fox jumps over the lazy dog again and again"
    stage(Seq(
      DropDoc(1L, a, "en", "s", a.length.toLong),
      DropDoc(2L, "completely unrelated words about other topics entirely here",
        "en", "s", 60L)), "d1.parquet")
    run()
    assert(pairs().isEmpty, "no near-dups within drop 1")

    // drop 2: doc 10 repeats doc 1's text -> identical signature, every
    // band collides; the pair must surface from CHECKPOINT-RESUMED
    // bucket state, not any same-batch comparison
    stage(Seq(DropDoc(10L, a, "en", "s", a.length.toLong)), "d2.parquet")
    run()
    assert(pairs() == Set((1L, 10L)),
      s"cross-drop collision must be found once per colliding band set, got ${pairs()}")
  }

  test("streamed LSH candidates == batch minhash pairs after exact verification") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = PipelineStreams.stageOrderedDrops(docs, "doc_id", 4, "graft-lsh-corpus")
    spark.catalog.dropTempView("lsh_cand_test")
    val q = PipelineStreams.lshCandidates(
        spark.readStream.schema(PipelineStreams.docSchema)
          .option("maxFilesPerTrigger", "1").parquet(dir.toString)).toDF()
      .writeStream.format("memory").queryName("lsh_cand_test")
      .outputMode("append")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(180000)); q.stop()
    val streamed = graft.dedup.Dedup.verifyCandidatePairs(
        spark.table("lsh_cand_test"), docs, "doc_id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.dedup.Dedup.minHashLshPairs(docs, "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"missing ${batch -- streamed}, spurious ${streamed -- batch}")
  }

  test("streamed packing == batch greedy fold under ordered drops") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = PipelineStreams.stageOrderedDrops(docs, "doc_id", 4, "graft-pack-corpus")
    spark.catalog.dropTempView("pack_stream_test")
    val q = PipelineStreams.packStream(
        spark.readStream.schema(PipelineStreams.docSchema)
          .option("maxFilesPerTrigger", "1").parquet(dir.toString),
        budget = 512, shardSpan = 200).toDF()
      .writeStream.format("memory").queryName("pack_stream_test")
      .outputMode("append")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(180000)); q.stop()
    val streamed = spark.table("pack_stream_test")
      .select("grp", "shard", "doc_id", "toks", "bin").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val batch = graft.ops.Packing.packGreedy(docs, "source", "doc_id",
        graft.functions.TextFunctions.tokenCount(col("text")),
        budget = 512, shardSpan = 200)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(batch.nonEmpty)
    assert(streamed == batch,
      s"missing ${batch -- streamed}, spurious ${streamed -- batch}")
  }

  test("upsert stream: last-writer-wins, stale rejection, state across drops") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert-stream")
    val sink = dir.resolve("out").toString
    val drops = java.nio.file.Files.createDirectory(dir.resolve("drops"))

    def emitted(): Seq[(Long, Long, Long, Option[Long])] =
      spark.read
        .schema("key BIGINT, ver BIGINT, value_c BIGINT, prev_ver BIGINT")
        .parquet(sink)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq.sortBy(t => (t._1, t._2))

    def stage(rows: Seq[(Long, Long, Long, Long)], name: String): Unit = {
      val tmp = dir.resolve(name + ".tmpdir").toString
      rows.toDF("key", "ver", "value_c", "arrival")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, drops.resolve(name))
    }
    def run(): Unit = {
      val q = PipelineStreams.upsertStream(
          PipelineStreams.readDocs(spark, drops.toString)).toDF()
        .writeStream.format("parquet").option("path", sink)
        .outputMode("append")
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000)); q.stop()
    }

    // drop 1, key 1: versions arrive (by arrival order) 5, 3, 9 ->
    // accept 5 (first), reject 3 (stale), accept 9 (prev 5)
    stage(Seq((1L, 5L, 50L, 1L), (1L, 3L, 30L, 2L), (1L, 9L, 90L, 3L),
      (2L, 7L, 70L, 4L)), "d1.parquet")
    run()
    assert(emitted() == Seq(
      (1L, 5L, 50L, None), (1L, 9L, 90L, Some(5L)), (2L, 7L, 70L, None)))

    // drop 2: key 1 gets a stale 8 (rejected against checkpointed 9)
    // and a fresh 12; key 2 re-delivers 7 (duplicate -> rejected)
    stage(Seq((1L, 8L, 80L, 5L), (1L, 12L, 120L, 6L), (2L, 7L, 70L, 7L)),
      "d2.parquet")
    run()
    assert(emitted() == Seq(
      (1L, 5L, 50L, None), (1L, 9L, 90L, Some(5L)), (1L, 12L, 120L, Some(9L)),
      (2L, 7L, 70L, None)))
  }

  test("reservoir sample: admissions, evictions, state across drops") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-reservoir")
    val sink = dir.resolve("out").toString
    val drops = java.nio.file.Files.createDirectory(dir.resolve("drops"))

    def admitted(): Set[(String, Long)] =
      spark.read.schema("stratum STRING, doc_id BIGINT, bucket BIGINT")
        .parquet(sink)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet

    def stage(rows: Seq[(String, Long, Long)], name: String): Unit = {
      val tmp = dir.resolve(name + ".tmpdir").toString
      rows.toDF("stratum", "doc_id", "bucket")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, drops.resolve(name))
    }
    def run(): Unit = {
      val q = PipelineStreams.reservoirSample(
          PipelineStreams.readDocs(spark, drops.toString), k = 2).toDF()
        .writeStream.format("parquet").option("path", sink)
        .outputMode("append")
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000)); q.stop()
    }

    // drop 1 (k=2): buckets 50, 10, 70 -> reservoir {10, 50}; 70 not admitted
    stage(Seq(("s", 1L, 50L), ("s", 2L, 10L), ("s", 3L, 70L)), "d1.parquet")
    run()
    assert(admitted() == Set(("s", 1L), ("s", 2L)))

    // drop 2: bucket 5 evicts 50 (admitted); bucket 60 is not admitted.
    // doc 1's earlier admission row REMAINS in the log (append mode);
    // the final sample = 2 smallest admissions = {doc 4, doc 2}
    stage(Seq(("s", 4L, 5L), ("s", 5L, 60L)), "d2.parquet")
    run()
    assert(admitted() == Set(("s", 1L), ("s", 2L), ("s", 4L)))

    // drop 3: doc 4 RE-DELIVERED while still in the reservoir — must
    // not emit a second admission row (the final-sample derivation
    // reads the k smallest admissions and a duplicate would corrupt
    // it); doc 6 duplicated WITHIN the batch emits exactly once
    stage(Seq(("s", 4L, 5L), ("s", 6L, 1L), ("s", 6L, 1L)), "d3.parquet")
    run()
    val rows3 = spark.read
      .schema("stratum STRING, doc_id BIGINT, bucket BIGINT").parquet(sink)
      .collect()
    assert(rows3.count(_.getLong(1) == 4L) == 1, "re-delivery must not re-emit")
    assert(rows3.count(_.getLong(1) == 6L) == 1, "intra-batch dup emits once")
    // final sample after all drops = 2 smallest admissions by
    // (bucket, id): doc 6 (b=1) and doc 4 (b=5)
    val finalSample = spark.read
      .schema("stratum STRING, doc_id BIGINT, bucket BIGINT").parquet(sink)
      .orderBy("bucket", "doc_id").limit(2)
      .collect().map(_.getLong(1)).toSet
    assert(finalSample == Set(6L, 4L))
  }

  test("clusterIngestStream: streamed drops yield from-scratch labels") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val c = "one two three four five six seven eight nine ten"
    val standing = Seq((10L, a), (30L, c)).toDF("doc_id", "text")
    // three drops: a near-dup of A, a smaller-id near-dup of C (label
    // remap through a later micro-batch), a novel doc
    val drops = Seq((100L, a + " t"), (5L, c + " u"),
      (200L, "totally novel words unseen anywhere in this corpus now"))
      .toDF("doc_id", "text")
    val texts = standing.unionByName(drops)
    val dir = graft.util.TempDirs.scoped("streams-clusteringest")
    val store = dir.resolve("store").toString
    graft.dedup.Dedup.clusterTableInit(standing, "doc_id", "text",
      store, idBuckets = 4)
    val dropsDir = PipelineStreams.stageOrderedDrops(drops, "doc_id", 3,
      "streams-clusteringest-drops")
    PipelineStreams.withShufflePartitions(spark, 8) {
      PipelineStreams.clusterIngestStream(spark, dropsDir.toString,
        texts, "doc_id", "text", store,
        dir.resolve("ckpt").toString, maxFilesPerTrigger = 1)
    }
    val got = graft.dedup.Dedup.clusterTable(spark, store)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 10L, 100L -> 10L,
      30L -> 5L, 5L -> 5L, 200L -> 200L), s"got $got")
  }

  test("budgetAdmitStream: prefix rule, batch-boundary invariance") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    // per-source token stream: src A = 3,4,5,1 tokens; src B = 6,2
    // budget 8: A admits docs 1 (cum 3) and 2 (cum 7); doc 3 overflows
    // (cum 12) and doc 4 must NOT backfill (prefix rule: cum 13 > 8).
    // B admits 6 then 8.
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, words(3), "A"), (2L, words(4), "A"), (3L, words(5), "A"),
      (4L, words(1), "A"), (5L, words(6), "B"), (6L, words(2), "B"))
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def run(chunks: Int, tag: String): Seq[(String, Long, Long, Long)] = {
      val dir = PipelineStreams.stageOrderedDrops(docs, "doc_id", chunks,
        s"streams-budget-$tag")
      val view = s"budget_out_$tag"
      spark.catalog.dropTempView(view)
      PipelineStreams.withShufflePartitions(spark, 8) {
        val q = PipelineStreams.budgetAdmitStream(
            PipelineStreams.readDocs(spark, dir.toString, Some(1)),
            budget = 8L)
          .toDF()
          .writeStream.format("memory").queryName(view)
          .outputMode("append")
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .start()
        require(q.awaitTermination(120000), "stream timed out"); q.stop()
      }
      spark.table(view).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(x => (x._1, x._2)).toSeq
    }
    val admitted = run(3, "a")
    assert(admitted == Seq(("A", 1L, 3L, 3L), ("A", 2L, 4L, 7L),
      ("B", 5L, 6L, 6L), ("B", 6L, 2L, 8L)), s"got $admitted")
    // one drop == three drops: the admission set and cum_tokens are
    // batch-boundary-invariant
    assert(run(1, "b") == admitted)
  }

  test("annIndexAppendStream: streamed drops == batch appends; replay is a no-op") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(col("vec_id") % 10 =!= 9)
    val delta = emb.filter(col("vec_id") % 10 === 9)
    val q = emb.filter(col("vec_id") < 10)
    def buildBase(path: String): Unit =
      graft.similarity.Similarity.ivfPqIndexBuild(base, "vec_id",
        "embedding", nCells = 4, itersCoarse = 1, m = 4, ks = 4,
        itersPq = 1, path = path)
    def serve(path: String) =
      graft.similarity.Similarity.ivfPqIndexTopK(q, "vec_id",
          "embedding", k = 5, nProbe = 2, path = path)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(x => (x._1, x._2)).toSeq
    val dir = graft.util.TempDirs.scoped("streams-annindex")
    val batchPath = dir.resolve("batch").toString
    buildBase(batchPath)
    graft.similarity.Similarity.ivfPqIndexAppend(delta, "vec_id",
      "embedding", batchPath)
    val streamPath = dir.resolve("stream").toString
    buildBase(streamPath)
    val dropsDir = PipelineStreams.stageOrderedDrops(delta, "vec_id", 2,
      "streams-annindex-drops")
    val ckpt = dir.resolve("ckpt").toString
    PipelineStreams.withShufflePartitions(spark, 8) {
      PipelineStreams.annIndexAppendStream(spark, dropsDir.toString,
        "vec_id", "embedding", streamPath, ckpt)
    }
    val streamed = serve(streamPath)
    assert(streamed == serve(batchPath),
      "streamed appends must reconstruct the batch-append index")
    // replaying the same drops against the same checkpoint must not
    // duplicate postings (checkpoint skips committed batches; the
    // marker guard covers a redelivered one) — the serve is unchanged
    PipelineStreams.withShufflePartitions(spark, 8) {
      PipelineStreams.annIndexAppendStream(spark, dropsDir.toString,
        "vec_id", "embedding", streamPath, ckpt)
    }
    assert(serve(streamPath) == streamed, "replay must be a no-op")
    // marker growth is bounded: the replay run folded the committed
    // horizon, so the two per-batch markers collapsed into ONE
    // horizon file carrying the max committed batch id in its name
    val markers = Option(new java.io.File(streamPath, ".batches").list())
      .getOrElse(Array.empty[String]).filterNot(_.startsWith("."))
    assert(markers.length == 1 && markers.head.endsWith("-h1"),
      s"markers should fold to one horizon file: ${markers.toSeq}")
  }

  test("annIndexRetractStream with vacuumAfterTombstones: the backlog " +
      "self-relieves in-stream (retrain-free fold, epoch bumped), " +
      "serve still excludes every taken-down id") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = graft.util.TempDirs.scoped("streams-annretr-vac")
    val path = dir.resolve("ix").toString
    graft.similarity.Similarity.ivfIndexBuild(
      emb.filter(col("vec_id") < 80), "vec_id", "embedding",
      nCells = 3, iters = 1, path = path)
    val takedown = Seq(3L, 7L, 11L)
    val drops = PipelineStreams.stageOrderedDrops(
      emb.filter(col("vec_id").isin(takedown: _*)).select("vec_id"),
      "vec_id", 3, "streams-annretr-vac-drops")
    PipelineStreams.withShufflePartitions(spark, 8) {
      PipelineStreams.annIndexRetractStream(spark, drops.toString,
        "vec_id", path, dir.resolve("ckpt").toString,
        vacuumAfterTombstones = 2)
    }
    val snap = graft.similarity.IndexLayout.resolve(spark, path)
    assert(snap.tombstones.length < 2,
      s"automation must keep the backlog below the threshold: $snap")
    assert(snap.repoch >= 1L, "at least one in-stream vacuum must run")
    // every taken-down id is gone from the serve — whether it was
    // physically folded or still rides the (sub-threshold) list
    val served = graft.similarity.Similarity.ivfIndexTopK(
        emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, nProbe = 3, path = path)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(takedown.forall(id => !served.contains(id)),
      s"taken-down ids must not serve: $served")
  }

  test("annIndexAppendStream: batch markers resolve through the INDEX " +
      "path's FileSystem (scheme-qualified path), not the local disk") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(col("vec_id") % 10 =!= 9)
    val delta = emb.filter(col("vec_id") % 10 === 9 && col("vec_id") < 200)
    val dir = graft.util.TempDirs.scoped("streams-annindex-fs")
    // an EXPLICIT-scheme index path: spark/hadoop resolve it to the
    // local FS, but java.io.File would mangle it into a literal
    // "./file:" directory — exactly the divorce the driver-local
    // marker bug produced on hdfs:// / s3a:// index paths
    val localDir = dir.resolve("idx")
    val indexPath = "file://" + localDir
    graft.similarity.Similarity.ivfPqIndexBuild(base, "vec_id",
      "embedding", nCells = 4, itersCoarse = 1, m = 4, ks = 4,
      itersPq = 1, path = indexPath)
    val dropsDir = PipelineStreams.stageOrderedDrops(delta, "vec_id", 2,
      "streams-annindex-fs-drops")
    val ckpt = dir.resolve("ckpt").toString
    def countPostings(): Long =
      graft.similarity.Similarity.indexPostings(spark, indexPath).count()
    PipelineStreams.withShufflePartitions(spark, 8) {
      PipelineStreams.annIndexAppendStream(spark, dropsDir.toString,
        "vec_id", "embedding", indexPath, ckpt)
    }
    val after = countPostings()
    // markers must land BESIDE the postings under the resolved path
    val markers = Option(new java.io.File(localDir.toFile, ".batches").list())
      .getOrElse(Array.empty[String]).filterNot(_.startsWith("."))
    assert(markers.length == 2,
      s"markers beside the postings: ${markers.toSeq}")
    assert(!new java.io.File("file:").exists,
      "no mangled driver-local 'file:' directory may appear")
    // marker-level replay guard: wipe the CHECKPOINT (batchIds restart
    // at 0) and replay the same drops — the scoped markers alone must
    // make every redelivered batch a no-op
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(ckpt))
    PipelineStreams.withShufflePartitions(spark, 8) {
      PipelineStreams.annIndexAppendStream(spark, dropsDir.toString,
        "vec_id", "embedding", indexPath, ckpt)
    }
    assert(countPostings() == after,
      "replay under restarted batchIds must not double-append")
  }

  test("annIndexAppendStream: in-stream compaction keeps every cell at " +
      "~one file and never changes the served rows") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(col("vec_id") % 10 =!= 9)
    val delta = emb.filter(col("vec_id") % 10 === 9)
    val q = emb.filter(col("vec_id") < 10)
    val dir = graft.util.TempDirs.scoped("streams-annindex-compact")
    def build(tag: String): String = {
      val p = dir.resolve(tag).toString
      graft.similarity.Similarity.ivfPqIndexBuild(base, "vec_id",
        "embedding", nCells = 4, itersCoarse = 1, m = 4, ks = 4,
        itersPq = 1, path = p)
      p
    }
    def serve(p: String) =
      graft.similarity.Similarity.ivfPqIndexTopK(q, "vec_id",
          "embedding", k = 5, nProbe = 2, path = p)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).sorted.toSeq
    val dropsDir = PipelineStreams.stageOrderedDrops(delta, "vec_id", 3,
      "streams-annindex-compact-drops")
    val plain = build("plain")
    PipelineStreams.withShufflePartitions(spark, 8) {
      PipelineStreams.annIndexAppendStream(spark, dropsDir.toString,
        "vec_id", "embedding", plain, dir.resolve("ck1").toString)
    }
    val compacted = build("compacted")
    PipelineStreams.withShufflePartitions(spark, 8) {
      PipelineStreams.annIndexAppendStream(spark, dropsDir.toString,
        "vec_id", "embedding", compacted, dir.resolve("ck2").toString,
        compactMaxFilesPerCell = 1)
    }
    assert(serve(compacted) == serve(plain),
      "in-stream compaction must be value-invisible")
    // every LIVE cell of the compacted index sits at <= 1 parquet
    // file (counted across postings generations minus excluded cells)
    graft.similarity.Similarity
      .indexPostingsFilesPerCell(spark, compacted).foreach {
        case (cell, n) => assert(n <= 1, s"cell=$cell holds $n live files")
      }
  }

  test("annIndexMarkersCompact: replay after the fold never " +
      "double-appends — same checkpoint, a WIPED checkpoint, and new " +
      "drops arriving after the wipe") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(col("vec_id") % 10 =!= 9)
    val delta = emb.filter(col("vec_id") % 10 === 9 && col("vec_id") < 400)
    val late = emb.filter(col("vec_id") % 10 === 9 &&
      col("vec_id") >= 400 && col("vec_id") < 600)
    val dir = graft.util.TempDirs.scoped("streams-marker-fold")
    val indexPath = dir.resolve("idx").toString
    graft.similarity.Similarity.ivfPqIndexBuild(base, "vec_id",
      "embedding", nCells = 4, itersCoarse = 1, m = 4, ks = 4,
      itersPq = 1, path = indexPath)
    val dropsDir = PipelineStreams.stageOrderedDrops(delta, "vec_id", 2,
      "streams-marker-fold-drops")
    val ckpt = dir.resolve("ckpt").toString
    def run(): Unit = PipelineStreams.withShufflePartitions(spark, 8) {
      PipelineStreams.annIndexAppendStream(spark, dropsDir.toString,
        "vec_id", "embedding", indexPath, ckpt)
    }
    def countPostings(): Long =
      graft.similarity.Similarity.indexPostings(spark, indexPath).count()
    def markers(): Seq[String] =
      Option(new java.io.File(indexPath, ".batches").list())
        .getOrElse(Array.empty[String]).filterNot(_.startsWith("."))
        .toSeq.sorted
    run()
    val after = countPostings()
    assert(markers().count(_.contains("-b")) == 2, s"got ${markers()}")
    // explicit fold: both batch markers collapse into one horizon file
    val h = PipelineStreams.annIndexMarkersCompact(spark, indexPath, ckpt)
    assert(h == 1L, s"horizon should be the max committed batch, got $h")
    assert(markers().length == 1 && markers().head.endsWith("-h1"),
      s"got ${markers()}")
    // restart from the SAME checkpoint: nothing redelivered, nothing
    // double-appended, and the fold is idempotent
    run()
    assert(countPostings() == after, "same-checkpoint replay must be a no-op")
    // WIPE the checkpoint (batch ids restart at 0): the horizon file
    // alone must make the redelivered batches no-ops
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(ckpt))
    run()
    assert(countPostings() == after,
      "wipe-and-replay after the fold must not double-append")
    // NEW drops arriving after the wipe must still land: stage a
    // third file with a later mtime into the same drop folder
    val lateDir = PipelineStreams.stageOrderedDrops(late, "vec_id", 1,
      "streams-marker-fold-late")
    val lateFile = Option(lateDir.toFile.listFiles())
      .flatMap(_.find(_.getName.endsWith(".parquet"))).get
    val dest = dropsDir.resolve("c02.parquet")
    java.nio.file.Files.copy(lateFile.toPath, dest)
    require(dest.toFile.setLastModified(1000000000000L + 2 * 60000L))
    rm(new java.io.File(ckpt))
    run()
    assert(countPostings() == after + late.count(),
      "post-fold appends of genuinely new drops must land exactly once")
  }

  test("annIndexMarkersCompact: a committed-but-EMPTY batch stops the " +
      "fold — the horizon only ever absorbs existing markers") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(col("vec_id") % 10 =!= 9)
    val delta = emb.filter(col("vec_id") % 10 === 9 && col("vec_id") < 400)
    val dir = graft.util.TempDirs.scoped("streams-marker-gap")
    val indexPath = dir.resolve("idx").toString
    graft.similarity.Similarity.ivfPqIndexBuild(base, "vec_id",
      "embedding", nCells = 4, itersCoarse = 1, m = 4, ks = 4,
      itersPq = 1, path = indexPath)
    val dropsDir = PipelineStreams.stageOrderedDrops(delta, "vec_id", 2,
      "streams-marker-gap-drops")
    // plant a ZERO-ROW drop file between the two real ones: its batch
    // commits but writes no marker (the !batch.isEmpty guard) — under
    // a wiped checkpoint that batch id belongs to whatever file holds
    // the slot on replay, so the fold must NOT absorb it
    val gapDir = graft.util.TempDirs.scoped("streams-marker-gap-empty")
    delta.filter(lit(false)).coalesce(1)
      .write.mode("overwrite").parquet(gapDir.toString)
    val gapFile = Option(gapDir.toFile.listFiles())
      .flatMap(_.find(_.getName.endsWith(".parquet"))).get
    val dest = dropsDir.resolve("c00b.parquet") // sorts between c00/c01
    java.nio.file.Files.copy(gapFile.toPath, dest)
    require(dest.toFile.setLastModified(1000000000000L + 30000L))
    val ckpt = dir.resolve("ckpt").toString
    PipelineStreams.withShufflePartitions(spark, 8) {
      PipelineStreams.annIndexAppendStream(spark, dropsDir.toString,
        "vec_id", "embedding", indexPath, ckpt)
    }
    val after = graft.similarity.Similarity
      .indexPostings(spark, indexPath).count()
    // batches: 0 = first real drop (marker b0), 1 = empty (committed,
    // unmarked), 2 = second real drop (marker b2)
    val h = PipelineStreams.annIndexMarkersCompact(spark, indexPath, ckpt)
    assert(h == 0L, s"the unmarked empty batch must stop the fold, got $h")
    val markers = Option(new java.io.File(indexPath, ".batches").list())
      .getOrElse(Array.empty[String]).filterNot(_.startsWith("."))
      .toSeq.sorted
    assert(markers.exists(_.endsWith("-h0")) &&
      markers.exists(_.endsWith("-b2")) &&
      !markers.exists(_.endsWith("-b0")), s"got $markers")
    // wipe-and-replay: horizon + surviving marker together still make
    // every redelivered batch a no-op
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(ckpt))
    PipelineStreams.withShufflePartitions(spark, 8) {
      PipelineStreams.annIndexAppendStream(spark, dropsDir.toString,
        "vec_id", "embedding", indexPath, ckpt)
    }
    assert(graft.similarity.Similarity
      .indexPostings(spark, indexPath).count() == after,
      "gap-stopped fold must still dedupe the full replay")
  }
}
