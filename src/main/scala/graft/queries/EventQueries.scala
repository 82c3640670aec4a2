package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Event-stream analytics over the `events` table in its BATCH form —
  * the same logical computations the streaming layer
  * ([[graft.streaming.EventStreams]]) runs incrementally; structured
  * streaming itself is exercised in StreamingSpec (memory sink), since
  * the driver's oracle harness is batch-only.
  *
  * Timestamps: `events.parquet` stores INT64 nanos (see
  * [[graft.Tables.events]]); all time arithmetic here is integer
  * microsecond math (`ts_ns div 1000`) so the DuckDB oracle can mirror
  * it exactly (`epoch_ns(ts) // 1000`).
  */
object EventQueries {
  private type Q = (SparkSession, String) => DataFrame

  private val HourUs = 3600L * 1000 * 1000

  val defs: Map[String, Q] = Map(
    // Tumbling 1-hour windows per event type (streaming window agg,
    // batch-equivalent).
    "q_e_hourly" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("m", expr("ts_ns div 1000"))
        .groupBy((expr(s"m div $HourUs") * HourUs).as("hour_us"),
          col("event_type"))
        // value summed as exact integer cents: a double sum's result
        // depends on partial-aggregation order (shuffle fetch order is
        // nondeterministic), so round(sum(double)) is not reproducible
        // across engines or even runs — round per row, sum bigints.
        .agg(count(lit(1)).as("n"),
          sum(bround(col("value") * lit(100.0), 0).cast("bigint")).as("sum_value_c"))
        .orderBy("hour_us", "event_type")
    }),

    // Gap-based sessionization (30-min inactivity), the batch twin of
    // flatMapGroupsWithState: lag -> new-session flag -> running count.
    "q_e_sessions" -> ((s, d) => {
      val order = Seq(col("m").asc, col("event_id").asc)
      val wOrd = Window.partitionBy(col("user_id")).orderBy(order: _*)
      val gapUs = 30L * 60 * 1000 * 1000
      Tables.events(s, d)
        .withColumn("m", expr("ts_ns div 1000"))
        .withColumn("prev", lag(col("m"), 1).over(wOrd))
        .withColumn("new_s",
          when(col("prev").isNull || col("m") - col("prev") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("session_idx", sum(col("new_s")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          min("m").as("start_us"), max("m").as("end_us"),
          (max(col("m")) - min(col("m"))).as("dur_us"),
          // exact integer-cents sum — see q_e_hourly note (r1 hash fail)
          sum(bround(col("value") * lit(100.0), 0).cast("bigint")).as("sum_value_c"))
        .orderBy("user_id", "session_idx")
    }),

    // Sessionization executed through the REAL streaming engine:
    // file-source drop folder -> flatMapGroupsWithState ->
    // Trigger.AvailableNow -> memory sink, materialized as a DataFrame.
    // Emits CLOSED sessions only (a stream cannot finalize each user's
    // open tail); the oracle applies the same exclusion.
    "q_stream_sessions" -> ((s, d) => {
      val dir = graft.util.TempDirs.scoped("graft-stream-ev")
      // absolute target: a relative sfDir would otherwise resolve
      // against the temp dir and dangle
      java.nio.file.Files.createSymbolicLink(
        dir.resolve("events.parquet"),
        java.nio.file.Paths.get(s"$d/events.parquet").toAbsolutePath)
      val typed = graft.streaming.EventStreams.toTypedEvents(
        graft.streaming.EventStreams.readEvents(s, dir.toString))
      // explicit tmpfs checkpoint: the implicit default lands on
      // the disk-backed java.io.tmpdir (see TempDirs)
      val out = graft.streaming.PipelineStreams.runToMemory(s,
          "q_stream_sessions", "stream_sessions_out",
          dir.resolve("ckpt").toString) {
        graft.streaming.EventStreams.sessionize(typed)
      }
      out
        .select(col("user_id"), col("session_idx"), col("n_events"),
          col("start_us"), col("end_us"),
          (col("end_us") - col("start_us")).as("dur_us"), col("sum_value_c"))
        .orderBy("user_id", "session_idx")
    }),

    // Event funnel: per user, did view precede purchase — ONE
    // conditional aggregation pass (null-skipping min per event type),
    // not per-type subqueries re-scanning the stream (3 scans -> 1).
    // Semi-structured JSON payload parsing (§2.9 function family):
    // events.props carries a JSON object per row — the universal
    // event-bus/CDC payload shape. `from_json` with an EXPLICIT schema
    // parses each row exactly once inside whole-stage codegen; schema
    // inference (or repeated `get_json_object` calls, one parse EACH)
    // would re-scan or re-parse the 100 TB side. Null-safety arms:
    // malformed JSON and missing keys both surface as NULL k, counted
    // separately from k's aggregates.
    "q_f_json" -> ((s, d) => {
      val propsSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(
          "k", org.apache.spark.sql.types.IntegerType)))
      Tables.events(s, d)
        .withColumn("k", from_json(col("props"), propsSchema).getField("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(col("k")).as("n_k"),
          sum(col("k").cast("bigint")).as("sum_k"),
          max(col("k")).as("max_k"),
          sum(when(col("k") >= 50, 1L).otherwise(0L)).as("n_hi"))
        .orderBy("event_type")
    }),

    // Cohort retention matrix: cohort = the user's FIRST-activity
    // week, cell = distinct users from that cohort active `offset`
    // weeks later, plus an integer-basis-point retention rate. Scale
    // shape: (user, week) distinct + per-user min are both
    // partial-aggregated shuffles on user_id (shared exchange), the
    // matrix itself is cohort x offset — tiny at any corpus size.
    "q_e_retention" -> ((s, d) => {
      val weekUs = 7L * 24 * HourUs
      val wk = Tables.events(s, d)
        .select(col("user_id"), expr(s"ts_ns div 1000 div $weekUs").as("wk"))
      val first = wk.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      val cohortSize = first.groupBy("cohort_wk")
        .agg(count(lit(1)).as("cohort_size"))
      // no (user, wk) pre-distinct: count_distinct(user_id) in the
      // cell aggregate already dedups, and a (user, wk) exchange
      // shares nothing with the (cohort, offset) aggregate's
      wk.join(first, Seq("user_id"))
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(count_distinct(col("user_id")).as("n_active"))
        .join(broadcast(cohortSize), Seq("cohort_wk"))
        .select(col("cohort_wk"), col("week_offset"), col("n_active"),
          col("cohort_size"),
          expr("(n_active * 10000) div cohort_size").as("retained_bp"))
        .orderBy("cohort_wk", "week_offset")
    }),

    "q_e_funnel" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("m", expr("ts_ns div 1000"))
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view", col("m"))).as("fv"),
          min(when(col("event_type") === "purchase", col("m"))).as("fp"))
        .select(col("user_id"),
          when(col("fv").isNotNull, 1L).otherwise(0L).as("viewed"),
          when(col("fp").isNotNull, 1L).otherwise(0L).as("purchased"),
          when(col("fv").isNotNull && col("fp").isNotNull
            && col("fv") < col("fp"), 1L).otherwise(0L).as("converted"))
        .orderBy("user_id")
    }),

    // STREAM-STREAM inner join through the REAL engine: purchases ⋈
    // views (same user, view within the 24 h before the purchase) over
    // 4 ordered event drops with both sides watermarked — cross-drop
    // pairs must come out of the join STATE, and the range condition
    // is what lets the engine bound that state (see
    // EventStreams.attributionJoin). withWatermark is a no-op in
    // batch, so the plain BETWEEN-join SQL is the exact oracle.
    // 2 files per micro-batch: an INNER join's result set is batch-
    // boundary-invariant (the horizon lives in the join condition;
    // fewer batches only means fewer watermark evictions, already
    // lossless at 1 file/trigger since the batch oracle matches), and
    // a stream-stream join pays 4 state stores per partition PER
    // MICRO-BATCH — the most commit-heavy fixture in the suite.
    "q_stream_join" -> ((s, d) => {
      // stage with the file's OWN schema (no forced ts type): the
      // staged drops then carry the same encoding, and readEvents
      // re-peeks it — one spot adapts to driver data regenerations
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = s.read.parquet(s"$d/events.parquet")
      val dir = graft.streaming.PipelineStreams.stageOrderedDrops(
        raw, "event_id", 4, "graft-stream-join")
      val ev = graft.streaming.EventStreams.readEvents(
        s, dir.toString, maxFilesPerTrigger = Some(2))
      // 8 fat state partitions: a stream-stream join keeps 4 stores
      // per partition per micro-batch — see withShufflePartitions
      val out = graft.streaming.PipelineStreams.runToMemory(s,
          "q_stream_join", "stream_join_out",
          dir.resolve("ckpt").toString) {
        graft.streaming.EventStreams.attributionJoin(
          ev.filter(col("event_type") === "purchase"),
          ev.filter(col("event_type") === "view"),
          horizonUs = 86400000000L)
      }
      out.orderBy("purchase_id", "view_id")
    }),

    // AS-OF JOIN (J8 extension — absent from the reference and from
    // Spark's join menu): every purchase enriched with the user's most
    // recent prior-or-simultaneous view. ops.AsOfJoin is the
    // union+window sort-merge-as-of shape — ONE shuffle on user_id, no
    // inequality-join nested loop. DuckDB's native ASOF LEFT JOIN is
    // the oracle. Times as exact micro longs; view value as exact
    // cents (doubles pass through untouched otherwise).
    "q_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("t_us", expr("ts_ns div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("t_us").as("ts_us"))
      // one view row per (user, microsecond): at equal right-side
      // times "the most recent view" is ambiguous and both engines
      // would tie-break arbitrarily — aggregate the tie away
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("t_us"))
        .agg(max(bround(col("value") * lit(100.0), 0).cast("bigint"))
          .as("view_value_c"))
      graft.ops.AsOfJoin.backward(purchases, views, Seq("user_id"),
          leftTime = "ts_us", rightTime = "t_us",
          payload = Seq("view_value_c"), rightTimeOut = "view_ts_us")
        .orderBy("purchase_id")
    }),

    // RANGE JOIN (point-in-interval): purchases landing inside the
    // 3-day window after any signup by the same user. ops.RangeJoin
    // bins intervals to 1-day buckets -> plain equi-join on
    // (user_id, bin) + exact containment filter; the naive
    // BETWEEN-join the oracle runs would be a per-key nested loop in
    // Spark.
    "q_range_join" -> ((s, d) => {
      val DayUs = 86400L * 1000 * 1000
      val ev = Tables.events(s, d).withColumn("t_us", expr("ts_ns div 1000"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("signup_id"),
          col("t_us").as("t0_us"), (col("t_us") + lit(3 * DayUs)).as("t1_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("t_us").as("ts_us"))
      graft.ops.RangeJoin.pointInInterval(purchases, signups,
          Seq("user_id"), timeCol = "ts_us", startCol = "t0_us",
          endCol = "t1_us", binWidth = DayUs)
        .select("user_id", "signup_id", "purchase_id", "ts_us")
        .orderBy("signup_id", "purchase_id")
    }))

  val oracles: Map[String, String] = Map(
    "q_f_json" ->
      """WITH p AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS INT) AS k
        |  FROM events)
        |SELECT event_type, count(*) AS n, count(k) AS n_k,
        |  CAST(sum(k) AS BIGINT) AS sum_k, max(k) AS max_k,
        |  CAST(sum(CASE WHEN k >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_e_hourly" ->
      """SELECT (epoch_ns(ts) // 1000 // 3600000000) * 3600000000 AS hour_us,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(round_even(value * 100.0, 0) AS BIGINT)) AS BIGINT)
        |    AS sum_value_c
        |FROM events GROUP BY 1, 2 ORDER BY hour_us, event_type""".stripMargin,
    "q_e_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_ns(ts) // 1000 AS m
        |  FROM events),
        |l AS (
        |  SELECT user_id, event_id, value, m,
        |    lag(m) OVER (PARTITION BY user_id ORDER BY m, event_id) AS prev
        |  FROM e),
        |f AS (
        |  SELECT user_id, event_id, value, m,
        |    CASE WHEN prev IS NULL OR m - prev > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM l),
        |x AS (
        |  SELECT user_id, value, m,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY m, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_idx
        |  FROM f)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  min(m) AS start_us, max(m) AS end_us, max(m) - min(m) AS dur_us,
        |  CAST(sum(CAST(round_even(value * 100.0, 0) AS BIGINT)) AS BIGINT)
        |    AS sum_value_c
        |FROM x GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin,
    // q_e_sessions minus each user's last (still-open) session — the
    // closed-session set a streaming engine can legitimately emit.
    "q_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, value, epoch_ns(ts) // 1000 AS m
        |  FROM events),
        |l AS (
        |  SELECT user_id, event_id, value, m,
        |    lag(m) OVER (PARTITION BY user_id ORDER BY m, event_id) AS prev
        |  FROM e),
        |f AS (
        |  SELECT user_id, event_id, value, m,
        |    CASE WHEN prev IS NULL OR m - prev > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM l),
        |x AS (
        |  SELECT user_id, value, m,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY m, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_idx
        |  FROM f),
        |s AS (
        |  SELECT user_id, session_idx, count(*) AS n_events,
        |    min(m) AS start_us, max(m) AS end_us, max(m) - min(m) AS dur_us,
        |    CAST(sum(CAST(round_even(value * 100.0, 0) AS BIGINT)) AS BIGINT)
        |      AS sum_value_c
        |  FROM x GROUP BY user_id, session_idx)
        |SELECT user_id, session_idx, n_events, start_us, end_us, dur_us,
        |  sum_value_c
        |FROM (SELECT s.*, max(session_idx) OVER (PARTITION BY user_id) AS mx FROM s)
        |WHERE session_idx < mx
        |ORDER BY user_id, session_idx""".stripMargin,
    "q_e_retention" ->
      """WITH w AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 // 604800000000 AS wk
        |  FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_wk FROM w GROUP BY 1),
        |cs AS (
        |  SELECT cohort_wk, count(*) AS cohort_size FROM f GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, wk FROM w),
        |r AS (
        |  SELECT f.cohort_wk, a.wk - f.cohort_wk AS week_offset,
        |    count(DISTINCT a.user_id) AS n_active
        |  FROM a JOIN f USING (user_id) GROUP BY 1, 2)
        |SELECT r.cohort_wk, r.week_offset,
        |  CAST(r.n_active AS BIGINT) AS n_active,
        |  CAST(cs.cohort_size AS BIGINT) AS cohort_size,
        |  CAST((r.n_active * 10000) // cs.cohort_size AS BIGINT) AS retained_bp
        |FROM r JOIN cs USING (cohort_wk)
        |ORDER BY cohort_wk, week_offset""".stripMargin,
    "q_e_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS m FROM events),
        |v AS (SELECT user_id, min(m) AS fv FROM e WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT user_id, min(m) AS fp FROM e WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT u.user_id,
        |  CASE WHEN v.fv IS NOT NULL THEN 1 ELSE 0 END AS viewed,
        |  CASE WHEN p.fp IS NOT NULL THEN 1 ELSE 0 END AS purchased,
        |  CASE WHEN v.fv IS NOT NULL AND p.fp IS NOT NULL AND v.fv < p.fp
        |       THEN 1 ELSE 0 END AS converted
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN v ON u.user_id = v.user_id
        |LEFT JOIN p ON u.user_id = p.user_id
        |ORDER BY u.user_id""".stripMargin,
    "q_stream_join" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id,
        |             epoch_ns(ts) // 1000 AS ts_us
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, event_id AS view_id,
        |        epoch_ns(ts) // 1000 AS view_ts_us
        |      FROM events WHERE event_type = 'view')
        |SELECT p.user_id, p.purchase_id, p.ts_us, v.view_id, v.view_ts_us
        |FROM p JOIN v ON p.user_id = v.user_id
        |  AND v.view_ts_us BETWEEN p.ts_us - 86400000000 AND p.ts_us
        |ORDER BY purchase_id, view_id""".stripMargin,
    // DuckDB's NATIVE ASOF LEFT JOIN oracles the union+window
    // restatement: greatest v.t_us <= p.ts_us per purchase, nulls when
    // no prior view. CASE-cast keeps viewed-value typing stable.
    "q_asof_join" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id,
        |             epoch_ns(ts) // 1000 AS ts_us
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, epoch_ns(ts) // 1000 AS t_us,
        |        max(CAST(round_even(value * 100.0, 0) AS BIGINT)) AS view_value_c
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.user_id, p.purchase_id, p.ts_us,
        |  v.t_us AS view_ts_us, v.view_value_c
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND p.ts_us >= v.t_us
        |ORDER BY purchase_id""".stripMargin,
    "q_range_join" ->
      """WITH s AS (SELECT user_id, event_id AS signup_id,
        |             epoch_ns(ts) // 1000 AS t0_us,
        |             epoch_ns(ts) // 1000 + 259200000000 AS t1_us
        |           FROM events WHERE event_type = 'signup'),
        |p AS (SELECT user_id, event_id AS purchase_id,
        |        epoch_ns(ts) // 1000 AS ts_us
        |      FROM events WHERE event_type = 'purchase')
        |SELECT s.user_id, s.signup_id, p.purchase_id, p.ts_us
        |FROM s JOIN p
        |  ON s.user_id = p.user_id AND p.ts_us BETWEEN s.t0_us AND s.t1_us
        |ORDER BY signup_id, purchase_id""".stripMargin)
}
