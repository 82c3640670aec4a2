package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of one layer. Times are epoch milliseconds, so
  * the benchmark's own spans and Spark's event times share one clock. */
final case class Span(id: String, parent: String, kind: String,
    name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

object Tracer {
  private[perfbench] final case class Sql(id: Long, start: Long, end: Long)
  private[perfbench] final case class Job(id: Int, start: Long, end: Long, sql: Long,
      module: String, stages: Seq[Int])
  private[perfbench] final case class Stage(id: String, job: Int, start: Long,
      end: Long)
  private[perfbench] final case class Task(stage: Int, launch: Long, finish: Long,
      ok: Boolean, cpuNs: Long, gcMs: Long, shWrite: Long, shRead: Long,
      spill: Long, input: Long, result: Long)
  private[perfbench] final case class Plan(at: Long, planS: Double, joins: Int,
      exchanges: Int, broadcasts: Int, writeBytes: Option[Long],
      scans: Seq[String])
  private[perfbench] final case class Batch(start: Long, triggerMs: Long,
      addBatchMs: Long, rows: Long)
  private[perfbench] final case class Sample(at: Long, rdds: Int, storage: Long)

  /** The engine's modules a job can be attributed to. */
  val Modules: Seq[String] = Seq("queries", "dedup", "similarity", "text",
    "ops", "streaming", "stats", "functions", "multimodal", "ingest")

  /** The innermost `graft.<module>` frame of a long-form call site
    * (innermost frame first, one per line), or "unattributed". */
  def moduleOf(callSite: String): String =
    Option(callSite).iterator.flatMap(_.split('\n')).map(_.trim)
      .map(_.split('.'))
      .collectFirst { case p if p.length > 2 && p(0) == "graft" &&
        Modules.contains(p(1)) => p(1) }
      .getOrElse("unattributed")

  /** Nodes of an executed plan, through adaptive wrappers, query
    * stages and subqueries; a reused exchange is not counted again. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Iterator.empty
    case other => Iterator(other) ++
      other.children.iterator.flatMap(nodes) ++
      other.subqueries.iterator.flatMap(nodes)
  }
}

/** Collects Spark's scheduler, SQL and streaming events plus storage
  * samples for the traced run, and turns them into spans and per-layer
  * counters for a set of the benchmark's query windows. */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc = spark.sparkContext

  private val sqlStart = mutable.Map.empty[Long, Long]
  private val sqlModule = mutable.Map.empty[Long, String]
  private val sqls = ArrayBuffer.empty[Sql]
  private val jobStarts = mutable.Map.empty[Int, (Long, Long, String, Seq[Int])]
  private val jobs = ArrayBuffer.empty[Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val submitted = mutable.Set.empty[Int]
  private val stages = ArrayBuffer.empty[Stage]
  private val tasks = ArrayBuffer.empty[Task]
  private val plans = ArrayBuffer.empty[Plan]
  private val batches = ArrayBuffer.empty[Batch]
  private val samples = ArrayBuffer.empty[Sample]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized0 {
      val sql = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption).getOrElse(-1L)
      val site = if (e.stageInfos.isEmpty) null
        else e.stageInfos.maxBy(_.stageId).details
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobStarts(e.jobId) = (e.time, sql, Tracer.moduleOf(site), e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized0 {
      // a job submitted off the action's thread (broadcasts, adaptive
      // stages) carries no engine frame; its SQL execution's does
      jobStarts.remove(e.jobId).foreach { case (t0, sql, m, st) =>
        val mod = if (m != "unattributed") m
          else sqlModule.getOrElse(sql, m)
        jobs += Job(e.jobId, t0, e.time, sql, mod, st)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized0 { submitted += e.stageInfo.stageId }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized0 {
        val i = e.stageInfo
        stages += Stage(s"${i.stageId}.${i.attemptNumber()}",
          stageJob.getOrElse(i.stageId, -1),
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized0 {
      val m = e.taskMetrics
      val i = e.taskInfo
      tasks += (if (m == null) Task(e.stageId, i.launchTime, i.finishTime,
          i.successful, 0, 0, 0, 0, 0, 0, 0)
        else Task(e.stageId, i.launchTime, i.finishTime, i.successful,
          m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.resultSize))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized0 {
        sqlStart(s.executionId) = s.time
        sqlModule(s.executionId) = Tracer.moduleOf(s.details)
      }
      case s: SparkListenerSQLExecutionEnd => synchronized0 {
        sqlStart.remove(s.executionId).foreach(t0 =>
          sqls += Sql(s.executionId, t0, s.time))
      }
      case _ =>
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val at = phases.get("planning").map(_.endTimeMs)
        .getOrElse(System.currentTimeMillis())
      val ns = try Tracer.nodes(qe.executedPlan).toVector
        catch { case scala.util.control.NonFatal(_) => Vector.empty }
      val p = Plan(at, phases.values.map(_.durationMs).sum / 1000.0,
        ns.count(_.isInstanceOf[BaseJoinExec]),
        ns.count(_.isInstanceOf[ShuffleExchangeLike]),
        ns.count(_.isInstanceOf[BroadcastExchangeLike]),
        ns.collect { case w: DataWritingCommandExec =>
          w.cmd.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
        }.reduceOption(_ + _),
        ns.collect { case f: FileSourceScanExec =>
          f.requiredSchema.fieldNames.toSeq }.flatten.distinct)
      synchronized0 { plans += p }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
      val b = Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
        ms("triggerExecution"), ms("addBatch"), p.numInputRows)
      synchronized0 { batches += b }
    }
  }

  @volatile private var sampling = false
  private var sampler: Thread = null

  private def synchronized0[T](body: => T): T = this.synchronized(body)

  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    sampling = true
    sampler = new Thread(() => {
      while (sampling) {
        val storage = sc.getExecutorMemoryStatus.values
          .map { case (max, free) => max - free }.sum
        val s = Sample(System.currentTimeMillis(),
          sc.getPersistentRDDs.size, storage)
        synchronized0 { samples += s }
        Thread.sleep(50)
      }
    }, "perfbench-sampler")
    sampler.setDaemon(true)
    sampler.start()
  }

  def stop(): Unit = {
    sampling = false
    sampler.join()
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Spans of Spark's layers under the given benchmark windows (the
    * build and action spans): SQL action -> job -> stage, and
    * micro-batches under their query. Events outside every window
    * (warm-up, cleanup) are left out. */
  def spans(windows: Seq[Span], queries: Seq[Span]): Seq[Span] =
    synchronized0 {
      def within(ws: Seq[Span], t: Double): Option[Span] =
        ws.find(w => t >= w.start - 1 && t <= w.end + 1)
      val out = ArrayBuffer.empty[Span]
      val sqlIds = mutable.Set.empty[Long]
      sqls.foreach { s =>
        within(windows, s.start.toDouble).foreach { w =>
          sqlIds += s.id
          out += Span(s"sql-${s.id}", w.id, "sql", "sql", s.start, s.end)
        }
      }
      val jobIds = mutable.Set.empty[Int]
      jobs.foreach { j =>
        val parent = if (sqlIds.contains(j.sql)) Some(s"sql-${j.sql}")
          else within(windows, j.start.toDouble).map(_.id)
        parent.foreach { p =>
          jobIds += j.id
          out += Span(s"job-${j.id}", p, "job", j.module, j.start, j.end)
        }
      }
      stages.foreach { s =>
        if (jobIds.contains(s.job))
          out += Span(s"stage-${s.id}", s"job-${s.job}", "stage", "stage",
            s.start, s.end)
      }
      batches.zipWithIndex.foreach { case (b, i) =>
        within(queries, b.start.toDouble).foreach { q =>
          out += Span(s"batch-$i", q.id, "batch", "micro-batch", b.start,
            b.start + b.triggerMs)
        }
      }
      out.toSeq
    }

  /** Columns the file scans of each query's plans read, by query. */
  def scannedColumns(queries: Seq[Span]): Map[String, Seq[String]] =
    synchronized0 {
      queries.map { q =>
        q.name -> plans.filter(p => p.at >= q.start - 1 && p.at <= q.end + 1)
          .flatMap(_.scans).distinct.sorted.toSeq
      }.toMap
    }

  /** Per-layer counters of one pass, from events inside its windows. */
  def passMetrics(windows: Seq[Span], queries: Seq[Span], cores: Int)
      : mutable.LinkedHashMap[String, Double] = synchronized0 {
    def in(t: Double): Boolean =
      windows.exists(w => t >= w.start - 1 && t <= w.end + 1)
    val m = mutable.LinkedHashMap.empty[String, Double]
    val ps = plans.filter(p => in(p.at.toDouble))
    m("sql.actions") = ps.size
    m("sql.plan_s") = ps.map(_.planS).sum
    m("sql.joins") = ps.map(_.joins).sum
    m("sql.exchanges") = ps.map(_.exchanges).sum
    m("sql.broadcasts") = ps.map(_.broadcasts).sum
    val js = jobs.filter(j => in(j.start.toDouble))
    val jobIds = js.map(_.id).toSet
    val ss = stages.filter(s => jobIds.contains(s.job))
    val ts = tasks.filter(t => in(t.launch.toDouble))
    val busyMs = ts.map(t => (t.finish - t.launch).toDouble).sum
    val windowMs = windows.map(_.dur).sum
    m("sched.jobs") = js.size
    m("sched.stages") = ss.size
    m("sched.stages_skipped") = js.flatMap(_.stages)
      .count(s => !submitted.contains(s))
    m("sched.tasks") = ts.size
    m("sched.failed_tasks") = ts.count(!_.ok)
    m("sched.idle_frac") =
      if (windowMs <= 0) 0.0 else 1.0 - busyMs / (cores * windowMs)
    m("exec.cpu_s") = ts.map(_.cpuNs).sum / 1e9
    m("exec.gc_s") = ts.map(_.gcMs).sum / 1e3
    m("exec.shuffle_write_bytes") = ts.map(_.shWrite).sum.toDouble
    m("exec.shuffle_read_bytes") = ts.map(_.shRead).sum.toDouble
    m("exec.spill_bytes") = ts.map(_.spill).sum.toDouble
    m("exec.input_bytes") = ts.map(_.input).sum.toDouble
    m("exec.result_bytes") = ts.map(_.result).sum.toDouble
    (Tracer.Modules :+ "unattributed").foreach { mod =>
      val mj = js.filter(_.module == mod)
      m(s"$mod.jobs") = mj.size
      m(s"$mod.job_s") = mj.map(j => j.end - j.start).sum / 1e3
    }
    m("ops.write_actions") = ps.count(_.writeBytes.isDefined)
    m("ops.output_bytes") = ps.flatMap(_.writeBytes).sum.toDouble
    val bs = batches.filter(b => queries.exists(q =>
      b.start >= q.start - 1 && b.start <= q.end + 1))
    m("streaming.batches") = bs.size
    m("streaming.rows") = bs.map(_.rows).sum.toDouble
    m("streaming.batch_s") = bs.map(_.triggerMs).sum / 1e3
    m("streaming.add_batch_s") = bs.map(_.addBatchMs).sum / 1e3
    m("streaming.engine_s") = bs.map(b => b.triggerMs - b.addBatchMs).sum / 1e3
    val lat = bs.map(_.triggerMs.toDouble).sorted.toSeq
    m("streaming.batch_p50_ms") = Stats.quantile(lat, 0.5)
    m("streaming.batch_p90_ms") = Stats.quantile(lat, 0.9)
    val sm = samples.filter(s => in(s.at.toDouble))
    m("mem.persisted_rdds_max") = if (sm.isEmpty) 0 else sm.map(_.rdds).max
    m("mem.storage_bytes_max") =
      if (sm.isEmpty) 0 else sm.map(_.storage).max.toDouble
    m
  }
}

object Stats {
  /** Linear-interpolated quantile of sorted values; 0 when empty. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Self time of each span kind: a span's duration minus the part of
    * it its children cover. */
  def selfTime(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0
        var curA = Double.NaN; var curB = Double.NaN
        cs.foreach { case (a, b) =>
          if (curA.isNaN || a > curB) {
            if (!curA.isNaN) covered += curB - curA
            curA = a; curB = b
          } else curB = math.max(curB, b)
        }
        if (!curA.isNaN) covered += curB - curA
        math.max(0.0, s.dur - covered)
      }.sum / 1e3
    }
  }
}
