package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Runs one workload of `graft.SparkEntry.queries` in this JVM and
  * writes a JSON record of everything it measured; `run.py` turns the
  * record into the benchmark's metrics.
  *
  * Set-up: JVM start, the Spark session and one untimed warm-up pass
  * over the workload, which also builds the engine's memoised
  * per-application stores. The warm-up result of each query is digested
  * and, after timing, written out for the DuckDB cross-check; that
  * digest is what every timed execution must reproduce.
  *
  * Timed passes run until `--seconds` have passed (at least
  * `--min-passes`, three by default, so no median rests on one pass),
  * each in a seed-permuted query order.
  * A query's timed window is its query function (build, including any
  * eager actions it runs) plus exactly one materialising `collect()`
  * (action). Between queries, outside the window: digest, cache clear,
  * stray streams stopped, two full GCs, the heap read.
  *
  * With `--trace 1` every other pass runs with Spark's listeners
  * attached and the counting file system counting; the record then
  * carries spans and per-layer counters for those passes, and a
  * kernel-level timing of the engine's native expressions. */
object Harness {
  final case class Args(workload: String, queries: Seq[String],
      data: String, work: String, seconds: Double, seed: Long,
      trace: Boolean, out: String, cores: Int, minPasses: Int,
      corrupt: Set[String])

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String): String = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("queries").split(',').toSeq.filter(_.nonEmpty),
      need("data"), need("work"), need("seconds").toDouble,
      need("seed").toLong, need("trace") == "1", need("out"),
      kv.getOrElse("cores", "4").toInt, kv.getOrElse("min-passes", "3").toInt,
      kv.get("corrupt").toSeq.flatMap(_.split(',')).toSet)
  }

  private val QueryTimeoutS = 90L

  /** A JSON object of the record, its keys in the order given; the
    * record is written with Jackson (Spark's own JSON library). */
  private def obj(kv: (String, Any)*): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap(kv: _*)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def load1(): Double = os.getSystemLoadAverage
  private def cpuS(): Double = os.getProcessCpuTime / 1e9
  private def gcS(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum / 1e3
  private def jitS(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  /** Heap in use as the last collection left it, from the collector's
    * own accounting, so nothing allocated after the GC is counted. */
  private def heapMb(): Double = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  /** Epoch milliseconds on the monotonic clock, so span durations are
    * exact and comparable with Spark's event times. */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Canonical digest of a result: columns in name order, each row
    * rendered value by value, rows sorted, then SHA-256. */
  def digest(schema: StructType, rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "∅"
      case d: Double => java.lang.Double.toString(d)
      case f: Float => java.lang.Float.toString(f)
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] => m.toSeq
        .map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case other => other.toString
    }
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => render(r.get(i)))
      .mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(schema.fieldNames(_)).mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().map(x => f"$x%02x").mkString
  }

  final case class Outcome(schema: StructType, rows: Array[Row],
      buildS: Double, actionS: Double)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // the long call-site form (the stack at job submission) is what
    // jobs are attributed to modules by; Spark keeps 20 frames unless
    // told otherwise
    System.setProperty("spark.callstack.depth", "400")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val mainMs = System.currentTimeMillis().toDouble
    val fns = a.queries.map(q => q -> graft.SparkEntry.queries.getOrElse(q,
      throw new IllegalArgumentException(s"no such query: $q")))
    val oracle = graft.SparkEntry.oracleSql
    val worker = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "perfbench-query"); t.setDaemon(true); t
    }

    def session(): SparkSession = {
      val b = SparkSession.builder()
        .master(s"local[${a.cores}]")
        .appName(s"perfbench-${a.workload}")
        .config("spark.sql.shuffle.partitions", a.cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"${a.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
        // the harness runs a full GC between queries; Spark's own timer
        // would land one inside a timed window at a random point
        .config("spark.cleaner.periodicGC.interval", "1h")
      val s = (if (a.trace) b.config("spark.hadoop.fs.file.impl",
        classOf[CountingFileSystem].getName) else b).getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    /** One execution on the query thread; a throw or a timeout is a Left. */
    def execute(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
        mark: String => Unit): Either[Throwable, Outcome] = {
      val f = worker.submit[Either[Throwable, Outcome]] { () =>
        try {
          mark("build")
          val t0 = System.nanoTime()
          val df = fn(spark, a.data)
          val t1 = System.nanoTime()
          mark("action")
          val rows = df.collect()
          val t2 = System.nanoTime()
          mark("")
          Right(Outcome(df.schema, rows, (t1 - t0) / 1e9, (t2 - t1) / 1e9))
        } catch { case e: Throwable => mark(""); Left(e) }
      }
      try f.get(QueryTimeoutS, TimeUnit.SECONDS)
      catch { case _: TimeoutException =>
        spark.sparkContext.cancelAllJobs()
        spark.streams.active.foreach(q => scala.util.Try(q.stop()))
        f.cancel(true)
        Left(new TimeoutException(s"query exceeded $QueryTimeoutS s"))
      }
    }

    def cleanup(spark: SparkSession): Double = {
      spark.catalog.clearCache()
      spark.streams.active.foreach(q => scala.util.Try(q.stop()))
      System.gc()
      // Spark's ContextCleaner removes the blocks of the broadcasts,
      // shuffles and RDDs that collection found unreachable on its own
      // thread, polling every 100 ms; a second collection after it ran
      // frees them, so the heap read does not depend on its timing
      Thread.sleep(300)
      System.gc()
      heapMb()
    }

    // ---- set-up: session + untimed warm-up pass -----------------------
    val spark = session()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val expected = mutable.LinkedHashMap.empty[String, String]
    val warm = ArrayBuffer.empty[scala.collection.Map[String, Any]]
    val warmRows = mutable.LinkedHashMap.empty[String, Outcome]
    new scala.util.Random(a.seed * 7919L).shuffle(fns).foreach { case (name, fn) =>
      val w0 = System.nanoTime()
      val r = execute(spark, fn, _ => ())
      val ws = (System.nanoTime() - w0) / 1e9
      warm += (r match {
        case Right(o) =>
          val d = digest(o.schema, o.rows)
          expected(name) = if (a.corrupt(name)) "corrupted-" + d else d
          warmRows(name) = o
          obj("query" -> name, "ok" -> true, "s" -> ws, "digest" -> d,
            "rows" -> o.rows.length, "result_dir" -> s"${a.work}/results/$name")
        case Left(e) =>
          obj("query" -> name, "ok" -> false, "s" -> ws,
            "error" -> e.toString)
      })
      cleanup(spark)
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // ---- timed passes --------------------------------------------------
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val nproc = Runtime.getRuntime.availableProcessors()
    val spans = ArrayBuffer.empty[Span]
    var spanSeq = 0L
    def newSpan(parent: String, kind: String, name: String, s: Double,
        e: Double): Span = {
      spanSeq += 1
      val sp = Span(s"b-$spanSeq", parent, kind, name, s, e)
      spans += sp
      sp
    }
    val runStart = nowMs()
    val runId = "b-0"
    val passes = ArrayBuffer.empty[scala.collection.Map[String, Any]]
    var p = 0
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    // at least two passes (three by default), so no median rests on one
    // pass and a traced run (passes alternate) has at least one of each kind
    while (p < a.minPasses || System.nanoTime() < deadline) {
      val traced = a.trace && p % 2 == 1
      if (traced) tracer.foreach(_.start())
      val l0 = load1()
      val passStart = nowMs()
      val passId = s"b-pass-$p"
      val execs = ArrayBuffer.empty[scala.collection.Map[String, Any]]
      val windows = ArrayBuffer.empty[Span]
      val querySpans = ArrayBuffer.empty[Span]
      var cpu = 0.0; var gc = 0.0; var jit = 0.0
      var files = 0L; var bytes = 0L; var commits = 0L
      val order = new scala.util.Random(a.seed * 1000003L + p).shuffle(fns)
      order.foreach { case (name, fn) =>
        // window boundaries, stamped from the query thread itself
        val marks = ArrayBuffer.empty[(String, Double)]
        val c0 = cpuS(); val g0 = gcS(); val j0 = jitS()
        val f0 = CountingFileSystem.filesCreated.get
        val b0 = CountingFileSystem.bytesWritten()
        val m0 = CountingFileSystem.manifestCommits.get
        val r = execute(spark, fn, k => marks.synchronized {
          marks += (k -> nowMs())
        })
        val qCpu = cpuS() - c0; val qJit = jitS() - j0
        cpu += qCpu; gc += gcS() - g0; jit += qJit
        files += CountingFileSystem.filesCreated.get - f0
        bytes += CountingFileSystem.bytesWritten() - b0
        commits += CountingFileSystem.manifestCommits.get - m0
        val ms = marks.synchronized(marks.toVector)
        val qStart = ms.headOption.map(_._2).getOrElse(nowMs())
        val qEnd = ms.lastOption.map(_._2).getOrElse(qStart)
        val q = newSpan(passId, "query", name, qStart, qEnd)
        querySpans += q
        ms.sliding(2).foreach {
          case Seq((k, s), (_, e)) if k.nonEmpty =>
            windows += newSpan(q.id, k, name, s, e)
          case _ =>
        }
        val got = r.map(o => digest(o.schema, o.rows))
        val ok = got.exists(d => expected.get(name).contains(d))
        execs += obj("query" -> name,
          "build_s" -> r.toOption.map(_.buildS),
          "action_s" -> r.toOption.map(_.actionS),
          "s" -> (qEnd - qStart) / 1e3,
          "cpu_s" -> qCpu, "jit_s" -> qJit,
          "ok" -> ok,
          "error" -> (r match {
            case Left(e) => e.toString
            case Right(_) if !ok => "result digest differs from expected"
            case _ => null
          }),
          // outside the window: the heap the GC after the query leaves
          "heap_mb" -> cleanup(spark))
      }
      val passEnd = nowMs()
      newSpan(runId, "pass", s"pass-$p", passStart, passEnd)
      var scans: Map[String, Seq[String]] = Map.empty
      val layer = tracer.filter(_ => traced).map { t =>
        t.stop()
        scans = t.scannedColumns(querySpans.toSeq)
        val m = t.passMetrics(windows.toSeq, querySpans.toSeq, a.cores)
        m("ops.files_written") = files.toDouble
        m("ops.bytes_written") = bytes.toDouble
        m("ops.manifest_commits") = commits.toDouble
        m("mem.driver_gc_s") = gc
        m("queries.build_s") = windows.filter(_.kind == "build").map(_.dur).sum / 1e3
        m("queries.action_s") = windows.filter(_.kind == "action").map(_.dur).sum / 1e3
        val sparkSpans = t.spans(windows.toSeq, querySpans.toSeq)
        spans ++= sparkSpans
        val passSpans = spans.filter(s => s.start >= passStart - 1 &&
          s.end <= passEnd + 1 && s.kind != "pass")
        Stats.selfTime(passSpans.toSeq).foreach { case (k, v) =>
          m(s"self_s.$k") = v
        }
        m
      }
      passes += obj("pass" -> p, "traced" -> traced,
        "order" -> order.map(_._1), "load1_before" -> l0,
        "load1_after" -> load1(), "nproc" -> nproc, "cores" -> a.cores,
        "wall_s" -> (passEnd - passStart) / 1e3, "cpu_s" -> cpu,
        "gc_s" -> gc, "jit_s" -> jit, "execs" -> execs, "layers" -> layer, "scans" -> scans)
      p += 1
    }
    newSpan("", "run", a.workload, runStart, nowMs())
    // warm-up results, for the DuckDB cross-check (after timing, so the
    // writes are in neither set-up nor any timed window)
    warmRows.foreach { case (name, o) =>
      spark.createDataFrame(o.rows.toSeq.asJava, o.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"${a.work}/results/$name")
    }
    val kernels = if (a.trace) Kernels.run(spark, a.data) else Map.empty
    val rt = ManagementFactory.getRuntimeMXBean
    val record = obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "context" -> obj("nproc" -> nproc, "cores" -> a.cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "jvm_args" -> rt.getInputArguments.asScala.filter(_.startsWith("-X")),
        "spark" -> spark.version, "java" -> System.getProperty("java.version")),
      "setup_s" -> setupS, "session_s" -> sessionS,
      "jvm_to_main_s" -> (mainMs - jvmStartMs) / 1e3,
      "oracle_sql" -> obj(a.queries.flatMap(q => oracle.get(q).map(q -> _)): _*),
      "warmup" -> warm, "passes" -> passes,
      "kernels_ns_per_row" -> kernels,
      "spans" -> (if (a.trace) spans.map(s => obj("id" -> s.id,
        "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end)) else Nil))
    Files.writeString(Paths.get(a.out),
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsString(record))
    // nothing the engine left running (stream threads, cleaner) may keep
    // the process alive or print after the record
    spark.sparkContext.setLogLevel("OFF")
    Runtime.getRuntime.halt(0)
  }
}
