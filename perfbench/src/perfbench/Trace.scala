package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.observe.{ExecutionStats, Signals}

/**
 * Spans around every call the benchmark makes into a layer of the program,
 * plus the listeners that see Spark beneath them. All of it is off unless a
 * traced run calls [[start]]; an untraced [[span]] is a plain call.
 *
 * A span is (name, start, end, parent, op). Spark jobs are attributed to
 * the innermost span open at their start; a span's self time is its length
 * minus the part its child spans cover.
 */
object Trace {
  final case class Span(id: Int, name: String, detail: String, parent: Int,
                        op: Int, thread: Long, startNs: Long) {
    @volatile var endNs: Long = 0L
  }
  final case class Job(startNs: Long, endNs: Long, streaming: Boolean)
  final case class Progress(durations: Map[String, Long], inputRows: Long,
                            stateRows: Long, stateBytes: Long)
  final case class Collected(spans: Seq[Span], jobs: Seq[Job],
                             stageTasks: Seq[Int], tasks: Map[String, Double],
                             phases: Map[String, Double], qeActions: Long,
                             progress: Seq[Progress], observe: Map[String, Long])

  @volatile private var on = false
  @volatile private var alternating = false
  @volatile private var op = -1
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  def begin(name: String, detail: String = ""): Span = {
    val parents = stack.get
    val s = spans.synchronized {
      val sp = Span(spans.size + 1, name, detail, parents.headOption.fold(0)(_.id),
        op, Thread.currentThread().getId, Clock.nowNs())
      spans += sp
      sp
    }
    stack.set(s :: parents)
    s
  }

  def end(s: Span): Unit = {
    s.endNs = Clock.nowNs()
    stack.set(stack.get.dropWhile(_.id != s.id).drop(1))
  }

  def span[T](name: String, detail: String = "")(body: => T): T =
    if (!on) body
    else {
      val s = begin(name, detail)
      try body finally end(s)
    }

  /** Time `body` as op `id` and record it in `log`, from `dueNs` when given
    * (an open loop times an op from when it was due). In a traced window odd
    * ops are traced (listeners attached, a root span) and even ops are not,
    * so both halves see the same warm-up. Returns the result and the op's
    * clock interval. */
  def op[T](id: Int, log: Option[OpLog], dueNs: Long = -1L)(body: => T): (T, Long, Long) = {
    op = id
    val traced = alternating && id % 2 == 1
    if (alternating) { if (traced) attach() else detach() }
    on = traced
    val t0 = Clock.nowNs()
    val r = span("op")(body)
    val t1 = Clock.nowNs()
    on = false
    log.foreach(_.add(t0, t1, traced, if (dueNs >= 0) dueNs else t0))
    (r, t0, t1)
  }

  // ---- listeners --------------------------------------------------------

  private final class Counters extends SparkListener {
    private val jobStart = mutable.Map.empty[Int, (Long, Boolean)]
    val jobs = mutable.ArrayBuffer.empty[Job]
    val stageTasks = mutable.ArrayBuffer.empty[Int]
    val tasks = mutable.Map.empty[String, Double].withDefaultValue(0.0)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val streaming = Option(e.properties)
        .exists(_.getProperty("sql.streaming.queryId") != null)
      jobStart(e.jobId) = (Clock.fromMs(e.time), streaming)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t, s) =>
        jobs += Job(t, Clock.fromMs(e.time), s)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized(stageTasks += e.stageInfo.numTasks)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      tasks("count") += 1
      tasks("duration_ms") += e.taskInfo.duration
      if (m != null) {
        tasks("run_ms") += m.executorRunTime
        tasks("cpu_ns") += m.executorCpuTime
        tasks("gc_ms") += m.jvmGCTime
        tasks("shuffle_write") += m.shuffleWriteMetrics.bytesWritten
        tasks("shuffle_read") += m.shuffleReadMetrics.totalBytesRead
        tasks("spill") += m.memoryBytesSpilled + m.diskBytesSpilled
        tasks("input_bytes") += m.inputMetrics.bytesRead
        tasks("input_rows") += m.inputMetrics.recordsRead
        tasks("output_bytes") += m.outputMetrics.bytesWritten
      }
    }
  }

  private final class Phases extends QueryExecutionListener {
    val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var actions = 0L
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized {
        actions += 1
        qe.tracker.phases.foreach { case (k, p) => phases(k) += p.durationMs / 1e3 }
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private final class Streams extends StreamingQueryListener {
    import StreamingQueryListener._
    val progress = mutable.ArrayBuffer.empty[Progress]
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      val st = p.stateOperators
      progress += Progress(
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum)
    }
  }

  /** Step lifecycle spans from the flow runner's own signals. */
  private object Steps extends Signals.FlowListener {
    private val open = new ThreadLocal[List[Span]] {
      override def initialValue(): List[Span] = Nil
    }
    override def beforeStep(step: String): Unit =
      open.set(begin("core.step", step) :: open.get)
    override def afterStep(step: String): Unit = open.get match {
      case s :: rest => end(s); open.set(rest)
      case Nil => ()
    }
  }

  private var session: SparkSession = _
  private var counters: Counters = _
  private var qe: Phases = _
  private var streams: Streams = _
  private var stats: ExecutionStats = _
  private var attached = false

  /** Start a traced window: from here on odd ops are traced. */
  def start(spark: SparkSession): Unit = {
    session = spark
    counters = new Counters
    qe = new Phases
    streams = new Streams
    // the repo's own way to attach it; from here on it is attached per op
    stats = ExecutionStats.attach(spark)
    spark.listenerManager.unregister(stats)
    spans.synchronized(spans.clear())
    alternating = true
  }

  private def attach(): Unit = if (!attached) {
    session.sparkContext.addSparkListener(counters)
    session.listenerManager.register(qe)
    session.listenerManager.register(stats)
    session.streams.addListener(streams)
    Signals.addListener(Steps)
    attached = true
  }

  // events still queued on a listener bus when an op ends arrive while the
  // benchmark checks the op's output; detaching waits for the next op
  private def detach(): Unit = if (attached) {
    Signals.removeListener(Steps)
    session.sparkContext.removeSparkListener(counters)
    session.listenerManager.unregister(qe)
    session.listenerManager.unregister(stats)
    session.streams.removeListener(streams)
    attached = false
  }

  def stop(): Collected = {
    alternating = false
    // listener buses deliver asynchronously: let the last events land
    Thread.sleep(500)
    detach()
    Collected(spans.synchronized(spans.toList), counters.synchronized(counters.jobs.toList),
      counters.synchronized(counters.stageTasks.toList),
      counters.synchronized(counters.tasks.toMap), qe.synchronized(qe.phases.toMap),
      qe.synchronized(qe.actions), streams.synchronized(streams.progress.toList),
      stats.snapshot)
  }

  // ---- analysis ---------------------------------------------------------

  /** Total length of the union of intervals, each clipped to [lo, hi). */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Every operator call the workloads time; each is reported on every
    * workload, as 0 where the workload does not make it. */
  val operatorCalls = Seq("Dedup.exact", "Dedup.minhashLsh",
    "Dedup.keepRepresentatives", "TextProfile.contaminationReport",
    "Curate.topFractionPerGroup", "Curate.materializeMix",
    "Dedup.ingestBatch", "Dedup.ingestBatchLsh", "OpCache.release")

  def layerMetrics(c: Collected, log: OpLog, o: Opts,
                   extra: Map[String, (Double, String)]): Map[String, (Double, String)] = {
    val tracedOps = log.intervals.indices.filter(log.traced)
    val intervals = tracedOps.map(log.intervals)
    val n = math.max(intervals.size, 1).toDouble
    val opWallNs = intervals.map { case (a, b) => b - a }.sum.toDouble
    val done = c.spans.filter(_.endNs > 0)
    val children = done.groupBy(_.parent)
    def dur(s: Span) = (s.endNs - s.startNs).toDouble
    def spanS(name: String) = done.filter(_.name == name).map(dur).sum / 1e9 / n
    def selfNs(s: Span) = dur(s) - covered(
      children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)), s.startNs, s.endNs)
    def durs(name: String) = done.filter(_.name == name).map(dur(_) / 1e9)

    // jobs started by the load thread, attributed to the innermost open span
    val mine = c.jobs.filterNot(_.streaming)
    val byId = done.map(s => s.id -> s).toMap
    def ancestry(s: Span): List[Span] =
      s :: byId.get(s.parent).map(ancestry).getOrElse(Nil)
    val owner = mine.map { j =>
      j -> done.filter(s => s.startNs <= j.startNs && j.startNs <= s.endNs)
        .sortBy(-_.startNs).headOption
    }
    val opJobs = owner.count(_._2.exists(s => ancestry(s).exists(_.name.startsWith("operators."))))
    val idleNs = intervals.map { case (a, b) =>
      (b - a) - covered(mine.map(j => (j.startNs, j.endNs)), a, b)
    }.sum
    val roots = done.filter(_.name == "op")
    val unattributed = roots.map(r => dur(r) - covered(
      children.getOrElse(r.id, Nil).map(k => (k.startNs, k.endNs)), r.startNs, r.endNs)).sum
    val rootWall = roots.map(dur).sum

    val t = c.tasks.withDefaultValue(0.0)
    val prog = c.progress
    val withRows = prog.filter(_.inputRows > 0)
    def phaseP50(k: String) = Stats.median(withRows.flatMap(_.durations.get(k)).map(_.toDouble))
    val tracedP50 = Stats.median(tracedOps.map(log.seconds))
    val untracedP50 = Stats.median(log.seconds.indices.filterNot(log.traced).map(log.seconds))
    val runs = done.filter(_.name == "core.run")

    Dump.write(o, done, owner.map { case (j, s) => (j, s.fold(0)(_.id)) } ++
      c.jobs.filter(_.streaming).map(_ -> 0), selfNs)

    val s = "s"; val cnt = "count"; val b = "B"
    val m = mutable.LinkedHashMap[String, (Double, String)](
      "spark.tasks" -> (t("count") / n, cnt),
      "spark.tasks_per_stage_p50" -> (Stats.median(c.stageTasks.map(_.toDouble)), cnt),
      "spark.task_overhead_s" -> ((t("duration_ms") - t("run_ms")) / 1e3 / n, s),
      "spark.job_idle_s" -> (idleNs / 1e9 / n, s),
      "spark.executor_run_s" -> (t("run_ms") / 1e3 / n, s),
      "spark.executor_cpu_s" -> (t("cpu_ns") / 1e9 / n, s),
      "spark.effective_cores" -> (if (opWallNs > 0) t("run_ms") * 1e6 / opWallNs else 0.0, "cores"),
      "spark.gc_s" -> (t("gc_ms") / 1e3 / n, s),
      "spark.shuffle_write_bytes" -> (t("shuffle_write") / n, b),
      "spark.shuffle_read_bytes" -> (t("shuffle_read") / n, b),
      "spark.spill_bytes" -> (t("spill") / n, b),
      "spark.output_bytes" -> (t("output_bytes") / n, b),
      "spark.action_s" -> (spanS("spark.action"), s),
      "sources.input_bytes" -> (t("input_bytes") / n, b),
      "sources.input_rows" -> (t("input_rows") / n, "rows"),
      "sources.load_s" -> (spanS("sources.load"), s),
      "sql.analysis_s" -> (c.phases.getOrElse("analysis", 0.0) / n, s),
      "sql.optimization_s" -> (c.phases.getOrElse("optimization", 0.0) / n, s),
      "sql.planning_s" -> (c.phases.getOrElse("planning", 0.0) / n, s),
      "sql.actions" -> (c.qeActions / n, cnt),
      "operators.jobs" -> (opJobs / n, cnt),
      "core.run_s" -> (spanS("core.run"), s),
      "core.step_s" -> (spanS("core.step"), s),
      "core.self_s" -> (runs.map(selfNs).sum / 1e9 / n, s),
      "core.cleanup_s" -> (spanS("core.cleanup"), s),
      "streaming.write_s_p50" -> (Stats.median(durs("streaming.ParquetBoundary.write")), s),
      "streaming.write_s_tail" -> (Stats.tail(durs("streaming.ParquetBoundary.write"))._2, s),
      "streaming.jobsCount_s_p50" -> (Stats.median(durs("streaming.ParquetBoundary.jobsCount")), s),
      "streaming.microbatches" -> (prog.size.toDouble, cnt),
      "streaming.rows_per_microbatch_p50" -> (Stats.median(withRows.map(_.inputRows.toDouble)), "rows"),
      "streaming.state_rows_max" -> ((0L +: prog.map(_.stateRows)).max.toDouble, "rows"),
      "streaming.state_bytes_max" -> ((0L +: prog.map(_.stateBytes)).max.toDouble, b),
      "observe.actions" -> (c.observe("actions") / n, cnt),
      "observe.failures" -> (c.observe("failures").toDouble, cnt),
      "observe.rows_written" -> (c.observe("rows_written") / n, "rows"),
      "observe.exec_ms" -> (c.observe("total_exec_ms") / n, "ms"),
      "trace.unattributed_frac" -> (if (rootWall > 0) unattributed / rootWall else 0.0, "fraction"),
      "trace.overhead_frac" -> (if (untracedP50 > 0) tracedP50 / untracedP50 - 1 else 0.0, "fraction"),
      "error_rate" -> (if (log.attempted > 0) log.failed.toDouble / log.attempted else 0.0, "fraction"))
    Seq("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit",
      "commitOffsets", "triggerExecution").foreach { k =>
      m(s"streaming.${k}_ms_p50") = (phaseP50(k), "ms")
    }
    operatorCalls.foreach(k => m(s"operators.${k}_s") = (spanS(s"operators.$k"), s))
    if (c.observe("actions") != c.qeActions)
      System.err.println(s"[perfbench] observe.ExecutionStats counted " +
        s"${c.observe("actions")} actions, the benchmark's listener ${c.qeActions}")
    m.toMap ++ workloadDefaults ++ extra
  }

  /** Metrics only one workload measures, 0 on the others. */
  private val workloadDefaults: Map[String, (Double, String)] = Map(
    "store_bytes_per_doc" -> "B/doc", "operators.store_files" -> "count",
    "operators.Dedup.near_recall" -> "fraction",
    "latency_ms_p50.low" -> "ms", "latency_ms_tail.low" -> "ms",
    "latency_ms_p50.mid" -> "ms", "latency_ms_tail.mid" -> "ms",
    "sustained_rows_per_s" -> "rows/s", "streaming.backlog_rows_max" -> "rows",
    "streaming.backlog_rows_end" -> "rows", "streaming.boundary_files_max" -> "count",
    "streaming.producer_lag_ms_max" -> "ms").map { case (k, u) => k -> (0.0, u) }
}

/** Writes the traced run's spans, one JSON object a line, with self time
  * and the number of Spark jobs attributed to each. */
object Dump {
  def write(o: Opts, spans: Seq[Trace.Span], jobs: Seq[(Trace.Job, Int)],
            selfNs: Trace.Span => Double): Unit = {
    val dir = new java.io.File(o.traceOut)
    dir.mkdirs()
    val f = new java.io.File(dir, s"${o.workload}-${o.seed}.spans.jsonl")
    val w = new java.io.PrintWriter(f, "UTF-8")
    val perSpan = jobs.groupBy(_._2).view.mapValues(_.size).toMap
    try {
      spans.foreach { s =>
        w.println(s"""{"kind":"span","id":${s.id},"name":${Json.str(s.name)},""" +
          s""""detail":${Json.str(s.detail)},"parent":${s.parent},"op":${s.op},""" +
          s""""thread":${s.thread},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
          s""""self_ns":${selfNs(s).toLong},"jobs":${perSpan.getOrElse(s.id, 0)}}""")
      }
      // span 0: started by the streaming engine or outside every span
      jobs.foreach { case (j, s) =>
        w.println(s"""{"kind":"job","span":$s,"streaming":${j.streaming},""" +
          s""""start_ns":${j.startNs},"end_ns":${j.endNs}}""")
      }
    } finally w.close()
    System.err.println(s"[perfbench] spans written to ${f.getPath}")
  }
}
