package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, work: String, streamRates: Seq[Double],
                      traceOut: String)

/** One measured operation: its wall time, and the interval the per-layer
  * numbers are attributed to (the same span for the batch workloads; a
  * producer tick for worker_stream, whose op time is a hub job's latency). */
final class OpLog {
  val seconds = mutable.ArrayBuffer.empty[Double]
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)] // clock ns
  val traced = mutable.ArrayBuffer.empty[Boolean]
  var attempted = 0L
  var failed = 0L
  var rows = 0L
  var wallNs = 0L

  def add(t0: Long, t1: Long, wasTraced: Boolean, fromNs: Long): Unit = {
    seconds += (t1 - fromNs) / 1e9
    intervals += ((t0, t1))
    traced += wasTraced
  }
}

/** A workload: builds its inputs in `prepare`, runs ops in `measure` and
  * checks every output it sees. */
trait Workload {
  /** Generate inputs and build state under `dir`. Runs several times for
    * the set-up median; only the last call's state is used. */
  def prepare(dir: String, last: Boolean): Unit
  /** One pass over the measured path, so JIT and caches are warm. */
  def warm(): Unit
  /** Run ops until the clock passes `untilNs`, appending to `log`. */
  def measure(untilNs: Long, log: OpLog): Unit
  /** Checks that need the whole run (drains, store equality). */
  def finish(log: OpLog): Unit = ()
  /** Release what the run holds, the way a user of the library would. */
  def teardown(): Unit
  /** Data files left under the workload's stage directories. */
  def leftoverFiles: Long = 0L
  /** Workload-specific numbers reported with the per-layer metrics. */
  def extra: Map[String, (Double, String)] = Map.empty
}

object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val result =
      try run(spark, o, sessionS)
      finally spark.stop()
    println(result)
    System.out.flush()
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toInt,
      req("trace") == "1", req("work"),
      m.getOrElse("stream-rates", "").split(",").map(_.trim).filter(_.nonEmpty)
        .map(_.toDouble).toSeq,
      req("trace-out"))
  }

  private def session(o: Opts): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/local")
      .config("spark.sql.streaming.checkpointLocation", s"${o.work}/checkpoints")
      // the status store keeps recent jobs, stages and queries for the UI
      // even with the UI off; bound it so the live heap does not grow with
      // the number of ops a run happens to make
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.streaming.ui.retainedQueries", "5")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def timedS(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def run(spark: SparkSession, o: Opts, sessionS: Double): String = {
    val w: Workload = o.workload match {
      case "curate_batch" => new CurateBatch(spark, o.seed)
      case "store_ingest" => new StoreIngest(spark, o.seed)
      case "worker_stream" => new WorkerStream(spark, o.seed, o.seconds, o.streamRates, o.trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val prep = (1 to SetupReps).map(i =>
      timedS(w.prepare(s"${o.work}/setup$i", i == SetupReps)))
    val warmS = timedS(w.warm())
    val setupS = sessionS + Stats.median(prep) + warmS
    System.err.println(f"[perfbench] setup: session $sessionS%.3f s, " +
      s"prepare ${prep.map(p => f"$p%.3f").mkString("/")} s, warm-up " +
      f"$warmS%.3f s")

    val log = new OpLog
    val end = Clock.nowNs() + o.seconds * 1000000000L
    var traced: Option[Trace.Collected] = None
    if (!o.trace) w.measure(end, log)
    else {
      Trace.start(spark)
      try w.measure(end, log)
      finally traced = Some(Trace.stop())
    }
    w.finish(log)
    w.teardown()
    val leaks = Leaks.count(spark, w)
    val heapMb = Leaks.liveHeapMb(spark)

    val (tailQ, tail) = Stats.tail(log.seconds.toSeq)
    System.err.println(f"[perfbench] ops n=${log.seconds.size}, op_s_tail is " +
      f"p$tailQ%.0f, attempted ${log.attempted}, failed ${log.failed}; op times " +
      log.seconds.take(60).map(t => f"$t%.2f").mkString(" "))
    val wallS = log.wallNs / 1e9
    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "op_s_p50" -> (Stats.median(log.seconds.toSeq), "s"),
      "op_s_tail" -> (tail, "s"),
      "rows_per_s" -> (if (wallS > 0) log.rows / wallS else 0.0, "rows/s"),
      "live_heap_mb" -> (heapMb, "MiB"))
    val layer = traced.map { c =>
      Trace.layerMetrics(c, log, o, w.extra ++ leaks)
    }.getOrElse(Map.empty)
    val correct = log.failed == 0 && log.attempted > 0
    Json.result(correct, log.attempted, log.failed, e2e ++ layer)
  }
}

/** One clock for spans, ops and Spark's event times (epoch ms). */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs(): Long = base + System.nanoTime()
  def fromMs(ms: Long): Long = ms * 1000000L
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile, 0 for an empty sample. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q / 100.0 * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest percentile with at least ten samples beyond it, never
    * below the median: (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val q = if (xs.size <= 20) 50.0
      else math.floor(100.0 * (xs.size - 10) / xs.size)
    (q, percentile(xs, q))
  }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Map[String, (Double, String)]): String = {
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}"
    }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
  }
}
