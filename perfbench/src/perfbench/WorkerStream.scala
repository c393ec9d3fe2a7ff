package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.core.{App, FlowNode, Hub}
import graft.streaming.{AutoTrimHandle, ParquetBoundary, StreamingReducer}
import graft.streaming.StreamingReducer.Completed
import perfbench.Trace.span

/**
 * worker_stream: an open loop. A producer thread fires every [[TickMs]] and
 * runs a stepist producer flow, a source step then a Hub of two branch steps
 * that each write to a ParquetBoundary (the `as_worker` shape). The worker
 * reads the boundary as a stream into StreamingReducer and a foreachBatch
 * sink owned by the benchmark, with autoTrim on. Each row is a hub job and
 * carries `created_ms`, the time its tick was due.
 *
 * A measured window steps through three offered rates, low, mid and high,
 * a third of the window each. One op is one producer tick, timed from when
 * it was due. Each hub job's latency runs from its `created_ms` to its
 * emission at the sink; per rung these give `latency_ms_*`, and a rung is
 * sustained while the producer keeps its schedule and every hub job meets
 * [[LatencyLimitMs]].
 */
final class WorkerStream(spark: SparkSession, seed: Long, seconds: Int,
                         rates: Seq[Double], traced: Boolean) extends Workload {
  import WorkerStream._
  require(rates.size == 3, "worker_stream needs --stream-rates low,mid,high")

  private var dir: String = _
  private var pool: Array[Long] = _ // x of hub job k is pool(k)
  private var nextKey = 0
  private var boundary: ParquetBoundary = _
  private var query: StreamingQuery = _
  private var trim: AutoTrimHandle = _
  private var ticks = 0
  private var warmFailures = 0L
  private var extras = Map.empty[String, (Double, String)]

  // key -> (created_ms, rung); filled by the producer before the write
  private val produced = new ConcurrentHashMap[Long, (Long, Int)]()
  // key -> emission time, or -1 for a wrong or repeated emission
  private val emitted = new ConcurrentHashMap[Long, Long]()
  private val mapper = new ObjectMapper()

  override def prepare(d: String, last: Boolean): Unit = {
    val r = new SplittableRandom(seed)
    val p = Array.fill(((seconds + WarmS + 2) * rates.max * 1.2).toInt)(r.nextInt(1000000).toLong)
    new java.io.File(d).mkdirs()
    if (last) { dir = d; pool = p }
  }

  private lazy val app = new App(spark)
  private lazy val flow: FlowNode = {
    def branch(name: String, v: org.apache.spark.sql.Column) = app.step(name, df => {
      span("streaming.ParquetBoundary.write")(boundary.write(df.withColumn("v", v)))
      df
    })
    app.step("source", _.filter(col("x") >= 0),
      next = Some(Hub(branch("square", col("x") * col("x")), branch("increment", col("x") + 1))))
  }

  private def tick(rows: Int, dueMs: Long, rung: Int): Unit = {
    ticks += 1
    val keys = nextKey until nextKey + rows
    nextKey += rows
    require(nextKey <= pool.length, "generated hub jobs exhausted")
    keys.foreach(k => produced.put(k.toLong, (dueMs, rung)))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      keys.map(k => Row(k.toLong, pool(k), dueMs)): _*), schema)
    span("core.run")(app.run(flow, df))
    span("core.cleanup")(app.cleanup())
  }

  private def sink(ds: Dataset[Completed], batch: Long): Unit = {
    val rows = ds.collect()
    val now = System.currentTimeMillis()
    rows.foreach { c =>
      val p = c.jobList.map(mapper.readTree)
      val key = p.head.get("key").asLong
      val x = p.head.get("x").asLong
      val ok = p.size == 2 && p(1).get("key").asLong == key &&
        p.head.get("v").asLong == x * x && p(1).get("v").asLong == x + 1 &&
        produced.containsKey(key)
      if (emitted.putIfAbsent(key, if (ok) now else -1L) != null) emitted.put(key, -1L)
    }
  }

  private def startWorker(): Unit = {
    val arrivals = StreamingReducer.toArrivals(boundary.readStream(spark))
    query = StreamingReducer.reduceQuery(arrivals, ttlMs = TtlMs,
        triggerIntervalMs = Some(TriggerMs))
      .foreachBatch(sink _)
      .option("checkpointLocation", s"$dir/checkpoint")
      .start()
    trim = boundary.autoTrim(spark, s"$dir/checkpoint")
  }

  /** Wait until every produced job is emitted or the drain times out;
    * returns (missing, bad) over `keys`. */
  private def drain(keys: Range): (Long, Long) = {
    val deadline = System.nanoTime() + DrainS * 1000000000L
    while (keys.exists(k => !emitted.containsKey(k.toLong)) && System.nanoTime() < deadline)
      Thread.sleep(20)
    (keys.count(k => !emitted.containsKey(k.toLong)).toLong,
      keys.count(k => emitted.get(k.toLong) == -1L).toLong)
  }

  override def warm(): Unit = {
    boundary = new ParquetBoundary(s"$dir/boundary")
    val first = nextKey
    tick(1, System.currentTimeMillis(), 0) // pins the boundary's schema
    startWorker()
    val end = Clock.nowNs() + WarmS * 1000000000L
    window(end, rates(1), None)
    val (missing, bad) = drain(first until nextKey)
    warmFailures += missing + bad
  }

  /** Ticks on schedule until `untilNs`; with `ladder`, the offered rate
    * steps low/mid/high by thirds of the window. */
  private def window(untilNs: Long, rate: Double, ladder: Option[OpLog]): Unit = {
    val startMs = Clock.nowNs() / 1000000L
    val untilMs = untilNs / 1000000L
    val span3 = math.max((untilMs - startMs) / 3.0, 1.0)
    val first = nextKey
    var owed = 0.0
    var lagMax = 0L
    val lagByRung = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val backlog = mutable.ArrayBuffer.empty[Long]
    var filesMax = 0L
    @volatile var rung = 0
    @volatile var sampling = true
    // the backlog is sampled beside the producer, so its cost never delays a
    // tick; only a traced run samples it, since each sample is a Spark job
    // that would compete with the ticks an untraced run times
    val monitor = new Thread(() => {
      while (sampling) {
        backlog += span("streaming.ParquetBoundary.jobsCount")(boundary.jobsCount(spark))
        filesMax = math.max(filesMax, Leaks.dataFiles(new java.io.File(s"$dir/boundary")).size)
        Thread.sleep(MonitorMs)
      }
    }, "perfbench-backlog")
    monitor.setDaemon(true)
    if (traced && ladder.nonEmpty) monitor.start()
    var i = 0
    var due = startMs
    try while (due < untilMs) {
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      rung = if (ladder.isEmpty) 1 else math.min(((due - startMs) / span3).toInt, 2)
      lagMax = math.max(lagMax, System.currentTimeMillis() - due)
      lagByRung(rung) = math.max(lagByRung(rung), System.currentTimeMillis() - due)
      owed += (if (ladder.isEmpty) rate else rates(rung)) * TickMs / 1000.0
      val rows = owed.toInt
      owed -= rows
      Trace.op(ticks + 1, ladder, Clock.fromMs(due))(tick(rows, due, rung))
      i += 1
      due = startMs + i.toLong * TickMs
    } finally { sampling = false; monitor.join() }
    ladder.filter(_ => i > 0).foreach { log =>
      val keys = first until nextKey
      val drainStart = System.nanoTime()
      val (missing, bad) = drain(keys)
      System.err.println(f"[worker_stream] $i ticks, ${keys.size} hub jobs, drained in " +
        f"${(System.nanoTime() - drainStart) / 1e9}%.2f s, $missing missing, $bad wrong, " +
        s"producer lag max $lagMax ms")
      log.attempted += keys.size
      log.failed += missing + bad
      val ok = keys.map(_.toLong).filter(k => emitted.getOrDefault(k, -1L) > 0)
      val lat = ok.map(k => k -> (emitted.get(k) - produced.get(k)._1).toDouble)
      val byRung = lat.groupBy { case (k, _) => produced.get(k)._2 }
        .map { case (g, v) => g -> v.map(_._2) }.withDefaultValue(Seq.empty)
      log.rows += ok.size
      // the window's wall runs from its first due tick to the emission of
      // its last hub job, so a worker that delivers later reads slower
      val lastEmit = if (ok.isEmpty) untilMs else ok.map(emitted.get).max
      log.wallNs += (lastEmit - startMs) * 1000000L
      // a rung is sustained when the producer kept its schedule and every
      // hub job of it, and of each lower rung, met the latency limit
      val sustained = (0 to 2).takeWhile(g => lagByRung(g) < TickMs &&
        byRung(g).nonEmpty && byRung(g).max <= LatencyLimitMs)
      def tailMs(g: Int) = Stats.tail(byRung(g))._2
      extras = Map(
        "latency_ms_p50.low" -> (Stats.median(byRung(0)), "ms"),
        "latency_ms_tail.low" -> (tailMs(0), "ms"),
        "latency_ms_p50.mid" -> (Stats.median(byRung(1)), "ms"),
        "latency_ms_tail.mid" -> (tailMs(1), "ms"),
        "sustained_rows_per_s" -> (sustained.lastOption.map(rates).getOrElse(0.0), "rows/s"),
        "streaming.backlog_rows_max" -> ((0L +: backlog).max.toDouble, "rows"),
        "streaming.backlog_rows_end" -> (backlog.lastOption.getOrElse(0L).toDouble, "rows"),
        "streaming.boundary_files_max" -> (filesMax.toDouble, "count"),
        "streaming.producer_lag_ms_max" -> (lagMax.toDouble, "ms"))
    }
  }

  override def measure(untilNs: Long, log: OpLog): Unit =
    window(untilNs, 0.0, Some(log))

  override def finish(log: OpLog): Unit = log.failed += warmFailures

  override def teardown(): Unit = {
    if (query != null) query.stop()
    if (trim != null) trim.stop()
    app.cleanup()
  }

  override def leftoverFiles: Long =
    Leaks.dataFiles(new java.io.File(s"$dir/boundary")).size.toLong

  override def extra: Map[String, (Double, String)] = extras
}

object WorkerStream {
  val TickMs = 1500L
  val MonitorMs = 200L
  val LatencyLimitMs = 4 * TickMs
  val TriggerMs = 100L
  val TtlMs = 60000L
  val WarmS = 8
  val DrainS = 30

  val schema = StructType(Seq(StructField("key", LongType),
    StructField("x", LongType), StructField("created_ms", LongType)))
}
