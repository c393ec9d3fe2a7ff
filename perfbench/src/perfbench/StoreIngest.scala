package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, OpCache}
import graft.sources.Tables
import perfbench.Trace.span

/**
 * store_ingest: set-up writes a fingerprint store and an LSH store from a
 * seeded snapshot; one client then ingests a fixed sequence of small batches
 * through Dedup.ingestBatch and then Dedup.ingestBatchLsh. One op is one
 * batch: both ingest calls, reading the survivors, and releasing the
 * operators' cached frames.
 */
final class StoreIngest(spark: SparkSession, seed: Long) extends Workload {
  import StoreIngest._

  private var plan: Plan = _
  private var expect: IndexedSeq[(Set[Long], Set[Long])] = _
  private var recall = 0.0
  private var fpTable = ""
  private var lshTable = ""
  private var next = 0 // next batch to ingest
  private var warmFailures = 0L
  private val tables = mutable.ArrayBuffer.empty[String]

  override def prepare(d: String, last: Boolean): Unit = {
    val p = generate(seed)
    val texts = (p.snapshot ++ p.batches.flatMap(_.rows)).map(r => r.getLong(0) -> r.getString(1)).toMap
    val (e, rec) = expected(p, NearDup.signatures(spark, nearDocs(p).toSeq.map(i => i -> texts(i))))
    spark.createDataFrame(spark.sparkContext.parallelize(p.snapshot,
        spark.sparkContext.defaultParallelism), schema)
      .write.parquet(s"$d/documents.parquet")
    val snap = Tables.load(spark, d, "documents")
    val tag = d.split('/').last
    Dedup.writeFingerprintStore(snap, "text", s"fp_$tag")
    Dedup.writeLshStore(snap, "text", "doc_id", s"lsh_$tag")
    OpCache.release()
    val own = Seq(s"fp_$tag", s"lsh_${tag}_bands", s"lsh_${tag}_sigs")
    if (last) { plan = p; expect = e; recall = rec; fpTable = s"fp_$tag"; lshTable = s"lsh_$tag"; tables ++= own }
    else own.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** Ingest the next batch; returns whether both survivor sets were right. */
  private def ingestNext(log: Option[OpLog]): Unit = {
    val b = plan.batches(next)
    val (wantExact, wantNear) = expect(next)
    next += 1
    val batch = spark.createDataFrame(java.util.Arrays.asList(b.rows: _*), schema)
    val (ids, t0, t1) = Trace.op(next, log) {
      try {
        val exact = span("operators.Dedup.ingestBatch")(
          Dedup.ingestBatch(spark, batch, "text", "doc_id", fpTable))
        val near = span("operators.Dedup.ingestBatchLsh")(
          Dedup.ingestBatchLsh(spark, exact, "text", "doc_id", lshTable,
            NearDup.Shingle, NearDup.Hashes, NearDup.Bands, NearDup.Threshold))
        val got = span("spark.action")(
          (exact.select("doc_id").collect().map(_.getLong(0)).toSet,
            near.select("doc_id").collect().map(_.getLong(0)).toSet))
        span("operators.OpCache.release")(OpCache.release())
        Some(got)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[store_ingest] batch $next failed: $e"); None
      }
    }
    val ok = ids.contains((wantExact, wantNear))
    if (!ok) System.err.println(s"[store_ingest] batch $next: survivors " +
      s"${ids.map { case (e, n) => s"${e.size}/${n.size}" }} expected " +
      s"${wantExact.size}/${wantNear.size}")
    log match {
      case Some(l) =>
        l.attempted += 1
        if (!ok) l.failed += 1
        l.wallNs += t1 - t0
        l.rows += b.rows.size
      case None => if (!ok) warmFailures += 1
    }
  }

  override def warm(): Unit = (1 to WarmBatches).foreach(_ => ingestNext(None))

  override def measure(untilNs: Long, log: OpLog): Unit =
    while (Clock.nowNs() < untilNs) {
      require(next < plan.batches.size, "batch sequence exhausted")
      ingestNext(Some(log))
    }

  /** After the last batch both stores must hold exactly what one-shot
    * stores written over the union of snapshot and survivors hold. */
  override def finish(log: OpLog): Unit = {
    log.failed += warmFailures
    val done = expect.take(next)
    def frame(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism), schema)
    val byId = (plan.snapshot ++ plan.batches.take(next).flatMap(_.rows)).map(r => r.getLong(0) -> r).toMap
    val snapIds = plan.snapshot.map(_.getLong(0))
    Dedup.writeFingerprintStore(
      frame((snapIds ++ done.flatMap(_._1)).map(byId)), "text", "oneshot_fp")
    Dedup.writeLshStore(
      frame((snapIds ++ done.flatMap(_._2)).map(byId)), "text", "doc_id", "oneshot_lsh",
      NearDup.Shingle, NearDup.Hashes, NearDup.Bands)
    OpCache.release()
    tables ++= Seq("oneshot_fp", "oneshot_lsh_bands", "oneshot_lsh_sigs")
    // equal multisets: every row occurs as often in both tables
    val same = Seq(fpTable -> "oneshot_fp", s"${lshTable}_bands" -> "oneshot_lsh_bands",
      s"${lshTable}_sigs" -> "oneshot_lsh_sigs").forall { case (a, b) =>
      val x = spark.table(a)
      x.withColumn("__side", lit(1))
        .unionByName(spark.table(b).withColumn("__side", lit(-1)))
        .groupBy(x.columns.map(col).toIndexedSeq: _*).agg(sum("__side").as("__d"))
        .filter(col("__d") =!= 0).isEmpty
    }
    if (!same) {
      System.err.println("[store_ingest] appended stores differ from one-shot stores")
      log.failed += 1
    }
    val dirs = Seq(fpTable, s"${lshTable}_bands", s"${lshTable}_sigs").map(tableDir)
    bytes = dirs.flatMap(d => Leaks.dataFiles(d)).map(_.length).sum.toDouble
    files = dirs.map(d => Leaks.dataFiles(d).size).sum.toDouble
    stored = (snapIds.size + done.map(_._2.size).sum).toDouble
  }

  private var bytes = 0.0
  private var files = 0.0
  private var stored = 1.0

  private def tableDir(t: String): java.io.File = {
    val w = spark.conf.get("spark.sql.warehouse.dir")
    new java.io.File(if (w.startsWith("file:")) new java.net.URI(w).getPath else w, t)
  }

  override def extra: Map[String, (Double, String)] = Map(
    "store_bytes_per_doc" -> (bytes / stored, "B/doc"),
    "operators.store_files" -> (files, "count"),
    "operators.Dedup.near_recall" -> (recall, "fraction"))

  override def teardown(): Unit = {
    OpCache.release()
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}

object StoreIngest {
  val SnapshotDocs = 1000
  val Batches = 40
  val WarmBatches = 1
  val BatchMin = 200

  val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** A batch and what it plants: exact re-sends of stored content, near
    * copies of stored content (copy id, id of the stored original), and
    * exact and near copies of its own new documents (original, copy).
    * `roots` are its new documents later batches may copy. */
  final case class Batch(rows: Seq[Row], resent: Set[Long],
                         nearStored: Seq[(Long, Long)], ownExact: Seq[(Long, Long)],
                         ownNear: Seq[(Long, Long)], roots: Seq[Long])
  final case class Plan(snapshot: Seq[Row], batches: Seq[Batch])

  /**
   * Snapshot of unique documents, then batches of BatchMin to 2 x BatchMin
   * documents: 70% new, 10% exact re-sends and 10% near copies of stored
   * content (snapshot documents, or new documents of earlier batches), 5%
   * exact and 5% near copies of the batch's own new documents.
   */
  def generate(seed: Long): Plan = {
    val r = new SplittableRandom(seed)
    val snapshot = Gen.ids(r, SnapshotDocs).map(id => (id, Gen.doc(r)))
    val stored = mutable.ArrayBuffer.empty[(Long, Array[String])] ++= snapshot
    var nextId = SnapshotDocs.toLong
    val batches = (0 until Batches).map { _ =>
      val m = BatchMin + r.nextInt(BatchMin + 1)
      val ids = Gen.ids(r, m).map(_ + nextId)
      nextId += m
      var k = 0
      def id() = { k += 1; ids(k - 1) }
      val rows = mutable.ArrayBuffer.empty[Row]
      def add(text: String) = { val i = id(); rows += Row(i, text); i }
      val fresh = Array.fill(m * 7 / 10) { val ws = Gen.doc(r); (add(Gen.text(ws)), ws) }
      val (resend, near, copies) = (m / 10, m / 10, m / 20)
      val nearOwn = m - fresh.length - resend - near - copies
      val picked = mutable.LinkedHashSet.empty[Int]
      while (picked.size < resend + near) picked += r.nextInt(stored.size)
      val picks = picked.toSeq.map(stored)
      val resent = picks.take(resend).map { case (_, ws) => add(Gen.exactCopy(r, ws)) }
      val nearStored = picks.drop(resend).map { case (src, ws) =>
        (add(Gen.text(Gen.nearCopy(r, ws))), src) }
      val ownExact = fresh.take(copies).toSeq.map { case (f, ws) => (f, add(Gen.exactCopy(r, ws))) }
      val own = fresh.slice(copies, copies + nearOwn).toSeq
      val ownNear = own.map { case (f, ws) => (f, add(Gen.text(Gen.nearCopy(r, ws)))) }
      // a near-copied document may be stored as its copy: never copied later
      val roots = fresh.take(copies) ++ fresh.drop(copies + nearOwn)
      stored ++= roots
      Batch(rows.toSeq, resent.toSet, nearStored, ownExact, ownNear, roots.map(_._1).toSeq)
    }
    Plan(snapshot.map { case (i, ws) => Row(i, Gen.text(ws)) }.toSeq, batches)
  }

  /** Documents whose signatures the expected survivors depend on. */
  def nearDocs(p: Plan): Set[Long] = p.batches.flatMap { b =>
    b.nearStored.flatMap { case (c, o) => Seq(c, o) } ++ b.ownNear.flatMap { case (o, c) => Seq(o, c) }
  }.toSet

  /**
   * Expected (ingestBatch, ingestBatchLsh) survivors per batch, and the
   * share of planted near pairs the LSH rule finds. Ingest keeps the
   * smallest id of each in-batch duplicate and drops what the stores hold:
   * exact content in the fingerprint store, and for the LSH store any
   * stored member of the copied document's family that [[NearDup.found]]
   * pairs with the copy (a copy that was not caught is stored too).
   */
  def expected(p: Plan, sig: Long => NearDup.Sig): (IndexedSeq[(Set[Long], Set[Long])], Double) = {
    val family = mutable.Map.empty[Long, List[Long]]
    p.snapshot.foreach(r => family(r.getLong(0)) = List(r.getLong(0)))
    var pairs, hits = 0
    def found(a: Long, b: Long) = {
      val f = NearDup.found(sig(a), sig(b)); pairs += 1; if (f) hits += 1; f
    }
    val out = p.batches.map { b =>
      val exact = b.rows.map(_.getLong(0)).toSet -- b.resent --
        b.ownExact.map { case (o, c) => math.max(o, c) }
      val ownDrop = b.ownNear.collect { case (o, c) if found(o, c) => math.max(o, c) }
      val matched = b.nearStored.collect {
        case (c, o) if family(o).map(m => found(c, m)).exists(identity) => c
      }.toSet
      b.nearStored.filterNot(x => matched(x._1)).foreach { case (c, o) => family(o) ::= c }
      b.roots.foreach(i => family(i) = List(i))
      (exact, exact -- ownDrop -- matched)
    }
    (out.toIndexedSeq, hits.toDouble / math.max(pairs, 1))
  }
}
