package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{App, FlowNode, Hub}
import graft.functions.TextFunctions
import graft.operators.{Curate, Dedup, OpCache, TextProfile}
import graft.sources.Tables
import perfbench.Trace.span

/**
 * curate_batch: one client runs one curation flow back to back over a
 * seeded corpus of crawl bundles. The flow: unbundle (FactoryStep) ->
 * quality filter -> Hub of [exact dedup -> MinHash-LSH near dedup] and
 * [eval decontamination] -> ReducerStep keeping documents both branches
 * kept -> top fraction per language -> exact language mix -> noop sink.
 * One op is one flow run including its sink action and cleanup.
 */
final class CurateBatch(spark: SparkSession, seed: Long) extends Workload {
  import CurateBatch._

  private var dir: String = _
  private var corpus: Corpus = _
  private var expected = 0L
  private var recall = 0.0
  private var refFingerprint: Option[Long] = None
  private var evalDocs: DataFrame = _
  private var ops = 0
  private var warmFailures = 0L

  override def prepare(d: String, last: Boolean): Unit = {
    val c = generate(seed)
    val sigs = NearDup.signatures(spark, c.groups.flatMap(_._2))
    val kept = c.groups.map { case (lang, g) => lang -> NearDup.representatives(g.map(_._1), sigs).size }
    val cpus = spark.sparkContext.defaultParallelism
    spark.createDataFrame(spark.sparkContext.parallelize(c.bundles, cpus), bundleSchema)
      .write.parquet(s"$d/documents.parquet")
    spark.createDataFrame(spark.sparkContext.parallelize(c.eval, 1), evalSchema)
      .write.parquet(s"$d/eval.parquet")
    if (last) {
      dir = d; corpus = c
      expected = mixed(c.unique ++ kept.groupMapReduce(_._1)(_._2.toLong)(_ + _)
        .map { case (l, k) => l -> (k + c.unique.getOrElse(l, 0L)) })
      val pairs = c.groups.flatMap(_._2.map(_._1).combinations(2))
      recall = pairs.count(p => NearDup.found(sigs(p(0)), sigs(p(1)))).toDouble / pairs.size
    }
  }

  private lazy val app = new App(spark)
  private lazy val flow: FlowNode = {
    val merge = app.reducerStep("merge", g => curate(
      g.select(element_at(col("job_list"), 1).as("d"))
        .select(col("d.doc_id"), col("d.lang"), col("d.text"), col("d.score"))))
    val near = app.step("near_dedup", df => {
      val pairs = span("operators.Dedup.minhashLsh")(Dedup.minhashLsh(df, "text",
        "doc_id", NearDup.Shingle, NearDup.Hashes, NearDup.Bands, NearDup.Threshold))
      span("operators.Dedup.keepRepresentatives")(
        Dedup.keepRepresentatives(df, pairs, "doc_id"))
    }, next = Some(merge))
    val exact = app.step("exact_dedup", df =>
      span("operators.Dedup.exact")(Dedup.exact(df, "text", "doc_id")),
      next = Some(near))
    val decontaminate = app.step("decontaminate", df => {
      val hits = span("operators.TextProfile.contaminationReport")(
        TextProfile.contaminationReport(df, evalDocs, "text", "doc_id", EvalGram))
      df.join(hits.select("doc_id"), Seq("doc_id"), "left_anti")
    }, next = Some(merge))
    val quality = app.step("quality", df => df
      .filter(TextFunctions.tokenCount(col("text")) >= MinWords &&
        TextFunctions.alphaRatio(col("text")) >= MinAlpha)
      .withColumn("score", TextFunctions.hashedQualityScore(col("text"))),
      next = Some(Hub(exact, decontaminate)))
    app.factoryStep("unbundle", df => df
      .select(explode(col("docs")).as("d"))
      .select(col("d.doc_id"), col("d.lang"), col("d.text")),
      next = Some(quality))
  }

  private def curate(df: DataFrame): DataFrame = {
    val top = span("operators.Curate.topFractionPerGroup")(
      Curate.topFractionPerGroup(df, "lang", "score", TopFraction, "doc_id"))
    span("operators.Curate.materializeMix")(
      Curate.materializeMix(top, "lang", Mix, "doc_id"))
      .select("doc_id", "lang", "text")
  }

  /** One flow run; returns (survivor count, order-free fingerprint). */
  private def runOnce(): (Long, Long) = {
    ops += 1
    val docs = span("sources.load")(Tables.load(spark, dir, "documents"))
    evalDocs = span("sources.load")(Tables.load(spark, dir, "eval"))
    val out = span("core.run")(app.run(flow, docs))("merge")
    val obs = Observation(s"curate_$ops")
    span("spark.action")(out
      .observe(obs, count(lit(1)).as("n"),
        bit_xor(xxhash64(col("doc_id"), col("text"))).as("fp"))
      .write.format("noop").mode("overwrite").save())
    val m = obs.get
    span("core.cleanup")(app.cleanup())
    span("operators.OpCache.release")(OpCache.release())
    (m("n").asInstanceOf[Long], m("fp").asInstanceOf[Long])
  }

  /** Survivor count equals the planted truth, and the fingerprint equals
    * the first run's. */
  private def check(r: (Long, Long)): Boolean = {
    if (refFingerprint.isEmpty) refFingerprint = Some(r._2)
    val ok = r._1 == expected && refFingerprint.contains(r._2)
    if (!ok) System.err.println(s"[curate_batch] op $ops: ${r._1} survivors " +
      s"(expected $expected), fingerprint ${r._2} (first $refFingerprint)")
    ok
  }

  // the first flow runs of a fresh JVM are JIT-bound and slower
  override def warm(): Unit =
    (1 to WarmRuns).foreach(_ => if (!check(runOnce())) warmFailures += 1)

  override def measure(untilNs: Long, log: OpLog): Unit =
    while (Clock.nowNs() < untilNs) {
      val (r, t0, t1) = Trace.op(ops + 1, Some(log)) {
        try Some(runOnce()) catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[curate_batch] op failed: $e"); None
        }
      }
      log.attempted += 1
      if (!r.exists(check)) log.failed += 1
      log.wallNs += t1 - t0
      log.rows += corpus.docs
    }

  override def finish(log: OpLog): Unit = log.failed += warmFailures

  override def extra: Map[String, (Double, String)] =
    Map("operators.Dedup.near_recall" -> (recall, "fraction"))

  override def teardown(): Unit = {
    app.cleanup()
    OpCache.release()
  }
}

object CurateBatch {
  val Docs = 1000
  val WarmRuns = 2
  val EvalDocs = 200
  val EvalGram = 8
  val MinWords = 15
  val MinAlpha = 0.6
  val TopFraction = 0.8
  val Mix: Map[String, Double] = Gen.langs.toMap

  /** `unique`: planted survivors per language outside the groups;
    * `groups`: per group its language and the documents left after exact
    * dedup (the original and its two near copies). */
  final case class Corpus(bundles: Seq[Row], eval: Seq[Row], docs: Long,
                          unique: Map[String, Long],
                          groups: Seq[(String, Seq[(Long, String)])])

  val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("lang", StringType), StructField("text", StringType)))
  val bundleSchema = StructType(Seq(StructField("bundle_id", LongType),
    StructField("docs", ArrayType(docSchema))))
  val evalSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))

  /**
   * Shares of the corpus, fixed for every seed: 8% junk, 2% documents
   * carrying a 12-word span of an eval document, 5% of documents head a
   * planted group of five (itself, two exact copies, two near copies), the
   * rest unique. Survivors: every unique document, and per group one
   * document per component of its near copies under [[NearDup.found]].
   */
  def generate(seed: Long, n: Int = Docs): Corpus = {
    val r = new SplittableRandom(seed)
    val ids = Gen.ids(r, n)
    var used = 0
    def nextId() = { used += 1; ids(used - 1) }
    val docs = mutable.ArrayBuffer.empty[Row]
    val survivors = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val groupDocs = mutable.ArrayBuffer.empty[(String, Seq[(Long, String)])]
    val eval = Array.fill(EvalDocs)(Gen.words(r, 60))
    val groups = n / 20
    val contaminated = n / 50
    val junk = n * 2 / 25
    for (_ <- 0 until groups) {
      val base = Gen.doc(r); val lang = Gen.lang(r)
      val members = Seq(Gen.text(base), Gen.text(Gen.nearCopy(r, base)),
        Gen.text(Gen.nearCopy(r, base)), Gen.exactCopy(r, base), Gen.exactCopy(r, base))
        .map(t => (nextId(), t))
      members.foreach { case (i, t) => docs += Row(i, lang, t) }
      groupDocs += lang -> members.take(3)
    }
    for (_ <- 0 until contaminated) {
      val base = Gen.doc(r)
      val e = eval(r.nextInt(EvalDocs))
      val at = r.nextInt(e.length - 12)
      val cut = r.nextInt(base.length)
      val ws = base.take(cut) ++ e.slice(at, at + 12) ++ base.drop(cut)
      docs += Row(nextId(), Gen.lang(r), Gen.text(ws))
    }
    for (_ <- 0 until junk) docs += Row(nextId(), Gen.lang(r), Gen.junk(r))
    while (used < n) {
      val lang = Gen.lang(r)
      docs += Row(nextId(), lang, Gen.text(Gen.doc(r)))
      survivors(lang) += 1
    }
    // crawl order: shuffled, then cut into bundles of 1-6 documents
    val order = Gen.ids(r, docs.size).map(i => docs((i - 1).toInt))
    val bundles = mutable.ArrayBuffer.empty[Row]
    var i = 0
    while (i < order.length) {
      val k = math.min(1 + r.nextInt(6), order.length - i)
      bundles += Row(bundles.size.toLong + 1, order.slice(i, i + k).toSeq)
      i += k
    }
    Corpus(bundles.toSeq, eval.toSeq.zipWithIndex.map { case (ws, j) =>
      Row(j.toLong + 1, Gen.text(ws)) }, n.toLong, survivors.toMap, groupDocs.toSeq)
  }

  /** Rows the curation steps keep from `perLang` survivors: the top
    * fraction per language, then the exact mix, with the arithmetic of
    * Curate.topFractionPerGroup and Curate.mixingRates. */
  def mixed(perLang: Map[String, Long]): Long = {
    val top = perLang.map { case (l, c) => l -> math.ceil(c * TopFraction - 1e-9).toLong }
    val total = Mix.map { case (l, w) => top.getOrElse(l, 0L) / w }.min
    top.map { case (l, k) =>
      val w = Mix.getOrElse(l, 0.0)
      val rate = if (w > 0 && k > 0)
        BigDecimal(math.min(1.0, w * total / k))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        else 0.0
      math.floor(rate * k).toLong
    }.sum
  }
}
