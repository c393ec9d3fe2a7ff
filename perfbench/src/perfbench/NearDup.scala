package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/**
 * Which planted near-duplicate pairs the program's MinHash-LSH can find.
 *
 * The operators call a pair a near duplicate when the two MinHash
 * signatures agree on every row of at least one band and on at least
 * `Threshold` of all positions. The signatures come from the program's own
 * `Dedup.minhashSignature`; this object applies the banding and threshold
 * rule to them on the driver, so the expected survivors follow the
 * operators' specification for the generated data. How many planted pairs
 * the rule accepts is reported as `operators.Dedup.near_recall`: it
 * measures the signature family, which the survivor checks take as given.
 */
object NearDup {
  val Shingle = 3
  val Hashes = 64
  val Bands = 16
  val Threshold = 0.7

  type Sig = IndexedSeq[Any]

  /** Signatures of the given (id, text) documents. */
  def signatures(spark: SparkSession, docs: Seq[(Long, String)]): Map[Long, Sig] =
    if (docs.isEmpty) Map.empty
    else spark.createDataFrame(spark.sparkContext.parallelize(
        docs.map { case (i, t) => Row(i, t) }, spark.sparkContext.defaultParallelism),
        StoreIngest.schema)
      .select(col("doc_id"), Dedup.minhashSignature(col("text"), Shingle, Hashes))
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1).toIndexedSeq).toMap

  def found(a: Sig, b: Sig): Boolean = {
    val eq = a.indices.map(i => a(i) == b(i))
    eq.grouped(Hashes / Bands).exists(_.forall(identity)) &&
      eq.count(identity).toDouble / Hashes >= Threshold
  }

  /** Connected components of `nodes` under the found pairs among them;
    * returns the smallest id of each component. */
  def representatives(nodes: Seq[Long], sig: Long => Sig): Seq[Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def root(n: Long): Long = if (parent(n) == n) n else root(parent(n))
    for (a <- nodes; b <- nodes if a < b && found(sig(a), sig(b))) {
      val (ra, rb) = (root(a), root(b))
      parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.filter(n => root(n) == n)
  }
}
