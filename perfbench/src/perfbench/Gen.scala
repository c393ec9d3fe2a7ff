package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/**
 * Seeded input generators with their ground truth. The same seed gives
 * byte-identical inputs; another seed gives the same sizes and shares with
 * other content. The vocabulary is fixed, so only the seed picks content.
 *
 * Planted structure, and why each piece is decided the same way by the
 * program's operators whatever the seed:
 *  - unrelated documents draw 25-40 words from 4096, so they share no
 *    3-shingle sets near the LSH threshold and no 8-gram with the eval set;
 *  - an exact copy differs only in letter case and spacing, which the
 *    fingerprint normalizes away;
 *  - a near duplicate swaps its last word, which changes one 3-shingle and
 *    keeps Jaccard with the original, and with any other near copy of it,
 *    at or above 22/24 ~ 0.92, far above the 0.7 MinHash-LSH threshold;
 *  - junk is either shorter than 15 words or digits only, which the
 *    quality filter drops.
 */
object Gen {
  val vocab: Array[String] = {
    val r = new SplittableRandom(20260101L)
    val syl = Array("ka", "lo", "mi", "tre", "su", "pan", "dor", "vel", "ix",
      "ro", "nu", "gal", "te", "bri", "os", "fen", "ul", "car", "zi", "mo")
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 4096)
      seen += (1 to 2 + r.nextInt(3)).map(_ => syl(r.nextInt(syl.length))).mkString
    seen.toArray
  }

  def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(vocab(r.nextInt(vocab.length)))

  def doc(r: SplittableRandom): Array[String] = words(r, 25 + r.nextInt(16))

  def text(ws: Array[String]): String = ws.mkString(" ")

  /** Same normalized content: random capitals and doubled spaces. */
  def exactCopy(r: SplittableRandom, ws: Array[String]): String =
    ws.map(w => if (r.nextInt(4) == 0) w.capitalize else w)
      .mkString(if (r.nextBoolean()) "  " else " ")

  /** The last word swapped for a different one. */
  def nearCopy(r: SplittableRandom, ws: Array[String]): Array[String] = {
    val out = ws.clone()
    var w = vocab(r.nextInt(vocab.length))
    while (w == ws.last) w = vocab(r.nextInt(vocab.length))
    out(ws.length - 1) = w
    out
  }

  def junk(r: SplittableRandom): String =
    if (r.nextBoolean()) text(words(r, 3 + r.nextInt(8)))
    else Array.fill(30 + r.nextInt(30))(r.nextInt(100000).toString).mkString(" ")

  /** A random permutation of 1..n as ids, so which member of a planted
    * group has the smallest id is itself random. */
  def ids(r: SplittableRandom, n: Int): Array[Long] = {
    val a = Array.tabulate(n)(i => i + 1L)
    for (i <- n - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  val langs = Seq("en" -> 0.4, "de" -> 0.3, "fr" -> 0.2, "es" -> 0.1)

  def lang(r: SplittableRandom): String = {
    var u = r.nextDouble()
    langs.find { case (_, p) => u -= p; u < 0 }.getOrElse(langs.last)._1
  }
}
