package perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** One generated page. `truth` is the planted duplicate-cluster id: two
  * docs are a planted duplicate pair iff they share it. Singletons get a
  * unique id. The program under test never sees this column. */
final case class Doc(url: String, text: String, lang: String, source: String, truth: Long)

/** Seeded text material: a Zipf-skewed vocabulary of synthetic words and
  * the edit operations every generator builds its planted pairs from.
  * Generators that share a seed draw from distinct `stream`s, so one never
  * replays another's text. */
final class Words(seed: Long, stream: Int = 0) {
  val rnd = new SplittableRandom(seed * 1000003L + stream)
  private val vocabSize = 30000
  private val cons = "bcdfghjklmnprstvz"
  private val vows = "aeiou"

  private val vocab: Array[String] = Array.tabulate(vocabSize) { i =>
    val sb = new StringBuilder
    var x = i + 1
    while (x > 0) {
      val s = x % 85
      sb.append(cons.charAt(s / 5)).append(vows.charAt(s % 5))
      x /= 85
    }
    sb.toString
  }

  /** Skewed pick: low ranks are common, like function words. */
  def word(): String = vocab((vocabSize * math.pow(rnd.nextDouble(), 2.2)).toInt)

  def tokens(n: Int): Array[String] = Array.fill(n)(word())

  def between(lo: Int, hi: Int): Int = lo + rnd.nextInt(hi - lo + 1)

  /** Replace `len` consecutive tokens at a random position with fresh ones. */
  def replaceBlock(t: Array[String], len: Int): Array[String] = {
    val out = t.clone()
    val at = rnd.nextInt(math.max(1, t.length - len))
    var i = at
    while (i < math.min(t.length, at + len)) { out(i) = word(); i += 1 }
    out
  }

  def text(t: Array[String]): String = t.mkString(" ")

  def lang(): String = {
    val u = rnd.nextInt(100)
    if (u < 70) "en" else if (u < 80) "de" else if (u < 88) "fr" else if (u < 95) "es" else "zh"
  }
}

/** Deterministic corpus generators, one per pipeline workload. Every doc
  * gets a fresh url; docs are shuffled so planted cluster members are not
  * adjacent in the input. */
object Corpus {

  private final class Builder(tag: String, w: Words) {
    val docs = ArrayBuffer.empty[(String, Long)]
    private var nextTruth = 0L
    def newTruth(): Long = { nextTruth += 1; nextTruth }
    def add(text: String, truth: Long): Unit = docs += (text -> truth)
    def single(text: String): Unit = add(text, newTruth())

    def build(): Vector[Doc] = {
      val order = docs.indices.toArray
      var i = order.length - 1
      while (i > 0) { // Fisher-Yates with the corpus seed
        val j = w.rnd.nextInt(i + 1)
        val t = order(i); order(i) = order(j); order(j) = t
        i -= 1
      }
      order.iterator.zipWithIndex.map { case (k, pos) =>
        val (text, truth) = docs(k)
        val src = s"h${w.rnd.nextInt(40)}"
        Doc(s"https://$src.example.com/$tag/$pos", text, w.lang(), src, truth)
      }.toVector
    }
  }

  /** Web pages: mostly 100-300 tokens, `longPct`% at 5-10k tokens; 15% of docs
    * sit in planted 3-member clusters (exact copy, block edit, or an
    * appended tail that keeps containment at 1). */
  def webLarge(seed: Long, n: Int, longPct: Int = 3): Vector[Doc] = {
    val w = new Words(seed)
    val b = new Builder("web", w)
    val clusters = (n * 0.05).toInt
    val clusterLens = lengths(w, clusters, longPct)
    for (len <- clusterLens) {
      val root = w.tokens(len)
      val t = b.newTruth()
      b.add(w.text(root), t)
      b.add(w.text(if (w.rnd.nextBoolean()) root else w.replaceBlock(root, 3)), t)
      b.add(w.text(w.rnd.nextInt(3) match {
        case 0 => root ++ w.tokens(math.max(5, root.length / 10))
        case 1 => w.replaceBlock(root, 4)
        case _ => w.replaceBlock(w.replaceBlock(root, 2), 2)
      }), t)
    }
    for (len <- lengths(w, n - b.docs.size, longPct)) b.single(w.text(w.tokens(len)))
    b.build()
  }

  /** `count` doc lengths, exactly `longPct`% of them long (5-10k tokens)
    * and the rest 100-300 tokens, spread evenly over each range and
    * shuffled: total corpus size does not depend on the seed. */
  private def lengths(w: Words, count: Int, longPct: Int): Array[Int] = {
    val nLong = math.round(count * longPct / 100.0).toInt
    def spread(k: Int, lo: Int, hi: Int) =
      Array.tabulate(k)(i => lo + ((hi - lo) * (i + 0.5) / k).toInt)
    val out = spread(nLong, 5000, 10000) ++ spread(count - nLong, 100, 300)
    var i = out.length - 1
    while (i > 0) {
      val j = w.rnd.nextInt(i + 1)
      val t = out(i); out(i) = out(j); out(j) = t
      i -= 1
    }
    out
  }

  /** Near-dup-dense corpus. Planted classes:
    *  - one mega-cluster of 1-token edits of a root (its LSH, SimHash and
    *    anchor buckets exceed bucketCap, so candidates come from the star
    *    salvage branch);
    *  - heavy-tailed clique clusters (size ~ 520/k^0.9) of short docs, each
    *    member a 2-token block edit of the root: every member pair is a
    *    verified edge, which pushes the edge count past the driver
    *    union-find limit;
    *  - chains A≈B≈C… where each link is a block edit of the previous
    *    member and distant members fall below the thresholds;
    *  - near-threshold negatives: a 25% block replaced (Jaccard ~0.6,
    *    containment ~0.75), planted as a separate class;
    *  - unrelated pages sharing a 44-token boilerplate block (an over-cap
    *    substring bucket whose star pairs the verify stage must reject). */
  def dupHeavy(seed: Long, megaSize: Int, cliqueTop: Int, chains: Int,
               negatives: Int, boiler: Int): Vector[Doc] = {
    val w = new Words(seed)
    val b = new Builder("dup", w)

    val mega = w.tokens(w.between(150, 250))
    val mt = b.newTruth()
    b.add(w.text(mega), mt)
    for (_ <- 1 until megaSize) b.add(w.text(w.replaceBlock(mega, 1)), mt)

    var k = 1
    var size = cliqueTop
    while (size >= 2) {
      val root = w.tokens(w.between(60, 90))
      val t = b.newTruth()
      b.add(w.text(root), t)
      for (_ <- 1 until size) b.add(w.text(w.replaceBlock(root, 2)), t)
      k += 1
      size = (cliqueTop / math.pow(k, 0.9)).toInt
    }

    for (_ <- 0 until chains) {
      var cur = w.tokens(w.between(120, 200))
      val t = b.newTruth()
      b.add(w.text(cur), t)
      for (_ <- 1 until w.between(4, 12)) {
        cur = w.replaceBlock(cur, cur.length / 12)
        b.add(w.text(cur), t)
      }
    }

    for (_ <- 0 until negatives) {
      val root = w.tokens(w.between(120, 200))
      b.single(w.text(root))
      b.single(w.text(w.replaceBlock(root, root.length / 4)))
    }

    val boilerplate = w.tokens(44)
    for (_ <- 0 until boiler) {
      val body = w.tokens(w.between(200, 300))
      val at = w.rnd.nextInt(body.length)
      b.single(w.text(body.take(at) ++ boilerplate ++ body.drop(at)))
    }
    b.build()
  }
}
