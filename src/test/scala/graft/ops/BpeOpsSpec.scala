package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** BPE-merge learning pinned against an independent single-node
  * reference implementation (Sennrich et al. word-frequency algorithm,
  * re-written below from the paper's pseudocode — NOT by calling the
  * code under test). */
class BpeOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- independent reference: word-freq BPE with </w>, greedy
  // left-to-right merge application, (cnt desc, left, right) tie-break
  private def refMergePass(s: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == a && s(i + 1) == b) { out += (a + b); i += 2 }
      else { out += s(i); i += 1 }
    }
    out.result()
  }

  private def refBpe(words: Seq[String], k: Int): Seq[(String, String)] = {
    var wf: Map[String, (Vector[String], Long)] = words.groupBy(identity).map {
      case (w, g) => w -> ((w.split("").toVector :+ BpeOps.EndMark, g.size.toLong))
    }
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var done = false
    while (round < k && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((_, (syms, f)) <- wf; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.isEmpty) done = true
      else {
        val ((a, b), _) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        merges += ((a, b))
        wf = wf.map { case (w, (syms, f)) => w -> ((refMergePass(syms, a, b), f)) }
      }
      round += 1
    }
    merges.result()
  }

  private val corpus = Seq(
    "low low low low low", "lower lower newest newest", "newest newest newest newest",
    "widest widest widest", "new new newer the the the the the")

  test("learnMerges matches the independent reference on a classic corpus") {
    val docs = corpus.toDF("text")
    val words = corpus.flatMap(_.split("\\s+")).filter(_.nonEmpty)
    val expect = refBpe(words, 10)
    val got = BpeOps.learnMerges(docs, 10)
    assert(got == expect)
    // sanity: the classic result starts by building up frequent subwords
    assert(got.nonEmpty && got.head._2.nonEmpty)
  }

  test("learnMerges is deterministic across runs and repartitionings") {
    val d1 = corpus.toDF("text")
    val d2 = corpus.toDF("text").repartition(7)
    assert(BpeOps.learnMerges(d1, 6) == BpeOps.learnMerges(d2, 6))
  }

  test("distributed path (driver limit 0) matches the reference and the driver path") {
    // the small-vocab driver path handles every corpus above; force the
    // distributed delta rounds and pin all three against each other
    val docs = corpus.toDF("text")
    val words = corpus.flatMap(_.split("\\s+")).filter(_.nonEmpty)
    val dist = BpeOps.learnMerges(docs, 10, driverLimit = 0)
    assert(dist == refBpe(words, 10))
    assert(dist == BpeOps.learnMerges(docs, 10))
  }

  test("driver limits past Int range keep the driver path (no empty or negative limit)") {
    val docs = corpus.toDF("text")
    val expect = BpeOps.learnMerges(docs, 10)
    assert(expect.nonEmpty)
    assert(BpeOps.learnMerges(docs, 10, driverLimit = Long.MaxValue) == expect)
    assert(BpeOps.learnMerges(docs, 10, driverLimit = Int.MaxValue.toLong) == expect)
  }

  test("driver argmax breaks ties in UTF-8 order like the distributed orderBy") {
    // U+FFFD vs U+1D11E (a supplementary char): UTF-8/code-point order
    // says U+FFFD < U+1D11E, Java's UTF-16 code-unit order says the
    // OPPOSITE (the surrogate D834 < FFFD). After (q,</w>) merges first,
    // the pairs (�, q</w>) and (𝄞, q</w>) tie on count —
    // a driver path using the platform String ordering would pick the
    // wrong one and diverge from the distributed merge list.
    val tieCorpus = Seq("�q �q 𝄞q 𝄞q")
    val docs = tieCorpus.toDF("text")
    val dist = BpeOps.learnMerges(docs, 3, driverLimit = 0)
    val drv = BpeOps.learnMerges(docs, 3)
    assert(drv == dist)
    assert(dist.contains(("�", s"q${BpeOps.EndMark}")) ||
      dist.contains(("q", BpeOps.EndMark))) // sanity: the merges are real
  }

  test("learnMerges stops early when no pairs remain") {
    val docs = Seq("a b a b").toDF("text") // all words single-char: one pair (x,</w>) each
    val merges = BpeOps.learnMerges(docs, 50)
    val words = Seq("a", "b", "a", "b")
    assert(merges == refBpe(words, 50))
    assert(merges.length < 50) // exhausted, not padded to k
  }

  test("pairCounts matches a hand count (marker-free form)") {
    val wf = Seq(("ab", 3L), ("ba", 2L), ("aab", 1L)).toDF("word", "freq")
      .select(BpeOps.toSymbols(col("word"), endMark = false).as("syms"), col("freq"))
    val m = BpeOps.pairCounts(wf).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(m == Map(("a", "b") -> 4L, ("b", "a") -> 2L, ("a", "a") -> 1L))
  }

  test("tokenize applies merges per word; concatenation round-trips") {
    val words = corpus.flatMap(_.split("\\s+")).filter(_.nonEmpty)
    val merges = refBpe(words, 8)
    val toks = Seq("low lower newest")
      .toDF("text").select(BpeOps.tokenize(col("text"), merges))
      .head().getSeq[String](0)
    // round-trip: strip markers, re-split on markers -> original words
    assert(toks.mkString("").split(java.util.regex.Pattern.quote(BpeOps.EndMark)).toSeq ==
      Seq("low", "lower", "newest"))
    // with 8 merges on this corpus, frequent words compress to few tokens
    assert(toks.length < "low lower newest".replace(" ", "").length + 3)
  }
}
