package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.fixtures.CorpusGen

/**
 * Incremental pass correctness (SURVEY.md §2.9): evolving the snapshot
 * (adds + content changes + deletes) through IncrementalDedup must land on
 * the same clusters as a cold full run over the new snapshot.
 */
class IncrementalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def toDf(pages: Seq[CorpusGen.Page]): DataFrame =
    pages.map(p => (p.url, new java.sql.Timestamp(p.warcTs * 1000L), p.html, p.text, p.lang, p.source))
      .toDF("url", "warc_ts", "html", "text", "lang", "source")

  private def clustersOf(r: DedupPipeline.Result): Map[String, String] =
    r.clusters.collect().map(x => x.getString(0) -> x.getString(1)).toMap

  test("incremental (adds + changes + deletes) == cold full run on the new snapshot") {
    val corpus = CorpusGen.generate(seed = 7L, nBase = 150)
    val v1 = corpus.pages

    // v2: delete every 13th page, rewrite the text of every 11th (making
    // it unique -> breaks any pair it was in), add 20 new pages two of
    // which are exact copies of surviving pages (new duplicates)
    val survivors = v1.zipWithIndex.filterNot(_._2 % 13 == 0).map(_._1)
    val changed = survivors.zipWithIndex.map { case (p, i) =>
      if (i % 11 == 0) p.copy(text = s"rewritten unique content number $i " + p.text.takeWhile(_ != ' '))
      else p
    }
    val adds = (0 until 20).map { k =>
      val base = changed(k * 3 % changed.size)
      if (k < 2) base.copy(url = s"https://newhost.example.com/doc/new$k")
      else CorpusGen.Page(s"https://newhost.example.com/doc/new$k", 1800000000L + k,
        Array.emptyByteArray, s"fresh page body $k with entirely novel tokens x$k y$k z$k", "en", "newhost")
    }
    val v2 = changed ++ adds

    val cfg = DedupConfig()
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    // no input caches here: every cache below is one a run makes itself
    // (the PrevState .cache() calls alias full1's pins)
    val full1 = DedupPipeline.run(spark, toDf(v1), cfg)
    val prev = IncrementalDedup.PrevState(
      full1.signatures.cache(), full1.probes, full1.verifiedPairs.cache())

    val incr = IncrementalDedup.run(spark, prev, toDf(v2), cfg)
    val cold = DedupPipeline.run(spark, toDf(v2), cfg)

    assert(clustersOf(incr) == clustersOf(cold))
    // pair sets match too (channels may differ in provenance order only)
    val pi = incr.verifiedPairs.select("url_a", "url_b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val pc = cold.verifiedPairs.select("url_a", "url_b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pi == pc)
    // the dirty set is a small fraction: recompute touched << full corpus
    // (dirty = new sig rows whose (url, content_hash) was not in v1)
    val recomputed = incr.signatures.join(
      prev.signatures.select("url", "content_hash"),
      Seq("url", "content_hash"), "left_anti").count()
    assert(recomputed < v2.size / 2, s"only dirty docs re-signed (got $recomputed of ${v2.size})")
    Seq(full1, incr, cold).foreach(_.unpersist())
    assert(cacheManager.isEmpty, "a run left cached plans behind")
  }

  test("O(dirty): probe work scales with the dirty set and unchanged docs join candidates ONLY via the stored probe index") {
    val corpus = CorpusGen.generate(seed = 11L, nBase = 120)
    val v1 = corpus.pages
    // one dirty doc: a NEAR copy (not exact — keeps the content-hash
    // channel out of the picture) of an existing unchanged page
    val base = v1.head
    val near = base.copy(url = "https://newhost.example.com/doc/nn0",
      source = "newhost", text = base.text + " tailword")
    val v2 = v1 :+ near

    val cfg = DedupConfig()
    val full1 = DedupPipeline.run(spark, toDf(v1).cache(), cfg)
    val prev = IncrementalDedup.PrevState(
      full1.signatures.cache(), full1.probes.cache(), full1.verifiedPairs.cache())

    val incr = IncrementalDedup.run(spark, prev, toDf(v2).cache(), cfg)
    // the near pair is found through the UNCHANGED side's stored probes
    assert(incr.verifiedPairs
      .where(col("url_a") === near.url || col("url_b") === near.url)
      .count() >= 1, "dirty near-copy must pair with its unchanged original")
    // probe work is O(dirty): the updated index grew by ~one doc's probes
    val grown = incr.probes.count() - full1.probes.count()
    assert(grown > 0 && grown < 100,
      s"fresh probe rows must be one doc's worth, got $grown")

    // CONTROL: with the stored index emptied, the same pair is NOT found —
    // proof the incremental pass does not secretly re-probe unchanged text
    val prevEmpty = prev.copy(probes = full1.probes.where(lit(false)))
    val incrEmpty = IncrementalDedup.run(spark, prevEmpty, toDf(v2), cfg)
    assert(incrEmpty.verifiedPairs
      .where(col("url_a") === near.url || col("url_b") === near.url)
      .count() === 0, "emptied index must hide the unchanged side")
  }
}
