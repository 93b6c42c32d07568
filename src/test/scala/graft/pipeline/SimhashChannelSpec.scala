package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SparkTestSession}
import graft.fixtures.CorpusGen

/**
 * The SimHash channel on its own (the `q_simhash_pairs` surface, which
 * has no DuckDB oracle): with no probe bucket over the cap, the 16-bit
 * chunk probes are pigeonhole-complete for Hamming ≤ 3 and the residual
 * check makes them exact, so the channel's pairs must equal the
 * brute-force O(n²) Hamming-ball pairs over the same SimHash values.
 */
class SimhashChannelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("simhash-only candidate pairs == brute-force pairs within simhashMaxHamming") {
    val cfg = SparkEntry.cfg
    val corpus = CorpusGen.generate(seed = 11L, nBase = 200)
    // the harness `documents` shape q_simhash_pairs reads
    val dir = java.nio.file.Files.createTempDirectory("graft-simhash").toString
    corpus.pages.zipWithIndex
      .map { case (p, i) => (i.toLong, p.text, p.lang, p.source) }
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$dir/documents.parquet")

    val sigs = DedupStages.signatures(
      DedupStages.pagesFromDocuments(spark.read.parquet(s"$dir/documents.parquet")), cfg)
      .where(col("n_shingles") > 0)
    val maxBucket = DedupStages.simhashProbes(sigs)
      .groupBy("probe_id", "probe_val").count().agg(max("count")).head().getLong(0)
    assert(maxBucket <= cfg.bucketCap,
      s"fixture must keep every probe bucket under the cap ($maxBucket > ${cfg.bucketCap})")

    val docs = sigs.select("url", "simhash").as[(String, Long)].collect()
    val expected = (for {
      i <- docs.indices; j <- (i + 1) until docs.length
      if java.lang.Long.bitCount(docs(i)._2 ^ docs(j)._2) <= cfg.simhashMaxHamming
    } yield {
      val (a, b) = (docs(i)._1, docs(j)._1)
      if (a < b) (a, b) else (b, a)
    }).toSet
    assert(expected.nonEmpty, "fixture must plant pairs within the Hamming ball")

    val rows = SparkEntry.queries("q_simhash_pairs")(spark, dir)
      .select("url_a", "url_b").as[(String, String)].collect()
    assert(rows.length == rows.toSet.size, "q_simhash_pairs emitted duplicate rows")
    assert(rows.toSet == expected,
      s"missing ${(expected -- rows).take(5)}, extra ${(rows.toSet -- expected).take(5)}")
  }
}
