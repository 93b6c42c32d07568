package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.fixtures.CorpusGen

/**
 * End-to-end pipeline correctness on the seeded planted-duplicate corpus
 * (FIXTURES.md §2): dup-pair recall ≥ 0.99 vs the naive O(n²) oracle
 * (the BASELINE.json north-rule criterion), gate behavior, skew-guard
 * behavior, chain transitivity, and determinism.
 */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val corpus = CorpusGen.generate(seed = 42L, nBase = 400)
  private lazy val pagesDf: DataFrame = corpus.pages
    .map(p => (p.url, new java.sql.Timestamp(p.warcTs * 1000L), p.html, p.text, p.lang, p.source))
    .toDF("url", "warc_ts", "html", "text", "lang", "source")
    .cache()

  private def pipelinePairs(cfg: DedupConfig): Set[(String, String)] = {
    val r = DedupPipeline.run(spark, pagesDf, cfg)
    r.verifiedPairs.select("url_a", "url_b").collect()
      .map(x => (x.getString(0), x.getString(1))).toSet
  }

  test("dup-pair recall >= 0.99 and precision == 1.0 vs naive O(n^2) oracle") {
    // north-rule metric: same-cluster pairs (the batch pipeline may
    // star-reduce exact groups, so raw verified pairs under-count;
    // cluster-implied pairs are the comparable set — SURVEY.md §7.4)
    val oracle = NaiveDedup.clusterPairs(NaiveDedup.clusters(
      NaiveDedup.duplicatePairs(corpus.pages, NaiveDedup.Params())))
    val r = DedupPipeline.run(spark, pagesDf, DedupConfig())
    val got = NaiveDedup.clusterPairs(
      r.clusters.collect().map(x => x.getString(0) -> x.getString(1)).toMap)
    assert(oracle.nonEmpty, "oracle must find planted duplicates")
    val recall = (oracle & got).size.toDouble / oracle.size
    val precision = if (got.isEmpty) 1.0 else (oracle & got).size.toDouble / got.size
    assert(recall >= 0.99, s"recall $recall (missing ${(oracle -- got).take(5)})")
    assert(precision == 1.0, s"precision $precision (extra ${(got -- oracle).take(5)})")
  }

  test("cluster assignments match oracle transitive closure") {
    val oraclePairs = NaiveDedup.duplicatePairs(corpus.pages, NaiveDedup.Params())
    val oracleClusters = NaiveDedup.clusters(oraclePairs)
    val r = DedupPipeline.run(spark, pagesDf, DedupConfig())
    val got = r.clusters.collect().map(x => x.getString(0) -> x.getString(1)).toMap
    assert(got == oracleClusters)
  }

  test("reference gates: same-lang and cross-source restrictions") {
    val gated = DedupConfig(requireSameLang = true, crossSourceOnly = true)
    val got = pipelinePairs(gated)
    val oracle = NaiveDedup.duplicatePairs(corpus.pages,
      NaiveDedup.Params(requireSameLang = true, crossSourceOnly = true))
    assert(got == oracle)
    // the planted lang-mismatch and same-host pairs are excluded
    val langPairs = corpus.duplicatePairs(Set("lang"))
    val sameHostPairs = corpus.duplicatePairs(Set("same-host"))
    assert((got & langPairs).isEmpty)
    assert((got & sameHostPairs).isEmpty)
    // ...but present without the gates
    val ungated = pipelinePairs(DedupConfig())
    assert(langPairs.subsetOf(ungated))
    assert(sameHostPairs.subsetOf(ungated))
  }

  test("reference Levenshtein gate: pipeline == naive oracle with titleLevMax on, and the gate is non-vacuous") {
    val max = 10.0 // the reference's threshold (RecordManager.php:1583-1590)
    val got = pipelinePairs(DedupConfig(titleLevMax = Some(max)))
    val oracle = NaiveDedup.duplicatePairs(corpus.pages,
      NaiveDedup.Params(titleLevMax = Some(max)))
    assert(got == oracle,
      s"extra=${(got -- oracle).take(3)} missing=${(oracle -- got).take(3)}")
    // the gate must actually reject something on this corpus, or the
    // equivalence is vacuous
    val ungated = NaiveDedup.duplicatePairs(corpus.pages, NaiveDedup.Params())
    assert(oracle.subsetOf(ungated))
    assert(oracle != ungated,
      s"lev gate at $max rejected nothing (${ungated.size} pairs) — tighten the test threshold")
  }

  test("title lev gate is BYTE-semantic (PHP levenshtein/strlen) on an ÄÅÖ-bearing fixture, and empty-normalizing titles reject") {
    import graft.fixtures.CorpusGen.Page
    def pg(url: String, text: String) =
      Page(url, 1700000000L, Array.emptyByteArray, text, "sv", "x.test")
    // 24 distinct words of one 2-byte å/ä/ö prefix + an ascii letter;
    // page b edits ONE byte of the last word (å→ä differ in the second
    // UTF-8 byte). Normalized: 119 codepoints / 191 bytes, lev = 1 →
    // byte pct = 100/191 ≈ 0.524, codepoint pct = 100/119 ≈ 0.840.
    // At bound 0.7 the byte semantics ACCEPT what codepoint semantics
    // would reject — the pair separates the two formulas.
    val words = (0 until 24).map(i => "åäö" + ('a' + i).toChar)
    val a = pg("http://x.test/a", words.mkString(" "))
    val b = pg("http://x.test/b", (words.init :+ ("ääö" + ('a' + 23).toChar)).mkString(" "))
    // byte-identical punctuation-only pair: similarity 1.0 but both
    // titles normalize EMPTY → the reference rejects ("no title match
    // without title", RecordManager.php:1577-1581)
    val p1 = pg("http://x.test/p1", "!!! ??? !!! ??? !!! ???")
    val p2 = pg("http://x.test/p2", "!!! ??? !!! ??? !!! ???")
    val fixture = Seq(a, b, p1, p2)
    val df = fixture
      .map(p => (p.url, new java.sql.Timestamp(p.warcTs * 1000L), p.html, p.text, p.lang, p.source))
      .toDF("url", "warc_ts", "html", "text", "lang", "source")
    val bound = 0.7
    val got = DedupPipeline.run(spark, df, DedupConfig(titleLevMax = Some(bound)))
      .verifiedPairs.select("url_a", "url_b").collect()
      .map(x => (x.getString(0), x.getString(1))).toSet
    val oracle = NaiveDedup.duplicatePairs(fixture,
      NaiveDedup.Params(titleLevMax = Some(bound)))
    assert(got == oracle, s"got=$got oracle=$oracle")
    assert(got == Set(("http://x.test/a", "http://x.test/b")),
      s"byte semantics must accept the åäö pair and reject the empty-title pair, got $got")
    // non-vacuity: the codepoint formula lands on the other side of the bound
    val fn = graft.text.Normalize.normalize(a.text)
    val bn = graft.text.Normalize.normalize(b.text)
    assert(graft.text.Normalize.titleLevPct(fn, bn) < bound)
    assert(1 * 100.0 / fn.length >= bound, "codepoint pct must sit above the bound")
  }

  test("author gate: pipeline == naive oracle (skip both-empty, reject one-empty, authorMatch short-circuit, <=20 accept)") {
    // deterministic author assignment over the planted corpus: a pool
    // mixing empties, authorMatch-equal variants, and far-apart names
    val pool = Vector("", "john smith", "john smyth", "jane q doe",
      "completely different person entirely")
    val authorOf = (p: graft.fixtures.CorpusGen.Page) =>
      pool(math.abs(p.url.hashCode) % pool.size)
    val df = corpus.pages
      .map(p => (p.url, new java.sql.Timestamp(p.warcTs * 1000L), p.html,
        p.text, p.lang, p.source, authorOf(p)))
      .toDF("url", "warc_ts", "html", "text", "lang", "source", "author")
    val got = DedupPipeline.run(spark, df, DedupConfig(authorLevMax = Some(20.0)))
      .verifiedPairs.select("url_a", "url_b").collect()
      .map(x => (x.getString(0), x.getString(1))).toSet
    val oracle = NaiveDedup.duplicatePairs(corpus.pages,
      NaiveDedup.Params(authorLevMax = Some(20.0), authorOf = authorOf))
    assert(got == oracle,
      s"extra=${(got -- oracle).take(3)} missing=${(oracle -- got).take(3)}")
    // non-vacuity: the gate must both reject and pass something
    val ungated = NaiveDedup.duplicatePairs(corpus.pages, NaiveDedup.Params())
    assert(oracle.nonEmpty && oracle != ungated,
      s"author gate rejected nothing (${ungated.size} pairs)")
  }

  test("author gate boundary: ==bound accepts (reference rejects only > 20), lev 3/10 rejects") {
    import graft.fixtures.CorpusGen.Page
    val text = (0 until 24).map(i => "word" + ('a' + i).toChar).mkString(" ")
    def pg(url: String, author: String): (Page, String) =
      (Page(url, 1700000000L, Array.emptyByteArray, text, "en", "x.test"), author)
    // identical texts → similarity 1.0; the author gate decides.
    // abcdefghij vs abcdefghxy: authorMatch false (single-word authors,
    // word 0 differs → reject path k==0), byte lev 2, 10 codepoints →
    // pct exactly 20.0 → ACCEPT (the reference rejects only > 20)
    val fixtures = Seq(
      pg("http://x.test/b1", "abcdefghij"), pg("http://x.test/b2", "abcdefghxy"),
      // byte lev 3 → pct 30 → reject
      pg("http://x.test/c1", "abcdefghij"), pg("http://x.test/c2", "abcdefgxyz"))
    val df = fixtures
      .map { case (p, au) =>
        (p.url, new java.sql.Timestamp(p.warcTs * 1000L), p.html, p.text, p.lang, p.source, au) }
      .toDF("url", "warc_ts", "html", "text", "lang", "source", "author")
    val got = DedupPipeline.run(spark, df, DedupConfig(authorLevMax = Some(20.0)))
      .verifiedPairs.select("url_a", "url_b").collect()
      .map(x => (x.getString(0), x.getString(1))).toSet
    assert(got.contains(("http://x.test/b1", "http://x.test/b2")),
      s"pct == 20.0 must accept (reference rejects only > 20): $got")
    assert(!got.exists { case (u, v) => u.contains("/c") && v.contains("/c") },
      s"pct 30 must reject: $got")
  }

  test("planted classes: exact+near+chain+substr all clustered; negatives not; hot-band one cluster") {
    val r = DedupPipeline.run(spark, pagesDf, DedupConfig())
    val clusters = r.clusters.collect().map(x => x.getString(0) -> x.getString(1)).toMap
    val must = corpus.duplicatePairs(Set("exact", "near", "chain", "substr"))
    val together = must.count { case (a, b) =>
      clusters.get(a).isDefined && clusters.get(a) == clusters.get(b)
    }
    assert(together == must.size,
      s"all exact/near/chain/substr pairs must co-cluster ($together/${must.size})")
    // negative-near pairs must not co-cluster
    val neg = corpus.duplicatePairs(Set("negative"))
    neg.foreach { case (a, b) =>
      assert(clusters.get(a).isEmpty || clusters.get(a) != clusters.get(b),
        s"negative pair ($a,$b) must not cluster")
    }
    // hot-band boilerplate pages are identical -> exactly one cluster
    val hotUrls = corpus.truth.filter(_.kind == "hot-band").map(_.url).toSet
    val hotClusterIds = hotUrls.flatMap(clusters.get)
    assert(hotClusterIds.size == 1, s"hot-band pages must form one cluster, got $hotClusterIds")
    assert(hotUrls.forall(clusters.contains))
  }

  test("skew guard: bucket cap logs the 60-deep boilerplate buckets, exact channel preserves the cluster") {
    val capped = DedupConfig(bucketCap = 10)
    val r = DedupPipeline.run(spark, pagesDf, capped)
    assert(r.droppedBuckets.count() > 0,
      "60 identical pages must produce over-cap LSH/probe buckets at cap=10")
    val clusters = r.clusters.collect().map(x => x.getString(0) -> x.getString(1)).toMap
    val hotUrls = corpus.truth.filter(_.kind == "hot-band").map(_.url).toSet
    assert(hotUrls.forall(clusters.contains))
    assert(hotUrls.flatMap(clusters.get).size == 1)
  }

  test("over-cap star salvage: hot band fully clusters via LSH alone (exact channel OFF, cap=10)") {
    val capped = DedupConfig(bucketCap = 10, exactChannel = false)
    val r = DedupPipeline.run(spark, pagesDf, capped)
    assert(r.droppedBuckets.count() > 0, "over-cap buckets must still be logged")
    // the salvaged star (bucket min-id center × every member, O(m) rows)
    // must cluster ALL 60 identical pages without the exact channel's help
    val clusters = r.clusters.collect().map(x => x.getString(0) -> x.getString(1)).toMap
    val hotUrls = corpus.truth.filter(_.kind == "hot-band").map(_.url).toSet
    assert(hotUrls.forall(clusters.contains),
      "every hot-band page must be clustered via salvaged over-cap pairs")
    assert(hotUrls.flatMap(clusters.get).size == 1, "…in ONE cluster")
  }

  test("over-cap star join: broadcast disabled (forced shuffle fallback) yields identical pairs") {
    // Round-6: the former 16-way salt on the hot-bucket star join is gone
    // (AQE's skew-join split covers the shuffle-fallback regime it was
    // guarding; under broadcast it was pure plan cost) — the surviving
    // contract is that a forced shuffle fallback changes NO pairs and the
    // star join stays an equi-join AQE skew handling can split (no
    // cartesian/nested-loop degeneration).
    val capped = DedupConfig(bucketCap = 10, exactChannel = false)
    val normal = pipelinePairs(capped)
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    try {
      confs.foreach(spark.conf.set(_, "-1"))
      val r = DedupPipeline.run(spark, pagesDf, capped)
      val shuffled = r.verifiedPairs.select("url_a", "url_b").collect()
        .map(x => (x.getString(0), x.getString(1))).toSet
      assert(shuffled == normal, "shuffle-fallback candidate generation must not change pairs")
      val pw = DedupStages.withIds(pagesDf)
      val (cand, _) = DedupStages.candidatesFromProbes(
        DedupStages.probeRows(pw, capped), DedupStages.leanSignatures(pw, capped), capped)
      val physical = cand.queryExecution.executedPlan.toString()
      assert(!physical.contains("CartesianProduct") &&
        !physical.contains("BroadcastNestedLoopJoin"),
        s"star salvage must stay an equi-join under shuffle fallback:\n$physical")
      assert(!physical.contains("BroadcastHashJoin"),
        "disabled thresholds must actually reach the shuffle-join regime " +
          s"(the regime under test):\n$physical")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("bucketCap past the clique-pair array bound is rejected") {
    // a full clique of n members is n(n-1)/2 pairs in one array: 65535
    // members is the largest n whose clique still fits
    assert(DedupConfig(bucketCap = 65535).bucketCap == 65535)
    intercept[IllegalArgumentException](DedupConfig(bucketCap = 65536))
    // four 16-bit SimHash probe chunks are pigeonhole-complete only up to
    // Hamming 3; a larger bound would silently miss pairs
    intercept[IllegalArgumentException](DedupConfig(simhashMaxHamming = 4))
  }

  test("doc_ids are recompute-stable: same url -> same id under any partition layout") {
    def ids(df: DataFrame): Map[String, Long] =
      DedupStages.withIds(df).select("url", "doc_id").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val a = ids(pagesDf.repartition(7))
    val b = ids(pagesDf.repartition(3).sortWithinPartitions("text"))
    assert(a == b, "ids must not depend on partitioning or row order")
  }

  test("exact-channel verify fast path: identical rows to the full path, non-vacuously exercised") {
    val cfg = DedupConfig()
    val r = DedupPipeline.run(spark, pagesDf, cfg)
    assert(r.candidatePairs.where(array_contains(col("channels"), "exact")).count() > 0,
      "fixture must exercise the exact fast path")
    val side = r.signatures.select("doc_id", "url", "source", "lang", "content_hash")
      .join(DedupStages.withIds(pagesDf).select("doc_id", "text"), "doc_id")
    def rows(s: DataFrame) = DedupStages.verified(r.candidatePairs, s, cfg)
      .withColumn("channels", concat_ws(",", col("channels")))
      .collect().map(_.toString).sorted.toSeq
    // dropping content_hash disables the fast path -> full shingle verify
    assert(rows(side) == rows(side.drop("content_hash")))
  }

  test("determinism: two runs produce identical cluster tables") {
    val a = DedupPipeline.run(spark, pagesDf, DedupConfig())
      .clusters.collect().map(_.toString).sorted
    val b = DedupPipeline.run(spark, pagesDf, DedupConfig())
      .clusters.collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("checkpoint/resume: interrupted run resumes from committed stages, same output") {
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val cfg = DedupConfig()
    // full run with checkpoints
    val r1 = DedupPipeline.run(spark, pagesDf, cfg, Some(root))
    val full = r1.clusters.collect().map(_.toString).sorted
    // simulate a crash after candidate generation: delete later stages
    for (stage <- Seq("verified_pairs", "clusters", "merged_clusters")) {
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(root, s"$stage.manifest.json"))
    }
    val r2 = DedupPipeline.run(spark, pagesDf, cfg, Some(root))
    val resumed = r2.clusters.collect().map(_.toString).sorted
    assert(resumed.sameElements(full))
    // config change invalidates reuse (different hash -> recompute, same result)
    val r3 = DedupPipeline.run(spark, pagesDf, cfg.copy(bucketCap = 999), Some(root))
    assert(r3.clusters.collect().map(_.toString).sorted.sameElements(full))
  }
}
