package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.fixtures.SyntheticPages

/**
 * Physical-plan discipline (the "would this survive 100×" checks):
 * column pruning reaches the parquet scan, no cartesian products sneak
 * into candidate generation, exact-dup grouping avoids O(m²) expansion.
 */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val cfg = DedupConfig()

  private lazy val parquetPages = {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan").toString
    SyntheticPages.generate(spark, 200).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("signature scan prunes the html payload column") {
    val plan = DedupStages.signatures(parquetPages, cfg)
      .queryExecution.executedPlan.toString()
    val readSchemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toList
    assert(readSchemas.nonEmpty)
    readSchemas.foreach(rs => assert(!rs.contains("html"), s"html not pruned: $rs"))
  }

  test("candidate generation plans no cartesian product or nested loop join") {
    val pw = DedupStages.withIds(parquetPages)
    val (pairs, _) = DedupStages.candidatesFromProbes(
      DedupStages.probeRows(pw, cfg), DedupStages.leanSignatures(pw, cfg), cfg)
    val plan = pairs.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), "cartesian product in candidate plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "nested loop join in candidate plan")
  }

  test("one run scans probe_rows_for in exactly two query stages when no bucket is over the cap") {
    import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.graftbridge.ListenerBridge
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    // the final (AQE) plan of every action the run executes
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val pages = parquetPages
    ListenerBridge.drain(spark)
    spark.listenerManager.register(listener)
    val result =
      try { val r = DedupPipeline.run(spark, pages, cfg); ListenerBridge.drain(spark); r }
      finally spark.listenerManager.unregister(listener)
    assert(result.droppedBuckets.count() == 0, "fixture must keep every bucket under bucketCap")

    // Stages that run the probe generator: the plan of each query stage,
    // without the stages below it. A cached relation's plan runs inside
    // the first action that reads it, so it is walked once, where it is
    // first met, not once per consumer.
    val cachesWalked = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def probeStages(root: SparkPlan): Int = {
      var scans = false
      var below = 0
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => below += probeStages(a.executedPlan)
        case q: QueryStageExec => below += probeStages(q.plan)
        case m: InMemoryTableScanExec =>
          if (cachesWalked.add(m.relation.cacheBuilder)) below += probeStages(m.relation.cachedPlan)
        case g: GenerateExec if g.generator.toString.contains("probe_rows_for") =>
          scans = true
          g.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      walk(root)
      below + (if (scans) 1 else 0)
    }
    // the bucket counts pass and the tagged join; the star branch over an
    // empty hot set is pruned at run time
    val n = plans.asScala.toSeq.map(probeStages).sum
    spark.catalog.clearCache() // later specs plan over these pages uncached
    assert(n == 2, s"probe_rows_for ran in $n query stages, expected 2")
  }

  test("verify stage shingles only pair participants: semi-join sits below the shingle projection") {
    import org.apache.spark.sql.functions.{array_contains, col, lit}
    val pw = DedupStages.withIds(parquetPages).cache()
    val sigs = DedupStages.leanSignatures(pw, cfg)
    val (pairs, _) = DedupStages.candidatesFromProbes(
      DedupStages.probeRows(pw, cfg), sigs, cfg)
    val side = sigs.select("doc_id", "url", "source", "lang")
      .join(pw.select("doc_id", "text"), "doc_id")
    val cand = pairs.cache()
    // the subtree `verified` pins (round-6): participant semi-join BELOW
    // the shingle projection — only participants pay the recompute
    val sidePlan = DedupStages.participantSide(
        cand.where(!array_contains(col("channels"), "exact")),
        cand.where(array_contains(col("channels"), "exact")), side, cfg)
      .queryExecution.optimizedPlan.toString()
    assert(sidePlan.contains("LeftSemi"),
      "pair-participant semi-join missing — the verify stage would re-shingle the full corpus")
    assert(sidePlan.contains("shingle_hashes"),
      "shingle projection missing from the participant side subtree")
    // and the verify output consumes the side as ONE pinned relation:
    // no shingle recompute per consumer (weak a / weak b / exact fast
    // path — the pre-pin plan ran the full semi-join + text-join +
    // shingle subtree once PER consumer, 0 ReusedExchange)
    val verPlan = DedupStages.verified(cand, side, cfg)
      .queryExecution.optimizedPlan.toString()
    assert(!verPlan.contains("shingle_hashes"),
      "verify side recomputed per consumer — the pinned side relation leaked a shingle recompute")
  }

  test("paragraph dup stats shuffle hashes, never paragraph text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = parquetPages.selectExpr("url AS doc_id", "text")
    // AQE wraps the physical plan until execution; disable it so the
    // exchanges are inspectable pre-execution
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val shuffledCols =
      try graft.ops.ParagraphOps.paragraphDupStats(docs)
        .queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec => e.child.output.map(_.name)
        }
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(shuffledCols.nonEmpty)
    shuffledCols.foreach(cols =>
      assert(!cols.contains("par"),
        s"paragraph text crosses a shuffle: ${cols.mkString(",")}"))
  }

  test("paragraph dedup plans no cartesian or nested-loop join") {
    val docs = parquetPages.selectExpr("url AS doc_id", "text")
    val plan = graft.ops.ParagraphOps.dedupParagraphs(docs)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("decontamination probes eval grams via broadcast, never a shuffled or looped join") {
    import spark.implicits._
    val evalTexts = Seq("some benchmark snippet words here repeated enough times to window")
      .toDF("text")
    val corpus = parquetPages.selectExpr("url AS doc_id", "text")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try graft.ops.Decontaminate.overlap(corpus, evalTexts, n = 4)
        .queryExecution.executedPlan.toString()
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // the corpus-side gram stream must meet the (tiny) eval gram set as
    // a broadcast probe: no eval-gram shuffle of corpus grams, and
    // nothing degenerates to a nested-loop/cartesian shape
    assert(plan.contains("BroadcastHashJoin"), "eval-gram join is not broadcast")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("weighted mix plans zero shuffles (pure map-side projection)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = parquetPages.selectExpr("url AS doc_id", "lang")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val exchanges =
      try graft.ops.MixingOps.weightedMix(docs, "lang", Map("en" -> 1.6), 0.25)
        .queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(exchanges.isEmpty, s"mixing shuffled: ${exchanges.size} exchanges")
  }

  test("sequence packing shuffles once, on the bucket key, never the text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = parquetPages.selectExpr("cast(hash(url) as long) AS doc_id", "text")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val shuffled =
      try graft.ops.PackingOps.packSequences(docs, 256, 8)
        .queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec => e.child.output.map(_.name)
        }
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(shuffled.size == 1, s"expected exactly one exchange, got ${shuffled.size}")
    assert(!shuffled.head.contains("text"),
      s"doc text crosses the packing shuffle: ${shuffled.head.mkString(",")}")
  }

  test("bloom dedup probes map-side and anti-joins only the maybe-seen sliver") {
    val incoming = parquetPages.selectExpr("url AS k")
    val seen = parquetPages.limit(50).selectExpr("url AS k")
    val plan = graft.ops.BloomDedup.pruneNew(incoming, seen, "k")
      .queryExecution.optimizedPlan.toString()
    assert(plan.contains("might_contain"), "bloom probe missing from the plan")
    assert(plan.contains("LeftAnti"), "exact re-check anti-join missing")
  }

  test("exact channel emits a star, not O(m^2) pairs") {
    import spark.implicits._
    // 50 identical docs -> 49 star edges
    val pages = (0 until 50)
      .map(i => (s"https://h$i.example.com/$i", "same text body for every page here", "en", s"h$i"))
      .toDF("url", "text", "lang", "source")
    val sigs = DedupStages.signatures(pages, cfg)
    assert(DedupStages.exactCandidates(sigs).count() == 49)
  }

  test("shardAssign: exactly one shuffle, and doc text never crosses it") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // full-width docs in: column pruning must push the 3-column window
    // input below the exchange (at 100 TB the payload crossing the
    // shuffle IS the cost)
    val docs = parquetPages.selectExpr("url AS doc_id", "text", "lang")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val shuffled =
      try graft.ops.MixingOps.shardAssign(docs, nShards = 8, keyCol = "doc_id")
        .queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec => e.child.output.map(_.name)
        }
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(shuffled.size == 1, s"expected exactly one exchange, got ${shuffled.size}")
    assert(!shuffled.head.contains("text") && !shuffled.head.contains("lang"),
      s"payload crosses the shard shuffle: ${shuffled.head.mkString(",")}")
  }

  test("qualityBuckets: one shuffle on lang, score computed map-side (no text crosses)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val docs = parquetPages.selectExpr("url AS doc_id", "lang", "text")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val shuffled =
      try graft.ops.TextStats.qualityBuckets(docs)
        .queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec => e.child.output.map(_.name)
        }
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(shuffled.size == 1, s"expected exactly one exchange, got ${shuffled.size}")
    assert(!shuffled.head.contains("text"),
      s"doc text crosses the bucketing shuffle: ${shuffled.head.mkString(",")}")
  }

  test("semDedup pairs: no cartesian/nested-loop join, vectors never ride the cell shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val emb = (0 until 120).map(i => (i.toLong, Array.fill(16)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan =
      try graft.ops.Similarity.semDedupPairs(emb, threshold = 0.95)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val planStr = plan.toString()
    assert(!planStr.contains("CartesianProduct"), "cartesian product in semDedup plan")
    assert(!planStr.contains("BroadcastNestedLoopJoin"), "nested loop join in semDedup plan")
    // the cell self-join shuffles only narrow (vec_id, band) rows; the
    // vectors join back for the rerank AFTER candidate dedup
    plan.collect { case e: ShuffleExchangeExec => e.child.output }.foreach { out =>
      out.foreach(a => assert(
        !a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType],
        s"array column ${a.name} crosses a semDedup shuffle"))
    }
  }
}
