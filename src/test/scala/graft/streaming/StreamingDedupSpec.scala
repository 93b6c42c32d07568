package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.pipeline.{DedupConfig, DedupPipeline, DedupStages}

/** Top-level row type: Encoders can't codegen constructors of
  * test-class-nested case classes. */
case class StreamPage(url: String, warc_ts: java.sql.Timestamp, html: Array[Byte],
                      text: String, lang: String, source: String)

/** readStream → foreachBatch incremental fold: two micro-batches of page
  * upserts end in the same clusters as one cold batch over the union. */
class StreamingDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private type P = StreamPage
  private val P = StreamPage
  private def p(url: String, text: String, ts: Long = 0L, lang: String = "en"): P =
    P(url, new java.sql.Timestamp(1700000000000L + ts), Array.emptyByteArray, text, lang,
      url.replaceAll("https://([^.]+).*", "$1"))

  test("two streamed upsert batches == one cold batch over the final snapshot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stateDir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val cfg = DedupConfig()

    val batch1 = Seq(
      p("https://a.example.com/1", "the quick brown fox jumps over the lazy dog again and again and again"),
      p("https://b.example.com/2", "the quick brown fox jumps over the lazy dog again and again and again"),
      p("https://c.example.com/3", "completely unrelated page body with its own words and content here"))
    val batch2 = Seq(
      // upsert: url 3 content changes into a copy of 1 -> joins the cluster
      p("https://c.example.com/3", "the quick brown fox jumps over the lazy dog again and again and again", ts = 5000),
      p("https://d.example.com/4", "another singleton page talking about something else entirely today"))

    val stream = MemoryStream[StreamPage]
    // ProcessingTime(0) keeps the query live across both upsert batches
    // (AvailableNow would stop after draining what existed at start)
    val query = StreamingDedup.attach(stream.toDF(), stateDir, cfg,
      trigger = Trigger.ProcessingTime(0))
    stream.addData(batch1: _*)
    query.processAllAvailable()
    stream.addData(batch2: _*)
    query.processAllAvailable()
    query.stop()

    val got = graft.io.TableIO.read(spark, stateDir, "clusters")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

    // cold run over the final snapshot (url 3 at its newest content)
    val finalSnapshot = (batch1.filterNot(_.url == "https://c.example.com/3") ++ batch2).toDF()
    val cold = DedupPipeline.run(spark, DedupStages.withSource(finalSnapshot), cfg)
    val want = cold.clusters.collect().map(r => r.getString(0) -> r.getString(1)).toMap

    assert(got == want)
    assert(got.values.toSet.size == 1, "urls 1,2,3 form one cluster")
    assert(got.keySet == Set("https://a.example.com/1", "https://b.example.com/2",
      "https://c.example.com/3"))

    // O(batch) state I/O: batch 2's deltas are bounded by the BATCH (2
    // upserts), not the corpus — the state tables are append-only logs
    import graft.io.DeltaLog
    val batch2Id = DeltaLog.list(stateDir, "pages").map(_.batchId).max
    def rowsAt(table: String) =
      DeltaLog.list(stateDir, table).filter(_.batchId == batch2Id).map(_.rows).sum
    assert(rowsAt("pages") == 2, "pages delta must hold exactly the 2 upserts")
    assert(rowsAt("signatures") == 2, "only the 2 dirty docs re-signed")
    assert(rowsAt("probes") < 100, "probe delta is two docs' worth")
    // resolved views carry the full state regardless
    assert(StreamingDedup.resolvedPages(spark, stateDir).get.count() == 4)
    assert(StreamingDedup.resolvedSignatures(spark, stateDir).get.count() == 4)
  }

  test("bucketed state prunes per-batch reads: a one-bucket batch reads fewer rows than unbucketed, same clusters") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val cfg = DedupConfig()
    // batch 1: 200 distinct-content docs spread across url buckets;
    // batch 2: ONE new doc duplicating doc 7 — its reads must undercut
    // the no-pruning layout of the same state
    val seed = (0 until 200).map(i => p(s"https://s$i.example.com/$i",
      s"unique page number $i body alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"))
    val dup = Seq(p("https://dup.example.com/x",
      "unique page number 7 body alpha7 beta7 gamma7 delta7 epsilon7 zeta7 eta7 theta7", ts = 9))

    /** records read from file sources during batch 2, at the given bucket
      * count (fresh state dir per run; listener drained by quiescence). */
    def run(nB: Int): (Long, Map[String, String]) = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-bkt$nB").toString
      StreamingDedup.processBatch(spark, seed.toDF(), dir, cfg,
        batchId = 0L, compactEvery = 0, stateBuckets = nB)
      val acc = new java.util.concurrent.atomic.AtomicLong
      val l = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          acc.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(l)
      try {
        StreamingDedup.processBatch(spark, dup.toDF(), dir, cfg,
          batchId = 1L, compactEvery = 0, stateBuckets = nB)
        // drain the async listener bus: wait until the counter is stable
        var last = -1L
        var stable = 0
        while (stable < 3) {
          Thread.sleep(200)
          val now = acc.get
          if (now == last) stable += 1 else { stable = 0; last = now }
        }
      } finally spark.sparkContext.removeSparkListener(l)
      val clusters = graft.io.TableIO.read(spark, dir, "clusters")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      (acc.get, clusters)
    }

    val (readsPruned, cPruned) = run(64)
    val (readsFull, cFull) = run(1)
    info(s"batch-2 records read: pruned=$readsPruned full=$readsFull")
    assert(cPruned == cFull, "bucket layout must not change the clusters")
    assert(cPruned.values.toSet.size == 1 && cPruned.keySet ==
      Set("https://s7.example.com/7", "https://dup.example.com/x"))
    // the url-bucketed reads: signaturesOf the batch url (1 bucket) and
    // pagesOf the verify participants and the cluster members (dup and
    // doc 7: at most 2 buckets each), so the batch touches at most 3 of
    // 64 url buckets. Each of the three reads then skips ~190 of the
    // state's 200 rows that the single-bucket layout reads; every other
    // read (probes, pairs, the narrow signature scans) is the same in
    // both runs. So pruning must save at least 400 records
    assert(readsFull - readsPruned >= 400,
      s"expected url-bucket pruning to cut batch-2 reads: pruned=$readsPruned full=$readsFull")
  }

  test("zero-dirty micro-batch (unchanged re-crawl / redelivery) is a safe no-op") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("graft-stream-z").toString
    val cfg = DedupConfig()
    val batch1 = Seq(
      p("https://a.example.com/1", "shared duplicate body words alpha beta gamma delta epsilon zeta"),
      p("https://b.example.com/2", "shared duplicate body words alpha beta gamma delta epsilon zeta"),
      p("https://c.example.com/3", "entirely different third page content with its own words here"))
    StreamingDedup.processBatch(spark, batch1.toDF(), stateDir, cfg, batchId = 0L)
    // batch 2 re-delivers the SAME content (newer ts): zero dirty docs —
    // empty bucketed deltas must append cleanly (the partitioned write of
    // an empty frame used to produce an unreadable delta directory)
    val batch2 = batch1.map(x => x.copy(warc_ts = new java.sql.Timestamp(1700000009000L)))
    val r = StreamingDedup.processBatch(spark, batch2.toDF(), stateDir, cfg, batchId = 1L)
    import graft.io.DeltaLog
    val sigRows = DeltaLog.list(stateDir, "signatures")
      .filter(_.batchId == 1L).map(_.rows).sum
    assert(sigRows == 0, "no dirty docs -> empty signature delta")
    val got = graft.io.TableIO.read(spark, stateDir, "clusters")
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    assert(got.keySet == Set("https://a.example.com/1", "https://b.example.com/2"))
    assert(r.signatures.count() == 3)
  }

  test("compaction preserves state: many small batches with compactEvery=2 still match the cold run") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("graft-stream-c").toString
    val cfg = graft.pipeline.DedupConfig()
    val batches = Seq(
      Seq(p("https://a.example.com/1", "alpha beta gamma delta epsilon zeta eta theta iota kappa")),
      Seq(p("https://b.example.com/2", "alpha beta gamma delta epsilon zeta eta theta iota kappa", ts = 1)),
      Seq(p("https://c.example.com/3", "totally different body of words in this third page here", ts = 2)),
      Seq(p("https://a.example.com/1", "totally different body of words in this third page here", ts = 3)),
      Seq(p("https://d.example.com/4", "alpha beta gamma delta epsilon zeta eta theta iota kappa", ts = 4)))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingDedup.processBatch(spark, b.toDF(), stateDir, cfg,
        batchId = i.toLong, compactEvery = 2)
    }
    import graft.io.DeltaLog
    assert(DeltaLog.list(stateDir, "pages").size <= 3,
      "compaction must bound the delta count")
    val got = graft.io.TableIO.read(spark, stateDir, "clusters")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // cold truth over the final snapshot: 1 upserted to page-3's text
    val finalSnapshot = Seq(
      batches(1).head, batches(2).head, batches(3).head, batches(4).head).toDF()
    val cold = graft.pipeline.DedupPipeline.run(spark,
      graft.pipeline.DedupStages.withSource(finalSnapshot), cfg)
    val want = cold.clusters.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == want, s"got $got want $want")
  }

  test("verified_pairs log: split liveness at the compaction watermark") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("graft-stream-vp").toString
    val cfg = DedupConfig()
    def pair(i: Int, ts: Long): Seq[P] = {
      val t = s"pair number $i shared body alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"
      Seq(p(s"https://h$i.example.com/a$i", t, ts), p(s"https://h$i.example.com/b$i", t, ts))
    }
    def kill(i: Int, ts: Long): P =
      p(s"https://h$i.example.com/a$i", s"rewritten solitary body $i with its very own words now omega$i psi$i chi$i phi$i", ts)
    // batch 0: 40 planted pairs; batch 1: pair 40; batch 2: pair 41 +
    // re-sign kills pair 0 → triggers compaction (3 dirs > compactEvery=2);
    // batch 3 (post-compaction): pair 42 + re-sign kills COMPACTED pair 1
    // — exercises the baseline's broadcast anti-join liveness, the d-dir
    // full resolution, and their union
    val batches = Seq(
      (0 until 40).flatMap(pair(_, 0L)),
      pair(40, 1L),
      pair(41, 2L) :+ kill(0, 2L),
      pair(42, 3L) :+ kill(1, 3L))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingDedup.processBatch(spark, b.toDF(), stateDir, cfg,
        batchId = i.toLong, compactEvery = 2)
    }
    import graft.io.DeltaLog
    assert(DeltaLog.list(stateDir, "verified_pairs").exists(DeltaLog.isCompacted),
      "fixture must actually compact the pair log")

    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
      df.select("url_a", "url_b").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    val full = pairsOf(StreamingDedup.resolvedVerified(spark, stateDir).get)
    val expected = ((2 until 43).map(i =>
      (s"https://h$i.example.com/a$i", s"https://h$i.example.com/b$i"))).toSet
    assert(full == expected,
      s"missing=${(expected -- full).take(3)} extra=${(full -- expected).take(3)}")
  }

  /** One prior state and one insert / update / delete batch (a delete is
    * an upsert of a short unique tombstone text), folded by both front ends
    * of the incremental core:
    *
    *  - in memory: `DedupPipeline.run` over v1 gives the `PrevState`, and
    *    `IncrementalDedup.runDelta` folds the v2 snapshot into it;
    *  - delta log: v1 arrives as two `processBatch` calls (the second one
    *    compacts), then the batch is folded with its Spark jobs counted.
    *
    * 50 v1 docs: 40 random bodies, exact copies of bodies 0-4 and near
    * copies (one appended token) of bodies 5-9 on other hosts. */
  private final class FrontEnds {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.ListenerBridge
    import graft.pipeline.IncrementalDedup
    val rnd = new scala.util.Random(9L)
    val bodies = Vector.fill(40)(Seq.fill(60)(s"w${rnd.nextInt(400)}").mkString(" "))
    val v1 = bodies.indices.map(i => p(s"https://s${i % 5}.example.com/$i", bodies(i))) ++
      (0 until 5).map(i => p(s"https://x.example.com/e$i", bodies(i))) ++
      (5 until 10).map(i => p(s"https://y.example.com/n$i", bodies(i) + " tail"))
    val batch = Seq(
      p("https://z.example.com/i20", bodies(20), ts = 9),            // exact-copy insert
      p("https://z.example.com/i21", bodies(21) + " more", ts = 9),  // near-copy insert
      p("https://z.example.com/fresh", "an inserted page about nothing else at all", ts = 9),
      p("https://y.example.com/n5", "rewritten page n5 with new words only", ts = 9),
      p("https://x.example.com/e1", bodies(1) + " edit", ts = 9),    // exact -> near
      p("https://x.example.com/e2", "tombstone e2", ts = 9),         // delete
      p("https://s0.example.com/30", bodies(31), ts = 9))            // joins body 31
    val v2 = v1.filterNot(x => batch.exists(_.url == x.url)) ++ batch
    val cfg = DedupConfig()

    val full1 = DedupPipeline.run(spark, v1.toDF().cache(), cfg)
    val mem = IncrementalDedup.runDelta(spark, IncrementalDedup.PrevState(
      full1.signatures.cache(), full1.probes.cache(), full1.verifiedPairs.cache()),
      v2.toDF().cache(), cfg)

    val stateDir = java.nio.file.Files.createTempDirectory("graft-stream-fe").toString
    def fold(rows: Seq[P], bid: Long): DedupPipeline.Result =
      StreamingDedup.processBatch(spark, rows.toDF(), stateDir, cfg, batchId = bid,
        compactEvery = 1, stateBuckets = 4)
    fold(v1.zipWithIndex.filter(_._2 % 2 == 0).map(_._1), 0L)
    fold(v1.zipWithIndex.filter(_._2 % 2 == 1).map(_._1), 1L)
    val compacted = Seq("pages", "signatures", "probes", "verified_pairs")
      .forall(t => graft.io.DeltaLog.list(stateDir, t).forall(graft.io.DeltaLog.isCompacted))
    private val counter = new java.util.concurrent.atomic.AtomicInteger
    private val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = counter.incrementAndGet(): Unit
    }
    ListenerBridge.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    val log = try { val r = fold(batch, 2L); ListenerBridge.drain(spark); r }
      finally spark.sparkContext.removeSparkListener(listener)
    val jobs = counter.get
  }
  private lazy val frontEnds = new FrontEnds

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.select("url_a", "url_b").collect().map(r => (r.getString(0), r.getString(1))).toSet
  private def clusterMap(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.select("url", "cluster_id").collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("job-count ratchet: one small upsert batch onto a compacted state") {
    val fe = frontEnds
    assert(fe.compacted, "fixture must start from a compacted state")
    info(s"upsert batch jobs: ${fe.jobs}")
    // 169 when this spec was introduced; 95 once writes counted their own
    // rows, opens read a stored schema and the dirty set ran once; 94 once
    // the probe log was written flat and its bucket collect went (each the
    // same in two runs). Lower it when a change removes jobs, never raise it
    val bound = 94
    assert(fe.jobs <= bound, s"upsert batch ran ${fe.jobs} Spark jobs, bound $bound")
  }

  test("cross-front-end equivalence: the in-memory and delta-log passes fold one batch alike") {
    import org.apache.spark.sql.functions.col
    val fe = frontEnds
    val pairs = pairSet(fe.log.verifiedPairs)
    assert(pairSet(fe.mem.full.verifiedPairs) == pairs)
    assert(clusterMap(fe.mem.full.clusters) == clusterMap(fe.log.clusters))
    // the batch both made and broke pairs
    assert(pairs.contains(("https://s0.example.com/20", "https://z.example.com/i20")))
    assert(pairs.contains(("https://s1.example.com/21", "https://z.example.com/i21")))
    assert(pairs.contains(("https://s0.example.com/30", "https://s1.example.com/31")))
    assert(pairs.contains(("https://s1.example.com/1", "https://x.example.com/e1")))
    val broken = Set("https://x.example.com/e2", "https://y.example.com/n5")
    assert(!pairs.exists(x => broken(x._1) || broken(x._2)))
    // the signature delta holds exactly the dirty docs on both paths
    val dirty = fe.batch.map(_.url).toSet
    def urls(df: org.apache.spark.sql.DataFrame) = df.select("url").collect().map(_.getString(0)).toSeq
    assert(urls(fe.mem.deltaSignatures).sorted == dirty.toSeq.sorted)
    val logDelta = graft.io.DeltaLog.read(spark, fe.stateDir, "signatures").get
      .where(col("_batch") === 2L)
    assert(urls(logDelta).sorted == dirty.toSeq.sorted)
  }
}
