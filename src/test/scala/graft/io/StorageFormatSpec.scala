package graft.io

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The storage seam's cost and compatibility: a write is one Spark job
  * whose row count comes from the write itself, an open is none, an empty
  * partitioned delta still reads with its schema, temp dirs of crashed
  * writes are swept, and directories written without the schema sidecar
  * or with bucketed probe and pair logs (earlier layouts) still read. */
class StorageFormatSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmpDir(name: String): String = Files.createTempDirectory(name).toString

  /** Spark jobs started while `f` runs. */
  private def jobs[T](f: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
    }
    ListenerBridge.drain(spark)
    spark.sparkContext.addSparkListener(l)
    try { val r = f; ListenerBridge.drain(spark); (r, n.get) }
    finally spark.sparkContext.removeSparkListener(l)
  }

  /** A small delta with four `_ub` partitions. */
  private def rows(n: Int): DataFrame =
    (0 until n).map(i => (i.toLong, s"u$i", i % 4)).toDF("doc_id", "url", "_ub")

  test("a partitioned append is one job; opening sidecar dirs is none") {
    val root = tmpDir("graft-seam-jobs")
    val (n, appendJobs) = jobs(DeltaLog.append(rows(10), root, "t", 0L, Seq("_ub")))
    assert(n == 10 && appendJobs == 1, s"append wrote $n rows in $appendJobs jobs")
    assert(DeltaLog.list(root, "t").map(_.rows) == Seq(10L))
    DeltaLog.append(rows(6), root, "t", 1L, Seq("_ub"))
    val (log, readJobs) = jobs(DeltaLog.read(spark, root, "t").get)
    assert(readJobs == 0, s"opening two deltas ran $readJobs jobs")
    assert(log.columns.toSeq == Seq("doc_id", "url", "_batch", "_ub"))
    assert(log.count() == 16)

    val (_, commitJobs) = jobs(TableIO.commit(rows(5), root, "s", "c", "f"))
    assert(commitJobs == 1 && TableIO.readManifest(root, "s").get.rows == 5)
    val (stage, stageJobs) = jobs(TableIO.read(spark, root, "s"))
    assert(stageJobs == 0 && stage.count() == 5)
  }

  test("an empty partitioned append reads as 0 rows of its schema and unions with a sibling") {
    val root = tmpDir("graft-seam-empty")
    assert(DeltaLog.append(rows(0), root, "t", 0L, Seq("_ub")) == 0L)
    val empty = DeltaLog.read(spark, root, "t").get
    assert(empty.count() == 0)
    assert(empty.schema == StructType.fromDDL("doc_id BIGINT, url STRING, _batch BIGINT, _ub INT"))
    DeltaLog.append(rows(3), root, "t", 1L, Seq("_ub"))
    assert(DeltaLog.read(spark, root, "t").get.count() == 3)
  }

  test("observed row counts: empty, empty at run time under AQE, cached input") {
    val root = tmpDir("graft-seam-paths")
    val t0 = System.nanoTime()
    // the filter is opaque to the optimizer, so the join side only turns
    // out empty when AQE runs its shuffle stage
    val never = udf((i: Long) => i < 0L)
    val runtimeEmpty = rows(20).join(
      spark.range(50).where(never(col("id"))).repartition(4).withColumnRenamed("id", "doc_id"),
      "doc_id")
    assert(DeltaLog.append(runtimeEmpty, root, "aqe", 0L, Seq("_ub")) == 0L)
    assert(DeltaLog.read(spark, root, "aqe").get.count() == 0)
    val cached = rows(12).cache()
    cached.count()
    assert(DeltaLog.append(cached, root, "cached", 0L, Seq("_ub")) == 12L)
    assert(DeltaLog.append(cached.limit(0), root, "none", 0L, Seq("_ub")) == 0L)
    assert(TableIO.commit(cached.where(col("doc_id") < 0), root, "s", "c", "f").count() == 0)
    assert(TableIO.readManifest(root, "s").get.rows == 0)
    cached.unpersist()
    // every count arrived with its write, none after the bounded wait
    assert((System.nanoTime() - t0) / 1e9 < 30.0)
  }

  test("the next write deletes the temp dirs a crashed write left") {
    val root = tmpDir("graft-seam-orphans")
    DeltaLog.append(rows(4), root, "t", 0L, Seq("_ub"))
    TableIO.commit(rows(4), root, "s", "c", "f")
    val orphans = Seq(Paths.get(root, "t", ".tmp-crashed"), Paths.get(root, "t", ".stage-crashed"),
      Paths.get(root, "s.tmp-crashed"))
    orphans.foreach(p => Files.createDirectories(p.resolve("_ub=1")))
    val other = Paths.get(root, "ss.tmp-other") // another stage's temp dir
    Files.createDirectories(other)
    DeltaLog.append(rows(4), root, "t", 1L, Seq("_ub"))
    TableIO.commit(rows(4), root, "s", "c", "g")
    orphans.foreach(p => assert(!Files.exists(p), s"$p survived the next write"))
    assert(Files.exists(other))
    assert(DeltaLog.read(spark, root, "t").get.count() == 8)
  }

  /** Remove every schema sidecar under `root`: the earlier layout. */
  private def stripSidecars(root: String): Unit =
    Files.walk(Paths.get(root)).iterator().asScala.toSeq
      .filter(_.getFileName.toString == "_graft_schema.json").foreach(Files.delete)

  /** Replace the delta `dir` by a flat (unpartitioned) empty write in which
    * `_ub` is a data column ahead of `_batch`: the earlier layout of an
    * empty partitioned append. */
  private def flatEmpty(dir: Path): Unit = {
    val s = StorageFormat.read(spark, dir.toString).schema
    val cols = s.fieldNames.filterNot(Set("_ub", "_batch")) ++ Seq("_ub", "_batch")
    val flat = StructType(cols.map(s(_)))
    StorageFormat.delete(dir)
    spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), flat)
      .write.parquet(dir.toString)
  }

  /** Rewrite the delta `dir` partitioned by `_ub = pmod(xxhash64(keys), 4)`:
    * the layout of the probe and pair logs before they were written flat. */
  private def bucketed(dir: Path, keys: String*): Unit = {
    val tmp = dir.resolveSibling(s".ub-${dir.getFileName}")
    StorageFormat.write(StorageFormat.read(spark, dir.toString)
      .withColumn("_ub", pmod(xxhash64(keys.map(col): _*), lit(4L)).cast("int")),
      tmp.toString, Seq("_ub"))
    StorageFormat.delete(dir)
    Files.move(tmp, dir)
  }

  test("directories written without the schema sidecar still read and union") {
    val root = tmpDir("graft-seam-legacy")
    DeltaLog.append(rows(5), root, "t", 0L, Seq("_ub"))
    DeltaLog.append(rows(0), root, "t", 1L, Seq("_ub"))
    TableIO.commit(rows(3), root, "s", "c", "f")
    val want = DeltaLog.read(spark, root, "t").get.schema
    flatEmpty(Paths.get(root, "t", "d1"))
    stripSidecars(root)
    assert(DeltaLog.read(spark, root, "t").get.count() == 5)
    DeltaLog.append(rows(2), root, "t", 2L, Seq("_ub")) // with a sidecar
    val mixed = DeltaLog.read(spark, root, "t").get
    assert(mixed.schema == want && mixed.count() == 7)
    assert(mixed.where(col("_ub") === 1).count() == 2)
    assert(TableIO.read(spark, root, "s").schema ==
      StructType.fromDDL("doc_id BIGINT, url STRING, _ub INT"))
    assert(TableIO.read(spark, root, "s").count() == 3)
  }

  test("processBatch folds a batch onto a state written without sidecars like a cold run") {
    import graft.pipeline.{DedupConfig, DedupPipeline, DedupStages}
    import graft.streaming.StreamingDedup
    val cfg = DedupConfig()
    val dir = tmpDir("graft-seam-fold")
    def page(url: String, text: String, ts: Long) =
      (url, new java.sql.Timestamp(1700000000000L + ts), Array.emptyByteArray, text, "en", "s")
    def df(ps: Seq[(String, java.sql.Timestamp, Array[Byte], String, String, String)]) =
      ps.toDF("url", "warc_ts", "html", "text", "lang", "source")
    val shared = "shared duplicate body words alpha beta gamma delta epsilon zeta eta"
    val v1 = Seq(page("https://a.example.com/1", shared, 0),
      page("https://b.example.com/2", shared, 0),
      page("https://c.example.com/3", "a third page with entirely its own words and body", 0))
    StreamingDedup.processBatch(spark, df(v1), dir, cfg, batchId = 0L, compactEvery = 0,
      stateBuckets = 4)
    // batch 0's probe and pair deltas in the earlier bucketed layout
    bucketed(Paths.get(dir, "probes", "d0"), "channel", "bucket_key")
    bucketed(Paths.get(dir, "verified_pairs", "d0"), "url_a")
    // the empty deltas of a zero-dirty batch 1, in the earlier flat layout
    for (t <- Seq("signatures", "probes", "verified_pairs")) {
      DeltaLog.append(DeltaLog.read(spark, dir, t).get.drop("_batch").limit(0), dir, t, 1L,
        Seq("_ub"))
      flatEmpty(Paths.get(dir, t, "d1"))
    }
    stripSidecars(dir)

    def clusters(d: DataFrame) = d.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    def cold(ps: Seq[(String, java.sql.Timestamp, Array[Byte], String, String, String)]) =
      clusters(DedupPipeline.run(spark, DedupStages.withSource(df(ps)), cfg).clusters)

    val batch = Seq(page("https://d.example.com/4", shared, 5),
      page("https://c.example.com/3", "a rewritten third page about other things now", 5))
    StreamingDedup.processBatch(spark, df(batch), dir, cfg, batchId = 2L, compactEvery = 0,
      stateBuckets = 4)
    val got = clusters(TableIO.read(spark, dir, "clusters"))
    val snapshot = v1.filterNot(_._1 == "https://c.example.com/3") ++ batch
    assert(got == cold(snapshot))
    assert(got.keySet == Set("https://a.example.com/1", "https://b.example.com/2",
      "https://d.example.com/4"))
    assert(StreamingDedup.resolvedSignatures(spark, dir).get.count() == 4)

    // a compacting fold over the mixed bucketed / flat probe and pair logs
    val batch3 = Seq(page("https://e.example.com/5", shared, 7))
    StreamingDedup.processBatch(spark, df(batch3), dir, cfg, batchId = 3L, compactEvery = 1,
      stateBuckets = 4)
    assert(clusters(TableIO.read(spark, dir, "clusters")) == cold(snapshot ++ batch3))
    for (t <- Seq("probes", "verified_pairs")) {
      val Seq(c) = DeltaLog.list(dir, t)
      assert(DeltaLog.isCompacted(c))
      assert(!StorageFormat.read(spark, Paths.get(dir, t, c.dir).toString).columns
        .contains("_ub"), s"compacted $t still carries _ub")
    }
  }
}
