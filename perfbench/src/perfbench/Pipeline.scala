package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.{ConnectedComponents, DedupConfig, DedupPipeline, DedupStages}

/** Input staging shared by the workloads: generated docs → parquet in the
  * pages schema, plus the planted truth beside it. */
object Stage {
  val pagesSchema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("warc_ts", TimestampType),
    StructField("html", BinaryType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType)))

  def pageRow(d: Doc, i: Int): Row =
    Row(d.url, new java.sql.Timestamp(1700000000000L + i * 1000L),
      s"<html><body>${d.text}</body></html>".getBytes("UTF-8"), d.text, d.lang, d.source)

  def write(spark: SparkSession, docs: Seq[Doc], dir: String, parts: Int): Unit = {
    val rows = docs.zipWithIndex.map { case (d, i) => pageRow(d, i) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), pagesSchema)
      .write.mode("overwrite").parquet(s"$dir/pages")
    import spark.implicits._
    spark.sparkContext.parallelize(docs.map(d => (d.url, d.truth)), parts).toDF("url", "truth")
      .write.mode("overwrite").parquet(s"$dir/truth")
  }

  /** Planted pairs of a truth labelling: Σ C(|class|, 2). */
  def plantedPairs(docs: Seq[Doc]): Long =
    docs.groupBy(_.truth).values.map(m => m.size.toLong * (m.size - 1) / 2).sum

  /** Order-free fingerprint of a pair set. */
  def pairPrint(pairs: DataFrame): (Long, Long) = {
    val r = pairs.agg(count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(url_a, url_b))"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Pair recall after clustering: a planted pair counts when both docs
    * land in one output cluster. */
  def clusterRecall(clusters: DataFrame, truth: DataFrame, planted: Long): Double = {
    val found = clusters.join(truth, "url").groupBy("truth", "cluster_id").count()
      .agg(coalesce(sum(col("count") * (col("count") - 1) / 2), lit(0.0))).head().getDouble(0)
    if (planted == 0) 1.0 else found / planted
  }

  /** Share of verified pairs whose docs share a planted class. */
  def pairPrecision(verified: DataFrame, truth: DataFrame): Double = {
    val r = verified.select("url_a", "url_b")
      .join(truth.select(col("url").as("url_a"), col("truth").as("ta")), "url_a")
      .join(truth.select(col("url").as("url_b"), col("truth").as("tb")), "url_b")
      .agg(count(lit(1)), coalesce(sum(when(col("ta") === col("tb"), 1L).otherwise(0L)), lit(0L)))
      .head()
    if (r.getLong(0) == 0) 1.0 else r.getLong(1).toDouble / r.getLong(0)
  }
}

/** Full dedup pipeline over a staged corpus (web_large, dup_heavy). One
  * unit = one `DedupPipeline.run`, from the input DataFrame to the merged
  * clusters written to the no-op sink. */
final class PipelineWorkload(spark: SparkSession, dir: String, parts: Int, tracing: Boolean,
                             gen: Int => Vector[Doc]) extends Workload {
  private val cfg = DedupConfig()
  private var nDocs = 0L
  private var planted = 0L
  private def pages: DataFrame = spark.read.parquet(s"$dir/pages")
  private def truth: DataFrame = spark.read.parquet(s"$dir/truth")

  /** `gen(k)` generates the corpus scaled down k times. */
  def setup(): Unit = {
    val docs = gen(1)
    Stage.write(spark, docs, dir, parts)
    nDocs = docs.size
    planted = Stage.plantedPairs(docs)
  }

  /** A tenth of the corpus warms the JIT and code generation in about
    * half the time of the whole corpus; warming on the whole did not make
    * the measured unit steadier. */
  override def warmUp(): Unit = {
    Stage.write(spark, gen(10), s"$dir/warm", parts)
    val r = DedupPipeline.run(spark, spark.read.parquet(s"$dir/warm/pages"), cfg)
    r.merged.write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
  }

  private var lastUntraced: Option[((Long, Long), Long)] = None

  def unit(): UnitOut = {
    val (r, wall) = Clock {
      val r = DedupPipeline.run(spark, pages, cfg)
      r.merged.write.format("noop").mode("overwrite").save()
      r
    }
    val recall = Stage.clusterRecall(r.clusters, truth, planted)
    val precision = Stage.pairPrecision(r.verifiedPairs, truth)
    // what the next traced unit must reproduce
    if (tracing)
      lastUntraced = Some(Stage.pairPrint(r.verifiedPairs) -> r.clusters.select("cluster_id").distinct().count())
    spark.catalog.clearCache()
    val problems = Seq(
      if (recall < 0.99) Some(f"dup-pair recall $recall%.4f < 0.99") else None,
      if (precision < 0.99) Some(f"pair precision $precision%.4f < 0.99") else None).flatten
    UnitOut(wall, nDocs.toDouble, recall, precision, Map.empty, problems)
  }

  /** The stage-by-stage composition `DedupPipeline.run` performs, each
    * stage forced by an action inside its own span. */
  def traced(t: Tracer): (Double, Map[String, Double], Seq[String]) = {
    var n = Map.empty[String, Double]
    def put(k: String, v: Double): Unit = n += k -> v
    val root = t.span("pipeline") {
      val pw = t.span("pipeline.pages") {
        val pw = DedupStages.withIds(pages).cache()
        put("pipeline.pages.rows", pw.count().toDouble); pw
      }
      val sigs = t.span("pipeline.signatures") {
        val s = DedupStages.leanSignatures(pw, cfg).cache(); s.count(); s
      }
      val probes = t.span("functions.probe") {
        val p = DedupStages.probeRows(pw, cfg).cache()
        put("functions.probe.rows_out", p.count().toDouble); p
      }
      val candC = t.span("pipeline.candidates") {
        val (cand, dropped) = DedupStages.candidatesFromProbes(probes, sigs, cfg)
        val c = cand.cache()
        put("pipeline.candidates.pairs_out", c.count().toDouble)
        put("pipeline.candidates.buckets_over_cap", dropped.count().toDouble)
        c
      }
      val ver = t.span("pipeline.verify") {
        val textCols = Seq("doc_id", "text") ++
          (if (pw.columns.contains("author")) Seq("author") else Nil)
        val side = sigs.select("doc_id", "url", "source", "lang", "content_hash")
          .join(pw.select(textCols.map(col): _*), "doc_id")
        val v = DedupStages.verified(candC, side, cfg).cache()
        put("pipeline.verify.pairs_out", v.count().toDouble); v
      }
      val clu = t.span("pipeline.cc") {
        val c = DedupStages.clusters(ver).cache()
        put("pipeline.cc.vertices_out", c.count().toDouble); c
      }
      t.span("pipeline.merge") {
        val m = DedupStages.mergedClusters(clu, pw).cache()
        put("pipeline.merge.clusters_out", m.count().toDouble)
      }
      // counts below are read after the root span closes
      (probes, ver, clu)
    }
    val (probes, ver, clu) = root
    t.drain()
    val buckets = probes.groupBy("channel", "bucket_key").count().where(col("count") >= 2).count()
    // the edge set ConnectedComponents.run sizes against driverEdgeLimit to
    // pick its path: canonical orientation, self-loops dropped, deduplicated
    val canonicalEdges = ver.where(col("url_a") =!= col("url_b"))
      .select(greatest(col("url_a"), col("url_b")), least(col("url_a"), col("url_b")))
      .distinct().count()
    val fidelity = Stage.pairPrint(ver) -> clu.select("cluster_id").distinct().count()
    spark.catalog.clearCache()

    val rootSpan = t.named("pipeline").get
    def sp(name: String) = t.named(name).get
    def layer(name: String, core: Boolean = true, shuffle: Boolean = false): Unit = {
      val s = sp(name)
      put(s"$name.self_s", t.selfS(s))
      if (core) put(s"$name.core_s", t.stats(s).coreMs / 1000.0)
      if (shuffle) put(s"$name.shuffle_write_mb", t.stats(s).shuffleWrite / 1e6)
    }
    put("pipeline.pages.wall_s", sp("pipeline.pages").durS)
    put("pipeline.signatures.self_s", t.selfS(sp("pipeline.signatures")))
    layer("functions.probe")
    put("functions.probe.rows_per_doc", n("functions.probe.rows_out") / n("pipeline.pages.rows"))
    layer("pipeline.candidates", shuffle = true)
    put("pipeline.candidates.spill_mb", t.stats(sp("pipeline.candidates")).spill / 1e6)
    put("pipeline.candidates.buckets_multi", buckets.toDouble)
    put("pipeline.candidates.task_skew", t.taskSkew(sp("pipeline.candidates")))
    layer("pipeline.verify", shuffle = true)
    put("pipeline.verify.pairs_in", n("pipeline.candidates.pairs_out"))
    put("pipeline.verify.accept_ratio",
      n("pipeline.verify.pairs_out") / math.max(1.0, n("pipeline.verify.pairs_in")))
    layer("pipeline.cc", core = false)
    put("pipeline.cc.jobs", t.stats(sp("pipeline.cc")).jobs.toDouble)
    put("pipeline.cc.edges_in", canonicalEdges.toDouble)
    put("pipeline.cc.distributed",
      if (canonicalEdges > ConnectedComponents.driverEdgeLimit) 1.0 else 0.0)
    layer("pipeline.merge", shuffle = true)
    Workload.driverMetrics(t, rootSpan).foreach { case (k, v) => put(k, v) }
    put("trace.shortfall_s", rootSpan.durS - t.spans.filter(_.parent == rootSpan.id).map(t.selfS).sum)

    val problems = lastUntraced.filter(_ != fidelity).map { u =>
      s"traced composition differs from DedupPipeline.run: pairs/clusters $fidelity vs $u"
    }.toSeq
    (rootSpan.durS, n, problems)
  }
}
