package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.DeltaLog
import graft.pipeline.{DedupConfig, DedupPipeline}
import graft.streaming.StreamingDedup
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** An insert / update / delete batch against a fixed base corpus.
  * `StreamingDedup.processBatch` takes upsert sets, so a delete is an
  * upsert of a short unique tombstone text: it drops the doc from every
  * cluster. A batch edits each doc at most once, and leaves the planted
  * classes in `avoid` (an earlier batch's) alone: edits stacked on one
  * class would push its planted pairs past the similarity thresholds. */
object UpsertStream {
  final case class Plan(batch: Vector[Doc], finalDocs: Vector[Doc])

  def generate(seed: Long, base: Vector[Doc], size: Int, stream: Int,
               avoid: Set[Long] = Set.empty): Plan = {
    val w = new Words(seed, stream)
    val cur = mutable.LinkedHashMap(base.map(d => d.url -> d): _*)
    var truth = base.map(_.truth).max
    def fresh(): Long = { truth += 1; truth }
    val pool = base.filterNot(d => avoid(d.truth))
    def pick(): Doc = pool(w.rnd.nextInt(pool.size))
    def insert(k: Int, src: Doc): Doc = {
      val url = s"https://new.example.com/ins$stream/$k"
      if (w.rnd.nextInt(10) < 3) {
        Doc(url, w.text(w.replaceBlock(src.text.split(' '), 3)), src.lang, "new", src.truth)
      } else Doc(url, w.text(w.tokens(w.between(100, 300))), "en", "new", fresh())
    }
    def update(d: Doc): Doc =
      if (w.rnd.nextBoolean()) d.copy(text = w.text(w.replaceBlock(d.text.split(' '), 2)))
      else d.copy(text = w.text(w.tokens(w.between(100, 300))), truth = fresh())
    def delete(d: Doc): Doc =
      d.copy(text = s"tombstone ${w.word()} ${w.word()} ${d.url}", truth = fresh())
    // a third inserts, a third updates, a third deletes
    val third = size / 3
    val touched = mutable.LinkedHashMap.empty[String, Doc]
    while (touched.size < 2 * third) { val d = pick(); touched(d.url) = d }
    val (upd, del) = touched.values.toVector.splitAt(third)
    val ins = (0 until size - 2 * third).map { k =>
      var src = pick()
      while (touched.contains(src.url)) src = pick()
      insert(k, src)
    }
    val batch = ins.toVector ++ upd.map(update) ++ del.map(delete)
    batch.foreach(d => cur(d.url) = d)
    Plan(batch, cur.values.toVector)
  }
}

/** Write beside read: one batch folded into a copy of a prebuilt state.
  * With `compactEvery = 1` every batch is a full compaction cycle: it
  * appends its deltas and then compacts them. */
final class UpsertWorkload(spark: SparkSession, dir: String, parts: Int,
                           seed: Long, nBase: Int, batchSize: Int) extends Workload {
  private val cfg = DedupConfig()
  private val compactEvery = 1
  /** url-hash partitions of the state layout, sized to the small state */
  private val stateBuckets = 4
  private val snapshot = Paths.get(dir, "snapshot")
  private val state = s"$dir/state"
  private val tables = Seq("pages", "signatures", "probes", "verified_pairs")
  private var plan: UpsertStream.Plan = _
  private var planted = 0L

  private def batchDf: DataFrame = spark.read.parquet(s"$dir/batch/pages")
  private def truth: DataFrame = spark.read.parquet(s"$dir/final/truth")

  /** Building the state takes two `processBatch` calls (~30 s), so set-up
    * runs once. Those calls already run the cold, incremental and
    * compaction code, so the workload has no separate warm-up unit. */
  override val setupReps = 1
  override def warmUp(): Unit = ()

  /** The state grows as a live one does: a cold first batch of the base
    * pages, then one insert / update / delete batch that compacts it. */
  def setup(): Unit = {
    val base = Corpus.webLarge(seed, nBase, longPct = 0)
    Stage.write(spark, base, s"$dir/base", parts)
    val history = UpsertStream.generate(seed, base, batchSize, stream = 3)
    Stage.write(spark, history.batch, s"$dir/history", 1)
    delete(snapshot)
    for (b <- Seq("base", "history"))
      StreamingDedup.processBatch(spark, spark.read.parquet(s"$dir/$b/pages"), snapshot.toString,
        cfg, compactEvery = compactEvery, stateBuckets = stateBuckets)
    spark.catalog.clearCache()
    plan = UpsertStream.generate(seed, history.finalDocs, batchSize, stream = 1,
      avoid = history.batch.map(_.truth).toSet)
    Stage.write(spark, plan.batch, s"$dir/batch", 1)
    Stage.write(spark, plan.finalDocs, s"$dir/final", parts)
    planted = Stage.plantedPairs(plan.finalDocs)
  }

  private def delete(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private def files(root: Path): Map[String, Long] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.size(p)).toMap

  /** A byte-identical copy of the snapshot as the state to fold into. */
  private def fresh(): Unit = {
    val to = Paths.get(state)
    delete(to)
    Files.walk(snapshot).iterator().asScala.foreach { p =>
      val t = to.resolve(snapshot.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  private def applyBatch(): Unit =
    StreamingDedup.processBatch(spark, batchDf, state, cfg, compactEvery = compactEvery,
      stateBuckets = stateBuckets)

  /** Final clusters vs planted truth and vs a cold run over the resolved
    * snapshot (the incremental == cold equivalence), and every delta log
    * compacted by the batch. */
  private def checks(): (Double, Double, Seq[String]) = {
    val clusters = spark.read.parquet(s"$state/clusters")
    val verified = StreamingDedup.resolvedVerified(spark, state).get
    val recall = Stage.clusterRecall(clusters, truth, planted)
    val precision = Stage.pairPrecision(verified, truth)
    val cold = DedupPipeline.run(spark, StreamingDedup.resolvedPages(spark, state).get, cfg)
    def asSet(df: DataFrame) =
      df.select("url", "cluster_id").collect().map(r => r.getString(0) -> r.getString(1)).toSet
    val same = asSet(clusters) == asSet(cold.clusters)
    val compacted = tables.forall(DeltaLog.list(state, _).forall(DeltaLog.isCompacted))
    spark.catalog.clearCache()
    val problems = Seq(
      if (!compacted) Some("the batch did not compact the state") else None,
      if (recall < 0.99) Some(f"dup-pair recall $recall%.4f < 0.99") else None,
      if (precision < 0.99) Some(f"pair precision $precision%.4f < 0.99") else None,
      if (!same) Some("incremental clusters differ from a cold run over the resolved snapshot") else None
    ).flatten
    (recall, precision, problems)
  }

  private def stateBytesPerDoc(): Double =
    files(Paths.get(state)).values.sum.toDouble / StreamingDedup.resolvedPages(spark, state).get.count()

  def unit(): UnitOut = {
    fresh()
    val (_, wall) = Clock(applyBatch())
    val bytesPerDoc = stateBytesPerDoc()
    val (recall, precision, problems) = checks()
    UnitOut(wall, batchSize.toDouble, recall, precision,
      Map("state_bytes_per_doc" -> bytesPerDoc), problems)
  }

  private def writeTimeS(p: Path): Double =
    Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1e6

  /** Compaction runs inside `processBatch`, after the batch commits its
    * clusters. Its wall is read from the state's own commit records: from
    * the clusters commit to the last delta-log manifest the compaction
    * rewrote. */
  private def compactionS(): Double = {
    val root = Paths.get(state)
    tables.map(t => writeTimeS(root.resolve(s"$t.deltas.json"))).max -
      writeTimeS(root.resolve("clusters.manifest.json"))
  }

  def traced(t: Tracer): (Double, Map[String, Double], Seq[String]) = {
    fresh()
    val root = Paths.get(state)
    val deltasBefore = DeltaLog.list(state, "pages").size
    val dirty = batchDf.select("url").distinct().count()
    val pre = files(root)
    t.span("upsert")(t.span("streaming.batch")(applyBatch()))
    val added = files(root).filter { case (k, v) => !pre.get(k).contains(v) }
    t.drain()
    val rootSpan = t.named("upsert").get
    val batch = t.named("streaming.batch").get
    val m = Map(
      "streaming.batch.wall_s" -> batch.durS,
      "streaming.batch.jobs" -> t.stats(batch).jobs.toDouble,
      "streaming.batch.dirty_docs" -> dirty.toDouble,
      "streaming.batch.deltas_before" -> deltasBefore.toDouble,
      "io.deltalog.bytes_written" -> added.values.sum.toDouble,
      "io.deltalog.files_written" -> added.size.toDouble,
      "io.deltalog.compaction_s" -> compactionS(),
      "io.deltalog.state_bytes_per_doc" -> stateBytesPerDoc(),
      "trace.shortfall_s" -> (rootSpan.durS - batch.durS)
    ) ++ Workload.driverMetrics(t, rootSpan)
    val (_, _, problems) = checks()
    (rootSpan.durS, m, problems)
  }
}
