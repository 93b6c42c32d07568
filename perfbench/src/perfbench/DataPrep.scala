package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{BpeOps, ExactSubstr, PackingOps, Similarity, TextStats}
import scala.collection.mutable

/** Training-data operators over a seeded corpus plus embeddings. One unit
  * = one pass of every operator, each forced by an action. */
final class DataPrepWorkload(spark: SparkSession, dir: String, parts: Int, seed: Long,
                             nDocs: Int, nVecs: Int) extends Workload {
  import spark.implicits._
  private val dim = 64
  private val nQueries = 50
  private val k = 10
  private val passage = 60

  /** Staged inputs with their planted truth. */
  private final case class Input(passageDocs: Set[Long],
                                 groups: Map[Long, Long], plantedPairs: Long,
                                 bruteTopK: Map[Long, Set[Long]]) {
    def docs: DataFrame = spark.read.parquet(s"$dir/docs")
    def emb: DataFrame = spark.read.parquet(s"$dir/emb")
  }
  private var input: Input = _
  /** output fingerprints of the first pass (the warm-up); later passes must match */
  private var reference = Map.empty[String, Long]

  def setup(): Unit = {
    input = stage()
    reference = Map.empty
  }

  private def stage(): Input = {
    val w = new Words(seed, stream = 2)
    val shared = w.tokens(passage)
    val rows = Corpus.webLarge(seed, nDocs, longPct = 0).zipWithIndex.map { case (d, i) =>
      if (i % 50 == 7) {
        val t = d.text.split(' ')
        val at = w.rnd.nextInt(t.length)
        (i.toLong, w.text(t.take(at) ++ shared ++ t.drop(at)))
      } else (i.toLong, d.text)
    }
    spark.sparkContext.parallelize(rows, parts).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/docs")

    // embeddings: 24 topic centres plus per-vector noise (same-topic
    // cosine ~0.8); every 10th vector starts a planted group of 2-4 near
    // copies (cosine > 0.99 to their seed)
    val vecs = mutable.ArrayBuffer.empty[(Long, Array[Float])]
    val g = mutable.Map.empty[Long, Long]
    def gauss(): Array[Float] = Array.fill(dim)(nextGaussian(w).toFloat)
    val topics = Array.fill(24)(gauss())
    while (vecs.size < nVecs) {
      val id = vecs.size.toLong
      val v = topics(w.rnd.nextInt(topics.length)).map(x => x + 0.5f * nextGaussian(w).toFloat)
      vecs += id -> v
      if (id % 10 == 0) {
        val members = w.between(1, 3)
        g(id) = id
        for (_ <- 0 until members if vecs.size < nVecs) {
          val m = vecs.size.toLong
          vecs += m -> v.map(x => x + 0.05f * nextGaussian(w).toFloat)
          g(m) = id
        }
      }
    }
    spark.sparkContext.parallelize(vecs.toSeq, parts).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/emb")
    val brute = Similarity.knnBrute(spark.read.parquet(s"$dir/emb"), nQueries, k).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    Input(rows.indices.filter(_ % 50 == 7).map(_.toLong).toSet, g.toMap,
      g.values.groupBy(identity).values.map(c => c.size.toLong * (c.size - 1) / 2).sum, brute)
  }

  private def nextGaussian(w: Words): Double = {
    val u = math.max(1e-12, w.rnd.nextDouble())
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * w.rnd.nextDouble())
  }

  private def print(df: DataFrame): Long =
    df.agg(coalesce(expr(s"bit_xor(xxhash64(${df.columns.mkString(", ")}))"), lit(0L))).head().getLong(0)

  /** Every operator once; `around` wraps each call (a span when traced). */
  private def pass(in: Input, around: (String, () => Unit) => Unit)
      : (Map[String, Long], Double, Double, Double, Seq[String]) = {
    import in.{docs, emb}
    val fp = mutable.Map.empty[String, Long]
    val problems = mutable.ArrayBuffer.empty[String]
    var recall, precision, knnRecall = 0.0
    around("ops.quality", () => fp("quality") = print(TextStats.qualityFeatures(docs)))
    around("ops.exact_substr", () => {
      val spans = ExactSubstr.duplicatedSpans(docs, 32).cache()
      fp("exact_substr") = print(spans)
      val hit = spans.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      if (!in.passageDocs.subsetOf(hit)) problems += "exact_substr missed a planted passage"
      spans.unpersist()
    })
    around("ops.bpe", () => {
      val merges = BpeOps.learnMerges(docs, 64)
      fp("bpe") = merges.hashCode.toLong
      if (merges.size != 64) problems += s"bpe learned ${merges.size} merges, wanted 64"
    })
    around("ops.semdedup", () => {
      val out = Similarity.semDedup(emb).select("vec_id", "cluster_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      fp("semdedup") = out.sorted.toSeq.hashCode.toLong
      val byCluster = out.groupBy(_._2).values.map(_.map(_._1)).filter(_.length > 1)
      var clustered, good = 0L
      byCluster.foreach { ids =>
        for (i <- ids.indices; j <- i + 1 until ids.length) {
          clustered += 1
          if (in.groups.get(ids(i)).exists(in.groups.get(ids(j)).contains)) good += 1
        }
      }
      recall = if (in.plantedPairs == 0) 1.0 else good.toDouble / in.plantedPairs
      precision = if (clustered == 0) 1.0 else good.toDouble / clustered
    })
    around("ops.knn_ivf", () => {
      val ivf = Similarity.knnIvf(emb, nQueries, k).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
      fp("knn_ivf") = ivf.toSeq.sortBy(_._1).map(_._2.toSeq.sorted).hashCode.toLong
      knnRecall = in.bruteTopK.map { case (q, b) => (ivf.getOrElse(q, Set.empty) intersect b).size }.sum /
        in.bruteTopK.values.map(_.size).sum.toDouble
    })
    around("ops.packing", () => {
      val packed = PackingOps.packSequences(docs, 2048, 16)
      fp("packing") = print(packed)
      if (packed.count() != nDocs) problems += "packing lost or duplicated docs"
    })
    if (recall < 0.99) problems += f"semdedup planted-pair recall $recall%.4f < 0.99"
    if (precision < 0.99) problems += f"semdedup pair precision $precision%.4f < 0.99"
    if (knnRecall < 0.9) problems += f"knn_ivf recall $knnRecall%.4f < 0.9"
    if (reference.isEmpty) reference = fp.toMap
    fp.foreach { case (op, v) =>
      if (reference(op) != v) problems += s"$op output fingerprint changed between passes"
    }
    (fp.toMap, recall, precision, knnRecall, problems.toSeq)
  }

  def unit(): UnitOut = {
    val ((fp, recall, precision, knnRecall, problems), wall) = Clock(pass(input, (_, call) => call()))
    // same seed, same outputs: compare these across commits
    println(s"perfbench: output fingerprints ${fp.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    spark.catalog.clearCache()
    UnitOut(wall, nDocs.toDouble, recall, precision,
      Map("knn_recall" -> knnRecall), problems)
  }

  def traced(t: Tracer): (Double, Map[String, Double], Seq[String]) = {
    val out = t.span("data_prep")(pass(input, (name, call) => t.span(name)(call())))
    t.drain()
    spark.catalog.clearCache()
    val root = t.named("data_prep").get
    val m = t.spans.filter(_.parent == root.id).flatMap { s =>
      Seq(s"${s.name}.self_s" -> t.selfS(s), s"${s.name}.core_s" -> t.stats(s).coreMs / 1000.0,
        s"${s.name}.shuffle_write_mb" -> t.stats(s).shuffleWrite / 1e6)
    }.toMap ++ Workload.driverMetrics(t, root) ++ Map(
      "ops.knn_ivf.recall" -> out._4,
      "trace.shortfall_s" -> (root.durS - t.spans.filter(_.parent == root.id).map(_.durS).sum))
    (root.durS, m, out._5)
  }
}
