package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Embedding near-dup channel: planted high-cosine pairs are found by the
  * SRP-bucket join + cosine verifier; knnBrute ranks an exact copy first. */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val emb = {
    val rnd = new scala.util.Random(3)
    val base = Array.fill(16)(rnd.nextFloat() * 2 - 1)
    def jitter(eps: Float) = base.map(x => x + (rnd.nextFloat() * 2 - 1) * eps)
    (Seq(
      0L -> base,                 // anchor
      1L -> base.clone(),         // exact copy  -> cosine 1
      2L -> jitter(0.02f),        // near-dup    -> cosine ~0.999
      3L -> jitter(2.0f)          // far
    ) ++ (4L until 50L).map(i => i -> Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
  }

  test("cosineDupPairs finds planted high-cosine pairs, excludes the far ones") {
    val got = Similarity.cosineDupPairs(emb, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 1L)))
    assert(got.contains((0L, 2L)))
    assert(got.contains((1L, 2L)))
    assert(!got.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("knnBrute: the exact copy is rank 1 for the anchor") {
    val got = Similarity.knnBrute(emb, nQueries = 1, k = 3)
      .where(col("query_id") === 0 && col("rank") === 1)
      .select("neighbor_id").head().getLong(0)
    assert(got == 1L)
  }

  test("srpBands handles dim > 512 (plane padding must not null the dot product)") {
    val rnd = new scala.util.Random(5)
    val wide = Array.fill(600)(rnd.nextFloat() * 2 - 1)
    val df = (Seq(0L -> wide, 1L -> wide.clone()) ++
      (2L until 30L).map(i => i -> Array.fill(600)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    // keys must be non-degenerate: the 28 random vectors shouldn't all
    // share one bucket (the dim>512 bug collapsed every key to 0)
    val distinctKeys = Similarity.srpBands(df, bands = 1, bitsPerBand = 8, seed = 42L)
      .select("band_key").distinct().count()
    assert(distinctKeys > 5, s"degenerate SRP keys: $distinctKeys distinct")
    val got = Similarity.cosineDupPairs(df, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 1L)))
  }

  test("cosineDupClusters: over-cap star salvage still yields complete duplicate groups") {
    val rnd = new scala.util.Random(9)
    val basev = Array.fill(16)(rnd.nextFloat() * 2 - 1)
    // 30 identical vectors + noise; cap=5 forces the star path
    val df = ((0L until 30L).map(i => i -> basev.clone()) ++
      (30L until 80L).map(i => i -> Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val comp = Similarity.cosineDupClusters(df, threshold = 0.95, bucketCap = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 30L).forall(comp.contains), "every copy must be grouped")
    assert((0L until 30L).map(comp).toSet.size == 1, "…into ONE component")
    // the same star salvage reached through IVF cells: the 30 copies share
    // their probe cells, each over the cap
    val sem = Similarity.semDedup(df, bucketCap = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert((0L until 30L).map(i => sem(i)._1).toSet.size == 1,
      "semDedup must put every copy in one cluster")
    assert((0L until 30L).count(i => sem(i)._2 == 1L) == 1,
      "semDedup must keep exactly one copy")
  }

  test("knnIvf: exact copy lands in the anchor's cell and ranks 1") {
    val got = Similarity.knnIvf(emb, nQueries = 1, k = 3, nCentroids = 8, nProbe = 2)
      .where(col("query_id") === 0 && col("rank") === 1)
      .select("neighbor_id").head().getLong(0)
    assert(got == 1L)
  }

  /** Clustered fixture for the IVF quantizer: 10 well-separated centers,
    * 100 jittered members each — the workload IVF exists for (true
    * neighbors share a cell). */
  private lazy val clustered = {
    val rnd = new scala.util.Random(23)
    val dim = 32
    val centers = Array.fill(10)(Array.fill(dim)(rnd.nextFloat() * 2 - 1))
    (0 until 1000).map { i =>
      val c = centers(i % 10)
      i.toLong -> c.map(x => x + (rnd.nextFloat() * 2 - 1) * 0.1f)
    }.toDF("vec_id", "embedding").cache()
  }

  test("ivfCells: the k-means quantizer yields balanced, non-degenerate cells") {
    val sizes = Similarity.ivfCells(clustered, nCentroids = 10)
      .groupBy("cell").count().collect().map(_.getLong(1))
    assert(sizes.length >= 8, s"only ${sizes.length} of 10 cells populated")
    val mean = sizes.sum.toDouble / sizes.length
    assert(sizes.max <= 3 * mean,
      s"mega-cell: max ${sizes.max} vs mean $mean — quantizer didn't spread the data")
  }

  test("knnIvf: k-means cells give >=0.9 recall vs brute force at nProbe=4 on clustered data") {
    val exact = Similarity.knnBrute(clustered, nQueries = 20, k = 5)
      .select("query_id", "neighbor_id")
    val ivf = Similarity.knnIvf(clustered, nQueries = 20, k = 5,
      nCentroids = 10, nProbe = 4)
      .select("query_id", "neighbor_id")
    val total = exact.count()
    val hit = exact.join(ivf, Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(total == 100L)
    assert(hit >= 90L, s"IVF recall $hit/$total below the 0.9 floor")
  }

  test("SRP candidate generation shuffles NO array column (vectors join back only for the rerank)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val cands = Similarity.srpCandidates(emb, bands = 16, bitsPerBand = 8,
      seed = 42L, bucketCap = 10000)
    val exchanges = cands.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    exchanges.foreach { e =>
      val arrays = e.output.filter(_.dataType.isInstanceOf[ArrayType])
      assert(arrays.isEmpty,
        s"band-join shuffle carries array columns: ${arrays.map(_.name).mkString(",")}")
    }
    // and the candidates themselves still feed a correct rerank
    val got = Similarity.cosineDupPairs(emb, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 1L)))
  }

  test("multi-band SRP recall: >=99% of true cosine>=0.95 pairs survive the OR-of-bands generator (2k vectors)") {
    // 200 planted near-dup pairs (anchor + small jitter) + 1600 random
    val rnd = new scala.util.Random(17)
    val dim = 32
    def vec() = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    val planted = (0 until 200).flatMap { i =>
      val a = vec()
      // jitter small enough that cosine stays >= ~0.99
      val b = a.map(x => x + (rnd.nextFloat() * 2 - 1) * 0.03f)
      Seq((i * 2).toLong -> a, (i * 2 + 1).toLong -> b)
    }
    val noise = (400 until 2000).map(i => i.toLong -> vec())
    val df = (planted ++ noise).toDF("vec_id", "embedding").cache()

    // exact truth via the brute-force join (small n, test-only)
    val base = df.select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val a = base.select(col("vec_id").as("ia"), col("v").as("va"))
    val b = base.select(col("vec_id").as("ib"), col("v").as("vb"))
    val truth = a.join(b, col("ia") < col("ib"))
      .where(Similarity.cosine(col("va"), col("vb")) >= 0.95)
      .select(col("ia"), col("ib"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size >= 150, s"fixture sanity: ${truth.size} true pairs")

    val got = Similarity.cosineDupPairs(df, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // no false positives (exact verifier) and >=99% recall (16x8 bands)
    assert(got.subsetOf(truth))
    val recall = got.size.toDouble / truth.size
    assert(recall >= 0.99, s"recall $recall below 0.99 (${truth.size - got.size} missed)")
  }

  test("semDedup: one min-id representative kept per semantic group, singletons kept") {
    val out = Similarity.semDedup(emb, threshold = 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == emb.count())
    val byId = out.map(t => t._1 -> t).toMap
    // the planted group {0 anchor, 1 exact copy, 2 near-dup}: cluster 0,
    // only the min id survives
    assert(byId(0L) == ((0L, 0L, 1L)))
    assert(byId(1L) == ((1L, 0L, 0L)))
    assert(byId(2L) == ((2L, 0L, 0L)))
    // the far vector is its own singleton and kept
    assert(byId(3L) == ((3L, 3L, 1L)))
    // invariants: exactly one kept per cluster, and it IS the cluster id
    out.groupBy(_._2).foreach { case (cid, g) =>
      assert(g.count(_._3 == 1L) == 1, s"cluster $cid kept-count")
      assert(g.find(_._3 == 1L).get._1 == cid, s"cluster $cid representative")
    }
  }

  test("semDedup pairs equal the exact-threshold truth on the planted fixture") {
    // within-cell blocking must not split the planted dup pairs on this
    // fixture (the harness-scale q_semdedup_recall row pins the same
    // contract against DuckDB), and the cosine verifier admits no false
    // positives — so the pair set IS the exact truth here
    val pairs = Similarity.semDedupPairs(emb, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = emb.select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val a = base.select(col("vec_id").as("ia"), col("v").as("va"))
    val b = base.select(col("vec_id").as("ib"), col("v").as("vb"))
    val truth = a.join(b, col("ia") < col("ib"))
      .where(Similarity.cosine(col("va"), col("vb")) >= 0.95)
      .select(col("ia"), col("ib"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.contains((0L, 1L)) && truth.contains((0L, 2L)))
    assert(pairs == truth)
  }

  test("semDedup on empty input returns an empty frame") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.semDedup(empty).count() == 0)
    assert(Similarity.semDedupPairs(empty).count() == 0)
  }

  test("fitCentroids norm caching is bit-identical to the per-call-norm form") {
    // Round-6 perf change: fitCentroids caches squared norms instead of
    // recomputing both operands' norms inside every cosine call. The
    // centroids feed typedLit cell assignment whose oracle rows are
    // hash-compared, so the refactor must reproduce EXACT doubles — this
    // pins it against the round-5 formulation (per-call fused d/na/nb
    // loop), re-implemented here verbatim.
    def fitRef(sample: Array[Array[Double]], k: Int, iters: Int): Seq[Seq[Double]] = {
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        if (na == 0.0 || nb == 0.0) -1.0 else d / math.sqrt(na * nb)
      }
      val n = sample.length
      val kk = math.min(k, n)
      val cents = scala.collection.mutable.ArrayBuffer(sample(0).clone())
      while (cents.size < kk) {
        var bestIdx = -1; var bestScore = Double.MaxValue
        var i = 0
        while (i < n) {
          var nearest = -1.0
          cents.foreach(c => { val s = cos(sample(i), c); if (s > nearest) nearest = s })
          if (nearest < bestScore) { bestScore = nearest; bestIdx = i }
          i += 1
        }
        cents += sample(bestIdx).clone()
      }
      val dim = sample(0).length
      var it = 0
      while (it < iters) {
        val sums = Array.fill(kk)(new Array[Double](dim))
        val counts = new Array[Long](kk)
        var i = 0
        while (i < n) {
          var best = 0; var bestS = -2.0
          var c = 0
          while (c < kk) {
            val s = cos(sample(i), cents(c))
            if (s > bestS) { bestS = s; best = c }
            c += 1
          }
          var d = 0
          while (d < dim) { sums(best)(d) += sample(i)(d); d += 1 }
          counts(best) += 1
          i += 1
        }
        var c = 0
        while (c < kk) {
          if (counts(c) > 0) {
            val m = new Array[Double](dim)
            var d = 0
            while (d < dim) { m(d) = sums(c)(d) / counts(c); d += 1 }
            cents(c) = m
          }
          c += 1
        }
        it += 1
      }
      cents.map(_.toSeq).toSeq
    }
    val rnd = new scala.util.Random(17)
    // includes a zero vector (the na==0 guard) and duplicate rows (ties);
    // zero vector NOT first — the seed centroid must be non-degenerate
    val sample = Array.fill(100)(Array.fill(24)(rnd.nextDouble() * 2 - 1)) ++
      Array(new Array[Double](24)) ++
      Array.fill(100)(Array.fill(24)(rnd.nextDouble() * 2 - 1)) ++
      Array.fill(8)(Array.fill(24)(0.5))
    val got = Similarity.fitCentroids(sample, k = 16, iters = 10)
    val want = fitRef(sample, k = 16, iters = 10)
    assert(got == want) // exact Seq[Seq[Double]] equality, no tolerance
  }
}
