package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`Array[Float]`):
 * brute-force cosine top-k as the exact baseline, and a multi-band
 * sign-random-projection (SRP) LSH variant as the scale path (blocking
 * instead of a full cross product — the same OR-of-bands construction the
 * text MinHash-LSH channel uses, SURVEY.md §7.0). The SRP-band and
 * IVF-cell blockers emit the text pipeline's narrow probe rows and run
 * through its candidate stage, `DedupStages.candidatesFromProbes`: the
 * same bucket cap and over-cap star salvage, one copy of the code.
 *
 * Band math: a pair at angle θ collides in one b-bit band with
 * p = (1-θ/π)^b; OR-ing L independent bands gives 1-(1-p)^L. At the
 * near-dup threshold cos ≥ 0.95 (θ ≈ 18°, p ≈ 0.43 for b = 8), L = 16
 * bands miss with probability (1-0.43)^16 ≈ 1.2e-4 — and exact or
 * positively-scaled duplicates (cos = 1) collide in EVERY band, so the
 * candidate generator has recall 1.0 on them by construction.
 */
object Similarity {

  /** Deterministic hyperplanes: nPlanes × dim signed coefficients from
    * splitmix64 (no wall-clock randomness, fixed seed). */
  private def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    var st = seed
    Seq.fill(nPlanes) {
      Seq.fill(dim) {
        val (s1, v) = graft.functions.SignatureCoefficients.splitmix64(st)
        st = s1
        // map to [-1, 1)
        v.toDouble / Long.MaxValue.toDouble
      }
    }
  }

  // dot/cosine are native codegen expressions (graft.functions.VectorMath)
  // with bit-identical arithmetic to the former HOF folds — the HOF chain
  // (aggregate∘zip_with + two norm folds) was CodegenFallback and dominated
  // every embedding query's per-row cost (optimization guide §4.1)
  private def dot(a: Column, b: Column): Column =
    graft.functions.vectormath.dotProduct(a, b)

  def cosine(a: Column, b: Column): Column =
    graft.functions.vectormath.cosineSim(a, b)

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Exact top-k cosine neighbors of each query vector (query set =
    * vec_id < nQueries) against the full table. The small query side is
    * BROADCAST, so the big side is scanned exactly once with no shuffle —
    * the plan that survives a 100× scale-up of the corpus side. */
  def knnBrute(emb: DataFrame, nQueries: Int = 20, k: Int = 5): DataFrame = {
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val queries = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = base.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qv"), col("v")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"))
  }

  /** Multi-band SRP codes: (vec_id, v, band_id, band_key) with one
    * bands-bit key per band. The plane matrix rides along as ONE
    * array<array<double>> literal (`typedLit` — plain data, no
    * per-coefficient expression nodes), so the projection stays inside
    * whole-stage codegen and nothing is collected on the driver. */
  def srpBands(emb: DataFrame, bands: Int, bitsPerBand: Int,
               seed: Long): DataFrame = {
    // Planes are generated once at a fixed max dim; BOTH sides of the dot
    // product are sliced to min(dim, maxDim) per row (zip_with pads the
    // shorter side with nulls, which would null the whole dot product and
    // silently collapse every key to 0) — no driver-side dim probe, the
    // builder stays a pure, action-free plan. Vectors wider than maxDim
    // are bucketed on their first maxDim coordinates: still a valid
    // random-hyperplane family (a fixed subspace projection), identical
    // vectors still collide in every band, and the exact-cosine verifier
    // downstream uses the FULL vectors.
    val maxDim = 512
    val planes = typedLit(hyperplanes(bands * bitsPerBand, maxDim, seed))
    val d = least(size(col("v")), lit(maxDim))
    // per band: fold its bits most-significant-first (acc*2 + signbit)
    val keys = transform(sequence(lit(0), lit(bands - 1)), b =>
      aggregate(sequence(lit(0), lit(bitsPerBand - 1)), lit(0L), (acc, i) => {
        val plane = slice(element_at(planes, b * bitsPerBand + i + 1), lit(1), d)
        acc * 2 + when(dot(slice(col("v"), lit(1), d), plane) >= 0, 1L).otherwise(0L)
      }))
    emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"), posexplode(keys).as(Seq("band_id", "band_key")))
  }

  /** Embedding near-duplicate pairs: multi-band SRP blocking as the
    * candidate generator (OR of `bands` independent `bitsPerBand`-bit
    * codes — see class doc for the recall math), exact cosine >= threshold
    * as the verifier. Canonical (id_a < id_b). Buckets above `bucketCap`
    * members are skew-guarded: only the min-id member is paired with the
    * rest (star expansion — O(m) pairs instead of O(m²)). NOTE the star
    * output is star-CONNECTED, not the complete pair list: above the cap
    * this function's pairs are sufficient to recover the duplicate
    * GROUPS (see `cosineDupClusters`) but are not every individual pair —
    * the same bounded-salvage semantics as the text pipeline's over-cap
    * buckets (and the reference's 1000-candidate cap). */
  def cosineDupPairs(emb: DataFrame, threshold: Double, bands: Int = 16,
                     bitsPerBand: Int = 8, seed: Long = 42L,
                     bucketCap: Int = 10000): DataFrame = {
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cands = srpCandidates(emb, bands, bitsPerBand, seed, bucketCap)
    // exact-cosine rerank: full vectors joined back ONCE per side onto the
    // deduplicated candidate ids — the vector bytes never ride the band
    // shuffle (same shape as the text pipeline: narrow probes, verify
    // joins the payload back)
    cands
      .join(base.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
      .join(base.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
      .where(cosine(col("va"), col("vb")) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Candidate (id_a < id_b) pairs from the multi-band SRP blocking: one
    * narrow probe row per (vector, band), channel = band_id and bucket key
    * = the band's code, through the pipeline's candidate stage
    * (`candidatePairs`). The vectors never enter the blocking, so its
    * shuffled bytes per vector do not grow with dimensionality, and the
    * pinned probe rows run the SRP projection (bands × bitsPerBand dot
    * products per row) once. */
  private[graft] def srpCandidates(emb: DataFrame, bands: Int, bitsPerBand: Int,
                                   seed: Long, bucketCap: Int): DataFrame =
    candidatePairs(srpBands(emb, bands, bitsPerBand, seed).select(
      col("band_id").cast("string").as("channel"), col("band_key").as("bucket_key"),
      col("vec_id").cast("long").as("doc_id"), lit(0L).as("tag")), bucketCap)

  /** Canonical (id_a < id_b) pairs of ids sharing a bucket of the narrow
    * probe rows `(channel, bucket_key, doc_id, tag)` — SRP bands above,
    * IVF cells in `semDedupPairs` — from the text pipeline's candidate
    * stage, `DedupStages.candidatesFromProbes`: one counting pass, clique
    * expansion for buckets of at most `bucketCap` members and a star from
    * the min id for larger ones. `doc_id` must be a long (the clique
    * expansion reads it as one). The probe rows are pinned (lazy
    * localCheckpoint) because that stage reads them twice. */
  private def candidatePairs(probes: DataFrame, bucketCap: Int): DataFrame = {
    val coded = probes.where(col("doc_id").isNotNull).localCheckpoint(false)
    graft.pipeline.DedupStages.candidatesFromProbes(coded, coded,
        graft.pipeline.DedupConfig(bucketCap = bucketCap, exactChannel = false))._1
      // a vec_id listed twice would pair with itself
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
  }

  /** Embedding duplicate GROUPS: connected components over the (possibly
    * star-salvaged) dup pairs — complete group membership even when a
    * degenerate bucket exceeded the cap. Returns (vec_id, component). */
  def cosineDupClusters(emb: DataFrame, threshold: Double, bands: Int = 16,
                        bitsPerBand: Int = 8, seed: Long = 42L,
                        bucketCap: Int = 10000): DataFrame =
    graft.pipeline.ConnectedComponents.run(
      cosineDupPairs(emb, threshold, bands, bitsPerBand, seed, bucketCap))
      .select(col("vertex").as("vec_id"), col("component"))

  /** Deterministic sampled k-means fit for the IVF coarse quantizer.
    * Sample = the `maxSample` smallest vec_ids (a fixed, order-stable
    * subset — at 10¹² rows swap in pmod(xxhash64(vec_id), n)=0 sampling;
    * either way the fit is a driver-side O(sample·k·iters) loop on tiny
    * model state). Init = farthest-point (maximin) from the first sample
    * vector; `iters` Lloyd rounds under cosine distance with every tie
    * broken toward the LOWEST centroid index and an empty cell keeping
    * its previous centroid — fully deterministic (fixed summation order,
    * no RNG), so the same data always yields the same cells. */
  private[graft] def fitCentroids(sample: Array[Array[Double]], k: Int,
                                  iters: Int): Seq[Seq[Double]] = {
    // Squared norms are CACHED per vector/centroid (round-6): the former
    // cos() recomputed both operands' norms inside every call — 3× the
    // flops of the dot product alone, across O(k²·n) maximin-init pairs
    // and O(k·n) pairs per Lloyd round. Arithmetic is bit-identical: the
    // old single loop accumulated d, na, nb in three INDEPENDENT chains
    // over the same index order, so hoisting na/nb into one-time sq()
    // sums and keeping `d / math.sqrt(na * nb)` reproduces the exact
    // same doubles (same summation order per accumulator), hence the
    // exact same centroids, cells and oracle rows.
    def sq(a: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * a(i); i += 1 }
      s
    }
    def cosN(a: Array[Double], na: Double, b: Array[Double], nb: Double): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) -1.0 else d / math.sqrt(na * nb)
    }
    val n = sample.length
    val kk = math.min(k, n)
    val sampleSq = sample.map(sq)
    // maximin init: greedily add the point with the smallest max-cosine
    // (= farthest) to the chosen set; ties -> lowest sample index
    val cents = scala.collection.mutable.ArrayBuffer(sample(0).clone())
    val centSq = scala.collection.mutable.ArrayBuffer(sampleSq(0))
    while (cents.size < kk) {
      var bestIdx = -1; var bestScore = Double.MaxValue
      var i = 0
      while (i < n) {
        var nearest = -1.0
        var c = 0
        while (c < cents.size) {
          val s = cosN(sample(i), sampleSq(i), cents(c), centSq(c))
          if (s > nearest) nearest = s
          c += 1
        }
        if (nearest < bestScore) { bestScore = nearest; bestIdx = i }
        i += 1
      }
      cents += sample(bestIdx).clone()
      centSq += sampleSq(bestIdx)
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
          val s = cosN(sample(i), sampleSq(i), cents(c), centSq(c))
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
          centSq(c) = sq(m)
        } // empty cell: keep previous centroid (and its cached norm)
        c += 1
      }
      it += 1
    }
    cents.map(_.toSeq).toSeq
  }

  /** IVF-style ANN: a deterministic sampled k-means coarse quantizer
    * partitions the corpus into cells with ONE broadcast argmax pass —
    * O(n·nCentroids) dots, no shuffle of vectors; queries probe their
    * nProbe nearest cells and exact-rerank inside them. The inverted-file
    * layout is the classic embedding scale path: cell assignment is a
    * partition key, so at 100 TB each cell is a co-located partition and
    * a query touches nProbe/nCentroids of the corpus. Recall grows with
    * nProbe (nProbe = nCentroids ≡ brute force); cell balance comes from
    * the k-means fit (SimilaritySpec bounds max-cell/mean-cell).
    *
    * Caveat: when joining this result against another derivation of the
    * SAME uncached file-source DataFrame instance (e.g. knnBrute over the
    * identical `emb` val), Spark's self-join deduplication can corrupt
    * lambda-bound attributes (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND) — pass
    * each call its own `spark.read` (or a cached frame) instead. */
  def knnIvf(emb: DataFrame, nQueries: Int = 20, k: Int = 5,
             nCentroids: Int = 16, nProbe: Int = 4,
             kmeansIters: Int = 10, maxSample: Int = 4096): DataFrame = {
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    if (base.isEmpty) // empty quantizer would build sequence(0,-1) = [0,-1]
      return base.select(col("vec_id").as("query_id"), lit(0L).as("rank"),
        col("vec_id").as("neighbor_id"))
    // fit on the driver over a deterministic sample; centroids are tiny
    // model state shipped as ONE literal, so cell assignment is a pure
    // map-side expression — zero shuffle
    val sample = base.orderBy("vec_id").limit(maxSample).collect()
      .map(_.getSeq[Double](1).toArray)
    val cent = fitCentroids(sample, nCentroids, kmeansIters)
    val cvs = typedLit(cent)
    // cell scores parameterized over the vector column: the query side is
    // its OWN projection of `emb` (distinct column names), so the cell
    // join below is a clean self-join — sharing one projected frame
    // between both sides broke attribute resolution on file sources
    def cells(v: Column) = array_sort(transform(sequence(lit(0), lit(cent.size - 1)), i =>
      struct((-cosine(v, element_at(cvs, i + 1))).as("d"),
        i.cast("long").as("cent_id"))))
    val assigned = base.withColumn("cell",
      cells(col("v")).getItem(0).getField("cent_id"))
    val queries = emb.select(col("vec_id").as("query_id"),
        asDouble(col("embedding")).as("qv"))
      .where(col("query_id") < nQueries)
      .withColumn("cell", explode(transform(slice(cells(col("qv")), 1, nProbe),
        s => s.getField("cent_id"))))
    val scored = assigned.join(queries, Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qv"), col("v")).as("sim"))
      .groupBy("query_id", "neighbor_id").agg(max("sim").as("sim"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"))
  }

  /** The IVF quantizer's cell assignment alone: (vec_id, cell) under the
    * same deterministic k-means fit knnIvf uses — the surface the cell-
    * balance test (and any partition-layout consumer) reads. */
  def ivfCells(emb: DataFrame, nCentroids: Int = 16, kmeansIters: Int = 10,
               maxSample: Int = 4096): DataFrame = {
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val sample = base.orderBy("vec_id").limit(maxSample).collect()
      .map(_.getSeq[Double](1).toArray)
    // empty-input guard (knnIvf has the same one): fitCentroids seeds
    // from sample(0) and would throw on a zero-row frame
    if (sample.isEmpty)
      return base.select(col("vec_id"), lit(0L).as("cell")).limit(0)
    val cent = fitCentroids(sample, nCentroids, kmeansIters)
    val cvs = typedLit(cent)
    val scoredCells = array_sort(transform(sequence(lit(0), lit(cent.size - 1)), i =>
      struct((-cosine(col("v"), element_at(cvs, i + 1))).as("d"),
        i.cast("long").as("cent_id"))))
    base.select(col("vec_id"),
      scoredCells.getItem(0).getField("cent_id").as("cell"))
  }

  /** SemDeDup candidate+verify pairs (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540 — public paper): partition the
    * embedding space with the deterministic k-means coarse quantizer
    * (same fit as `knnIvf`), generate candidate pairs only WITHIN a
    * cell, and verify with exact cosine >= `threshold`. Canonical
    * (id_a < id_b) output.
    *
    * Multi-probe twist on the paper: each vector enters its `probeCells`
    * nearest cells, not just its argmax cell — single-cell assignment
    * loses every pair the quantizer splits across a cell boundary;
    * probing 2 cells retires most of that boundary loss for ≤2× the
    * candidate volume (the residual is measured by the recall harness
    * row, `q_semdedup_recall`). The cells are blocked by the pipeline's
    * candidate stage (`DedupStages.candidatesFromProbes`, channel "ivf",
    * bucket key = cell): over-cap cells fall back to its star salvage,
    * as the SRP bands do (group recovery stays complete through the
    * connected-components step in `semDedup`).
    *
    * Scale shape: the quantizer is a broadcast literal (zero-shuffle cell
    * assignment); only narrow (vec_id, cell) probe rows enter the
    * candidate stage; vectors join back once per side onto deduplicated
    * candidate ids. Cells are the partition unit at
    * 10^12 rows — grow `nCentroids` with the corpus so cell volume stays
    * bounded (the paper runs 50k clusters), and the within-cell join
    * never approaches all-pairs. */
  def semDedupPairs(emb: DataFrame, threshold: Double = 0.95,
                    nCentroids: Int = 16, probeCells: Int = 2,
                    kmeansIters: Int = 10, maxSample: Int = 4096,
                    bucketCap: Int = 10000): DataFrame = {
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    if (base.isEmpty) // empty quantizer: no cells, no pairs
      return base.select(col("vec_id").as("id_a"), col("vec_id").as("id_b")).limit(0)
    val sample = base.orderBy("vec_id").limit(maxSample).collect()
      .map(_.getSeq[Double](1).toArray)
    val cent = fitCentroids(sample, nCentroids, kmeansIters)
    val cvs = typedLit(cent)
    val scoredCells = array_sort(transform(sequence(lit(0), lit(cent.size - 1)), i =>
      struct((-cosine(col("v"), element_at(cvs, i + 1))).as("d"),
        i.cast("long").as("cent_id"))))
    val p = math.min(probeCells, cent.size)
    val cells = base.select(lit("ivf").as("channel"),
      explode(transform(slice(scoredCells, 1, p), s => s.getField("cent_id")))
        .as("bucket_key"),
      col("vec_id").cast("long").as("doc_id"), lit(0L).as("tag"))
    // exact-cosine verify: vectors join back once per side onto the
    // deduplicated narrow candidate ids (same shape as cosineDupPairs)
    candidatePairs(cells, bucketCap)
      .join(base.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
      .join(base.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
      .where(cosine(col("va"), col("vb")) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** SemDeDup keep decision: connected components over the within-cell
    * verified pairs, one representative (min vec_id) kept per semantic-
    * duplicate group. Output (vec_id, cluster_id, kept) for EVERY input
    * vector — singletons are their own cluster and kept=1 — so
    * `where(kept = 1)` is the deduplicated corpus and the cluster_id is
    * the lineage key back to what was dropped. */
  def semDedup(emb: DataFrame, threshold: Double = 0.95,
               nCentroids: Int = 16, probeCells: Int = 2,
               kmeansIters: Int = 10, maxSample: Int = 4096,
               bucketCap: Int = 10000): DataFrame = {
    val pairs = semDedupPairs(emb, threshold, nCentroids, probeCells,
      kmeansIters, maxSample, bucketCap)
    val comp = graft.pipeline.ConnectedComponents.run(pairs)
      .select(col("vertex").as("vec_id"), col("component"))
    emb.select(col("vec_id")).join(comp, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("cluster_id"))
      .withColumn("kept",
        when(col("cluster_id") === col("vec_id"), 1L).otherwise(0L))
  }

  /** ANN: exact rerank within shared SRP bands — candidate generation is
    * a multi-band bucket equi-join (shuffle on small keys) instead of a
    * cross join. Recall 1-(1-p)^bands per neighbor; raise `bands` or
    * lower `bitsPerBand` to trade cost for recall.
    *
    * Default 64×4: the harness embeddings' exact top-5 neighbors sit at
    * cos 0.25–0.49 (a hard LSH regime — per-band collision p ≈ 0.13 at
    * cos 0.3 with 4-bit bands), so recall needs many OR-ed bands.
    * Measured against the exact brute-force top-5 on sf0.001/0.01/0.1:
    * 64×4 and 48×3 miss 0/100, 32×4 misses 1–2/100, the old 8×8 only
    * ~12/100. 4-bit bands keep 16 buckets/band for pruning selectivity
    * at scale (3-bit halves that). `q_knn_lsh_recall` pins this choice
    * with a zero-miss oracle. */
  def knnLsh(emb: DataFrame, nQueries: Int = 20, k: Int = 5,
             bands: Int = 64, bitsPerBand: Int = 4, seed: Long = 42L): DataFrame = {
    // Round-6: the former shape consumed the un-pinned coded table twice
    // (query filter + corpus join side), recomputing the SRP projection —
    // bands × bitsPerBand dots per row, the dominant per-row cost — once
    // per consumer, and scored a cosine per band COLLISION before
    // deduplicating. Now the NARROW codes (vec_id, band_id, band_key) are
    // pinned once (same shape as srpCandidates — pinning the full coded
    // rows would materialize every vector ×bands), candidate (query,
    // neighbor) pairs are deduplicated on narrow rows, and the vectors
    // join back once per side for ONE cosine per distinct pair. A pair's
    // sim is identical in every colliding band, so max-over-collisions ≡
    // score-after-dedup: identical output rows.
    val base = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val coded = srpBands(emb, bands, bitsPerBand, seed)
      .select("vec_id", "band_id", "band_key").localCheckpoint(false)
    val qcodes = coded.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("band_id"), col("band_key"))
    // the query-code side is bounded by nQueries × bands rows at ANY
    // corpus scale, so broadcast it explicitly (same contract as
    // knnBrute's broadcast(queries)): the checkpointed coded leaf has no
    // usable size estimate, and an unhinted planner would smj-shuffle the
    // ENTIRE corpus code table against ~10³ query rows
    val scored = coded.join(broadcast(qcodes), Seq("band_id", "band_key"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
      .join(base.select(col("vec_id").as("query_id"), col("v").as("qv")), "query_id")
      .join(base.select(col("vec_id").as("neighbor_id"), col("v")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("v")).as("sim"))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"))
  }
}
