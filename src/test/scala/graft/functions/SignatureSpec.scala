package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import graft.SparkTestSession

/**
 * Property tests for the signature expressions (SURVEY.md §5.3):
 *  - MinHash agreement ≈ Jaccard (±ε at k=128)
 *  - LSH band guarantee: high-J pairs share ≥1 band w.h.p.
 *  - SimHash: near-identical token bags → small Hamming distance
 *  - Expression eval (interpreted) == whole-stage-codegen'd DataFrame
 *    eval, for the five signature kernels and the fused probe rows
 *  - golden folds of every kernel's output and of the fused probe rows,
 *    measured once: the arithmetic the persisted probe index depends on
 */
class SignatureSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def jaccard(a: Set[Long], b: Set[Long]): Double =
    (a & b).size.toDouble / (a | b).size

  private def sigOf(shingles: Seq[Long], k: Int = 128): Seq[Long] = {
    val df = Seq(Tuple1(shingles)).toDF("s")
    df.select(signatures.minhashSignature(col("s"), k, 42L).as("sig"))
      .head().getSeq[Long](0)
  }

  test("minhash agreement estimates jaccard within 0.12 at k=128") {
    val rnd = new Random(7)
    for (_ <- 0 until 10) {
      val base = Seq.fill(200)(rnd.nextLong()).distinct
      val keep = rnd.nextDouble() * 0.8 + 0.1
      val shared = base.filter(_ => rnd.nextDouble() < keep)
      val other = (shared ++ Seq.fill(200 - shared.size)(rnd.nextLong())).distinct
      val j = jaccard(base.toSet, other.toSet)
      val s1 = sigOf(base)
      val s2 = sigOf(other)
      val est = s1.zip(s2).count { case (a, b) => a == b }.toDouble / s1.size
      assert(math.abs(est - j) < 0.12, s"estimate $est vs true $j")
    }
  }

  test("lsh bands: J>=0.9 pairs share a band; J<=0.1 pairs almost never do") {
    val rnd = new Random(11)
    var hi = 0; var hiShared = 0; var lo = 0; var loShared = 0
    for (i <- 0 until 20) {
      val base = Seq.fill(300)(rnd.nextLong()).distinct
      // high-similarity partner: drop ~3%
      val near = base.filter(_ => rnd.nextDouble() > 0.03)
      // low-similarity partner: fresh
      val far = Seq.fill(300)(rnd.nextLong()).distinct
      def bandsOf(s: Seq[Long]) = {
        val df = Seq(Tuple1(s)).toDF("s")
        df.select(signatures.lshBandHashes(
          signatures.minhashSignature(col("s"), 128, 42L), 32, 4).as("b"))
          .head().getSeq[Long](0).zipWithIndex.toSet
      }
      val b0 = bandsOf(base)
      if ((b0 & bandsOf(near)).nonEmpty) hiShared += 1
      hi += 1
      if ((b0 & bandsOf(far)).nonEmpty) loShared += 1
      lo += 1
    }
    assert(hiShared == hi, s"high-J pairs must always band together here ($hiShared/$hi)")
    assert(loShared <= 1, s"random pairs should essentially never band ($loShared/$lo)")
  }

  test("simhash: small token mutation gives small hamming distance, random gives ~32") {
    val rnd = new Random(13)
    def sim(tokens: Seq[Long]): Long = {
      val df = Seq(Tuple1(tokens)).toDF("t")
      df.select(signatures.simhash64(col("t")).as("s")).head().getLong(0)
    }
    val base = Seq.fill(300)(rnd.nextLong())
    val mutated = base.zipWithIndex.map { case (t, i) => if (i % 50 == 0) rnd.nextLong() else t }
    val random = Seq.fill(300)(rnd.nextLong())
    val dNear = java.lang.Long.bitCount(sim(base) ^ sim(mutated))
    val dFar = java.lang.Long.bitCount(sim(base) ^ sim(random))
    assert(dNear <= 10, s"near hamming $dNear")
    assert(dFar >= 16, s"far hamming $dFar")
  }

  /** 64 seeded inputs of length 0–300: the empty array, one and two
    * elements, lengths on both sides of the shingle (3, 24) and winnow
    * (16) widths, then random lengths; every fourth array draws from a
    * tiny value range so winnowing sees ties and SimHash repeated votes. */
  private lazy val kernelInputs: Seq[Array[Long]] = {
    val rnd = new Random(20261017)
    val lengths = Seq(0, 1, 2, 3, 4, 15, 16, 17, 23, 24, 25, 300) ++
      Seq.fill(52)(rnd.nextInt(301))
    lengths.zipWithIndex.map { case (len, i) =>
      Array.fill(len)(if (i % 4 == 3) rnd.nextInt(8).toLong else rnd.nextLong())
    }
  }

  /** Order- and length-sensitive fold of a sequence of long arrays. */
  private def foldLongs(xs: Seq[Array[Long]]): Long =
    xs.foldLeft(17L)((acc, a) =>
      a.foldLeft(acc * 31 + a.length)((h, x) => (h ^ x) * 0x100000001B3L))

  private def longs(v: Any): Array[Long] =
    v.asInstanceOf[ArrayData].toLongArray()

  test("golden values pin the signature kernel arithmetic") {
    val in = kernelInputs.map(a => ArrayData.toArrayData(a))
    val minhash = in.map(a => longs(MinHashSignature(null, 128, 42L).nullSafeEval(a)))
    val got = Map(
      "shingle_3" -> foldLongs(in.map(a => longs(ShingleHashes(null, 3).nullSafeEval(a)))),
      "shingle_24" -> foldLongs(in.map(a => longs(ShingleHashes(null, 24).nullSafeEval(a)))),
      "minhash_128" -> foldLongs(minhash),
      "bands_32x4" -> foldLongs(minhash.map(s =>
        longs(LshBandHashes(null, 32, 4).nullSafeEval(ArrayData.toArrayData(s))))),
      "simhash" -> foldLongs(Seq(in.map(a =>
        SimHash64(null).nullSafeEval(a).asInstanceOf[Long]).toArray)),
      "winnow_16" -> foldLongs(in.map(a => longs(WinnowAnchors(null, 16).nullSafeEval(a)))))
    // measured values: a change to any of them moves persisted bucket keys
    val expected = Map(
      "shingle_3" -> -5933898892395336813L,
      "shingle_24" -> 1031379806466321338L,
      "minhash_128" -> -2008408552806573778L,
      "bands_32x4" -> -1508737329644982380L,
      "simhash" -> -368326746695057235L,
      "winnow_16" -> 4596112603105458995L)
    assert(got == expected, s"kernel folds: $got")
  }

  test("kernels equal the naive reference loops on flush, tail, saturation and tie inputs") {
    import SignatureSpec.{naiveAnchors, naiveMinima, naiveSimhash}
    val rnd = new Random(5)
    // 0–8; the SWAR flush edges (255 words per flush); n % 4 = 1, 2, 3
    val lengths = (0 to 8) ++ Seq(254, 255, 256, 509, 510, 511, 766) ++
      Seq(97, 98, 99, 1001, 1002, 1003)
    // constant words: all-ones fills every SWAR byte to exactly 255 per
    // flush, 0xAA../0x55.. fill alternate lanes, all-zero none; all-ones
    // interleaved with all-zero ties every bit at even n
    val fills = Seq(-1L, 0L, 0xAAAAAAAAAAAAAAAAL, 0x5555555555555555L)
    val inputs = lengths.flatMap { len =>
      Seq(Array.fill(len)(rnd.nextLong()),
        Array.fill(len)(rnd.nextInt(5).toLong), // tie-heavy: values 0–4
        Array.tabulate(len)(i => if (i % 2 == 0) -1L else 0L),
        Array.tabulate(len)(i => if (i % 3 == 0) 0L else -1L)) ++
        fills.map(f => Array.fill(len)(f))
    }
    val (a128, b128) = SignatureCoefficients.linearPerms(128, 42L)
    val (a3, b3) = SignatureCoefficients.linearPerms(3, 1L)
    for (xs <- inputs) {
      val what = s"n=${xs.length} head=${xs.take(4).mkString(",")}"
      assert(SimHash64.simhash(xs) == naiveSimhash(xs), what)
      assert(MinHashSignature.minima(xs, a128, b128).sameElements(naiveMinima(xs, a128, b128)), what)
      assert(MinHashSignature.minima(xs, a3, b3).sameElements(naiveMinima(xs, a3, b3)), what)
      // w = 1, and windows both shorter and longer than n
      for (w <- Seq(1, 2, 3, 4, 16, 64, 2000))
        assert(WinnowAnchors.anchors(xs, w).sameElements(naiveAnchors(xs, w)), s"$what w=$w")
    }
  }

  test("golden values pin the fused probe rows") {
    import graft.pipeline.{DedupConfig, DedupStages}
    val corpus = graft.fixtures.CorpusGen.generate(seed = 11L, nBase = 200)
    val docs = ProbeRowsSpec.fixtures ++
      corpus.pages.zipWithIndex.map { case (p, i) => (100L + i, p.text) }
    val r = DedupStages.probeRows(docs.toDF("doc_id", "text"), DedupConfig())
      .agg(count(lit(1)), expr("bit_xor(xxhash64(channel, bucket_key, doc_id, tag))"))
      .head()
    assert((r.getLong(0), r.getLong(1)) == ((16364L, -4318954151110399962L)),
      s"probe rows: (${r.getLong(0)}, ${r.getLong(1)})")
  }

  test("interpreted eval matches codegen eval for all signature expressions") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.unsafe.types.UTF8String
    import graft.pipeline.{DedupConfig, DedupStages}
    // an RDD input: a local Seq would plan as a LocalRelation, which
    // ConvertToLocalRelation evaluates on the driver, interpreted; with
    // fallback off, a generated-code compile error fails the test
    // instead of silently running the interpreted path
    val confs = Map("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    def assertCodegen(df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.executedPlan
      assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]), s"not codegen'd:\n$plan")
    }
    try {
      val df = spark.sparkContext.parallelize(kernelInputs.map(a => Tuple1(a.toSeq)), 4)
        .toDF("s").select(
          signatures.minhashSignature(col("s"), 16, 1L).as("mh"),
          signatures.lshBandHashes(signatures.minhashSignature(col("s"), 16, 1L), 4, 4).as("lb"),
          signatures.simhash64(col("s")).as("sh"),
          TextColumns.shingleHashes(col("s"), 3).as("sg"),
          winnow.winnowAnchors(col("s"), 4).as("wa"))
      assertCodegen(df)
      val fromCodegen = df.collect()
      assert(fromCodegen.length == kernelInputs.size)
      kernelInputs.zip(fromCodegen).foreach { case (s, row) =>
        val arr = ArrayData.toArrayData(s)
        val mh = MinHashSignature(null, 16, 1L).nullSafeEval(arr)
        assert(row.getSeq[Long](0) == longs(mh).toSeq)
        assert(row.getSeq[Long](1) == longs(LshBandHashes(null, 4, 4).nullSafeEval(mh)).toSeq)
        assert(row.getLong(2) == SimHash64(null).nullSafeEval(arr).asInstanceOf[Long])
        assert(row.getSeq[Long](3) == longs(ShingleHashes(null, 3).nullSafeEval(arr)).toSeq)
        assert(row.getSeq[Long](4) == longs(WinnowAnchors(null, 4).nullSafeEval(arr)).toSeq)
      }

      val cfg = DedupConfig()
      val docs = ProbeRowsSpec.fixtures
      val probes = DedupStages.probeRows(spark.sparkContext.parallelize(docs, 4)
        .toDF("doc_id", "text"), cfg)
      assertCodegen(probes)
      val fused = ProbeRowsFor(null, cfg.shingleSize, cfg.substrWindow, cfg.winnowWindow,
        cfg.minhashK, cfg.bands, cfg.rowsPerBand, cfg.seed)
      val expected = docs.flatMap { case (id, text) =>
        val out = fused.nullSafeEval(UTF8String.fromString(text)).asInstanceOf[ArrayData]
        (0 until out.numElements()).map { i =>
          val p = out.getStruct(i, 3)
          (p.getUTF8String(0).toString, p.getLong(1), id, p.getLong(2))
        }
      }
      val got = probes.collect().toSeq.map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(got == expected)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("normalize expression matches the pure function through a DataFrame") {
    val inputs = Seq("Hello, World!", "Šš Žž äåö ÄÅÖ", "日本 abc", "ß ss", "a[b]c^_`")
    val out = inputs.toDF("t")
      .select(normalization.normalizeText(col("t")), normalization.titleKey(col("t")))
      .collect()
    inputs.zip(out).foreach { case (in, row) =>
      assert(row.getString(0) == graft.text.Normalize.normalize(in))
      assert(row.getString(1) == graft.text.Normalize.createTitleKey(in))
    }
  }
}

/** The naive kernel loops the shipped kernels are checked against. */
object SignatureSpec {
  /** Per bit, +1 for every word with the bit set and -1 for every word
    * with it clear; the output bit is set iff the sum is positive. */
  def naiveSimhash(xs: Array[Long]): Long = {
    val acc = new Array[Int](64)
    for (h <- xs; b <- 0 until 64) acc(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
    (0 until 64).foldLeft(0L)((out, b) => if (acc(b) > 0) out | (1L << b) else out)
  }

  /** k×n: every coefficient pair against every value. */
  def naiveMinima(xs: Array[Long], coefA: Array[Long], coefB: Array[Long]): Array[Long] =
    coefA.indices.map(j => xs.foldLeft(Long.MaxValue)((m, h) =>
      math.min(m, coefA(j) * h + coefB(j)))).toArray

  /** O(w·n): scan each window for its rightmost minimum; emit it unless
    * it is the anchor the previous window chose. */
  def naiveAnchors(xs: Array[Long], w: Int): Array[Long] = {
    val n = xs.length
    if (n == 0) return Array.emptyLongArray
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var last = -1
    for (i <- 0 until math.max(1, n - w + 1)) {
      var m = i
      for (j <- i + 1 until math.min(i + w, n)) if (xs(j) <= xs(m)) m = j
      if (m != last) { out += xs(m); last = m }
    }
    out.toArray
  }
}
