package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.pipeline.{DedupConfig, DedupStages}

/** The fused ProbeRowsFor expression must reproduce the round-5
  * composed-builtin probe chain BIT-FOR-BIT — bucket keys feed the
  * persisted incremental index, so key drift would silently break
  * incremental probing. The reference here IS the old chain, rebuilt
  * from the primitive expressions. Both sides run the same signature
  * kernels (SignatureSpec's golden folds pin their arithmetic), so this
  * spec pins what ProbeRowsFor does on its own: the byte-walk tokenizer
  * and token hash, the first-occurrence anchor distinct, the xxhash64
  * key fold, the per-document row order and null propagation. */
class ProbeRowsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val cfg = DedupConfig()

  /** The round-5 composed-builtin probe chain, verbatim. */
  private def legacyProbeRows(pw: DataFrame): DataFrame = {
    import graft.functions.signatures._
    val toks = TextColumns.tokenHashes(col("text"))
    val base = pw.select(col("doc_id"),
      TextColumns.shingleHashes(toks, cfg.shingleSize).as("sa"),
      array_distinct(graft.functions.winnow.winnowAnchors(
        TextColumns.shingleHashes(toks, cfg.substrWindow), cfg.winnowWindow)).as("anchors"))
      .select(col("doc_id"), col("anchors"),
        array_distinct(col("sa")).as("sh"),
        simhash64(col("sa")).as("sim"))
      .where(size(col("sh")) > 0)
      .select(col("doc_id"), col("anchors"), col("sim"),
        lshBandHashes(minhashSignature(col("sh"), cfg.minhashK, cfg.seed),
          cfg.bands, cfg.rowsPerBand).as("bands"))
    val bandProbes = transform(col("bands"), (h, i) =>
      struct(lit("minhash_lsh").as("channel"),
        xxhash64(lit(0), i, h).as("bucket_key"), lit(0L).as("tag")))
    val simProbes = array((0 until 4).map(i =>
      struct(lit("simhash").as("channel"),
        xxhash64(lit(1), lit(i),
          shiftright(col("sim"), i * 16).bitwiseAND(lit(0xFFFFL))).as("bucket_key"),
        col("sim").as("tag"))): _*)
    val anchorProbes = transform(col("anchors"), a =>
      struct(lit("substring").as("channel"),
        xxhash64(lit(2), a).as("bucket_key"), lit(0L).as("tag")))
    base
      .select(col("doc_id"),
        explode(concat(bandProbes, simProbes, anchorProbes)).as("p"))
      .select(col("p.channel").as("channel"), col("p.bucket_key").as("bucket_key"),
        col("doc_id"), col("p.tag").as("tag"))
  }

  import ProbeRowsSpec.fixtures

  private def rows(df: DataFrame): Set[(String, Long, Long, Long)] =
    df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("fused probe rows == legacy composed-builtin chain, bit for bit") {
    val pw = fixtures.toDF("doc_id", "text")
    def ordered(df: DataFrame) = df.collect().toSeq.map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val fused = ordered(DedupStages.probeRows(pw, cfg))
    val legacy = ordered(legacyProbeRows(pw))
    assert(fused == legacy)
    assert(fused.nonEmpty)
  }

  test("null text yields no probe rows (matches legacy null propagation)") {
    val pw = Seq((1L, "x y z"), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val fused = DedupStages.probeRows(pw, cfg)
    assert(fused.where(col("doc_id") === 2L).count() == 0)
    assert(fused.where(col("doc_id") === 1L).count() > 0)
  }

  test("primitive anchor distinct keeps first occurrences in order") {
    val rnd = new scala.util.Random(3)
    // 0 is the empty-slot marker; draws with repeats from a pool of 300
    // random longs collide in the table, so repeats are found past the
    // first probed slot
    val pool = Array.fill(300)(rnd.nextLong()) :+ 0L
    val inputs = Seq(Array.emptyLongArray, Array(0L), Array(0L, 0L, 5L, 0L), Array(7L, 7L, 7L)) ++
      (0 until 40).map(i => Array.fill(rnd.nextInt(600))(
        if (i % 2 == 0) rnd.nextInt(6).toLong - 2 else pool(rnd.nextInt(pool.length))))
    inputs.foreach(xs =>
      assert(ProbeRowsFor.distinctInOrder(xs).toSeq == xs.toSeq.distinct, xs.mkString(",")))
  }

  test("fused keys match probeTable keys (persisted-index compatibility)") {
    val pw = DedupStages.withIds(DedupStages.pagesFromDocuments(
      fixtures.toDF("doc_id", "text").select(col("doc_id"),
        coalesce(col("text"), lit("")).as("text"), lit("en").as("lang"),
        lit("s1").as("source"), length(col("text")).as("n_chars"))))
    val sigs = DedupStages.signatures(pw, cfg)
    val fromSigs = rows(DedupStages.probeTable(sigs, cfg)
      .select("channel", "bucket_key", "doc_id", "tag"))
    val fused = rows(DedupStages.probeRows(pw, cfg))
    assert(fused == fromSigs)
  }
}

/** Probe-row edge cases, shared with SignatureSpec's golden probe fold. */
object ProbeRowsSpec {
  val fixtures = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again and again"),
    (2L, "a"),                                  // single token
    (3L, ""),                                   // empty string → one empty token
    (4L, "a  b"),                               // double space → empty middle token
    (5L, " leading and trailing "),             // boundary empties
    (6L, "Ärger naïve façade 中文 слова"),       // multibyte UTF-8 tokens
    (7L, ("w " * 200).trim),                    // repetitive long doc
    (8L, (0 until 80).map(i => s"tok$i").mkString(" "))) // all-distinct long doc
}
