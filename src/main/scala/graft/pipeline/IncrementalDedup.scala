package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Incremental re-dedup against a previous run — the Spark form of the
 * reference's dirty-record pass. ONE core (`pass`) applies every rule;
 * a small `PrevReader` supplies the previous state. Two readers exist:
 * the in-memory `PrevState` of a previous `DedupPipeline.run` (here, used
 * by `run`/`runDelta`) and the bucket-pruned delta logs of
 * graft.streaming.StreamingDedup, which folds every streaming batch through
 * this core, the first one of a state dir included (its logs read as
 * empty, so every doc is dirty). The rules:
 *
 *  - content-hash short-circuit: rows whose (url, md5(text)) is unchanged
 *    keep their previous signatures, no recompute
 *    (classes/RecordManager.php:1059-1066)
 *  - `update_needed` dirty set: only added/changed docs are re-signed,
 *    and candidate generation runs only over probe buckets that CONTAIN a
 *    dirty doc — the batch equivalent of probing the key indexes per
 *    dirty record (classes/RecordManager.php:559-565,1326-1427)
 *  - pairs between two unchanged docs are carried over from the previous
 *    verified table; pairs touching a changed/removed doc are dropped and
 *    (for changed docs) rediscovered
 *  - deletes propagate: a removed url loses its membership and the
 *    cluster re-forms without it (cluster shrink/dissolve,
 *    classes/RecordManager.php:1739-1761)
 *
 * Known (documented) deviation from a cold full run: an over-cap bucket
 * that falls back under the cap purely through deletions of untouched
 * members is not re-expanded until one of its members changes — the same
 * history dependence the reference's hot-key memo has
 * (classes/RecordManager.php:1402-1410).
 */
object IncrementalDedup {

  /** Previous run's persisted state: the lean signature table, the
    * fixed-width probe index (channel, bucket_key, doc_id, tag — the
    * `probes` checkpoint stage `DedupPipeline.run` commits), and the
    * verified-pairs table. With the probe index stored, the incremental
    * pass never rescans unchanged documents' TEXT: unchanged probes are
    * read back as narrow fixed-width rows and only dirty docs are
    * re-shingled/re-hashed — O(dirty), not O(corpus). */
  final case class PrevState(signatures: DataFrame, probes: DataFrame,
                             verifiedPairs: DataFrame)

  /** `full` is the complete new state (what a cold consumer reads);
    * the `delta*` frames are the O(dirty) INCREMENTS of this pass — what a
    * delta-log writer persists per batch (graft.io.DeltaLog, used by
    * StreamingDedup): fresh signature rows, fresh probe rows, and the
    * newly verified pairs (pairs between two unchanged docs are carried
    * in `full` but never re-written). */
  final case class DeltaResult(full: DedupPipeline.Result,
                               deltaSignatures: DataFrame,
                               deltaProbes: DataFrame,
                               deltaVerified: DataFrame)

  /** The previous state as the core reads it: one method per read. A
    * reader may return MORE rows than the keys select — the core applies
    * every restriction itself — so the in-memory reader hands back whole
    * tables and the delta-log reader prunes to the partitions the keys
    * fall in. */
  trait PrevReader {
    /** latest signature rows, at least those of the urls in `urls` */
    def signaturesOf(urls: DataFrame): DataFrame
    /** latest signature rows, at least those whose content_hash is in `hashes` */
    def signaturesSharing(hashes: DataFrame): DataFrame
    /** page rows of the NEW state (the upserts included), at least those
      * of the doc ids in `ids` */
    def pagesOf(ids: DataFrame): DataFrame
    /** live verified pairs */
    def verifiedPairs: DataFrame
    /** the whole signature view, read lazily for the Result */
    def signatures: DataFrame
    /** the whole live probe view: the core restricts it to the dirty
      * buckets, and the Result reads it lazily */
    def probes: DataFrame
  }

  /** `PrevState` plus the new snapshot's pages. */
  private final class InMemory(prev: PrevState, pages: DataFrame) extends PrevReader {
    def signaturesOf(urls: DataFrame): DataFrame = prev.signatures
    def signaturesSharing(hashes: DataFrame): DataFrame = prev.signatures
    def pagesOf(ids: DataFrame): DataFrame = pages
    def verifiedPairs: DataFrame = prev.verifiedPairs
    def signatures: DataFrame = prev.signatures
    def probes: DataFrame = prev.probes
  }

  /** Re-dedup a whole new snapshot: upserts = `newPages`, removed = the
    * previous urls missing from it. */
  def run(spark: SparkSession, prev: PrevState, newPages: DataFrame,
          cfg: DedupConfig = DedupConfig()): DedupPipeline.Result =
    runDelta(spark, prev, newPages, cfg).full

  def runDelta(spark: SparkSession, prev: PrevState, newPages: DataFrame,
               cfg: DedupConfig = DedupConfig()): DeltaResult = {
    val pages = DedupStages.withSource(newPages)
    val removed = prev.signatures.select("url")
      .join(pages.select("url"), Seq("url"), "left_anti")
    pass(pages, removed, new InMemory(prev, pages), cfg)
  }

  /** The incremental core: fold `upserts` (page rows, url = key) and the
    * `removed` urls into the state `prev` reads. The pass's five cache
    * pins ride in `full.pins`: the caller releases them with
    * `full.unpersist()` once it has consumed the result (and the deltas,
    * which read the same pins). */
  def pass(upserts: DataFrame, removed: DataFrame, prev: PrevReader,
           cfg: DedupConfig): DeltaResult = {
    // dirty = upserted rows that are new or content-changed vs the latest
    // previous signature of their url
    val prevKeys = prev.signaturesOf(upserts.select("url"))
      .select(col("url").as("_pu"), col("content_hash").as("_pch"))
    val dirtyPages = upserts.join(prevKeys,
      upserts("url") === col("_pu") && md5(upserts("text")) === col("_pch"),
      "left_anti")

    // re-sign only the dirty rows (lean rows; see leanSignatures). Ids are
    // xxhash64(url) (DedupStages.withIds) — globally deterministic, so a
    // changed url keeps the SAME doc_id across rounds (its stale rows drop
    // with the gone ids below and fresh ones replace them) and no
    // driver-side max-id action is needed.
    val deltaPw = DedupStages.withIds(dirtyPages)
    // O(dirty) rows behind the whole dirty-detection + signature plan,
    // consumed by the gone sets, the exact channel, the full view and a
    // delta-log append: pin
    val deltaSigs = DedupStages.leanSignatures(deltaPw, cfg).cache()
    // O(dirty) rows, consumed by a bucket read, dirtyBuckets, probeSub,
    // the full view and a delta-log append: pin
    val deltaProbes = DedupStages.probeRows(deltaPw, cfg).cache()
    // docs whose previous rows are stale: the dirty and the removed ones
    // (the dirty ones read off the pin, so the dirty-set plan runs once)
    val goneUrls = deltaSigs.select("url").unionByName(removed.select("url"))
    val goneIds = deltaSigs.select("doc_id")
      .unionByName(removed.select(xxhash64(col("url")).as("doc_id")))

    // candidate regeneration only in buckets touching a dirty doc: the
    // stored live probes of those buckets (a gone doc's stale rows drop)
    // plus the fresh dirty-doc probes
    val dirtyBuckets = deltaProbes.select("channel", "bucket_key").distinct()
    val probeSub = prev.probes
      .join(goneIds, Seq("doc_id"), "left_anti")
      .join(dirtyBuckets, Seq("channel", "bucket_key"), "left_semi")
      .unionByName(deltaProbes)
    // exact channel restricted the same way: only content-hash groups
    // containing a dirty doc are re-grouped (unchanged-unchanged exact
    // pairs are carried over with the rest of the verified table)
    val dirtyHashes = deltaSigs.select("content_hash").distinct()
    val sigsForExact = prev.signaturesSharing(dirtyHashes)
      .join(goneIds, Seq("doc_id"), "left_anti")
      .join(dirtyHashes, Seq("content_hash"), "left_semi")
      .unionByName(deltaSigs)
    val (deltaPairs0, dropped) =
      DedupStages.candidatesFromProbes(probeSub, sigsForExact, cfg)
    // tiny pair table, whole candidate-generation plan behind it: pin it
    // so its consumers (a bucket read, verify's two sides) don't re-run
    // candidate generation
    val deltaPairs = deltaPairs0.cache()

    // verify side: page text of the pair participants only (content_hash
    // enables the exact-channel fast path)
    val side = DedupStages.withIds(prev.pagesOf(
        deltaPairs.select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))))
      .withColumn("content_hash", md5(col("text")))
    val deltaVerified = DedupStages.verified(deltaPairs, side, cfg)

    // carry previous live pairs with no gone endpoint (anti-joins against
    // the small gone set, not semi-joins against every live url)
    val carried = prev.verifiedPairs
      .join(goneUrls.select(col("url").as("url_a")), Seq("url_a"), "left_anti")
      .join(goneUrls.select(col("url").as("url_b")), Seq("url_b"), "left_anti")
    // PINNED: consumed by connected components, the merge join, and the
    // caller reading Result.verifiedPairs. The fold dedupes pairs the
    // delta pass rediscovered between unchanged docs in a dirty bucket.
    val verifiedAll = DedupStages.foldVerified(carried, deltaVerified).cache()

    val clusters = DedupStages.clusters(verifiedAll).cache()
    // merge fold: page text of the cluster members (doc_id = xxhash64(url))
    val merged = DedupStages.mergedClusters(clusters,
      prev.pagesOf(clusters.select(xxhash64(col("url")).as("doc_id"))))

    // full views for the Result are LAZY — the pass never materializes them
    val sigsAll = prev.signatures.join(goneIds, Seq("doc_id"), "left_anti")
      .unionByName(deltaSigs)
    val probesAll = prev.probes.join(goneIds, Seq("doc_id"), "left_anti")
      .unionByName(deltaProbes)
    DeltaResult(
      DedupPipeline.Result(sigsAll, probesAll, deltaPairs, dropped, verifiedAll,
        clusters, merged, Seq(deltaSigs, deltaProbes, deltaPairs, verifiedAll, clusters)),
      deltaSignatures = deltaSigs, deltaProbes = deltaProbes,
      deltaVerified = deltaVerified)
  }
}
