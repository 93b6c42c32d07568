package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.io.{DeltaLog, TableIO}
import graft.pipeline.{DedupConfig, DedupPipeline, DedupStages, IncrementalDedup}

/**
 * Structured-Streaming front end for the dedup pipeline. The reference is
 * a batch system with incremental watermarks (SURVEY.md §2.9): harvested
 * record batches update the record store, dirty records are re-deduped,
 * merged output is re-indexed. Here each micro-batch of pages rows is an
 * UPSERT set (url = key, latest wins); `foreachBatch` folds it into the
 * persisted state with the incremental core, IncrementalDedup.pass, which
 * reads the previous state through this object's delta-log `LogReader`
 * (the in-memory `PrevState` is the core's other reader). The first batch
 * of a state dir folds the same way: a log that does not exist yet reads
 * as empty, so every doc of that batch is dirty and there is no separate
 * cold-start path.
 *
 * State I/O is O(batch) per micro-batch for WRITES (the reference writes
 * only dirty records back, classes/RecordManager.php:1988-1994): the four
 * state tables — pages, signatures, probes, verified_pairs — are
 * APPEND-ONLY delta logs (graft.io.DeltaLog); each batch appends only its
 * upserts / dirty-doc signatures / dirty-doc probes / newly-verified
 * pairs, all batch-stamped. Each append is one Spark job, and opening a
 * delta runs none (graft.io.StorageFormat takes the row count from the
 * write and stores the schema beside the files). Readers resolve:
 *
 *   pages, signatures  — latest `_batch` per url wins
 *   probes             — a probe row is live iff its `_batch` equals its
 *                        doc's latest signature batch (stale probes of a
 *                        re-signed url die without tombstones)
 *   verified_pairs     — an emission at batch b is live iff NEITHER
 *                        endpoint was re-signed after b (the carried-pair
 *                        rule of IncrementalDedup, evaluated at read);
 *                        duplicate emissions keep the latest
 *
 * Only the tables a reader prunes are bucketed. pages and signatures
 * deltas are directory-partitioned by the url bucket
 * `_ub = pmod(xxhash64(url), stateBuckets)`, so a batch resolves
 * latest-per-url only in the url buckets it TOUCHES (`signaturesOf`) and
 * reads page text only in the url buckets of verify participants and
 * cluster members (`pagesOf`). probes and verified_pairs are written
 * flat: a doc has ~44 probe keys, so even a few-doc batch probes nearly
 * every hash partition of the probe log, and the carried-pair view needs
 * the FULL live pair population (each batch commits full cluster
 * output). The pair resolution still never shuffles the compacted pair
 * baseline: liveness splits at the compaction watermark (see
 * resolvedVerified) into broadcast anti-joins for the baseline and a
 * full join+window only over the (small) post-compaction pair deltas.
 * What else scans the full log per batch is narrow and column-pruned:
 * the (url, _batch) since-watermark re-sign scan and the content-hash
 * column behind the exact channel — fixed-width columns of the lean
 * signature log, never text.
 *
 * Every `compactEvery` batches the resolved views are rewritten as a
 * single delta (original `_batch` stamps and the url-bucket layout
 * preserved — liveness and pruning depend on them), so the amortized
 * write cost per batch is O(batch + corpus/compactEvery). State dirs
 * whose probe and pair deltas were written partitioned by an earlier
 * layout still read (deltas union by column name); their first
 * compaction rewrites those two logs flat.
 *
 * Outputs per batch — clusters, merged_clusters — are full TableIO
 * commits: they are derived tables bounded by the duplicate population
 * (≪ corpus), and downstream consumers read them whole.
 *
 * `Trigger.AvailableNow` reproduces the reference's
 * run-to-watermark-and-stop semantics; a continuous trigger gives rolling
 * dedup. The stream checkpoint makes redelivery at-least-once, and both
 * the delta append (keyed by batchId) and the output commit are
 * idempotent, so the effect is exactly-once — the reference's
 * watermark-overlap argument (classes/SolrUpdater.php:292-302).
 */
object StreamingDedup {

  private val pageCols = Seq("url", "warc_ts", "html", "text", "lang", "source")

  /** Default url-hash bucket count for the pages and signatures layout.
    * At 10¹² docs each of the 64 buckets holds ~1.6% of the state; a batch
    * touching k buckets reads k/64 of the page/signature logs. The value
    * must stay FIXED for the lifetime of a state dir (it defines the
    * directory layout). */
  val defaultStateBuckets = 64

  /** url bucket: pmod(xxhash64(url), nB) — equal to pmod(doc_id, nB)
    * because doc_id = xxhash64(url) (DedupStages.withIds), so a doc's
    * bucket is derivable from either column. */
  private def urlBucket(nB: Int): Column =
    pmod(xxhash64(col("url")), lit(nB.toLong)).cast("int")

  /** Latest-batch-wins resolution per url. */
  private def latestPerUrl(df: DataFrame): DataFrame =
    df.withColumn("_rnk", row_number().over(
        Window.partitionBy("url").orderBy(col("_batch").desc)))
      .where(col("_rnk") === 1).drop("_rnk")

  /** Raw delta union, optionally restricted to rows stamped BEFORE a
    * batch — the redelivery guard: a re-run of batch b must build its
    * prev-state views as if b's own (possibly partial) appends never
    * happened, or a crash between two appends would make the re-run see
    * its dirty docs as already-signed and silently skip their pairs —
    * and optionally restricted to a set of `_ub` partitions (parquet
    * directory pruning; `Some(Nil)` reads nothing). `buckets` is by-name:
    * its collect runs only when the log exists. */
  private def rawRead(spark: SparkSession, stateDir: String, table: String,
                      before: Option[Long],
                      buckets: => Option[Seq[Int]] = None): Option[DataFrame] =
    DeltaLog.read(spark, stateDir, table)
      .map(df => before.fold(df)(b => df.where(col("_batch") < b)))
      .map(df => buckets.fold(df)(bs => df.where(col("_ub").isin(bs: _*))))

  private def dropMeta(df: DataFrame): DataFrame =
    df.drop("_batch", "_ub")

  /** Resolved pages snapshot (None before the first batch). */
  def resolvedPages(spark: SparkSession, stateDir: String): Option[DataFrame] =
    rawRead(spark, stateDir, "pages", None).map(d => dropMeta(latestPerUrl(d)))

  def resolvedSignatures(spark: SparkSession, stateDir: String,
                         before: Option[Long] = None): Option[DataFrame] =
    rawRead(spark, stateDir, "signatures", before).map(d => dropMeta(latestPerUrl(d)))

  /** Narrow per-doc latest signature batch — the liveness clock. groupBy
    * max over the two fixed-width columns (column-pruned scan, map-side
    * partial agg); equivalent to the latest-per-url window because
    * doc_id = xxhash64(url) is 1:1 with url. */
  private def sigBatchByDoc(spark: SparkSession, stateDir: String,
                            before: Option[Long]): Option[DataFrame] =
    rawRead(spark, stateDir, "signatures", before)
      .map(_.select("doc_id", "_batch").groupBy("doc_id")
        .agg(max("_batch").as("_sig_batch")))

  /** Live probes: `_batch` must match the doc's latest signature batch. */
  def resolvedProbes(spark: SparkSession, stateDir: String,
                     before: Option[Long] = None): Option[DataFrame] =
    for {
      probes <- rawRead(spark, stateDir, "probes", before)
      clock <- sigBatchByDoc(spark, stateDir, before)
    } yield probes.join(clock, Seq("doc_id"), "inner")
      .where(col("_batch") === col("_sig_batch"))
      .select("channel", "bucket_key", "doc_id", "tag")

  /** Live verified pairs: neither endpoint re-signed after the emission;
    * duplicate emissions of a pair keep the latest.
    *
    * Resolution is SPLIT at the compaction watermark `vc` (the pair log's
    * `c…` dir batch id) so the O(pair-population) compacted baseline is
    * never shuffled per batch:
    *
    *  - a compacted row was liveness-resolved and deduped against the
    *    whole log as of `vc`, so it is live NOW iff neither endpoint
    *    re-signed after `vc` and no later emission of the same pair
    *    exists — two broadcast anti-joins against the (small)
    *    since-watermark re-sign set and the (small) post-compaction pair
    *    keys: ONE scan of the baseline, zero shuffles of it
    *  - post-compaction (`d…`) rows — O(pairs touched since compaction) —
    *    pay the full liveness join + latest-per-pair window, but only
    *    against the since-watermark sig events
    *
    * The since-watermark re-sign set itself is a column-pruned
    * (url, _batch) scan of the signature log with the selective
    * `_batch > vc` predicate — no corpus-wide groupBy/window. A dead
    * later emission implies a since-watermark re-sign of an endpoint, so
    * anti-joining the baseline on ALL post-compaction pair keys (not just
    * live ones) cannot resurrect or lose a pair. */
  def resolvedVerified(spark: SparkSession, stateDir: String,
                       before: Option[Long] = None): Option[DataFrame] = {
    // `_ub`: the bucket column of deltas written in the earlier partitioned layout
    def flt(df: DataFrame): DataFrame =
      before.fold(df)(x => df.where(col("_batch") < x)).drop("_ub")
    val comp = DeltaLog.readWhere(spark, stateDir, "verified_pairs",
      DeltaLog.isCompacted).map(flt)
    val delt = DeltaLog.readWhere(spark, stateDir, "verified_pairs",
      e => !DeltaLog.isCompacted(e)).map(flt)
    if (comp.isEmpty && delt.isEmpty) return None
    val vc = DeltaLog.list(stateDir, "verified_pairs")
      .filter(DeltaLog.isCompacted).map(_.batchId).maxOption.getOrElse(-1L)
    val resigned = rawRead(spark, stateDir, "signatures", before)
      .map(_.where(col("_batch") > vc).select("url", "_batch"))
    val resignedUrls = resigned.map(_.select("url").distinct())
    val deltKeys = delt.map(_.select("url_a", "url_b").distinct())
    val compLive = comp.map { c0 =>
      val c1 = resignedUrls.fold(c0)(r => c0
        .join(r.select(col("url").as("url_a")), Seq("url_a"), "left_anti")
        .join(r.select(col("url").as("url_b")), Seq("url_b"), "left_anti"))
      deltKeys.fold(c1)(k => c1.join(k, Seq("url_a", "url_b"), "left_anti"))
    }
    val deltLive = delt.map { d0 =>
      val sbPost = resigned.map(_.groupBy("url").agg(max("_batch").as("_sb")))
      val live = sbPost.fold(d0)(sb => d0
        .join(sb.select(col("url").as("url_a"), col("_sb").as("_sba")),
          Seq("url_a"), "left")
        .join(sb.select(col("url").as("url_b"), col("_sb").as("_sbb")),
          Seq("url_b"), "left")
        .where(col("_batch") >= coalesce(col("_sba"), lit(Long.MinValue)) &&
          col("_batch") >= coalesce(col("_sbb"), lit(Long.MinValue)))
        .drop("_sba", "_sbb"))
      live.withColumn("_rnk", row_number().over(
          Window.partitionBy("url_a", "url_b").orderBy(col("_batch").desc)))
        .where(col("_rnk") === 1).drop("_rnk")
    }
    Some((compLive.toSeq ++ deltLive.toSeq)
      .reduce(_ unionByName _).drop("_batch"))
  }

  /** Distinct bucket values of a (small) frame — the driver-side key to
    * partition pruning. The collect is ≤ stateBuckets ints. */
  private def collectBuckets(df: DataFrame, bucket: Column): Seq[Int] =
    df.select(bucket.as("_b")).distinct().collect().map(_.getInt(0)).toSeq

  /** The delta logs as the incremental core's previous state. Reads are
    * of the state BEFORE batch `bid` — the redelivery guard, see rawRead —
    * except page reads; `signaturesOf` and `pagesOf` prune to the url
    * buckets their keys fall in. A log that does not exist yet reads as
    * empty: on the first batch of a state dir only the pages log exists,
    * and a crash between the pages append and the later appends of an
    * earlier batch leaves a pages log without the others. */
  private final class LogReader(b: DataFrame, stateDir: String, cfg: DedupConfig,
                                bid: Long, nB: Int) extends IncrementalDedup.PrevReader {
    private val spark = b.sparkSession
    private val before = Some(bid)
    private def noSigs = DedupStages.leanSignatures(DedupStages.withIds(b.limit(0)), cfg)
    private def noProbes = DedupStages.probeRows(DedupStages.withIds(b.limit(0)), cfg)

    // a batch url can only collide with prev state in its own url bucket
    def signaturesOf(urls: DataFrame): DataFrame =
      rawRead(spark, stateDir, "signatures", before, Some(collectBuckets(urls, urlBucket(nB))))
        .map(d => dropMeta(latestPerUrl(d))).getOrElse(noSigs)

    // the hash semi-join runs on the RAW narrow log first (urls sharing a
    // hash), then latest-per-url resolves only those urls' rows — the
    // window shuffle is O(matching urls), the scan is column-pruned
    def signaturesSharing(hashes: DataFrame): DataFrame =
      rawRead(spark, stateDir, "signatures", before).map { d =>
        val raw = d.drop("_ub")
        val urls = raw.join(hashes, Seq("content_hash"), "left_semi").select("url").distinct()
        dropMeta(latestPerUrl(raw.join(urls, Seq("url"), "left_semi")))
      }.getOrElse(noSigs)

    // url bucket = pmod(doc_id, nB), derivable from the id without a url
    // join. before = None: this batch's pages delta is already appended,
    // so dirty docs resolve to their new text.
    def pagesOf(ids: DataFrame): DataFrame =
      rawRead(spark, stateDir, "pages", None,
        Some(collectBuckets(ids, pmod(col("doc_id"), lit(nB.toLong)).cast("int"))))
        .map(d => dropMeta(latestPerUrl(d))).getOrElse(b.limit(0))

    def verifiedPairs: DataFrame = resolvedVerified(spark, stateDir, before).getOrElse(
      spark.createDataFrame(java.util.List.of[Row](), StructType.fromDDL("url_a STRING, " +
        "url_b STRING, channels ARRAY<STRING>, n_inter BIGINT, n_union BIGINT, " +
        "n_min BIGINT, jaccard DOUBLE, containment DOUBLE")))
    def signatures: DataFrame = resolvedSignatures(spark, stateDir, before).getOrElse(noSigs)
    def probes: DataFrame = resolvedProbes(spark, stateDir, before).getOrElse(noProbes)
  }

  /** Fold one upsert batch into the persisted state; returns the new
    * pipeline result (clusters/merged also committed to the state dir).
    * `stateBuckets` fixes the partitioned state layout — use the same
    * value for every batch of a state dir. */
  def processBatch(spark: SparkSession, batch: DataFrame, stateDir: String,
                   cfg: DedupConfig = DedupConfig(), batchId: Long = -1L,
                   compactEvery: Int = 8,
                   stateBuckets: Int = defaultStateBuckets): DedupPipeline.Result = {
    val nB = stateBuckets
    val b = DedupStages.withSource(batch)
      // latest row per url within the batch (by warc_ts)
      .withColumn("_rn", row_number().over(
        Window.partitionBy("url").orderBy(col("warc_ts").desc)))
      .where(col("_rn") === 1).drop("_rn")
      .select(pageCols.map(col): _*)

    val bid = if (batchId >= 0) batchId else DeltaLog.nextBatchId(stateDir, "pages")

    // pages delta first (url-bucketed): the resolved log then already
    // carries this batch's text for participant/member reads
    DeltaLog.append(b.withColumn("_ub", urlBucket(nB)), stateDir, "pages", bid,
      partitionCols = Seq("_ub"))

    // the upsert model: a batch removes no url
    val (d, pins) = IncrementalDedup.pass(b, b.select("url").limit(0),
      new LogReader(b, stateDir, cfg, bid, nB), cfg)
    // O(dirty) state writes: ONLY this pass's increments are appended
    DeltaLog.append(d.deltaSignatures.withColumn("_ub", urlBucket(nB)),
      stateDir, "signatures", bid, partitionCols = Seq("_ub"))
    DeltaLog.append(d.deltaProbes, stateDir, "probes", bid)
    DeltaLog.append(d.deltaVerified, stateDir, "verified_pairs", bid)
    val result = d.full

    // derived outputs: full commits, bounded by the duplicate population
    val fp = s"batch-$bid"
    val ch = cfg.configHash
    val mer = TableIO.commit(result.merged, stateDir, "merged_clusters", ch, fp)
    val clu = TableIO.commit(result.clusters, stateDir, "clusters", ch, fp)

    // LSM-style compaction keeps the delta count bounded; the rewritten
    // deltas preserve the `_batch` stamps (liveness) and the pages and
    // signatures `_ub` layout (pruning). Probes and pairs are rewritten
    // flat, which drops the bucket column of an earlier partitioned layout
    if (compactEvery > 0 && DeltaLog.list(stateDir, "pages").size > compactEvery) {
      DeltaLog.compact(stateDir, "pages",
        latestPerUrl(DeltaLog.read(spark, stateDir, "pages").get), bid,
        partitionCols = Seq("_ub"))
      val sigsStamped = latestPerUrl(DeltaLog.read(spark, stateDir, "signatures").get)
        .localCheckpoint(true) // pin: consumed by probes + verified liveness
      DeltaLog.compact(stateDir, "signatures", sigsStamped, bid,
        partitionCols = Seq("_ub"))
      val probes = DeltaLog.read(spark, stateDir, "probes").get.drop("_ub")
        .join(sigsStamped.select(col("doc_id"), col("_batch").as("_sig_batch")),
          Seq("doc_id"))
        .where(col("_batch") === col("_sig_batch")).drop("_sig_batch")
      DeltaLog.compact(stateDir, "probes", probes, bid)
      val sb = sigsStamped.select(col("url"), col("_batch").as("_sb"))
      val ver = DeltaLog.read(spark, stateDir, "verified_pairs").get.drop("_ub")
        .join(sb.select(col("url").as("url_a"), col("_sb").as("_sba")), Seq("url_a"))
        .join(sb.select(col("url").as("url_b"), col("_sb").as("_sbb")), Seq("url_b"))
        .where(col("_batch") >= col("_sba") && col("_batch") >= col("_sbb"))
        .withColumn("_rnk", row_number().over(
          Window.partitionBy("url_a", "url_b").orderBy(col("_batch").desc)))
        .where(col("_rnk") === 1).drop("_rnk", "_sba", "_sbb")
      DeltaLog.compact(stateDir, "verified_pairs", ver, bid)
      sigsStamped.unpersist()
    }

    // release this batch's cache pins: outputs are committed, and the
    // returned Result reads lazy resolved views from the log, which open
    // without running a job (candidatePairs / droppedBuckets recompute
    // lazily if a caller consumes them). Without this a long-running
    // stream accumulates cached plans/blocks in the CacheManager without
    // bound.
    pins.foreach(_.unpersist())

    DedupPipeline.Result(
      resolvedSignatures(spark, stateDir).get,
      resolvedProbes(spark, stateDir).get,
      result.candidatePairs, result.droppedBuckets,
      resolvedVerified(spark, stateDir).get, clu, mer)
  }

  /** Attach to a streaming pages DataFrame (readStream source of the same
    * shape); every micro-batch is folded into `stateDir`. */
  def attach(pagesStream: DataFrame, stateDir: String,
             cfg: DedupConfig = DedupConfig(),
             trigger: Trigger = Trigger.AvailableNow(),
             compactEvery: Int = 8,
             stateBuckets: Int = defaultStateBuckets): StreamingQuery =
    pagesStream.writeStream
      .outputMode("update")
      .trigger(trigger)
      .option("checkpointLocation", s"$stateDir/_stream_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch.sparkSession, batch, stateDir, cfg, batchId,
          compactEvery, stateBuckets): Unit
      }
      .start()
}
