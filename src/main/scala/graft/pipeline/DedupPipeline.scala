package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.functions._
import graft.functions.TextColumns
import graft.functions.signatures._
import graft.io.TableIO

/**
 * Configuration of the near-duplicate pipeline — the graft analog of the
 * reference's dedup knobs (key families, candidate caps, match gates;
 * classes/RecordManager.php:1296-1310,1333,1402-1410,1482-1623).
 *
 * Defaults: 3-word shingles, MinHash k=128 split into 32 bands × 4 rows
 * (LSH s-curve threshold (1/32)^(1/4) ≈ 0.42 → pairs at the verify
 * threshold J ≥ 0.7 are banded with p ≈ 1-(1-0.7^4)^32 ≈ 0.9998), 64-bit
 * SimHash probed in 4×16-bit chunks (pigeonhole-complete for Hamming ≤ 3),
 * and an exact content-hash channel (recall 1.0 at J = 1).
 */
final case class DedupConfig(
    shingleSize: Int = 3,
    minhashK: Int = 128,
    bands: Int = 32,
    rowsPerBand: Int = 4,
    simhashMaxHamming: Int = 3,
    jaccardThreshold: Double = 0.7,
    /** substring channel (the suffix-array-pass analog): token window of
      * the anchor fingerprints and the winnowing window; any shared token
      * run >= substrWindow + winnowWindow - 1 shares an anchor. */
    substrWindow: Int = 24,
    winnowWindow: Int = 16,
    /** containment |A∩B| / min(|A|,|B|) acceptance for substring-style
      * duplication (a page embedded verbatim in a longer page has low
      * Jaccard but containment ≈ 1). */
    containmentThreshold: Double = 0.9,
    /** skew guard: LSH band / SimHash probe buckets larger than this are
      * dropped (and logged) — the analog of the reference's
      * 1000-candidates-per-key cap (classes/RecordManager.php:1402-1410). */
    bucketCap: Int = 1000,
    /** reference gate: candidates only across sources
      * (classes/RecordManager.php:1346). Off by default for web text —
      * same-host near-dups are real duplicates there. */
    crossSourceOnly: Boolean = false,
    /** reference gate: format (≡ lang) equality required
      * (classes/RecordManager.php:1489-1497). */
    requireSameLang: Boolean = false,
    /** exact content-hash channel on/off (off isolates the probabilistic
      * channels in tests — e.g. proving over-cap star salvage clusters a
      * hot band without the exact channel's help). */
    exactChannel: Boolean = true,
    /** Reference ordered-decision-list title gate
      * (classes/RecordManager.php:1575-1590), applied INSIDE the verify
      * stage after the set-similarity test, with the reference's BYTE
      * semantics (PHP levenshtein/strlen): a pair is rejected when either
      * normalized text is empty or when byte-lev over the first 255 bytes
      * × 100 / byte-length of the FIRST (canonical url order) side is
      * >= the bound. None = gate off (web-text default); the reference
      * runs 10. Needs a `text` column on the verify side relation (the
      * lean pipeline always has one). */
    titleLevMax: Option[Double] = None,
    /** Reference author gate (classes/RecordManager.php:1592-1611) over
      * an `author` column when the side relation carries one; silently
      * inactive when the column is absent — the web-text pages schema has
      * no author field. Semantics: skipped when both normalized authors
      * are empty, reject when exactly one is empty, accepted outright on
      * authorMatch, else reject when byte-lev(255) × 100 / codepoint
      * length of the first side is STRICTLY > the bound (the reference
      * accepts ==bound; it runs 20). */
    authorLevMax: Option[Double] = None,
    seed: Long = 42L) {

  require(minhashK == bands * rowsPerBand, "minhashK must equal bands*rowsPerBand")
  // a full clique of n members is n(n-1)/2 pairs in one array
  // (graft.functions.SortedCliquePairs): 65535 is the largest n that fits
  require(bucketCap <= 65535, s"bucketCap must be <= 65535, got $bucketCap")
  // ProbeRowsFor emits four 16-bit SimHash chunks: by pigeonhole, two
  // hashes within Hamming 3 share a chunk, so the probe is complete only
  // up to 3
  require(simhashMaxHamming <= 3,
    s"simhashMaxHamming must be <= 3 (four 16-bit probe chunks), got $simhashMaxHamming")

  /** Stable config fingerprint for checkpoint reuse (the reference keys
    * its memoized worklists on md5 of the query params,
    * classes/SolrUpdater.php:341-347). */
  def configHash: String = {
    val s = productIterator.mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}

/**
 * The five reference dedup stages (SURVEY.md §3.1) re-expressed Spark-first
 * over `pages(url, warc_ts, html, text, lang)` rows:
 *
 *   candidate keys   → signatures (shingles, MinHash, SimHash, content md5)
 *   index probes     → band/probe self-joins (equi-joins Catalyst plans as
 *                      shuffled hash / sort-merge; AQE splits skewed keys)
 *   matchRecords     → exact-Jaccard verification + gates
 *   union-find       → large-star/small-star connected components
 *   cluster merge    → groupBy(cluster).agg fold
 *
 * Every stage is a pure DataFrame → DataFrame function so the driver can
 * checkpoint/resume between any two (graft.io.TableIO).
 */
object DedupStages {

  // ---------------------------------------------------------------- pages

  /** Derive the mandated pages(url, warc_ts, html, text, lang) shape
    * deterministically from the harness `documents` table (doc_id, text,
    * lang, source, n_chars). The hostname carries the reference's
    * `source_id` role (FIXTURES.md §1). */
  def pagesFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      concat(lit("https://"), col("source"), lit(".example.com/doc/"), col("doc_id")).as("url"),
      expr("timestampadd(HOUR, doc_id, timestamp'2024-01-01 00:00:00')").as("warc_ts"),
      concat(lit("<html><body>"), col("text"), lit("</body></html>")).cast("binary").as("html"),
      col("text"),
      col("lang"),
      col("source"))

  /** Extract source from a pages row that lacks the explicit column
    * (true Common-Crawl input): the url hostname. */
  def withSource(pages: DataFrame): DataFrame =
    if (pages.columns.contains("source")) pages
    else pages.withColumn("source", regexp_extract(col("url"), "^[a-z]+://([^/]+)", 1))

  /** Attach the compact dictionary id and project to the columns the
    * pipeline consumes (html in particular is NEVER read downstream — a
    * raw-payload column has no business in the pinned working set).
    *
    * doc_id = xxhash64(url): deterministic under recompute — an executor
    * loss that re-runs an upstream block renumbers NOTHING (a
    * monotonically_increasing_id here would silently corrupt every
    * downstream join unless the stage was pinned first). Collisions
    * (expected ~n²/2⁶⁵: ≈3·10⁴ pairs at 10¹² docs) are SAFE: a shared id
    * only aliases two docs in the candidate index, the verify stage joins
    * ids back to urls (fanning an aliased pair out to its url
    * combinations), re-checks exact Jaccard per URL pair, and drops the
    * identity rows (url_a = url_b guard) — a collision costs a few extra
    * verify rows, never a wrong cluster. */
  def withIds(pages: DataFrame): DataFrame = {
    // `author` rides along when the input carries one (it feeds the
    // authorLevMax verify gate); the web-text schema normally has none
    val extra = if (pages.columns.contains("author")) Seq("author") else Nil
    withSource(pages)
      .withColumn("doc_id", xxhash64(col("url")))
      .select(("doc_id" +: "url" +: "source" +: "lang" +: "text" +: extra).map(col): _*)
  }

  // ----------------------------------------------------------- signatures

  /** Stage 1 — per-document signatures, all in one scan-side projection
    * (one pass over text; every function is codegen'd, incl. the custom
    * MinHash/SimHash/shingle expressions in graft.functions).
    *
    * Columns: url, source, lang, content_hash, n_tokens, shingles
    * (distinct hashed n-grams), n_shingles, minhash (array<bigint> k),
    * simhash (bigint). */
  def signatures(pages: DataFrame, cfg: DedupConfig): DataFrame = {
    val toks = TextColumns.tokenHashes(col("text"))
    withSource(pages)
      // compact dictionary id: the 32-rows-per-doc band table (and every
      // other bucket table) shuffles an 8-byte id instead of the url
      // string; urls are translated back in the verify join. xxhash64(url)
      // = recompute-stable (see withIds for the collision argument).
      .withColumn("doc_id", xxhash64(col("url")))
      .select(
        col("doc_id"), col("url"), col("source"), col("lang"),
        md5(col("text")).as("content_hash"),
        toks.as("token_hashes"))
      .select(
        col("doc_id"), col("url"), col("source"), col("lang"), col("content_hash"),
        size(col("token_hashes")).as("n_tokens"),
        TextColumns.shingleHashes(col("token_hashes"), cfg.shingleSize).as("shingles_all"),
        graft.functions.winnow.winnowAnchors(
          TextColumns.shingleHashes(col("token_hashes"), cfg.substrWindow),
          cfg.winnowWindow).as("anchors_all"))
      .select(
        col("doc_id"), col("url"), col("source"), col("lang"), col("content_hash"),
        col("n_tokens"),
        array_distinct(col("shingles_all")).as("shingles"),
        array_distinct(col("anchors_all")).as("anchors"),
        // SimHash over SHINGLE hashes (not bare tokens): n-gram profiles
        // separate unrelated documents that share a small vocabulary,
        // token-level profiles don't (they made this channel a
        // collision storm on low-entropy text)
        simhash64(col("shingles_all")).as("simhash"))
      .select(
        col("doc_id"), col("url"), col("source"), col("lang"), col("content_hash"),
        col("n_tokens"),
        col("shingles"),
        size(col("shingles")).as("n_shingles"),
        col("anchors"),
        minhashSignature(col("shingles"), cfg.minhashK, cfg.seed).as("minhash"),
        col("simhash"))
  }

  /** LEAN per-document signature row — what the pipeline actually STORES
    * per doc at scale: fixed-width columns only. The k=128 MinHash and the
    * shingle/anchor arrays are ~2.5 KB/doc; materializing them (cache or
    * table) made the signature stage memory-bandwidth-bound and
    * ANTI-scaling on wide hosts. They are consumed exactly once each, so
    * `probeRows` recomputes them in the same scan that explodes them, and
    * the verify stage recomputes shingle sets only for the ~0.1% of docs
    * that appear in a candidate pair. */
  def leanSignatures(pw: DataFrame, cfg: DedupConfig): DataFrame =
    pw.select(
      col("doc_id"), col("url"), col("source"), col("lang"),
      md5(col("text")).as("content_hash"),
      size(split(col("text"), " ")).as("n_tokens"))

  /** Fused probe-row generation: ONE scan over (doc_id, text) computes
    * token hashes → shingles → MinHash → band hashes, SimHash chunks and
    * winnowed anchors, and explodes them as a single
    * (channel, bucket_key, doc_id, tag) generator — no intermediate
    * signature arrays ever hit memory or disk. Bucket keys match
    * `probeTable` bit-for-bit (same xxhash64 packing).
    *
    * Round-6: the whole chain is ONE native expression
    * (graft.functions.ProbeRowsFor). The composed-builtin form planned as
    * ~3 passes per row — filter pushdown re-expanded the
    * `size(shingles) > 0` guard (which only ever dropped null-text rows;
    * `split` never yields an empty array) into a full hash chain inside
    * the scan Filter, and projection collapse duplicated the token-hash
    * chain per consumer; lambda-bearing trees are exempt from
    * common-subexpression elimination, so nothing deduplicated them. See
    * the ProbeRowsFor scaladoc for the bit-identical arithmetic
    * contract. */
  def probeRows(pw: DataFrame, cfg: DedupConfig): DataFrame =
    pw.where(col("text").isNotNull)
      .select(col("doc_id"), explode(graft.functions.proberows.probeRowsFor(
        col("text"), cfg.shingleSize, cfg.substrWindow, cfg.winnowWindow,
        cfg.minhashK, cfg.bands, cfg.rowsPerBand, cfg.seed)).as("p"))
      .select(col("p.channel").as("channel"), col("p.bucket_key").as("bucket_key"),
        col("doc_id"), col("p.tag").as("tag"))

  // ------------------------------------------------------------ channels

  /** LSH band table: (band_id, band_hash, doc_id). The explode is the analog
    * of the reference's per-record key arrays feeding sparse indexes
    * (classes/RecordManager.php:1298-1309, dbscripts/mongo.js:2-4). */
  def lshBands(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    sigs
      .where(col("n_shingles") > 0)
      .select(col("doc_id"),
        posexplode(lshBandHashes(col("minhash"), cfg.bands, cfg.rowsPerBand))
          .as(Seq("band_id", "band_hash")))

  /** SimHash probe table: 4 × 16-bit chunks. Any pair within Hamming
    * distance ≤ 3 of each other agrees exactly on ≥ 1 chunk (pigeonhole),
    * so the chunk equi-join is a complete candidate generator for d ≤ 3. */
  def simhashProbes(sigs: DataFrame): DataFrame = {
    val chunks = array((0 until 4).map(i =>
      struct(lit(i).as("probe_id"),
        shiftright(col("simhash"), i * 16).bitwiseAND(lit(0xFFFFL)).as("probe_val"))): _*)
    sigs.where(col("n_shingles") > 0)
      .select(col("doc_id"), col("simhash"), explode(chunks).as("p"))
      .select(col("doc_id"), col("simhash"), col("p.probe_id"), col("p.probe_val"))
  }

  /** Exact content-hash channel. Within an identical-text group the
    * component is fully determined, so emit a STAR (min-url rep → member)
    * instead of all O(m²) pairs — same connected components, linear size.
    * (Analog of the reference's shared-ISBN immediate match,
    * classes/RecordManager.php:1500-1512.) */
  def exactCandidates(sigs: DataFrame): DataFrame = {
    val reps = sigs.groupBy(col("content_hash"))
      .agg(F.min(col("doc_id")).as("id_a"), F.count(lit(1)).as("m"))
      .where(col("m") > 1).drop("m")
    sigs.join(reps, "content_hash")
      .where(col("doc_id") =!= col("id_a"))
      .select(col("id_a"), col("doc_id").as("id_b"), lit("exact").as("channel"))
  }

  /** Unified probe table: LSH bands, SimHash chunks and substring anchors
    * in ONE (channel, bucket_key, doc_id, tag) relation, so candidate
    * generation is a single count-prefilter + a single bounded collect
    * over ALL probe families instead of three separate shuffle pipelines —
    * fewer, larger stages (better executor utilization at any scale). The
    * bucket_key packs the family's fields through one more splitmix round;
    * a cross-family key collision merely merges two buckets, which the
    * verify stage neutralizes. */
  def probeTable(sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    val bands = lshBands(sigs, cfg).select(
      lit("minhash_lsh").as("channel"),
      xxhash64(lit(0), col("band_id"), col("band_hash")).as("bucket_key"),
      col("doc_id"), lit(0L).as("tag"))
    val probes = simhashProbes(sigs).select(
      lit("simhash").as("channel"),
      xxhash64(lit(1), col("probe_id"), col("probe_val")).as("bucket_key"),
      col("doc_id"), col("simhash").as("tag"))
    val anchors = sigs.where(size(col("anchors")) > 0)
      .select(col("doc_id"), explode(col("anchors")).as("anchor"))
      .select(lit("substring").as("channel"),
        xxhash64(lit(2), col("anchor")).as("bucket_key"),
        col("doc_id"), lit(0L).as("tag"))
    bands.unionByName(probes).unionByName(anchors)
  }

  /** Stage 2 — candidate pairs from a (channel, bucket_key, doc_id, tag)
    * probe relation (`probeRows`, or `probeTable` over full signatures;
    * the incremental core, graft.pipeline.IncrementalDedup.pass, restricts
    * it to dirty-touching buckets for both of its state readers), unioned
    * with the exact channel and tagged with the channels that produced
    * each pair (the reference records which key family matched only in
    * logs; we keep it queryable). Returns (pairs, droppedBucketsLog). */
  def candidatesFromProbes(probes: DataFrame, sigs: DataFrame,
                           cfg: DedupConfig): (DataFrame, DataFrame) = {
    // One counting pass (map-side partial agg → tiny shuffle) classifies
    // every bucket and carries `center` = true min doc_id alongside:
    // singleton (dropped by the inner join), normal (full clique
    // expansion), over-cap (star SALVAGE — see below). The result — one
    // short row per multi-member bucket — is LAZILY localCheckpoint'ed:
    // the first action materializes it once and every consumer (clique
    // branch, star branch, dropped log) reuses the pinned blocks instead
    // of re-running the probe scan underneath. On a cluster this is the
    // stage TableIO would checkpoint; the blocks are a few MB.
    val counts = probes.groupBy(col("channel"), col("bucket_key"))
      .agg(F.count(lit(1)).as("bucket_n"), F.min(col("doc_id")).as("center"))
      .where(col("bucket_n") >= 2)
      .localCheckpoint(false)
    // over-cap log: true sizes, queryable (the reference logs its
    // too-many-candidates keys, classes/RecordManager.php:1402-1410)
    val dropped = counts.where(col("bucket_n") > cfg.bucketCap)
      .select(col("channel"), col("bucket_key"), col("bucket_n"))

    // Attach (bucket_n, center) to EVERY multi-member probe row with ONE
    // inner join. The join carries no hint: the checkpointed leaf's size
    // estimate comes from the exploded probe scan, so the static plan is a
    // shuffle join, and AQE converts it to a broadcast at run time when
    // the materialized counts are small. The probe-row exchange of the
    // shuffle shape doubles as the per-bucket aggregation's partitioning
    // (no second exchange before the member collect), and the shape holds at
    // bucket cardinalities past broadcast limits.
    //
    // Per-branch build-side filters (cold = under-cap, hot = over-cap) so
    // each branch's bucket_n predicate lives BELOW its join: when a pass
    // has no over-cap buckets at all — the common case — AQE's empty-
    // relation propagation can prune the star branch's join (a filter
    // above a shared join would defeat that).
    val cold = counts.where(col("bucket_n") <= cfg.bucketCap)
    val hot = counts.where(col("bucket_n") > cfg.bucketCap)
    val tagged = probes.join(cold, Seq("channel", "bucket_key"))

    // normal buckets: member collect + in-task clique expansion. The join
    // above keeps only buckets of bucket_n <= bucketCap members, so the
    // builtin collect_list is already bounded by the cap; collecting
    // (doc_id, tag) structs keeps ids and tags aligned by construction.
    // round-6: sort+zip+pair-expand fused into one native expression
    // (graft.functions.SortedCliquePairs) — the composed
    // pairExpand(array_sort(zip_with(...))) chain walked five
    // lambda-bearing interpreted trees per bucket; bit-equivalence
    // pinned in CliquePairsSpec
    val cliquePairs = tagged
      .groupBy(col("channel"), col("bucket_key"))
      .agg(collect_list(struct(col("doc_id"), col("tag"))).as("g"))
      .select(col("channel"), explode(graft.functions.cliquepairs
        .sortedCliquePairs(col("g.doc_id"), col("g.tag"))).as("p"))
      // SimHash buckets carry the full simhash as tag: apply the exact
      // Hamming residual; other families pair unconditionally
      .where(col("channel") =!= "simhash" ||
        bit_count(col("p.a.t").bitwiseXOR(col("p.b.t"))) <= cfg.simhashMaxHamming)
      .select(col("p.a.u").as("id_a"), col("p.b.u").as("id_b"), col("channel"))

    // over-cap buckets: SALVAGED as a deterministic full star — every
    // member pairs with the bucket's min-id center: O(m) candidate rows
    // per degenerate bucket (never O(m²)), complete membership coverage,
    // bounded memory, no extra traversal. Precision is delegated to the
    // verify stage (the Hamming residual is skipped here — a salvaged
    // false positive costs one verify row; connected components restore
    // the full cluster through the center). Reference analog: caps its
    // candidate list but still matches within it
    // (classes/RecordManager.php:1402-1410).
    // Round-6: the former 16-way salt (explode hot count rows on
    // hash(doc_id)%16) is dropped — it existed only for the regime where
    // `counts` outgrows the broadcast threshold and this join falls back
    // to a shuffle; there AQE's skew-join split (inner equi-join:
    // oversized stream partitions are split, build rows duplicated)
    // covers the degenerate-bucket case, and under broadcast — every
    // measured regime — the salt was pure plan-size cost.
    val starPairs = probes.join(hot, Seq("channel", "bucket_key"))
      .where(col("doc_id") =!= col("center"))
      .select(col("center").as("id_a"), col("doc_id").as("id_b"), col("channel"))

    // no pre-distinct here: the channel-collecting aggregation below
    // already dedups (collect_set) — the former `.distinct()` was a full
    // extra shuffle of the pair rows for an identical result
    val probePairs = cliquePairs.unionByName(starPairs)
    val withExact =
      if (cfg.exactChannel) probePairs.unionByName(exactCandidates(sigs)) else probePairs
    val pairs = withExact
      .groupBy(col("id_a"), col("id_b"))
      .agg(sort_array(collect_set(col("channel"))).as("channels"))
    (pairs, dropped)
  }

  // ---------------------------------------------------------------- verify

  /** Stage 3 — verification (the `matchRecords` analog,
    * classes/RecordManager.php:1482-1623): exact Jaccard AND containment
    * over distinct shingle sets, accepted when either clears its
    * threshold, with the reference's hard gates (lang ≡ format,
    * cross-source) as config. Also translates candidate doc_ids back to
    * urls (the only place that pays string width).
    *
    * Strong-key prefilter (the reference skips weak-key verification when
    * a strong key already decided, classes/RecordManager.php:1374-1390):
    * pairs carrying the `exact` channel are byte-identical texts, so they
    * take a FAST PATH — content_hash equality re-checked (collision-proof:
    * the md5 is the ground truth, not the channel tag), shingle math
    * derived from the a side alone (identical sets ⇒ J = containment = 1,
    * n_inter = n_union = n_min = |Sₐ|) — and never pay the b-side
    * shingling or the set intersect. Requires a `content_hash` column on
    * the side relation; without one, exact pairs flow through the full
    * path unchanged. */
  /** Participant-restricted verify side: the distinct pair participants
    * (weak pairs contribute both ids, exact-channel pairs their a side
    * only) semi-joined below the shingle projection, so ONLY participants
    * pay the shingle recompute. Package-private so the plan-discipline
    * test can assert the semi-join on the exact subtree `verified` pins. */
  private[graft] def participantSide(weakPairs: DataFrame, exactPairs: DataFrame,
                                     sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    val participants = weakPairs
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .unionByName(exactPairs.select(col("id_a").as("doc_id")))
      .distinct()
    val sh = TextColumns.shingleSet(col("text"), cfg.shingleSize)
    sigs.join(participants, Seq("doc_id"), "left_semi")
      .withColumn("shingles", sh).withColumn("n_shingles", size(col("shingles")))
  }

  def verified(pairs: DataFrame, sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    // the fast path derives everything from the a side, so it cannot
    // evaluate the Levenshtein decision-list gates (identical TEXT does
    // not imply the gate passes: an empty-normalizing text must REJECT,
    // and an author column may differ between byte-identical texts) —
    // with a lev gate configured, every pair takes the full path
    val fastable = sigs.columns.contains("content_hash") &&
      cfg.titleLevMax.isEmpty && cfg.authorLevMax.isEmpty
    val isExact = array_contains(col("channels"), "exact")
    val weakPairs = if (fastable) pairs.where(!isExact) else pairs
    val exactPairs = if (fastable) pairs.where(isExact)
      else pairs.where(lit(false))

    // side rows need shingle sets, computed here from `text`. The
    // semi-join to the distinct pair participants comes FIRST — below the
    // shingle projection — so only participants (~0.1% of the corpus at
    // web scale) pay the shingling cost; without it Spark computes
    // shingle sets for every row of the side relation, twice (a and b
    // sides), silently re-paying the whole signature-scan cost in the
    // verify stage. Exact-channel pairs contribute only their a side (the
    // fast path reads one side).
    val withShingles = participantSide(weakPairs, exactPairs, sigs, cfg)
    val sideCols = Seq("url", "source", "lang") ++
      (if (fastable) Seq("content_hash") else Nil)
    // Levenshtein decision-list gates (cfg.titleLevMax/authorLevMax): the
    // normalized comparison strings ride the side relation (computed for
    // PARTICIPANTS only, like the shingle sets) and are consumed after the
    // set-similarity test below
    val titleGate = cfg.titleLevMax.isDefined
    val authorGate = cfg.authorLevMax.isDefined && withShingles.columns.contains("author")
    val gateCols =
      (if (titleGate) Seq(graft.functions.normalization.normalizeText(col("text")).as("nrm")) else Nil) ++
      (if (authorGate) Seq(graft.functions.normalization.normalizeText(col("author")).as("anrm")) else Nil)
    // Round-6: the side relation is consumed up to three times (weak a,
    // weak b, exact fast-path a), and the planner's exchange reuse did
    // NOT deduplicate the copies — the executed sf0.1 plan showed the
    // full participant-semi-join → text-join → shingle-projection
    // subtree planned per consumer (twin query stages, 0 ReusedExchange;
    // at 350k docs the twins were 2 × ~33 core-s of an ~218 core-s
    // 8-core run). A lazy localCheckpoint pins the participant-scale
    // rows ONCE — bounded by the participant fraction (the same budget
    // the semi-join already enforces), the exact pattern `counts` uses
    // in candidatesFromProbes.
    val side = withShingles.select(
      ((col("doc_id").as("jid") +: sideCols.map(col)) ++ gateCols) :+
        col("shingles") :+ col("n_shingles"): _*)
      .localCheckpoint(false)
    val a = side.toDF(side.columns.map(_ + "_a"): _*)
    val b = side.toDF(side.columns.map(_ + "_b"): _*)

    /** Reference decision-list gates (classes/RecordManager.php:
      * 1575-1611) with the reference's BYTE semantics (PHP `levenshtein`
      * and `strlen` are byte-level; Spark's builtins are codepoint-level
      * and diverge on the ÄÅÖäåö the normalizer preserves — the metric
      * runs through graft.functions.TitleLevPct/AuthorLevPct instead).
      * "First" side = canonical (url asc) pair order, the reference's
      * asymmetric orig/candidate denominator. Applied as a conjunction
      * with the set-similarity test (the ordered decision list collapses
      * to AND semantics for accept/reject gates).
      *
      *  - title: BOTH normalized titles must be non-empty ("No title
      *    match without title", :1577-1581), reject when
      *    byteLev(255) × 100 / byteLen(first) >= bound (:1583-1590)
      *  - author: skipped when BOTH normalized authors are empty
      *    (:1595), reject when exactly one is empty (:1596-1601),
      *    accepted outright on authorMatch (:1602), else reject when
      *    byteLev(255) × 100 / codepointLen(first) > bound — the
      *    reference accepts ==bound (:1603-1608) */
    def levGates(df: DataFrame): DataFrame = {
      import graft.functions.normalization.{authorLevPct, authorsMatch, titleLevPct}
      def ordered(na: Column, nb: Column): (Column, Column) = (
        when(col("url_a") <= col("url_b"), na).otherwise(nb),
        when(col("url_a") <= col("url_b"), nb).otherwise(na))
      var j = df
      if (titleGate) {
        val (first, second) = ordered(col("nrm_a"), col("nrm_b"))
        j = j.where(length(first) > 0 && length(second) > 0 &&
          titleLevPct(first, second) < cfg.titleLevMax.get)
      }
      if (authorGate) {
        val (f0, s0) = ordered(col("anrm_a"), col("anrm_b"))
        val first = coalesce(f0, lit(""))
        val second = coalesce(s0, lit(""))
        val bothEmpty = length(first) === 0 && length(second) === 0
        val bothPresent = length(first) > 0 && length(second) > 0
        j = j.where(bothEmpty || (bothPresent &&
          (authorsMatch(first, second) ||
            authorLevPct(first, second) <= cfg.authorLevMax.get)))
      }
      j
    }

    def gates(df: DataFrame): DataFrame = {
      var j = df
      if (cfg.requireSameLang) j = j.where(col("lang_a") === col("lang_b"))
      if (cfg.crossSourceOnly) j = j.where(col("source_a") =!= col("source_b"))
      // identity guard: a doc_id hash collision fans an aliased candidate
      // pair out to url combinations that include (u, u) self-rows — drop
      // them here (also shields against duplicate urls in the input)
      j.where(col("url_a") =!= col("url_b"))
    }

    val weakOut = levGates(gates(weakPairs
      .join(a, col("id_a") === col("jid_a")).drop("jid_a")
      .join(b, col("id_b") === col("jid_b")).drop("jid_b")))
      .select(
        least(col("url_a"), col("url_b")).as("u1"),
        greatest(col("url_a"), col("url_b")).as("u2"),
        col("channels"),
        size(array_intersect(col("shingles_a"), col("shingles_b"))).cast("long").as("n_inter"),
        col("n_shingles_a").cast("long").as("na"), col("n_shingles_b").cast("long").as("nb"))
      .select(col("u1").as("url_a"), col("u2").as("url_b"), col("channels"), col("n_inter"),
        (col("na") + col("nb") - col("n_inter")).as("n_union"),
        least(col("na"), col("nb")).as("n_min"))
      .withColumn("jaccard", col("n_inter").cast("double") / col("n_union").cast("double"))
      .withColumn("containment", col("n_inter").cast("double") / col("n_min").cast("double"))
      .where(col("jaccard") >= cfg.jaccardThreshold ||
        col("containment") >= cfg.containmentThreshold)

    if (!fastable) return weakOut

    // fast path: b side joins LEAN columns only (url/source/lang/hash)
    val bl = sigs.select(col("doc_id").as("jid_b"), col("url").as("url_b"),
      col("source").as("source_b"), col("lang").as("lang_b"),
      col("content_hash").as("content_hash_b"))
    val exactOut = gates(exactPairs
      .join(a, col("id_a") === col("jid_a")).drop("jid_a")
      .join(bl, col("id_b") === col("jid_b")).drop("jid_b"))
      .where(col("content_hash_a") === col("content_hash_b"))
      .select(
        least(col("url_a"), col("url_b")).as("url_a"),
        greatest(col("url_a"), col("url_b")).as("url_b"),
        col("channels"),
        col("n_shingles_a").cast("long").as("n_inter"),
        col("n_shingles_a").cast("long").as("n_union"),
        col("n_shingles_a").cast("long").as("n_min"))
      .withColumn("jaccard", lit(1.0d))
      .withColumn("containment", lit(1.0d))

    weakOut.unionByName(exactOut)
  }

  /** Merge carried-over and freshly-verified pair rows into one verified
    * table: a pair rediscovered by the delta pass (two unchanged docs in
    * a dirty bucket) appears in both inputs — union the channel
    * provenance, keep one stats row. Shared by the incremental and
    * streaming passes (their equivalence specs assert the same contract).
    *
    * Precondition: duplicate (url_a, url_b) rows carry IDENTICAL stats —
    * guaranteed by current callers because a pair is only rediscovered
    * when BOTH endpoints are unchanged (same texts ⇒ same shingle math).
    * The merge still aggregates with `max` (not `first`) so a future
    * caller violating the precondition gets deterministic output rather
    * than a silently partition-order-dependent row. */
  def foldVerified(carried: DataFrame, delta: DataFrame): DataFrame =
    carried.unionByName(delta)
      .groupBy("url_a", "url_b")
      .agg(flatten(collect_set(col("channels"))).as("chs"),
        F.max("n_inter").as("n_inter"), F.max("n_union").as("n_union"),
        F.max("n_min").as("n_min"), F.max("jaccard").as("jaccard"),
        F.max("containment").as("containment"))
      .withColumn("channels", array_distinct(sort_array(col("chs")))).drop("chs")
      .select("url_a", "url_b", "channels", "n_inter", "n_union", "n_min",
        "jaccard", "containment")

  // -------------------------------------------------------------- clusters

  /** Stage 4 — clustering: connected components over verified pairs.
    * cluster_id = lexicographic min url of the component. */
  def clusters(verifiedPairs: DataFrame): DataFrame =
    ConnectedComponents.run(verifiedPairs.select(col("url_a"), col("url_b")))
      .select(col("vertex").as("url"), col("component").as("cluster_id"))

  /** Stage 5 — cluster merge with the reference's per-field fold
    * semantics (`mergeRecords`, classes/SolrUpdater.php:1204-1268):
    *
    *  - `rep_text` / `rep_url`  — keep-longest (reference keeps the longest
    *    string per single-valued field), min-url tiebreak
    *  - `first_lang`            — first-record-wins (member order = url
    *    asc; the reference folds fields in cluster-member order and the
    *    first non-null value sticks)
    *  - `langs`                 — case-insensitive first-wins union
    *    (MetadataUtils::array_iunique, classes/MetadataUtils.php:288-298):
    *    one value per lower-cased key, the earliest member's casing kept,
    *    in member order
    *  - `members`               — BOUNDED: the first `memberCap` urls in
    *    url order via a window rank (sort-based, spills; no unbounded
    *    collect buffer on a degenerate boilerplate cluster), `size` stays
    *    the true count
    */
  def mergedClusters(clusters: DataFrame, pages: DataFrame,
                     memberCap: Int = 1000): DataFrame = {
    val p = withSource(pages).select(col("url"), col("text"), col("lang"), col("source"))
    // ONE aggregation (graft.functions.ClusterFold) folds every per-field
    // merge semantic in a single shuffle of the member relation — the
    // former 3-aggregation + window + 2-join formulation cost five extra
    // stages at toy scale and three extra shuffles of the member relation
    // at any scale. Buffers stay O(memberCap) on degenerate clusters.
    val fold = F.udaf(new graft.functions.ClusterFold(memberCap))
    clusters.join(p, "url")
      .groupBy(col("cluster_id"))
      .agg(fold(col("url"), col("text"), col("lang"), col("source")).as("o"))
      .select(col("cluster_id"), col("o.size").as("size"),
        col("o.members").as("members"), col("o.rep_text").as("rep_text"),
        col("o.rep_url").as("rep_url"), col("o.first_lang").as("first_lang"),
        col("o.langs").as("langs"), col("o.sources").as("sources"))
  }
}

/** End-to-end orchestration with optional per-stage checkpoint/resume. */
object DedupPipeline {

  /** A pipeline run's frames. `pins` are the caches behind them: the
    * caller that consumed the result releases them with `unpersist()`
    * (the frames stay valid and recompute if read again). */
  final case class Result(
      signatures: DataFrame,
      /** fixed-width probe index (channel, bucket_key, doc_id, tag) — the
        * relation the incremental pass probes; persisted as a checkpoint
        * stage, lazily recomputed otherwise */
      probes: DataFrame,
      candidatePairs: DataFrame,
      droppedBuckets: DataFrame,
      verifiedPairs: DataFrame,
      clusters: DataFrame,
      merged: DataFrame,
      pins: Seq[DataFrame] = Nil) {
    def unpersist(): Unit = pins.foreach(_.unpersist())
  }

  /** Fingerprint of the input snapshot for checkpoint-reuse decisions:
    * row count + hash-sum of (url, content identity). Cheap single scan. */
  def inputFingerprint(pages: DataFrame): String = {
    val r = pages.agg(
      count(lit(1)).as("c"),
      coalesce(expr("bit_xor(xxhash64(url, md5(text)))"), lit(0L)).as("h")).head()
    s"${r.getLong(0)}-${java.lang.Long.toHexString(r.getLong(1))}"
  }

  def run(spark: SparkSession, pages: DataFrame, cfg: DedupConfig = DedupConfig(),
          checkpointRoot: Option[String] = None): Result = {
    val ch = cfg.configHash
    val fp = checkpointRoot.map(_ => inputFingerprint(pages)).getOrElse("nofp")

    // per-stage wall timings feed the lineage/metrics table (0 ms = stage
    // reused from checkpoint — the resume path is visible in the metrics)
    val timings = scala.collection.mutable.ListBuffer.empty[(String, Long)]
    def timed(name: String)(compute: => DataFrame): DataFrame = {
      // a stage reused from checkpoint records wall_ms = 0 (the manifest
      // check + parquet-open cost is not stage work) — resume lineage is
      // distinguishable in the metrics table as documented in Metrics
      val reused = checkpointRoot.exists(r => TableIO.isCurrent(r, name, ch, fp))
      val t0 = System.nanoTime()
      val out = TableIO.stage(spark, checkpointRoot, name, ch, fp)(compute)
      timings += name -> (if (reused) 0L else (System.nanoTime() - t0) / 1000000L)
      out
    }

    // pages + dictionary ids, pinned (cache or table) so doc_ids are
    // stable across the fan-out
    val pw0 = timed("pages_ids")(DedupStages.withIds(pages))
    val pw = if (checkpointRoot.isEmpty) pw0.cache() else pw0

    // LEAN signature table: fixed-width columns only (see leanSignatures)
    val sigs0 = timed("signatures")(DedupStages.leanSignatures(pw, cfg))
    val sigs = if (checkpointRoot.isEmpty) sigs0.cache() else sigs0

    // probe rows: when running without checkpoints they are fused into
    // candidate generation (one scan, never materialized — the lean path
    // that keeps the signature stage compute-bound); when checkpointing,
    // the fixed-width (channel, bucket_key, doc_id, tag) relation IS
    // persisted — it is the index the incremental pass probes with
    // O(dirty) work instead of a full-corpus text rescan
    val probes = checkpointRoot match {
      // the PERSISTED band index is explicitly range-partitioned on
      // (channel, bucket_key) and sorted within partitions (north rule:
      // "explicit range-partitioning of signature bands"): each stored
      // file covers a contiguous bucket-key range, so parquet row-group
      // min/max stats prune incremental probes of specific buckets and
      // same-bucket rows compress/co-locate. The fused in-memory path
      // needs no such shuffle (buckets are hash-grouped on the fly).
      case Some(_) => timed("probes")(
        DedupStages.probeRows(pw, cfg)
          .repartitionByRange(col("channel"), col("bucket_key"))
          .sortWithinPartitions("channel", "bucket_key"))
      case None => DedupStages.probeRows(pw, cfg)
    }
    val (cand, dropped) = DedupStages.candidatesFromProbes(probes, sigs, cfg)
    // the pairs table is tiny (≪ corpus) but its plan is the whole
    // candidate generation — pin it so the verify stage's two consumers
    // (participant semi-join + pair join) never re-run that work
    val candC0 = timed("candidate_pairs")(cand)
    val candC = if (checkpointRoot.isEmpty) candC0.cache() else candC0
    val droppedC = timed("dropped_buckets")(dropped)

    // verify joins the pair participants back to text and recomputes
    // their shingle sets inline (content_hash rides along to enable the
    // exact-channel fast path)
    val pwTextCols = Seq("doc_id", "text") ++
      (if (pw.columns.contains("author")) Seq("author") else Nil)
    val verSide = sigs.select("doc_id", "url", "source", "lang", "content_hash")
      .join(pw.select(pwTextCols.map(col): _*), "doc_id")
    val ver0 = timed("verified_pairs")(DedupStages.verified(candC, verSide, cfg))
    val ver = if (checkpointRoot.isEmpty) ver0.cache() else ver0
    // the caches above (stages read back from a checkpoint need no release)
    val pins = if (checkpointRoot.isEmpty) Seq(pw, sigs, candC, ver) else Nil
    val clu = timed("clusters")(DedupStages.clusters(ver))
    val merged = timed("merged_clusters")(DedupStages.mergedClusters(clu, pw))

    // lineage/metrics table: per-stage + per-partition rows (north rule;
    // reference analog classes/PerformanceCounter.php:40-97)
    checkpointRoot.foreach { root =>
      TableIO.commit(
        graft.io.Metrics.stageMetrics(spark, root, timings.toSeq, s"$ch-$fp"),
        root, "stage_metrics", ch, fp)
    }
    Result(sigs, probes, candC, droppedC, ver, clu, merged, pins)
  }
}
