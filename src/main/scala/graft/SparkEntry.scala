package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.normalization._
import graft.ops.{Multimodal, ParagraphOps, ProjectionDsl, RecordOps, Similarity, TextStats}
import graft.pipeline.{DedupConfig, DedupPipeline, DedupStages}
import graft.text.Normalize

/**
 * Driver contract (see SURVEY.md §5.5): every implemented operator from
 * SURVEY.md §2 is exposed as a named query over the harness tables in
 * `sfDir`, with an ANSI-SQL DuckDB oracle where the semantics are
 * SQL-expressible (non-SQL operators — MinHash/LSH/SimHash internals —
 * get rows-only checks).
 *
 * Naming/aliasing rule: Spark output column names match the oracle SQL
 * aliases exactly; count-like columns are cast to BIGINT on the Spark
 * side because DuckDB's len()/count() produce BIGINT.
 */
object SparkEntry {

  /** Pipeline config used by all dedup queries (and their oracles). */
  val cfg: DedupConfig = DedupConfig()

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  /** Dup-bearing variant: the harness corpus has no exact duplicates, so
    * the exact-channel oracles were vacuous (0 rows both sides). Union a
    * deterministic mutated copy — every 50th doc re-keyed +100000 with
    * IDENTICAL text — expressible identically in DuckDB SQL. (Reference
    * immediate-match channel: classes/RecordManager.php:1500-1512.) */
  private def docsWithDups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text", "lang", "source")
    d.unionByName(d.where(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"), col("lang"), col("source")))
  }
  private val dupDocsSql =
    """dd AS (SELECT doc_id, text, lang, source FROM documents
      |  UNION ALL SELECT doc_id + 100000, text, lang, source FROM documents WHERE doc_id % 50 = 0)""".stripMargin

  /** The synthetic corpus is single-line (space-joined words), so the
    * sub-document operators (ParagraphOps) would be vacuous on it.
    * Rebuilds each doc as deterministic multi-segment text: tokens
    * joined by spaces, with `sep` instead of the space after every
    * n-th token. The DuckDB oracles reconstruct the identical chunks
    * via `chunkSql` (generate_series + ordered string_agg). */
  private def chunkedText(n: Int, sep: String): Column = {
    val toks = filter(split(col("text"), " "), t => t =!= lit(""))
    array_join(transform(toks, (t, i) =>
      concat(t, when(((i + lit(1)) % n) === 0, lit(sep)).otherwise(lit(" ")))), "")
  }

  /** DuckDB CTEs mirroring `chunkedText(n, …)` + the split the operator
    * itself performs: `chunks(doc_id, pos, par)` = n-token chunks of
    * `src`'s text in token order. */
  private def chunkSql(src: String, n: Int): String =
    s"""base AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM $src),
       |toks AS (SELECT doc_id, i, ts[i] AS tok FROM base, UNNEST(generate_series(1, len(ts))) AS g(i)),
       |chunks AS (SELECT doc_id, CAST(floor((i-1)/$n) AS BIGINT) AS pos,
       |  string_agg(tok, ' ' ORDER BY i) AS par FROM toks GROUP BY doc_id, floor((i-1)/$n))""".stripMargin
  /** Deterministically messy absolute URLs (6 variants by doc_id % 6:
    * mixed-case host/scheme, default and non-default ports, fragments,
    * tracking params, unsorted params, trailing slash, one non-URL) for
    * exercising UrlOps.canonicalize; the oracle hand-specifies the
    * expected canonical form per variant — independent of the
    * implementation's regex mechanics. */
  private def messyUrl: Column = {
    val k = (col("doc_id") % 7).cast("string")
    val id = col("doc_id").cast("string")
    val m = col("doc_id") % 6
    when(m === 0, concat(lit("https://Site"), k, lit(".Example.COM/p/"), id, lit("/")))
      .when(m === 1, concat(lit("HTTP://site"), k, lit(".example.com:80/p/"), id,
        lit("?utm_source=feed&b=2&a=1")))
      .when(m === 2, concat(lit("https://site"), k, lit(".example.com:443/p/"), id,
        lit("#section-2")))
      .when(m === 3, concat(lit("http://site"), k, lit(".example.com/p/"), id,
        lit("?a=1&utm_campaign=x&fbclid=abc&z=9")))
      .when(m === 4, concat(lit("https://site"), k, lit(".example.com:8080/p/"), id))
      .otherwise(concat(lit("not a url "), id))
  }

  /** Three URL spellings of the same page (doc_id grouped by 3): case +
    * default-port + tracking/fragment variants that all canonicalize to
    * one URL, so urlDedup's collapse is non-vacuous and its oracle can
    * state the canonical form directly. */
  private def cloneUrl: Column = {
    val page = col("doc_id") - (col("doc_id") % 3)
    val k = (page % 7).cast("string")
    val p = page.cast("string")
    val v = col("doc_id") % 3
    when(v === 0, concat(lit("https://Site"), k, lit(".Example.COM/page/"), p, lit("/")))
      .when(v === 1, concat(lit("HTTPS://site"), k, lit(".example.com:443/page/"), p))
      .otherwise(concat(lit("https://site"), k, lit(".example.com/page/"), p,
        lit("?utm_source=feed#x")))
  }

  /** Deterministic PII-bearing sentences (5 variants by doc_id % 5:
    * two e-mails, two IPv4s, two phone spellings, one of each, none) for
    * exercising PiiOps; the oracle hand-specifies the expected counts
    * and redacted text per variant — no regex replay in DuckDB. */
  private def piiText: Column = {
    val m = col("doc_id") % 5
    when(m === 0, lit("Contact alice@example.com or bob.smith+tag@mail.example.org for details"))
      .when(m === 1, lit("Gateway 192.168.1.10 and dns 8.8.8.8 responded"))
      .when(m === 2, lit("Call +44 20-7946-0958 or (555) 123-4567 today"))
      .when(m === 3, lit("Write a@b.co from 10.0.0.1 or dial 555-987-6543 now"))
      .otherwise(lit("No identifiers in this sentence at all"))
  }

  /** Deterministic mojibake-bearing sentences (6 variants by doc_id % 6;
    * unicode-escaped — each literal is the cp1252 rendering of the
    * target's UTF-8 bytes, with cp1252-undefined bytes as raw C1 chars).
    * Variants 4 and 5 are the no-touch controls (pure ASCII; genuine
    * Latin-1). */
  private def mojiText: Column = {
    val m = col("doc_id") % 6
    when(m === 0, lit("Menu: Caf\u00c3\u00a9 du jour d\u00c3\u00a9j\u00c3\u00a0 vu"))
      .when(m === 1, lit("\u00c3\u00bcber na\u00c3\u00afve fa\u00c3\u00a7ade"))
      .when(m === 2, lit("it\u00e2\u20ac\u2122s \u00e2\u20ac\u0153quoted\u00e2\u20ac\u009d fine"))
      .when(m === 3, lit("a \u00e2\u20ac\u201c b \u00e2\u20ac\u00a6 end"))
      .when(m === 4, lit("plain ascii stays as is"))
      .otherwise(lit("already caf\u00e9 correct"))
  }

  /** Deterministic html payload with three absolute links (one per href
    * quote style, mixed tag case) and one relative ref the extractor
    * must skip — the q_outlinks / q_link_graph fixture. */
  private def linkedHtml: Column = concat(
    lit("<html><body><a href=\"https://site"), col("doc_id") % 7,
    lit(".example.org/p/"), col("doc_id"),
    lit("\">a</a> <a href='http://m"), col("doc_id") % 3,
    lit(".example.net/q?id="), col("doc_id"),
    lit("'>b</a> <A HREF=https://cdn.example.com/r/"), col("doc_id"),
    lit(">c</A> <a href=\"/rel/"), col("doc_id"), lit("\">d</a></body></html>"))

  private def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
  /** Dup-bearing embedding variant (the harness embeddings have no
    * near-duplicates): every 50th vector re-keyed +100000 verbatim and
    * every 70th re-keyed +200000 scaled ×1.5 (cosine-invariant) —
    * expressible identically in DuckDB SQL. Fresh read per call so each
    * consumer derivation owns its file-source plan. */
  private def embWithDups(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).select("vec_id", "embedding")
    val exact = e.where(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val scaled = e.where(col("vec_id") % 70 === 0)
      .select((col("vec_id") + 200000).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.5f)).as("embedding"))
    e.unionByName(exact).unionByName(scaled)
  }
  private def pages(s: SparkSession, dir: String): DataFrame =
    DedupStages.pagesFromDocuments(docs(s, dir))

  /** One pipeline run per (session, sfDir), cached — several queries
    * expose different stages of the same run. Keyed WEAKLY on the session
    * object itself (not an identity hash, which a later session could
    * collide with): when a session is GC'd its entry — and the blocks its
    * cached DataFrames pinned, which die with the session — goes with it. */
  private val pipelineCache =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, DedupPipeline.Result]]()
  private def pipe(s: SparkSession, dir: String): DedupPipeline.Result = {
    val per = pipelineCache.synchronized {
      var m = pipelineCache.get(s)
      if (m == null) {
        m = new scala.collection.concurrent.TrieMap[String, DedupPipeline.Result]()
        pipelineCache.put(s, m)
      }
      m
    }
    per.getOrElseUpdate(dir, {
      val r = DedupPipeline.run(s, pages(s, dir), cfg)
      DedupPipeline.Result(
        r.signatures.cache(), r.probes, r.candidatePairs.cache(),
        r.droppedBuckets.cache(), r.verifiedPairs.cache(), r.clusters.cache(),
        r.merged.cache())
    })
  }

  /** Flagship: the full dedup pipeline end-to-end on sf0.001 — returns
    * per-stage row counts (always non-empty; exercises every stage). */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val r = pipe(spark, "/root/testdata/sf0.001")
    Seq(
      ("signatures", r.signatures.count()),
      ("candidate_pairs", r.candidatePairs.count()),
      ("verified_pairs", r.verifiedPairs.count()),
      ("clusters", r.clusters.count()),
      ("merged_clusters", r.merged.count()),
      ("dropped_buckets", r.droppedBuckets.count())
    ).toDF("stage", "rows")
  }

  // ---------------------------------------------------------------------
  // shared SQL fragments for the oracles
  private val urlSql = "'https://' || source || '.example.com/doc/' || doc_id"
  /** DuckDB equivalent of graft.text.Normalize.normalize for ASCII input
    * (the harness corpus is ASCII; the full Latin-1 contract is covered by
    * byte-level unit tests, not the oracle). */
  private val normSql = "lower(regexp_replace(%s, '[^0-9A-Za-z\\[\\]\\^_`]', '', 'g'))"
  /** Shingle sets + pairwise exact Jaccard (the oracle for the LSH +
    * verify channels): 3-token shingles joined with a separator byte. */
  private val shingleCte =
    s"""d AS (SELECT $urlSql AS url, source, lang, text, string_split(text, ' ') AS w FROM documents),
       |sh AS (SELECT url, source, lang, text,
       |  CASE WHEN len(w) < 3 THEN [array_to_string(w, chr(31))]
       |       ELSE list_distinct([w[i] || chr(31) || w[i+1] || chr(31) || w[i+2] for i in range(1, len(w) - 1)])
       |  END AS s FROM d),
       |jp AS (SELECT a.url AS url_a, b.url AS url_b,
       |  len(list_intersect(a.s, b.s)) AS i,
       |  len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS u,
       |  least(len(a.s), len(b.s)) AS mn,
       |  a.lang = b.lang AS same_lang, a.source <> b.source AS cross_src
       |  FROM sh a JOIN sh b ON a.url < b.url)""".stripMargin

  // ---------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ------------------------- sources / projection (SURVEY §2.1, §2.2)
    "q_pages" -> ((s, dir) =>
      pages(s, dir).select(
        col("url"),
        date_format(col("warc_ts"), "yyyy-MM-dd HH:mm:ss").as("warc_ts_str"),
        col("text"), col("lang"), col("source"))),

    "q_normalize" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), normalizeText(col("text")).as("norm_text"))),

    "q_title_key" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), titleKey(col("text")).as("title_key"))),

    "q_content_hash" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), md5(col("text")).as("content_hash"))),

    // Deterministic 90/10 train/val holdout: same hash-threshold
    // machinery as the mix (salt "#split" decorrelates it from any
    // sampling decision on the same ids); every doc lands in exactly
    // one split, reproducibly across cluster sizes and reruns
    "q_holdout_split" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        when(graft.ops.MixingOps.hashKeep(col("doc_id"), 0.9, "#split"), lit("train"))
          .otherwise(lit("val")).as("split"))),

    // GPT-style sequence packing: concat-and-split at a 256-token budget
    // within 8 independent bucket streams (per-bucket window cumsum — the
    // scale shape; a global order would be a total sort)
    "q_pack_sequences" -> ((s, dir) =>
      graft.ops.PackingOps.packSequences(
        docs(s, dir).select(col("doc_id"), col("text")), 256, 8)),

    // Deterministic training-mix materialization: per-language weights,
    // incl. upsampling (en 1.6 -> copy 2 for a hash-chosen 60%), exact
    // integer replication (fr 2.0), downsampling (de 0.5, default 0.25)
    "q_mix_sample" -> ((s, dir) =>
      graft.ops.MixingOps.weightedMix(
        docs(s, dir).select(col("doc_id"), col("lang")),
        "lang", Map("en" -> 1.6, "de" -> 0.5, "fr" -> 2.0), defaultWeight = 0.25)
        .select(col("doc_id"), col("lang"), col("copy"))),

    // Bloom-pruned incremental dedup: seen = content hashes of the %3==0
    // docs, incoming = the whole corpus; result is the exact "not seen
    // before" set (the sketch only prunes the anti-join's input)
    "q_bloom_new_docs" -> ((s, dir) => {
      val seen = docs(s, dir).where(col("doc_id") % 3 === 0)
        .select(md5(col("text")).as("content_hash"))
      val incoming = docs(s, dir)
        .select(col("doc_id"), md5(col("text")).as("content_hash"))
      graft.ops.BloomDedup.pruneNew(incoming, seen, "content_hash")
        .select("doc_id", "content_hash")
    }),

    "q_media_meta" -> ((s, dir) =>
      Multimodal.mediaMeta(pages(s, dir))
        .select(col("url"), col("byte_length"), col("magic_hex"))),

    "q_id_sort_key" -> ((s, dir) =>
      pages(s, dir).select(col("url"),
        regexp_extract(col("url"), "(\\d+)$", 1).as("sort_key"))),

    "q_isbn13" -> ((s, dir) => {
      val isbn10 = lpad(col("doc_id").cast("string"), 9, "0")
      def d(i: Int) = substring(isbn10, i + 1, 1).cast("int")
      val sum = lit(38) + lit(3) * (d(0) + d(2) + d(4) + d(6) + d(8)) + d(1) + d(3) + d(5) + d(7)
      val check = (lit(10) - (sum % 10)) % 10
      docs(s, dir).select(col("doc_id"),
        concat(lit("978"), isbn10, check.cast("string")).as("isbn13"))
    }),

    // (array outputs are canonicalized to sorted joined strings across all
    // queries: the driver's pandas row-sort cannot order ndarray cells)
    "q_hier_facet" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        array_join(array(concat(lit("0/"), col("source"), lit("/")),
          concat(lit("1/"), col("source"), lit("/"), col("lang"), lit("/"))), "|")
          .as("facets"))),

    // ----------------------------- filters / incremental (SURVEY §2.3, §2.9)
    "q_watermark" -> ((s, dir) =>
      pages(s, dir)
        .where(col("warc_ts") >= lit("2024-01-11 00:00:00").cast("timestamp"))
        .groupBy("source").agg(count(lit(1)).as("n"))),

    "q_snapshot_diff" -> ((s, dir) => {
      val old = docs(s, dir).select(col("doc_id"), md5(col("text")).as("h"))
      val nw = docs(s, dir).where(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 10 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))).as("h"))
      old.as("o").join(nw.as("n"), old("doc_id") === nw("doc_id"), "full_outer")
        .select(
          coalesce(old("doc_id"), nw("doc_id")).as("doc_id"),
          when(nw("doc_id").isNull, "deleted")
            .when(old("h") =!= nw("h"), "changed")
            .otherwise("unchanged").as("status"))
    }),

    "q_mark_sweep" -> ((s, dir) => {
      val seen = docs(s, dir).where(col("doc_id") % 7 =!= 0).select("doc_id")
      docs(s, dir).join(seen, Seq("doc_id"), "left_anti").select("doc_id", "source")
    }),

    "q_events_page" -> ((s, dir) =>
      events(s, dir).orderBy(col("ts"), col("event_id"))
        .select(col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("event_type"))
        .offset(100).limit(50)),

    // ----------------------------------- aggregation / sort (SURVEY §2.5, §2.6)
    "q_vocab" -> ((s, dir) =>
      TextStats.vocabCounts(docs(s, dir)).select(col("token"), col("n"))),

    "q_lang_counts" -> ((s, dir) =>
      docs(s, dir).groupBy("lang").agg(count(lit(1)).as("n"))),

    "q_source_lang" -> ((s, dir) =>
      docs(s, dir).groupBy("source", "lang").agg(count(lit(1)).as("n"))),

    "q_longest_per_source" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy(length(col("text")).desc, col("doc_id"))
      docs(s, dir).withColumn("rn", row_number().over(w))
        .where(col("rn") === 1).select("source", "doc_id")
    }),

    "q_quality" -> ((s, dir) =>
      TextStats.qualityFeatures(docs(s, dir)).select(
        col("doc_id"),
        col("char_count").cast("long").as("char_count"),
        col("word_count").cast("long").as("word_count"),
        col("distinct_words").cast("long").as("distinct_words"),
        col("stopword_count").cast("long").as("stopword_count"),
        col("distinct_permille"))),

    // token counting, whitespace + BPE-ish regex pre-tokenizer (LLM
    // token-count proxy; TextStats.bpeTokenPattern is RE2-compatible so
    // the DuckDB oracle runs the identical pattern)
    // the synthetic corpus is plain lowercase words (ws==bpe would be
    // vacuous), so a deterministic suffix with digits/punct/contraction
    // is appended to force the two tokenizations apart
    "q_token_counts" -> ((s, dir) => {
      val t = concat(col("text"), lit(" doc-"), col("doc_id").cast("string"),
        lit("'s #"), col("lang"))
      docs(s, dir).select(
        col("doc_id"),
        TextStats.tokenCount(t).cast("long").as("ws_tokens"),
        TextStats.bpeTokenCount(t).cast("long").as("bpe_tokens"))
    }),

    // corpus-frequency rare-token stats: the base corpus is a tiny
    // repeated vocabulary (q_vocab: ~31 types, no hapax), so 1-in-7 docs
    // get a deterministic unique token appended to make the rare tier
    // non-vacuous
    "q_rare_tokens" -> ((s, dir) => {
      val t = when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" zq"), col("doc_id").cast("string")))
        .otherwise(col("text"))
      TextStats.rareTokenStats(docs(s, dir).select(col("doc_id"), t.as("text")))
    }),

    // ---- quantized unigram-LM surprisal (CCNet perplexity tier,
    // integer-exact via bit-length log2 buckets — TextStats scaladoc).
    // Docs with zero tokens are out of the LM's domain and drop out.
    "q_unigram_surprisal" -> ((s, dir) =>
      TextStats.unigramSurprisal(docs(s, dir).select(col("doc_id"), col("text")))),

    // ---- sub-document dedup / repetition (LLM web-pipeline operators):
    // paragraph-granularity cross-corpus dedup (CCNet-style) and
    // within-doc repetition quality signals (Gopher-style). The corpus
    // is single-line, so docs are deterministically re-chunked into
    // 15-token paragraphs / 5-token lines (plus doc_id%4 synthetic
    // boilerplate lines) to make the operators non-vacuous; the planted
    // exact clones (docsWithDups) make cross-doc paragraph dups certain.
    "q_para_dup_stats" -> ((s, dir) =>
      ParagraphOps.paragraphDupStats(
          docsWithDups(s, dir).withColumn("text", chunkedText(15, "\n\n")))
        .select(col("doc_id"), col("n_pars").cast("long").as("n_pars"),
          col("n_dup_pars").cast("long").as("n_dup_pars"))),

    "q_para_dedup" -> ((s, dir) =>
      ParagraphOps.dedupParagraphs(
          docsWithDups(s, dir).withColumn("text", chunkedText(15, "\n\n")))
        .select(col("doc_id"), col("cleaned"))),

    "q_boilerplate_pars" -> ((s, dir) =>
      ParagraphOps.boilerplate(
          docsWithDups(s, dir).withColumn("text", chunkedText(15, "\n\n")))
        .select(col("ph"), col("n_occ").cast("long").as("n_occ"))),

    "q_line_repetition" -> ((s, dir) => {
      val boiler = array_join(
        array_repeat(lit("all rights reserved"), (col("doc_id") % 4).cast("int")), "\n")
      ParagraphOps.lineRepetitionStats(
          docs(s, dir).withColumn("text",
            concat_ws("\n", chunkedText(5, "\n"), boiler)))
        .where(col("n_lines") > 0)
    }),

    // ---- URL canonicalization + URL-level dedup (the cheap pre-pass
    // every web pipeline runs before content dedup). Inputs are
    // deterministically-messy synthetic URLs (see messyUrl/cloneUrl);
    // the oracles hand-specify the EXPECTED canonical form per variant,
    // independent of the implementation.
    "q_url_canonical" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), messyUrl.as("url"))
        .select(col("doc_id"), col("url"),
          graft.ops.UrlOps.canonicalize(col("url")).as("canon"))),

    "q_url_dedup" -> ((s, dir) =>
      graft.ops.UrlOps.urlDedup(docs(s, dir).select(col("doc_id"), cloneUrl.as("url")))
        .select(col("canon"), col("kept_doc_id"),
          col("n_docs").cast("long").as("n_docs"))),

    "q_domain_counts" -> ((s, dir) =>
      graft.ops.UrlOps.domainCounts(docs(s, dir).select(col("doc_id"), messyUrl.as("url")))
        .select(col("host"), col("n_docs").cast("long").as("n_docs"))),

    // Per-domain sampling cap (keep ≤3 docs per host, ascending doc_id)
    // over the same messy-URL decoration; the oracle replays the cap as
    // a row_number window.
    "q_domain_cap" -> ((s, dir) =>
      graft.ops.UrlOps.domainCap(
          docs(s, dir).select(col("doc_id"), messyUrl.as("url")), 3)
        .select(col("doc_id"), graft.ops.UrlOps.host(col("url")).as("host"))),

    // Gopher n-gram repetition stats over deterministically decorated
    // text: %3==0 docs get a 6-token phrase repeated 3×, %3==1 docs a
    // heavy "x y" 2-gram run, rest plain; the oracle recomputes via
    // unnest + group-by (a structurally different formulation than the
    // sorted-array fold).
    "q_ngram_repetition" -> ((s, dir) => {
      val deco = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit(" the cat sat on the mat the cat sat on the mat the cat sat on the mat"))
        .when(col("doc_id") % 3 === 1, lit(" x y x y x y x y"))
        .otherwise(lit("")))
      TextStats.ngramRepetition(docs(s, dir).withColumn("text", deco))
    }),

    // ---- Gopher-style composite quality gate (MassiveText rules) over
    // deterministically decorated multi-line docs: %17 pure-bullet short
    // docs, %13 ellipsis-line docs, %11 symbol-flooded docs, rest plain
    // 7-token-per-line re-chunks; the oracle replays the same integer
    // cross-multiplication rules in DuckDB.
    "q_quality_gate" -> ((s, dir) => {
      val deco = when(col("doc_id") % 17 === 0,
          lit("- alpha beta\n- gamma delta\n- epsilon zeta\n- eta theta\n- iota kappa"))
        .when(col("doc_id") % 13 === 1,
          lit("we have the words to be sure...\nand that is of course more...\nwith more to come..."))
        // strip chunkedText's trailing separator so the flood attaches to
        // the LAST line on both sides (the oracle's string_agg
        // reconstruction never has a trailing newline)
        .when(col("doc_id") % 11 === 2, concat(
          regexp_replace(chunkedText(7, "\n"), "[ \n]+$", ""),
          lit(" # # # # # # # # # # # # # # # # # # # # # # # # # # # # # # # # # # # # # # # #")))
        .otherwise(chunkedText(7, "\n"))
      TextStats.qualityGate(docs(s, dir).withColumn("text", deco))
    }),

    // ---- C4-style line filter (Raffel et al. 2020 §2.2) over
    // deterministically decorated multi-line docs: every rule gets a
    // covering variant (short line, no-terminal line, %5 javascript
    // line, %7 lorem-ipsum page, %11 brace page, %13 too-few-kept page);
    // the oracle replays the same line rules in DuckDB.
    "q_c4_lines" -> ((s, dir) => {
      val firstSix = concat(array_join(
        slice(filter(split(col("text"), " "), w => w =!= lit("")), 1, 6), " "), lit("."))
      val deco = when(col("doc_id") % 13 === 4,
          lit("One short line.\nAnd nothing else here"))
        .otherwise(concat_ws("\n",
          firstSix,
          lit("tiny line."),
          lit("this line has no terminal punctuation mark"),
          when(col("doc_id") % 5 === 0, lit("Please enable javascript to continue viewing."))
            .otherwise(lit("A perfectly ordinary sentence with six words.")),
          when(col("doc_id") % 7 === 3, lit("Lorem ipsum dolor sit amet consectetur adipiscing."))
            .otherwise(lit("Closing remarks end the document properly.")),
          when(col("doc_id") % 11 === 5, lit("var config = { key: value };"))
            .otherwise(lit("Reliable content continues in this line."))))
      graft.ops.C4Filter.c4LineFilter(docs(s, dir).withColumn("text", deco))
    }),

    // ---- CCNet-style per-language equal-depth quality buckets (Wenzek
    // et al. 2020): NTILE over a total deterministic order; the DuckDB
    // oracle replays score and window verbatim.
    "q_quality_buckets" -> ((s, dir) =>
      TextStats.qualityBuckets(docs(s, dir), buckets = 3)),

    // ---- deterministic global shuffle + training-shard assignment:
    // md5-hash total order, shard from the first 16 hash bits — the
    // oracle rebuilds shard and position from the same digest.
    "q_train_shards" -> ((s, dir) =>
      graft.ops.MixingOps.shardAssign(docs(s, dir), nShards = 10)),

    // ---- PII detection + redaction (Dolma/FineWeb-style regex tier)
    // over deterministic PII-bearing sentences (see piiText); the
    // oracles hand-specify counts and redacted text per variant.
    "q_pii_stats" -> ((s, dir) =>
      graft.ops.PiiOps.piiStats(docs(s, dir).select(col("doc_id"), piiText.as("text")))),

    "q_pii_redact" -> ((s, dir) =>
      graft.ops.PiiOps.redactDocs(docs(s, dir).select(col("doc_id"), piiText.as("text")))),

    // ---- eval-set decontamination (GPT-3-style n-gram collision): the
    // "eval set" is synthesized deterministically from the same corpus —
    // 400-char mid-document snippets of every doc_id % 8 == 3 — so those
    // docs (and any doc sharing ≥1 8-gram with a snippet) must flag.
    // Two independent docs() reads: see Decontaminate.overlap's
    // self-join caveat.
    "q_decontaminate" -> ((s, dir) => {
      val evalTexts = docs(s, dir).where(col("doc_id") % 8 === 3)
        .select(substring(col("text"), 101, 400).as("text"))
      graft.ops.Decontaminate.overlap(docs(s, dir), evalTexts, n = 8, minHits = 1)
    }),

    // ---- sketch-tier corpus summary: exact counts oracle-check
    // row-for-row; the HLL++ estimate rides as a tolerance-contract bit
    // (like q_knn_ivf's recall floor) so sketch-path regressions are
    // visible in the artifact.
    "q_corpus_stats" -> ((s, dir) =>
      graft.ops.CorpusStats.summary(docs(s, dir))),

    // ---- WET-style text extraction from the html:binary payload
    // (input_hint fidelity: real ingest derives `text` from `html`).
    // Deterministic markup variants wrap the known text so the oracle
    // can state the expected extraction as a text expression, fully
    // independent of the regex mechanics.
    "q_html_extract" -> ((s, dir) => {
      val t = col("text")
      val m = col("doc_id") % 4
      val html = when(m === 0, concat(lit("<html><body><p>"), t, lit("</p></body></html>")))
        .when(m === 1, concat(
          lit("<html><head><script type=\"text/javascript\">var x = 1 &lt; 2;</script></head><body>"),
          t, lit(" A &amp; B</body></html>")))
        .when(m === 2, concat(lit("<html><body><div class=\"c\">"), t,
          lit("</div><style>p { color: red }</style></body></html>")))
        .otherwise(concat(lit("<HTML><BODY>"), t, lit("&nbsp;end&#39;s</BODY></HTML>")))
      docs(s, dir).select(col("doc_id"),
        graft.ops.HtmlOps.extractText(html.cast("binary")).as("extracted"))
    }),

    // ---- mojibake repair (ftfy-core as translate + shape gate +
    // encode/decode roundtrip, pure builtins) over deterministic
    // double-encoded sentences (see mojiText); the oracle hand-specifies
    // the repaired text per variant.
    "q_mojibake" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        graft.ops.EncodingRepair.fixMojibake(mojiText).as("fixed"),
        graft.ops.EncodingRepair.isMojibake(mojiText).as("was_mojibake"))),

    // ---- outlink extraction / link graph (HtmlOps.outlinks). The html
    // payload wraps deterministic links in all three href quote styles
    // plus a relative ref the extractor must skip, so the oracle states
    // the expected link set arithmetically — independent of the regex
    // mechanics being tested.
    "q_outlinks" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        explode(graft.ops.HtmlOps.outlinks(linkedHtml.cast("binary"))).as("outlink"))),

    // host-level link graph over the extracted outlinks: src host is the
    // synthesized crawl host (source.example.com, as pagesFromDocuments),
    // dst host parsed from each link by UrlOps.host
    "q_link_graph" -> ((s, dir) =>
      docs(s, dir)
        .select(concat(col("source"), lit(".example.com")).as("src_host"),
          explode(graft.ops.HtmlOps.outlinks(linkedHtml.cast("binary"))).as("outlink"))
        .groupBy(col("src_host"), graft.ops.UrlOps.host(col("outlink")).as("dst_host"))
        .agg(count(lit(1)).as("n_links"))),

    // ---- domain blocklist filter (UrlOps.blockHosts): exact-host AND
    // parent-domain entries over deterministic synthetic urls
    "q_blocklist" -> ((s, dir) => {
      import s.implicits._
      val url = concat(lit("https://h"), col("doc_id") % 10, lit(".d"),
        col("doc_id") % 4, lit(".example.org/doc/"), col("doc_id"))
      val bl = Seq("h3.d1.example.org", "d2.example.org").toDF("host")
      graft.ops.UrlOps.blockHosts(docs(s, dir).withColumn("url", url), bl)
        .select("doc_id")
    }),

    // ---- distributed BPE (BpeOps): the oracle-checked core is the
    // symbol-pair count table (marker-free form so the DuckDB mirror is
    // pure substr arithmetic); the top-100 cutoff is a total order
    // (cnt desc, left, right) so ties cannot flake the row set.
    "q_bpe_pairs" -> ((s, dir) => {
      import graft.ops.BpeOps
      BpeOps.pairCounts(BpeOps.wordFreqs(docs(s, dir))
          .select(BpeOps.toSymbols(col("word"), endMark = false).as("syms"), col("freq")))
        .orderBy(col("cnt").desc, col("left"), col("right"))
        .limit(100)
    }),

    // learned top-8 merges (iterative argmax — not SQL-expressible, so
    // rows-only here; BpeOpsSpec pins the full semantics against an
    // independent single-node reference implementation)
    "q_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      graft.ops.BpeOps.learnMerges(docs(s, dir), k = 8)
        .zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("rank", "left", "right")
    }),

    // ---- exact substring-duplicate spans at threshold k=20 tokens
    // (ExactSubstr — the dense equivalent of the reference suffix-array
    // pass; Lee et al. ACL'22). Runs over the dup-bearing corpus so the
    // planted exact copies yield guaranteed full-document spans on top
    // of whatever natural shared runs exist; the oracle replays the
    // identical gram→count→cover→interval-merge pipeline on the gram
    // STRINGS (the op hashes them — collisions can only differ at
    // ~n²/2⁶⁴, not at harness scale).
    "q_substr_spans" -> ((s, dir) =>
      graft.ops.ExactSubstr.duplicatedSpans(docsWithDups(s, dir), k = 20)
        .select(col("doc_id"), col("start_tok").cast("long").as("start_tok"),
          col("end_tok").cast("long").as("end_tok"))),

    // covered tokens removed (all occurrences), survivors rejoined
    "q_substr_dedup" -> ((s, dir) =>
      graft.ops.ExactSubstr.removeDuplicatedSpans(docsWithDups(s, dir), k = 20)),

    // -------------------------------------- dedup channels (SURVEY §2.4, §7.0)
    "q_exact_dup_pairs" -> ((s, dir) => {
      val p = DedupStages.pagesFromDocuments(docsWithDups(s, dir))
        .select(col("url"), md5(col("text")).as("h"))
      val a = p.select(col("url").as("url_a"), col("h"))
      val b = p.select(col("url").as("url_b"), col("h"))
      a.join(b, "h").where(col("url_a") < col("url_b")).select("url_a", "url_b")
    }),

    "q_exact_clusters" -> ((s, dir) => {
      val p = DedupStages.pagesFromDocuments(docsWithDups(s, dir))
        .select(col("url"), md5(col("text")).as("h"))
      val g = p.groupBy("h").agg(min("url").as("cluster_id"), count(lit(1)).as("c"))
        .where(col("c") > 1).drop("c")
      p.join(g, "h").select("url", "cluster_id")
    }),

    "q_signatures" -> ((s, dir) =>
      DedupStages.signatures(pages(s, dir), cfg).select(
        col("url"), col("content_hash"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_shingles").cast("long").as("n_shingles"),
        col("simhash"))),

    "q_minhash_sig" -> ((s, dir) =>
      // full-array signature view (the pipeline itself stores lean rows
      // and fuses the arrays into probe generation); string-joined for the
      // driver's row-sort
      DedupStages.signatures(pages(s, dir), cfg).select(col("url"),
        array_join(transform(col("minhash"), _.cast("string")), ",").as("minhash"))),

    "q_lsh_bands" -> ((s, dir) => {
      val sigs = DedupStages.signatures(pages(s, dir), cfg).cache()
      DedupStages.lshBands(sigs, cfg)
        .join(sigs.select(col("doc_id"), col("url")), "doc_id")
        .select(col("url"), col("band_id").cast("long").as("band_id"), col("band_hash"))
    }),

    "q_candidate_pairs" -> ((s, dir) => {
      val sigs = pipe(s, dir).signatures
      pipe(s, dir).candidatePairs
        .join(sigs.select(col("doc_id").as("id_a"), col("url").as("ua")), "id_a")
        .join(sigs.select(col("doc_id").as("id_b"), col("url").as("ub")), "id_b")
        .select(least(col("ua"), col("ub")).as("url_a"),
          greatest(col("ua"), col("ub")).as("url_b"),
          array_join(col("channels"), ",").as("channels"))
    }),

    // skew-guard log, NON-VACUOUS: 20 extra identical copies of doc 0
    // push every one of its LSH band / simhash chunk / anchor buckets over
    // a tightened cap, so the driver sees real dropped rows from the
    // actual probe pipeline (reference analog of the too-many-candidates
    // log, classes/RecordManager.php:1402-1410). Bucket keys are xxhash64
    // packings, so this is a rows-only check; the fully-SQL-oracled
    // variant is q_dropped_log below.
    "q_dropped_buckets" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text", "lang", "source")
      val hot = d.where(col("doc_id") === 0)
        .withColumn("k", explode(sequence(lit(1), lit(20))))
        .select((col("k") * 1000 + 500000).as("doc_id"),
          col("text"), col("lang"), col("source"))
      val pw = DedupStages.withIds(
        DedupStages.pagesFromDocuments(d.unionByName(hot)))
      val capped = cfg.copy(bucketCap = 8)
      val (_, dropped) = DedupStages.candidatesFromProbes(
        DedupStages.probeRows(pw, capped),
        DedupStages.leanSignatures(pw, capped), capped)
      dropped.select("channel", "bucket_key", "bucket_n")
    }),

    // dropped-bucket log with a FULL DuckDB oracle: the same
    // candidatesFromProbes skew guard, fed a probe table whose bucket key
    // (first letter of source) both engines can compute — the count
    // classification + dropped filter exercised end-to-end is the real
    // operator, only the key family is oracle-friendly
    "q_dropped_log" -> ((s, dir) => {
      val probes = docs(s, dir).select(
        lit("grp").as("channel"),
        ascii(substring(col("source"), 1, 1)).cast("long").as("bucket_key"),
        col("doc_id"), lit(0L).as("tag"))
      val (_, dropped) = DedupStages.candidatesFromProbes(
        probes, docs(s, dir), cfg.copy(bucketCap = 40, exactChannel = false))
      dropped.select(col("channel"), col("bucket_key"), col("bucket_n"))
    }),

    // per-stage lineage/metrics (north rule; reference analog
    // classes/PerformanceCounter.php:40-97): a checkpointed run commits a
    // stage_metrics table; the deterministic (stage, rows) totals are the
    // queryable surface (wall_ms/partition rows live in the table)
    "q_stage_metrics" -> ((s, dir) => {
      // ONE stable root per sfDir (not a fresh temp dir per invocation —
      // that leaked a full corpus copy per Verify run), keyed on the FULL
      // escaped path (a 32-bit hashCode can collide two sfDirs onto one
      // root); the checkpoint layer's config/fingerprint manifest guard
      // then handles overwrite/reuse under it
      val dirKey = java.nio.file.Paths.get(dir).toAbsolutePath.toString
        .replaceAll("[^A-Za-z0-9._-]", "_")
      val root = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft-metrics-q-$dirKey").toString
      DedupPipeline.run(s, pages(s, dir), cfg, Some(root))
      graft.io.TableIO.read(s, root, "stage_metrics")
        .where(col("partition_id") === -1)
        .select(col("stage"), col("rows"))
    }),

    "q_simhash_pairs" -> ((s, dir) => {
      val sigs = DedupStages.signatures(pages(s, dir), cfg).cache()
      val (pairs, _) = DedupStages.candidatesFromProbes(
        DedupStages.probeTable(sigs, cfg).where(col("channel") === "simhash"),
        sigs, cfg.copy(exactChannel = false))
      pairs
        .join(sigs.select(col("doc_id").as("id_a"), col("url").as("ua")), "id_a")
        .join(sigs.select(col("doc_id").as("id_b"), col("url").as("ub")), "id_b")
        .select(least(col("ua"), col("ub")).as("url_a"),
          greatest(col("ua"), col("ub")).as("url_b"))
    }),

    "q_near_dup_pairs" -> ((s, dir) =>
      pipe(s, dir).verifiedPairs.select(
        col("url_a"), col("url_b"),
        floor(col("jaccard") * 1000).cast("long").as("jac_permille"))),

    "q_clusters" -> ((s, dir) =>
      pipe(s, dir).clusters.select("url", "cluster_id")),

    // canonical-survivor keep policy: one doc per dup cluster survives
    // (max lexical-diversity score, min url among ties); unclustered docs
    // survive as their own singleton cluster. The oracle replays the full
    // recursive-CTE clustering + the same argmax in DuckDB.
    "q_keep_policy" -> ((s, dir) =>
      graft.ops.KeepPolicy.survivors(
        pages(s, dir), pipe(s, dir).clusters.select("url", "cluster_id"),
        graft.ops.KeepPolicy.diversityScore(col("text")))),

    // incremental == cold-run equivalence, ORACLE-CHECKED: dedup 2/3 of
    // the snapshot, then fold the remaining third in through the
    // incremental pass (stored probe index, dirty-only rescan) — the
    // resulting clusters must equal DuckDB's exact connected components
    // over the FULL snapshot (same oracle as q_clusters)
    "q_incremental_clusters" -> ((s, dir) => {
      import graft.pipeline.IncrementalDedup
      val pgs = pages(s, dir)
      val v1 = pgs.where(
        regexp_extract(col("url"), "(\\d+)$", 1).cast("long") % 3 =!= 0)
      val full1 = DedupPipeline.run(s, v1, cfg)
      val prev = IncrementalDedup.PrevState(
        full1.signatures, full1.probes, full1.verifiedPairs)
      IncrementalDedup.run(s, prev, pgs, cfg).clusters
        .select("url", "cluster_id")
    }),

    // STREAMING == cold-run equivalence, ORACLE-CHECKED: the snapshot
    // arrives as two micro-batch upserts folded into bucket-partitioned
    // delta-log state (graft.streaming.StreamingDedup.processBatch — the
    // §2.9 late-data re-entry surface); the resulting clusters must equal
    // DuckDB's exact connected components over the full snapshot (same
    // oracle as q_clusters). Upsert-overwrite and compaction semantics are
    // covered by StreamingDedupSpec; here the batches partition the
    // snapshot so the cold oracle applies verbatim.
    "q_streaming_clusters" -> ((s, dir) => {
      import graft.streaming.StreamingDedup
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft-stream-q").toString
      val pgs = pages(s, dir)
      val id = regexp_extract(col("url"), "(\\d+)$", 1).cast("long")
      StreamingDedup.processBatch(s, pgs.where(id % 2 === 0), stateDir, cfg,
        batchId = 0L)
      val out = StreamingDedup.processBatch(s, pgs.where(id % 2 =!= 0),
          stateDir, cfg, batchId = 1L)
        .clusters.select("url", "cluster_id")
      // materialize the result OUTSIDE the state dir so that dir can be
      // deleted before the caller consumes the frame — write-and-reread
      // keeps the driver O(1) (the former `.collect()` held the whole
      // duplicate population on the driver; round-5 verdict item #5)
      val outDir = java.nio.file.Files
        .createTempDirectory("graft-stream-q-out").toString
      out.write.mode("overwrite").parquet(outDir)
      import scala.jdk.CollectionConverters._
      def rmrf(dir: String): Unit = {
        val p = java.nio.file.Paths.get(dir)
        if (java.nio.file.Files.exists(p))
          java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
      }
      rmrf(stateDir)
      Runtime.getRuntime.addShutdownHook(new Thread(() => rmrf(outDir)))
      s.read.parquet(outDir)
    }),

    // reference-gated verification: lang equality (format gate,
    // classes/RecordManager.php:1489-1497) + cross-source only
    // (classes/RecordManager.php:1346)
    "q_near_dup_gated" -> ((s, dir) => {
      val gated = cfg.copy(requireSameLang = true, crossSourceOnly = true)
      val side = pipe(s, dir).signatures.select("doc_id", "url", "source", "lang")
        .join(pages(s, dir).select("url", "text"), Seq("url"))
      DedupStages.verified(pipe(s, dir).candidatePairs, side, gated)
        .select(col("url_a"), col("url_b"),
          floor(col("jaccard") * 1000).cast("long").as("jac_permille"))
    }),

    // reference author decision-list gate surfaced END-TO-END (classes/
    // RecordManager.php:1592-1611; semantics in DedupConfig.authorLevMax):
    // the web-text pages schema has no author column, so one is
    // synthesized deterministically from doc_id — a pool mixing empties
    // (gate skipped when both empty, rejected when exactly one is), an
    // authorMatch prefix pair (accepted without lev), a lev-1 pair
    // (pct ≈ 11 <= 20 accepts) and a far name (rejects)
    "q_author_gated" -> ((s, dir) => {
      val gated = cfg.copy(authorLevMax = Some(20.0))
      val pool = Seq("", "johnsmith", "johnsmyth", "janeqdoe", "johnsmithson")
      val au = docs(s, dir).select(
        concat(lit("https://"), col("source"), lit(".example.com/doc/"),
          col("doc_id")).as("url"),
        element_at(typedLit(pool),
          (pmod(col("doc_id"), lit(5)) + 1).cast("int")).as("author"))
      val side = pipe(s, dir).signatures.select("doc_id", "url", "source", "lang")
        .join(pages(s, dir).select("url", "text"), Seq("url"))
        .join(au, Seq("url"))
      DedupStages.verified(pipe(s, dir).candidatePairs, side, gated)
        .select(col("url_a"), col("url_b"),
          floor(col("jaccard") * 1000).cast("long").as("jac_permille"))
    }),

    "q_merged_clusters" -> ((s, dir) =>
      pipe(s, dir).merged.select(
        col("cluster_id"), col("size"),
        array_join(col("members"), ",").as("members"),
        col("rep_url"), col("first_lang"),
        array_join(col("langs"), ",").as("langs"),
        array_join(col("sources"), ",").as("sources"))),

    // ------------------------- projection/set-op/window extras (SURVEY §2)
    // export sampling: every Nth record in stream order
    // (classes/RecordManager.php:331-333)
    "q_export_sample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      docs(s, dir)
        .withColumn("rn", row_number().over(Window.orderBy(col("doc_id"))))
        .where(col("rn") % 7 === 0).select("doc_id", "source")
    }),

    // value mapping with ##default (classes/SolrUpdater.php:990-1014)
    "q_value_map" -> ((s, dir) => {
      val m = typedLit(Map("en" -> "eng", "de" -> "ger", "fr" -> "fre"))
      docs(s, dir).select(col("doc_id"),
        coalesce(element_at(m, col("lang")), lit("other")).as("lang_mapped"))
    }),

    // allfields synthesis: distinct sorted tokens re-joined
    // (classes/MarcRecord.php:1917-1948; classes/SolrUpdater.php:1078-1091)
    "q_allfields" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        array_join(array_sort(array_distinct(split(col("text"), " "))), " ")
          .as("allfields"))),

    // case-insensitive first-wins unique (MetadataUtils::array_iunique,
    // classes/MetadataUtils.php:288-298)
    "q_iunique" -> ((s, dir) => {
      val arr = array(col("lang"), upper(col("lang")), col("source"), upper(col("source")))
      docs(s, dir).select(col("doc_id"),
        array_join(filter(arr, (x, i) =>
          !exists(slice(arr, lit(1), i), y => lower(y) === lower(x))), ",").as("iunique"))
    }),

    // worklist remainder: keys still to process = union-distinct of seen
    // keys MINUS processed keys (array_except) — the dedup worklist update
    // the reference runs per batch (classes/RecordManager.php:1303-1312,
    // keys pending minus keys handled). Per source: first-token keys seen
    // in the doc_id%7==0 slice that never appear in the rest.
    "q_worklist_diff" -> ((s, dir) => {
      val tok = split(col("text"), " ").getItem(0)
      docs(s, dir).groupBy(col("source"))
        .agg(
          collect_set(when(col("doc_id") % 7 === 0, tok)).as("pending"),
          collect_set(when(col("doc_id") % 7 =!= 0, tok)).as("done"))
        .select(col("source"),
          array_join(array_sort(array_except(col("pending"), col("done"))), ",")
            .as("remaining"))
    }),

    // from/until window + pagination (classes/OaiPmhProvider.php:218-261)
    "q_until_window" -> ((s, dir) =>
      events(s, dir)
        .where(col("ts").cast("timestamp").between(
          lit("2024-01-02 00:00:00").cast("timestamp"),
          lit("2024-06-01 00:00:00").cast("timestamp")))
        .orderBy(col("ts"), col("event_id"))
        .select(col("event_id"), col("event_type"))
        .limit(25)),

    // reference Levenshtein verification (classes/RecordManager.php:
    // 1583-1590: lev over first 255 units / length of the FIRST side *
    // 100, reject >= 10) — run INSIDE the verify stage via the
    // cfg.titleLevMax decision-list gate (DedupStages.verified); the
    // query only re-derives the reported lev_pct on the gated output
    "q_lev_pairs" -> ((s, dir) => {
      val gated = cfg.copy(titleLevMax = Some(10.0))
      val side = pipe(s, dir).signatures
        .select("doc_id", "url", "source", "lang", "content_hash")
        .join(pages(s, dir).select("url", "text"), Seq("url"))
      val ver = DedupStages.verified(pipe(s, dir).candidatePairs, side, gated)
      val nrm = pages(s, dir).select(col("url"),
        normalizeText(col("text")).as("nrm"))
      val lev = levenshtein(
        substring(col("nrm_a"), 1, 255), substring(col("nrm_b"), 1, 255))
      ver
        .join(nrm.select(col("url").as("url_a"), col("nrm").as("nrm_a")), "url_a")
        .join(nrm.select(col("url").as("url_b"), col("nrm").as("nrm_b")), "url_b")
        .withColumn("lev_pct", floor(lev * lit(100.0) / length(col("nrm_a"))))
        .select(col("url_a"), col("url_b"), col("lev_pct").cast("long").as("lev_pct"))
    }),

    // candidate-generation RECALL, oracle-checked as a superset test: the
    // count of exact near-dup pairs (the DuckDB jp filter re-computed in
    // Spark over exact shingle sets — an O(n²) diagnostic, driver-run at
    // sf ≤ 0.01) that the LSH/SimHash/anchor/exact candidate channels
    // FAILED to generate; the oracle states 0. Turns the probabilistic
    // channels' completeness into a green CORRECTNESS row.
    "q_candidate_recall" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.TextColumns
      val sh = pages(s, dir).select(col("url"),
        TextColumns.shingleSet(col("text"), cfg.shingleSize).as("sh"))
      val a = sh.select(col("url").as("url_a"), col("sh").as("sa"))
      val b = sh.select(col("url").as("url_b"), col("sh").as("sb"))
      val inter = size(array_intersect(col("sa"), col("sb"))).cast("double")
      val uni = (size(col("sa")) + size(col("sb"))).cast("double") - inter
      val mn = least(size(col("sa")), size(col("sb"))).cast("double")
      val truePairs = a.join(b, col("url_a") < col("url_b"))
        .where(inter / uni >= cfg.jaccardThreshold ||
          inter / mn >= cfg.containmentThreshold)
        .select("url_a", "url_b")
      val sigs = pipe(s, dir).signatures
      val cand = pipe(s, dir).candidatePairs
        .join(sigs.select(col("doc_id").as("id_a"), col("url").as("ua")), "id_a")
        .join(sigs.select(col("doc_id").as("id_b"), col("url").as("ub")), "id_b")
        .select(least(col("ua"), col("ub")).as("url_a"),
          greatest(col("ua"), col("ub")).as("url_b"))
      val missed = truePairs.join(cand, Seq("url_a", "url_b"), "left_anti").count()
      Seq(missed).toDF("missed")
    }),

    // --------------------------------------------- similarity search (ANN)
    // embedding-cosine near-duplicate channel: multi-band SRP bucket join
    // + exact cosine rerank at the near-dup threshold (the scale path —
    // no cross join; OR-of-bands collisions are the candidate generator).
    // Input is the dup-bearing union (exact copies at +100000, positively
    // scaled copies at +200000 — cos = 1 collides in every band, so the
    // generator's recall on them is exactly 1 and the exact DuckDB
    // all-pairs oracle is matched non-vacuously).
    "q_embedding_dups" -> ((s, dir) =>
      Similarity.cosineDupPairs(embWithDups(s, dir), threshold = 0.95)),

    // ---- SemDeDup (Abbas et al. 2023): within-k-means-cell cosine
    // pairs -> connected components -> keep min vec_id per semantic
    // group. The oracle replays the keep decision from brute-force
    // pairs + a recursive-CTE CC — it matches iff the within-cell
    // candidate generation misses no true pair at this scale, which
    // q_semdedup_recall pins explicitly.
    "q_semdedup" -> ((s, dir) =>
      Similarity.semDedup(embWithDups(s, dir), threshold = 0.95)),

    // recall harness for the cell blocking: brute-force true pairs
    // (test-scale oracle surface, like q_candidate_recall) anti-joined
    // against the within-cell verified pairs. Fresh reads per
    // derivation — sharing one uncached file-source frame across
    // HOF-bearing self-joins corrupts lambda attribute resolution.
    "q_semdedup_recall" -> ((s, dir) => {
      import s.implicits._
      val asD = (c: Column) => transform(c, x => x.cast("double"))
      val e = embWithDups(s, dir)
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      val b = embWithDups(s, dir)
        .select(col("vec_id").as("id_b"), col("embedding").as("eb"))
      val truePairs = a.join(b, col("id_a") < col("id_b"))
        .where(Similarity.cosine(asD(col("ea")), asD(col("eb"))) >= 0.95)
        .select("id_a", "id_b")
      val caught = Similarity.semDedupPairs(embWithDups(s, dir), threshold = 0.95)
      val missed = truePairs.join(caught, Seq("id_a", "id_b"), "left_anti").count()
      Seq((truePairs.count(), missed)).toDF("n_true_pairs", "missed")
    }),

    "q_knn_brute" -> ((s, dir) =>
      Similarity.knnBrute(embeddings(s, dir))),

    "q_knn_lsh" -> ((s, dir) =>
      Similarity.knnLsh(embeddings(s, dir))),

    // LSH-kNN RECALL vs the exact brute-force top-k, oracle-checked: the
    // missed-pair count and overall recall permille (both engines'
    // deterministic tie-break: sim desc, neighbor_id asc). The multi-band
    // SRP generator at the default 64×4 bands recovers the exact top-5 in
    // full on the harness embeddings, so the oracle states 0 / 1000.
    "q_knn_lsh_recall" -> ((s, dir) => {
      import s.implicits._
      val exact = Similarity.knnBrute(embeddings(s, dir))
        .select("query_id", "neighbor_id")
      val lsh = Similarity.knnLsh(embeddings(s, dir))
        .select("query_id", "neighbor_id")
      val total = exact.count()
      val missed = exact.join(lsh, Seq("query_id", "neighbor_id"), "left_anti").count()
      val permille = if (total == 0) 1000L else (total - missed) * 1000L / total
      Seq((missed, permille)).toDF("missed", "recall_permille")
    }),

    // IVF ANN: deterministic sampled-k-means coarse quantizer, nProbe-cell
    // search, exact in-cell rerank — the inverted-file scale path next to
    // the SRP one. The k-means fit can't be mirrored in DuckDB SQL, so the
    // oracle pins the RECALL CONTRACT vs the exact brute-force top-5
    // instead of cell-identical neighbor lists. Floor = 500 permille: the
    // harness embeddings are isotropic-random (exact top-5 sit at cos
    // 0.25–0.49), so IVF recall ≈ probed fraction (4/16) plus the k-means
    // lift — measured 540/660/720 at sf0.001/0.01/0.1. On the clustered
    // workloads IVF exists for, SimilaritySpec holds the 0.9 bar (and
    // separately bounds cell balance).
    // The row asserts the >=500-permille floor by CLAMPING: the Spark
    // side emits least(measured, 500), the oracle the literal 500 — a
    // recall regression below the floor hash-mismatches the row (the
    // previous shape was a constant `true` the oracle couldn't falsify
    // numerically). n_exact is computed from data on BOTH sides. The
    // unclamped measured permille (540/660/720 at sf0.001/0.01/0.1) is
    // banked per-round in BENCH JSON as `ivf_recall_permille`, where
    // within-band regressions stay visible.
    "q_knn_ivf" -> ((s, dir) => {
      import s.implicits._
      val exact = Similarity.knnBrute(embeddings(s, dir))
        .select("query_id", "neighbor_id")
      val ivf = Similarity.knnIvf(embeddings(s, dir))
        .select("query_id", "neighbor_id")
      val total = exact.count()
      val hit = exact.join(ivf, Seq("query_id", "neighbor_id"), "left_semi").count()
      val permille = if (total == 0) 1000L else hit * 1000L / total
      Seq((total, math.min(permille, 500L))).toDF("n_exact", "recall_permille_floor")
    }),

    "q_embedding_dims" -> ((s, dir) =>
      embeddings(s, dir).select(col("vec_id"),
        size(col("embedding")).cast("long").as("dim"), col("label"))),

    // --------------------------------------------------------- text analysis
    "q_lang_id" -> ((s, dir) =>
      TextStats.langId(docs(s, dir))),

    "q_fingerprints" -> ((s, dir) =>
      TextStats.fingerprints(docs(s, dir))),

    // ------------------------------------ reference scalar suite (§2.8)
    // stripLeadingArticle (classes/MetadataUtils.php:266-278): first
    // case-insensitive article prefix stripped, first match wins. The
    // expression chain mirrors Normalize.stripLeadingArticle (unit-tested
    // for parity) — codegen'd whens, no UDF.
    "q_strip_article" -> ((s, dir) => {
      val title = concat(
        when(col("doc_id") % 3 === 0, "The ")
          .when(col("doc_id") % 3 === 1, "an ").otherwise(lit("")), col("text"))
      val t = col("title")
      val stripped = Normalize.defaultArticles.foldRight(t) { (art, els) =>
        when(lower(substring(t, 1, art.length)) === art.toLowerCase,
          t.substr(lit(art.length + 1), length(t))).otherwise(els)
      }
      docs(s, dir).withColumn("title", title)
        .select(col("doc_id"), stripped.as("stripped"))
    }),

    // validateISO8601Date (classes/MetadataUtils.php:323-336): strict
    // shape AND real calendar datetime
    "q_iso_dates" -> ((s, dir) => {
      val ds = when(col("doc_id") % 4 === 0,
          concat(lit("2024-01-"), lpad(((col("doc_id") % 28) + 1).cast("string"), 2, "0"),
            lit("T10:30:00Z")))
        .when(col("doc_id") % 4 === 1, lit("2024-02-30T10:00:00Z"))
        .when(col("doc_id") % 4 === 2, lit("2024/01/15"))
        .otherwise(lit("2023-02-29T00:00:00Z"))
      docs(s, dir).select(col("doc_id"), ds.as("date_str"),
        (ds.rlike("^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}Z$") &&
          try_to_timestamp(ds, lit("yyyy-MM-dd'T'HH:mm:ss'Z'")).isNotNull).as("valid"))
    }),

    // convertDateRange (classes/MetadataUtils.php:345-363): "start,end" →
    // clamped floor-days-since-epoch pair
    "q_date_range" -> ((s, dir) => {
      val r = concat(lit("2024-01-"), lpad(((col("doc_id") % 27) + 1).cast("string"), 2, "0"),
        lit(",2024-03-"), lpad(((col("doc_id") % 30) + 1).cast("string"), 2, "0"))
      val start = datediff(to_date(split(r, ",").getItem(0)), lit("1970-01-01").cast("date"))
      val end = datediff(to_date(split(r, ",").getItem(1)), lit("1970-01-01").cast("date"))
      docs(s, dir).select(col("doc_id"),
        concat(greatest(start, lit(-4371587)).cast("string"), lit(" "),
          least(end, lit(2932896)).cast("string")).as("range_days"))
    }),

    // trimXMLWhitespace (classes/MetadataUtils.php:372-375): whitespace
    // between tags stripped, data whitespace preserved (reference PCRE
    // with backreference — full fidelity unit-tested; the oracle input has
    // no data-edge whitespace so the RE2-expressible form coincides)
    "q_trim_xml" -> ((s, dir) => {
      val xml = concat(lit("<r> <a>"), col("source"), lit("</a>  <b>"),
        col("lang"), lit("</b> </r>"))
      docs(s, dir).select(col("doc_id"),
        regexp_replace(xml, "\\s*(<([^>]*)>[^<]*</\\2>|<[^>]*>)\\s*", "$1").as("trimmed"))
    }),

    // ucFirst (classes/MetadataUtils.php:431-440)
    "q_ucfirst" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        concat(upper(substring(col("source"), 1, 1)),
          col("source").substr(lit(2), length(col("source")))).as("ucfirst"))),

    // stripTrailingPunctuation (classes/MetadataUtils.php:227-246):
    // rtrim the punctuation set, then strip one final '.' unless it
    // terminates a space-preceded initial ("Smith, A.") — mirrored
    // column-for-column from Normalize.stripTrailingPunctuation
    "q_strip_trailing" -> ((s, dir) => {
      val m4 = col("doc_id") % 4
      val suffix = when(m4 === 0, " /:;,").when(m4 === 1, ".")
        .when(m4 === 2, " A.").otherwise(" ([")
      val t = rtrim(concat(col("text"), suffix), " /:;,=([")
      val keepInitial = (length(t) >= 3) &&
        (t.substr(length(t) - lit(2), lit(1)) === " ")
      docs(s, dir).select(col("doc_id"),
        when(t.endsWith(".") && !keepInitial, t.substr(lit(1), length(t) - 1))
          .otherwise(t).as("stripped"))
    }),

    // stripLeadingPunctuation (classes/MetadataUtils.php:256-259)
    "q_strip_leading" -> ((s, dir) => {
      val m4 = col("doc_id") % 4
      val prefix = when(m4 === 0, "#! ").when(m4 === 1, "..?")
        .when(m4 === 2, "'\"(").otherwise(lit(""))
      docs(s, dir).select(col("doc_id"),
        ltrim(concat(prefix, col("text")), " #!?/:;.,=(['\"").as("stripped"))
    }),

    // extractYear (classes/MetadataUtils.php:416-422): first optionally
    // negative 4-digit run; '' when absent (both engines' regexp_extract)
    "q_extract_year" -> ((s, dir) => {
      val m3 = col("doc_id") % 3
      val in = when(m3 === 0,
          concat(lit("year "), (lit(1900) + col("doc_id") % 120).cast("string"), lit(" ed.")))
        .when(m3 === 1,
          concat(lit("circa -"), lpad((col("doc_id") % 9000 + 1000).cast("string"), 4, "0"), lit(" bc")))
        .otherwise(lit("no digits here"))
      docs(s, dir).select(col("doc_id"),
        regexp_extract(in, "(-?\\d{4})", 1).as("yr"))
    }),

    // normalizeUnicode = NFKC (classes/MetadataUtils.php:449-463,
    // conf/recordmanager.ini.sample:43): the JVM contract as a UDF (no
    // Catalyst NFKC builtin); oracle states the expected foldings as
    // literals (ﬁ→fi, fullwidth→ASCII, ①→1, combining é→composed)
    "q_nfkc" -> ((s, dir) => {
      val nf = udf((x: String) => Normalize.normalizeUnicode(x))
      val m4 = col("doc_id") % 4
      val in = concat(
        when(m4 === 0, "\uFB01le").when(m4 === 1, "\uFF21\uFF11")
          .when(m4 === 2, "e\u0301clair \u2460").otherwise(lit("ascii only")),
        lit("-"), col("source"))
      docs(s, dir).select(col("doc_id"), nf(in).as("nfkc"))
    }),

    // formatTimestamp (classes/MetadataUtils.php:402-407): epoch seconds →
    // ISO-8601 Z string, UTC
    "q_format_ts" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        date_format(timestamp_seconds(col("doc_id") * 3671 + 86400),
          "yyyy-MM-dd'T'HH:mm:ss'Z'").as("ts_str"))),

    // authorMatch (classes/MetadataUtils.php:163-194): byte-semantic
    // prefix/wordwise match — the pure JVM contract wrapped as a UDF for
    // the query surface (the function itself is unit-tested byte-level)
    "q_author_match" -> ((s, dir) => {
      val am = udf((a: String, b: String) => Normalize.authorMatch(a, b))
      val a1 = concat(col("source"), lit(" "), col("lang"))
      val m5 = col("doc_id") % 5
      val a2 = when(m5 === 0, a1)
        .when(m5 === 1, concat(col("source"), lit(" "), substring(col("lang"), 1, 1), lit("q")))
        .when(m5 === 2, concat(lit("q"), a1))
        .when(m5 === 3, concat(col("source"), lit(" q"), col("lang")))
        .otherwise(substring(col("lang"), 1, 2))
      docs(s, dir).select(col("doc_id"), am(a1, a2).as("matched"))
    }),

    // ----------------------------- record plumbing operators (§2.2, §2.3)
    // record-splitting transform: 1 doc → N 20-token child records
    // (classes/RecordManager.php:993-1024)
    "q_record_split" -> ((s, dir) =>
      RecordOps.splitRecords(docs(s, dir)).select(col("doc_id"),
        col("child_id").cast("long").as("child_id"), col("chunk"))),

    // record-check ingestion gate (reject with reason before store entry)
    "q_record_check" -> ((s, dir) =>
      RecordOps.recordCheck(pages(s, dir), Seq("en", "de", "fr"))),

    // empty-value scrub keeping '0' (classes/SolrUpdater.php:1164-1170)
    "q_empty_scrub" -> ((s, dir) => {
      val arr = array(col("lang"), lit(""), lit("0"), col("source"),
        lit(null).cast("string"))
      docs(s, dir).select(col("doc_id"),
        array_join(RecordOps.scrubEmpty(arr), ",").as("scrubbed"))
    }),

    // export XPath filter (classes/RecordManager.php:336-345) via Spark's
    // native xpath_boolean over the html payload
    "q_xpath_filter" -> ((s, dir) =>
      RecordOps.xpathFilter(pages(s, dir), """contains(//body, "dup")""")
        .select(col("url"))),

    // config-driven projection DSL (.properties-style field mapping spec
    // → Catalyst columns; classes/MappableMarcRecord.php:5-18,52-120)
    "q_projection_dsl" -> ((s, dir) =>
      ProjectionDsl.project(pages(s, dir),
        "u=url; host=url:host; norm=text:normalize; lang_u=lang:upper; " +
          "text_len=text:len; first40=text:substr:40")),

    // wide index-document projection — the toSolrArray analog
    // (classes/SolrUpdater.php:1030-1160): every index field synthesized
    // in ONE scan-side projection (id, host, sort key, title key,
    // allfields, facets, content hash, token count, lang)
    "q_index_doc" -> ((s, dir) =>
      pages(s, dir).select(
        col("url").as("id"),
        regexp_extract(col("url"), "^[a-z]+://([^/]+)", 1).as("host"),
        regexp_extract(col("url"), "(\\d+)$", 1).as("id_sort_key"),
        titleKey(col("text")).as("title_key"),
        array_join(array_sort(array_distinct(split(col("text"), " "))), " ")
          .as("allfields"),
        concat(lit("0/"), col("source"), lit("/|1/"), col("source"),
          lit("/"), col("lang"), lit("/")).as("facets"),
        md5(col("text")).as("content_hash"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        col("lang")))
  )

  // ---------------------------------------------------------------------

  /** DuckDB list literal of a stopword table (single-quote escaped). */
  private def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'${w.replace("'", "''")}'").mkString("[", ",", "]")

  /** q_lang_id oracle GENERATED from TextStats.langMarkers (single source
    * of truth — widening the tables regenerates the oracle): per-language
    * hit counts, argmax with asc-language-code tie-break, 'und' fallback.
    * The first CASE branch in asc lang order whose hits equal the overall
    * max IS the asc tie-break. */
  private def langIdOracleSql: String = {
    val langs = TextStats.langMarkers.toSeq.sortBy(_._1)
    val hitCols = langs.map { case (l, ws) =>
      s"len(list_filter(w, x -> list_contains(${sqlList(ws)}, x))) AS h_$l"
    }.mkString(",\n")
    val gm = langs.map("h_" + _._1).mkString("greatest(", ", ", ")")
    val cases = langs.map { case (l, _) => s"WHEN h_$l = gm THEN '$l'" }.mkString("\n")
    s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
       |h AS (SELECT doc_id, lang,
       |$hitCols
       |FROM d),
       |g AS (SELECT *, $gm AS gm FROM h)
       |SELECT doc_id, lang AS labeled_lang,
       |  CASE WHEN gm = 0 THEN 'und'
       |$cases
       |  END AS predicted_lang
       |FROM g""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q_pages" ->
      s"""SELECT $urlSql AS url,
         |strftime(TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (doc_id) HOUR, '%Y-%m-%d %H:%M:%S') AS warc_ts_str,
         |text, lang, source FROM documents""".stripMargin,

    "q_normalize" ->
      s"SELECT doc_id, ${normSql.format("text")} AS norm_text FROM documents",

    "q_title_key" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |p AS (SELECT doc_id, w, i, length(w[i]) AS wl FROM d, UNNEST(range(1, len(w) + 1)) AS t(i)),
         |s AS (SELECT doc_id, w, i,
         |  sum(wl) OVER (PARTITION BY doc_id ORDER BY i) AS keylen,
         |  sum(CASE WHEN wl > 3 THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY i) AS longw
         |  FROM p),
         |c AS (SELECT doc_id, coalesce(min(CASE WHEN longw > 3 OR keylen > 35 THEN i END), max(i)) AS ci
         |  FROM s GROUP BY doc_id)
         |SELECT d.doc_id, ${normSql.format("array_to_string(d.w[1:c.ci], '')")} AS title_key
         |FROM d JOIN c ON d.doc_id = c.doc_id""".stripMargin,

    "q_content_hash" ->
      "SELECT doc_id, md5(text) AS content_hash FROM documents",

    // Holdout replay: thresholdHex(0.9) = e6666666
    "q_holdout_split" ->
      """SELECT doc_id, CASE WHEN substr(md5(doc_id::VARCHAR || '#split'), 1, 8) < 'e6666666'
        |  THEN 'train' ELSE 'val' END AS split FROM documents""".stripMargin,

    // Packing replay: identical per-bucket cumsum window; integer vs
    // floor(double) division agree at these magnitudes
    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id, doc_id % 8 AS bucket,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
        |  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end FROM t)
        |SELECT doc_id, bucket, n_tokens,
        |  (cum_end - n_tokens) // 256 AS pack_first,
        |  CASE WHEN n_tokens > 0 THEN (cum_end - 1) // 256
        |    ELSE (cum_end - n_tokens) // 256 END AS pack_last,
        |  (cum_end - n_tokens) % 256 AS pack_offset
        |FROM c""".stripMargin,

    // Mixing replay: same md5-prefix-vs-fixed-width-hex-literal threshold
    // (lowercase hex compares lexicographically as the number; DuckDB md5
    // == Spark md5), same per-language floor(w) + frac(w) split
    "q_mix_sample" ->
      """WITH w AS (SELECT doc_id, lang,
        |  CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 0 WHEN 'fr' THEN 2 ELSE 0 END AS n_int,
        |  CASE lang WHEN 'en' THEN '99999999' WHEN 'de' THEN '80000000'
        |    WHEN 'fr' THEN '00000000' ELSE '40000000' END AS thr
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_int
        |  + CASE WHEN substr(md5(doc_id::VARCHAR || '#frac'), 1, 8) < thr THEN 1 ELSE 0 END AS copies
        |  FROM w)
        |SELECT doc_id, lang, unnest(generate_series(1, copies)) AS copy
        |FROM c WHERE copies > 0""".stripMargin,

    // Exact anti-join semantics: the Spark side's Bloom filter is a
    // plan-level prune only, so the oracle is the plain set difference
    "q_bloom_new_docs" ->
      """SELECT d.doc_id, md5(d.text) AS content_hash FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM documents s
        |  WHERE s.doc_id % 3 = 0 AND md5(s.text) = md5(d.text))""".stripMargin,

    "q_media_meta" ->
      s"""SELECT $urlSql AS url,
         |octet_length(encode('<html><body>' || text || '</body></html>')) AS byte_length,
         |lower(hex(encode(substring('<html><body>' || text || '</body></html>', 1, 4)))) AS magic_hex
         |FROM documents""".stripMargin,

    "q_id_sort_key" ->
      s"""SELECT $urlSql AS url, regexp_extract($urlSql, '(\\d+)$$', 1) AS sort_key FROM documents""",

    "q_isbn13" ->
      """WITH i AS (SELECT doc_id, lpad(CAST(doc_id AS VARCHAR), 9, '0') AS p FROM documents),
        |s AS (SELECT doc_id, p,
        |  38 + 3 * (CAST(p[1] AS INT) + CAST(p[3] AS INT) + CAST(p[5] AS INT) + CAST(p[7] AS INT) + CAST(p[9] AS INT))
        |     + CAST(p[2] AS INT) + CAST(p[4] AS INT) + CAST(p[6] AS INT) + CAST(p[8] AS INT) AS tot
        |  FROM i)
        |SELECT doc_id, '978' || p || CAST((10 - (tot % 10)) % 10 AS VARCHAR) AS isbn13 FROM s""".stripMargin,

    "q_hier_facet" ->
      """SELECT doc_id, '0/' || source || '/' || '|' || '1/' || source || '/' || lang || '/' AS facets
        |FROM documents""".stripMargin,

    "q_watermark" ->
      """SELECT source, count(*) AS n FROM documents
        |WHERE TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (doc_id) HOUR >= TIMESTAMP '2024-01-11 00:00:00'
        |GROUP BY source""".stripMargin,

    "q_snapshot_diff" ->
      """WITH old AS (SELECT doc_id, md5(text) AS h FROM documents),
        |new AS (SELECT doc_id, md5(CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END) AS h
        |  FROM documents WHERE doc_id % 97 <> 0)
        |SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
        |  CASE WHEN new.doc_id IS NULL THEN 'deleted'
        |       WHEN old.h <> new.h THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id""".stripMargin,

    "q_mark_sweep" ->
      """SELECT d.doc_id, d.source FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM documents s WHERE s.doc_id % 7 <> 0 AND s.doc_id = d.doc_id)""".stripMargin,

    "q_events_page" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, event_type FROM events
        |ORDER BY ts, event_id LIMIT 50 OFFSET 100""".stripMargin,

    "q_vocab" ->
      """SELECT t.token AS token, count(*) AS n
        |FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
        |WHERE t.token <> '' GROUP BY t.token""".stripMargin,

    "q_lang_counts" ->
      "SELECT lang, count(*) AS n FROM documents GROUP BY lang",

    "q_source_lang" ->
      "SELECT source, lang, count(*) AS n FROM documents GROUP BY source, lang",

    "q_longest_per_source" ->
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY length(text) DESC, doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin,

    "q_quality" ->
      s"""SELECT doc_id,
         |length(text) AS char_count,
         |len(string_split(text, ' ')) AS word_count,
         |len(list_distinct(string_split(text, ' '))) AS distinct_words,
         |len(list_filter(string_split(text, ' '), x -> list_contains(${sqlList(TextStats.langMarkers("en"))}, x))) AS stopword_count,
         |CAST(floor(1000.0 * len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' '))) AS BIGINT) AS distinct_permille
         |FROM documents""".stripMargin,

    "q_token_counts" ->
      """WITH t AS (SELECT doc_id,
        |  text || ' doc-' || CAST(doc_id AS VARCHAR) || '''s #' || lang AS tt
        |  FROM documents)
        |SELECT doc_id,
        |len(list_filter(string_split(tt, ' '), x -> x <> '')) AS ws_tokens,
        |len(regexp_extract_all(tt, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS bpe_tokens
        |FROM t""".stripMargin,

    "q_rare_tokens" ->
      """WITH d AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
        |    THEN text || ' zq' || CAST(doc_id AS VARCHAR) ELSE text END AS text
        |  FROM documents),
        |occ AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM d),
        |v AS (SELECT tok FROM occ GROUP BY tok HAVING count(*) <= 1),
        |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_rare FROM occ JOIN v USING (tok) GROUP BY doc_id),
        |n AS (SELECT doc_id, CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens FROM d)
        |SELECT n.doc_id, n.n_tokens, coalesce(r.n_rare, 0) AS n_rare,
        |  CAST(CASE WHEN n.n_tokens > 0 THEN coalesce(r.n_rare, 0) * 1000 // n.n_tokens
        |    ELSE 0 END AS BIGINT) AS rare_permille
        |FROM n LEFT JOIN r USING (doc_id)""".stripMargin,

    // Quantized unigram surprisal: same bit-length log2 buckets
    // (length(bin(n)) - 1 is exact integer floor(log2 n) in DuckDB too).
    "q_unigram_surprisal" ->
      """WITH occ AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM occ GROUP BY 1, 2),
        |v AS (SELECT tok, CAST(sum(c) AS BIGINT) AS n FROM dt GROUP BY tok),
        |lv AS (SELECT tok, len(bin(n)) - 1 AS lg_n FROM v),
        |lt AS (SELECT len(bin(CAST(sum(n) AS BIGINT))) - 1 AS lg_t FROM v)
        |SELECT dt.doc_id, CAST(sum(dt.c) AS BIGINT) AS n_tokens,
        |  CAST(sum(dt.c * (lg_t - lg_n)) AS BIGINT) AS surprisal_bits,
        |  CAST(sum(dt.c * (lg_t - lg_n)) * 1000 // sum(dt.c) AS BIGINT) AS mean_millibits
        |FROM dt JOIN lv USING (tok) CROSS JOIN lt
        |GROUP BY dt.doc_id""".stripMargin,

    "q_para_dup_stats" ->
      s"""WITH $dupDocsSql, ${chunkSql("dd", 15)},
         |c AS (SELECT par, count(*) AS n_occ FROM chunks GROUP BY par)
         |SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_pars,
         |  CAST(sum(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_pars
         |FROM chunks p JOIN c USING (par) GROUP BY p.doc_id""".stripMargin,

    "q_para_dedup" ->
      s"""WITH $dupDocsSql, ${chunkSql("dd", 15)},
         |r AS (SELECT doc_id, pos, par,
         |  row_number() OVER (PARTITION BY par ORDER BY doc_id, pos) AS rn FROM chunks)
         |SELECT doc_id, string_agg(par, chr(10)||chr(10) ORDER BY pos) AS cleaned
         |FROM r WHERE rn = 1 GROUP BY doc_id""".stripMargin,

    "q_boilerplate_pars" ->
      s"""WITH $dupDocsSql, ${chunkSql("dd", 15)}
         |SELECT md5(par) AS ph, CAST(count(*) AS BIGINT) AS n_occ
         |FROM chunks GROUP BY md5(par) HAVING count(*) >= 2""".stripMargin,

    "q_line_repetition" ->
      s"""WITH ${chunkSql("documents", 5)},
         |lines AS (SELECT doc_id, par AS line FROM chunks
         |  UNION ALL SELECT doc_id, 'all rights reserved'
         |  FROM documents, UNNEST(generate_series(1, doc_id % 4)) b(j) WHERE doc_id % 4 > 0),
         |c AS (SELECT doc_id, line, count(*) AS cnt FROM lines GROUP BY doc_id, line)
         |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines,
         |  CAST(count(*) AS BIGINT) AS n_distinct_lines,
         |  CAST(floor(1000.0 * (sum(cnt) - count(*)) / sum(cnt)) AS BIGINT) AS dup_line_permille,
         |  CAST(floor(1000.0 * sum(CASE WHEN cnt > 1 THEN cnt * length(line) ELSE 0 END)
         |       / sum(cnt * length(line))) AS BIGINT) AS dup_char_permille
         |FROM c GROUP BY doc_id""".stripMargin,

    // The URL oracles state the EXPECTED canonical form per messy
    // variant by hand (no regex replay) — an implementation-independent
    // specification of the canonicalization contract.
    "q_url_canonical" ->
      """SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'https://Site' || (doc_id % 7) || '.Example.COM/p/' || doc_id || '/'
        |    WHEN 1 THEN 'HTTP://site' || (doc_id % 7) || '.example.com:80/p/' || doc_id || '?utm_source=feed&b=2&a=1'
        |    WHEN 2 THEN 'https://site' || (doc_id % 7) || '.example.com:443/p/' || doc_id || '#section-2'
        |    WHEN 3 THEN 'http://site' || (doc_id % 7) || '.example.com/p/' || doc_id || '?a=1&utm_campaign=x&fbclid=abc&z=9'
        |    WHEN 4 THEN 'https://site' || (doc_id % 7) || '.example.com:8080/p/' || doc_id
        |    ELSE 'not a url ' || doc_id END AS url,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'https://site' || (doc_id % 7) || '.example.com/p/' || doc_id
        |    WHEN 1 THEN 'http://site' || (doc_id % 7) || '.example.com/p/' || doc_id || '?a=1&b=2'
        |    WHEN 2 THEN 'https://site' || (doc_id % 7) || '.example.com/p/' || doc_id
        |    WHEN 3 THEN 'http://site' || (doc_id % 7) || '.example.com/p/' || doc_id || '?a=1&z=9'
        |    WHEN 4 THEN 'https://site' || (doc_id % 7) || '.example.com:8080/p/' || doc_id
        |    ELSE 'not a url ' || doc_id END AS canon
        |FROM documents""".stripMargin,

    "q_url_dedup" ->
      """WITH p AS (SELECT doc_id, doc_id - doc_id % 3 AS page FROM documents)
        |SELECT 'https://site' || (page % 7) || '.example.com/page/' || page AS canon,
        |  CAST(min(doc_id) AS BIGINT) AS kept_doc_id,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM p GROUP BY page""".stripMargin,

    "q_domain_counts" ->
      """SELECT CASE WHEN doc_id % 6 = 5 THEN ''
        |  ELSE 'site' || (doc_id % 7) || '.example.com' END AS host,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,

    "q_domain_cap" ->
      """WITH u AS (SELECT doc_id, CASE WHEN doc_id % 6 = 5 THEN ''
        |    ELSE 'site' || (doc_id % 7) || '.example.com' END AS host FROM documents),
        |r AS (SELECT doc_id, host,
        |  row_number() OVER (PARTITION BY host ORDER BY doc_id) AS rk FROM u)
        |SELECT doc_id, host FROM r WHERE rk <= 3""".stripMargin,

    // independent formulation: per-occurrence unnest + group-by counts
    // (vs the Spark side's single sorted-array fold)
    "q_ngram_repetition" ->
      """WITH b AS (SELECT doc_id, text || CASE doc_id % 3
        |    WHEN 0 THEN ' the cat sat on the mat the cat sat on the mat the cat sat on the mat'
        |    WHEN 1 THEN ' x y x y x y x y' ELSE '' END AS text FROM documents),
        |tk AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM b),
        |g2 AS (SELECT doc_id, array_to_string(ts[i+1:i+2], ' ') AS gram
        |  FROM tk, UNNEST(generate_series(0, len(ts)-2)) AS s(i) WHERE len(ts) >= 2),
        |c2 AS (SELECT doc_id, gram, count(*) AS cnt, length(gram) AS lg FROM g2 GROUP BY 1, 2),
        |a2 AS (SELECT doc_id, sum(cnt*lg) AS tot,
        |  sum(CASE WHEN cnt >= 2 THEN cnt*lg ELSE 0 END) AS dup FROM c2 GROUP BY 1),
        |t2 AS (SELECT doc_id, cnt*lg AS best FROM (SELECT doc_id, cnt, lg,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rk FROM c2)
        |  WHERE rk = 1),
        |g5 AS (SELECT doc_id, array_to_string(ts[i+1:i+5], ' ') AS gram
        |  FROM tk, UNNEST(generate_series(0, len(ts)-5)) AS s(i) WHERE len(ts) >= 5),
        |c5 AS (SELECT doc_id, gram, count(*) AS cnt, length(gram) AS lg FROM g5 GROUP BY 1, 2),
        |a5 AS (SELECT doc_id, sum(cnt*lg) AS tot,
        |  sum(CASE WHEN cnt >= 2 THEN cnt*lg ELSE 0 END) AS dup FROM c5 GROUP BY 1),
        |t5 AS (SELECT doc_id, cnt*lg AS best FROM (SELECT doc_id, cnt, lg,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rk FROM c5)
        |  WHERE rk = 1)
        |SELECT d.doc_id,
        |  CAST(CASE WHEN coalesce(a2.tot,0) > 0 THEN floor(1000.0 * t2.best / a2.tot) ELSE 0 END AS BIGINT) AS top2_permille,
        |  CAST(CASE WHEN coalesce(a2.tot,0) > 0 THEN floor(1000.0 * a2.dup / a2.tot) ELSE 0 END AS BIGINT) AS dup2_permille,
        |  CAST(CASE WHEN coalesce(a5.tot,0) > 0 THEN floor(1000.0 * t5.best / a5.tot) ELSE 0 END AS BIGINT) AS top5_permille,
        |  CAST(CASE WHEN coalesce(a5.tot,0) > 0 THEN floor(1000.0 * a5.dup / a5.tot) ELSE 0 END AS BIGINT) AS dup5_permille
        |FROM documents d
        |LEFT JOIN a2 USING (doc_id) LEFT JOIN t2 USING (doc_id)
        |LEFT JOIN a5 USING (doc_id) LEFT JOIN t5 USING (doc_id)""".stripMargin,

    "q_quality_gate" ->
      s"""WITH ${chunkSql("documents", 7)},
         |ck AS (SELECT doc_id, string_agg(par, chr(10) ORDER BY pos) AS ctext FROM chunks GROUP BY doc_id),
         |t AS (SELECT d.doc_id, CASE
         |    WHEN d.doc_id % 17 = 0 THEN '- alpha beta' || chr(10) || '- gamma delta' || chr(10) || '- epsilon zeta' || chr(10) || '- eta theta' || chr(10) || '- iota kappa'
         |    WHEN d.doc_id % 13 = 1 THEN 'we have the words to be sure...' || chr(10) || 'and that is of course more...' || chr(10) || 'with more to come...'
         |    WHEN d.doc_id % 11 = 2 THEN coalesce(ck.ctext, '') || ' # # # # # # # # # # # # # # # # # # # # # # # # # # # # # # # # # # # # # # # #'
         |    ELSE coalesce(ck.ctext, '') END AS text
         |  FROM documents d LEFT JOIN ck USING (doc_id)),
         |w AS (SELECT doc_id, text,
         |  list_filter(string_split(replace(text, chr(10), ' '), ' '), x -> x <> '') AS ws,
         |  list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS ls FROM t),
         |m AS (SELECT doc_id, len(ws) AS n_words, len(ls) AS n_lines,
         |  coalesce(list_aggregate(list_transform(ws, x -> length(x)), 'sum'), 0) AS sum_len,
         |  length(text) - length(replace(text, '#', '')) AS hashes,
         |  (length(text) - length(replace(text, '...', ''))) // 3
         |    + (length(text) - length(replace(text, '…', ''))) AS ells,
         |  len(list_filter(ls, l -> starts_with(l, '- ') OR starts_with(l, '* ') OR starts_with(l, '• '))) AS bullets,
         |  len(list_filter(ls, l -> ends_with(l, '...') OR ends_with(l, '…'))) AS ell_lines,
         |  len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha,
         |  len(list_distinct(list_filter(ws, x -> x IN ('the','be','to','of','and','that','have','with')))) AS stops
         |  FROM w),
         |r AS (SELECT doc_id, n_words, n_lines,
         |  list_filter([
         |    CASE WHEN NOT (alpha * 5 >= n_words * 4) THEN 'alpha_words' END,
         |    CASE WHEN NOT (bullets * 10 <= n_lines * 9) THEN 'bullet_lines' END,
         |    CASE WHEN NOT (ell_lines * 10 <= n_lines * 3) THEN 'ellipsis_lines' END,
         |    CASE WHEN NOT (sum_len >= n_words * 3 AND sum_len <= n_words * 10) THEN 'mean_word_len' END,
         |    CASE WHEN NOT (stops >= 2) THEN 'stopwords' END,
         |    CASE WHEN NOT ((hashes + ells) * 10 <= n_words) THEN 'symbol_ratio' END,
         |    CASE WHEN NOT (n_words >= 50 AND n_words <= 100000) THEN 'word_count' END
         |  ], x -> x IS NOT NULL) AS fr FROM m)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, CAST(n_lines AS BIGINT) AS n_lines,
         |  CAST(CASE WHEN len(fr) = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass,
         |  array_to_string(fr, ',') AS fail_reasons
         |FROM r""".stripMargin,

    "q_c4_lines" ->
      """WITH t AS (SELECT doc_id, CASE WHEN doc_id % 13 = 4
        |    THEN 'One short line.' || chr(10) || 'And nothing else here'
        |    ELSE array_to_string(list_filter(string_split(text, ' '), x -> x <> '')[1:6], ' ') || '.'
        |      || chr(10) || 'tiny line.'
        |      || chr(10) || 'this line has no terminal punctuation mark'
        |      || chr(10) || CASE WHEN doc_id % 5 = 0 THEN 'Please enable javascript to continue viewing.' ELSE 'A perfectly ordinary sentence with six words.' END
        |      || chr(10) || CASE WHEN doc_id % 7 = 3 THEN 'Lorem ipsum dolor sit amet consectetur adipiscing.' ELSE 'Closing remarks end the document properly.' END
        |      || chr(10) || CASE WHEN doc_id % 11 = 5 THEN 'var config = { key: value };' ELSE 'Reliable content continues in this line.' END
        |    END AS text FROM documents),
        |w AS (SELECT doc_id, text,
        |  list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS ls FROM t),
        |k AS (SELECT doc_id, text, ls, list_filter(ls, l ->
        |    (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?') OR ends_with(l, '"'))
        |    AND len(list_filter(string_split(l, ' '), x -> x <> '')) >= 5
        |    AND NOT contains(lower(l), 'javascript')) AS ks FROM w)
        |SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines, CAST(len(ks) AS BIGINT) AS n_kept,
        |  CAST(CASE WHEN NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{')
        |    AND len(ks) >= 3 THEN 1 ELSE 0 END AS BIGINT) AS pass,
        |  coalesce(array_to_string(ks, chr(10)), '') AS cleaned
        |FROM k""".stripMargin,

    "q_quality_buckets" ->
      """WITH s AS (SELECT doc_id, lang,
        |  CAST(floor(1000.0 * len(list_distinct(string_split(text, ' '))) / len(string_split(text, ' '))) AS BIGINT) AS score
        |  FROM documents)
        |SELECT doc_id, lang, score,
        |  CAST(ntile(3) OVER (PARTITION BY lang ORDER BY score DESC, doc_id ASC) AS BIGINT) AS bucket
        |FROM s""".stripMargin,

    // shard = first 16 bits of md5(doc_id || '#shuffle') mod 10, rebuilt
    // nibble-by-nibble (lexicographic hex order == numeric order, so the
    // within-shard position replays from the hex string itself)
    "q_train_shards" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '#shuffle') AS hx FROM documents),
        |u AS (SELECT doc_id, hx,
        |  ((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096 +
        |   (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256 +
        |   (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16 +
        |   (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)) % 10 AS shard FROM h)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS BIGINT) AS pos
        |FROM u""".stripMargin,

    // The PII oracles hand-specify expected counts / redacted text per
    // input variant — an implementation-independent statement of the
    // regex-tier contract (no regex replay in DuckDB).
    "q_pii_stats" ->
      """SELECT doc_id,
        |  CAST(CASE doc_id % 5 WHEN 0 THEN 2 WHEN 3 THEN 1 ELSE 0 END AS BIGINT) AS n_emails,
        |  CAST(CASE doc_id % 5 WHEN 1 THEN 2 WHEN 3 THEN 1 ELSE 0 END AS BIGINT) AS n_ips,
        |  CAST(CASE doc_id % 5 WHEN 2 THEN 2 WHEN 3 THEN 1 ELSE 0 END AS BIGINT) AS n_phones
        |FROM documents""".stripMargin,

    "q_pii_redact" ->
      """SELECT doc_id, CASE doc_id % 5
        |  WHEN 0 THEN 'Contact <EMAIL> or <EMAIL> for details'
        |  WHEN 1 THEN 'Gateway <IP> and dns <IP> responded'
        |  WHEN 2 THEN 'Call <PHONE> or <PHONE> today'
        |  WHEN 3 THEN 'Write <EMAIL> from <IP> or dial <PHONE> now'
        |  ELSE 'No identifiers in this sentence at all' END AS redacted
        |FROM documents""".stripMargin,

    // Corpus-summary oracle: exact counts + quantile_cont (the same
    // (n-1)*p interpolation as Spark's exact percentile), millis-scaled;
    // the HLL bit is a tolerance contract (sketch error bound + slack).
    "q_corpus_stats" ->
      """WITH t AS (SELECT source,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_hosts,
        |  true AS hll_hosts_ok,
        |  CAST(round(quantile_cont(n_tokens, 0.5) * 1000) AS BIGINT) AS p50_tokens_milli,
        |  CAST(round(quantile_cont(n_tokens, 0.9) * 1000) AS BIGINT) AS p90_tokens_milli
        |FROM t""".stripMargin,

    // HTML-extraction oracle: expected text per markup variant, stated
    // as text expressions (corpus text is single-line and single-spaced,
    // so wrap/strip/collapse reduces to simple concatenation).
    "q_html_extract" ->
      """SELECT doc_id, CASE doc_id % 4
        |  WHEN 0 THEN text
        |  WHEN 1 THEN text || ' A & B'
        |  WHEN 2 THEN text
        |  ELSE text || ' end''s' END AS extracted
        |FROM documents""".stripMargin,

    // Mojibake oracle: hand-specified repaired text per input variant
    // (implementation-independent statement of the repair contract;
    // expected literals are unicode-escaped in source).
    "q_mojibake" ->
      """SELECT doc_id, CASE doc_id % 6
        |  WHEN 0 THEN 'Menu: Caf\u00e9 du jour d\u00e9j\u00e0 vu'
        |  WHEN 1 THEN '\u00fcber na\u00efve fa\u00e7ade'
        |  WHEN 2 THEN 'it\u2019s \u201cquoted\u201d fine'
        |  WHEN 3 THEN 'a \u2013 b \u2026 end'
        |  WHEN 4 THEN 'plain ascii stays as is'
        |  ELSE 'already caf\u00e9 correct' END AS fixed,
        |doc_id % 6 IN (0, 1, 2, 3) AS was_mojibake
        |FROM documents""".stripMargin,

    // Outlink oracles: state the expected link set ARITHMETICALLY (the
    // fixture plants the links), fully independent of the extraction
    // regexes under test.
    "q_outlinks" ->
      """SELECT doc_id, unnest([
        |  'https://site' || CAST(doc_id % 7 AS VARCHAR) || '.example.org/p/' || CAST(doc_id AS VARCHAR),
        |  'http://m' || CAST(doc_id % 3 AS VARCHAR) || '.example.net/q?id=' || CAST(doc_id AS VARCHAR),
        |  'https://cdn.example.com/r/' || CAST(doc_id AS VARCHAR)]) AS outlink
        |FROM documents""".stripMargin,

    "q_link_graph" ->
      """WITH e AS (SELECT source || '.example.com' AS src_host, unnest([
        |    'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.org',
        |    'm' || CAST(doc_id % 3 AS VARCHAR) || '.example.net',
        |    'cdn.example.com']) AS dst_host
        |  FROM documents)
        |SELECT src_host, dst_host, count(*)::BIGINT AS n_links
        |FROM e GROUP BY 1, 2""".stripMargin,

    // Blocklist oracle: the synthetic url's host is
    // h{id%10}.d{id%4}.example.org; blocked by the exact host
    // h3.d1.example.org and the parent domain d2.example.org.
    "q_blocklist" ->
      """SELECT doc_id FROM documents
        |WHERE NOT (doc_id % 10 = 3 AND doc_id % 4 = 1)
        |  AND doc_id % 4 <> 2""".stripMargin,

    // BPE pair-count oracle: whitespace words (case-sensitive), adjacent
    // character pairs weighted by word frequency, deterministic top-100
    // (total order: cnt desc, left, right).
    "q_bpe_pairs" ->
      """WITH words AS (SELECT unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents),
        |wf AS (SELECT w, count(*)::BIGINT AS f FROM words WHERE length(w) > 0 GROUP BY w),
        |pairs AS (SELECT substr(w, CAST(i AS INT), 1) AS "left",
        |    substr(w, CAST(i AS INT) + 1, 1) AS "right", f
        |  FROM wf, unnest(range(1, length(w))) AS t(i))
        |SELECT "left", "right", sum(f)::BIGINT AS cnt FROM pairs
        |GROUP BY 1, 2 ORDER BY cnt DESC, "left", "right" LIMIT 100""".stripMargin,

    // ExactSubstr oracles: replay gram → count>=2 → cover →
    // contiguous-interval merge on the gram STRINGS (exact grouping; the
    // Spark op groups on xxhash64 of the same grams).
    "q_substr_spans" ->
      s"""WITH $dupDocsSql,
         |t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM dd),
         |occ AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, array_to_string(ts[i:i+19], ' ') AS g
         |        FROM t, unnest(generate_series(1, len(ts) - 19)) AS u(i)),
         |dup AS (SELECT g FROM occ GROUP BY g HAVING count(*) >= 2),
         |hits AS (SELECT doc_id, pos AS s, pos + 19 AS e FROM occ JOIN dup USING (g)),
         |m AS (SELECT doc_id, s, e, CASE WHEN s > coalesce(max(e) OVER (
         |        PARTITION BY doc_id ORDER BY s, e
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
         |      THEN 1 ELSE 0 END AS ni FROM hits),
         |isl AS (SELECT doc_id, s, e, sum(ni) OVER (PARTITION BY doc_id ORDER BY s, e
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM m)
         |SELECT doc_id, min(s)::BIGINT AS start_tok, max(e)::BIGINT AS end_tok
         |FROM isl GROUP BY doc_id, island""".stripMargin,

    "q_substr_dedup" ->
      s"""WITH $dupDocsSql,
         |t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM dd),
         |occ AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, array_to_string(ts[i:i+19], ' ') AS g
         |        FROM t, unnest(generate_series(1, len(ts) - 19)) AS u(i)),
         |dup AS (SELECT g FROM occ GROUP BY g HAVING count(*) >= 2),
         |hits AS (SELECT doc_id, pos AS s, pos + 19 AS e FROM occ JOIN dup USING (g)),
         |cov AS (SELECT DISTINCT doc_id, p FROM
         |        (SELECT doc_id, unnest(generate_series(s, e)) AS p FROM hits)),
         |tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, ts[i] AS tk
         |        FROM t, unnest(generate_series(1, len(ts))) AS u(i))
         |SELECT tok.doc_id,
         |  coalesce(string_agg(tk, ' ' ORDER BY tok.p) FILTER (WHERE cov.p IS NULL), '') AS cleaned
         |FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
         |GROUP BY tok.doc_id""".stripMargin,

    // Decontamination oracle: replays the identical tokenize → 8-gram →
    // md5 → distinct-overlap-count pipeline in DuckDB (same single-space
    // tokenizer, 1-based inclusive list slices == Spark's slice()).
    "q_decontaminate" ->
      """WITH ev AS (SELECT substring(text, 101, 400) AS text
        |            FROM documents WHERE doc_id % 8 = 3),
        |evt AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM ev),
        |evg AS (SELECT DISTINCT md5(array_to_string(ts[i:i+7], ' ')) AS g
        |        FROM evt, UNNEST(generate_series(1, len(ts) - 7)) AS t(i)),
        |dt AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
        |dg AS (SELECT DISTINCT doc_id, md5(array_to_string(ts[i:i+7], ' ')) AS g
        |       FROM dt, UNNEST(generate_series(1, len(ts) - 7)) AS t(i)),
        |h AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS eval_ngram_hits
        |      FROM dg JOIN evg USING (g) GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(h.eval_ngram_hits, 0) AS eval_ngram_hits,
        |       COALESCE(h.eval_ngram_hits, 0) >= 1 AS contaminated
        |FROM documents d LEFT JOIN h USING (doc_id)""".stripMargin,

    "q_exact_dup_pairs" ->
      s"""WITH $dupDocsSql,
         |p AS (SELECT $urlSql AS url, md5(text) AS h FROM dd)
         |SELECT a.url AS url_a, b.url AS url_b FROM p a JOIN p b ON a.h = b.h AND a.url < b.url""".stripMargin,

    "q_exact_clusters" ->
      s"""WITH $dupDocsSql,
         |p AS (SELECT $urlSql AS url, md5(text) AS h FROM dd),
         |g AS (SELECT h, min(url) AS cluster_id, count(*) AS c FROM p GROUP BY h)
         |SELECT p.url, g.cluster_id FROM p JOIN g ON p.h = g.h WHERE g.c > 1""".stripMargin,

    "q_near_dup_pairs" ->
      s"""WITH $shingleCte
         |SELECT url_a, url_b, CAST(floor((i * 1.0 / u) * 1000) AS BIGINT) AS jac_permille
         |FROM jp WHERE i * 1.0 / u >= ${cfg.jaccardThreshold}
         |   OR i * 1.0 / mn >= ${cfg.containmentThreshold}""".stripMargin,

    "q_near_dup_gated" ->
      s"""WITH $shingleCte
         |SELECT url_a, url_b, CAST(floor((i * 1.0 / u) * 1000) AS BIGINT) AS jac_permille
         |FROM jp WHERE (i * 1.0 / u >= ${cfg.jaccardThreshold}
         |   OR i * 1.0 / mn >= ${cfg.containmentThreshold})
         |  AND same_lang AND cross_src""".stripMargin,

    // author gate mirror: the synthesized pool is ASCII and already in
    // normalized form, so byte-lev == DuckDB's levenshtein and codepoint
    // length == length(); authorMatch collapses to equality-or-prefix on
    // single-token normalized authors (normalize strips spaces). jp's a
    // side is min(url) — the reference's asymmetric "orig" denominator
    "q_author_gated" ->
      s"""WITH $shingleCte,
         |au AS (SELECT $urlSql AS url,
         |  CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN '' WHEN 1 THEN 'johnsmith'
         |    WHEN 2 THEN 'johnsmyth' WHEN 3 THEN 'janeqdoe' ELSE 'johnsmithson' END AS an
         |  FROM documents),
         |gp AS (SELECT jp.*, a.an AS an_a, b.an AS an_b
         |  FROM jp JOIN au a ON jp.url_a = a.url JOIN au b ON jp.url_b = b.url)
         |SELECT url_a, url_b, CAST(floor((i * 1.0 / u) * 1000) AS BIGINT) AS jac_permille
         |FROM gp WHERE (i * 1.0 / u >= ${cfg.jaccardThreshold}
         |   OR i * 1.0 / mn >= ${cfg.containmentThreshold})
         |  AND ((an_a = '' AND an_b = '') OR (an_a <> '' AND an_b <> '' AND (
         |    an_a = an_b
         |    OR (length(an_a) >= 6 AND length(an_b) >= 6
         |        AND (starts_with(an_a, an_b) OR starts_with(an_b, an_a)))
         |    OR levenshtein(substr(an_a, 1, 255), substr(an_b, 1, 255)) * 100.0 / length(an_a) <= 20)))""".stripMargin,

    "q_clusters" ->
      s"""WITH RECURSIVE $shingleCte,
         |e AS (SELECT url_a AS u, url_b AS v FROM jp WHERE i * 1.0 / u >= ${cfg.jaccardThreshold}
         |   OR i * 1.0 / mn >= ${cfg.containmentThreshold}),
         |sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
         |reach(a, b) AS (SELECT u, v FROM sym
         |  UNION SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u WHERE r.a <> s.v)
         |SELECT a AS url, least(a, min(b)) AS cluster_id FROM reach GROUP BY a""".stripMargin,

    "q_keep_policy" ->
      s"""WITH RECURSIVE $shingleCte,
         |e AS (SELECT url_a AS u, url_b AS v FROM jp WHERE i * 1.0 / u >= ${cfg.jaccardThreshold}
         |   OR i * 1.0 / mn >= ${cfg.containmentThreshold}),
         |sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
         |reach(a, b) AS (SELECT u, v FROM sym
         |  UNION SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u WHERE r.a <> s.v),
         |comp AS (SELECT a AS url, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
         |m AS (SELECT d.url, comp.cluster_id,
         |  CAST(floor(1000.0 * len(list_distinct(string_split(d.text, ' '))) / len(string_split(d.text, ' '))) AS BIGINT) AS score
         |  FROM d LEFT JOIN comp ON d.url = comp.url),
         |best AS (SELECT cluster_id, max(score) AS score FROM m
         |  WHERE cluster_id IS NOT NULL GROUP BY cluster_id),
         |keeper AS (SELECT m.cluster_id, min(m.url) AS keep_url FROM m
         |  JOIN best ON m.cluster_id = best.cluster_id AND m.score = best.score
         |  GROUP BY m.cluster_id)
         |SELECT m.url, coalesce(m.cluster_id, m.url) AS cluster_id,
         |  CASE WHEN m.cluster_id IS NULL OR m.url = k.keep_url THEN 1 ELSE 0 END AS kept
         |FROM m LEFT JOIN keeper k ON m.cluster_id = k.cluster_id""".stripMargin,

    // two streamed upsert batches folded through the bucket-partitioned
    // delta-log state must land on the same exact components as DuckDB's
    // cold full-snapshot clustering
    "q_streaming_clusters" ->
      s"""WITH RECURSIVE $shingleCte,
         |e AS (SELECT url_a AS u, url_b AS v FROM jp WHERE i * 1.0 / u >= ${cfg.jaccardThreshold}
         |   OR i * 1.0 / mn >= ${cfg.containmentThreshold}),
         |sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
         |reach(a, b) AS (SELECT u, v FROM sym
         |  UNION SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u WHERE r.a <> s.v)
         |SELECT a AS url, least(a, min(b)) AS cluster_id FROM reach GROUP BY a""".stripMargin,

    // incremental fold must land on the same exact components as DuckDB's
    // cold full-snapshot clustering
    "q_incremental_clusters" ->
      s"""WITH RECURSIVE $shingleCte,
         |e AS (SELECT url_a AS u, url_b AS v FROM jp WHERE i * 1.0 / u >= ${cfg.jaccardThreshold}
         |   OR i * 1.0 / mn >= ${cfg.containmentThreshold}),
         |sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
         |reach(a, b) AS (SELECT u, v FROM sym
         |  UNION SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u WHERE r.a <> s.v)
         |SELECT a AS url, least(a, min(b)) AS cluster_id FROM reach GROUP BY a""".stripMargin,

    "q_merged_clusters" ->
      s"""WITH RECURSIVE $shingleCte,
         |e AS (SELECT url_a AS u, url_b AS v FROM jp WHERE i * 1.0 / u >= ${cfg.jaccardThreshold}
         |   OR i * 1.0 / mn >= ${cfg.containmentThreshold}),
         |sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
         |reach(a, b) AS (SELECT u, v FROM sym
         |  UNION SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u WHERE r.a <> s.v),
         |cl AS (SELECT a AS url, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
         |m AS (SELECT cl.cluster_id, cl.url, sh.text, sh.lang, sh.source,
         |  row_number() OVER (PARTITION BY cl.cluster_id ORDER BY length(sh.text) DESC, cl.url) AS rn
         |  FROM cl JOIN sh ON cl.url = sh.url),
         |lg AS (SELECT cluster_id, lower(lang) AS lk, min(url) AS u, arg_min(lang, url) AS l
         |  FROM m GROUP BY cluster_id, lower(lang)),
         |lgs AS (SELECT cluster_id, array_to_string(list(l ORDER BY u), ',') AS langs FROM lg GROUP BY cluster_id),
         |st AS (SELECT cluster_id, count(*) AS size,
         |  array_to_string(list_sort(list(url))[1:1000], ',') AS members,
         |  max(CASE WHEN rn = 1 THEN url END) AS rep_url,
         |  arg_min(lang, url) AS first_lang,
         |  array_to_string(list_sort(list(DISTINCT source)), ',') AS sources
         |FROM m GROUP BY cluster_id)
         |SELECT st.cluster_id, st.size, st.members, st.rep_url, st.first_lang, lgs.langs, st.sources
         |FROM st JOIN lgs ON st.cluster_id = lgs.cluster_id""".stripMargin,

    "q_export_sample" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, row_number() OVER (ORDER BY doc_id) AS rn FROM documents)
        |WHERE rn % 7 = 0""".stripMargin,

    "q_value_map" ->
      """SELECT doc_id, CASE lang WHEN 'en' THEN 'eng' WHEN 'de' THEN 'ger'
        |  WHEN 'fr' THEN 'fre' ELSE 'other' END AS lang_mapped FROM documents""".stripMargin,

    "q_allfields" ->
      """SELECT doc_id, array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')
        |  AS allfields FROM documents""".stripMargin,

    "q_iunique" ->
      "SELECT doc_id, lang || ',' || source AS iunique FROM documents",

    "q_worklist_diff" ->
      """WITH g AS (
        |  SELECT source,
        |    coalesce(list_distinct(list(string_split(text, ' ')[1]) FILTER (doc_id % 7 = 0)), []) AS pending,
        |    coalesce(list_distinct(list(string_split(text, ' ')[1]) FILTER (doc_id % 7 <> 0)), []) AS done
        |  FROM documents GROUP BY source)
        |SELECT source,
        |  coalesce(array_to_string(list_sort(list_filter(pending, x -> NOT list_contains(done, x))), ','), '') AS remaining
        |FROM g""".stripMargin,

    "q_until_window" ->
      """SELECT event_id, event_type FROM events
        |WHERE ts BETWEEN TIMESTAMP '2024-01-02 00:00:00' AND TIMESTAMP '2024-06-01 00:00:00'
        |ORDER BY ts, event_id LIMIT 25""".stripMargin,

    "q_lev_pairs" ->
      s"""WITH $shingleCte,
         |nd AS (SELECT url, ${normSql.format("text")} AS nrm FROM d)
         |SELECT jp.url_a, jp.url_b,
         |  CAST(floor(levenshtein(substr(a.nrm, 1, 255), substr(b.nrm, 1, 255)) * 100.0 / length(a.nrm)) AS BIGINT) AS lev_pct
         |FROM jp JOIN nd a ON jp.url_a = a.url JOIN nd b ON jp.url_b = b.url
         |WHERE (i * 1.0 / u >= ${cfg.jaccardThreshold} OR i * 1.0 / mn >= ${cfg.containmentThreshold})
         |  AND levenshtein(substr(a.nrm, 1, 255), substr(b.nrm, 1, 255)) * 100.0 / length(a.nrm) < 10""".stripMargin,

    // superset checks: the Spark side counts its own misses against an
    // exact recomputation; the oracle pins the contract (zero misses)
    "q_candidate_recall" ->
      "SELECT CAST(0 AS BIGINT) AS missed",

    "q_knn_lsh_recall" ->
      "SELECT CAST(0 AS BIGINT) AS missed, CAST(1000 AS BIGINT) AS recall_permille",

    "q_embedding_dups" ->
      """WITH ee AS (SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0
        |  UNION ALL SELECT vec_id + 200000, list_transform(embedding, x -> x * CAST(1.5 AS FLOAT))
        |    FROM embeddings WHERE vec_id % 70 = 0)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM ee a JOIN ee b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95""".stripMargin,

    // SemDeDup keep decision replayed implementation-independently:
    // brute-force cosine pairs (DOUBLE-cast, like the Spark verify) ->
    // recursive-CTE connected components -> min vec_id kept per group.
    // Matching requires the Spark cell blocking to miss no true pair —
    // the q_semdedup_recall row states that contract as data.
    "q_semdedup" ->
      """WITH RECURSIVE ee AS (SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0
        |  UNION ALL SELECT vec_id + 200000, list_transform(embedding, x -> x * CAST(1.5 AS FLOAT))
        |    FROM embeddings WHERE vec_id % 70 = 0),
        |p AS (SELECT a.vec_id AS u, b.vec_id AS v FROM ee a JOIN ee b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.95),
        |sym AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
        |reach(a, b) AS (SELECT u, v FROM sym
        |  UNION SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u WHERE r.a <> s.v),
        |cl AS (SELECT a AS vec_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
        |SELECT e.vec_id, coalesce(cl.cluster_id, e.vec_id) AS cluster_id,
        |  CAST(CASE WHEN coalesce(cl.cluster_id, e.vec_id) = e.vec_id THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM ee e LEFT JOIN cl ON e.vec_id = cl.vec_id""".stripMargin,

    "q_semdedup_recall" ->
      """WITH ee AS (SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0
        |  UNION ALL SELECT vec_id + 200000, list_transform(embedding, x -> x * CAST(1.5 AS FLOAT))
        |    FROM embeddings WHERE vec_id % 70 = 0)
        |SELECT count(*) AS n_true_pairs, CAST(0 AS BIGINT) AS missed
        |FROM ee a JOIN ee b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.95""".stripMargin,

    "q_knn_brute" ->
      // DOUBLE-cast lists so DuckDB scores in float64 like the Spark side
      // (float32 scoring can flip near-tie ranks)
      """WITH s AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS sim
        |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        |  WHERE q.vec_id < 20)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM s)
        |WHERE rank <= 5""".stripMargin,

    "q_embedding_dims" ->
      "SELECT vec_id, len(embedding) AS dim, label FROM embeddings",

    // recall contract (the k-means fit is driver-side state DuckDB can't
    // reproduce): n_exact counts the exact brute-force top-5 rows from
    // data, and the clamped permille asserts the >=500 floor — a Spark
    // recall below 500 emits its real (lower) value and mismatches.
    // The unclamped number is banked in BENCH JSON (query-side comment).
    "q_knn_ivf" ->
      """WITH s AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS sim
        |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        |  WHERE q.vec_id < 20),
        |r AS (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM s)
        |SELECT count(*) AS n_exact, CAST(500 AS BIGINT) AS recall_permille_floor
        |FROM r WHERE rank <= 5""".stripMargin,

    "q_lang_id" -> langIdOracleSql,

    "q_strip_article" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'The ' WHEN doc_id % 3 = 1 THEN 'an ' ELSE '' END || text AS title
        |  FROM documents)
        |SELECT doc_id, CASE
        |  WHEN lower(title[1:2]) = 'a ' THEN title[3:]
        |  WHEN lower(title[1:3]) = 'an ' THEN title[4:]
        |  WHEN lower(title[1:4]) = 'the ' THEN title[5:]
        |  WHEN lower(title[1:3]) = 'el ' THEN title[4:]
        |  WHEN lower(title[1:3]) = 'la ' THEN title[4:]
        |  WHEN lower(title[1:3]) = 'le ' THEN title[4:]
        |  WHEN lower(title[1:4]) = 'der ' THEN title[5:]
        |  WHEN lower(title[1:4]) = 'die ' THEN title[5:]
        |  WHEN lower(title[1:4]) = 'das ' THEN title[5:]
        |  ELSE title END AS stripped
        |FROM t""".stripMargin,

    "q_iso_dates" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN '2024-01-' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0') || 'T10:30:00Z'
        |       WHEN doc_id % 4 = 1 THEN '2024-02-30T10:00:00Z'
        |       WHEN doc_id % 4 = 2 THEN '2024/01/15'
        |       ELSE '2023-02-29T00:00:00Z' END AS date_str
        |  FROM documents)
        |SELECT doc_id, date_str,
        |  (regexp_matches(date_str, '^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z$')
        |   AND try_strptime(date_str, '%Y-%m-%dT%H:%M:%SZ') IS NOT NULL) AS valid
        |FROM t""".stripMargin,

    "q_date_range" ->
      """WITH t AS (SELECT doc_id,
        |  '2024-01-' || lpad(CAST((doc_id % 27) + 1 AS VARCHAR), 2, '0') ||
        |  ',2024-03-' || lpad(CAST((doc_id % 30) + 1 AS VARCHAR), 2, '0') AS r
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(greatest(datediff('day', DATE '1970-01-01', CAST(split_part(r, ',', 1) AS DATE)), -4371587) AS VARCHAR)
        |  || ' ' ||
        |  CAST(least(datediff('day', DATE '1970-01-01', CAST(split_part(r, ',', 2) AS DATE)), 2932896) AS VARCHAR)
        |  AS range_days
        |FROM t""".stripMargin,

    "q_trim_xml" ->
      """SELECT doc_id, regexp_replace(
        |  '<r> <a>' || source || '</a>  <b>' || lang || '</b> </r>',
        |  '\s*(<[^>]*>)\s*', '\1', 'g') AS trimmed
        |FROM documents""".stripMargin,

    "q_ucfirst" ->
      "SELECT doc_id, upper(source[1]) || source[2:] AS ucfirst FROM documents",

    "q_author_match" ->
      "SELECT doc_id, (doc_id % 5) IN (0, 1) AS matched FROM documents",

    "q_strip_trailing" ->
      """WITH t0 AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 4 = 0 THEN ' /:;,' WHEN doc_id % 4 = 1 THEN '.'
        |       WHEN doc_id % 4 = 2 THEN ' A.' ELSE ' ([' END AS ti FROM documents),
        |t1 AS (SELECT doc_id, rtrim(ti, ' /:;,=([') AS t FROM t0)
        |SELECT doc_id,
        |  CASE WHEN t LIKE '%.' AND NOT (length(t) >= 3 AND substr(t, length(t) - 2, 1) = ' ')
        |       THEN substr(t, 1, length(t) - 1) ELSE t END AS stripped
        |FROM t1""".stripMargin,

    "q_strip_leading" ->
      """SELECT doc_id, ltrim(
        |  CASE WHEN doc_id % 4 = 0 THEN '#! ' WHEN doc_id % 4 = 1 THEN '..?'
        |       WHEN doc_id % 4 = 2 THEN '''"(' ELSE '' END || text,
        |  ' #!?/:;.,=([''"') AS stripped
        |FROM documents""".stripMargin,

    "q_extract_year" ->
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'year ' || CAST(1900 + doc_id % 120 AS VARCHAR) || ' ed.'
        |       WHEN doc_id % 3 = 1 THEN 'circa -' || lpad(CAST(doc_id % 9000 + 1000 AS VARCHAR), 4, '0') || ' bc'
        |       ELSE 'no digits here' END AS s
        |  FROM documents)
        |SELECT doc_id, regexp_extract(s, '(-?\d{4})', 1) AS yr FROM t""".stripMargin,

    // expected NFKC foldings stated as literals (hand-derived, independent
    // of the JVM normalizer): ﬁ→fi, fullwidth Ａ１→A1, e+combining
    // acute→composed é, ①→1
    "q_nfkc" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN 'file'
        |       WHEN doc_id % 4 = 1 THEN 'A1'
        |       WHEN doc_id % 4 = 2 THEN 'éclair 1'
        |       ELSE 'ascii only' END || '-' || source AS nfkc
        |FROM documents""".stripMargin,

    "q_format_ts" ->
      """SELECT doc_id,
        |  strftime(make_timestamp((doc_id * 3671 + 86400) * 1000000), '%Y-%m-%dT%H:%M:%SZ') AS ts_str
        |FROM documents""".stripMargin,

    "q_dropped_log" ->
      """SELECT 'grp' AS channel,
        |  CAST(ascii(substring(source, 1, 1)) AS BIGINT) AS bucket_key,
        |  count(*) AS bucket_n
        |FROM documents GROUP BY 2 HAVING count(*) > 40""".stripMargin,

    "q_record_split" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |SELECT doc_id, CAST(i AS BIGINT) AS child_id,
        |  array_to_string(w[i * 20 + 1 : i * 20 + 20], ' ') AS chunk
        |FROM d, UNNEST(range(0, CAST(ceil(len(w) / 20.0) AS BIGINT))) AS t(i)""".stripMargin,

    "q_record_check" ->
      s"""SELECT $urlSql AS url,
         |CASE WHEN lang NOT IN ('en', 'de', 'fr') THEN 'unknown_lang' ELSE 'ok' END AS "check"
         |FROM documents""".stripMargin,

    "q_empty_scrub" ->
      "SELECT doc_id, lang || ',0,' || source AS scrubbed FROM documents",

    "q_xpath_filter" ->
      s"SELECT $urlSql AS url FROM documents WHERE text LIKE '%dup%'",

    "q_projection_dsl" ->
      s"""SELECT $urlSql AS u, source || '.example.com' AS host,
         |${normSql.format("text")} AS norm, upper(lang) AS lang_u,
         |length(text) AS text_len, substr(text, 1, 40) AS first40
         |FROM documents""".stripMargin,

    "q_index_doc" ->
      s"""WITH tk AS (
         |  WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |  p AS (SELECT doc_id, w, i, length(w[i]) AS wl FROM d, UNNEST(range(1, len(w) + 1)) AS t(i)),
         |  s AS (SELECT doc_id, w, i,
         |    sum(wl) OVER (PARTITION BY doc_id ORDER BY i) AS keylen,
         |    sum(CASE WHEN wl > 3 THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY i) AS longw
         |    FROM p),
         |  c AS (SELECT doc_id, coalesce(min(CASE WHEN longw > 3 OR keylen > 35 THEN i END), max(i)) AS ci
         |    FROM s GROUP BY doc_id)
         |  SELECT d.doc_id, ${normSql.format("array_to_string(d.w[1:c.ci], '')")} AS title_key
         |  FROM d JOIN c ON d.doc_id = c.doc_id)
         |SELECT $urlSql AS id, source || '.example.com' AS host,
         |  CAST(doc_id AS VARCHAR) AS id_sort_key,
         |  tk.title_key,
         |  array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS allfields,
         |  '0/' || source || '/|1/' || source || '/' || lang || '/' AS facets,
         |  md5(text) AS content_hash,
         |  len(string_split(text, ' ')) AS n_tokens,
         |  lang
         |FROM documents JOIN tk USING (doc_id)""".stripMargin
  )
}
