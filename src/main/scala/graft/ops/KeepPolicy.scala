package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Canonical-survivor selection — the keep/drop step a training-data
  * pipeline ends dedup with: every duplicate cluster keeps exactly ONE
  * document (the highest-quality member), everything else in the cluster
  * is dropped, and documents outside any cluster survive unconditionally.
  * The reference applies the same policy at index time — each dedup
  * cluster is served by ONE representative document in the merged index
  * (classes/SolrUpdater.php:463-560: per dedup key, members are fetched,
  * folded, and a single merged/representative doc is indexed in their
  * place) — here re-expressed as a corpus-wide declarative selection
  * instead of a per-key Mongo loop.
  *
  * Argmax WITHOUT a windowed sort: `row_number() over (partition by
  * cluster)` serializes each cluster's members through one task's sort —
  * a boilerplate mega-cluster (10^6 copies of a cookie banner) becomes a
  * straggler. The TWO AGGREGATIONS (min id per (cluster, score), then
  * the max (score, id) struct per cluster) are map-side-combinable, so
  * hot clusters stay partial-aggregated in every scan task — the score
  * ties of a mega-cluster (identical docs tie) collapse in the partial
  * aggregation; ties are broken by id so the survivor set is total-order
  * deterministic on any cluster size.
  *
  * Scale shape: `clusters` holds only dup-cluster MEMBERS (≪ corpus);
  * both aggs run on that table, never on the full corpus, and the final
  * keeper map (1 row per cluster) joins back broadcast-sized. The score
  * is computed in the corpus scan stage (no extra pass), and the corpus
  * itself is touched by exactly one left join on the id.
  */
object KeepPolicy {

  /** Lexical-diversity score (distinct-token permille) — the default
    * quality axis when no model score column exists; identical to
    * `TextStats.qualityFeatures.distinct_permille` over raw
    * space-splitting so any SQL engine replays it. */
  def diversityScore(text: Column): Column = {
    val w = split(text, " ")
    floor(lit(1000.0) * size(array_distinct(w)) / size(w)).cast("long")
  }

  /** Per-document survivor verdict. Input: the corpus (`idCol` + whatever
    * `score` needs) and a cluster-membership table (idCol, cluster_id)
    * covering dup-cluster members only. Output: idCol,
    * cluster_id (own id for unclustered docs — every doc is its own
    * singleton cluster), kept (1 = survives dedup, 0 = dropped duplicate).
    * Exactly one kept=1 per cluster: max score, min id among ties; a
    * cluster whose every score is null keeps none. */
  def survivors(docs: DataFrame, clusters: DataFrame, score: Column,
                idCol: String = "url"): DataFrame = {
    val scored = docs.select(col(idCol), score.as("__score"))
    val members = scored.join(clusters, Seq(idCol), "left")
    // one id per (cluster, score) first, so the struct max below picks
    // the min id among the max-score members
    val keeper = members.where(col("cluster_id").isNotNull && col("__score").isNotNull)
      .groupBy("cluster_id", "__score").agg(min(idCol).as("__id"))
      .groupBy("cluster_id").agg(max(struct(col("__score"), col("__id")))
        .getField("__id").as("__keep_id"))
    members.join(keeper, Seq("cluster_id"), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"),
        // kept=1 only for UNclustered docs or the cluster's keeper: a
        // cluster whose every member has a NULL score yields no keeper
        // row, and its members must then read kept=0 (mirroring the
        // oracle's `cluster_id IS NULL OR url = keep_url`) — the former
        // `__keep_id.isNull` branch marked ALL of them kept=1
        // (unreachable on corpora where null-text docs cannot form
        // clusters, but latent; round-5 advice item)
        when(col("cluster_id").isNull || col(idCol) === col("__keep_id"), 1L)
          .otherwise(0L).as("kept"))
  }
}
