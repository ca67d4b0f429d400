package graft.queries

import graft.core.Hints

/** The per-query rewrite hints ([[graft.core.QueryScope]]), keyed by
  * query name. Every entry is a measured winner; a query with no entry
  * runs bare, because both full-suite A/Bs proved each rewrite a net
  * loss as a default (tools/flip_check.py geomean 0.836 and 0.906).
  */
object QueryHints {

  /** Scan fan-out (graft.core.Tables).
    *
    * Round 16 shipped the fan-out DEFAULT-ON and the full-suite A/B
    * (bench_results/r16_baseline.json vs r16_fanout.json, 315 queries,
    * best-of-2 passes each) measured that as a 1.20x geomean
    * pessimization: 179/314 queries >10% slower (the exchange + its
    * sortBeforeRepartition local sort is pure overhead when per-row work
    * is cheap), ~48 queries much faster (up to 10x — CPU-heavy
    * scan-adjacent stages: shingling, regex chains, vector math, sketch
    * building — that were running on ONE core because the sf-scale
    * parquet inputs are single-split). The r16 names below had
    * `fanout_best / baseline_best <= 0.75` AND an absolute saving
    * >= 0.1 s in that A/B (selection script: tools/fanout_winners.py
    * re-derives it from the two files). Combined measured saving: ~53 s
    * of a 432 s suite.
    *
    * The rewrite only ever WIDENS a low-split scan; results are
    * content-identical (oracle-pinned). At 100 TB the trigger inside
    * Tables.fanout is a no-op (splits >> cores), so the list costs
    * nothing at scale.
    */
  private val fanout: Set[String] = Set(
    // r17: a fresh solo A/B on the r17 code (best-of-2 bench passes per
    // side, fanout forced on vs off, sf0.1 local[32]) over the 24 most
    // expensive queries measured these five at ratio <= 0.85 with
    // >= 0.5 s absolute saving each (er_cluster 0.63x/-2.5 s,
    // dedup_recall_sweep 0.80x/-1.2 s, dedup_recall 0.81x/-0.8 s,
    // graph_pagerank 0.83x/-0.6 s, graph_bfs 0.84x/-0.5 s — numbers in
    // OPTIMIZATION_r17.md). The 0.85-0.92 band from the same A/B
    // (graph_modularity, dedup_cluster, graph_linkpred,
    // graph_walks_biased) is inside run-to-run noise and stays out.
    "er_cluster", "dedup_recall", "dedup_recall_sweep",
    "graph_pagerank", "graph_bfs",
    // re-A/B'd AFTER the cached-plan-AQE hints landed: shrinking the
    // loop overhead made the single-split scan stage dominant for
    // these three (0.75x/0.84x/0.84x, >= 0.4 s each); mm_pipeline and
    // graph_modularity re-measured as losers (1.32x / 1.09x) and stay
    // out
    "graph_linkpred", "dedup_stats", "graph_kcore",
    // r16
    "dedup_contamination", "dedup_editdist", "dedup_embedding", "dedup_span_frac",
    "dedup_spans", "dq_drift_sketch", "dq_profile", "dq_profile_sketch",
    "dx_truncate", "er_blocked", "er_golden", "er_metrics",
    "ev_json", "graph_ppr", "inc_profile_sketch", "ml_knn",
    "mm_meta", "mm_neardup", "mm_phash", "q21_quantile",
    "q30_unpivot", "sim_graphann", "sim_graphann_layout", "sim_hardneg",
    "sim_quant", "sim_randproj", "sim_recall_graphann", "sim_recall_ivfadc",
    "sim_recall_lsh", "sim_recall_quant", "sim_recall_randproj", "sim_recall_randproj_sweep",
    "sim_sparse", "ta_bpe_encode", "ta_c4", "ta_chunk",
    "ta_cms", "ta_fertility", "ta_gopher", "ta_gopher_colform",
    "ta_gopher_rep", "ta_quality", "ta_redact", "ta_repetition",
    "ta_subword", "ta_tokens", "ta_unigram_encode", "ta_winnow")

  /** AQE-sized cached-plan partitioning (graft.core.Caches).
    *
    * The r17 full-suite A/B (315 queries, best-of-2 passes per side,
    * sf0.1 local[32]; AQE-sized caches forced off vs on via
    * SPARK_GRAFT_CACHED_PLAN_AQE) gave geomean 0.906 — a disallowed
    * default flip — with the wins concentrated in the loop/cache-heavy
    * queries and the losses in CPU-heavy-but-small cached relations
    * that the byte-based coalescing collapses to one partition
    * (mm_neardup 2.5x, sim_graphann_layout 3.2x slower). These are
    * every query with `on_best / off_best <= 0.85` AND an absolute
    * saving >= 0.3 s in that A/B (~22 s of a 357 s suite, numbers in
    * OPTIMIZATION_r17.md). At corpus scale the hint is behavior-neutral:
    * AQE sizes the cached plan from measured bytes, so a large cache
    * keeps its width.
    */
  private val cachedPlanAqe: Set[String] = Set(
    "dedup_cluster_incremental", "dedup_editdist", "dedup_recall",
    "dedup_recall_sweep", "dedup_survivor", "doc_mix_temperature",
    "dq_ks", "er_cluster", "er_golden", "graph_assortativity",
    "graph_bfs", "graph_degree_dist", "graph_kcore", "graph_modularity",
    "graph_pagerank", "graph_walks_biased", "ml_auc", "ml_roc",
    "mm_pipeline", "stream_dedup_index", "ta_bm25", "ta_keywords_rank",
    "ta_kneser", "ta_mmr")

  /** Every hinted query's [[Hints]]. */
  val table: Map[String, Hints] =
    (fanout ++ cachedPlanAqe).iterator
      .map(n => n -> Hints(fanout = fanout(n), cachedPlanAqe = cachedPlanAqe(n)))
      .toMap

  def apply(name: String): Hints = table.getOrElse(name, Hints())
}
