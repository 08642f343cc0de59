"""Scale-readiness audit: greps every registered query's PHYSICAL plan
for patterns that would hurt at 100 TB.

Flags:
- CARTESIAN  CartesianProduct / BroadcastNestedLoopJoin — quadratic
  pair generation; acceptable only in the explicitly-exact brute-force
  similarity baselines and the declared theta/cross-join queries.
- PYROW      BatchEvalPython — row-at-a-time Python UDF (banned; Arrow
  variants show as ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas).
- EXCH>N     more than N shuffle exchanges — usually a missed broadcast
  or a stage that should reuse a partitioning.

Usage: python tools/audit_plans.py [--sf DIR] [-x N]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: queries whose cartesian/nested-loop is the contract, each with why:
CARTESIAN_OK = {
    "join_cross_region_nation",  # declared CROSS JOIN (5x25 dims)
    "join_theta_supplier_pairs",  # declared non-equi theta join
    "jx_edges_set_range_cube",  # 5x5 domain-table product (constant size)
    "llm_tfidf_top_terms",  # 1-row n_sources aggregate broadcast-crossed in
    "llm_sim_topk_int8",  # declared exact int8 baseline (50x500); scale path = int8 GEMM
    "llm_sim_pq_topk",  # ADC scoring: broadcast per-query LUT maps crossed with corpus codes — the exact nq x nc score set, map-side, nq = bounded serving load
    "stream_stateful_dedup",  # crossJoin of two 1-row count aggregates
    "join_q22_idle_rich_customers",  # 1-row scalar-subquery threshold broadcast-crossed in
    "join_q11_important_part_value",  # 1-row grand-total threshold broadcast-crossed in
    "join_q15_top_supplier",  # 1-row max-revenue scalar broadcast-crossed in
    "layout_zorder_orders",  # 1-row global min/max bounds broadcast-crossed in
    "graph_pagerank_supply",  # 1-row node-count scalar broadcast-crossed into every iteration
    "graph_pagerank_cobucketed",  # same 1-row node-count scalar; ranks themselves are NEVER broadcast (pinned: zero BroadcastHashJoin)
    "qa_drift_value_histogram",  # 1-row population totals broadcast-crossed in
    "agg_theta_setops_users",  # crossJoin of two 1-row sketch aggregates
    "agg_heavy_hitters_mg",  # 1-row stream-total scalar broadcast-crossed into the threshold
    "llm_unigram_perplexity",  # 1-row corpus-token-total broadcast-crossed into scoring
    "agg_market_basket_lift",  # 1-row order-count scalar broadcast-crossed into support
    "qa_benford_first_digit",  # 1-row digit-total broadcast-crossed into shares
    "qa_ab_test_proportions",  # (guard) 1-row arm summary if plan shifts
    "llm_bm25_scores",  # 1-row corpus stats (N, avgdl) broadcast-crossed into scoring
    "llm_sim_mips_transform",  # declared exact MIPS baseline (30x500 pairs) + 1-row max-norm scalar
    "stats_chi_square_cells",  # 1-row grand-total N broadcast-crossed into the 35-cell table
    "llm_hybrid_rrf",  # 1-row query vector broadcast-crossed into candidate scoring
    "llm_embed_binary_hamming",  # 1-row query words broadcast-crossed into Hamming scan
    "llm_mmr_diversify",  # (guard) 1-row query vector + <=5-row selected-set products
    "sql_tvf_family",  # declared CROSS JOIN of 12x2 literal dimension generators
    "events_sequence_similarity",  # 1-row query-signature broadcast-crossed into scoring
    "llm_hard_negatives",  # 10-row anchor set broadcast-crossed into candidate scoring
    "llm_class_balance",  # 1-row majority-count scalar broadcast-crossed into factors
    "stats_poisson_bootstrap_ci",  # (guard) replicate Expand can plan as 1-row cross
    "llm_dsir_importance",  # three 1-row LM-total scalars broadcast-crossed into scoring
    "qa_wasserstein_drift",  # two 1-row population-total scalars broadcast-crossed in
    "stats_cuped_adjustment",  # 1-row theta/moment scalars broadcast-crossed into arms
    "stats_interrupted_timeseries",  # 1-row fit/cut scalars broadcast-crossed into post days
    "agg_approx_cardinality",  # crossJoin of two 1-row (exact, within-bound) aggregates
    "agg_hll_mergeable_rollup",  # 1-row exact-count aggregate broadcast-crossed into the bound check
    "agg_kll_quantile_rollup",  # 1-row quantile estimates broadcast-crossed into the rank re-scan
    "llm_dedup_minhash",  # three 1-row assertion aggregates (truth count / found / sound) crossed
    "llm_dedup_simhash",  # three 1-row assertion aggregates (n / planted / adjacent) crossed
    "win_sessionize_skew",  # 1-row total-count scalar broadcast-crossed into the hot_frac routing gate
    "llm_bpe_merges",  # each round's 1-row argmax pair broadcast-crossed into the sequence rewrite
    "llm_bpe_vocab",  # same per-round argmax crosses as llm_bpe_merges
    "llm_bpe_encode_docs",  # same argmax crosses, applied per doc (tokenizer apply)
    "llm_corpus_temperature_mix",  # 1-row sqrt-total scalar broadcast-crossed into weights
    # two-pass global-order primitives (operators/global_order.py): the
    # cross-partition prefix offset is a self-cross-join of the
    # <=n_parts-row per-partition summary — n_parts² pairs, constant in
    # the data size (the whole point is removing the SinglePartition
    # window these queries used to have)
    "agg_rfm_segmentation",
    "analytics_skyline_2d",
    "llm_pack_sequences",
}

#: queries allowed to exceed the exchange budget, each with why:
EXCHANGES_OK = {
    # IVF assembles its index build (cell assignment + probe top-k)
    # inline; at scale those stages run once and persist co-partitioned
    # by cell, leaving the serving path at 2 exchanges
    "llm_sim_ivf_topk",
    # recall-assertion queries (VERDICT r4 item #7): each runs the
    # FULL approximate pipeline AND the exact brute-force truth AND
    # their per-query reconciliation join in one plan — a quality
    # gate, not a serving path; the component pipelines individually
    # stay within budget and keep their own plan pins
    "llm_recall_ivf_at5",
    "llm_recall_ivfpq_at5",
    "llm_recall_ivfpq_residual_at5",
    "llm_recall_lsh_at5",
    # fixed-iteration PageRank: 8 rank shuffles (one per power iteration)
    # by construction + the one-off edge materialization; per-iteration
    # cost is the claim, not total exchange count
    "graph_pagerank_supply",
    # co-bucketed PageRank (r7): per-iteration exchanges are narrow
    # rank/contribution rows BY DESIGN (the broadcast-free route's
    # intrinsic floor — edges never move, pinned by the src-exchange
    # plan test); 8 iterations x (rank align + gather) is the algorithm
    "graph_pagerank_cobucketed",
    # pruned incremental dedup WITH retraction (r7): the plan is the
    # full llm_dedup_incremental_pruned pipeline (banding + candidate
    # join + DPP verify, each keyed and batch-bounded) plus ONE
    # broadcast anti-join for the tombstones; the pruning pins
    # (static ib IN + dynamicpruningexpression) hold with retraction
    # active (tests/test_plans.py::test_incremental_retract_probe_
    # stays_pruned), so the exchange count is composition, not waste
    "llm_dedup_incremental_retract",
    # the streamed index-upsert's RETURNED plan is the final contract
    # serve (probe top-k + cell-pruned cogroup + global top-k) over the
    # multi-root batched index — the per-root union multiplies scan-side
    # exchanges; the per-trigger sink itself is one assignment join +
    # one partitioned write
    "stream_real_ivf_index_upsert",
    # the cross-family txn group query (r11) returns that same serve
    # shape at the group watermark PLUS the corpus summary aggregate in
    # one plan; the per-trigger sink is one assignment join + two
    # partitioned writes + the txn commit — exchange count is the
    # multi-root union composition, not waste (same pins as upsert)
    "stream_real_txn_group_ann",
    # quantizer RE-TRAINING as maintenance (r9): the plan is kmeans
    # training (seeding sample + per-iteration assignment GEMM +
    # (cell, dim) centroid update — keyed exchanges by construction,
    # same as llm_sim_kmeans_assign) + hot-cell re-split + the pruned
    # serve; training runs once per maintenance pass and persists, the
    # serving path alone stays within budget (same pins as upsert)
    "stream_real_ivf_requantize",
    # the auto-maintenance policy query (r10) serves the IDENTICAL
    # retrained-quantizer plan as stream_real_ivf_requantize — the
    # only difference is WHO named the transform (the drift-cap policy
    # vs the call site); same rationale, same serve pins
    "stream_real_ivf_auto_maintenance",
    # same serve shape plus the pending-retraction anti-join above the
    # pruned scans (stream_real_ivf_retract = upsert + tombstone fold)
    "stream_real_ivf_retract",
    # compact-forward triangle listing: degree agg + two degree-annotation
    # joins + wedge self-join + closing semi-join are the algorithm; each
    # is keyed and uniform (the orientation is what BOUNDS the wedge
    # stage), and AQE broadcasts the small sides at this sf
    "graph_triangle_count",
    # apriori pair mining: basket self-join + two item-frequency joins +
    # min-support agg are the algorithm; the 1-row total rides broadcast
    "agg_market_basket_lift",
    # SemDeDup: centroid-assignment GEMM (cogroup) + cell equi-self-join
    # + pair agg; cluster scoping is exactly what bounds the pair stage
    "llm_dedup_semantic_cells",
    # assertion-form contract: runs the LSH pipeline AND the exact
    # inverted-index truth set AND their semi-join reconciliation in one
    # plan; each sub-pipeline individually stays within budget
    "llm_dedup_minhash",
    # DPP-pruned incremental dedup: batch banding agg + index probe join
    # + candidate distinct, PLUS the two broadcast verify joins whose
    # dynamic-pruning subqueries re-plan the (batch-bounded) candidate
    # side; at scale the batch-sized exchanges are trivia and the win is
    # the corpus scan reading matched buckets only (plan-pinned DPP)
    "llm_dedup_incremental_pruned",
    # matched-cells IVF serving: probe top-nprobe build + probed-cell
    # distinct + its broadcast/DPP subquery all ride the QUERY BATCH
    # (tiny); the index scan they prune is the at-scale cost
    "llm_sim_ivf_persisted",
    # IVF-PQ: coarse probe build + probed-cell distinct + LUT build +
    # their broadcast/DPP subqueries are all query-batch-sized; the
    # pruned 8-byte-code scan is the serving cost and the index build
    # (codes agg + cells join) runs once per snapshot
    "llm_sim_ivfpq_topk",
    # residual IVFADC: same shape + the per-(query, probed-cell)
    # centroid-dot join, also batch-sized
    "llm_sim_ivfpq_residual",
    # hot-key routing executes BOTH legs (count + anti/semi split +
    # cold window + hot two-phase local/stitch/join); at scale the legs
    # run on disjoint data so per-row cost matches the plain window
    "win_sessionize_skew",
    # 3 unrolled BPE merge rounds: one pair-count shuffle + one 1-row
    # argmax per round BY CONSTRUCTION; per-round cost is the claim
    "llm_bpe_merges",
    # same loop plus the final vocab count over the merged sequences
    "llm_bpe_vocab",
    "llm_bpe_encode_docs",
    # three INDEPENDENT exact two-pass ntiles (range shuffle + pid-window
    # shuffle + tiny count agg each) + three custkey joins — 3 global
    # sorts by construction; the textual plan double-counts the shared
    # range exchange (cnt + main consumers, runtime exchange-reuse)
    "agg_rfm_segmentation",
    # two-pass running max: range shuffle + pid-window shuffle + tiny
    # per-partition max agg + same-price window — one over budget
    "analytics_skyline_2d",
    # two-pass prefix sum: range shuffle + pid-window shuffle + tiny
    # per-shard total agg — one over budget
    "llm_pack_sequences",
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("-x", "--max-exchanges", type=int, default=6)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from mo_etl_spark.session import get_spark

    spark = get_spark(app_name="plan-audit")
    qs = entry.queries()
    names = args.names or list(qs)

    n_flags = 0
    for name in names:
        try:
            df = qs[name](spark, args.sf)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:
            print(f"ERROR    {name}: {e!r}")
            n_flags += 1
            continue
        flags = []
        if ("CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan) and (
            name not in CARTESIAN_OK
        ):
            flags.append("CARTESIAN")
        if "BatchEvalPython" in plan:
            flags.append("PYROW")
        n_exch = plan.count("Exchange hashpartitioning") + plan.count(
            "Exchange rangepartitioning"
        )
        if n_exch > args.max_exchanges and name not in EXCHANGES_OK:
            flags.append(f"EXCH={n_exch}")
        if flags:
            n_flags += 1
            print(f"FLAG     {name}: {', '.join(flags)}")
    print(f"\naudited {len(names)} queries, {n_flags} flagged")


if __name__ == "__main__":
    main()
