#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of the flagship queries
at the bench scale factor — the `.explain("formatted")` evidence behind
the scale claims in README.md (enforced mechanically by
tests/test_plans.py; this artifact is the human-readable capture).

Usage: python scripts/dump_plans.py [> PLANS.md is done internally]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

from flink_mingo_tail_spark.queries import load_registry
from flink_mingo_tail_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

FLAGSHIP = {
    "q01_pricing_summary": "partial+final hash aggregate; all filters pushed to the scan",
    "q02_filter_project_topk": "PushedFilters + pruned ReadSchema + TakeOrderedAndProject",
    "q11_broadcast_dim_join": "two BroadcastHashJoins, zero fact-side shuffle",
    "q17_range_join": "equi-key carries the shuffle, range predicate as join residual",
    "q30_rank_topn_per_group": "single shuffle + per-partition sort for the rank window",
    "q73_minhash_lsh_dedup": "one staged md5 pass, window-min rep election on the band shuffle",
    "q76_knn_bruteforce": "broadcast query vectors; corpus scanned once, no vector shuffle",
    "q27b_percentile_rank_select": "exact percentile as two hash-agg passes (no per-group sort)",
    "q79_knn_ivf": "one int cell key per corpus row; broadcast probes, AQE-splittable equi-join",
    "q82b_repetition_score": "zero-shuffle corpus pass: bigram build + distinct counts in codegen",
    "q100_inverted_index": "explode + ObjectHashAggregate partial collect; token shuffle carries partial postings",
    "q104_centroid_assign": "k*dim centroid aggregate, k-row broadcast to the scoring join; corpus pass narrow",
    "q114_watermark_late_drop": "two-level prefix-max: per-bucket windows partition-parallel, global window only over bucket summaries, broadcast back",
    "q116_interval_join_clicks_purchases": "user_id equi-key carries the shuffle; time bound stays a join residual",
    "q123_salted_skew_join": "hot key fanned over (sk, __salt): ShuffledHashJoin on the salted pair, dim replicated 16x, no broadcast",
    "q125_equidepth_histogram": "rank-select septiles broadcast to one codegen'd binning pass; probe column never globally sorts",
    "q126_token_cooccurrence": "vocab-capped in-expression pair generation; only word-count shuffles + broadcast joins",
    "q127_pagerank_trade_graph": "per-round edge-rank equi-join + partial+final inflow sum; lineage truncated every round",
    "q134_hll_sketch_rollup": "per-group HLL sketch agg; both grains via explode + hll_union_agg over the 5-row sketch frame — exactly two fact scans (sketch pass + the gate's exact-distinct pass), plan-pinned",
    "q139_copurchase_triangles": "forward-oriented wedge build + closure as key-partitioned hash joins; NLJ only on the 1-row stat combines",
    "q139b_triangles_colorful": "colorful sampling: ONE fact shuffle on the packed (order*c+color) long key, partial collect_list, in-expression pair expansion — every downstream stage sees the 1/c edge sample (1/c^2 wedges); AQE stage reuse collapses the multi-consumer subtrees",
    "q142_lateral_topk_per_region": "LATERAL decorrelated by Catalyst into join + rank window — no per-outer-row re-execution",
    "q146_theta_set_algebra": "exact cohort flags + both theta sketches from ONE orders scan and one custkey shuffle; set algebra on the final 1-row frame, zero joins",
    "q147_kll_quantile_rollup": "per-priority KLL sketches; both grains via explode + kll_merge_agg (one sketch-side scan); rank audit broadcast-joins the 6-row estimate frame",
    "q151_pps_systematic_sample": "two-level prefix sums: per-bucket running sum partition-parallel, ONE SinglePartition exchange over bucket totals only, offsets broadcast back; range-partitioned output sort",
    "q154_set_similarity_join": "AllPairs/PPJoin prefix filtering: df-ranked prefix equi-join on single bigram keys + exact verify — no all-pairs node anywhere",
    "q158_ohlc_bars": "whole OHLCV bar as ONE codegen HashAggregate via packed-long anchors (struct anchors would demote to SortAggregate)",
    "q161_rfm_segments": "distributed exact ntile: value-bucket prefix counts + partitioned within-bucket windows; no single-partition ntile window; the three cuts run INDEPENDENTLY on the narrow rfm frame and join back on custkey (291-node plan vs 1533 chained — round-8 post-mortem)",
    "q163_source_divergence": "token-distribution distances via INNER join only (out-of-vocab mass folded in algebraically); terms summed as scaled longs",
    "q164_bloom_membership": "bloom bit-set as a bounded relation (<= m rows) BROADCAST to the probe; k-position hit count == k, probe never shuffles",
    "q165_kmeans_lloyd_step": "k-row seed broadcast to the narrow corpus distance pass; min-struct argmin aggregate; only (cid, pos) mean shuffles after",
    "q170_semdedup_prune": "cell-key equi-join bounds the pair space (sum |cell|^2, never n^2); id-order + cosine threshold ride the join stage; LeftAnti prune on vec_id",
    # round 7
    "q172_repeated_span_dedup": "k-token shingle fingerprints; first-occurrence keep via the two-level global rank (no single-task window); span reassembly as key-partitioned windows",
    "q178_bpe_merge_pairs": "pair explode rides the DISTINCT-word aggregate (vocabulary-sized); two word-count-shaped partial+final aggregates, zero joins, zero windows",
    "q179_auc_mann_whitney": "grouped_prefix_sum: per-(source,bucket) subtotals partition-parallel, cross-bucket cumsum over the bucket-summary frame only; every window node partitioned (plan-pinned)",
    "q182_phrase_search": "per-term postings filtered BEFORE the shuffle (key space = the phrase's document frequency); (doc_id, pos+1) adjacency equi-join",
    "q184_rrf_fusion": "both retrieval legs end in TakeOrderedAndProject (plan-pinned); ranks and the fusion join ride the 50-row lists",
    "q188_bpe_train_rounds": "3 training rounds: each one vocabulary pair aggregate + 1-row merge BroadcastNestedLoopJoin + narrow greedy-fold projection; the token stream is scanned once (initial word count)",
    "q189_drift_windows": "one (window, bucket) hash aggregate; reference/window-total margins broadcast back onto the histogram-sized frame; chi-square terms micro-rounded before the exact int sum",
    "q190_token_budget_cut": "grouped_prefix_sum over the packed quality key (one bucket per n_chars value): cumsum frame bounded by the per-source value domain, no single-partition window; the raise_error domain guard is INSIDE the consumed packed key (survives optimization — round-8 fix)",
    # round 8
    "q191_spearman_corr": "tie-averaged ranks on the DISTINCT-value frames via grouped_prefix_sum; joint frame bounded by the (v100 x hour) domain; one final integer aggregate per type",
    "q193_hashed_linear_scorer": "one explode + map-side-combinable hash aggregate; token md5-hex weights entirely in codegen, no UDF and no weight table",
    "q196_logistic_irls_step": "two corpus passes (closed-form step-1 moments; 1e-3-grid sigmoid weighted moments) + one (k x 2) coefficient broadcast between them",
    "q197_containment_join": "one-sided C-PPJoin: contained-side prefix x full inverted index on int gram keys; PPJoin length+position filters BEFORE the pair-dedup shuffle; exact array verify after",
    "q198_pca_power_iteration": "two power steps = four keyed aggregates over the exploded (vec_id, pos) frame; d-row direction frames broadcast; integer-exact states both engines",
    # round 12
    "q243_contamination_attribution": "q224's candidate machinery + one candidate-bounded argmax window (partitioned by corpus doc, never corpus-wide) + a distinct-gram count on the broadcast probe join",
    "q245_lsh_occupancy_audit": "one embedding scan emitting L int keys in codegen; (tbl, bucket) count shuffle bounded by LIVE bucket count; 8-row rollup",
}

#: hand-maintained PLANS.md sections that must survive regeneration
#: ("## Bench delta notes" is the history of accepted timing deltas)
PRESERVED_SECTIONS = (
    "## Runtime bloom-filter join pruning (scale feature, test-pinned)",
    "## Bench delta notes",
)


def preserved_tail(path: str) -> str:
    """Return the hand-maintained trailing sections of the existing
    PLANS.md (empty string if absent) so a regen never deletes them."""
    try:
        text = open(path).read()
    except FileNotFoundError:
        return ""
    for marker in PRESERVED_SECTIONS:
        idx = text.find(marker)
        if idx != -1:
            return "\n" + text[idx:].rstrip() + "\n"
    return ""


def main() -> None:
    registry = load_registry()
    spark = build_session("fmts-plans")
    out = ["# PLANS — captured physical plans (generated by scripts/dump_plans.py)\n"]
    out.append(f"Scale factor dir: `{SF_DIR}`. Regenerate after plan-affecting changes.\n")
    for name, why in FLAGSHIP.items():
        df = registry[name].fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"\n## {name}\n\n*{why}*\n\n```\n{buf.getvalue().strip()}\n```\n")
    path = os.path.join(REPO_DIR, "PLANS.md")
    tail = preserved_tail(path)
    with open(path, "w") as f:
        f.write("\n".join(out) + tail)
    print("wrote PLANS.md" + (" (preserved hand-maintained tail)" if tail else ""))


if __name__ == "__main__":
    main()
