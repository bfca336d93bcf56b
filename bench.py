#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints TWO JSON lines: first the full detail (also written to
bench_detail.json), then a compact driver-facing FINAL line:
    {"metric": "headline_queries_total_wall", "value": <total_sec>,
     "unit": "sec", "sf": <sf>, "n_queries": N, ...}
(the per-query map moved off the final line in round 9 — the driver's
2,000-byte stdout tail capture truncated round 8's single full line).

Small-output queries materialize via collect(); queries whose output
scales with the input run to a noop sink (see LARGE_OUTPUT) so the
metric is operator wall-time, not driver transfer. Session/JVM startup
is excluded. Streaming CDC throughput is measured FIRST in the run on a
quiet JVM (min-of-3, plus a no-dedup floor run isolating the quorum
operator's cost); batch queries run min-of-3 round-robin after warm-up.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

from flink_mingo_tail_spark.queries import load_registry
from flink_mingo_tail_spark.session import LOCAL_CPUS, build_session
from flink_mingo_tail_spark.tables import TABLE_NAMES, load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Representative, scale-sensitive subset across every operator family:
# scans/filters, fact-fact + broadcast joins, aggregation families,
# windows, set ops, CDC analogs, dedup/similarity/text, multimodal.
HEADLINE = [
    "q01_pricing_summary",
    "q02_filter_project_topk",
    "q10_inner_join_agg",
    "q11_broadcast_dim_join",
    "q12_left_outer_join",
    "q17_range_join",
    "q20_groupby_battery",
    "q21_rollup",
    # q27b, not q27: the built-in `percentile` is a value→count map
    # aggregate — fine on bounded domains, but on continuous columns its
    # per-group merge is one n-sized map on one reducer; the rank-select
    # path stays partition-parallel at any cardinality and is
    # bitwise-equal (measured decision rule in SCALE.md).
    "q27b_percentile_rank_select",
    "q30_rank_topn_per_group",
    "q33_running_sum",
    "q37_asof_join",
    "q44_intersect_all",
    "q55_explode_posexplode",
    "q62_cdc_quorum_dedup",
    "q73_minhash_lsh_dedup",
    "q75b_decontaminate",
    "q76_knn_bruteforce",
    "q80_token_stats",
    "q82b_repetition_score",
    "q83_doc_fingerprint",
    "q90_tumbling_window",
    "q92_session_window",
    "q95_multimodal_features",
    # q145 is the same featurizer via mapInArrow: its delta vs q95 is
    # the Arrow→pandas bridge cost for binary columns, measured
    "q145_arrow_native_features",
    "q114_watermark_late_drop",
    "q116_interval_join_clicks_purchases",
    "q100_inverted_index",
    "q104_centroid_assign",
    # round 4: skew-salted shuffle join and rank-select-bounded
    # equi-depth binning — both scale-strategy showcases
    "q123_salted_skew_join",
    "q125_equidepth_histogram",
    # round-4 second wave: mergeable-sketch rollup and the decorrelated
    # LATERAL top-k (q139's triangle census is deliberately probe-only —
    # its 5 s wedge cost belongs in SCALE.md, not a 3-pass bench)
    "q134_hll_sketch_rollup",
    "q142_lateral_topk_per_region",
    # round 5: the colorful (sampled) triangle census — q139's skew-safe
    # twin; cheap enough for the bench (the 1/c^2 wedge sample), and its
    # growth story is carried by the scale probe alongside exact q139
    "q139b_triangles_colorful",
    # round 5 (below-prefix): weighted PPS systematic sample — the
    # two-level prefix-sum window pattern on the corpus path
    "q151_pps_systematic_sample",
    # round 6: exact set-similarity self-join (prefix filtering — the
    # lossless complement of q73's MinHash path), packed-anchor OHLC
    # bars, distributed exact ntile (no single-partition window),
    # relational bloom membership (broadcast bit-set), and one k-means
    # Lloyd iteration (broadcast seeds, int64 distances).
    # Round 7: the set-similarity bench citizen is q154b (tau = 0.7) —
    # q154's tau = 0.5 on this 916-bigram-vocab fixture generates 3.5M
    # candidate pairs (prefix filtering can't prune a tiny vocabulary)
    # and alone was 37% of headline wall; tau = 0.7 runs the SAME
    # int-encoded _ssj_impl code path at ~2.5x lower candidate volume.
    # q154 itself is probe-only (scale story in SCALE.md), the q139
    # precedent.
    "q154b_set_similarity_tau07",
    "q158_ohlc_bars",
    "q161_rfm_segments",
    "q164_bloom_membership",
    "q165_kmeans_lloyd_step",
    # late round 6: SemDeDup within-cell prune — the cell-key equi-join
    # that bounds the pair space (sum of cell sizes squared, not n^2)
    "q170_semdedup_prune",
    # round 7 second wave: BPE merge-pair counting (vocabulary-sized
    # explode), exact Mann-Whitney AUC + two-sample KS (both are
    # grouped_prefix_sum consumers — the two-level bounded-state
    # prefix), positional phrase search (postings adjacency join), and
    # the percent_rank/cume_dist battery (per-nation windows). q181's
    # broadcast-margin chi-square is probe-only (its cost is three
    # aggregates of a tiny table — nothing to gate).
    "q178_bpe_merge_pairs",
    "q179_auc_mann_whitney",
    "q180_ks_two_sample",
    "q182_phrase_search",
    "q183_percent_rank_cume_dist",
    # round 8: Spearman over distinct-domain rank frames, calendar-
    # bounded ACF, hashing-trick scorer (the one honest linear-in-tokens
    # pass), vocabulary-bounded Zipf fit, and two-pass logistic IRLS.
    # All five carry 1x/10x curves in SCALE.md (the r7 discipline).
    # q194 (two aggregates of a 35-row frame) and q197 (output-bound on
    # this fixture's vocabulary, the q154-tau-0.5 policy) are probe-only.
    "q191_spearman_corr",
    "q192_acf_daily_mean",
    "q193_hashed_linear_scorer",
    "q195_zipf_slope",
    "q196_logistic_irls_step",
    # round-8 second wave: two PCA power steps — four keyed aggregates
    # over the exploded (vec_id, pos) frame, integer-exact throughout
    "q198_pca_power_iteration",
    # vocabulary-growth fit: vocabulary-bounded first-occurrence pass
    "q199_heaps_law",
    # cross-source contamination matrix: pair join bounded by
    # vocab x sources^2, never by corpus rows
    "q200_source_overlap_matrix",
    # deterministic weighted sampling (salted top-k-per-stratum) and
    # the one-pass B=32 Poisson bootstrap
    "q201_weighted_sample_aes",
    "q202_poisson_bootstrap_ci",
    # conditional bigram entropy: vocabulary^2-bounded term frame
    "q203_conditional_entropy",
    # round 9: corpus-trained bigram-LM document scoring (vocab²-bounded
    # model joins; per-doc output → noop sink) and the shingle
    # first-occurrence novelty election (one shuffle on the md5 shingle
    # key). Both carry 1x/10x curves in SCALE.md: 1.5x and 3.7x at 10x.
    # q204 (scratch-write-bound), q206 (one-pass top-20), q207 (tiny
    # scaffold aggregates), q208 (calendar²-bounded pairs) are
    # probe-only — flat at 10x, nothing for the bench to gate.
    "q205_bigram_perplexity",
    "q209_doc_novelty",
    # round 10 — q221: novelty-vs-standing-index (the streaming ingest's
    # scoring path as a batch citizen; 1x/10x = 1.92/2.47 s, SCALE.md).
    # q217b is probe-only like the q217 baseline it blocks: the uniform-
    # random fixture defeats LSH blocking by construction (SCALE.md
    # round-10 note), so its bench number would measure the fixture,
    # not the operator.
    "q221_novelty_vs_index",
    # q222: hard-negative mining — broadcast-anchor one-scan contract;
    # 1x/10x = 0.85/1.03 s (SCALE.md)
    "q222_hard_negative_mining",
    # q223: kNN label eval — broadcast probes, probe-bounded election;
    # 1x/10x = 1.30/2.15 s (SCALE.md)
    "q223_knn_label_eval",
    # round 11 — q224: semantic decontamination (broadcast eval probes,
    # corpus hashed once); q225: perceptual-hash near-dup (Arrow dHash +
    # band equi-join); q226: the composed curation pipeline (per-doc
    # output -> noop sink). 1x/10x curves in SCALE.md round-11.
    "q224_semantic_decontaminate",
    "q225_perceptual_hash_near_dup",
    "q226_curation_pipeline",
    # late round 11 — q229: temperature mixing (one scan + broadcast
    # plan table; 1x/10x/25x = 0.86/1.48/1.43 s). q231: DSIR importance
    # top-k (two scans vs a broadcast 2048-row model; 2.04/1.32/1.85 s).
    # q232: BPE fertility by source (vocabulary-bounded after one token
    # pass; 2.82/1.61/2.00 s). q233: k-center greedy (K bounded scans
    # vs literal centers; 4.96/4.02/5.09 s — scheduling floor).
    # q227/q228 stay un-benched: both share q226's curation_verdict /
    # q225's pair plan (one code path, two views), so a bench entry
    # would double-count the same operator. q230 is probe-only — the
    # near-dup-saturated fixture makes pair-confirm candidates
    # quadratic by construction (q212/q140 policy; SCALE.md
    # accounting).
    "q229_temperature_mix_sample",
    "q231_dsir_importance",
    "q232_bpe_fertility_by_source",
    "q233_kcenter_coreset",
    # q235: bounded-probe JL distortion audit (flat: 1.79/1.81/1.44 s at
    # 1x/10x/25x — the audit slice is constant; the projection itself is
    # the per-row map term). q236: q229's plan + a |sources|-row rollup
    # (1.26/1.67/2.00 s). q234 is probe-only — an ingest SIMULATION with
    # sequential per-batch parquet commits (the q204 scratch policy;
    # per-batch cost in SCALE.md).
    "q235_jl_projection_audit",
    "q236_mix_plan_report",
    # q237: the components family's bench representative (q73b itself
    # stays probe-only): LSH star edges + O(log d) label propagation +
    # the split hash — 6.81/7.16/17.2 s at 1x/10x/25x (2.5x wall at 25x
    # data; growth = band-bucket density, the dedup family's caveat).
    # q238: one token pass + grouped two-level tiles — 1.85/2.37/2.30 s.
    "q237_leakage_aware_split",
    "q238_quality_terciles_by_source",
    # q239: one-pass signal extraction — 1.17/2.92/4.81 s at 1x/10x/25x
    # (4.1x wall for 25x data; pure scan growth). Round 12: top-token
    # share rewritten to the sorted run-length fold; re-probed
    # 0.83/1.57/3.70 s same-session.
    "q239_quality_signals",
    # round 12 — q240/q241/q242/q244/q246 are probe-only under the q204/q234
    # scratch policy: index builds / ingest simulations with per-batch
    # or per-table scratch commits (wall time measures commit cadence;
    # per-batch costs and sf0.01/sf0.1 walls in SCALE.md round-12).
    # q243 is probe-only under the q212/q230 fixture policy: the
    # id-shifted copy corpus multiplies BOTH sides of the eval-candidate
    # join, so scored-candidate mass grows quadratically by construction
    # (9.1/12.8/56.7 s at 1x/10x/25x — accounting in SCALE.md).
    # round 13 — q250: flat 2.2/2.4/2.9 s at 1x/10x/25x (two corpus
    # passes + band-bounded shuffles + 4-cell rollup). q249 is
    # probe-only under q204's scratch-write-bound exclusion (it builds
    # the persisted band index before auditing it — flat 6.7/6.8/7.2 s,
    # but the wall is the build's write + job chain, not the audit);
    # q251 is probe-only BY DESIGN: its dense ground-truth join is
    # |corpus| x |eval| (an eval operator — 11.6/17.1/67.2 s at
    # 1x/10x/25x, both sides grow with copies); q247/q248 are
    # probe-only under the q240/q241 scratch-index-commit policy
    # (per-batch walls in SCALE.md round-13).
    "q250_modality_dup_agreement",
    # q252: flat 1.9/1.7/2.1 s at 1x/10x/25x — one index-key pass, a
    # kilobyte bloom broadcast, a probe-bounded groupBy.
    "q252_bloom_membership_audit",
    # q254: flat 3.2/3.5/3.7 s at 1x/10x/25x — q252's pass + a kilobyte
    # bit_count aggregate; the bloom tier's measurement loop.
    "q254_bloom_load_audit",
    # q245: flat 3.4/3.2/3.4 s at 1x/10x/25x — live-bucket-bounded count
    # shuffle + 8-row rollup; bench citizen.
    "q245_lsh_occupancy_audit",
    # round 14 — substring-level span dedup: one md5 per token position,
    # hash-keyed multiplicity groupBy + semi-join, islands per doc.
    # q256 sub-linear 2.2/2.8/3.8 s at 1x/10x/25x; q258 adds the
    # per-key row_number election, 2.3/2.8/3.1 s. (q257 shares q256's
    # passes + a rollup — not double-counted; q255/q259 are scratch-
    # index-write-bound, probe-only by the q244 policy.)
    "q256_duplicated_spans",
    "q258_span_trim_plan",
    # q261: flat 0.9/1.4/1.4 s at 1x/10x/25x — one narrow window-key
    # pass + a 16-row shard rollup.
    "q261_span_index_audit",
    # q262: sub-linear 2.6/3.5/4.6 s — the trim APPLY (posexplode +
    # range anti-join + per-doc re-assembly).
    "q262_span_trim_apply",
]


WARMUP_SF_DIR = "/root/testdata/sf0.001"

# Queries whose OUTPUT grows with the input (per-row window results,
# sessionized event streams): timing .collect() on these measures driver
# serialization + transfer, not the operator (SCALE.md's 50x q92 row was
# ~51 s of collect over ~2 s of plan execution). These run to a noop
# sink instead — full plan executes (including the final sort), nothing
# leaves the executors. Small-output queries keep .collect() so the
# numbers stay comparable with rounds 1-3.
LARGE_OUTPUT = {
    "q92_session_window",
    "q105_batch_sessionize",
    "q32_lag_lead",
    "q34_moving_avg_rows_frame",
    # per-row window outputs: collect() would time driver transfer
    "q148_distribution_windows",
    "q149_locf_forward_fill",
    # near-pair output grows QUADRATICALLY on the id-shifted copy
    # corpus (identical names across copies are true distance-0 pairs:
    # 1510 pairs at 1x -> 16.5M at 10x, measured) — collect() would
    # time a 16.5M-row transfer, not the join
    "q140_levenshtein_pairs",
    # same copy-corpus quadratic-output shape: every document gains N-1
    # exact copies, all Jaccard-1.0 true pairs (J=1 >= any tau, so the
    # tau=0.7 bench twin has it too)
    "q154_set_similarity_join",
    "q154b_set_similarity_tau07",
    # per-customer window output: one row per input row
    "q183_percent_rank_cume_dist",
    # per-document outputs: one row per doc, corpus-linear
    "q205_bigram_perplexity",
    "q209_doc_novelty",
    # per-doc verdict/audit outputs: one row per corpus doc
    "q224_semantic_decontaminate",
    "q226_curation_pipeline",
    "q256_duplicated_spans",
    "q258_span_trim_plan",
    "q262_span_trim_apply",
}


def run_action(name: str, df) -> None:
    """Execute a query's full plan with the timing-appropriate action."""
    if name in LARGE_OUTPUT:
        df.write.format("noop").mode("overwrite").save()
    else:
        df.collect()


def bench_streaming_pipeline(spark, variant: str = "keyed_state", n_ops: int = 50_000) -> dict:
    """Throughput of the reference-shaped streaming path: N logical ops
    delivered 3x (one per replica member) through source → pushed-down
    filter → majority-quorum dedup → sink. The reference's own envelope
    was 9 cursors into a 128-slot queue with per-record ES flush
    (BASELINE.md); this measures the Spark twin end to end.

    variants: 'keyed_state' (the quorum_dedup_stream operator) and
    'passthrough' (source → filter → sink with NO dedup — the harness
    floor; quorum cost is the delta)."""
    import shutil
    import tempfile

    from flink_mingo_tail_spark.streaming.pipeline import oplog_filter
    from flink_mingo_tail_spark.streaming.quorum import quorum_dedup_stream
    from flink_mingo_tail_spark.streaming.replay import OplogCase, op_rows, write_batch

    tmp = tempfile.mkdtemp(prefix="fmts-bench-stream-")
    try:
        src, ck = f"{tmp}/src", f"{tmp}/ck"
        write_batch(spark, op_rows(OplogCase(n_ops=n_ops, include_noise=False)), src)
        stream = spark.readStream.schema(
            "ts_t int, ts_i int, h long, op string, ns string, fromMigrate boolean, "
            "o string, o2 string, shard string, member_host string"
        ).parquet(src)
        filtered = oplog_filter(stream)
        if variant == "passthrough":
            deduped = filtered
        else:
            deduped = quorum_dedup_stream(filtered, replica_depth=3)
        start = time.perf_counter()
        q = (
            deduped.writeStream.outputMode("append")
            .format("parquet")
            .option("path", f"{tmp}/out")
            .option("checkpointLocation", ck)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        elapsed = time.perf_counter() - start
        emitted = spark.read.parquet(f"{tmp}/out").count()
        expect = n_ops * 3 if variant == "passthrough" else n_ops
        assert emitted == expect, f"streaming bench lost ops ({variant}): {emitted}/{expect}"
        return {
            "n_ops": n_ops,
            "deliveries": n_ops * 3,
            "wall_sec": round(elapsed, 3),
            "ops_per_sec": round(n_ops / elapsed, 1),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _best_streaming(spark, variant: str, n: int = 3) -> dict:
    """Min-of-n wall (max ops/s) over full pipeline replays."""
    best: dict = {}
    for _ in range(n):
        r = bench_streaming_pipeline(spark, variant)
        if not best or r["wall_sec"] < best["wall_sec"]:
            best = r
    return best


def main() -> None:
    registry = load_registry()
    spark = build_session("fmts-bench")

    # --- Streaming CDC benches FIRST-IN-RUN (round-3 verdict: the r3
    # numbers regressed ~25% vs r1 with the CDC run scheduled after a
    # 28-query batch session — heap/codegen-cache pressure from the
    # batch mix polluted the measurement). Order: small warm-up replay
    # per variant (Python worker pool + state-store spin-up), then
    # min-of-3 on a quiet JVM. 'passthrough' measures the identical
    # pipeline with no dedup operator — the harness floor — so the
    # quorum operator's own cost is reported as the delta.
    for variant in ("passthrough", "keyed_state"):
        bench_streaming_pipeline(spark, variant, n_ops=2_000)
    streaming_floor = _best_streaming(spark, "passthrough")
    streaming = _best_streaming(spark, "keyed_state")
    streaming["quorum_overhead_sec"] = round(streaming["wall_sec"] - streaming_floor["wall_sec"], 3)

    # Warm-up at the smallest SF: compiles every plan's codegen, spins up
    # Python/Arrow workers, and touches the file index — so the timed runs
    # below measure steady-state engine throughput at the target SF, not
    # one-time JIT costs. (~10 s, excluded from the metric.)
    for name in TABLE_NAMES:
        load_table(spark, SF_DIR, name).count()
    for name in HEADLINE:
        qd = registry.get(name)
        if qd is not None:
            run_action(name, qd.fn(spark, WARMUP_SF_DIR))

    # min-of-3 per query, taken over ROUND-ROBIN passes (not back-to-back
    # repeats): host-level noise on this box arrives in multi-second
    # bursts, so consecutive repeats of one query land inside the same
    # burst while whole-list passes decorrelate the samples. Reported
    # time is steady-state engine throughput, not OS-cache/GC/JIT noise.
    timings: dict[str, float] = {}
    for _ in range(3):
        for name in HEADLINE:
            qd = registry.get(name)
            if qd is None:
                continue
            start = time.perf_counter()
            run_action(name, qd.fn(spark, SF_DIR))
            elapsed = time.perf_counter() - start
            timings[name] = round(min(timings.get(name, float("inf")), elapsed), 3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    emit_results(
        timings,
        sf=float(sf) if sf.replace(".", "").isdigit() else sf,
        streaming=streaming,
        streaming_floor=streaming_floor,
    )


def emit_results(timings, sf, streaming, streaming_floor) -> None:
    """Print the full per-query detail on its OWN stdout line (and a
    sidecar file), then the driver-facing summary as the FINAL line.

    The driver captures only the last ~2,000 bytes of stdout and parses
    the last JSON line in that window; round 8's single full line grew
    past the window as the headline set reached 56 queries, so the
    official record of the metric was a front-truncated string
    (BENCH_r08.json "parsed": null). The final line is therefore kept
    compact and bounded (~300 bytes regardless of query count) while
    the per-query map lives one line earlier and in the sidecars.

    Sidecars: the per-query map is written BOTH to bench_detail.json
    (historical path, last-run-wins) and to a run-keyed
    bench_detail_c{cpus}.json — the driver benches the same tree at two
    core counts back to back, and round 14's single sidecar was
    clobbered by whichever run went last (the 8-core control overwrote
    the official 32-core record; PERF_r14 adjudication had to be
    reconstructed from stdout tails). scripts/bench_compare.py diffs two
    run-keyed sidecars into the PERF-shaped per-query table.
    """
    full = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": LOCAL_CPUS,
        "streaming_cdc": streaming,
        "streaming_cdc_floor": streaming_floor,
    }
    detail_path = os.path.join(REPO_DIR, "bench_detail.json")
    keyed_path = os.path.join(REPO_DIR, f"bench_detail_c{full['cpus']}.json")
    try:
        for path in (detail_path, keyed_path):
            with open(path, "w") as f:
                json.dump(full, f, indent=1, sort_keys=True)
                f.write("\n")
    except OSError:
        detail_path = None
    print(json.dumps(full))
    summary = {
        "metric": "headline_queries_total_wall",
        "value": full["value"],
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "queries_detail": detail_path or "see previous stdout line",
        "streaming_cdc_ops_per_sec": streaming.get("ops_per_sec"),
        "streaming_cdc_floor_ops_per_sec": streaming_floor.get("ops_per_sec"),
    }
    line = json.dumps(summary)
    if len(line) >= 1500:  # not assert: must survive python -O
        raise RuntimeError(f"final bench line must stay tail-parsable ({len(line)}B)")
    print(line)


if __name__ == "__main__":
    main()
