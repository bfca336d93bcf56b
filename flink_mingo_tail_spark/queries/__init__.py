"""Declared query set (SURVEY.md §2B/§2C).

Every implemented operator is exposed as a named query: a callable
``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) an
equivalent ANSI-SQL oracle string run by DuckDB on the same Parquet
tables. The driver hash-compares the two at sf=0.01; tests do the same
locally at sf=0.001 and sf=0.01.

Conventions that make the hash comparison meaningful:

* every computed column is aliased identically in Spark and SQL;
* double aggregates go through ``functions.deterministic`` so the values
  are bit-identical across engines;
* every query output has a deterministic global order *content-wise*
  (the driver sorts before hashing, but ties broken by explicit keys
  keep LIMIT/top-k results stable);
* queries never mutate fixture state and never collect unbounded data
  to the driver (the sole collects are construction-bounded matrices
  and manifests — centroid/codebook frames, q204's ≤17-row zone map —
  and the sole writes are self-cleaned scratch layouts, q204).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    doc: str = ""


REGISTRY: dict[str, QueryDef] = {}


def query(name: str, oracle: str | None):
    """Register a declared query. ``oracle=None`` marks a non-SQL-expressible op."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QueryDef(name=name, fn=fn, oracle=oracle, doc=(fn.__doc__ or "").strip())
        return fn

    return deco


_MODULES = (
    "relational",
    "windows",
    "setops",
    "scalar_funcs",
    "cdc",
    "dedup",
    "similarity",
    "text",
    "streaming_batch",
    "multimodal_udf",
    "indexing",
    "analytics",
    "layout",
    "graph",
    "sketches",
    "frequency",
    "timeseries",
    "stats",
    "model",
)

# The driver's CORRECTNESS pass checks a bounded prefix of the declared
# registry (every round so far recorded exactly the first 50 entries).
_NEEDS_DRIVER_ROW = (
    # ROUND-15 ROTATION (verdict-r14 item 3: front-load every touched
    # query before any drain/refresh name).
    # (a) round-15 touched-code re-proofs — every query whose plan this
    #     optimization round changed (token-count filter in the
    #     set-similarity/containment family; spread() under q202/
    #     percentile/novelty/curation/LM/DSIR map stages; norm- and
    #     reconstruction-carrying through the kNN/PQ scoring paths;
    #     parsed-SQL percentile construction; null-safe components
    #     convergence):
    "q154_set_similarity_join",
    "q154b_set_similarity_tau07",
    "q197_containment_join",
    "q125_equidepth_histogram",
    "q27b_percentile_rank_select",
    "q202_poisson_bootstrap_ci",
    "q221_novelty_vs_index",
    "q226_curation_pipeline",
    "q227_curation_report",
    "q205_bigram_perplexity",
    "q231_dsir_importance",
    "q104_centroid_assign",
    "q76_knn_bruteforce",
    "q78_knn_lsh",
    "q79_knn_ivf",
    "q152_pq_adc_knn",
    "q184_rrf_fusion",
    "q217b_mutual_knn_blocked",
    "q237_leakage_aware_split",
    "q73b_dedup_components",
    "q250_modality_dup_agreement",
    # (b) round-14 heavily-rewritten queries whose rotation slot
    #     predated the r14 target list (verdict-r14 correctness gap —
    #     driver confirmation owed):
    "q224_semantic_decontaminate",
    "q245_lsh_occupancy_audit",
    "q235_jl_projection_audit",
    "q233_kcenter_coreset",
    "q139b_triangles_colorful",
    "q165_kmeans_lloyd_step",
    "q164_bloom_membership",
    "q170_semdedup_prune",
    "q171_semdedup_end_to_end",
    "q209_doc_novelty",
    "q238_quality_terciles_by_source",
    "q193_hashed_linear_scorer",
    "q203_conditional_entropy",
    "q232_bpe_fertility_by_source",
    "q222_hard_negative_mining",
    "q223_knn_label_eval",
    "q229_temperature_mix_sample",
    "q236_mix_plan_report",
    "q180_ks_two_sample",
    "q73_minhash_lsh_dedup",
    "q196_logistic_irls_step",
    "q192_acf_daily_mean",
    # (c) round-9 cohort refresh continues — next ascending names after
    #     round 14's q136–q141 slice
    "q142_lateral_topk_per_region",
    "q143_nullsafe_join",
    "q144_try_arithmetic",
    "q145_arrow_native_features",
    "q146_theta_set_algebra",
    "q147_kll_quantile_rollup",
    "q148_distribution_windows",
)


def load_registry() -> dict[str, QueryDef]:
    """Import all query modules (idempotent) and return the registry,
    ordered so driver-unchecked queries come first (see _NEEDS_DRIVER_ROW)."""
    for mod in _MODULES:
        importlib.import_module(f"flink_mingo_tail_spark.queries.{mod}")
    front = [n for n in _NEEDS_DRIVER_ROW if n in REGISTRY]
    rest = [n for n in REGISTRY if n not in _NEEDS_DRIVER_ROW]
    return {n: REGISTRY[n] for n in (*front, *rest)}
