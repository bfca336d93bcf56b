"""Persisted sign-LSH SEMANTIC standing index — the embedding modality's
twin of ``operators/dedup.py``'s content-hash + MinHash-band index
(round-11 verdict "What's missing #1": the streaming curation loop probed
exact-hash / gram-set / band state incrementally, but semantic candidates
were re-derived per batch or skipped).

Layout under ``{path}/``, mirroring the dedup index:

* ``buckets``  — (tbl, bucket, vid), hive-partitioned by ``shard``
  (md5-long low bits of ``tbl:bucket``) — the seeded sign-LSH keys of
  every indexed vector, L keys per row (or ``(n_bits+1)·L`` for an
  ``expanded`` index, below);
* ``vectors``  — (vid, v) — the indexed vectors themselves, because a
  sign-LSH bucket collision is a CANDIDATE, not a verdict: the probe
  re-ranks candidates with the exact 6-digit-grid cosine against these
  stored vectors (unlike the MinHash band table, where a 1×8 band
  collision IS the near-dup verdict);
* ``manifest`` — one row (n_tables, n_bits, seed, dim, expanded,
  n_shards). Probe parameters are read from here, never trusted from
  the caller (operators/standing_index.py's rule: a silently
  mismatched sharding or plane seed classifies everything as 'new').

Hamming-1 multi-probe lives on exactly ONE side of the bucket join —
whichever is bounded — and the manifest records which:

* ``expanded=True``  — the STATIC / bounded index (a held-out eval set,
  q224's shape): the fan-out cost, ``(n_bits+1)·L`` keys per vector, is
  paid once at build time; every future probe batch hashes plain
  (L keys per row).  This is the decontamination direction.
* ``expanded=False`` — the GROWING / corpus index (incremental SemDeDup,
  q170's family): the index stores plain keys and each bounded probe
  batch fans out its own Hamming-1 variants.

Either way probe∩index coverage is "bucket Hamming distance ≤ 1 in any
table", identical to q224/q217b's multi-probe recall shape, and the
corpus is never self-joined.

100 TB shape: the bucket join is an equi-join on (shard, tbl, bucket)
with the bounded side broadcast; candidates are occupancy-bounded by
the auto_n_bits rule (operators/similarity.py); the re-rank touches
only candidate (pid, vid) pairs. Appends are membership-monotone like
the dedup index — replaying an ingest batch re-inserts existing keys,
which costs bytes, never correctness.

Reference parity: extends the reference's standing-state CDC discipline
(SURVEY §2A A6/A7 — flink-mingo-tail keeps quorum state keyed by _id,
`MongoDBOplogTailMapper.java`) to the embedding modality; no reference
twin exists for the index itself.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_mingo_tail_spark.operators.dedup import md5_long
from flink_mingo_tail_spark.operators.similarity import (
    auto_n_bits,
    dot,
    hyperplane_tables,
    l2_norm,
    lsh_keys,
    lsh_probe_keys,
)
from flink_mingo_tail_spark.operators.standing_index import (
    _swap_rewrite_distinct,
    require_manifest,
    resolve_params,
    write_manifest,
)

_SEM_MANIFEST_SCHEMA = (
    "n_tables int, n_bits int, seed int, dim int, expanded boolean, n_shards int"
)

# Canonical sign-LSH table count — build_semantic_index's n_tables
# default. Exported so oracles that replay the index's fan-out
# arithmetic (q244's bucket-row accounting) interpolate THIS name
# instead of a bare literal silently coupled to the default
# (ADVICE round 12).
DEFAULT_N_TABLES = 8
_SEM_DEFAULTS = {
    "n_tables": DEFAULT_N_TABLES, "seed": 42, "dim": 64, "expanded": False, "n_shards": 16
}

# Canonical semantic-hit threshold (rounded cosine >= tau vs ANY indexed
# vector). queries/similarity.py's _SEM_TAU aliases this — one spelling
# for q224, q240/q241, and the streaming ingest stage.
DEFAULT_SEM_TAU = 0.3

# Canonical SemDeDup duplicate threshold (q170's epsilon-ball rule).
# queries/similarity.py's _SEMDEDUP_TAU aliases this — one spelling for
# q170/q171, q242, and the ingest's growing-index semantic-dup stage.
DEFAULT_SEM_DUP_TAU = 0.25


def _bucket_shard(tbl, bucket, n_shards: int):
    """Deterministic directory shard for a bucket key: low bits of the
    engine-portable md5-long over 'tbl:bucket'. Computed from the key on
    BOTH sides of the probe join, so it is never guessed."""
    key = F.concat_ws(":", tbl.cast("string"), bucket.cast("string"))
    return F.pmod(md5_long(key), F.lit(n_shards))


def _tables_from(manifest: dict) -> list[np.ndarray]:
    """Reconstruct the seeded hyperplane tables from manifest params —
    same (seed, n_tables, n_bits, dim) => bit-identical planes, so the
    probe side always hashes with the planes the index was built with."""
    return hyperplane_tables(
        n_tables=manifest["n_tables"],
        n_bits=manifest["n_bits"],
        dim=manifest["dim"],
        seed=manifest["seed"],
    )


def build_semantic_index(
    vectors: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int | None = None,
    n_bits: int | None = 6,
    seed: int | None = None,
    dim: int | None = None,
    expanded: bool | None = None,
    n_shards: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize (or ``mode='append'``-extend) the semantic index.

    ``expanded=True`` fans the Hamming-1 probe variants out at build
    time (static bounded index — q224's eval side); ``expanded=False``
    (the default) stores plain keys (growing corpus index — probes fan
    out instead). Unset parameters default to DEFAULT_N_TABLES tables,
    seed 42, dim 64 and 16 shards. ``append`` follows the standing-index
    rule (operators/standing_index.resolve_params): unset parameters
    come from the manifest and a contradicting one is refused,
    including ``expanded`` — mixing plain and fanned keys in one bucket
    table would silently double-count Hamming coverage on some rows and
    halve it on others.

    ``n_bits=None`` auto-sizes the bucket width from the build frame's
    count via the codified occupancy rule (operators/similarity.
    auto_n_bits — n_bits ∝ log n, expected occupancy pinned at the
    target as the corpus grows). The RESOLVED width lands in the
    manifest, so probes and appends always hash with the planes the
    index was built with — auto-sizing never re-resolves on a grown
    index (re-bucketing is a rebuild, by design: bucket ids are not
    comparable across widths). On append, ``n_bits=None`` inherits the
    manifest's resolved width instead."""
    spark = vectors.sparkSession
    params = resolve_params(
        spark, path, _SEM_MANIFEST_SCHEMA, "semantic", mode,
        {
            "n_tables": n_tables,
            "n_bits": n_bits,
            "seed": seed,
            "dim": dim,
            "expanded": expanded,
            "n_shards": n_shards,
        },
        _SEM_DEFAULTS,
    )
    if params["n_bits"] is None:
        params["n_bits"] = auto_n_bits(vectors.count())
    n_bits, n_shards = params["n_bits"], params["n_shards"]
    tables = _tables_from(params)
    src = vectors.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
    keyed = (
        lsh_probe_keys(src, "vid", "v", tables, n_bits)
        if params["expanded"]
        else lsh_keys(src, "vid", "v", tables)
    )
    buckets = keyed.withColumn(
        "shard", _bucket_shard(F.col("tbl"), F.col("bucket"), n_shards)
    )
    buckets.write.mode(mode).partitionBy("shard").parquet(f"{path}/buckets")
    src.write.mode(mode).parquet(f"{path}/vectors")
    if mode == "overwrite":
        write_manifest(spark, path, _SEM_MANIFEST_SCHEMA, params)


def probe_semantic_index(
    probes: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = DEFAULT_SEM_TAU,
    broadcast_side: str = "auto",
) -> DataFrame:
    """(id_col, semantic_hit) — True iff the probe vector's exact
    rounded cosine against ANY indexed vector reaches ``tau``, with
    candidates generated by the persisted sign-LSH buckets (bucket
    Hamming ≤ 1 in any table — q224's monotone flagging, so hits are a
    true subset of the dense answer and precision is 1.0 by
    construction).

    The probe side hashes with the manifest's planes: plain keys
    against an ``expanded`` index, Hamming-1 fanned keys against a
    plain one — exactly one side ever fans out. ``broadcast_side``
    picks which side of the bucket join (and the matching re-rank
    vector frame) is broadcast: 'index' for a bounded static index
    (decontamination), 'probe' for a bounded batch against a corpus
    index (streaming ingest), 'auto'/'none' to let AQE decide.
    """
    if broadcast_side not in ("auto", "none", "index", "probe"):
        raise ValueError(f"broadcast_side must be auto|none|index|probe, got {broadcast_side!r}")
    spark = probes.sparkSession
    manifest = require_manifest(spark, path, _SEM_MANIFEST_SCHEMA, "semantic")
    tables = _tables_from(manifest)
    n_shards = manifest["n_shards"]

    src = probes.select(F.col(id_col).alias("pid"), F.col(vec_col).alias("pv"))
    keyed = (
        lsh_keys(src, "pid", "pv", tables)
        if manifest["expanded"]
        else lsh_probe_keys(src, "pid", "pv", tables, manifest["n_bits"])
    )
    probe_keys = keyed.withColumn(
        "shard", _bucket_shard(F.col("tbl"), F.col("bucket"), n_shards)
    )

    idx_buckets = spark.read.parquet(f"{path}/buckets")
    # r15 norm-carrying: each side's L2 norm once per VECTOR row before
    # the candidate re-rank (the r14 pair-join lever) — the in-place
    # rounded_cosine paid three folds per candidate; same l2_norm
    # subtree, same operand order (l2(pv) * l2(v)) → bit-identical.
    idx_vectors = spark.read.parquet(f"{path}/vectors").withColumn(
        "_nv", l2_norm(F.col("v"))
    )
    srcn = src.withColumn("_np", l2_norm(F.col("pv")))
    if broadcast_side == "index":
        idx_buckets, idx_vectors = F.broadcast(idx_buckets), F.broadcast(idx_vectors)
    elif broadcast_side == "probe":
        probe_keys = F.broadcast(probe_keys)

    cand = (
        probe_keys.join(idx_buckets, ["shard", "tbl", "bucket"])
        .select("pid", "vid")
        .distinct()
    )
    rerank = cand.join(idx_vectors, "vid").join(
        F.broadcast(srcn) if broadcast_side == "probe" else srcn, "pid"
    )
    hits = (
        rerank.filter(
            F.round(
                dot(F.col("pv"), F.col("v")) / (F.col("_np") * F.col("_nv")), 6
            )
            >= F.lit(tau)
        )
        .select("pid")
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    return (
        probes.select(F.col(id_col))
        .distinct()
        .join(hits.withColumnRenamed("pid", id_col), id_col, "left")
        .select(
            id_col, F.coalesce(F.col("__hit"), F.lit(False)).alias("semantic_hit")
        )
    )


def compact_semantic_index(spark, path: str) -> dict[str, tuple[int, int]]:
    """Compact a churned semantic index in place (the dedup-index
    compaction contract, operators/dedup.compact_dedup_index): replayed
    ingest appends re-insert (tbl, bucket, vid) keys and (vid, v) rows
    already present; this rewrites both tables as their distinct row
    sets, sharding and manifest preserved. Returns
    {table: (rows_before, rows_after)}. Probe verdicts are identical
    before and after — candidates are deduplicated by the probe's own
    DISTINCT, so duplicate index rows only cost bytes and join fan-in;
    run it in a maintenance window (_swap_rewrite_distinct's race
    note)."""
    require_manifest(spark, path, _SEM_MANIFEST_SCHEMA, "semantic")
    return {
        "buckets": _swap_rewrite_distinct(spark, f"{path}/buckets", "shard"),
        "vectors": _swap_rewrite_distinct(spark, f"{path}/vectors", None),
    }


def audit_semantic_index(spark, path: str) -> DataFrame:
    """q245's occupancy rollup run off the PERSISTED bucket table — one
    narrow scan of ``{path}/buckets``, no re-hashing: per table, live
    bucket count, max/mean occupancy (milli grid) and Σn² (the realized
    candidate-pair mass a bucket equi-join would materialize). The
    a-posteriori check on auto_n_bits' a-priori rule, runnable against
    a production index between ingest batches. Only meaningful for a
    plain-key index (``expanded=False``): a fanned index's bucket rows
    are probes, not members, so the audit refuses it rather than report
    occupancy that is (n_bits+1)× inflated."""
    manifest = require_manifest(spark, path, _SEM_MANIFEST_SCHEMA, "semantic")
    if manifest["expanded"]:
        raise ValueError(
            f"semantic index at {path!r} stores EXPANDED probe keys — "
            "occupancy over fanned rows is not bucket occupancy; audit the "
            "plain-key side instead"
        )
    occ = (
        spark.read.parquet(f"{path}/buckets")
        .groupBy("tbl", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        occ.groupBy("tbl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.max("n").cast("long").alias("max_occ"),
            F.expr(
                "CAST(round(CAST(sum(n) AS DOUBLE) * 1000 / count(*)) AS BIGINT)"
            ).alias("mean_occ_milli"),
            F.sum(F.col("n") * F.col("n")).cast("long").alias("sum_sq"),
        )
        .orderBy("tbl")
    )
