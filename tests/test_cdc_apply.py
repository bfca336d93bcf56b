"""Incremental CDC apply (streaming/apply.py): upserts and deletes across
micro-batches materialize the correct current state, idempotently."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_mingo_tail_spark.streaming.apply import apply_cdc_stream, latest_state_batch


def _write(spark, path, rows):
    spark.createDataFrame(
        rows, schema="key long, op string, seq long, payload string"
    ).coalesce(1).write.mode("append").parquet(path)


@pytest.mark.parametrize("as_uri", [False, True], ids=["path", "uri"])
def test_apply_cdc_stream_upserts_and_deletes(spark, tmp_path, as_uri):
    """The same run on a plain local path and on a file:// URI: the
    state swap goes through the Hadoop FileSystem, not os/shutil."""
    base = tmp_path.as_uri() if as_uri else str(tmp_path)
    src = f"{base}/src"
    state = f"{base}/state"
    ck = f"{base}/ck"

    # batch 1: insert k1, k2, k3
    _write(spark, src, [(1, "i", 1, "a1"), (2, "i", 2, "b1"), (3, "i", 3, "c1")])
    stream = spark.readStream.schema("key long, op string, seq long, payload string").parquet(src)
    q = apply_cdc_stream(stream, state, ck, key="key", order_by=["seq"])
    try:
        q.processAllAvailable()
        s1 = {(r.key, r.payload) for r in spark.read.parquet(state).collect()}
        assert s1 == {(1, "a1"), (2, "b1"), (3, "c1")}

        # batch 2: update k1 twice (latest wins), delete k2, insert k4
        _write(
            spark,
            src,
            [(1, "u", 4, "a2"), (1, "u", 5, "a3"), (2, "d", 6, None), (4, "i", 7, "d1")],
        )
        q.processAllAvailable()
        s2 = {(r.key, r.payload) for r in spark.read.parquet(state).collect()}
        assert s2 == {(1, "a3"), (3, "c1"), (4, "d1")}
    finally:
        q.stop()

    # restart from checkpoint: nothing new → state unchanged (idempotent)
    stream = spark.readStream.schema("key long, op string, seq long, payload string").parquet(src)
    q = apply_cdc_stream(stream, state, ck, key="key", order_by=["seq"])
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    s3 = {(r.key, r.payload) for r in spark.read.parquet(state).collect()}
    assert s3 == {(1, "a3"), (3, "c1"), (4, "d1")}


def test_latest_state_batch_compaction(spark):
    df = spark.createDataFrame(
        [
            (1, "i", 1, "a1"),
            (1, "u", 2, "a2"),
            (2, "i", 3, "b1"),
            (2, "d", 4, None),
            (3, "d", 5, None),
            (3, "i", 6, "c1"),  # re-insert after delete: latest wins
        ],
        schema="key long, op string, seq long, payload string",
    )
    state = latest_state_batch(df, key="key", order_by=["seq"])
    got = {(r.key, r.payload) for r in state.collect()}
    assert got == {(1, "a2"), (3, "c1")}


def test_apply_cdc_stream_recovers_from_interrupted_swap(spark, tmp_path):
    """A crash between 'rename state aside' and 'rename tmp in' must not
    lose prior keys: the next batch recovers state from the .old dir."""
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    _write(spark, src, [(1, "i", 1, "a1"), (2, "i", 2, "b1")])
    stream = spark.readStream.schema("key long, op string, seq long, payload string").parquet(src)
    q = apply_cdc_stream(stream, state, ck, key="key", order_by=["seq"])
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # simulate the torn swap: state renamed aside, replacement never landed
    import os

    os.rename(state, state + ".old")

    _write(spark, src, [(3, "i", 3, "c1")])
    stream = spark.readStream.schema("key long, op string, seq long, payload string").parquet(src)
    q = apply_cdc_stream(stream, state, ck, key="key", order_by=["seq"])
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r.key, r.payload) for r in spark.read.parquet(state).collect()}
    assert got == {(1, "a1"), (2, "b1"), (3, "c1")}
