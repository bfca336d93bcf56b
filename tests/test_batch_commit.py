"""The per-batch commit protocol (streaming/batch_commit.py) of the four
foreachBatch ingest streams under a crashed attempt: a batch directory
holding parquet parts but no _SUCCESS marker must stay invisible to
the readers, and re-running the batch must overwrite it, leaving the
same output as a run that never crashed."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_mingo_tail_spark.operators.dedup import build_dedup_index
from flink_mingo_tail_spark.streaming.batch_commit import committed_batch_dirs
from flink_mingo_tail_spark.streaming.curation_ingest import (
    build_eval_gram_set,
    make_curation_ingest_batch_fn,
)
from flink_mingo_tail_spark.streaming.dedup_ingest import make_dedup_ingest_batch_fn
from flink_mingo_tail_spark.streaming.novelty_ingest import (
    build_novelty_index,
    make_novelty_batch_fn,
)
from flink_mingo_tail_spark.streaming.zonemap_ingest import (
    make_zonemap_batch_fn,
    read_zone_map,
)
from flink_mingo_tail_spark.tables import load_table

from .conftest import SF_SMOKE


def _docs(spark):
    return load_table(spark, SF_SMOKE, "documents")


def _dedup(spark, shared, root):
    d = _docs(spark).select("doc_id", "text")
    build_dedup_index(d.filter(F.col("doc_id") % 3 == 0), f"{root}/idx")
    fn = make_dedup_ingest_batch_fn(f"{root}/idx", f"{root}/out")
    return fn, [d.filter(F.col("doc_id") % 3 == k) for k in (1, 2)]


def _novelty(spark, shared, root):
    d = _docs(spark).select("doc_id", "text")
    build_novelty_index(d.filter(F.col("doc_id") % 2 == 0), f"{root}/idx")
    fn = make_novelty_batch_fn(f"{root}/idx", f"{root}/out")
    return fn, [d.filter(F.col("doc_id") % 4 == k) for k in (1, 3)]


def _curation(spark, shared, root):
    d = _docs(spark).select("doc_id", "source", "lang", "n_chars", "text")
    build_eval_gram_set(d, f"{root}/eval_grams")
    fn = make_curation_ingest_batch_fn(
        f"{root}/index", f"{root}/eval_grams", f"{root}/out"
    )
    return fn, [d.filter(F.expr("doc_id DIV 100") == b) for b in (0, 1)]


def _zonemap(spark, shared, root):
    # the input files are shared by both runs: the map records file paths
    batches = []
    for w in (0, 1):
        data = f"{shared}/data{w}"
        if not os.path.exists(data):
            (
                _docs(spark)
                .select("doc_id", "n_chars")
                .filter(F.col("doc_id") % 2 == w)
                .repartition(2)
                .write.parquet(data)
            )
        batches.append(spark.read.parquet(data).select("*", "_metadata"))
    return make_zonemap_batch_fn(f"{root}/out", ["doc_id", "n_chars"]), batches


def _read(spark, out, prefix):
    """Every reader of the committed output, rows in a stable order."""
    if prefix == "batch_id=":
        df = read_zone_map(spark, out)
    else:
        df = spark.read.parquet(*committed_batch_dirs(spark, out, prefix).values())
    return sorted(df.collect(), key=repr)


@pytest.mark.parametrize(
    "setup, prefix",
    [
        (_dedup, "ingest_batch="),
        (_novelty, "novelty_batch="),
        (_curation, "ingest_batch="),
        (_zonemap, "batch_id="),
    ],
    ids=["dedup", "novelty", "curation", "zonemap"],
)
def test_partial_batch_dir_is_unread_and_overwritten(spark, tmp_path, setup, prefix):
    shared = str(tmp_path)
    fn, (b0, b1) = setup(spark, shared, f"{shared}/clean")
    fn(b0, 0)
    fn(b1, 1)
    clean = _read(spark, f"{shared}/clean/out", prefix)

    root = f"{shared}/crashed"
    fn, (b0, b1) = setup(spark, shared, root)
    out = f"{root}/out"
    fn(b0, 0)
    before = _read(spark, out, prefix)
    # a crashed attempt at batch 1: parquet parts, no commit marker
    stray_dir = f"{out}/{prefix}1"
    spark.read.parquet(f"{out}/{prefix}0").limit(1).write.parquet(stray_dir)
    os.remove(f"{stray_dir}/_SUCCESS")

    assert set(committed_batch_dirs(spark, out, prefix)) == {0}
    assert _read(spark, out, prefix) == before, "a reader returned the stray rows"
    fn(b1, 1)
    assert set(committed_batch_dirs(spark, out, prefix)) == {0, 1}
    assert _read(spark, out, prefix) == clean
