"""es_bulk Python DataSource writer: executor-side chunked requests,
typed per-partition commit messages, and the driver commit barrier
(`streaming/es_datasource.py`) — batch and streaming, fully hermetic
via transport_dir mode."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from flink_mingo_tail_spark.streaming.es_datasource import (
    BulkCommit,
    ESBulkBatchWriter,
    ESBulkDataSource,
)


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(ESBulkDataSource)
    return spark


def _reqs(outdir):
    return sorted(f for f in os.listdir(outdir) if f.startswith("req-"))


def _commits(outdir):
    return sorted(f for f in os.listdir(outdir) if f.startswith("commit-"))


def test_batch_write_commit_barrier_and_envelope(registered, tmp_path):
    outdir = str(tmp_path / "es")
    os.makedirs(outdir)
    df = registered.createDataFrame(
        [(i, "i", "test.grades") for i in range(8)], schema="h long, op string, ns string"
    ).repartition(4)
    (
        df.write.format("es_bulk")
        .option("url", "http://es:9200")
        .option("index", "oplog-index")
        .option("transport_dir", outdir)
        .mode("append")
        .save()
    )
    commits = _commits(outdir)
    assert commits == ["commit-final.json"]
    total = json.load(open(os.path.join(outdir, commits[0])))
    # every partition reported a receipt; totals add up across requests
    assert total["n_docs"] == 8
    assert total["n_partitions"] == 4
    assert 1 < total["n_requests"] <= 4  # one per non-empty partition here
    reqs = _reqs(outdir)
    assert len(reqs) == total["n_requests"]
    url, ctype, *lines = (
        open(os.path.join(outdir, reqs[0]), "rb").read().decode().strip().split("\n")
    )
    assert url == "http://es:9200/_bulk" and ctype == "application/x-ndjson"
    action, source = json.loads(lines[0]), json.loads(lines[1])
    assert action["index"]["_index"] == "oplog-index"
    assert set(source) == {"data"} and source["data"]["ns"] == "test.grades"
    n_actions = sum(
        1
        for fn in reqs
        for ln in open(os.path.join(outdir, fn)).read().strip().split("\n")[2:]
        if json.loads(ln).get("index")
    )
    assert n_actions == 8


def test_batch_write_chunks_within_partition(registered, tmp_path):
    outdir = str(tmp_path / "es")
    os.makedirs(outdir)
    df = registered.createDataFrame(
        [(i, "i", "t.c") for i in range(5)], schema="h long, op string, ns string"
    ).coalesce(1)
    (
        df.write.format("es_bulk")
        .option("transport_dir", outdir)
        .option("max_docs_per_request", 2)
        .mode("append")
        .save()
    )
    total = json.load(open(os.path.join(outdir, _commits(outdir)[0])))
    assert total == {
        "batch_id": None,
        "n_partitions": 1,
        "n_docs": 5,
        "n_requests": 3,  # 2+2+1
        "n_bytes": total["n_bytes"],
    }
    assert total["n_bytes"] > 0


def test_stream_write_commits_per_microbatch(registered, tmp_path):
    """File stream drip-fed one file per trigger: every micro-batch gets
    its own batch-id-tagged commit marker after its tasks finish."""
    src = str(tmp_path / "src")
    outdir = str(tmp_path / "es")
    ck = str(tmp_path / "ck")
    os.makedirs(outdir)
    for i in range(2):
        registered.createDataFrame(
            [(i * 10 + j, "i", "t.c") for j in range(3)], schema="h long, op string, ns string"
        ).coalesce(1).write.mode("append").parquet(src)
    stream = registered.readStream.schema("h long, op string, ns string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        stream.writeStream.format("es_bulk")
        .option("transport_dir", outdir)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    commits = _commits(outdir)
    assert len(commits) == 2  # one per micro-batch, tagged by batch id
    totals = [json.load(open(os.path.join(outdir, c))) for c in commits]
    assert [t["batch_id"] for t in totals] == [0, 1]
    assert sum(t["n_docs"] for t in totals) == 6


def test_abort_records_receipts_not_deletes(tmp_path):
    """Unit-level protocol check: abort() files the receipts of the
    partitions that finished (idempotent upserts need no delete pass)
    and writes no commit marker."""
    outdir = str(tmp_path / "es")
    os.makedirs(outdir)
    writer = ESBulkBatchWriter({"transport_dir": outdir})
    done = [BulkCommit(n_docs=3, n_requests=1, n_bytes=100), None]
    writer.abort(done)
    aborts = [f for f in os.listdir(outdir) if f.startswith("abort-")]
    assert aborts == ["abort-final.json"]
    rec = json.load(open(os.path.join(outdir, aborts[0])))
    assert rec == {"batch_id": None, "partitions_completed": [3]}
    assert _commits(outdir) == []


def test_writer_rows_stream_through_bounded_buffer(tmp_path):
    """write() never materializes the partition: feed 10 rows with
    max_docs=4 and observe 3 requests whose doc counts are 4/4/2."""
    outdir = str(tmp_path / "es")
    os.makedirs(outdir)
    writer = ESBulkBatchWriter({"transport_dir": outdir, "max_docs_per_request": 4})
    msg = writer.write(iter([Row(h=i, op="i", ns="t.c") for i in range(10)]))
    assert (msg.n_docs, msg.n_requests) == (10, 3)
    sizes = sorted(
        sum(1 for ln in open(os.path.join(outdir, fn)).read().strip().split("\n")[2:]) // 2
        for fn in _reqs(outdir)
    )
    assert sizes == [2, 4, 4]


class _StubPost:
    """Driver-side stand-in for the writer's POST: answers with the
    given statuses in turn (the last one repeats) and records the body
    of every attempt."""

    def __init__(self, *statuses: int) -> None:
        self.statuses = statuses
        self.bodies: list[bytes] = []

    def __call__(self, url: str, body: bytes, content_type: str) -> int:
        self.bodies.append(body)
        return self.statuses[min(len(self.bodies), len(self.statuses)) - 1]


def _stubbed_writer(post: _StubPost, **options) -> ESBulkBatchWriter:
    writer = ESBulkBatchWriter({"backoff_base_sec": 0, **options})
    writer._post = post
    return writer


def test_writer_survives_transient_throttle():
    """Two 429s then success: the chunk is retried inside the task and
    delivered once, on the third attempt, with the same
    idempotent-by-_id payload."""
    post = _StubPost(429, 429, 200)
    rows = [Row(h=1, op="i", ns="t.c"), Row(h=2, op="u", ns="t.c")]
    msg = _stubbed_writer(post).write(iter(rows))
    assert len(post.bodies) == 3  # exactly 3 attempts
    assert msg.n_requests == 1  # one delivered request
    assert len(set(post.bodies)) == 1  # every retry resent the same chunk
    lines = post.bodies[-1].decode().strip().split("\n")
    assert [json.loads(ln)["index"]["_id"] for ln in lines[::2]] == ["1", "2"]


def test_writer_raises_after_retries_exhausted():
    """A persistent 503 is retried max_attempts times, then fails the
    task (handing off to Spark's task retry)."""
    post = _StubPost(503)
    writer = _stubbed_writer(post, max_attempts=3)
    with pytest.raises(RuntimeError, match="after 3 attempts: HTTP 503"):
        writer.write(iter([Row(h=1, op="i", ns="x")]))
    assert len(post.bodies) == 3


def test_writer_does_not_retry_client_errors():
    """A 4xx other than 429 (mapping/payload bug) fails at once —
    retrying cannot fix a malformed request."""
    post = _StubPost(400)
    with pytest.raises(RuntimeError, match="non-retryable HTTP 400"):
        _stubbed_writer(post).write(iter([Row(h=1, op="i", ns="x")]))
    assert len(post.bodies) == 1


def test_cdc_pipeline_through_es_bulk_stream_writer(registered, tmp_path):
    """A1-A12 capstone with the new sink: simulated per-member oplog
    deliveries -> pushed-down filter -> majority-quorum dedup ->
    format("es_bulk") stream writer. Every logical op indexes exactly
    once (unique _id per bulk action across all requests) and the
    commit barrier fires per micro-batch with matching doc totals."""
    from flink_mingo_tail_spark.streaming.pipeline import oplog_filter
    from flink_mingo_tail_spark.streaming.quorum import quorum_dedup_stream
    from flink_mingo_tail_spark.sources.oplog import OPLOG_SOURCE_SCHEMA
    from flink_mingo_tail_spark.streaming.replay import OplogCase, op_rows, write_batch

    src, ck, outdir = str(tmp_path / "src"), str(tmp_path / "ck"), str(tmp_path / "es")
    os.makedirs(outdir)
    write_batch(registered, op_rows(OplogCase(n_ops=60)), src)
    stream = registered.readStream.schema(OPLOG_SOURCE_SCHEMA).parquet(src)
    deduped = quorum_dedup_stream(oplog_filter(stream), replica_depth=3)
    q = (
        deduped.writeStream.format("es_bulk")
        .option("transport_dir", outdir)
        .option("index", "oplog-index")
        .option("checkpointLocation", ck)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    ids = [
        json.loads(ln)["index"]["_id"]
        for fn in _reqs(outdir)
        for ln in open(os.path.join(outdir, fn)).read().strip().split("\n")[2:]
        if json.loads(ln).get("index")
    ]
    assert len(ids) == 60 and len(set(ids)) == 60  # exactly-once per logical op
    totals = [json.load(open(os.path.join(outdir, c))) for c in _commits(outdir)]
    assert sum(t["n_docs"] for t in totals) == 60
