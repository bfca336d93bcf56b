"""Live-adapter seams, tested hermetically: the MongoDB change-event
normalization (streaming/connectors.py) is a pure projection, and the
es_bulk writer's `_bulk` requests (streaming/es_datasource.py) are
exercised in transport_dir mode (request files instead of HTTP POSTs)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from flink_mingo_tail_spark.sources.oplog import OPLOG_SOURCE_SCHEMA
from flink_mingo_tail_spark.streaming.connectors import normalize_change_events
from flink_mingo_tail_spark.streaming.es_datasource import ESBulkDataSource
from flink_mingo_tail_spark.streaming.pipeline import oplog_filter


def _write_es_bulk(df, outdir, **options):
    df.sparkSession.dataSource.register(ESBulkDataSource)
    writer = df.write.format("es_bulk").option("transport_dir", outdir)
    for key, value in options.items():
        writer = writer.option(key, value)
    writer.mode("append").save()
    return sorted(f for f in os.listdir(outdir) if f.startswith("req-"))


def _request_lines(outdir, reqs):
    return [
        ln
        for fn in reqs
        for ln in open(os.path.join(outdir, fn), "rb").read().decode().strip().split("\n")[2:]
    ]


def test_es_bulk_writer_batches_through_transport(spark, tmp_path):
    """Executor-side requests: one request per max_docs_per_request chunk
    within a partition, NDJSON action/source pairs, {'data': doc}
    envelope."""
    outdir = str(tmp_path / "reqs")
    os.makedirs(outdir)
    batch = spark.createDataFrame(
        [(1, "i", "test.grades"), (2, "i", "test.grades"), (3, "d", "test.grades")],
        schema="h long, op string, ns string",
    ).coalesce(1)
    reqs = _write_es_bulk(
        batch, outdir, url="http://es:9200", index="oplog-index", max_docs_per_request=2
    )

    assert len(reqs) == 2  # one partition, 3 docs, 2 per request
    payload = open(os.path.join(outdir, reqs[0]), "rb").read().decode()
    url, ctype, *lines = payload.strip().split("\n")
    assert url == "http://es:9200/_bulk" and ctype == "application/x-ndjson"
    all_lines = _request_lines(outdir, reqs)
    assert len(all_lines) == 6  # 3 docs x (action + source)
    action, source = json.loads(all_lines[0]), json.loads(all_lines[1])
    assert action["index"]["_index"] == "oplog-index"
    assert set(source) == {"data"} and source["data"]["ns"] == "test.grades"


def test_es_bulk_writer_parallel_partitions(spark, tmp_path):
    """Each partition issues its own requests — the no-driver-collect
    contract: request count == partition count when chunks fit."""
    outdir = str(tmp_path / "reqs")
    os.makedirs(outdir)
    batch = spark.createDataFrame(
        [(i, "i", "test.grades") for i in range(8)], schema="h long, op string, ns string"
    ).repartition(4)
    reqs = _write_es_bulk(
        batch, outdir, url="http://es:9200", index="idx", max_docs_per_request=100
    )
    # one request per NON-EMPTY partition (an empty partition sends
    # nothing); all 8 docs must arrive across >1 parallel request
    assert 1 < len(reqs) <= 4
    n_actions = sum(1 for ln in _request_lines(outdir, reqs) if '"index"' in ln)
    assert n_actions == 8


def test_normalize_change_events_matches_oplog_schema(spark):
    """A connector-shaped change event lands exactly on the engine's
    oplog schema, so oplog_filter/quorum/sinks run unchanged."""
    raw = spark.createDataFrame(
        [
            (
                "insert",
                "2024-01-01 00:00:05",
                {"db": "test", "coll": "grades"},
                '{"_id": 1}',
                '{"_id": 1, "score": 10}',
            ),
            (
                "drop",  # non-CRUD event -> op 'n', dropped by oplog_filter
                "2024-01-01 00:00:06",
                {"db": "test", "coll": "grades"},
                '{"_id": 2}',
                None,
            ),
        ],
        schema="operationType string, clusterTime string, "
        "ns struct<db:string,coll:string>, documentKey string, fullDocument string",
    ).select(
        "operationType",
        F.col("clusterTime").cast("timestamp").alias("clusterTime"),
        "ns",
        F.from_json("documentKey", "_id int").alias("documentKey"),
        F.from_json("fullDocument", "_id int, score int").alias("fullDocument"),
    )
    normalized = normalize_change_events(raw)
    expected = spark.createDataFrame([], OPLOG_SOURCE_SCHEMA).schema
    got = [(f.name, f.dataType) for f in normalized.schema.fields]
    assert got == [(f.name, f.dataType) for f in expected.fields]  # nullability is per-source
    rows = oplog_filter(normalized).collect()
    assert [r.op for r in rows] == ["i"]
    assert rows[0].ns == "test.grades"
    assert rows[0].h is not None and rows[0].h > 0


# --- property-based sweep of the change-event projection (the one live
# seam whose semantics are provable hermetically; round-3 verdict #8)

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_OPS = ["insert", "update", "replace", "delete", "drop", "rename", "invalidate"]
_EXPECT_OP = {"insert": "i", "update": "u", "replace": "u", "delete": "d"}


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(_OPS),
            st.integers(min_value=-(10**9), max_value=10**9),  # document key
            st.integers(min_value=0, max_value=2_000_000_000),  # clusterTime epoch s
            st.booleans(),  # connector surfaced fullDocument?
        ),
        min_size=1,
        max_size=25,
    )
)
def test_normalize_change_events_properties(spark, events):
    """For ANY generated change-stream event mix: op-type initials map
    correctly (CRUD only; DDL -> 'n' for oplog_filter to drop), ts_t is
    the clusterTime second, h is the documented 60-bit md5 of the full
    EVENT identity (documentKey JSON | ts_t | ts_i | operationType —
    per-op, not per-document, so an insert/update/delete sequence on
    one document never collapses in the quorum stage; recomputed here
    in pure Python), and o is null exactly when the connector surfaced no
    fullDocument (deletes)."""
    import hashlib

    rows = [
        (
            op,
            ct,
            {"db": f"db{abs(key) % 3}", "coll": f"c{abs(key) % 2}"},
            key,
            None if (op == "delete" or not has_doc) else key,
        )
        for op, key, ct, has_doc in events
    ]
    raw = spark.createDataFrame(
        rows,
        schema="operationType string, clusterTime long, "
        "ns struct<db:string,coll:string>, k long, fd long",
    ).select(
        "operationType",
        F.timestamp_seconds(F.col("clusterTime")).alias("clusterTime"),
        "ns",
        F.struct(F.col("k").alias("_id")).alias("documentKey"),
        F.when(F.col("fd").isNotNull(), F.struct(F.col("fd").alias("_id"))).alias(
            "fullDocument"
        ),
    )
    out = normalize_change_events(raw).collect()
    assert len(out) == len(events)
    for (op, key, ct, has_doc), r in zip(events, out):
        assert r.op == _EXPECT_OP.get(op, "n")
        assert r.ts_t == ct
        assert r.ns == f"db{abs(key) % 3}.c{abs(key) % 2}"
        doc_key_json = '{"_id":%d}' % key
        assert r.o2 == doc_key_json
        ident = f"{doc_key_json}|{ct}|0|{op}"
        assert r.h == int(hashlib.md5(ident.encode()).hexdigest()[:15], 16)
        if op == "delete" or not has_doc:
            assert r.o is None, (op, has_doc, r.o)
        else:
            assert r.o == doc_key_json
