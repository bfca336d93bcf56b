"""Custom `oplog_sim` DataSource: partition-per-member batch scan,
`oplog_filter` over it, offset-tracked tailing stream, and the full
source→filter→quorum→envelope→es_bulk topology (the reference's entire job,
MongoDBOplogTail.java:36-42, end to end), stopped and restarted."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from flink_mingo_tail_spark.sources.oplog import (
    OPLOG_SOURCE_SCHEMA,
    OplogSimStreamReader,
    member_log_path,
    register,
    write_member_logs,
)
from flink_mingo_tail_spark.streaming.es_datasource import ESBulkDataSource
from flink_mingo_tail_spark.streaming.pipeline import build_cdc_stream, envelope, oplog_filter
from flink_mingo_tail_spark.streaming.replay import MEMBERS, OplogCase, op_rows


@pytest.fixture()
def log_dir(tmp_path):
    return str(tmp_path / "oplogs")


def test_batch_read_partition_per_member(spark, log_dir):
    case = OplogCase(n_ops=10)
    write_member_logs(op_rows(case), log_dir)
    register(spark)
    df = spark.read.format("oplog_sim").option("path", log_dir).load()
    # one input partition per replica member (ref: one cursor per member)
    assert df.rdd.getNumPartitions() == len(MEMBERS)
    # 10 ops x 3 members + 3 noise rows
    assert df.count() == 33
    per_member = {r.member_host: r.n for r in df.groupBy("member_host").agg(F.count("*").alias("n")).collect()}
    assert per_member["m1:27017"] == 11  # 10 deliveries + fromMigrate noise


def test_batch_read_filter_pushdown(spark, log_dir):
    case = OplogCase(n_ops=10)
    write_member_logs(op_rows(case), log_dir)
    register(spark)
    df = spark.read.format("oplog_sim").option("path", log_dir).load()
    filtered = oplog_filter(df, resume_after=(1_700_000_004, 99))
    rows = filtered.collect()
    # ops 5..9 from 3 members each; all noise rows dropped
    assert len(rows) == 15
    assert all(r.ts_t > 1_700_000_004 for r in rows)
    assert all(r.op != "n" and r.ns == "test.grades" and r.fromMigrate is None for r in rows)
    # Spark evaluates every predicate over the scan: IS NOT NULL is not
    # taken as trivially true (o2 is null on every logged entry, and only
    # the one chunk-migration copy carries fromMigrate)
    assert df.filter(F.col("o2").isNotNull()).count() == 0
    migrated = df.filter(F.col("fromMigrate").isNotNull()).collect()
    assert len(migrated) == 1 and migrated[0].fromMigrate is True


def test_stream_tails_new_appends(spark, log_dir, tmp_path):
    case1 = OplogCase(n_ops=4, include_noise=False)
    write_member_logs(op_rows(case1), log_dir)
    register(spark)
    stream = spark.readStream.format("oplog_sim").option("path", log_dir).load()
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("tail_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        n1 = spark.sql("SELECT count(*) n FROM tail_out").collect()[0].n
        assert n1 == 12  # 4 ops x 3 members
        # tail: append a second wave to the same member logs
        case2 = OplogCase(n_ops=4, h_base=2000, ts_base=1_700_000_100, include_noise=False)
        write_member_logs(op_rows(case2), log_dir)
        q.processAllAvailable()
        n2 = spark.sql("SELECT count(*) n FROM tail_out").collect()[0].n
        assert n2 == 24, "stream did not pick up appended oplog entries"
    finally:
        q.stop()


def test_full_cdc_topology_from_custom_source(spark, log_dir, tmp_path):
    """The reference's whole job on Spark: oplog_sim source (every member
    log) → oplog_filter → majority-quorum dedup → envelope → es_bulk
    sink; every committed op is indexed exactly once despite 3x delivery,
    and the sub-majority op never is — also across a stop, an append and
    a restart on the same checkpoint and transport_dir."""
    case = OplogCase(n_ops=15, deliveries={7: (MEMBERS[0],)})  # op 7: sub-majority
    write_member_logs(op_rows(case), log_dir)
    register(spark)
    spark.dataSource.register(ESBulkDataSource)
    outdir = tmp_path / "es"
    outdir.mkdir()

    def run_until_drained() -> None:
        stream = spark.readStream.format("oplog_sim").option("path", log_dir).load()
        q = (
            envelope(build_cdc_stream(stream, replica_depth=3))
            .writeStream.format("es_bulk")
            .option("transport_dir", str(outdir))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def indexed_ids() -> list[str]:
        return [
            json.loads(action)["index"]["_id"]
            for req in outdir.glob("req-*.ndjson")
            for action in req.read_text().strip().split("\n")[2::2]
        ]

    run_until_drained()
    expected = [str(1000 + i) for i in range(15) if i != 7]
    assert sorted(indexed_ids()) == sorted(expected)

    # second wave while the query is down, with its own sub-majority op
    wave2 = OplogCase(n_ops=6, h_base=2000, ts_base=1_700_000_100, deliveries={3: (MEMBERS[1],)})
    write_member_logs(op_rows(wave2), log_dir)
    run_until_drained()
    expected += [str(2000 + i) for i in range(6) if i != 3]
    ids = indexed_ids()
    assert sorted(ids) == sorted(expected)  # each exactly once across both runs
    assert "1007" not in ids and "2003" not in ids
    receipts = [json.loads(f.read_text()) for f in sorted(outdir.glob("commit-*.json"))]
    batch_ids = [r["batch_id"] for r in receipts]
    assert batch_ids == sorted(set(batch_ids))  # distinct and increasing
    assert sum(r["n_docs"] for r in receipts) == len(ids)


def test_member_name_roundtrip_hyphenated_host(spark, log_dir):
    """Hostnames containing '-' must survive the log-file round-trip
    (the old replace(':','-') scheme reported 'my:host:27017')."""
    import pandas as pd

    from flink_mingo_tail_spark.sources.oplog import _discover_members

    member = "my-host.example-domain.com:27017"
    pdf = pd.DataFrame(
        [
            {
                "ts_t": 100, "ts_i": 1, "h": 7, "op": "i", "ns": "db.c",
                "fromMigrate": None, "o": "{}", "o2": None,
                "shard": "s0", "member_host": member,
            }
        ]
    )
    write_member_logs(pdf, log_dir)
    assert _discover_members(log_dir) == [member]
    register(spark)
    df = (
        spark.read.format("oplog_sim").schema(OPLOG_SOURCE_SCHEMA)
        .option("path", log_dir).load()
    )
    assert [r.member_host for r in df.collect()] == [member]


# --- the stream reader's byte-range offsets, driven directly (no Spark job) ---


def test_stream_reads_replay_exactly_between_offsets(log_dir):
    """Two reads with an append between them; replaying each
    [start, end) returns exactly the rows the read returned."""
    write_member_logs(op_rows(OplogCase(n_ops=4)), log_dir)
    reader = OplogSimStreamReader({"path": log_dir})
    start = reader.initialOffset()
    rows1, mid = reader.read(start)
    rows1 = list(rows1)
    write_member_logs(op_rows(OplogCase(n_ops=3, h_base=2000, ts_base=1_700_000_100)), log_dir)
    rows2, end = reader.read(mid)
    rows2 = list(rows2)
    assert len(rows1) == 4 * 3 + 3 and len(rows2) == 3 * 3 + 3
    assert {r[2] for r in rows2} == {2000, 2001, 2002, 2004, 2005, 2006}  # 3 ops + 3 noise rows
    assert sum(end["lines"].values()) == len(rows1) + len(rows2)
    assert list(reader.readBetweenOffsets(start, mid)) == rows1
    assert list(reader.readBetweenOffsets(mid, end)) == rows2
    idle, again = reader.read(end)
    assert list(idle) == [] and again == end


def test_stream_leaves_partial_trailing_line_for_later(log_dir):
    """A trailing line without its newline is not consumed; once the
    newline is written it is read exactly once."""
    case = OplogCase(n_ops=2, members=MEMBERS[:1], include_noise=False)
    write_member_logs(op_rows(case), log_dir)
    path = member_log_path(log_dir, MEMBERS[0])
    line = json.dumps({"ts_t": 1_700_000_050, "ts_i": 1, "h": 77, "op": "i", "ns": "test.grades"})
    with open(path, "a") as f:
        f.write(line[:20])
    reader = OplogSimStreamReader({"path": log_dir})
    rows, off = reader.read(reader.initialOffset())
    assert [r[2] for r in rows] == [1000, 1001]
    assert off["lines"] == {MEMBERS[0]: 2}
    with open(path, "a") as f:
        f.write(line[20:] + "\n")
    rows, off2 = reader.read(off)
    assert [r[2] for r in rows] == [77]
    rows, off3 = reader.read(off2)
    assert list(rows) == [] and off3 == off2
    assert [r[2] for r in reader.readBetweenOffsets(off, off2)] == [77]


def test_stream_reads_member_log_created_mid_stream_from_start(log_dir):
    case = OplogCase(n_ops=2, members=MEMBERS[:2], include_noise=False)
    write_member_logs(op_rows(case), log_dir)
    reader = OplogSimStreamReader({"path": log_dir})
    start = reader.initialOffset()
    assert set(start["bytes"]) == set(MEMBERS[:2])
    _, off = reader.read(start)
    late = OplogCase(n_ops=2, members=MEMBERS[2:], include_noise=False)
    write_member_logs(op_rows(late), log_dir)
    rows, end = reader.read(off)
    rows = list(rows)
    assert [(r[2], r[9]) for r in rows] == [(1000, MEMBERS[2]), (1001, MEMBERS[2])]
    assert end["lines"][MEMBERS[2]] == 2
    assert list(reader.readBetweenOffsets(off, end)) == rows


def test_stream_truncated_member_log_raises(log_dir):
    """A log shorter than its committed byte position (truncated or
    rotated) is an error, not a silent rewind of the offset."""
    write_member_logs(op_rows(OplogCase(n_ops=3, include_noise=False)), log_dir)
    reader = OplogSimStreamReader({"path": log_dir})
    _, off = reader.read(reader.initialOffset())
    with open(member_log_path(log_dir, MEMBERS[1]), "w") as f:
        f.write("")
    with pytest.raises(ValueError, match="m1:27017"):
        reader.read(off)


def test_stream_line_count_offset_raises(log_dir):
    """An offset of the former line-count reader cannot be resumed."""
    write_member_logs(op_rows(OplogCase(n_ops=6, include_noise=False)), log_dir)
    with pytest.raises(ValueError, match="new checkpoint location"):
        OplogSimStreamReader({"path": log_dir}).read({"lines": {MEMBERS[0]: 5}})
