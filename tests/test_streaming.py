"""Streaming-parity tests (SURVEY.md §5.2 items 2-3): quorum dedup
replay, checkpoint resume, watermarked windows, dedup-within-watermark.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from flink_mingo_tail_spark.sources.oplog import OPLOG_SOURCE_SCHEMA, register, write_member_logs
from flink_mingo_tail_spark.streaming.pipeline import build_cdc_stream, oplog_filter
from flink_mingo_tail_spark.streaming.quorum import quorum_dedup_batch, quorum_dedup_stream
from flink_mingo_tail_spark.streaming.replay import (
    MEMBERS,
    OplogCase,
    op_rows,
    write_batch,
)


def _read_oplog_stream(spark, dir_path: str):
    return spark.readStream.schema(OPLOG_SOURCE_SCHEMA).parquet(dir_path)


@pytest.fixture()
def tmpdirs(tmp_path):
    src = tmp_path / "src"
    out = tmp_path / "out"
    ck = tmp_path / "ck"
    src.mkdir()
    return str(src), str(out), str(ck)


def test_quorum_stream_exactly_once_with_late_and_missing(spark, tmpdirs, tmp_path):
    """Ops delivered by a majority emit exactly once; sub-majority ops
    don't emit; late third-member deliveries of already-emitted ops do
    not re-emit (ref A6 semantics + §4.3 majority fix)."""
    src, _, ck = tmpdirs
    case = OplogCase(
        n_ops=12,
        deliveries={
            10: (MEMBERS[0],),  # sub-majority: must NOT emit
            11: (MEMBERS[0], MEMBERS[1]),  # exactly majority: must emit
        },
        duplicated=(0,),  # at-least-once redelivery by one member
    )
    all_rows = op_rows(case)
    # batch 1: members m0+m1 deliveries; batch 2: m2 (late member)
    write_batch(spark, all_rows[all_rows.member_host != MEMBERS[2]], src)

    deduped = build_cdc_stream(_read_oplog_stream(spark, src), replica_depth=3)
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("quorum_out")
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch(spark, all_rows[all_rows.member_host == MEMBERS[2]], src)
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.sql("SELECT h FROM quorum_out").collect()
    hs = sorted(r.h for r in got)
    expected = sorted(1000 + i for i in range(12) if i != 10)
    assert hs == expected, f"emission set wrong: {hs}"  # exactly once each, no sub-majority


def test_quorum_batch_twin_matches_stream_semantics(spark):
    case = OplogCase(
        n_ops=8,
        deliveries={3: (MEMBERS[0],), 5: (MEMBERS[0], MEMBERS[1])},
        duplicated=(1,),
    )
    df = spark.createDataFrame(op_rows(case), schema=OPLOG_SOURCE_SCHEMA)
    result = quorum_dedup_batch(oplog_filter(df), replica_depth=3).collect()
    hs = sorted(r.h for r in result)
    assert hs == sorted(1000 + i for i in range(8) if i != 3)
    # duplicated delivery of op 1 by one member must still emit once
    assert len([h for h in hs if h == 1001]) == 1


@pytest.mark.parametrize("feed", ["parquet", "oplog_sim"])
def test_quorum_resume_from_checkpoint(spark, tmpdirs, feed):
    """Kill/restart with the same checkpoint: no loss, no duplicates
    (fixes ref §4.3.2 checkpoint-before-emit). Fed by parquet files or
    by the `oplog_sim` member logs, whose byte offsets then go through
    the stop and restart; the late member's log only appears after the
    stop."""
    src, out, ck = tmpdirs
    case = OplogCase(n_ops=10, include_noise=False)
    rows = op_rows(case)
    if feed == "parquet":
        def append(pdf):
            write_batch(spark, pdf, src)

        def read_stream():
            return _read_oplog_stream(spark, src)
    else:
        register(spark)

        def append(pdf):
            write_member_logs(pdf, src)

        def read_stream():
            return spark.readStream.format("oplog_sim").option("path", src).load()

    append(rows[rows.member_host != MEMBERS[2]])

    def start_query():
        deduped = build_cdc_stream(read_stream(), replica_depth=3)
        return (
            deduped.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .start()
        )

    q = start_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    first = sorted(r.h for r in spark.read.parquet(out).select("h").collect())
    assert first == [1000 + i for i in range(10)]

    # restart from the same checkpoint: only the late member's deliveries
    # are new; previously emitted ops must NOT re-emit (no duplicates), and
    # nothing may be lost.
    append(rows[rows.member_host == MEMBERS[2]])
    q = start_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # the restarted query read exactly the late member's 10 deliveries
    assert sum(p["numInputRows"] for p in q.recentProgress) == 10
    after = sorted(r.h for r in spark.read.parquet(out).select("h").collect())
    assert after == first, f"resume broke exactly-once: {after}"


def test_streaming_tumbling_window_matches_batch(spark, tmp_path):
    """Streaming windowed agg (complete mode) == batch window agg on the
    same rows (events table, sf0.001)."""
    from flink_mingo_tail_spark.tables import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "ev")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = stream.groupBy(F.window("ts", "1 hour")).agg(F.count("*").alias("n"))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["window"].start, r["n"]) for r in spark.sql("SELECT * FROM win_out").collect()
    }
    expected = {
        (r["window"].start, r["n"])
        for r in events.groupBy(F.window("ts", "1 hour")).agg(F.count("*").alias("n")).collect()
    }
    assert got == expected


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode watermarked window: a row arriving behind the
    watermark is dropped (the late-data handling the reference lacks)."""
    src = str(tmp_path / "late")
    ck = str(tmp_path / "ck")
    ddl = "ts timestamp, v int"
    batch1 = [
        ("2024-01-01 10:00:10", 1),
        ("2024-01-01 10:04:00", 1),
        ("2024-01-01 13:00:00", 1),  # advances watermark far past the 10:00 window
    ]
    batch2 = [("2024-01-01 10:01:00", 1)]  # late: behind watermark, must be dropped

    def write(rows):
        spark.createDataFrame(
            [(r[0], r[1]) for r in rows], schema="ts string, v int"
        ).selectExpr("CAST(ts AS TIMESTAMP) ts", "v").coalesce(1).write.mode("append").parquet(src)

    write(batch1)
    stream = spark.readStream.schema(ddl).parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
        write(batch2)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        (r["window"].start.isoformat(), r["n"])
        for r in spark.sql("SELECT * FROM late_out").collect()
    }
    # batch 1 put two rows (10:00:10, 10:04:00) in the 10:00-10:05 window;
    # the late 10:01 row arrives behind the 12:50 watermark and must NOT
    # bump the count to 3 (it is dropped, the window state already closed).
    assert ("2024-01-01T10:00:00", 2) in rows
    assert ("2024-01-01T10:00:00", 3) not in rows


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark on the op id — the lightweight
    capability-parity form of ref A6 (SURVEY §2A)."""
    src = str(tmp_path / "dd")
    ck = str(tmp_path / "ck")
    ddl = "ts timestamp, h long"
    spark.createDataFrame(
        [("2024-01-01 10:00:00", 1), ("2024-01-01 10:00:30", 1), ("2024-01-01 10:01:00", 2)],
        schema="ts string, h long",
    ).selectExpr("CAST(ts AS TIMESTAMP) ts", "h").coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(ddl).parquet(src)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["h"])
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dd_out")
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    hs = sorted(r.h for r in spark.sql("SELECT h FROM dd_out").collect())
    assert hs == [1, 2]


def test_quorum_state_ttl_evicts_stragglers(spark, tmpdirs):
    """Sub-quorum keys are evicted once the watermark passes their
    event-time TTL instead of leaking (fix for ref §4.3.1). Observable
    behavior: after eviction, a redelivery behind the watermark is
    dropped and does not emit."""
    src, _, ck = tmpdirs
    straggler = OplogCase(n_ops=1, deliveries={0: (MEMBERS[0],)}, include_noise=False)
    rows = op_rows(straggler)
    write_batch(spark, rows, src)
    deduped = build_cdc_stream(
        _read_oplog_stream(spark, src), replica_depth=3, state_ttl_ms=1000
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("ttl_out")
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
        # A much newer fully-replicated op advances the watermark far past
        # the straggler's (event time + ttl), expiring its state.
        advancer = OplogCase(n_ops=1, h_base=5000, ts_base=1_700_000_300, include_noise=False)
        write_batch(spark, op_rows(advancer), src)
        q.processAllAvailable()
        write_batch(spark, rows, src)  # straggler redelivered, state was evicted
        q.processAllAvailable()
    finally:
        q.stop()
    hs = sorted(r.h for r in spark.sql("SELECT h FROM ttl_out").collect())
    assert hs == [5000], f"straggler leaked an emission: {hs}"


def test_quorum_late_members_after_eviction_do_not_emit(spark, tmpdirs):
    """One member delivers an op; a wave 300 s later pushes the
    watermark past the op's time + TTL; then the other two members
    deliver it. Their deliveries are behind the watermark and are
    dropped, so the op can neither re-emit nor start a fresh count that
    reaches quorum: only the wave's ops emit."""
    src, _, ck = tmpdirs
    case = OplogCase(n_ops=1, include_noise=False)
    rows = op_rows(case)
    write_batch(spark, rows[rows.member_host == MEMBERS[0]], src)
    deduped = build_cdc_stream(
        _read_oplog_stream(spark, src), replica_depth=3, state_ttl_ms=1000
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_members_out")
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
        wave = OplogCase(n_ops=3, h_base=5000, ts_base=case.ts_base + 300, include_noise=False)
        write_batch(spark, op_rows(wave), src)
        q.processAllAvailable()
        write_batch(spark, rows[rows.member_host != MEMBERS[0]], src)
        q.processAllAvailable()
    finally:
        q.stop()
    hs = sorted(r.h for r in spark.sql("SELECT h FROM late_members_out").collect())
    assert hs == [5000, 5001, 5002], f"late members emitted an evicted op: {hs}"


def test_quorum_per_shard_replica_depth(spark, tmpdirs):
    """Heterogeneous cluster (5-member, 3-member, and 1-member shards in
    one topology): each op's quorum is its OWN shard's majority — the
    reference defect (replicaDepth from the first shard only,
    MongoOplogTailMapper.java:64 / SURVEY §4.3.3) would size every
    counter at 3 (quorum 2) and mis-emit the 5-member shard's
    2-delivery op."""
    import pandas as pd

    m5 = tuple(f"a{i}:27017" for i in range(5))
    m3 = MEMBERS
    m1 = ("solo:27017",)
    case5 = OplogCase(
        n_ops=3, shard="s5", members=m5, h_base=5000,
        # op 0: all 5 deliver (emit); op 1: only 2 of 5 (quorum is 3 ->
        # must NOT emit, though global depth-3 quorum 2 would);
        # op 2: exactly 3 (emit)
        deliveries={1: m5[:2], 2: m5[:3]},
        include_noise=False,
    )
    case3 = OplogCase(n_ops=2, shard="s0", members=m3, h_base=3000, include_noise=False)
    case1 = OplogCase(
        # single-member shard: quorum 1, a lone delivery must emit
        # (global quorum 2 would strand it forever)
        n_ops=1, shard="s1", members=m1, h_base=1000, include_noise=False,
    )
    rows = pd.concat([op_rows(c) for c in (case5, case3, case1)], ignore_index=True)
    df = spark.createDataFrame(rows, schema=OPLOG_SOURCE_SCHEMA)
    depths = {"s5": 5, "s0": 3, "s1": 1}

    got_batch = quorum_dedup_batch(oplog_filter(df), replica_depth=3, shard_depths=depths)
    assert sorted(r.h for r in got_batch.collect()) == [1000, 3000, 3001, 5000, 5002]

    # streaming form: same emission set
    src, _, ck = tmpdirs
    write_batch(spark, rows, src)
    deduped = quorum_dedup_stream(
        oplog_filter(_read_oplog_stream(spark, src)), replica_depth=3, shard_depths=depths
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("shard_quorum_out")
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    hs = sorted(r.h for r in spark.sql("SELECT h FROM shard_quorum_out").collect())
    assert hs == [1000, 3000, 3001, 5000, 5002], f"stream emission set wrong: {hs}"


def test_quorum_rocksdb_state_store_same_semantics(spark, tmpdirs):
    """Same replay, RocksDB state store. At 100 TB the quorum state
    (one entry per in-flight op id) outgrows the default HDFS-backed
    in-memory provider; RocksDB spills keyed state to local disk with
    incremental checkpointing, so the stateful operator's semantics
    must be provider-independent. Emission set must match the default
    provider's byte-for-byte."""
    src, _, ck = tmpdirs
    case = OplogCase(
        n_ops=12,
        deliveries={
            10: (MEMBERS[0],),
            11: (MEMBERS[0], MEMBERS[1]),
        },
        duplicated=(0,),
    )
    write_batch(spark, op_rows(case), src)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        deduped = build_cdc_stream(_read_oplog_stream(spark, src), replica_depth=3)
        q = (
            deduped.writeStream.outputMode("append")
            .format("memory")
            .queryName("quorum_rocks_out")
            .option("checkpointLocation", ck)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    hs = sorted(r.h for r in spark.sql("SELECT h FROM quorum_rocks_out").collect())
    assert hs == sorted(1000 + i for i in range(12) if i != 10)


def test_streaming_ohlc_matches_batch_q158(spark, tmp_path):
    """Streaming OHLC bars via the packed-anchor aggregate (q158's
    shape under a 1-day tumbling window with a watermark) == the batch
    q158 result on the same rows — the compaction runs as a plain
    watermarked windowed agg, no custom state."""
    from flink_mingo_tail_spark.queries import load_registry
    from flink_mingo_tail_spark.tables import load_table

    US_DAY = 86_400_000_000
    VBITS = 1 << 18
    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "ev")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    t = stream.select(
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
        F.round(F.col("value") * 100, 0).cast("long").alias("v100"),
    ).withColumn(
        "packed",
        F.expr(f"unix_micros(ts) % {US_DAY}") * VBITS + F.col("v100"),
    )
    agg = (
        t.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day"), F.col("event_type"))
        .agg(
            (F.min("packed") % VBITS).alias("open_100"),
            F.max("v100").alias("high_100"),
            F.min("v100").alias("low_100"),
            (F.max("packed") % VBITS).alias("close_100"),
            F.count("*").alias("n_events"),
            F.sum("v100").alias("vol_100"),
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("ohlc_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (
            r["window"].start.date().toordinal(), r["event_type"], r["open_100"],
            r["high_100"], r["low_100"], r["close_100"], r["n_events"], r["vol_100"],
        )
        for r in spark.sql("SELECT * FROM ohlc_out").collect()
    }
    import datetime

    epoch = datetime.date(1970, 1, 1).toordinal()
    want = {
        (
            r["day_idx"] + epoch, r["event_type"], r["open_100"], r["high_100"],
            r["low_100"], r["close_100"], r["n_events"], r["vol_100"],
        )
        for r in load_registry()["q158_ohlc_bars"].fn(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == want
