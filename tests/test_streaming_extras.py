"""Remaining SURVEY.md §2B streaming-surface rows not covered by the
core pipeline tests: rate source, console sink, stream-stream join with
watermarks, update output mode, maxFilesPerTrigger backpressure,
per-partition sort."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_mingo_tail_spark.sources.oplog import OPLOG_SOURCE_SCHEMA
from flink_mingo_tail_spark.streaming.replay import OplogCase, op_rows, write_batch


def test_rate_source_smoke(spark):
    """Built-in rate source: schema (timestamp, value) and monotonic values."""
    stream = spark.readStream.format("rate").option("rowsPerSecond", "500").load()
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("rate_out")
        .start()
    )
    try:
        import time

        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql("SELECT count(*) n FROM rate_out").collect()[0].n > 0:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM rate_out").collect()
    assert len(rows) > 0
    assert {f for f in rows[0].asDict()} == {"timestamp", "value"}
    values = sorted(r.value for r in rows)
    assert values == list(range(values[0], values[0] + len(values)))


def test_console_sink_runs(spark, tmp_path):
    """A9 parity: console sink accepts the deduped stream (output goes to
    driver stdout; the assertion is clean start/processing/stop)."""
    src = str(tmp_path / "src")
    write_batch(spark, op_rows(OplogCase(n_ops=3, include_noise=False)), src)
    stream = spark.readStream.schema(OPLOG_SOURCE_SCHEMA).parquet(src)
    q = (
        stream.writeStream.outputMode("append")
        .format("console")
        .option("numRows", "5")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert q.exception() is None
    finally:
        q.stop()


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Watermarked stream-stream inner join (SURVEY §2B join row): clicks
    joined to purchases of the same user within a bounded time window —
    both sides carry watermarks so join state is evictable."""
    src_a = str(tmp_path / "a")
    src_b = str(tmp_path / "b")

    def write(path, rows):
        spark.createDataFrame(rows, schema="ts string, user_id long, event_id long").selectExpr(
            "CAST(ts AS TIMESTAMP) ts", "user_id", "event_id"
        ).coalesce(1).write.mode("append").parquet(path)

    write(
        src_a,
        [
            ("2024-01-01 10:00:00", 1, 100),
            ("2024-01-01 10:02:00", 2, 101),
            ("2024-01-01 12:00:00", 9, 199),
        ],
    )
    write(
        src_b,
        [
            ("2024-01-01 10:01:00", 1, 900),  # within 5 min of click 100 → joins
            ("2024-01-01 11:00:00", 2, 901),  # 58 min after click 101 → outside bound
            ("2024-01-01 12:00:30", 9, 999),  # joins
        ],
    )
    clicks = (
        spark.readStream.schema("ts timestamp, user_id long, event_id long")
        .parquet(src_a)
        .withWatermark("ts", "10 minutes")
        .withColumnRenamed("ts", "click_ts")
        .withColumnRenamed("event_id", "click_id")
    )
    purchases = (
        spark.readStream.schema("ts timestamp, user_id long, event_id long")
        .parquet(src_b)
        .withWatermark("ts", "10 minutes")
        .withColumnRenamed("ts", "purchase_ts")
        .withColumnRenamed("event_id", "purchase_id")
    )
    joined = clicks.join(
        purchases,
        (clicks.user_id == purchases.user_id)
        & (purchases.purchase_ts >= clicks.click_ts)
        & (purchases.purchase_ts <= clicks.click_ts + F.expr("INTERVAL 5 MINUTES")),
    )
    q = (
        joined.select("click_id", "purchase_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    pairs = {(r.click_id, r.purchase_id) for r in spark.sql("SELECT * FROM ssj_out").collect()}
    assert pairs == {(100, 900), (199, 999)}


def test_update_output_mode(spark, tmp_path):
    """Update mode emits changed aggregate rows per batch (no watermark
    needed) — the third output mode after append/complete."""
    src = str(tmp_path / "src")

    def write(rows):
        spark.createDataFrame(rows, schema="k string, v long").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    write([("a", 1), ("b", 1)])
    stream = spark.readStream.schema("k string, v long").parquet(src)
    agg = stream.groupBy("k").agg(F.count("*").alias("n"))
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("upd_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        write([("a", 2)])  # only 'a' changes in batch 2
        q.processAllAvailable()
    finally:
        q.stop()
    rows = [(r.k, r.n) for r in spark.sql("SELECT * FROM upd_out").collect()]
    # batch1 emitted a:1, b:1; batch2 emitted only the updated a:2
    assert sorted(rows) == [("a", 1), ("a", 2), ("b", 1)]


def test_max_files_per_trigger_backpressure(spark, tmp_path):
    """A8 parity (bounded in-flight work): maxFilesPerTrigger=1 splits
    three files into three micro-batches instead of one gulp."""
    src = str(tmp_path / "src")
    for i in range(3):
        write_batch(
            spark,
            op_rows(OplogCase(n_ops=2, h_base=1000 + 100 * i, include_noise=False)),
            src,
        )
    stream = (
        spark.readStream.schema(OPLOG_SOURCE_SCHEMA).option("maxFilesPerTrigger", "1").parquet(src)
    )
    batch_sizes = []
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(lambda df, bid: batch_sizes.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(batch_sizes) >= 3, f"expected >=3 rate-limited batches, got {batch_sizes}"
    assert sum(batch_sizes) == 18  # 3 waves x 2 ops x 3 members


def test_sort_within_partitions(spark):
    """A4 parity: per-partition ordered scan guarantee — every partition
    is internally sorted without a global shuffle."""
    from flink_mingo_tail_spark.tables import load_table

    from .conftest import SF_SMOKE

    e = load_table(spark, SF_SMOKE, "events").repartition(8, "user_id")
    df = e.sortWithinPartitions("ts")

    def check(it):
        import pandas as pd

        for pdf in it:
            ok = bool(pdf["ts"].is_monotonic_increasing)
            yield pd.DataFrame({"ok": [ok]})

    flags = df.select("ts").mapInPandas(check, schema="ok boolean").collect()
    assert all(r.ok for r in flags)
    # and no global sort: plan shows Sort with global=false only
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Sort [ts" in plan and "false, 0" in plan


def test_streaming_sliding_and_session_windows_match_batch(spark, tmp_path):
    """Sliding and session windows under readStream (complete mode)
    produce the same aggregates as their batch forms — the §2B
    streaming-window rows proven in stream execution, not just batch."""
    from flink_mingo_tail_spark.tables import load_table

    from .conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events").limit(2000)
    src = str(tmp_path / "ev")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)

    sliding = stream.groupBy(F.window("ts", "1 hour", "30 minutes")).agg(
        F.count("*").alias("n")
    )
    session = stream.groupBy("user_id", F.session_window("ts", "30 minutes")).agg(
        F.count("*").alias("n")
    )
    q1 = sliding.writeStream.outputMode("complete").format("memory").queryName("sl_out").start()
    q2 = session.writeStream.outputMode("complete").format("memory").queryName("se_out").start()
    try:
        q1.processAllAvailable()
        q2.processAllAvailable()
    finally:
        q1.stop()
        q2.stop()

    batch_events = spark.read.parquet(src)
    batch_sliding = {
        (r["window"].start, r["n"])
        for r in batch_events.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got_sliding = {
        (r["window"].start, r["n"]) for r in spark.sql("SELECT * FROM sl_out").collect()
    }
    assert got_sliding == batch_sliding

    batch_session = {
        (r["user_id"], r["session_window"].start, r["n"])
        for r in batch_events.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got_session = {
        (r["user_id"], r["session_window"].start, r["n"])
        for r in spark.sql("SELECT * FROM se_out").collect()
    }
    assert got_session == batch_session


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join (SURVEY §2B join row): a fact stream enriched
    against a static dimension. The static side is broadcast per
    micro-batch — no stream state, no watermark needed — which is the
    100 TB dimension-enrichment pattern (re-read/re-broadcast the dim
    per batch; a changed dim is picked up on the next trigger)."""
    src = str(tmp_path / "facts")
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], schema="user_id long, tier string"
    )

    def write(rows):
        spark.createDataFrame(rows, schema="user_id long, amount long").coalesce(
            1
        ).write.mode("append").parquet(src)

    write([(1, 10), (2, 20), (3, 30)])  # user 3 has no dim row
    facts = spark.readStream.schema("user_id long, amount long").parquet(src)
    enriched = facts.join(F.broadcast(dim), "user_id", "left")
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_static_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        write([(1, 11)])  # second micro-batch re-joins the same dim
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        (r.user_id, r.amount, r.tier)
        for r in spark.sql("SELECT * FROM ssj_static_out").collect()
    }
    assert rows == {(1, 10, "gold"), (2, 20, "silver"), (3, 30, None), (1, 11, "gold")}
    # parity with the batch join over the same inputs
    batch = {
        (r.user_id, r.amount, r.tier)
        for r in spark.read.parquet(src).join(dim, "user_id", "left").collect()
    }
    assert rows == batch


def test_stream_stream_left_outer_join_emits_nulls(spark, tmp_path):
    """Watermarked stream-stream LEFT OUTER join: unmatched clicks must
    surface with NULL purchase columns — but only once the watermark
    passes click_ts + bound + delay (before that the row might still
    match). Files are drip-fed one per micro-batch so the watermark
    actually advances; the late heartbeat pair pushes it far enough to
    flush the unmatched click, and Spark's no-data micro-batch performs
    the final state eviction."""
    src_a = str(tmp_path / "a")
    src_b = str(tmp_path / "b")

    def write(path, rows):
        spark.createDataFrame(rows, schema="ts string, user_id long, event_id long").selectExpr(
            "CAST(ts AS TIMESTAMP) ts", "user_id", "event_id"
        ).coalesce(1).write.mode("append").parquet(path)

    write(src_a, [("2024-01-01 10:00:00", 1, 100), ("2024-01-01 10:02:00", 2, 101)])
    write(src_b, [("2024-01-01 10:01:00", 1, 900)])  # click 100 converts; click 101 never does
    # heartbeats: push event-time far past 10:02 + 5 min bound + 10 min delay
    write(src_a, [("2024-01-01 13:00:00", 42, 198)])
    write(src_b, [("2024-01-01 13:00:10", 42, 998)])

    clicks = (
        spark.readStream.schema("ts timestamp, user_id long, event_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_a)
        .withWatermark("ts", "10 minutes")
        .withColumnRenamed("ts", "click_ts")
        .withColumnRenamed("event_id", "click_id")
    )
    purchases = (
        spark.readStream.schema("ts timestamp, user_id long, event_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_b)
        .withWatermark("ts", "10 minutes")
        .withColumnRenamed("ts", "purchase_ts")
        .withColumnRenamed("event_id", "purchase_id")
    )
    joined = clicks.join(
        purchases,
        (clicks.user_id == purchases.user_id)
        & (purchases.purchase_ts >= clicks.click_ts)
        & (purchases.purchase_ts <= clicks.click_ts + F.expr("INTERVAL 5 MINUTES")),
        "leftOuter",
    )
    q = (
        joined.select("click_id", "purchase_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_outer_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    pairs = {
        (r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ssj_outer_out").collect()
    }
    assert (100, 900) in pairs and (198, 998) in pairs
    assert (101, None) in pairs  # the outer row, emitted after eviction


def test_stream_stream_full_outer_join_emits_both_sides(spark, tmp_path):
    """Watermarked stream-stream FULL OUTER join — completing the
    outer-join matrix (inner: q116 twin; left: test above): unmatched
    rows from BOTH sides surface with NULLs for the other side once the
    watermark passes their join-window horizon. Same drip-fed harness;
    purchase 902 has no click within its 5-minute look-back, click 101
    never converts — both must appear exactly once as outer rows."""
    src_a = str(tmp_path / "a")
    src_b = str(tmp_path / "b")

    def write(path, rows):
        spark.createDataFrame(rows, schema="ts string, user_id long, event_id long").selectExpr(
            "CAST(ts AS TIMESTAMP) ts", "user_id", "event_id"
        ).coalesce(1).write.mode("append").parquet(path)

    write(src_a, [("2024-01-01 10:00:00", 1, 100), ("2024-01-01 10:02:00", 2, 101)])
    # purchase 900 matches click 100; purchase 902 (user 3) has no click
    write(src_b, [("2024-01-01 10:01:00", 1, 900), ("2024-01-01 10:03:00", 3, 902)])
    # heartbeats: push both watermarks far past every join-window horizon
    write(src_a, [("2024-01-01 13:00:00", 42, 198)])
    write(src_b, [("2024-01-01 13:00:10", 42, 998)])

    clicks = (
        spark.readStream.schema("ts timestamp, user_id long, event_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_a)
        .withWatermark("ts", "10 minutes")
        .withColumnRenamed("ts", "click_ts")
        .withColumnRenamed("event_id", "click_id")
    )
    purchases = (
        spark.readStream.schema("ts timestamp, user_id long, event_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_b)
        .withWatermark("ts", "10 minutes")
        .withColumnRenamed("ts", "purchase_ts")
        .withColumnRenamed("event_id", "purchase_id")
    )
    joined = clicks.join(
        purchases,
        (clicks.user_id == purchases.user_id)
        & (purchases.purchase_ts >= clicks.click_ts)
        & (purchases.purchase_ts <= clicks.click_ts + F.expr("INTERVAL 5 MINUTES")),
        "fullOuter",
    )
    q = (
        joined.select("click_id", "purchase_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_full_outer_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = [
        (r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM ssj_full_outer_out").collect()
    ]
    pairs = set(rows)
    assert (100, 900) in pairs and (198, 998) in pairs  # matches
    assert (101, None) in pairs  # unmatched click (left-outer row)
    assert (None, 902) in pairs  # unmatched purchase (right-outer row)
    assert len(rows) == len(pairs)  # each emitted exactly once


def test_observed_metrics_via_listener(spark, tmp_path):
    """Observability seam: `instrument()` rides the existing plan (no
    extra pass) and delivers per-micro-batch metrics — emitted rows,
    oplog high-water ts, namespaces — through StreamingQueryProgress to
    a registered listener. The Spark-native stand-in for the
    reference's per-record logging, at per-batch cost."""
    import time as _time

    from flink_mingo_tail_spark.streaming.pipeline import (
        PipelineMetricsListener,
        build_cdc_stream,
        instrument,
    )

    src = str(tmp_path / "src")
    write_batch(spark, op_rows(OplogCase(n_ops=10)), src)

    listener = PipelineMetricsListener()
    spark.streams.addListener(listener)
    try:
        stream = spark.readStream.schema(OPLOG_SOURCE_SCHEMA).parquet(src)
        observed = instrument(build_cdc_stream(stream, replica_depth=3), "cdc")
        q = (
            observed.writeStream.outputMode("append")
            .format("memory")
            .queryName("obs_out")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # progress delivery is async — poll for the observed metric row
        deadline = _time.time() + 30
        rows = []
        while _time.time() < deadline:
            rows = listener.observed("cdc")
            if rows:
                break
            _time.sleep(0.5)
        assert rows, "no observed metrics delivered to the listener"
        total = sum(r["emitted_rows"] for r in rows)
        assert total == 10  # exactly-once: one metric count per emitted op
        assert all(r["namespaces_seen"] >= 1 for r in rows if r["emitted_rows"])
        assert any(r["highwater_ts_t"] is not None for r in rows)
        # the listener also carries engine-level progress (input rate etc.)
        assert any(p.numInputRows > 0 for p in listener.progress)
    finally:
        spark.streams.removeListener(listener)


def test_available_now_trigger_drains_and_stops(spark, tmp_path):
    """Trigger.AvailableNow — the production incremental-batch pattern:
    process everything present (respecting maxFilesPerTrigger
    backpressure, i.e. multiple bounded micro-batches), then TERMINATE,
    leaving the checkpoint ready for the next scheduled run. This is
    how a 100 TB backfill or an hourly CDC catch-up runs the same
    topology the always-on stream uses — same plan, same state, same
    checkpoint — without a long-lived cluster."""
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    case = OplogCase(n_ops=8)
    write_batch(spark, op_rows(case), src)

    from flink_mingo_tail_spark.streaming.pipeline import build_cdc_stream

    out = str(tmp_path / "out")

    def run_once() -> int:
        """One scheduled run; returns the CUMULATIVE sink row count.
        Parquet sink, not memory: the memory sink cannot recover from a
        checkpoint, and resuming the same checkpoint across runs is the
        entire point of the pattern."""
        stream = (
            spark.readStream.schema(OPLOG_SOURCE_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            build_cdc_stream(stream, replica_depth=3)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)  # availableNow terminates on its own
        assert not q.isActive
        return spark.read.parquet(out).count()

    assert run_once() == 8
    # second scheduled run: nothing new behind the checkpoint
    assert run_once() == 8
    # new data arrives between runs; the third run picks up only it
    more = OplogCase(n_ops=4, h_base=1008, ts_base=1_700_000_012)
    write_batch(spark, op_rows(more), src)
    assert run_once() == 12
