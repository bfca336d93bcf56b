"""The two streaming workloads, `cdc_backfill` and `cdc_tail`.

Both run the reference topology through the package's public entry
points: the `oplog_sim` source over per-member JSONL logs, then
`streaming.pipeline.build_cdc_stream` (pushed-down `oplog_filter`, then
`quorum.quorum_dedup_stream`), then `envelope`, then the `es_bulk`
writer in hermetic ``transport_dir`` mode. Each micro-batch leaves its
bulk request files plus one commit receipt; the receipt's write time is
the batch's publish point.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.common import Result, Tracer, another_unit, median, percentile

REPLICA_DEPTH = gen.MEMBERS_PER_SHARD

# cdc_backfill: the backlog a restarted consumer finds, and the smaller
# replay that warms the engine first (Python workers, JIT, state store).
BACKFILL_ENTRIES = 3_000
BACKFILL_WARM_ENTRIES = 300
BACKFILL_OPS_PER_TS = 5  # oplog seconds advance once per this many entries
BACKFILL_TTL_MS = 60_000  # the pipeline's default state TTL
TS_BASE = 1_700_000_000

# cdc_tail: open-loop rate, the burst that takes the engine's cold first
# batch before the loop opens, the untimed stretch that lets the batch
# cadence settle, and the state TTL. The TTL is short so that eviction
# (watermark delay 10 s + TTL after an op's time) starts about 5 s into
# the window and then runs in every batch.
TAIL_RATE = 100.0
TAIL_PRIME_ENTRIES = 60
TAIL_WARM_S = 6.0
TAIL_TTL_MS = 1_000
# A cdc_tail run is invalid when the generator falls behind its schedule
# by more than this (p99, max): the offered load is then no longer the
# fixed rate. Latency is timed from the due time either way. With every
# task slot busy the generator thread waits for a core now and then;
# measured p99 lateness stays below 40 ms, the maximum below 200 ms.
GEN_LATE_P99_S = 0.1
GEN_LATE_MAX_S = 1.0


# ---------------------------------------------------------------------------
# The pipeline under test
# ---------------------------------------------------------------------------


def register_sources(spark) -> None:
    from flink_mingo_tail_spark.sources import oplog
    from flink_mingo_tail_spark.streaming.es_datasource import ESBulkDataSource

    oplog.register(spark)
    spark.dataSource.register(ESBulkDataSource)


def start_pipeline(spark, logs: str, out: str, ckpt: str, ttl_ms: int):
    from flink_mingo_tail_spark.streaming.pipeline import build_cdc_stream, envelope

    os.makedirs(out, exist_ok=True)
    ops = spark.readStream.format("oplog_sim").option("path", logs).load()
    docs = envelope(build_cdc_stream(ops, REPLICA_DEPTH, state_ttl_ms=ttl_ms))
    return (
        docs.writeStream.format("es_bulk")
        .option("transport_dir", out)
        .option("index", "oplog")
        .option("checkpointLocation", ckpt)
        .start()
    )


# ---------------------------------------------------------------------------
# Reading back what the sink published
# ---------------------------------------------------------------------------


@dataclass
class Batch:
    batch_id: int
    publish_ns: int  # write time of the commit receipt
    receipt: dict
    docs: list[dict] = field(default_factory=list)  # envelope rows, parsed
    n_requests: int = 0
    n_bytes: int = 0
    last_req_ns: int | None = None


@dataclass
class SinkReport:
    batches: list[Batch]
    problems: list[str]
    aborts: int

    def publish_times(self) -> dict[int, list[float]]:
        """h -> publish times (s) of every batch that carried it."""
        out: dict[int, list[float]] = {}
        for b in self.batches:
            for d in b.docs:
                out.setdefault(d["h"], []).append(b.publish_ns / 1e9)
        return out


def read_sink(out: str) -> SinkReport:
    """Map every request file to the commit receipt of its batch and
    check the receipts' totals against the request files.

    Micro-batches run one after another, so a request written for batch
    b is newer than receipt b-1 and not newer than receipt b."""
    problems: list[str] = []
    batches = []
    for path in sorted(glob.glob(os.path.join(out, "commit-*.json"))):
        with open(path) as f:
            receipt = json.load(f)
        batches.append(Batch(receipt["batch_id"], os.stat(path).st_mtime_ns, receipt))
    batches.sort(key=lambda b: b.batch_id)
    for a, b in zip(batches, batches[1:]):
        if b.publish_ns < a.publish_ns:
            problems.append(f"receipt {b.batch_id} older than receipt {a.batch_id}")
    ends = [b.publish_ns for b in batches]
    aborts = glob.glob(os.path.join(out, "abort-*.json"))
    problems.extend(f"aborted batch: {os.path.basename(p)}" for p in aborts)
    for path in glob.glob(os.path.join(out, "req-*.ndjson")):
        mtime = os.stat(path).st_mtime_ns
        i = bisect.bisect_left(ends, mtime)
        if i == len(batches):
            problems.append(f"request without a commit receipt: {os.path.basename(path)}")
            continue
        b = batches[i]
        with open(path, "rb") as f:
            raw = f.read()
        _url, _ctype, body = raw.split(b"\n", 2)
        lines = body.decode().splitlines()
        for action, source in zip(lines[0::2], lines[1::2]):
            doc_id = json.loads(action)["index"]["_id"]
            row = json.loads(source)["data"]
            if str(row["h"]) != doc_id:
                problems.append(f"_id {doc_id} does not match h {row['h']}")
            b.docs.append(row)
        b.n_requests += 1
        b.n_bytes += len(body)
        b.last_req_ns = mtime if b.last_req_ns is None else max(b.last_req_ns, mtime)
    for b in batches:
        r = b.receipt
        if (r["n_docs"], r["n_requests"], r["n_bytes"]) != (len(b.docs), b.n_requests, b.n_bytes):
            problems.append(
                f"batch {b.batch_id}: receipt n_docs/n_requests/n_bytes "
                f"{r['n_docs']}/{r['n_requests']}/{r['n_bytes']} vs request files "
                f"{len(b.docs)}/{b.n_requests}/{b.n_bytes}"
            )
    return SinkReport(batches, problems, len(aborts))


def check_published(entries: list[gen.Entry], report: SinkReport) -> tuple[int, int, list[str]]:
    """Compare the published docs with the generator's expected set.
    Returns (attempted, failed, problems): attempted = ops that must be
    published; failed = missing + extra copies + ops published that must
    not be + published payloads that differ from the op."""
    expected = {e.h: gen.expected_doc(e) for e in entries if e.published}
    seen: dict[int, int] = {}
    problems = list(report.problems)
    failed = len(report.problems)
    for b in report.batches:
        for row in b.docs:
            h = row["h"]
            seen[h] = seen.get(h, 0) + 1
            want = expected.get(h)
            if want is None:
                failed += 1
                problems.append(f"published op {h} is not in the expected set")
            elif json.loads(row["data"]) != want:
                failed += 1
                problems.append(f"payload of op {h} differs from the generated op")
    missing = [h for h in expected if h not in seen]
    dups = sum(n - 1 for n in seen.values() if n > 1)
    if missing:
        problems.append(f"{len(missing)} expected ops never published (e.g. {missing[:3]})")
    if dups:
        problems.append(f"{dups} extra copies of published ops")
    return len(expected), failed + len(missing) + dups, problems


# ---------------------------------------------------------------------------
# Progress reports -> spans and per-layer numbers
# ---------------------------------------------------------------------------

# Order of the micro-batch phases inside one trigger.
PHASES = ("latestOffset", "getBatch", "walCommit", "queryPlanning", "addBatch", "commitOffsets")


def make_listener():
    """A StreamingQueryListener that keeps every progress report (as
    its JSON form) in memory."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Collector(StreamingQueryListener):
        def __init__(self) -> None:
            self.reports: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            report = json.loads(event.progress.json)
            with self._lock:
                self.reports.append(report)

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

        def wait_for(self, run_id: str, batch_id: int, timeout_s: float = 10.0) -> None:
            """Progress reports arrive asynchronously: wait until the
            report of ``batch_id`` is in before detaching."""
            deadline = time.time() + timeout_s
            while time.time() < deadline:
                with self._lock:
                    if any(r["runId"] == run_id and r["batchId"] >= batch_id for r in self.reports):
                        return
                time.sleep(0.05)

        def take(self, run_id: str) -> list[dict]:
            with self._lock:
                mine = [r for r in self.reports if r["runId"] == run_id]
                self.reports = [r for r in self.reports if r["runId"] != run_id]
            return sorted(mine, key=lambda r: r["batchId"])

    return Collector()


def _iso_to_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def progress_spans(tracer: Tracer, reports: list[dict], parent: int) -> None:
    """One trigger span per progress report, with its phases as child
    spans laid end to end from the trigger start (the report gives each
    phase's duration, not its start)."""
    for r in reports:
        d = r["durationMs"]
        start = _iso_to_epoch(r["timestamp"])
        trig = tracer.add(
            "batch.trigger", start, start + d.get("triggerExecution", 0) / 1e3, parent,
            batch_id=r["batchId"], rows=r["numInputRows"],
        )
        t = start
        for ph in PHASES:
            if ph in d:
                tracer.add(f"batch.{ph}", t, t + d[ph] / 1e3, trig)
                t += d[ph] / 1e3


def batch_layer_metrics(res: Result, reports: list[dict]) -> None:
    """`batch.*`, `quorum.*` and `source.*` numbers from progress reports."""
    if not reports:
        for name, unit in BATCH_METRICS + QUORUM_METRICS + SOURCE_PROGRESS_METRICS:
            res.put(name, 0.0, unit)
        return
    d = [r["durationMs"] for r in reports]
    nodata = [r for r in reports if r["numInputRows"] == 0]
    trig = [x.get("triggerExecution", 0) for x in d]
    res.put("batch.count", len(reports), "count")
    res.put("batch.nodata_count", len(nodata), "count")
    res.put("batch.trigger_ms_p50", median(trig), "ms")
    res.put("batch.trigger_ms_p99", percentile(trig, 99), "ms")
    for key, name in (("addBatch", "add_ms"), ("queryPlanning", "plan_ms"),
                      ("walCommit", "wal_ms"), ("commitOffsets", "commit_ms")):
        res.put(f"batch.{name}", sum(x.get(key, 0) for x in d), "ms")
    res.put("batch.nodata_ms", sum(r["durationMs"].get("triggerExecution", 0) for r in nodata), "ms")
    ops = [r["stateOperators"][0] for r in reports if r.get("stateOperators")]
    res.put("quorum.update_ms", sum(o["allUpdatesTimeMs"] for o in ops), "ms")
    res.put("quorum.remove_ms", sum(o["allRemovalsTimeMs"] for o in ops), "ms")
    res.put("quorum.commit_ms", sum(o["commitTimeMs"] for o in ops), "ms")
    res.put("quorum.state_rows", max((o["numRowsTotal"] for o in ops), default=0), "count")
    res.put("quorum.state_bytes", max((o["memoryUsedBytes"] for o in ops), default=0), "bytes")
    res.put("quorum.rows_removed", sum(o["numRowsRemoved"] for o in ops), "count")
    lat = [x.get("latestOffset", 0) for x in d]
    res.put("source.read_ms_p50", median(lat), "ms")
    res.put("source.read_ms_max", max(lat), "ms")
    res.put("source.rows_in", sum(r["numInputRows"] for r in reports), "count")


BATCH_METRICS = [
    ("batch.count", "count"), ("batch.nodata_count", "count"),
    ("batch.trigger_ms_p50", "ms"), ("batch.trigger_ms_p99", "ms"),
    ("batch.add_ms", "ms"), ("batch.plan_ms", "ms"), ("batch.wal_ms", "ms"),
    ("batch.commit_ms", "ms"), ("batch.nodata_ms", "ms"),
]
QUORUM_METRICS = [
    ("quorum.update_ms", "ms"), ("quorum.remove_ms", "ms"), ("quorum.commit_ms", "ms"),
    ("quorum.state_rows", "count"), ("quorum.state_bytes", "bytes"),
    ("quorum.rows_removed", "count"),
]
SOURCE_PROGRESS_METRICS = [
    ("source.read_ms_p50", "ms"), ("source.read_ms_max", "ms"), ("source.rows_in", "count"),
]


def reports_lag(reports: list[dict], write_times: list[tuple[float, int]]) -> float:
    """Median over triggers of deliveries written to the logs by the end
    of the trigger minus deliveries the source had read in it: what
    waits for the next trigger."""
    if not reports or not write_times:
        return 0.0
    times = [t for t, _ in write_times]
    cum = []
    total = 0
    for _, n in write_times:
        total += n
        cum.append(total)
    lags = []
    for r in reports:
        end = r["sources"][0].get("endOffset")
        if not end:
            continue
        read = sum((json.loads(end) if isinstance(end, str) else end)["lines"].values())
        t_end = _iso_to_epoch(r["timestamp"]) + r["durationMs"].get("triggerExecution", 0) / 1e3
        i = bisect.bisect_right(times, t_end)
        lags.append((cum[i - 1] if i else 0) - read)
    return median(lags) if lags else 0.0


def layer_probes(spark, res: Result, tracer: Tracer, root_span: int, logs: str,
                 entries: list[gen.Entry], report: SinkReport, scratch: str) -> int:
    """Timed calls into the source, filter and sink layers' public
    functions over the workload's own data; returns failures found
    (the filter's drop count must equal the generator's noise)."""
    from pyspark.sql import Row

    from flink_mingo_tail_spark.sources.oplog import OplogSimStreamReader
    from flink_mingo_tail_spark.streaming.es_datasource import ESBulkBatchWriter
    from flink_mingo_tail_spark.streaming.pipeline import oplog_filter

    with tracer.span("source.read", root_span) as sp:
        t = time.perf_counter()
        rows, _end = OplogSimStreamReader({"path": logs}).read({"lines": {}})
        n_rows = sum(1 for _ in rows)
        dt = time.perf_counter() - t
    tracer.spans[sp].attrs["rows"] = n_rows
    res.put("source.read_rows_per_s", n_rows / dt, "1/s")

    with tracer.span("filter.count", root_span):
        raw = spark.read.format("oplog_sim").option("path", logs).load()
        rows_in = raw.count()
        rows_out = oplog_filter(raw).count()
    noise = sum(len(e.deliver_to) for e in entries if e.doc["op"] == "n"
                or e.doc["ns"] == gen.CHECKPOINT_NS or e.doc["fromMigrate"])
    res.put("filter.rows_in", rows_in, "count")
    res.put("filter.rows_out", rows_out, "count")
    res.put("filter.drop_share", (rows_in - rows_out) / rows_in, "share")
    failed = int(rows_in - rows_out != noise)

    docs = [Row(h=d["h"], data=d["data"]) for b in report.batches for d in b.docs]
    os.makedirs(scratch, exist_ok=True)
    with tracer.span("sink.write", root_span):
        t = time.perf_counter()
        ESBulkBatchWriter({"transport_dir": scratch, "index": "oplog"}).write(iter(docs))
        dt = time.perf_counter() - t
    shutil.rmtree(scratch, ignore_errors=True)
    res.put("sink.write_ms", dt * 1e3, "ms")
    res.put("sink.docs", len(docs), "count")
    res.put("sink.requests", sum(b.n_requests for b in report.batches), "count")
    res.put("sink.bytes", sum(b.n_bytes for b in report.batches), "bytes")
    res.put("sink.docs_per_request", len(docs) / max(1, sum(b.n_requests for b in report.batches)), "count")
    pub = [(b.publish_ns - b.last_req_ns) / 1e6 for b in report.batches if b.last_req_ns]
    res.put("sink.publish_ms", median(pub) if pub else 0.0, "ms")
    res.put("sink.aborts", report.aborts, "count")
    res.put("quorum.emit_share", len(docs) / rows_out, "share")
    return failed


# ---------------------------------------------------------------------------
# cdc_backfill
# ---------------------------------------------------------------------------


def drain(spark, logs: str, run_dir: str, tracer: Tracer, parent: int):
    """One catch-up: a fresh checkpoint over the whole backlog, drained
    with processAllAvailable, then stopped. Returns (t_start, t_stopped,
    query run id, sink report)."""
    out, ckpt = os.path.join(run_dir, "sink"), os.path.join(run_dir, "ckpt")
    with tracer.span("stream.start", parent):
        t0 = time.time()
        q = start_pipeline(spark, logs, out, ckpt, BACKFILL_TTL_MS)
    with tracer.span("stream.drain", parent):
        q.processAllAvailable()
    with tracer.span("stream.stop", parent):
        q.stop()
    t_stop = time.time()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    return t0, t_stop, q.runId, read_sink(out)


def run_backfill(spark, work: str, seed: int, seconds: float, tracer: Tracer,
                 listener, t_process: float, res: Result) -> None:
    """Closed-loop drains of one seeded backlog, each from a fresh
    checkpoint, as many as fit in ``seconds`` (at least one). With tracing, the
    listener is attached to every other drain (the first one included)
    and at least two drains run, so traced and untraced drains of the
    same backlog can be compared."""
    logs = os.path.join(work, "logs")
    warm_logs = os.path.join(work, "warm-logs")
    with tracer.span("gen.backlog"):
        entries = gen.backlog(seed, BACKFILL_ENTRIES, TS_BASE, BACKFILL_OPS_PER_TS)
        gen.write_logs(entries, logs)
        warm = gen.backlog(seed + 1_000_003, BACKFILL_WARM_ENTRIES, TS_BASE, BACKFILL_OPS_PER_TS)
        gen.write_logs(warm, warm_logs)
    with tracer.span("warmup") as sp:
        *_, rep = drain(spark, warm_logs, os.path.join(work, "warm"), tracer, sp)
        a, f, problems = check_published(warm, rep)
        res.attempted += a
        res.failed += f
        res.notes.setdefault("problems", []).extend(problems)
    setup_s = time.time() - t_process

    drains = []
    t_begin = time.time()
    i = 0
    while i < (2 if tracer.enabled else 1) or another_unit([d["stop"] for d in drains], t_begin, seconds):
        traced = tracer.enabled and i % 2 == 0
        if traced:
            spark.streams.addListener(listener)
        with tracer.span("drain", traced=traced) as sp:
            t0, t_stop, run_id, rep = drain(spark, logs, os.path.join(work, f"d{i}"), tracer, sp)
        if traced:
            listener.wait_for(str(run_id), max(b.batch_id for b in rep.batches))
            spark.streams.removeListener(listener)
        a, f, problems = check_published(entries, rep)
        res.attempted += a
        res.failed += f
        res.notes.setdefault("problems", []).extend(problems)
        pub = [b.publish_ns / 1e9 for b in rep.batches]
        data_pub = [b.publish_ns / 1e9 for b in rep.batches if b.docs]
        lat = [b.publish_ns / 1e9 - t0 for b in rep.batches for _ in b.docs]
        drains.append({
            "t0": t0, "idle": max(pub) - t0, "data": max(data_pub) - t0, "stop": t_stop - t0,
            "ops": sum(len(b.docs) for b in rep.batches), "lat": lat, "run_id": run_id,
            "traced": traced, "span": sp, "report": rep,
        })
        i += 1
    res.notes["drains"] = [
        {k: round(v, 4) if isinstance(v, float) else v for k, v in d.items()
         if k in ("idle", "data", "stop", "ops", "traced")}
        for d in drains
    ]

    untraced = [d for d in drains if not d["traced"]]
    lat = [x for d in untraced for x in d["lat"]]
    res.put("setup_s", setup_s, "s")
    res.put("ops_per_s", median([d["ops"] / d["data"] for d in untraced]), "1/s")
    res.put("drain_s", median([d["idle"] for d in untraced]), "s")
    res.put("pass_s", median([d["stop"] for d in untraced]), "s")
    res.put("latency_p50_ms", percentile(lat, 50) * 1e3, "ms")
    res.put("latency_p99_ms", percentile(lat, 99) * 1e3, "ms")
    # Little's law: mean ops waiting over the drain = summed wait / time.
    res.put("backlog_end_ops", median([sum(d["lat"]) / d["idle"] for d in untraced]), "ops")
    res.notes["latency_samples"] = len(lat)

    if tracer.enabled:
        traced = [d for d in drains if d["traced"]]
        reports = []
        for d in traced:
            rs = listener.take(str(d["run_id"]))
            progress_spans(tracer, rs, d["span"])
            reports.extend(rs)
        batch_layer_metrics(res, reports)
        res.put("source.lag_ops", 0.0, "count")  # the whole backlog is there at start
        last = traced[-1]
        res.failed += layer_probes(spark, res, tracer, last["span"], logs, entries,
                                   last["report"], os.path.join(work, "probe-sink"))
        overhead = median([d["idle"] for d in traced]) - median([d["idle"] for d in untraced])
        res.put("trace.overhead_ms", overhead * 1e3, "ms")
        gen_metrics(res, [], len(entries))


def gen_metrics(res: Result, late_s: list[float], n_ops: int) -> None:
    res.put("gen.late_ms_p99", percentile(late_s, 99) * 1e3 if late_s else 0.0, "ms")
    res.put("gen.late_ms_max", max(late_s) * 1e3 if late_s else 0.0, "ms")
    res.put("gen.ops", n_ops, "count")


# ---------------------------------------------------------------------------
# cdc_tail
# ---------------------------------------------------------------------------


class OpenLoopGenerator:
    """One thread appending entries to the member logs on a fixed
    schedule (entry k due at t_start + k / rate), whatever the pipeline
    does. ``ts_t`` is the wall clock when the entry is generated."""

    def __init__(self, seed: int, logs: str, rate: float) -> None:
        self.mix = gen.OpMix(seed)
        self.appender = gen.LogAppender(logs)
        self.rate = rate
        self.entries: list[gen.Entry] = []
        self.due: list[float] = []
        self.written: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="open-loop-gen", daemon=True)
        self.error: BaseException | None = None

    def _run(self) -> None:
        try:
            k = 0
            while not self._stop.is_set():
                due = self.t_start + k / self.rate
                delay = due - time.time()
                if delay > 0 and self._stop.wait(delay):
                    break
                e = self.mix.next_entry(int(time.time()))
                self.appender.append(e)
                self.written.append(time.time())
                self.entries.append(e)
                self.due.append(due)
                k += 1
        except BaseException as exc:  # reported by stop(); the thread must not die silently
            self.error = exc

    def prime(self, n: int) -> None:
        """Write ``n`` entries at once, before the loop opens."""
        for _ in range(n):
            now = time.time()
            e = self.mix.next_entry(int(now))
            self.appender.append(e)
            self.entries.append(e)
            self.due.append(now)
            self.written.append(time.time())

    def start(self) -> OpenLoopGenerator:
        self.t_start = time.time()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
        self.appender.close()
        if self.error is not None:
            raise RuntimeError("generator failed") from self.error


def run_tail(spark, work: str, seed: int, seconds: float, tracer: Tracer,
             listener, t_process: float, res: Result) -> None:
    """Open loop at TAIL_RATE entries/s. Untimed first: a small burst
    drained by the stream's cold first batch, then TAIL_WARM_S of the
    loop. Then the timed window of ``seconds``. The traced run goes on
    for two more windows of ``seconds``; the listener is attached for
    the first and the third (and the drain after it), not the second:
    the mean of the traced windows' median latencies minus the untraced
    one's is the tracing overhead, with a steady drift cancelled."""
    logs, out, ckpt = (os.path.join(work, x) for x in ("logs", "sink", "ckpt"))
    g = OpenLoopGenerator(seed, logs, TAIL_RATE)
    g.prime(TAIL_PRIME_ENTRIES)
    with tracer.span("warmup"):
        with tracer.span("stream.start"):
            q = start_pipeline(spark, logs, out, ckpt, TAIL_TTL_MS)
        while not glob.glob(os.path.join(out, "commit-*.json")):  # the cold first batch
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            time.sleep(0.05)
    g.start()
    t_timed = g.t_start + TAIL_WARM_S
    setup_s = t_timed - t_process
    t_untraced = t_timed + seconds
    t_traced = t_untraced + seconds
    t_end = t_traced + seconds if tracer.enabled else t_untraced
    root = tracer.add("tail.windows", t_timed, t_end, None)
    if tracer.enabled:
        time.sleep(max(0.0, t_timed - time.time()))
        spark.streams.addListener(listener)
        time.sleep(max(0.0, t_untraced - time.time()))
        spark.streams.removeListener(listener)
        time.sleep(max(0.0, t_traced - time.time()))
        spark.streams.addListener(listener)
    time.sleep(max(0.0, t_end - time.time()))
    g.stop()
    with tracer.span("stream.drain"):
        q.processAllAvailable()
    with tracer.span("stream.stop"):
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    rep = read_sink(out)
    if tracer.enabled:
        listener.wait_for(str(q.runId), max(b.batch_id for b in rep.batches))
        spark.streams.removeListener(listener)

    a, f, problems = check_published(g.entries, rep)
    res.attempted += a
    res.failed += f
    res.notes.setdefault("problems", []).extend(problems)
    late = [w - d for w, d in zip(g.written, g.due) if d >= t_timed]
    late_p99, late_max = percentile(late, 99), max(late)
    if late_p99 > GEN_LATE_P99_S or late_max > GEN_LATE_MAX_S:
        res.failed += 1
        res.notes.setdefault("problems", []).append(
            f"the run is invalid: the generator fell behind its schedule "
            f"(late p99 {late_p99 * 1e3:.1f} ms, max {late_max * 1e3:.1f} ms)")

    pub = rep.publish_times()

    def window(t0: float, t1: float) -> list[tuple[float, float]]:
        """(due, latency) of every published op due in [t0, t1)."""
        return [(d, min(pub[e.h]) - d) for d, e in zip(g.due, g.entries)
                if t0 <= d < t1 and e.published and e.h in pub]

    timed = window(t_timed, t_untraced)
    lat = [x for _, x in timed]
    last_pub = max(d + x for d, x in timed)

    res.put("setup_s", setup_s, "s")
    # The same figure as pass_s: the timed op count is fixed by seed and rate.
    res.put("ops_per_s", len(timed) / (last_pub - t_timed), "1/s")
    # Live tailing drains what queued during one batch in the next one:
    # the mean interval between consecutive publishes, from the last one
    # before the window to the one that published the last timed op.
    # Both exist even when a single batch outlasts the window.
    pubs = sorted(b.publish_ns / 1e9 for b in rep.batches)
    i0 = bisect.bisect_right(pubs, t_timed) - 1
    i1 = bisect.bisect_left(pubs, last_pub)
    res.put("drain_s", (pubs[i1] - pubs[i0]) / (i1 - i0), "s")
    res.put("pass_s", last_pub - t_timed, "s")
    res.put("latency_p50_ms", percentile(lat, 50) * 1e3, "ms")
    res.put("latency_p99_ms", percentile(lat, 99) * 1e3, "ms")
    res.put("backlog_end_ops", mean_backlog([d for d, _ in timed], [d + x for d, x in timed],
                                            t_timed, t_untraced), "ops")
    by_second: dict[int, list[float]] = {}
    for d, x in timed:
        by_second.setdefault(int(d - t_timed), []).append(x)
    res.notes.update(
        latency_samples=len(lat),
        gen_late_ms_p99=round(late_p99 * 1e3, 3),
        gen_late_ms_max=round(late_max * 1e3, 3),
        latency_p50_ms_by_second=[round(median(v) * 1e3) for _, v in sorted(by_second.items())],
    )

    if tracer.enabled:
        reports = listener.take(str(q.runId))
        progress_spans(tracer, reports, root)
        batch_layer_metrics(res, reports)
        writes = [(w, len(e.deliver_to)) for w, e in zip(g.written, g.entries)]
        res.put("source.lag_ops", reports_lag(reports, writes), "count")
        res.failed += layer_probes(spark, res, tracer, root, logs, g.entries, rep,
                                   os.path.join(work, "probe-sink"))

        def p50(t0: float, t1: float) -> float:
            return median([x for _, x in window(t0, t1)])

        traced_p50 = (median(lat) + p50(t_traced, t_end)) / 2
        res.put("trace.overhead_ms", (traced_p50 - p50(t_untraced, t_traced)) * 1e3, "ms")
        gen_metrics(res, late, len(late))


def mean_backlog(due: list[float], published: list[float], t0: float, t1: float, step: float = 0.01) -> float:
    """Time-averaged count of ops due but not yet published over [t0, t1)."""
    due = sorted(due)
    published = sorted(published)
    n = max(1, int((t1 - t0) / step))
    total = 0
    for k in range(n):
        t = t0 + k * step
        total += bisect.bisect_right(due, t) - bisect.bisect_right(published, t)
    return total / n
