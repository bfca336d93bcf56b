"""Shared pieces of the benchmark: the pinned run environment, timing
statistics, peak-memory sampling over the process tree, the in-memory
span recorder, and the result every workload returns."""

from __future__ import annotations

import json
import math
import os
import signal
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

DRIVER_MEM = "2g"


def pin_env(root: str, work: str, cpus: int) -> dict[str, str]:
    """Pin everything the program reads from the environment. Must run
    before pyspark or the package under test is imported: session.py
    reads SPARK_GRAFT_CPUS at import, and Spark's Python workers inherit
    this environment (without PYTHONPATH they cannot unpickle the
    `oplog_sim` reader)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # No console progress bar (stdout stays machine-parsable); JVM
        # temp files stay inside the run directory, and no perf-data file
        # goes to /tmp; the heap starts at its cap, so resident memory
        # does not depend on when the collector decides to grow it.
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false --driver-java-options "
            f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}' pyspark-shell"
        ),
    }
    os.environ.update(pinned)
    return pinned


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def another_unit(durations: list[float], t_begin: float, seconds: float) -> bool:
    """Whether to start another unit of work (a drain, a query pass) in
    a window of ``seconds`` opened at ``t_begin``: always the first; then
    only one expected (median duration so far) to end inside the window."""
    if not durations:
        return True
    return time.time() - t_begin + median(durations) <= seconds


def supported_percentile(n: int) -> float:
    """Highest of p50/p90/p99/p99.9 that leaves at least ten samples
    beyond it; 50 when even p90 does not."""
    best = 50.0
    for q in (90.0, 99.0, 99.9):
        if n * (1 - q / 100.0) >= 10:
            best = q
    return best


# ---------------------------------------------------------------------------
# Process tree: peak resident memory, and cleanup
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def tree_pss_bytes(pid: int) -> int:
    """Resident memory of ``pid`` and its descendants, with pages shared
    between processes (forked Python workers) counted once overall: the
    proportional set size of each Python process, and the resident set
    of the JVM, which shares next to nothing and whose proportional set
    takes the kernel 10-30 ms to add up at every sample."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/comm") as f:
                jvm = f.read().strip() == "java"
            path, key = (f"/proc/{p}/status", "VmRSS:") if jvm else (f"/proc/{p}/smaps_rollup", "Pss:")
            with open(path) as f:
                total += next(int(ln.split()[1]) for ln in f if ln.startswith(key)) * 1024
        except (OSError, StopIteration):
            pass
    return total


class RssSampler:
    """Samples the resident memory of this process plus every descendant
    (driver JVM, Python workers) and keeps the peak."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(pid))
            self._stop.wait(self.interval_s)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop.set()
        self._thread.join()
        return self.peak / 2**20


def kill_descendants() -> None:
    for p in descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, grace_s: float = 30.0) -> None:
    """Stop the session, then end the JVM it launched and wait until it
    and every process below it (Python workers) has exited. The JVM
    exits when its stdin closes; whatever is left after ``grace_s`` is
    killed."""
    from pyspark import SparkContext

    spark.stop()
    started = descendants(os.getpid())
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
    deadline = time.time() + grace_s
    while alive := [p for p in started if _running(p)]:
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
    if proc is not None:
        proc.wait()


def start_watchdog(limit_s: float) -> threading.Timer:
    """Hard stop: kill the process tree and exit non-zero (printing no
    result) if the run overstays ``limit_s``."""

    def fire() -> None:
        print(f"perfbench: run exceeded {limit_s:.0f} s, aborting", flush=True)
        kill_descendants()
        os._exit(3)

    t = threading.Timer(limit_s, fire)
    t.daemon = True
    t.start()
    return t


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Spans carry the run id; a span's parent
    is the index of the span that caused it. ``enabled=False`` records
    nothing, so untraced runs pay only a branch."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        if not self.enabled:
            return -1
        self.spans.append(Span(name, start, end, parent, attrs))
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Times the block; yields the span index so children can point
        at it. The span is stored when the block ends."""
        if not self.enabled:
            yield -1
            return
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), math.nan, parent, attrs))
        try:
            yield idx
        finally:
            self.spans[idx].end = time.time()

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name: each span's duration
        minus the union of its children's intervals (clipped to it)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None and s.parent >= 0:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered, cur_end = 0.0, s.start
            for a, b in sorted(kids.get(i, ())):
                a, b = max(a, cur_end), min(b, s.end)
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [
                        {"id": i, "name": s.name, "start": s.start, "end": s.end,
                         "parent": s.parent, **s.attrs}
                        for i, s in enumerate(self.spans)
                    ],
                    "self_time_s": self.self_times(),
                },
                f,
            )


# ---------------------------------------------------------------------------
# Result
# ---------------------------------------------------------------------------


@dataclass
class Result:
    """What a workload reports: operations attempted and failed, the
    end-to-end metrics (untraced run) or per-layer metrics (traced run),
    as name -> (value, unit), and free-form notes for the summary."""

    attempted: int = 0
    failed: int = 0
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)
