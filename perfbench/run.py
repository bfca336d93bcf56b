#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <cdc_backfill|cdc_tail|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds its inputs from ``--seed`` inside
``.perfbench_run/`` under the root, measures for ``--seconds``, checks
every output, and prints a readable report (lines starting with ``#``)
followed, as the last line of stdout, by one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` is the separate traced run that
reports the per-layer metrics and writes its spans to
``.perfbench_run/spans-<workload>-seed<n>.json``. Exits non-zero when
any output is wrong or the program is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402

WORKLOADS = ("cdc_backfill", "cdc_tail", "query_mix")

END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("drain_s", "s"),
    ("pass_s", "s"),
    ("latency_p50_ms", "ms"),
    ("latency_p99_ms", "ms"),
    ("backlog_end_ops", "ops"),
    ("peak_rss_mb", "MiB"),
)


def per_layer_metrics() -> list[tuple[str, str]]:
    from perfbench import cdc, querymix

    return [
        *cdc.SOURCE_PROGRESS_METRICS,
        ("source.read_rows_per_s", "1/s"),
        ("source.lag_ops", "count"),
        ("filter.rows_in", "count"),
        ("filter.rows_out", "count"),
        ("filter.drop_share", "share"),
        *cdc.QUORUM_METRICS,
        ("quorum.emit_share", "share"),
        *cdc.BATCH_METRICS,
        ("sink.docs", "count"),
        ("sink.requests", "count"),
        ("sink.bytes", "bytes"),
        ("sink.docs_per_request", "count"),
        ("sink.write_ms", "ms"),
        ("sink.publish_ms", "ms"),
        ("sink.aborts", "count"),
        ("session.build_s", "s"),
        ("tables.load_s", "s"),
        *((f"query.{q}_s", "s") for q in querymix.QUERIES),
        ("gen.late_ms_p99", "ms"),
        ("gen.late_ms_max", "ms"),
        ("gen.ops", "count"),
        ("trace.overhead_ms", "ms"),
    ]


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)),
                   help="Spark task slots (default: all usable cores; 1 gives the "
                        "single-threaded reference run)")
    return p.parse_args(argv)


def run(args: argparse.Namespace, t_process: float) -> common.Result:
    work_base = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(work_base, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    pinned = common.pin_env(ROOT, work, args.cpus)
    tracer = common.Tracer(f"{args.workload}-seed{args.seed}-{os.getpid()}", bool(args.trace))
    res = common.Result()
    res.notes["env"] = pinned
    rss = common.RssSampler().start()
    spark = None
    try:
        from flink_mingo_tail_spark.session import build_session, prepare_session

        with tracer.span("session.build"):
            t = time.perf_counter()
            spark = prepare_session(build_session("perfbench"))
            build_s = time.perf_counter() - t
        if args.workload == "query_mix":
            from perfbench.querymix import run_query_mix

            run_query_mix(spark, work, args.seed, args.seconds, tracer, t_process, res)
        else:
            from perfbench import cdc

            with tracer.span("source.register"):
                cdc.register_sources(spark)
            listener = cdc.make_listener() if args.trace else None
            if args.workload == "cdc_backfill":
                cdc.run_backfill(spark, work, args.seed, args.seconds, tracer, listener, t_process, res)
            else:
                cdc.run_tail(spark, work, args.seed, args.seconds, tracer, listener, t_process, res)
    finally:
        if spark is not None:
            common.stop_spark(spark)
        peak_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        res.put("session.build_s", build_s, "s")
        os.makedirs(work_base, exist_ok=True)
        spans = os.path.join(work_base, f"spans-{args.workload}-seed{args.seed}.json")
        tracer.dump(spans)
        res.notes["spans"] = os.path.relpath(spans, ROOT)
        wanted = per_layer_metrics()
    else:
        res.put("peak_rss_mb", peak_mb, "MiB")
        wanted = END_TO_END
    # A layer the workload does not exercise did no work: report 0.
    res.metrics = {name: res.metrics.get(name, (0.0, unit)) for name, unit in wanted}
    return res


def report(args, res: common.Result) -> dict:
    correct = res.failed == 0 and res.attempted > 0
    out = {
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res.metrics.items()},
    }
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    print(f"# env: {json.dumps(res.notes.pop('env'))}")
    for k, (v, u) in res.metrics.items():
        print(f"#   {k:<40} {v:>14.4f} {u}")
    share = res.failed / res.attempted if res.attempted else 1.0
    print(f"#   {'error_share':<40} {share:>14.4f} share ({res.failed}/{res.attempted})")
    n = res.notes.get("latency_samples")
    if n:
        print(f"# latency: {n} samples; highest percentile with >= 10 samples beyond it: "
              f"p{common.supported_percentile(n):g}")
    problems = res.notes.pop("problems", [])
    for k, v in res.notes.items():
        print(f"# {k}: {json.dumps(v)}")
    for p in problems[:20]:
        print(f"# PROBLEM: {p}")
    print(json.dumps(out), flush=True)
    return out


def main(argv=None) -> int:
    t_process = process_start_time()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "flink_mingo_tail_spark", "__init__.py")):
        print(f"perfbench: the program (flink_mingo_tail_spark/) is not under {ROOT}", file=sys.stderr)
        return 2
    watchdog = common.start_watchdog(170.0)
    try:
        res = run(args, t_process)
    finally:
        watchdog.cancel()
    out = report(args, res)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
