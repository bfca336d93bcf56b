"""The `query_mix` workload: one closed-loop client running a fixed list
of registry queries over a seeded corpus, pass after pass.

Queries whose output grows with the input run into the `noop` sink;
the rest are collected. Correctness is checked outside the timed
region: the untimed warm-up pass collects every result and compares it
with the query's DuckDB oracle (`__spark_entry__.oracle_sql()`), and
each timed collect must equal its warm-up result.
"""

from __future__ import annotations

import math
import os
import time
from datetime import date, datetime

from perfbench import tables
from perfbench.common import Result, Tracer, another_unit, median, percentile

QUERIES = (
    "q01_pricing_summary",
    "q10_inner_join_agg",
    "q30_rank_topn_per_group",
    "q37_asof_join",
    "q62_cdc_quorum_dedup",
    "q64_cdc_resume_after_checkpoint",
    "q65_cdc_apply_latest_state",
    "q73_minhash_lsh_dedup",
    "q76_knn_bruteforce",
    "q80_token_stats",
    "q92_session_window",
    "q27b_percentile_rank_select",
    "q95_multimodal_features",
)
# Bounded output (a handful of groups, a top-k, a LIMIT): collected.
# Everything else grows with the input and goes to the noop sink.
COLLECTED = frozenset({
    "q01_pricing_summary",
    "q10_inner_join_agg",
    "q76_knn_bruteforce",
    "q80_token_stats",
    "q27b_percentile_rank_select",
})


def _canon(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, float):
        return "null" if math.isnan(v) else repr(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if hasattr(v, "isoformat"):  # pandas / numpy timestamps
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalars
        return _canon(v.item())
    return str(v)


def canonical(pdf) -> list[tuple[str, ...]]:
    """Order-free, engine-neutral form of a result: columns by name,
    values as exact strings, rows sorted."""
    cols = sorted(pdf.columns)
    return sorted(tuple(_canon(v) for v in row) for row in pdf[cols].itertuples(index=False))


def run_action(df, name: str):
    """The timed action: collect bounded results, drive the rest into
    the noop sink (full execution, nothing shipped to the client)."""
    if name in COLLECTED:
        return df.toPandas()
    df.write.format("noop").mode("overwrite").save()
    return None


def one_pass(spark, registry, sf_dir: str, tracer: Tracer, collect_all: bool):
    """Run every query once; returns [(name, start, end, pdf|None, error)]."""
    out = []
    with tracer.span("query.pass") as pspan:
        for name in QUERIES:
            t0 = time.time()
            try:
                with tracer.span(f"query.{name}", pspan) as qs:
                    with tracer.span("query.build", qs):
                        df = registry[name].fn(spark, sf_dir)
                    with tracer.span("query.action", qs):
                        pdf = df.toPandas() if collect_all else run_action(df, name)
                err = None
            except Exception as exc:  # a failing query is counted, and the pass goes on
                pdf, err = None, f"{type(exc).__name__}: {exc}"
            out.append((name, t0, time.time(), pdf, err))
    return out


def run_query_mix(spark, work: str, seed: int, seconds: float, tracer: Tracer,
                  t_process: float, res: Result) -> None:
    import __spark_entry__
    from flink_mingo_tail_spark.queries import load_registry
    from flink_mingo_tail_spark.tables import load_table

    registry = load_registry()
    sf_dir = os.path.join(work, "sf")
    with tracer.span("gen.tables"):
        tables.write(tables.generate(seed), sf_dir)
    if tracer.enabled:
        with tracer.span("tables.load"):
            t = time.perf_counter()
            for name in tables.NAMES:
                load_table(spark, sf_dir, name).count()
            res.put("tables.load_s", time.perf_counter() - t, "s")
    warm = one_pass(spark, registry, sf_dir, tracer, collect_all=True)
    setup_s = time.time() - t_process

    # The traced run alternates traced and untraced passes, at least one
    # of each; the difference of their median times is the tracing overhead.
    passes, traced = [], []
    untraced = Tracer(tracer.run_id, False)
    t_begin = time.time()
    while len(passes) < (2 if tracer.enabled else 1) or another_unit(
            [r[-1][2] - r[0][1] for r in passes], t_begin, seconds):
        on = tracer.enabled and len(passes) % 2 == 0
        passes.append(one_pass(spark, registry, sf_dir, tracer if on else untraced, collect_all=False))
        traced.append(on)
    res.put("setup_s", setup_s, "s")

    # --- checks, outside the timed region
    problems = []
    oracle = __spark_entry__.oracle_sql()
    import duckdb

    con = duckdb.connect()
    try:
        for name in tables.NAMES:
            path = os.path.join(sf_dir, f"{name}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        warm_rows = {}
        for name, _t0, _t1, pdf, err in warm:
            res.attempted += 1
            if err is not None:
                res.failed += 1
                problems.append(f"warm-up {name}: {err}")
                continue
            warm_rows[name] = canonical(pdf)
            if name not in oracle:
                continue
            want = canonical(con.execute(oracle[name]).fetchdf())
            if warm_rows[name] != want:
                res.failed += 1
                problems.append(f"{name}: result differs from its DuckDB oracle "
                                f"({len(warm_rows[name])} vs {len(want)} rows)")
    finally:
        con.close()
    for runs in passes:
        for name, _t0, _t1, pdf, err in runs:
            res.attempted += 1
            if err is not None:
                res.failed += 1
                problems.append(f"{name}: {err}")
            elif pdf is not None and canonical(pdf) != warm_rows.get(name):
                res.failed += 1
                problems.append(f"{name}: timed result differs from the checked warm-up result")
    res.notes["problems"] = problems
    res.notes["passes"] = len(passes)

    pass_times = [runs[-1][2] - runs[0][1] for runs in passes]
    plain = [runs for runs, on in zip(passes, traced) if not on]
    pass_s = [runs[-1][2] - runs[0][1] for runs in plain]
    lat = [t1 - t0 for runs in plain for _, t0, t1, _, _ in runs]
    backlog = [sum(t1 - runs[0][1] for _, _, t1, _, _ in runs) / (runs[-1][2] - runs[0][1])
               for runs in plain]
    res.put("pass_s", median(pass_s), "s")
    # All 13 queries are queued when a pass starts, so the pass drains
    # them: drain_s and ops_per_s are the same figure as pass_s here.
    res.put("drain_s", median(pass_s), "s")
    res.put("ops_per_s", median([len(QUERIES) / p for p in pass_s]), "1/s")
    res.put("latency_p50_ms", percentile(lat, 50) * 1e3, "ms")
    # A pass gives 13 samples, too few for any percentile above p50 to
    # have ten beyond it: the tail figure is the slowest query.
    res.put("latency_p99_ms", max(lat) * 1e3, "ms")
    res.put("backlog_end_ops", median(backlog), "ops")
    res.notes["latency_samples"] = len(lat)

    if tracer.enabled:
        on_s = [p for p, on in zip(pass_times, traced) if on]
        res.put("trace.overhead_ms", (median(on_s) - median(pass_s)) * 1e3, "ms")
        for name in QUERIES:
            res.put(f"query.{name}_s", median([t1 - t0 for runs in passes
                                               for n, t0, t1, _, _ in runs if n == name]), "s")
