#!/usr/bin/env python
"""Reproduce the percentile decision-rule measurement (SCALE.md).

Spark's built-in ``percentile`` aggregates a value→count map, so its
cost tracks DISTINCT values per group, not rows. This probe measures
the built-in against ``operators/percentile.exact_percentiles`` on the
SAME N-fold lineitem corpus under both domain regimes:

* **bounded domain** — raw ``l_extendedprice`` cents: N-fold copies
  duplicate values, so distincts stay at the sf0.1 level (~590k) and
  the built-in's map stays small (it wins here);
* **continuous domain** — a per-row-unique perturbation of the same
  column (distinct ≈ n): the built-in's per-group final merge receives
  an n-sized map on ONE reducer (it degrades without bound; at 100 TB
  with few groups that merge is a single-task multi-TB map, i.e. OOM),
  while rank-select stays partition-parallel.

Usage: python scripts/percentile_domain_probe.py [--scale N]  (default 50)
Prints one JSON line with min-of-3 seconds per (plan, domain) cell.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

from pyspark.sql import functions as F

from flink_mingo_tail_spark.operators.percentile import exact_percentiles
from flink_mingo_tail_spark.session import build_session
from flink_mingo_tail_spark.tables import load_table

SRC = "/root/testdata/sf0.1"
ACCURACY = 10_000


def main() -> None:
    scale = int(sys.argv[sys.argv.index("--scale") + 1]) if "--scale" in sys.argv else 50
    spark = build_session("fmts-pct-domain")
    dst = f"/tmp/fmts-pct-domain/sf{scale}x"

    base = load_table(spark, SRC, "lineitem")
    copies = [
        base.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * 10**9)) for i in range(scale)
    ]
    df = copies[0]
    for c in copies[1:]:
        df = df.unionAll(c)
    df.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("bounded"),
        # per-row-unique fractional perturbation: distinct ≈ n
        (
            F.col("l_extendedprice")
            + F.col("l_orderkey") % 9973 / 9973.0
            + F.col("l_linenumber") / 7.0
        ).alias("continuous"),
    ).repartition(32).write.mode("overwrite").parquet(dst)
    t = spark.read.parquet(dst).persist()
    n = t.count()
    distincts = {
        c: t.select(c).distinct().count() for c in ("bounded", "continuous")
    }

    results: dict[str, float] = {}
    for domain in ("bounded", "continuous"):
        plans = {
            "builtin": lambda d=domain: t.groupBy("l_returnflag")
            .agg(F.percentile(F.col(d).cast("double"), F.lit(0.5)).alias("p"))
            .collect(),
            "rank_select": lambda d=domain: exact_percentiles(
                t, ["l_returnflag"], [(d, 0.5, "p")], accuracy=ACCURACY
            ).collect(),
        }
        for plan, run in plans.items():
            # probe hygiene: Spark's ContextCleaner frees shuffle and
            # broadcast state lazily on GC, so a later plan would
            # otherwise inherit an earlier one's heap pressure
            spark._jvm.System.gc()
            best = min(
                (lambda t0=time.time(): (run(), time.time() - t0)[1])() for _ in range(3)
            )
            results[f"{plan}_{domain}"] = round(best, 2)
            print(f"[pct-domain] {plan} / {domain}: {results[f'{plan}_{domain}']}s", file=sys.stderr)

    t.unpersist()
    print(
        json.dumps(
            {"scale": scale, "rows": n, "distincts": distincts, "seconds": results}
        )
    )
    if "--keep" not in sys.argv:
        shutil.rmtree(os.path.dirname(dst), ignore_errors=True)


if __name__ == "__main__":
    main()
