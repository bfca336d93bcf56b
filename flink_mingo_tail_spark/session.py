"""SparkSession construction tuned for this engine.

Local runs size themselves to the machine: ``local[N]`` over the cores
this process may run on, and a driver heap that is a share of physical
memory (``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` override
both). Production target is a large multi-executor cluster reading
~100 TB, so every other knob here is chosen to also make sense at that
scale (AQE on, skew-join handling on, sane shuffle parallelism, Arrow
for the Python boundary).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Share of physical memory given to the driver JVM's heap when
# SPARK_GRAFT_DRIVER_MEM is unset: the JVM's own default share, which
# leaves room for the Python workers beside it.
_DRIVER_MEM_SHARE = 4


def _default_cpus() -> int:
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def _default_driver_mem() -> str:
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")  # MemTotal
    return f"{max(1024, (total // _DRIVER_MEM_SHARE) >> 20)}m"


# On a real cluster these are overridden by spark-submit conf (shuffle
# partitions ~ 2-3x total cores).
LOCAL_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(_default_cpus())


def build_session(app_name: str = "flink-mingo-tail-spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Create (or fetch) a SparkSession with scale-aware defaults."""
    builder = (
        SparkSession.builder.master(f"local[{LOCAL_CPUS}]")
        .appName(app_name)
        # AQE: runtime coalescing, skew-join splitting, join re-planning.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or LOCAL_CPUS))
        # Deterministic timestamp semantics for the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for any pandas_udf / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        # Managed-table warehouse (bucketed tables) outside the repo tree.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/fmts-warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prepare_session(spark: SparkSession) -> SparkSession:
    """Normalize an externally supplied session (e.g. the driver's).

    Queries must produce identical values regardless of who built the
    session, so pin the semantics-affecting confs here. Idempotent.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # AQE is a PERFORMANCE conf, not a semantics conf — results are
    # proven invariant to it (tests/test_determinism.py). Pin it on for
    # throughput unless the caller explicitly opted out; the escape
    # hatch exists so the determinism suite can genuinely execute an
    # AQE-off leg (before it, this re-pin silently turned that leg into
    # a second AQE-on run).
    if spark.conf.get("spark.flink_mingo_tail.pin_aqe", "true") != "false":
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Queries are written against Spark 4's default ANSI semantics
    # (try_element_at guards, strict casts); pin it in case the caller's
    # session was built with ANSI off.
    spark.conf.set("spark.sql.ansi.enabled", "true")
    return spark
