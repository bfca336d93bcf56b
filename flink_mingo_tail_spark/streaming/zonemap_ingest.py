"""Incremental zone-map maintenance for a growing parquet directory.

The streaming complement of ``operators/zonemap.py``: a batch zone map
re-scans the whole table, which at 100 TB is exactly the cost the zone
map exists to avoid paying twice — this bridge maintains it
INCREMENTALLY. A Structured Streaming file source discovers newly
landed files (the checkpoint remembers which files are already mapped);
each micro-batch computes per-file (min, max, count) statistics for
ONLY its new files and appends them to the zone-map table. This is the
manifest-maintenance loop of a lakehouse table format (Iceberg/Delta
append snapshots), expressed with plain Structured Streaming.

Correctness under replay (the ``batch_commit`` protocol): Spark re-runs
the last uncommitted micro-batch after a crash, so the batch append
must be idempotent. Each batch writes to its OWN ``batch_id=N``
subdirectory through ``commit_batch_once`` — a replayed batch either
finds its directory committed (no-op) or rewrites it in place; file
stats are pure functions of immutable input files, so a rewrite is
bit-identical. ``read_zone_map`` unions the committed batch
directories back into one frame; a crashed attempt's unmarked
directory is never read.

A file's rows never straddle micro-batches (the file source's unit of
admission is whole files), so per-file stats computed inside one batch
are complete by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from flink_mingo_tail_spark.streaming.batch_commit import (
    commit_batch_once,
    committed_batch_dirs,
    start_batch_stream,
)


def make_zonemap_batch_fn(zonemap_path: str, cols: list[str]):
    """foreachBatch function: per-file stats for the batch's files,
    appended under ``zonemap_path/batch_id=N`` idempotently."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for c in cols:
            aggs.append(F.min(c).alias(f"{c}_min"))
            aggs.append(F.max(c).alias(f"{c}_max"))
        stats = (
            batch_df.select(F.col("_metadata.file_path").alias("file"), *cols)
            .groupBy("file")
            .agg(*aggs)
        )
        commit_batch_once(
            batch_df.sparkSession, f"{zonemap_path}/batch_id={batch_id}", lambda: stats
        )

    return fn


def start_zonemap_ingest(
    spark: SparkSession,
    data_path: str,
    zonemap_path: str,
    checkpoint: str,
    cols: list[str],
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Catch-up run (Trigger.AvailableNow): map every not-yet-mapped
    file under ``data_path`` into the zone-map table, then stop. Re-run
    after each landing wave — the checkpoint guarantees every file's
    stats are computed exactly once across runs."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(data_path).select("*", "_metadata")
    return start_batch_stream(
        stream, make_zonemap_batch_fn(zonemap_path, cols), checkpoint
    )


def read_zone_map(spark: SparkSession, zonemap_path: str) -> DataFrame:
    """The maintained zone map as one frame (same schema as
    ``operators.zonemap.zone_map``), read from committed batches only;
    compose with ``skip_stats``."""
    return spark.read.parquet(
        *committed_batch_dirs(spark, zonemap_path, "batch_id=").values()
    )
