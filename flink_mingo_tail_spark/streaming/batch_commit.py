"""The per-batch commit protocol of the foreachBatch ingest streams.

Structured Streaming replays the last uncommitted micro-batch after a
crash (the offset commits only after the sink), so a foreachBatch
output must be idempotent per batch id. Every ingest stream here
(dedup, novelty, curation, zone map) follows one protocol:

1. the batch's output is one directory, ``<root>/<prefix><batch_id>``,
   written with ``mode("overwrite")``; the ``_SUCCESS`` marker the
   Hadoop committer writes last is the commit point;
2. ``commit_batch_once`` computes and writes the output only when that
   marker is absent — a replay of a committed batch keeps the saved
   output, which is authoritative, while a crashed attempt's unmarked
   directory is overwritten in place;
3. the stream's after-commit step (an index append) runs on every
   call, first run and replay alike, so it must be idempotent
   (membership-only appends are);
4. readers list only marked directories (``committed_batch_dirs``), so
   a crashed attempt's partial output is never read.

The existence checks and the directory listing go through the JVM
Hadoop FileSystem handle of operators/standing_index.py (``path_exists``),
so the same code runs on local, HDFS and object-store paths. The index
appends of step 3 follow that module's manifest protocol.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from flink_mingo_tail_spark.operators.standing_index import _hadoop_path, path_exists


def commit_batch_once(
    spark: SparkSession, batch_dir: str, compute: Callable[[], DataFrame]
) -> None:
    """Write ``compute()`` to ``batch_dir`` unless the batch already
    committed there. ``compute`` is only called on the write path."""
    if not path_exists(spark, f"{batch_dir}/_SUCCESS"):
        compute().write.mode("overwrite").parquet(batch_dir)


def committed_batch_dirs(
    spark: SparkSession, root: str, prefix: str
) -> dict[int, str]:
    """{batch_id: dir} for every ``<prefix><batch_id>`` directory under
    ``root`` bearing a _SUCCESS marker. A crashed attempt's partial
    directory has no marker and is never read."""
    jpath, fs = _hadoop_path(spark, root)
    if not fs.exists(jpath):
        return {}
    out: dict[int, str] = {}
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if not (status.isDirectory() and name.startswith(prefix)):
            continue
        full = str(status.getPath().toString())
        if path_exists(spark, f"{full}/_SUCCESS"):
            out[int(name[len(prefix):])] = full
    return out


def start_batch_stream(
    stream: DataFrame,
    batch_fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Run ``batch_fn`` over ``stream`` as a checkpointed foreachBatch
    query with Trigger.AvailableNow: drain what is available, then stop
    (the scheduled-run shape — re-run per ingest window, resuming from
    the checkpoint)."""
    return (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
