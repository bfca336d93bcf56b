"""Streaming ingest against the persisted standing dedup index.

Bridges the batch-only index operators (operators/dedup.py
``build_dedup_index`` / ``probe_dedup_index``) into a Structured
Streaming ``foreachBatch`` pipeline: every micro-batch is classified
against the index as it stood at batch start (exact_dup / near_dup /
new — O(batch) membership semi-joins, never O(corpus)), the
classification is written to an idempotent per-batch output directory,
and the batch's admitted ('new') documents are appended to the index
under the standing-index manifest protocol (operators/standing_index.py:
parameters always come from the index's own manifest, so a drifted
caller cannot misroute the probe).

Restart semantics (the part a naive foreachBatch gets wrong): Spark
re-runs the last uncommitted batch after a crash, and by then the
crashed attempt may ALREADY have appended the batch's own documents to
the index — a replayed classification would then see them and flip
every 'new' to 'exact_dup'. The batch function therefore runs one path
under the ``batch_commit`` protocol: classify and commit the
classification only if the batch's output directory is not yet
committed (``commit_batch_once``), then admit the 'new' documents of
the COMMITTED statuses to the index, last.

Every crash window replays to the same classification: before the
output commit the index is untouched (append is last), and after it
the saved statuses are reused instead of reclassifying. Output is
exactly-once per batch id; the index append is at-least-once but
idempotent (membership-only probes; duplicate index rows cost bytes,
never correctness).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_mingo_tail_spark.operators.dedup import build_dedup_index, probe_dedup_index
from flink_mingo_tail_spark.streaming.batch_commit import commit_batch_once


def make_dedup_ingest_batch_fn(
    index_path: str,
    output_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch body, exposed for direct replay testing.

    Requires an index with a manifest (``build_dedup_index`` with
    ``mode='overwrite'`` writes one); the probe and the append both take
    their parameters from it, never from the caller.
    """

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_dir = f"{output_path}/ingest_batch={batch_id}"
        commit_batch_once(
            spark,
            batch_dir,
            lambda: probe_dedup_index(
                batch_df, index_path, id_col=id_col, text_col=text_col
            ),
        )
        admitted = batch_df.join(
            # read the committed statuses back rather than recomputing, so
            # the admission set provably matches what the output recorded
            spark.read.parquet(batch_dir)
            .filter(F.col("status") == "new")
            .select(id_col),
            id_col,
            "left_semi",
        )
        if admitted.limit(1).count() > 0:
            build_dedup_index(admitted, index_path, text_col=text_col, mode="append")

    return ingest
