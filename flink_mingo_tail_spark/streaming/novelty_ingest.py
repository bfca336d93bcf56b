"""Streaming novelty scoring against a standing shingle index.

q209's streaming twin: q209 scores each document's share of distinct
k-token shingles whose FIRST occurrence is in that document — the
pre-admission screen for a new crawl snapshot. This module maintains
the "seen shingles" set as a persisted standing index and scores every
arriving micro-batch against the index AS OF BATCH START, so novelty
is computed by arrival order (batch-granular: two documents in the
same batch don't discount each other — the same convention as
dedup_ingest's batch-vs-index membership). With one document per
batch, the scores coincide exactly with q209's doc_id-ordered batch
results (pinned by test_novelty_ingest).

Restart semantics follow streaming/dedup_ingest.py: Spark replays the
last uncommitted batch after a crash, and the crashed attempt may have
already appended this batch's shingles to the index — rescoring then
would flip every novel shingle to seen. The batch function therefore
runs one path under the ``batch_commit`` protocol: score (anti-join
against the index as of batch start) and commit the scores only if the
batch's output directory is not yet committed (``commit_batch_once``),
then append to the index, last.

The index append adds the batch's WHOLE distinct shingle set (novel or
not): membership-only semantics make duplicate rows a byte cost, never
a correctness cost (dedup_ingest's stance), and the append becomes
replay-idempotent without needing to reconstruct which shingles were
novel at the crashed attempt. Periodic `operators/compaction.py` runs
reclaim the duplicate bytes.

At 100 TB the index is the (vocabulary-of-shingles)-bounded frame q209
already shuffles to; the per-batch anti-join is O(batch) probe rows
against it, and the index side is a semi-join build that partition-
prunes once the index is bucketed by shingle hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_mingo_tail_spark.operators.dedup import md5_long, tokens, word_shingles
from flink_mingo_tail_spark.operators.standing_index import (
    require_manifest,
    resolve_params,
    write_manifest,
)
from flink_mingo_tail_spark.streaming.batch_commit import commit_batch_once

DEFAULT_SHINGLE_K = 5  # q209's granularity
_NOVELTY_MANIFEST_SCHEMA = "k int"


def doc_shingle_hashes(
    df: DataFrame, k: int, id_col: str = "doc_id", text_col: str = "text",
    *, distinct: bool = True,
) -> DataFrame:
    """Per-document DISTINCT k-token shingle hashes. Same shingling as
    q209; the key is md5_long (60-bit bigint) rather than q209's md5
    hex string — membership semantics are identical and the int key
    halves the index's shuffle/storage width.

    ``distinct=False`` skips the corpus-wide dedup shuffle for
    consumers whose downstream is multiplicity-blind (an anti-join /
    semi-join right side treats duplicate hashes identically — r14):
    array_distinct already dedups within a document, so the only
    duplicates left are cross-document."""
    h = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_shingles(tokens(F.col(text_col)), k))
        ).alias("_s"),
    ).select(F.col(id_col), md5_long(F.col("_s")).alias("h"))
    return h.distinct() if distinct else h


def build_novelty_index(
    docs: DataFrame,
    index_path: str,
    *,
    k: int | None = None,
    mode: str = "overwrite",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Seed (or append to) the standing shingle index. ``overwrite``
    also writes the manifest (``k`` defaults to DEFAULT_SHINGLE_K);
    ``append`` takes ``k`` FROM the manifest and refuses a contradicting
    one, so a drifted caller cannot split the index across shingle
    sizes (the standing-index rule, operators/standing_index)."""
    spark = docs.sparkSession
    params = resolve_params(
        spark, index_path, _NOVELTY_MANIFEST_SCHEMA, "novelty", mode,
        {"k": k}, {"k": DEFAULT_SHINGLE_K},
    )
    hashes = doc_shingle_hashes(docs, params["k"], id_col, text_col).select("h").distinct()
    hashes.write.mode(mode).parquet(f"{index_path}/shingles")
    if mode == "overwrite":
        write_manifest(spark, index_path, _NOVELTY_MANIFEST_SCHEMA, params)


def score_batch_novelty(
    batch_df: DataFrame,
    index_shingles: DataFrame,
    k: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_shingles, n_novel, novel_micro) vs a shingle set — the
    q209 statistic with 'first occurrence' meaning 'absent from the
    index'."""
    # r14 optimization: sh feeds both the totals aggregate and the
    # novelty anti-join — materialize the batch-bounded shingle pass
    # once instead of re-running the explode + md5 + distinct per leg.
    sh = doc_shingle_hashes(batch_df, k, id_col, text_col).localCheckpoint()
    novel = sh.join(index_shingles.select("h"), "h", "left_anti")
    totals = sh.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("n_shingles"))
    novels = novel.groupBy(id_col).agg(F.count(F.lit(1)).cast("long").alias("n_novel"))
    return (
        totals.join(novels, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
        )
        .withColumn(
            "novel_micro",
            F.expr(
                "CAST(round(CAST(n_novel * 1000000 AS DOUBLE) / n_shingles) AS BIGINT)"
            ),
        )
    )


def make_novelty_batch_fn(
    index_path: str,
    output_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch body, exposed for direct replay testing."""

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        k = require_manifest(
            spark, index_path, _NOVELTY_MANIFEST_SCHEMA, "novelty"
        )["k"]
        commit_batch_once(
            spark,
            f"{output_path}/novelty_batch={batch_id}",
            lambda: score_batch_novelty(
                batch_df,
                spark.read.parquet(f"{index_path}/shingles"),
                k,
                id_col=id_col,
                text_col=text_col,
            ),
        )
        build_novelty_index(
            batch_df, index_path, mode="append", id_col=id_col, text_col=text_col
        )

    return ingest
