"""CDC apply: materialize the *current state* of a table from a stream
of insert/update/delete operations — what a consumer of the reference's
pipeline ultimately does with the deduped oplog (the reference stops at
the ES index; this closes the loop to a queryable table).

Two forms:

* ``latest_state_batch`` — bounded replay/backfill: one window pass
  picks each key's latest op (deterministic (ts, seq) order), deletes
  drop out. One shuffle on the key; at 100 TB this is the standard
  "compact the changelog" job.
* ``apply_cdc_stream`` — incremental: per micro-batch MERGE emulation
  (no Delta in this environment): existing state anti-joined against
  the batch's keys, then unioned with the batch's surviving upserts.
  Atomic via write-to-temp + rename through the Hadoop FileSystem (any
  path scheme); idempotent per epoch because the merge is keyed
  (re-applying the same batch converges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from flink_mingo_tail_spark.operators.standing_index import _hadoop_path


def latest_state_batch(
    ops: DataFrame,
    key: str,
    order_by: list[str],
    op_col: str = "op",
    delete_op: str = "d",
) -> DataFrame:
    """Current state from a bounded changelog: latest op per key wins;
    keys whose latest op is a delete vanish."""
    w = Window.partitionBy(key).orderBy(*[F.col(c).desc() for c in order_by])
    return (
        ops.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col(op_col) != delete_op))
        .drop("__rn")
    )


def apply_cdc_stream(
    deduped: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key: str,
    order_by: list[str],
    op_col: str = "op",
    delete_op: str = "d",
) -> StreamingQuery:
    """Incrementally maintain a parquet state table from the deduped op
    stream. Each micro-batch:

      1. compact the batch itself (latest op per key within the batch);
      2. read current state, drop rows whose key appears in the batch
         (anti-join = the DELETE+UPDATE half of MERGE);
      3. union the batch's surviving upserts (the INSERT half);
      4. write to a temp dir and atomically swap.

    On a real lakehouse this is `foreachBatch + MERGE INTO`; the
    read-modify-swap here keeps the same semantics with plain parquet.
    """
    spark = deduped.sparkSession
    data_cols = [c for c in deduped.columns if c != op_col]

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        # compact with a sentinel delete_op so delete markers survive
        # compaction (they must still suppress older ops of their key),
        # then filter them out of the upsert half below
        compacted = latest_state_batch(batch_df, key, order_by, op_col, delete_op="__none__")
        upserts = compacted.filter(F.col(op_col) != delete_op).select(*data_cols)
        batch_keys = compacted.select(key).distinct()
        # the swap goes through the Hadoop FileSystem, so a file://, HDFS
        # or object-store state_dir works like a plain local path
        out_tmp = state_dir + ".tmp"
        state, fs = _hadoop_path(spark, state_dir)
        old, tmp = (_hadoop_path(spark, state_dir + s)[0] for s in (".old", ".tmp"))

        def step(ok: bool, what: str) -> None:
            if not ok:
                raise IOError(f"apply_cdc_stream: {what} failed for {state_dir}")

        # Crash recovery: if a previous swap renamed state aside but died
        # before renaming tmp in, the .old dir IS the last good state.
        if not fs.exists(state) and fs.exists(old):
            step(fs.rename(old, state), "restoring .old")
        if fs.exists(state):
            current = spark.read.parquet(state_dir)
            survivors = current.join(batch_keys, key, "left_anti")
            new_state = survivors.unionByName(upserts)
        else:
            new_state = upserts
        new_state.write.mode("overwrite").parquet(out_tmp)
        # Swap without a window where state_dir is simply *gone*: rename
        # the old state aside (rename is atomic), rename tmp into place,
        # only then delete the aside copy. A crash at any point leaves
        # either state_dir or state_dir+".old" holding complete state —
        # never the empty-rebuild hazard of delete-then-rename.
        if fs.exists(old):
            step(fs.delete(old, True), "clearing a stale .old")
        if fs.exists(state):
            step(fs.rename(state, old), "renaming state aside")
        step(fs.rename(tmp, state), "renaming the new state in")
        if fs.exists(old):
            step(fs.delete(old, True), "deleting the old state")

    return (
        deduped.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(merge_batch)
        .start()
    )
