"""Quorum deduplication — the reference's core stateful operator.

Semantics (ref MongoDBOplogSource.java:116-128): every logical op
arrives once per replica member of its shard; the operator emits each op
EXACTLY ONCE, as soon as it has been confirmed by a quorum of members,
and never again (while its state lives — see TTL below).

Four deliberate fixes over the reference (SURVEY.md §4.3):

* **majority quorum, not all-members** — the reference requires
  `replicaDepth` arrivals, so one dead replica stalls emission forever
  and strands its counter entries. Quorum here is the majority,
  ``replica_depth // 2 + 1`` (``_shard_quorum``).
* **event-time state TTL** — ops that never reach quorum are evicted
  once the watermark passes (op event time + ttl), instead of leaking
  (`documentCounter` in the reference grows unboundedly).
* **offsets commit after sink commit** — inherited from Structured
  Streaming's checkpoint protocol, fixing the reference's
  checkpoint-before-emit loss window.
* **per-shard replica depth** — the reference sizes every op's counter
  from the FIRST shard's member count (MongoOplogTailMapper.java:64);
  ``shard_depths`` gives each op its own shard's majority instead
  (every delivery carries it as ``__quorum``; no second state key).

Spark mapping: ``applyInPandasWithState`` grouped by hash bucket
``pmod(h, N_BUCKETS)``, not by op id. Each bucket holds ONE state row of
parallel arrays, one element per live op: ``h``, ``seen`` (arrivals
counted), ``emitted``, and the first-delivered payload (``ts_t``,
``ts_i``, ``op``, ``ns``, ``o``), stored together as one Arrow IPC
stream in a binary column. Once an op is emitted its document (``op``,
``ns``, ``o``) is cleared: the entry only has to recognise later
deliveries until it is evicted. One Python call per bucket per
micro-batch merges all of the batch's deliveries for that bucket and
emits each op in the call where its count reaches its ``__quorum``.
The per-call cost is fixed, so a trigger costs a few calls instead of
one per op.

Eviction is in-band and the operator runs with
``GroupStateTimeout.NoTimeout``: inside the same call, entries with
``ts_t*1000 + ttl < watermark`` are dropped. There is no timeout phase
and the watermark never schedules a no-data batch. A bucket that gets no
data in a trigger is not called, so it keeps its entries until its next
delivery arrives; that memory is bounded by what the bucket held when it
was last called. With ops spread over only ``N_BUCKETS`` buckets, any
live stream reaches every bucket within a few triggers.

Late deliveries are dropped, not counted: a delivery with
``ts_t*1000 <= watermark`` never reaches the merge. Spark applies that
late-row filter itself only under ``EventTimeTimeout``, so the function
does it here. A straggler behind the watermark therefore can neither
re-emit an evicted op nor start a fresh count for it. Exactly-once holds
for deliveries inside the watermark delay + TTL horizon; a member that
lags beyond the watermark delay loses its (redundant) deliveries.

The operator sits directly downstream of the source — before any wide
transformation — mirroring the reference's "dedup before fan-out" plan
shape (SURVEY.md §4.1), which shrinks the stream replica_depth× before
any shuffle.

Checkpoints: the state schema is the bucket layout above, so a
checkpoint written by the earlier per-op-id form (one state row per
``h``) cannot be resumed; start that query from a new checkpoint
location. ``N_BUCKETS`` must not change under a live checkpoint: an op
re-keyed to another bucket would lose its count and could emit twice.

Batch twin: ``quorum_dedup_batch``, the same emission rule over a
bounded replay; the tests compare the stream's emission set against it.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Envelope of a logical op flowing out of the (simulated) oplog source.
# Field names follow the oplog schema (FIXTURES.md A1; names from the
# reference's MongoDBConstants.java:24-28).
OP_SCHEMA = StructType(
    [
        StructField("h", LongType(), False),
        StructField("ts_t", IntegerType(), False),
        StructField("ts_i", IntegerType(), False),
        StructField("op", StringType(), False),
        StructField("ns", StringType(), False),
        StructField("o", StringType(), True),
    ]
)

_OUT_COLS = [f.name for f in OP_SCHEMA.fields]
_PAYLOAD_COLS = _OUT_COLS[1:]
_DOC_COLS = ["op", "ns", "o"]

# State rows per query. Each bucket costs one Python call per trigger;
# on a 4-core box 16 buckets measured no better than 4 on cdc_tail.
# Part of the checkpoint's meaning: never change it under a live one.
N_BUCKETS = 4

# One row per bucket holding the parallel arrays, one element per live
# op, as a single Arrow IPC stream. Array-typed state columns would work
# too, but Spark then builds their (MapObjects) state deserializer anew
# and compiles it in every micro-batch; a binary column has nothing to
# compile.
_STATE_SCHEMA = StructType([StructField("ops", BinaryType(), False)])
_STATE_ARROW = pa.schema(
    [
        ("h", pa.int64()),
        ("seen", pa.int32()),
        ("emitted", pa.bool_()),
        ("ts_t", pa.int32()),
        ("ts_i", pa.int32()),
        ("op", pa.string()),
        ("ns", pa.string()),
        ("o", pa.string()),
    ]
)
# Value dtypes of the in-call frame (indexed by `h`): int64 so that
# ts_t * 1000 cannot overflow.
_STATE_DTYPES = {
    "seen": "int64", "emitted": "bool", "ts_t": "int64", "ts_i": "int64",
    "op": "object", "ns": "object", "o": "object",
}

# Per-row quorum column: every delivery of an op carries its shard's
# quorum, so the state needs no second key dimension.
_QUORUM_COL = "__quorum"
_BUCKET_COL = "__bucket"

# Event-time slack of the watermark behind the newest `ts_t` seen.
WATERMARK_DELAY = "10 seconds"


def _shard_quorum(replica_depth: int, shard_depths: dict[str, int] | None):
    """Per-row quorum expression, the one majority rule: the majority of
    the row's own shard (map lookup on the `shard` column — the fix for
    the reference's first-shard-only replicaDepth,
    MongoOplogTailMapper.java:64 / SURVEY §4.3.3), else of
    ``replica_depth``. A tiny literal map stays in codegen; no join, no
    shuffle, no driver state."""
    majority = F.lit(replica_depth // 2 + 1)
    if not shard_depths:
        return majority
    pairs = []
    for shard, depth in sorted(shard_depths.items()):
        pairs += [F.lit(shard), F.lit(depth // 2 + 1)]
    lookup = F.try_element_at(F.create_map(*pairs), F.col("shard"))
    return F.coalesce(lookup, majority)


def _load_state(state: GroupState) -> pd.DataFrame:
    """The bucket's live ops as a frame indexed by `h`."""
    if state.exists:
        ops = pa.ipc.open_stream(state.get[0]).read_all()
    else:
        ops = _STATE_ARROW.empty_table()
    return ops.to_pandas().astype({"h": "int64", **_STATE_DTYPES}).set_index("h")


def _dump_state(st: pd.DataFrame) -> bytes:
    ops = pa.Table.from_pandas(st.reset_index(), schema=_STATE_ARROW, preserve_index=False)
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, _STATE_ARROW) as writer:
        writer.write_table(ops)
    return sink.getvalue().to_pybytes()


def _quorum_fn(state_ttl_ms: int):
    """Build the per-bucket stateful function (module-level factory so
    Spark can pickle the closure to executors). Each row carries its
    op's quorum in ``__quorum``.

    One call sees every delivery of the bucket in this micro-batch, so
    the work is a handful of vectorised pandas operations per call, not
    a Python loop per op."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs()
        batch = pd.concat(list(pdfs), ignore_index=True)
        # Late-row drop: Spark filters rows at or behind the watermark
        # only under EventTimeTimeout, and this operator runs NoTimeout.
        batch = batch[batch["ts_t"].to_numpy(dtype="int64") * 1000 > wm]
        st = _load_state(state)

        # Merge: new ops enter with their first-delivered payload, then
        # every op of the batch adds its arrivals.
        first = batch.drop_duplicates("h").set_index("h")
        fresh = first.loc[~first.index.isin(st.index), _PAYLOAD_COLS]
        if len(fresh):
            fresh = fresh.assign(seen=0, emitted=False)
            st = pd.concat([st, fresh[st.columns]]).astype(_STATE_DTYPES)
        arrivals = batch.groupby("h", sort=False).size()
        hs = arrivals.index
        seen = st.loc[hs, "seen"].to_numpy() + arrivals.to_numpy()
        st.loc[hs, "seen"] = seen
        need = first.loc[hs, _QUORUM_COL].to_numpy()
        fire = hs[~st.loc[hs, "emitted"].to_numpy() & (seen >= need)]
        if len(fire):
            st.loc[fire, "emitted"] = True
            yield st.loc[fire, _PAYLOAD_COLS].reset_index()
            # An emitted op only has to be recognised until it is evicted:
            # drop its document so that the state carries ids and times.
            st.loc[fire, _DOC_COLS] = None

        # In-band TTL eviction: no timeout phase, no no-data batch.
        st = st[st["ts_t"].to_numpy() * 1000 + state_ttl_ms >= wm]
        if len(st):
            state.update((_dump_state(st),))
        elif state.exists:
            state.remove()

    return fn


def quorum_dedup_stream(
    ops: DataFrame,
    replica_depth: int,
    state_ttl_ms: int = 60_000,
    shard_depths: dict[str, int] | None = None,
) -> DataFrame:
    """Streaming quorum dedup: state keyed by ``pmod(h, N_BUCKETS)``,
    TTL eviction inside the per-bucket call (module docstring).

    ``ops`` must carry the OP_SCHEMA columns (extra columns such as
    member_host are dropped — they only exist to multiply deliveries).
    The oplog timestamp seconds (`ts_t`) provide the event-time clock
    for the watermark, the late-delivery drop and the state TTL.

    ``shard_depths`` maps shard name -> replica-set size for
    heterogeneous clusters (a 2-member and a 3-member shard in one
    topology): each op's quorum is then its OWN shard's majority,
    fixing the reference defect of sizing every counter from the first
    shard's depth (MongoOplogTailMapper.java:64, SURVEY §4.3.3).
    Requires a `shard` column on ``ops``.
    """
    keyed = ops.select(
        *_OUT_COLS,
        _shard_quorum(replica_depth, shard_depths).alias(_QUORUM_COL),
        F.timestamp_seconds(F.col("ts_t")).alias("event_ts"),
        F.pmod(F.col("h"), F.lit(N_BUCKETS)).alias(_BUCKET_COL),
    )
    return (
        keyed.withWatermark("event_ts", WATERMARK_DELAY)
        .groupBy(_BUCKET_COL)
        .applyInPandasWithState(
            _quorum_fn(state_ttl_ms),
            outputStructType=OP_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def quorum_dedup_batch(
    ops: DataFrame,
    replica_depth: int,
    shard_depths: dict[str, int] | None = None,
) -> DataFrame:
    """Batch twin (same emission set on a bounded replay): group by op id,
    emit the first-delivered payload of every op with >= quorum arrivals.
    One hash-shuffle on `h` — the replay/backfill path at scale.
    ``shard_depths``: see quorum_dedup_stream."""
    w_first = F.struct(
        F.col("member_host"), F.col("ts_t"), F.col("ts_i"), F.col("op"), F.col("ns"), F.col("o")
    )
    agg = (
        ops.withColumn("__q", _shard_quorum(replica_depth, shard_depths))
        .groupBy("h")
        .agg(F.count("*").alias("seen"), F.min(w_first).alias("first"), F.max("__q").alias("__q"))
        .filter(F.col("seen") >= F.col("__q"))
    )
    return agg.select(
        "h",
        F.col("first.ts_t").alias("ts_t"),
        F.col("first.ts_i").alias("ts_i"),
        F.col("first.op").alias("op"),
        F.col("first.ns").alias("ns"),
        F.col("first.o").alias("o"),
    )
