"""Deterministic synthetic oplog replay (FIXTURES.md §A1).

Generates the (operation × replica member) delivery matrix the reference
consumes: each logical op appears once per member of its shard's replica
set, interleaved with rows the pushdown filter must drop (no-ops,
checkpoint-namespace writes, chunk-migration copies). Case knobs cover
the quorum-dedup test matrix: late member, missing member(s),
duplicated delivery.

Seed-fixed (seed=42 discipline per TESTDATA.md); no RNG at all, in fact —
everything derives from the op index, so replays are bit-identical.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import pandas as pd

from flink_mingo_tail_spark.sources.oplog import OPLOG_SOURCE_SCHEMA
from flink_mingo_tail_spark.streaming.pipeline import CHECKPOINT_NS

MEMBERS = ("m0:27017", "m1:27017", "m2:27017")


@dataclass
class OplogCase:
    n_ops: int = 20
    shard: str = "s0"
    members: tuple[str, ...] = MEMBERS
    # op index -> members that deliver it (default: all)
    deliveries: dict[int, tuple[str, ...]] = field(default_factory=dict)
    # op indexes duplicated by their first member (at-least-once redelivery)
    duplicated: tuple[int, ...] = ()
    include_noise: bool = True
    h_base: int = 1000
    ts_base: int = 1_700_000_000


def op_rows(case: OplogCase) -> pd.DataFrame:
    """One row per delivery, in deterministic (op, member) order."""
    rows: list[dict] = []
    for idx in range(case.n_ops):
        h = case.h_base + idx
        ts_t = case.ts_base + idx
        members = case.deliveries.get(idx, case.members)
        for m_i, member in enumerate(members):
            rows.append(
                {
                    "ts_t": ts_t,
                    "ts_i": m_i + 1,
                    "h": h,
                    "op": "i",
                    "ns": "test.grades",
                    "fromMigrate": None,
                    "o": json.dumps({"student_id": idx, "score": idx * 2}),
                    "o2": None,
                    "shard": case.shard,
                    "member_host": member,
                }
            )
        if idx in case.duplicated and members:
            dup = dict(rows[-len(members)])
            rows.append(dup)
    if case.include_noise:
        noise_base = case.h_base + case.n_ops
        rows.append(  # no-op heartbeat: filtered by op != 'n'
            {
                "ts_t": case.ts_base,
                "ts_i": 99,
                "h": noise_base + 1,
                "op": "n",
                "ns": "test.grades",
                "fromMigrate": None,
                "o": "{}",
                "o2": None,
                "shard": case.shard,
                "member_host": case.members[0],
            }
        )
        rows.append(  # checkpoint-table write: filtered by ns
            {
                "ts_t": case.ts_base,
                "ts_i": 98,
                "h": noise_base + 2,
                "op": "u",
                "ns": CHECKPOINT_NS,
                "fromMigrate": None,
                "o": json.dumps({"ts": case.ts_base}),
                "o2": None,
                "shard": case.shard,
                "member_host": case.members[0],
            }
        )
        rows.append(  # chunk-migration copy: filtered by fromMigrate
            {
                "ts_t": case.ts_base,
                "ts_i": 97,
                "h": noise_base + 3,
                "op": "i",
                "ns": "test.grades",
                "fromMigrate": True,
                "o": "{}",
                "o2": None,
                "shard": case.shard,
                "member_host": case.members[1],
            }
        )
    return pd.DataFrame(rows)


def write_batch(spark, pdf: pd.DataFrame, dir_path: str) -> None:
    """Append one replay batch as one parquet file, so that a file-stream
    source picks it up whole and deterministically."""
    df = spark.createDataFrame(pdf, schema=OPLOG_SOURCE_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(dir_path)
