"""`oplog_sim` — a custom PySpark DataSource that is the semantic twin of
the reference's MongoDB oplog source (SURVEY.md §2A A1/A2/A7), hermetic
over files instead of live mongod:

* **topology discovery** (ref ShardSetFinder.java:44-56): the source
  enumerates one JSONL log per replica member under `path` at planning
  time — the Spark analog of reading `config.shards` once at startup.
* **partition per replica member, batch reads only** (ref: one tailing
  cursor + thread per member, MongoDBOplogSource.java:81): the batch
  reader's `partitions()` returns one InputPartition per member log, so
  each Spark task owns exactly one member's ordered stream. The stream
  reader is a `SimpleDataSourceStreamReader`: every micro-batch reads
  every member log in one driver-side Python process.
* **filter pushdown** (ref: server-side $match,
  MongoOplogTailMapper.java:90-98): the batch reader's `pushFilters`
  accepts the ns/op/fromMigrate/ts predicates and evaluates them inside
  the reader — rows are dropped before they ever reach the engine.
* **offset-tracked streaming** (ref: per-host `time_d.repl_time`
  checkpoint, MongoDBOplogSource.java:130-139): the stream reader's
  offset is a per-member line-count map `{member: lines_consumed}` —
  exactly the per-host high-water mark, but committed by Structured
  Streaming AFTER the sink commit (fixing §4.3.2).

File layout: `<path>/<member>.jsonl`, one JSON object per line in
`$natural` (append) order, fields per FIXTURES.md §A1.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from dataclasses import dataclass
from urllib.parse import quote, unquote

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    InputPartition,
    IsNotNull,
    IsNull,
    SimpleDataSourceStreamReader,
)

OPLOG_SOURCE_SCHEMA = (
    "ts_t int, ts_i int, h long, op string, ns string, fromMigrate boolean, "
    "o string, o2 string, shard string, member_host string"
)
_FIELDS = ["ts_t", "ts_i", "h", "op", "ns", "fromMigrate", "o", "o2", "shard", "member_host"]


def member_log_path(base: str, member: str) -> str:
    # Percent-encoding is reversible for any hostname: the former
    # replace(':','-') scheme corrupted member identity for hyphenated
    # hosts ('my-host:27017' -> 'my:host:27017' on the read path).
    return os.path.join(base, quote(member, safe="") + ".jsonl")


def write_member_logs(pdf, base: str) -> list[str]:
    """Materialize a replay DataFrame (streaming/replay.py) as per-member
    JSONL logs, preserving delivery order. Appends if logs exist."""
    os.makedirs(base, exist_ok=True)
    members = []
    for member, group in pdf.groupby("member_host", sort=True):
        path = member_log_path(base, member)
        with open(path, "a") as f:
            for rec in group.to_dict("records"):
                f.write(json.dumps({k: rec[k] for k in _FIELDS if k in rec}, default=str) + "\n")
        members.append(member)
    return members


def _discover_members(base: str) -> list[str]:
    names = sorted(n for n in os.listdir(base) if n.endswith(".jsonl"))
    return [unquote(n[: -len(".jsonl")]) for n in names]


def _parse_line(line: str) -> tuple:
    doc = json.loads(line)
    return tuple(doc.get(f) for f in _FIELDS)


@dataclass
class MemberPartition(InputPartition):
    member: str
    path: str


class _PushedPredicates:
    """The subset of the reference's $match conjunction we evaluate
    reader-side; anything else is left for Spark to re-check."""

    def __init__(self) -> None:
        self.min_ts_t: int | None = None
        self.op_eq: str | None = None
        self.ns_eq: str | None = None
        self.from_migrate_null = False

    def try_push(self, f: Filter) -> bool:
        if isinstance(f, GreaterThan) and f.attribute == ("ts_t",) and isinstance(f.value, int):
            self.min_ts_t = f.value if self.min_ts_t is None else max(self.min_ts_t, f.value)
            return True
        if isinstance(f, EqualTo) and f.attribute == ("op",):
            self.op_eq = f.value
            return True
        if isinstance(f, EqualTo) and f.attribute == ("ns",):
            self.ns_eq = f.value
            return True
        if isinstance(f, IsNull) and f.attribute == ("fromMigrate",):
            self.from_migrate_null = True
            return True
        if isinstance(f, IsNotNull):
            return True  # non-null envelope fields: trivially true post-parse
        return False

    def matches(self, row: tuple) -> bool:
        ts_t, _, _, op, ns, from_migrate = row[0], row[1], row[2], row[3], row[4], row[5]
        if self.min_ts_t is not None and not (ts_t > self.min_ts_t):
            return False
        if self.op_eq is not None and op != self.op_eq:
            return False
        if self.ns_eq is not None and ns != self.ns_eq:
            return False
        if self.from_migrate_null and from_migrate is not None:
            return False
        return True


class OplogSimBatchReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.base = options.get("path")
        if not self.base:
            raise ValueError("oplog_sim requires option('path', <dir of member logs>)")
        self.pushed = _PushedPredicates()

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            if not self.pushed.try_push(f):
                yield f  # unsupported → Spark evaluates it post-scan

    def partitions(self) -> list[MemberPartition]:
        return [
            MemberPartition(m, member_log_path(self.base, m)) for m in _discover_members(self.base)
        ]

    def read(self, partition: MemberPartition) -> Iterator[tuple]:
        with open(partition.path) as f:
            for line in f:
                row = _parse_line(line)
                if self.pushed.matches(row):
                    yield row


class OplogSimStreamReader(SimpleDataSourceStreamReader):
    """Tailing reader: offset = per-member consumed line counts (the
    `repl_time` high-water map). Each micro-batch drains every member's
    new suffix — the fan-in merge the reference does with RxJava +
    ArrayBlockingQueue (MongoDBOplogSource.java:96-107) falls out of
    Spark's own batch planning here."""

    def __init__(self, options) -> None:
        self.base = options.get("path")
        if not self.base:
            raise ValueError("oplog_sim requires option('path', <dir of member logs>)")

    def initialOffset(self) -> dict:
        return {"lines": dict.fromkeys(_discover_members(self.base), 0)}

    def _read_from(self, start_lines: dict) -> tuple[list[tuple], dict]:
        rows: list[tuple] = []
        new_lines: dict[str, int] = dict(start_lines)
        for member in _discover_members(self.base):
            start = int(start_lines.get(member, 0))
            path = member_log_path(self.base, member)
            with open(path) as f:
                lines = f.readlines()
            complete = [ln for ln in lines if ln.endswith("\n")]
            rows.extend(_parse_line(ln) for ln in complete[start:])
            new_lines[member] = len(complete)
        return rows, {"lines": new_lines}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        rows, end = self._read_from(start.get("lines", {}))
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        start_lines = start.get("lines", {})
        end_lines = end.get("lines", {})
        rows: list[tuple] = []
        for member, end_n in end_lines.items():
            s = int(start_lines.get(member, 0))
            path = member_log_path(self.base, member)
            with open(path) as f:
                lines = f.readlines()
            rows.extend(_parse_line(ln) for ln in lines[s : int(end_n)])
        return iter(rows)


class OplogSimDataSource(DataSource):
    """spark.dataSource.register(OplogSimDataSource); then
    spark.read.format("oplog_sim").option("path", dir).load() or
    spark.readStream.format("oplog_sim")...load()."""

    @classmethod
    def name(cls) -> str:
        return "oplog_sim"

    def schema(self) -> str:
        return OPLOG_SOURCE_SCHEMA

    def reader(self, schema) -> OplogSimBatchReader:
        return OplogSimBatchReader(self.options)

    def simpleStreamReader(self, schema) -> OplogSimStreamReader:
        return OplogSimStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(OplogSimDataSource)
