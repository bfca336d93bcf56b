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
* **no reader-side filtering** (ref: server-side $match,
  MongoOplogTailMapper.java:90-98): the readers return every logged
  entry; the ns/op/fromMigrate/ts conjunction is evaluated only by
  `streaming/pipeline.py:oplog_filter`, as a Catalyst `Filter` in the
  scan's own codegen stage.
* **offset-tracked streaming** (ref: per-host `time_d.repl_time`
  checkpoint, MongoDBOplogSource.java:130-139; the tailable cursor
  resumes after it, MongoOplogTailMapper.java:75-98): the stream
  reader's offset is `{"lines": {member: complete lines consumed},
  "bytes": {member: byte position after them}}`, committed by
  Structured Streaming AFTER the sink commit (fixing §4.3.2). Every read
  goes through `_read_log`, which seeks to a byte position and parses
  only the complete lines after it, so an idle trigger costs the same
  however long the logs grow and a restart replays exactly the logged
  byte range. A log shorter than its committed position (truncated or
  rotated), or a line-count offset of the former reader, raises
  `ValueError`: start such a query from a new checkpoint location.

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
    InputPartition,
    SimpleDataSourceStreamReader,
)

OPLOG_SOURCE_SCHEMA = (
    "ts_t int, ts_i int, h long, op string, ns string, fromMigrate boolean, "
    "o string, o2 string, shard string, member_host string"
)
_FIELDS = [col.split()[0] for col in OPLOG_SOURCE_SCHEMA.split(",")]


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


def _parse_line(line: bytes) -> tuple:
    doc = json.loads(line)
    return tuple(doc.get(f) for f in _FIELDS)


def _read_log(
    base: str, member: str, start: int = 0, end: int | None = None
) -> Iterator[tuple[int, tuple]]:
    """Yield ``(byte position after the line, parsed row)`` for each
    complete line of ``member``'s log in the byte range ``[start, end)``.
    ``end`` defaults to just after the last ``\\n``: a trailing line still
    being written is left for a later read. A log shorter than the range
    was truncated or rotated under a committed offset."""
    with open(member_log_path(base, member), "rb") as f:
        size = os.fstat(f.fileno()).st_size
        if size < (end or start):
            raise ValueError(
                f"oplog_sim: the log of member {member!r} ({size} bytes) is shorter than "
                f"its committed position {end or start}: truncated or rotated"
            )
        f.seek(start)
        pos = start
        for line in f:
            if (end is not None and pos >= end) or not line.endswith(b"\n"):
                return
            pos += len(line)
            yield pos, _parse_line(line)


def _byte_positions(offset: dict) -> dict[str, int]:
    """The per-member byte positions of a stream offset (a copy)."""
    positions = dict(offset.get("bytes", {}))
    for member, n_lines in offset.get("lines", {}).items():
        if n_lines and member not in positions:
            raise ValueError(
                f"oplog_sim: the offset of member {member!r} has a line count but no byte "
                f"position (a line-count checkpoint); start from a new checkpoint location"
            )
    return positions


@dataclass
class MemberPartition(InputPartition):
    member: str


class OplogSimBatchReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.base = options.get("path")
        if not self.base:
            raise ValueError("oplog_sim requires option('path', <dir of member logs>)")

    def partitions(self) -> list[MemberPartition]:
        return [MemberPartition(m) for m in _discover_members(self.base)]

    def read(self, partition: MemberPartition) -> Iterator[tuple]:
        for _, row in _read_log(self.base, partition.member):
            yield row


class OplogSimStreamReader(SimpleDataSourceStreamReader):
    """Tailing reader: the offset holds each member's consumed line count
    and byte position (the `repl_time` high-water map). Each micro-batch
    drains every member's new complete lines — the fan-in merge the
    reference does with RxJava + ArrayBlockingQueue
    (MongoDBOplogSource.java:96-107) falls out of Spark's own batch
    planning here."""

    def __init__(self, options) -> None:
        self.base = options.get("path")
        if not self.base:
            raise ValueError("oplog_sim requires option('path', <dir of member logs>)")

    def initialOffset(self) -> dict:
        members = _discover_members(self.base)
        return {"lines": dict.fromkeys(members, 0), "bytes": dict.fromkeys(members, 0)}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        positions = _byte_positions(start)
        lines = dict(start.get("lines", {}))
        rows: list[tuple] = []
        for member in _discover_members(self.base):
            # A member log that first appears mid-stream starts at byte 0.
            for pos, row in _read_log(self.base, member, positions.get(member, 0)):
                rows.append(row)
                lines[member] = lines.get(member, 0) + 1
                positions[member] = pos
        # An iterator over a list: PySpark copies the cached iterator
        # (copy.copy), which a generator does not support.
        return iter(rows), {"lines": lines, "bytes": positions}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        positions = _byte_positions(start)
        for member, stop in _byte_positions(end).items():
            for _, row in _read_log(self.base, member, positions.get(member, 0), stop):
                yield row


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
