"""Seeded oplog workload generator for the CDC benchmark workloads.

Everything the program under test receives is derived from ``seed``:
which shard each entry lands on, which entries are noise the pushed-down
filter must drop, which ops miss one replica member or are seen by one
member only, which deliveries are redelivered, the op type (i/u/d) and
the payload size. The shares themselves are fixed constants, so two
seeds give the same shape of work with different details.

The expected published set is computed here, from the delivery plan
alone: an op is published exactly when at least a majority of its
shard's members delivered it and it is not noise. Nothing in this module
imports the program, so the check does not share code with
``streaming/quorum.py``.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass
from urllib.parse import quote

SHARDS = ("s0", "s1", "s2")
MEMBERS_PER_SHARD = 3
MAJORITY = MEMBERS_PER_SHARD // 2 + 1
CHECKPOINT_NS = "time_d.repl_time"
NAMESPACES = ("shop.orders", "shop.users", "shop.carts")

# Shares of the entry mix (the rest are ops delivered by every member).
NOOP_SHARE = 0.02  # op 'n' heartbeats
CHECKPOINT_SHARE = 0.01  # writes to the checkpoint namespace
MIGRATE_SHARE = 0.01  # fromMigrate chunk copies
MISSING_ONE_SHARE = 0.05  # delivered by 2 of 3 members: still a majority
ONE_MEMBER_SHARE = 0.03  # delivered by 1 member: never published, evicted by TTL
REDELIVER_SHARE = 0.01  # one extra delivery of an op that reaches majority
OP_TYPES = (("i", 0.6), ("u", 0.3), ("d", 0.1))
PAYLOAD_CHARS = (16, 256)  # uniform payload string length

FIELDS = ("ts_t", "ts_i", "h", "op", "ns", "fromMigrate", "o", "o2", "shard", "member_host")


def members(shard: str) -> list[str]:
    return [f"{shard}-m{i}:27017" for i in range(MEMBERS_PER_SHARD)]


def member_log(base: str, member: str) -> str:
    """Path of one member's JSONL log, in the layout `oplog_sim` reads
    (percent-encoded member name + ``.jsonl``)."""
    return os.path.join(base, quote(member, safe="") + ".jsonl")


@dataclass(frozen=True)
class Entry:
    """One oplog entry and the members that deliver it (in order; a
    member listed twice is a redelivery)."""

    doc: dict
    deliver_to: tuple[str, ...]
    published: bool

    @property
    def h(self) -> int:
        return self.doc["h"]

    def line(self, member: str) -> str:
        return json.dumps({**self.doc, "member_host": member}) + "\n"


class OpMix:
    """Seeded stream of oplog entries. ``next_entry(ts_t)`` draws the
    next entry stamped with the given oplog seconds; ``ts_i`` counts up
    within a second per shard, as a replica set's optime does."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self._seen_h: set[int] = set()
        self._clock = {s: (0, 0) for s in SHARDS}

    def _new_h(self) -> int:
        while True:
            h = self.rng.getrandbits(62) + 1
            if h not in self._seen_h:
                self._seen_h.add(h)
                return h

    def _optime(self, shard: str, ts_t: int) -> int:
        last_t, last_i = self._clock[shard]
        ts_i = last_i + 1 if ts_t == last_t else 1
        self._clock[shard] = (ts_t, ts_i)
        return ts_i

    def _payload(self, h: int, op: str) -> tuple[str, str | None]:
        rng = self.rng
        n = rng.randint(*PAYLOAD_CHARS)
        body = "".join(rng.choices("abcdefghijklmnopqrstuvwxyz0123456789 ", k=n))
        if op == "d":
            return json.dumps({"_id": h}), None
        if op == "u":
            return json.dumps({"$set": {"v": body, "n": rng.randint(0, 10**6)}}), json.dumps({"_id": h})
        return json.dumps({"_id": h, "v": body, "n": rng.randint(0, 10**6)}), None

    def next_entry(self, ts_t: int) -> Entry:
        rng = self.rng
        shard = rng.choice(SHARDS)
        ms = members(shard)
        h = self._new_h()
        doc = {
            "ts_t": ts_t,
            "ts_i": self._optime(shard, ts_t),
            "h": h,
            "op": "i",
            "ns": rng.choice(NAMESPACES),
            "fromMigrate": None,
            "o": None,
            "o2": None,
            "shard": shard,
        }
        r = rng.random()
        noise = True
        if r < NOOP_SHARE:
            doc.update(op="n", o="{}")
        elif r < NOOP_SHARE + CHECKPOINT_SHARE:
            doc.update(ns=CHECKPOINT_NS, op="u", o=json.dumps({"$set": {"ts": ts_t}}))
        elif r < NOOP_SHARE + CHECKPOINT_SHARE + MIGRATE_SHARE:
            doc.update(fromMigrate=True)
            doc["o"], _ = self._payload(h, "i")
        else:
            noise = False
            r = rng.random()
            acc = 0.0
            for op, share in OP_TYPES:
                acc += share
                if r < acc:
                    break
            doc["op"] = op
            doc["o"], doc["o2"] = self._payload(h, op)
        if noise:
            return Entry(doc, tuple(ms), False)
        r = rng.random()
        if r < ONE_MEMBER_SHARE:
            deliver = [rng.choice(ms)]
        elif r < ONE_MEMBER_SHARE + MISSING_ONE_SHARE:
            deliver = rng.sample(ms, MEMBERS_PER_SHARD - 1)
        else:
            deliver = list(ms)
        if len(deliver) >= MAJORITY and rng.random() < REDELIVER_SHARE:
            deliver.append(rng.choice(deliver))
        return Entry(doc, tuple(deliver), len(set(deliver)) >= MAJORITY)


def expected_doc(entry: Entry) -> dict:
    """The record the pipeline publishes for ``entry``: the envelope
    fields of the op, as the sink receives them."""
    return {k: entry.doc[k] for k in ("h", "ts_t", "ts_i", "op", "ns", "o")}


def backlog(seed: int, n_entries: int, ts_base: int, ops_per_second: int) -> list[Entry]:
    """A pre-written backlog: ``n_entries`` entries whose oplog seconds
    advance by one every ``ops_per_second`` entries, so the state TTL
    evicts the older keys once the watermark passes them."""
    mix = OpMix(seed)
    return [mix.next_entry(ts_base + i // ops_per_second) for i in range(n_entries)]


def write_logs(entries: list[Entry], base: str) -> dict[str, int]:
    """Append every delivery to its member's log; returns lines written
    per member. Every member of every shard gets a log file, even one
    that receives nothing, so the source discovers the full topology."""
    os.makedirs(base, exist_ok=True)
    lines: dict[str, list[str]] = {m: [] for s in SHARDS for m in members(s)}
    for e in entries:
        for m in e.deliver_to:
            lines[m].append(e.line(m))
    for m, ls in lines.items():
        with open(member_log(base, m), "a") as f:
            f.writelines(ls)
    return {m: len(ls) for m, ls in lines.items()}


class LogAppender:
    """Open-loop writer: keeps every member log open and appends one
    entry's deliveries at a time, flushed so a tailing reader sees them."""

    def __init__(self, base: str) -> None:
        os.makedirs(base, exist_ok=True)
        self._files = {m: open(member_log(base, m), "a") for s in SHARDS for m in members(s)}

    def append(self, entry: Entry) -> None:
        for m in entry.deliver_to:
            f = self._files[m]
            f.write(entry.line(m))
            f.flush()

    def close(self) -> None:
        for f in self._files.values():
            f.close()
