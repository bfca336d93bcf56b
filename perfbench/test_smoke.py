"""Smoke test of the benchmark itself, at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

The generator is deterministic in its seed, the expected set follows
from the delivery plan alone, BENCHMARK.json lists exactly the metrics
run.py prints, and one tiny backlog through the real pipeline publishes
every expected op exactly once, each in exactly one committed batch.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import cdc, common, gen, run, tables

ROOT = run.ROOT


def test_same_seed_same_inputs(tmp_path):
    a = gen.backlog(7, 500, cdc.TS_BASE, cdc.BACKFILL_OPS_PER_TS)
    b = gen.backlog(7, 500, cdc.TS_BASE, cdc.BACKFILL_OPS_PER_TS)
    c = gen.backlog(8, 500, cdc.TS_BASE, cdc.BACKFILL_OPS_PER_TS)
    assert a == b
    assert [e.h for e in a] != [e.h for e in c]
    gen.write_logs(a, str(tmp_path / "a"))
    gen.write_logs(b, str(tmp_path / "b"))
    for name in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
    ta, tb = tables.generate(3), tables.generate(3)
    assert all(ta[n].equals(tb[n]) for n in tables.NAMES)


def test_expected_set_follows_the_delivery_plan():
    entries = gen.backlog(11, 3_000, cdc.TS_BASE, cdc.BACKFILL_OPS_PER_TS)
    kinds = {"noise": 0, "one": 0, "two": 0, "dup": 0}
    for e in entries:
        noise = e.doc["op"] == "n" or e.doc["ns"] == gen.CHECKPOINT_NS or e.doc["fromMigrate"]
        distinct = len(set(e.deliver_to))
        assert set(e.deliver_to) <= set(gen.members(e.doc["shard"]))
        assert e.published == (not noise and distinct >= gen.MAJORITY)
        kinds["noise"] += bool(noise)
        kinds["one"] += not noise and distinct == 1
        kinds["two"] += not noise and distinct == 2
        kinds["dup"] += len(e.deliver_to) > distinct
    assert all(kinds.values()), kinds  # every case of the mix occurs
    assert len({e.h for e in entries}) == len(entries)


def test_benchmark_json_matches_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == run.per_layer_metrics()
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def test_tracer_self_time():
    t = common.Tracer("t", True)
    root = t.add("root", 0.0, 10.0)
    t.add("a", 1.0, 4.0, root)
    t.add("b", 3.0, 6.0, root)  # overlaps a: covered 1..6
    assert t.self_times() == {"root": 5.0, "a": 3.0, "b": 3.0}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    common.pin_env(ROOT, str(tmp_path_factory.mktemp("work")), 2)
    from flink_mingo_tail_spark.session import build_session, prepare_session

    s = prepare_session(build_session("perfbench-smoke"))
    cdc.register_sources(s)
    yield s
    s.stop()


def test_every_published_op_has_one_receipt(spark, tmp_path):
    entries = gen.backlog(5, 200, cdc.TS_BASE, cdc.BACKFILL_OPS_PER_TS)
    gen.write_logs(entries, str(tmp_path / "logs"))
    tracer = common.Tracer("smoke", False)
    *_, report = cdc.drain(spark, str(tmp_path / "logs"), str(tmp_path / "run"), tracer, -1)
    attempted, failed, problems = cdc.check_published(entries, report)
    assert failed == 0, problems
    assert attempted == sum(e.published for e in entries)
    batches_of: dict[int, set[int]] = {}
    for b in report.batches:
        assert b.receipt["n_docs"] == len(b.docs)
        for d in b.docs:
            batches_of.setdefault(d["h"], set()).add(b.batch_id)
    assert set(batches_of) == {e.h for e in entries if e.published}
    assert all(len(ids) == 1 for ids in batches_of.values())
