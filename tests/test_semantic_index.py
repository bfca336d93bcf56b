"""operators/semantic_index — the embedding modality's standing index.

Core proof (round-11 verdict "What's missing #1" Done-criterion): probing
the persisted eval-side index batch by batch reproduces q224's semantic
classification EXACTLY on the overlap — batch-of-one ≡ the batch query
(the q221/q209 equivalence pattern)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from flink_mingo_tail_spark.operators.semantic_index import (
    build_semantic_index,
    probe_semantic_index,
)
from flink_mingo_tail_spark.queries import load_registry
from flink_mingo_tail_spark.queries.similarity import _EVAL_MOD, _SEM_TAU, _emb

from .conftest import SF_ORACLE

REGISTRY = load_registry()


@pytest.fixture(scope="module")
def tmp_root():
    d = tempfile.mkdtemp(prefix="fmts-semidx-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def eval_index(spark, tmp_root):
    """The static decontamination index: eval-slice vectors, Hamming-1
    fan-out paid once at build (expanded=True)."""
    path = f"{tmp_root}/eval_index"
    ev = _emb(spark, SF_ORACLE).filter(F.col("vec_id") % _EVAL_MOD == 0)
    build_semantic_index(ev, path, expanded=True)
    return path


def test_batched_probe_equals_q224_semantic_classification(spark, eval_index):
    """Probe the corpus against the standing eval index in THREE
    arrival batches; the union of per-batch flags must equal q224's
    semantic_hit column exactly — the standing-index form re-derives
    nothing and loses nothing vs the batch query."""
    co = _emb(spark, SF_ORACLE).filter(F.col("vec_id") % _EVAL_MOD != 0)
    got: dict[int, bool] = {}
    for b in range(3):
        batch = co.filter(F.pmod(F.col("vec_id"), F.lit(3)) == b)
        for r in probe_semantic_index(
            batch, eval_index, tau=_SEM_TAU, broadcast_side="index"
        ).collect():
            got[r.vec_id] = r.semantic_hit
    want = {
        r.doc_id: r.semantic_hit
        for r in REGISTRY["q224_semantic_decontaminate"].fn(spark, SF_ORACLE).collect()
    }
    # q224 rows cover every corpus DOC; the index probe covers every
    # corpus EMBEDDING — same id space, compare on the overlap.
    overlap = got.keys() & want.keys()
    assert len(overlap) > 100
    assert all(got[i] == want[i] for i in overlap), {
        i: (got[i], want[i]) for i in overlap if got[i] != want[i]
    }


def test_probe_hits_are_exact_cosine_verified_and_recall_holds(spark, tmp_root):
    """Growing-index direction (expanded=False, probes fan out): hits
    must be a SUBSET of the dense cosine>=tau answer (precision 1.0 by
    construction — every candidate is re-ranked with the exact rounded
    cosine) and recall vs dense must clear the q224 floor."""
    path = f"{tmp_root}/corpus_index"
    e = _emb(spark, SF_ORACLE)
    idx = e.filter(F.col("vec_id") % 3 == 0)
    # deterministic 120-probe set (a bare limit() is job-order
    # nondeterministic and would desync the dense reference below)
    probes = e.filter((F.col("vec_id") % 3 == 1) & (F.col("vec_id") < 360))
    build_semantic_index(idx, path, expanded=False)
    got = {
        r.vec_id: r.semantic_hit
        for r in probe_semantic_index(
            probes, path, tau=_SEM_TAU, broadcast_side="probe"
        ).collect()
    }
    dense = {
        r.pid
        for r in probes.select(F.col("vec_id").alias("pid"), F.col("embedding").alias("pv"))
        .join(idx.select(F.col("embedding").alias("v")))
        .filter(
            F.round(
                F.expr(
                    "aggregate(zip_with(pv, v, (x, y) -> x * y), 0D, (a, x) -> a + x)"
                    " / (sqrt(aggregate(pv, 0D, (a, x) -> a + x * x))"
                    " * sqrt(aggregate(v, 0D, (a, x) -> a + x * x)))"
                ),
                6,
            )
            >= F.lit(_SEM_TAU)
        )
        .select("pid")
        .distinct()
        .collect()
    }
    hits = {i for i, h in got.items() if h}
    assert len(got) == 120  # one verdict per probe, no drops
    assert hits <= dense, f"spurious hits: {hits - dense}"
    assert len(dense) > 0
    assert len(hits) / len(dense) >= 0.8, (len(hits), len(dense))


def test_append_extends_membership_and_validates_manifest(spark, tmp_root):
    """Append grows the index (a probe that missed before the append
    hits after it); append with mismatched parameters refuses; probing
    a non-existent index refuses."""
    path = f"{tmp_root}/grow_index"
    e = _emb(spark, SF_ORACLE)
    first = e.filter(F.col("vec_id") % 3 == 0)
    second = e.filter(F.col("vec_id") % 3 == 1)
    probe = second.filter(F.col("vec_id") < 120)  # 40 ids: 1,4,...,118
    build_semantic_index(first, path, expanded=False)
    before = {
        r.vec_id
        for r in probe_semantic_index(probe, path, tau=0.999999).collect()
        if r.semantic_hit
    }
    assert before == set()  # tau ~= 1: only a self-match could hit
    build_semantic_index(second, path, expanded=False, mode="append")
    after = {
        r.vec_id
        for r in probe_semantic_index(probe, path, tau=0.999999).collect()
        if r.semantic_hit
    }
    assert len(after) == 40  # every probe now finds its own vector
    with pytest.raises(ValueError, match="refusing to append"):
        build_semantic_index(second, path, expanded=True, mode="append")
    with pytest.raises(ValueError, match="refusing to append"):
        build_semantic_index(second, path, n_bits=8, mode="append")
    with pytest.raises(ValueError, match="no manifest"):
        build_semantic_index(second, f"{tmp_root}/nowhere", mode="append")
    with pytest.raises(ValueError, match="no semantic index manifest"):
        probe_semantic_index(probe, f"{tmp_root}/nowhere2")


def test_probe_plan_has_no_corpus_self_join(spark, eval_index):
    """Plan contract: one bucket equi-join + one bounded re-rank — the
    probe side is scanned, never self-joined; index frames broadcast."""
    co = _emb(spark, SF_ORACLE).filter(F.col("vec_id") % _EVAL_MOD != 0)
    df = probe_semantic_index(co, eval_index, tau=_SEM_TAU, broadcast_side="index")
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_auto_n_bits_knob_resolves_and_persists(spark, tmp_root):
    """n_bits=None sizes the bucket width from the build count via the
    codified occupancy rule, persists the RESOLVED width in the
    manifest, grows with a larger corpus, and append inherits the
    manifest width instead of re-resolving from the batch."""
    from flink_mingo_tail_spark.operators.standing_index import read_manifest
    from flink_mingo_tail_spark.operators.semantic_index import (
        _SEM_MANIFEST_SCHEMA,
        build_semantic_index,
    )
    from flink_mingo_tail_spark.operators.similarity import auto_n_bits

    e = _emb(spark, SF_ORACLE).select("vec_id", "embedding")
    n = e.count()
    p1 = f"{tmp_root}/auto1"
    build_semantic_index(e, p1, n_bits=None)
    m1 = read_manifest(spark, p1, _SEM_MANIFEST_SCHEMA)
    assert m1["n_bits"] == auto_n_bits(n)
    # 10x the rows (id-shifted copies) => wider buckets
    big = e
    for i in range(1, 10):
        big = big.union(e.select((F.col("vec_id") + 100000 * i).alias("vec_id"), "embedding"))
    p2 = f"{tmp_root}/auto10"
    build_semantic_index(big, p2, n_bits=None)
    m2 = read_manifest(spark, p2, _SEM_MANIFEST_SCHEMA)
    assert m2["n_bits"] == auto_n_bits(10 * n) > m1["n_bits"]
    # append with n_bits=None inherits the manifest width (no re-resolve
    # from the 40-row batch, which would refuse)
    batch = e.filter(F.col("vec_id") < 120).select(
        (F.col("vec_id") + 999999).alias("vec_id"), "embedding"
    )
    build_semantic_index(batch, p1, n_bits=None, mode="append")
    assert read_manifest(spark, p1, _SEM_MANIFEST_SCHEMA) == m1


def test_audit_equals_q245_on_the_same_corpus(spark, tmp_root):
    """audit_semantic_index off the persisted bucket table must equal
    q245's in-query derivation row-for-row when the index holds the
    same corpus at the same (tables, bits, seed); and it refuses an
    expanded index (fanned rows are probes, not members)."""
    from flink_mingo_tail_spark.operators.semantic_index import (
        audit_semantic_index,
        build_semantic_index,
    )

    path = f"{tmp_root}/audit_idx"
    build_semantic_index(_emb(spark, SF_ORACLE), path, expanded=False)
    got = [tuple(r) for r in audit_semantic_index(spark, path).collect()]
    want = [
        tuple(r)
        for r in REGISTRY["q245_lsh_occupancy_audit"].fn(spark, SF_ORACLE).collect()
    ]
    assert got == want
    exp_path = f"{tmp_root}/audit_exp"
    build_semantic_index(
        _emb(spark, SF_ORACLE).filter(F.col("vec_id") < 120), exp_path, expanded=True
    )
    with pytest.raises(ValueError, match="EXPANDED probe keys"):
        audit_semantic_index(spark, exp_path)
