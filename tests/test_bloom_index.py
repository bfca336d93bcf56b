"""Bloom membership sketch + persisted incremental index
(operators/dedup.py round 13): determinism, no-false-negatives,
OR-merge idempotency, fixed-size state, manifest discipline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_mingo_tail_spark.operators.dedup import (
    BLOOM_K,
    bloom_bits,
    bloom_m_bits,
    bloom_probe,
    build_bloom_index,
    probe_bloom_index,
)
from flink_mingo_tail_spark.tables import load_table

from .conftest import SF_SMOKE


def _keys(spark, pred):
    return (
        load_table(spark, SF_SMOKE, "documents")
        .filter(pred)
        .select("doc_id", F.md5("text").alias("ch"))
    )


def test_bloom_never_misses_a_member(spark):
    members = _keys(spark, F.col("doc_id") % 10 != 7)
    m = bloom_m_bits(members.count())
    bloom = bloom_bits(members.select("ch"), "ch", m)
    got = bloom_probe(members, bloom, id_col="doc_id", key_col="ch", m_bits=m)
    assert got.filter(~F.col("bloom_hit")).count() == 0


def test_bloom_probe_one_key_per_id_contract(spark):
    """bloom_probe's documented contract: exactly one key per id. An id
    carrying two distinct keys gets ONE bool_and verdict across both
    (hit only if EVERY key's positions are set), not per-(id, key)
    membership — callers probing multi-key ids must dedupe first."""
    members = _keys(spark, F.col("doc_id") % 10 != 7)
    m = bloom_m_bits(members.count())
    bloom = bloom_bits(members.select("ch"), "ch", m)
    one_id = members.limit(1).select(
        F.lit(1).alias("pid"), F.col("ch")
    )
    # second key for the same probe id: a guaranteed non-member string
    multi = one_id.union(
        one_id.select("pid", F.md5(F.concat(F.col("ch"), F.lit("-not-a-member"))).alias("ch"))
    )
    got = bloom_probe(multi, bloom, id_col="pid", key_col="ch", m_bits=m).collect()
    assert len(got) == 1  # one verdict per id, not per (id, key)
    # the folded verdict is the AND of the per-key verdicts (probe each
    # key under its own id to see them individually)
    per_key = bloom_probe(
        multi.select(F.monotonically_increasing_id().alias("pid"), "ch"),
        bloom,
        id_col="pid",
        key_col="ch",
        m_bits=m,
    ).collect()
    assert got[0].bloom_hit == all(r.bloom_hit for r in per_key)
    # the member key IS set; the synthetic second key is a definite miss
    # at this fill ratio on the deterministic fixture, so the fold masks
    # the member — exactly the hazard the contract warns about
    assert any(r.bloom_hit for r in per_key)
    assert got[0].bloom_hit is False


def test_bloom_m_bits_rule(spark):
    assert bloom_m_bits(1) == 4
    assert bloom_m_bits(100) == 512       # 4*100=400 -> 512
    assert bloom_m_bits(128) == 512       # 4*128=512 exactly -> 512
    assert bloom_m_bits(129) == 1024
    with pytest.raises(ValueError):
        bloom_m_bits(0)


def test_bloom_state_is_fixed_size_and_append_idempotent(spark, tmp_path):
    path = f"{tmp_path}/bloom"
    b0 = _keys(spark, F.col("doc_id") % 3 == 0)
    b1 = _keys(spark, F.col("doc_id") % 3 == 1)
    probes = _keys(spark, F.col("doc_id") % 3 == 2)
    build_bloom_index(b0.select("ch").distinct(), path, key_col="ch")
    size0 = spark.read.parquet(f"{path}/bits").count()
    before = {
        r.doc_id: r.bloom_hit
        for r in probe_bloom_index(probes, path, id_col="doc_id", key_col="ch").collect()
    }
    build_bloom_index(b1.select("ch"), path, key_col="ch", mode="append")
    build_bloom_index(b1.select("ch"), path, key_col="ch", mode="append")  # replay
    after = {
        r.doc_id: r.bloom_hit
        for r in probe_bloom_index(probes, path, id_col="doc_id", key_col="ch").collect()
    }
    # hits only grow (OR is monotone) and the table never does
    assert all(after[i] or not before[i] for i in before)
    m = spark.read.parquet(f"{path}/manifest").head().m_bits
    assert spark.read.parquet(f"{path}/bits").count() <= m // 32
    assert size0 <= m // 32
    # every b1 member now hits (no false negatives after merge)
    b1_hits = probe_bloom_index(b1, path, id_col="doc_id", key_col="ch")
    assert b1_hits.filter(~F.col("bloom_hit")).count() == 0


def test_bloom_manifest_discipline(spark, tmp_path):
    path = f"{tmp_path}/bloom"
    b0 = _keys(spark, F.col("doc_id") < 100)
    with pytest.raises(ValueError, match="no manifest found"):
        build_bloom_index(b0.select("ch"), path, key_col="ch", mode="append")
    build_bloom_index(b0.select("ch"), path, key_col="ch", m_bits=1024)
    with pytest.raises(ValueError, match="refusing to append"):
        build_bloom_index(b0.select("ch"), path, key_col="ch", m_bits=2048, mode="append")
    with pytest.raises(ValueError, match="refusing to append"):
        build_bloom_index(b0.select("ch"), path, key_col="ch", k=BLOOM_K + 1, mode="append")
    with pytest.raises(ValueError, match="no bloom index manifest"):
        probe_bloom_index(b0, f"{tmp_path}/nope", id_col="doc_id", key_col="ch")


def test_bloom_cross_family_manifest_rejected(spark, tmp_path):
    from flink_mingo_tail_spark.operators.dedup import build_dedup_index

    d = load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") < 60)
    ded = f"{tmp_path}/ded"
    build_dedup_index(d, ded)
    with pytest.raises(ValueError, match="wrong index family"):
        probe_bloom_index(
            _keys(spark, F.col("doc_id") < 10), ded, id_col="doc_id", key_col="ch"
        )


def test_bloom_prefilter_probe_is_classification_identical(spark, tmp_path):
    """probe_dedup_index(bloom_prefilter=...) must classify every doc
    exactly as the direct two-table probe does — a Bloom miss is
    definitive (no false negatives) and false positives merely
    confirm-and-fail against the exact table (q252's two-tier shape,
    wired — round-14 verdict item)."""
    from flink_mingo_tail_spark.operators.dedup import (
        build_dedup_index,
        probe_dedup_index,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    idx_side = d.filter(F.col("doc_id") % 10 != 7)
    # incoming slice + replayed index members (negative re-key, q252's
    # injection pattern) so the EXACT path the bloom tier fronts is
    # exercised by genuine membership hits, not just near-dups
    incoming = d.filter(F.col("doc_id") % 10 == 7).unionByName(
        d.filter((F.col("doc_id") % 20 == 0) & (F.col("doc_id") % 10 != 7))
        .withColumn("doc_id", -F.col("doc_id") - 1)
    )
    path = f"{tmp_path}/didx"
    build_dedup_index(idx_side, path, mode="overwrite")
    build_bloom_index(
        idx_side.select(F.md5("text").alias("ch")).distinct(),
        f"{path}/bloom",
        key_col="ch",
    )
    direct = {
        r.doc_id: r.status for r in probe_dedup_index(incoming, path).collect()
    }
    two_tier = {
        r.doc_id: r.status
        for r in probe_dedup_index(incoming, path, bloom_prefilter=True).collect()
    }
    assert direct == two_tier
    # explicit-path spelling resolves to the same sibling
    explicit = {
        r.doc_id: r.status
        for r in probe_dedup_index(
            incoming, path, bloom_prefilter=f"{path}/bloom"
        ).collect()
    }
    assert direct == explicit
    # non-degenerate: the fixture carries both dups and novel docs
    assert {"exact_dup", "new"} <= set(direct.values())


def test_bloom_rewiden_trigger_rebuilds_at_fresh_width(spark, tmp_path):
    """maybe_rewiden_bloom_index: below the fill threshold it is a
    no-op; an overloaded index (built at a deliberately tiny width)
    trips it and is rebuilt at the auto width from the ground-truth
    key frame, after which probes still never miss a member."""
    from flink_mingo_tail_spark.operators.dedup import (
        _BLOOM_MANIFEST_SCHEMA,
        maybe_rewiden_bloom_index,
    )
    from flink_mingo_tail_spark.operators.standing_index import read_manifest

    keys = _keys(spark, F.col("doc_id") % 10 != 7).select("ch").distinct()
    n = keys.count()
    path = f"{tmp_path}/bloom"
    # healthy width: no rebuild
    build_bloom_index(keys, path, key_col="ch")
    assert maybe_rewiden_bloom_index(spark, path, keys) is False
    assert read_manifest(spark, path, _BLOOM_MANIFEST_SCHEMA)[
        "m_bits"
    ] == bloom_m_bits(n)
    # overloaded width (1 bit/key rounds down far past design load)
    tiny = 1 << max(1, (n - 1).bit_length() - 2)
    path2 = f"{tmp_path}/bloom_tiny"
    build_bloom_index(keys, path2, key_col="ch", m_bits=tiny)
    assert maybe_rewiden_bloom_index(spark, path2, keys) is True
    man = read_manifest(spark, path2, _BLOOM_MANIFEST_SCHEMA)
    assert man["m_bits"] == bloom_m_bits(n)
    probes = _keys(spark, F.col("doc_id") % 10 != 7)
    hits = probe_bloom_index(probes, path2, id_col="doc_id", key_col="ch")
    assert hits.filter(~F.col("bloom_hit")).count() == 0  # no false negatives


def test_bloom_prefilter_parity_property(spark, tmp_path):
    """Property: for ANY corpus split, the two-tier probe classifies
    identically to the direct probe (Bloom has no false negatives and
    FPs confirm-and-fail). Randomized via hypothesis over synthetic
    doc sets with planted exact dups, shared-shingle near dups, and
    novel docs."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from flink_mingo_tail_spark.operators.dedup import (
        build_dedup_index,
        probe_dedup_index,
    )

    counter = iter(range(10_000))

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(data=st.data())
    def prop(data):
        n_idx = data.draw(st.integers(4, 12))
        n_inc = data.draw(st.integers(3, 8))
        words = [f"w{j}" for j in range(12)]
        mk = lambda r: " ".join(data.draw(st.sampled_from(words)) for _ in range(r))
        idx_rows = [(i, mk(data.draw(st.integers(6, 14)))) for i in range(n_idx)]
        inc_rows = []
        for i in range(n_inc):
            kind = data.draw(st.sampled_from(["copy", "novel", "mut"]))
            if kind == "copy" and idx_rows:
                text = data.draw(st.sampled_from(idx_rows))[1]
            elif kind == "mut" and idx_rows:
                text = data.draw(st.sampled_from(idx_rows))[1] + " zz"
            else:
                text = mk(data.draw(st.integers(6, 14))) + f" uniq{i}"
            inc_rows.append((1000 + i, text))
        ddl = "doc_id long, text string"
        idx_df = spark.createDataFrame(idx_rows, ddl)
        inc_df = spark.createDataFrame(inc_rows, ddl)
        path = f"{tmp_path}/p{next(counter)}"
        build_dedup_index(idx_df, path, mode="overwrite")
        build_bloom_index(
            idx_df.select(F.md5("text").alias("ch")).distinct(),
            f"{path}/bloom",
            key_col="ch",
        )
        direct = {
            r.doc_id: r.status for r in probe_dedup_index(inc_df, path).collect()
        }
        two_tier = {
            r.doc_id: r.status
            for r in probe_dedup_index(inc_df, path, bloom_prefilter=True).collect()
        }
        assert direct == two_tier

    prop()


def test_bloom_coverage_check_detects_stale_sibling(spark, tmp_path):
    """verify_bloom_covers_content: 0 for a sibling built from the full
    content table; positive when the sibling was built from only part
    of it (the stale-Bloom hazard the two-tier contract documents)."""
    from flink_mingo_tail_spark.operators.dedup import (
        build_dedup_index,
        verify_bloom_covers_content,
    )

    d = load_table(spark, SF_SMOKE, "documents").filter(F.col("doc_id") % 10 != 7)
    path = f"{tmp_path}/didx"
    build_dedup_index(d, path)
    ch = d.select(F.md5("text").alias("ch")).distinct()
    build_bloom_index(ch, f"{path}/bloom", key_col="ch")
    assert verify_bloom_covers_content(spark, path) == 0
    # stale sibling: built from only half the hashes
    stale = f"{tmp_path}/stale_bloom"
    build_bloom_index(
        ch.filter(F.crc32(F.col("ch")) % 2 == 0), stale, key_col="ch"
    )
    assert verify_bloom_covers_content(spark, path, bloom_path=stale) > 0
