"""The standing-index protocol (operators/standing_index.py): one
manifest reader for every index family, one append rule."""

from __future__ import annotations

import pytest

from flink_mingo_tail_spark.operators.dedup import (
    _BLOOM_MANIFEST_SCHEMA,
    _MANIFEST_SCHEMA,
    _SPAN_MANIFEST_SCHEMA,
    build_dedup_index,
    probe_dedup_index,
)
from flink_mingo_tail_spark.operators.perceptual_index import _PH_MANIFEST_SCHEMA
from flink_mingo_tail_spark.operators.semantic_index import _SEM_MANIFEST_SCHEMA
from flink_mingo_tail_spark.operators.standing_index import (
    read_manifest,
    require_manifest,
    write_manifest,
)
from flink_mingo_tail_spark.streaming.novelty_ingest import (
    _NOVELTY_MANIFEST_SCHEMA,
    make_novelty_batch_fn,
)

_FAMILIES = {
    "dedup": _MANIFEST_SCHEMA,
    "bloom": _BLOOM_MANIFEST_SCHEMA,
    "span": _SPAN_MANIFEST_SCHEMA,
    "semantic": _SEM_MANIFEST_SCHEMA,
    "perceptual": _PH_MANIFEST_SCHEMA,
    "novelty": _NOVELTY_MANIFEST_SCHEMA,
}

# one valid manifest row per family
_ROWS = {
    "dedup": {"k": 8, "rows_per_band": 4, "n_shards": 16},
    "bloom": {"m_bits": 1024, "k": 3},
    "span": {"span_l": 8, "span_n_shards": 16},
    "semantic": {
        "n_tables": 4, "n_bits": 6, "seed": 1, "dim": 8, "expanded": False,
        "n_shards": 16,
    },
    "perceptual": {"n_bands": 4, "band_bits": 16, "ham": 3, "n_shards": 16},
    "novelty": {"k": 5},
}


@pytest.fixture(scope="module")
def family_manifests(spark, tmp_path_factory):
    """{family: index path} holding one manifest of each family."""
    root = tmp_path_factory.mktemp("families")
    paths = {}
    for family, schema in _FAMILIES.items():
        paths[family] = str(root / family)
        write_manifest(spark, paths[family], schema, _ROWS[family])
    return paths


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_missing_manifest_reads_as_none(spark, tmp_path, family):
    path = str(tmp_path / "never_built")
    assert read_manifest(spark, path, _FAMILIES[family]) is None
    with pytest.raises(ValueError, match=f"no {family} index manifest at"):
        require_manifest(spark, path, _FAMILIES[family], family)


def test_corrupt_manifest_raises_instead_of_reading_as_none(spark, tmp_path):
    """Only an absent manifest means "not built": a manifest that exists
    but cannot be read must fail, or a caller would bootstrap over the
    index (or override its real parameters)."""
    path = tmp_path / "idx"
    (path / "manifest").mkdir(parents=True)
    (path / "manifest" / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        read_manifest(spark, str(path), _MANIFEST_SCHEMA)


def test_plain_append_inherits_every_manifest_parameter(spark, tmp_path):
    """An append that names no parameter takes them all from the
    manifest, even where the index was built with non-default ones."""
    path = str(tmp_path / "dedup_index")
    ddl = "doc_id long, text string"
    build_dedup_index(
        spark.createDataFrame([(1, "alpha beta gamma delta epsilon zeta eta theta")], ddl),
        path,
        rows_per_band=8,
    )
    build_dedup_index(
        spark.createDataFrame([(2, "one two three four five six seven eight")], ddl),
        path,
        mode="append",
    )
    assert read_manifest(spark, path, _MANIFEST_SCHEMA) == {
        "k": 8, "rows_per_band": 8, "n_shards": 16
    }
    probe = spark.createDataFrame(
        [(10, "one two three four five six seven eight"),
         (11, "words that never appeared in either batch at all")],
        ddl,
    )
    got = {r.doc_id: r.status for r in probe_dedup_index(probe, path).collect()}
    assert got == {10: "exact_dup", 11: "new"}


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_every_other_family_manifest_is_refused(spark, family_manifests, family):
    """A family reads its own manifest back and refuses every other
    family's, including those whose columns are a superset of its own
    (the novelty schema ``k`` is a subset of the dedup and Bloom ones)."""
    schema = _FAMILIES[family]
    assert read_manifest(spark, family_manifests[family], schema) == _ROWS[family]
    for other, path in family_manifests.items():
        if other == family:
            continue
        with pytest.raises(ValueError, match="wrong index family"):
            read_manifest(spark, path, schema)


def test_novelty_batch_fn_refuses_a_dedup_index(spark, tmp_path):
    """Pointed at a dedup index, the novelty ingest fails on the manifest
    check, before it reads or appends any table."""
    path = str(tmp_path / "dedup_index")
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    build_dedup_index(batch, path)
    ingest = make_novelty_batch_fn(path, str(tmp_path / "out"))
    with pytest.raises(ValueError, match="wrong index family"):
        ingest(batch, 0)
