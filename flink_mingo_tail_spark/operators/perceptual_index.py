"""Persisted PERCEPTUAL (dHash) standing index — the multimodal
modality's twin of ``operators/dedup.py``'s content-hash/MinHash-band
index and ``operators/semantic_index.py``'s sign-LSH index (round-12
verdict "What's missing #1": text, 4-gram, and embedding candidates all
had persisted standing-index forms probed incrementally by the curation
ingest; the image modality re-derived perceptual candidates per batch
or skipped — q225/q228 were batch-only).

Layout under ``{path}/``, mirroring the sibling index families:

* ``bands``    — (band, bits, ph, mid), hive-partitioned by ``shard``
  (md5-long low bits of ``band:bits``): q212/q225's pigeonhole Hamming
  banding — ``n_bands`` disjoint ``band_bits``-bit slices of each
  fingerprint. The FULL fingerprint ``ph`` rides in the band row (one
  long), so the probe's exact popcount confirm needs no second table —
  unlike the semantic index, where a bucket collision is only a
  candidate and re-rank vectors live separately, here band-collide +
  popcount IS the verdict.
* ``manifest`` — one row (n_bands, band_bits, ham, n_shards). Probe
  parameters are read from here, never trusted from the caller (the
  rule of operators/standing_index.py: a silently mismatched banding
  or sharding classifies everything as 'new').

Completeness contract: build refuses ``ham >= n_bands``. With
``ham < n_bands``, two fingerprints at Hamming distance <= ham differ
in at most ``ham`` of the ``n_bands`` disjoint bands, so at least one
band collides (pigeonhole) — the banded candidate set provably covers
every true near-dup and the probe verdict is EXACTLY the dense rule
"exists an indexed fingerprint within Hamming ``ham``". That is why
the driver-row oracles replay the pure Hamming rule with no banding:
an independent derivation of the same answer.

100 TB shape: the band join is an equi-join on (shard, band, bits)
with the bounded side broadcast; occupancy is bounded by band width
(at a bigger corpus: widen the hash and the bands, q212's rule); the
popcount confirm touches only collided rows. Appends are
membership-monotone like the sibling indexes — replaying an ingest
batch re-inserts existing rows, which costs bytes, never correctness;
``compact_perceptual_index`` rewrites the distinct row set.

Reference parity: extends the reference's standing-state CDC
discipline (SURVEY §2A A6/A7 — flink-mingo-tail keeps quorum state
keyed by _id, `MongoDBOplogTailMapper.java`) to the perceptual
modality; no reference twin exists for the index itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_mingo_tail_spark.operators.dedup import md5_long
from flink_mingo_tail_spark.operators.standing_index import (
    _swap_rewrite_distinct,
    require_manifest,
    resolve_params,
    write_manifest,
)

_PH_MANIFEST_SCHEMA = "n_bands int, band_bits int, ham int, n_shards int"

# Canonical banding — q225/q212's contract over the 32-bit dHash:
# 4 disjoint 8-bit bands, verdict at Hamming <= 3 (< n_bands, so the
# pigeonhole completeness proof holds). queries/multimodal_udf.py's
# _PH_BANDS/_PH_HAM alias these — one spelling for q225/q228, the
# standing index, and the streaming ingest stage.
DEFAULT_N_BANDS = 4
DEFAULT_BAND_BITS = 8
DEFAULT_PH_HAM = 3
_PH_DEFAULTS = {
    "n_bands": DEFAULT_N_BANDS,
    "band_bits": DEFAULT_BAND_BITS,
    "ham": DEFAULT_PH_HAM,
    "n_shards": 16,
}


def _band_shard(band, bits, n_shards: int):
    """Deterministic directory shard for a band key: low bits of the
    engine-portable md5-long over 'band:bits'. Computed from the key on
    BOTH sides of the probe join, so it is never guessed."""
    key = F.concat_ws(":", band.cast("string"), bits.cast("string"))
    return F.pmod(md5_long(key), F.lit(n_shards))


def _banded(fp: DataFrame, id_col: str, fp_col: str, n_bands: int, band_bits: int):
    """(mid, ph, band, bits) — the pigeonhole band explosion of a
    fingerprint frame, one spelling for build and probe."""
    mask = (1 << band_bits) - 1
    return fp.select(
        F.col(id_col).alias("mid"),
        F.col(fp_col).cast("long").alias("ph"),
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ).withColumn("bits", F.expr(f"shiftright(ph, {band_bits} * band) & {mask}"))


def build_perceptual_index(
    fingerprints: DataFrame,
    path: str,
    *,
    id_col: str = "media_id",
    fp_col: str = "ph",
    n_bands: int | None = None,
    band_bits: int | None = None,
    ham: int | None = None,
    n_shards: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize (or ``mode='append'``-extend) the perceptual index
    from a fingerprint frame (``operators/multimodal.dhash_arrow``'s
    output shape — hashing stays in the Arrow operator; the index never
    touches payload bytes, so the 100 TB blob column never shuffles
    here). Unset parameters default to the canonical banding
    (DEFAULT_N_BANDS, DEFAULT_BAND_BITS, DEFAULT_PH_HAM) and 16 shards.

    Refuses ``ham >= n_bands`` (the pigeonhole completeness contract —
    module docstring) and, on ``append``, any manifest drift (the
    standing-index rule, operators/standing_index.resolve_params):
    mixing bandings in one table would silently halve Hamming coverage
    on some rows."""
    spark = fingerprints.sparkSession
    params = resolve_params(
        spark, path, _PH_MANIFEST_SCHEMA, "perceptual", mode,
        {"n_bands": n_bands, "band_bits": band_bits, "ham": ham, "n_shards": n_shards},
        _PH_DEFAULTS,
    )
    n_bands, ham = params["n_bands"], params["ham"]
    if ham >= n_bands:
        raise ValueError(
            f"ham={ham} >= n_bands={n_bands}: pigeonhole completeness needs "
            "more disjoint bands than tolerated bit flips (module docstring)"
        )
    rows = _banded(
        fingerprints, id_col, fp_col, n_bands, params["band_bits"]
    ).withColumn(
        "shard", _band_shard(F.col("band"), F.col("bits"), params["n_shards"])
    )
    rows.write.mode(mode).partitionBy("shard").parquet(f"{path}/bands")
    if mode == "overwrite":
        write_manifest(spark, path, _PH_MANIFEST_SCHEMA, params)


def probe_perceptual_index(
    probes: DataFrame,
    path: str,
    *,
    id_col: str = "media_id",
    fp_col: str = "ph",
    broadcast_side: str = "auto",
) -> DataFrame:
    """(id_col, perceptual_hit) — True iff ANY indexed fingerprint sits
    within Hamming ``ham`` of the probe fingerprint. Candidates come
    from the persisted band equi-join (recall-complete by pigeonhole,
    manifest-validated banding on both sides); precision is restored by
    the exact popcount against the ``ph`` carried in the band row — no
    second table, no re-rank join.

    ``broadcast_side``: 'probe' for a bounded batch against a corpus
    index (the streaming-ingest direction), 'index' for a bounded
    static index, 'auto'/'none' to let AQE decide."""
    if broadcast_side not in ("auto", "none", "index", "probe"):
        raise ValueError(
            f"broadcast_side must be auto|none|index|probe, got {broadcast_side!r}"
        )
    spark = probes.sparkSession
    manifest = require_manifest(spark, path, _PH_MANIFEST_SCHEMA, "perceptual")
    n_shards, ham = manifest["n_shards"], manifest["ham"]

    probe_rows = (
        _banded(probes, id_col, fp_col, manifest["n_bands"], manifest["band_bits"])
        .withColumnsRenamed({"mid": "pid", "ph": "pph"})
        .withColumn("shard", _band_shard(F.col("band"), F.col("bits"), n_shards))
    )
    idx = spark.read.parquet(f"{path}/bands")
    if broadcast_side == "index":
        idx = F.broadcast(idx)
    elif broadcast_side == "probe":
        probe_rows = F.broadcast(probe_rows)
    hits = (
        probe_rows.join(idx, ["shard", "band", "bits"])
        .filter(F.expr(f"bit_count(pph ^ ph) <= {ham}"))
        .select("pid")
        .distinct()
        .withColumn("__hit", F.lit(True))
    )
    return (
        probes.select(F.col(id_col))
        .distinct()
        .join(hits.withColumnRenamed("pid", id_col), id_col, "left")
        .select(
            id_col, F.coalesce(F.col("__hit"), F.lit(False)).alias("perceptual_hit")
        )
    )


def compact_perceptual_index(spark, path: str) -> dict[str, tuple[int, int]]:
    """Compact a churned perceptual index in place (the sibling-index
    compaction contract): replayed ingest appends re-insert band rows
    already present; this rewrites the band table as its distinct row
    set, sharding and manifest preserved. Returns
    {table: (rows_before, rows_after)}. Probe verdicts are identical
    before and after (the probe's DISTINCT dedups candidates); run it
    in a maintenance window (_swap_rewrite_distinct's race note)."""
    require_manifest(spark, path, _PH_MANIFEST_SCHEMA, "perceptual")
    return {"bands": _swap_rewrite_distinct(spark, f"{path}/bands", "shard")}


def audit_perceptual_index(spark, path: str) -> DataFrame:
    """q245's occupancy rollup run off the PERSISTED band table — one
    narrow scan, no re-hashing: per band position, live (bits) bucket
    count, max/mean occupancy (milli grid) and Σn² (the candidate-pair
    mass the band equi-join would materialize). The a-posteriori check
    on the band-width choice, runnable between ingest batches."""
    require_manifest(spark, path, _PH_MANIFEST_SCHEMA, "perceptual")
    occ = (
        spark.read.parquet(f"{path}/bands")
        .groupBy("band", "bits")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        occ.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.max("n").cast("long").alias("max_occ"),
            F.expr(
                "CAST(round(CAST(sum(n) AS DOUBLE) * 1000 / count(*)) AS BIGINT)"
            ).alias("mean_occ_milli"),
            F.sum(F.col("n") * F.col("n")).cast("long").alias("sum_sq"),
        )
        .orderBy("band")
    )
