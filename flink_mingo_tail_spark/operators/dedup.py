"""Deduplication operator family (north-star extension, SURVEY.md §2B):
exact dedup, content-hash dedup, MinHash signatures + LSH candidate
generation, SimHash.

Everything here is a *pure Catalyst expression builder* — no Python UDFs,
no explode-join for signatures. Signatures are computed per-row with
array lambdas (`transform`/`filter`/`aggregate`), so the only shuffle in
the whole family is the final LSH bucket join / group. That is the
100 TB-shape: O(rows) narrow work, then a shuffle keyed on band buckets
whose fan-in is controlled by the banding parameters.

Hash function: the low 60 bits of md5 (hex-prefix → bigint). md5 is
bit-identical in every engine (unlike xxhash64/murmur whose seeds and
variants differ), which is what lets the DuckDB oracle reproduce the
exact signatures. Rehashing per band index j is done by salting the
input with ``j:``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_mingo_tail_spark.operators.standing_index import (
    _swap_rewrite,
    _swap_rewrite_distinct,
    require_manifest,
    resolve_params,
    write_manifest,
)


def md5_long(col: Column) -> Column:
    """60-bit deterministic hash: bigint from the first 15 hex digits of
    md5. Oracle twin: ``('0x' || substr(md5(x), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def salted_md5_long(col: Column, salt: int) -> Column:
    return md5_long(F.concat(F.lit(f"{salt}:"), col))


def sql_md5_long(expr: str, salt: int | None = None) -> str:
    inner = expr if salt is None else f"concat('{salt}:', {expr})"
    return f"('0x' || substr(md5({inner}), 1, 15))::BIGINT"


def tokens(text: Column) -> Column:
    """Whitespace unigram tokens (documents use single-space separators)."""
    return F.split(text, " ", -1)


def word_shingles(toks: Column, n: int) -> Column:
    """Word n-gram shingles as strings, built with array lambdas only.

    Documents shorter than n tokens yield an EMPTY array. (Spark's
    ``sequence(1, 0)`` steps DOWNWARD to ``[1, 0]`` rather than being
    empty, and position 0 is an invalid ``slice`` start — so the
    short-document case must be guarded with an explicit CASE, not a
    ``greatest(..., 0)`` upper bound.)
    """
    if n == 1:
        return toks
    # positions 1..size-n+1, each joined n-gram via slice+concat
    return F.when(
        F.size(toks) >= F.lit(n),
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


# Universal-hash permutation family for MinHash: h_j(x) = (a_j*x + b_j) mod P
# over a base md5 hash. One md5 per shingle (instead of k) + k cheap linear
# maps — the textbook construction, 8x fewer digest evaluations at k=8.
# P prime; constants fixed so Spark and the SQL oracle agree bit-for-bit.
# Overflow-safe in int64: (x mod P) < 1e9+7 and a_j < 1e9 => product < 1e18.
_MINHASH_P = 1_000_000_007
_MINHASH_A = (541, 1223, 2741, 4523, 6829, 8863, 104729, 999983)
_MINHASH_B = (7919, 17389, 27449, 37813, 48611, 59359, 70657, 81799)


def shingle_hashes(shingle_col: Column) -> Column:
    """Base hashes h(s) = md5_long(s) mod P. The md5 is the expensive
    part of MinHash — compute it ONCE per shingle and apply the k
    permutations as affine maps over this array (separate transform
    lambdas each carry their own md5 copy, which codegen cannot unify
    across lambda scopes: measured 8x redundant hashing)."""
    return F.transform(shingle_col, lambda s: F.pmod(md5_long(s), F.lit(_MINHASH_P)))


def _affine(j: int):
    # NB: single-parameter lambda (PySpark reads 2-param lambdas as
    # (element, index)); closure factory pins j.
    a, b = _MINHASH_A[j], _MINHASH_B[j]
    return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_MINHASH_P))


def minhash_from_hashes(hash_col: Column, k: int) -> Column:
    """k-permutation MinHash over precomputed base hashes: k array_min
    folds of affine maps — pure integer math, no hashing."""
    assert k <= len(_MINHASH_A)
    return F.array(*[F.array_min(F.transform(hash_col, _affine(j))) for j in range(k)])


def minhash_signature(shingle_col: Column, k: int) -> Column:
    """k-permutation MinHash signature: per row, k array_min folds over
    universal-hash permutations of each shingle's base hash. No shuffle,
    no explode. Prefer staging `shingle_hashes` in its own projection
    (see q73) so the md5 pass runs once, not k times."""
    return minhash_from_hashes(shingle_hashes(shingle_col), k)


def sql_minhash_signature(shingles_expr: str, k: int) -> str:
    assert k <= len(_MINHASH_A)
    base = f"({sql_md5_long('s')}) % {_MINHASH_P}"
    parts = ", ".join(
        f"list_min(list_transform({shingles_expr}, "
        f"s -> (({base}) * {_MINHASH_A[j]} + {_MINHASH_B[j]}) % {_MINHASH_P}))"
        for j in range(k)
    )
    return f"[{parts}]"


def lsh_band_keys(sig: Column, rows_per_band: int, k: int) -> Column:
    """Band the signature into k/rows_per_band keys; docs sharing any
    band key become candidate pairs. Key = 'band_index:v1:v2:...'."""
    assert k % rows_per_band == 0
    bands = []
    for b in range(k // rows_per_band):
        vals = [sig.getItem(b * rows_per_band + r).cast("string") for r in range(rows_per_band)]
        bands.append(F.concat_ws(":", F.lit(str(b)), *vals))
    return F.array(*bands)


def sql_lsh_band_keys(sig_expr: str, rows_per_band: int, k: int) -> str:
    bands = []
    for b in range(k // rows_per_band):
        vals = " , ".join(
            f"CAST({sig_expr}[{b * rows_per_band + r + 1}] AS VARCHAR)" for r in range(rows_per_band)
        )
        bands.append(f"concat_ws(':', '{b}', {vals})")
    return "[" + ", ".join(bands) + "]"


def signature_agreement(sig_a: Column, sig_b: Column, k: int) -> Column:
    """Estimated Jaccard: fraction of agreeing signature components."""
    matches = F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda m: m))
    return matches / F.lit(float(k))


def simhash(toks: Column, bits: int = 16) -> Column:
    """SimHash over distinct tokens: bit b is set iff the majority of
    token hashes have bit b set. Pure array expressions per row."""
    distinct = F.array_distinct(toks)
    hashes = F.transform(distinct, md5_long)
    n = F.size(hashes)

    def bit_set(b: int):
        return lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1

    acc = F.lit(0)
    for b in range(bits):
        ones = F.size(F.filter(hashes, bit_set(b)))
        acc = acc + F.when(ones * 2 > n, F.lit(1 << b)).otherwise(F.lit(0))
    return acc


def sql_token_hashes(toks_expr: str) -> str:
    """Oracle list of per-distinct-token hashes (pair with sql_simhash_bits
    via a CTE so the hash list is computed once)."""
    return f"list_transform(list_distinct({toks_expr}), t -> {sql_md5_long('t')})"


def sql_simhash_bits(hash_col: str, bits: int = 16) -> str:
    """Oracle bit-assembly over a precomputed hash-list column."""
    terms = []
    for b in range(bits):
        ones = f"len(list_filter({hash_col}, x -> (x >> {b}) & 1 = 1))"
        terms.append(f"(CASE WHEN {ones} * 2 > len({hash_col}) THEN {1 << b} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def hamming_distance(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def exact_dedup(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """Exact dedup keeping the first row per key under a deterministic
    order (row_number window — the scalable idiom; dropDuplicates picks
    an arbitrary row, which breaks replay determinism)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


# ---------------------------------------------------------------------------
# Persisted standing dedup index (the production form of q117)
# ---------------------------------------------------------------------------

def _index_shard(key: Column, n_shards: int) -> Column:
    """Deterministic directory shard for an index key: low bits of the
    engine-portable md5-long. Low-cardinality by construction, so the
    hive layout stays a handful of directories per level."""
    return F.pmod(md5_long(key), F.lit(n_shards))


_MANIFEST_SCHEMA = "k int, rows_per_band int, n_shards int"
_DEDUP_DEFAULTS = {"k": 8, "rows_per_band": 4, "n_shards": 16}


def build_dedup_index(
    docs: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    k: int | None = None,
    rows_per_band: int | None = None,
    n_shards: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize the standing dedup index that q117 derives in-query:

    * ``{path}/content`` — DISTINCT md5 content hashes, hive-partitioned
      by ``shard`` (md5-long low bits);
    * ``{path}/bands`` — DISTINCT MinHash-LSH band keys, same sharding.

    Written once per corpus (``mode='overwrite'``), then extended per
    ingest batch after the batch is admitted (``mode='append'``); the
    daily dedup pass then probes these tables instead of re-hashing the
    whole corpus — the difference between O(batch) and O(corpus) work
    per day at 100 TB. The shard column exists for layout hygiene
    (bounded directory count, parallel writers) and to give the probe
    join a co-partitionable prefix key; both sides compute it from the
    key itself, so it is never guessed.

    A one-row ``{path}/manifest`` records (k, rows_per_band, n_shards);
    ``overwrite`` fills unset parameters with 8 / 4 / 16. ``append``
    follows the standing-index rule (operators/standing_index.
    resolve_params): unset parameters come from the manifest, and an
    explicit value that contradicts it is refused — silently mixing
    shardings would misroute probe joins and misclassify everything as
    'new'. Appended batches may re-insert hashes/bands already present
    from earlier batches; the probe side is membership-only (left-semi
    joins), so cross-batch duplicates cost index bytes, never
    correctness — compact with ``compact_dedup_index``.
    """
    spark = docs.sparkSession
    params = resolve_params(
        spark, path, _MANIFEST_SCHEMA, "dedup", mode,
        {"k": k, "rows_per_band": rows_per_band, "n_shards": n_shards},
        _DEDUP_DEFAULTS,
    )
    k, rows_per_band, n_shards = (
        params["k"], params["rows_per_band"], params["n_shards"]
    )
    content = (
        docs.select(F.md5(F.col(text_col)).alias("ch"))
        .distinct()
        .withColumn("shard", _index_shard(F.col("ch"), n_shards))
    )
    content.write.mode(mode).partitionBy("shard").parquet(f"{path}/content")
    bands = (
        docs.select(
            F.explode(
                lsh_band_keys(
                    minhash_signature(F.array_distinct(tokens(F.col(text_col))), k),
                    rows_per_band,
                    k,
                )
            ).alias("band")
        )
        .distinct()
        .withColumn("shard", _index_shard(F.col("band"), n_shards))
    )
    bands.write.mode(mode).partitionBy("shard").parquet(f"{path}/bands")
    if mode == "overwrite":
        write_manifest(spark, path, _MANIFEST_SCHEMA, params)


def probe_dedup_index(
    incoming: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bloom_prefilter: str | bool | None = None,
) -> DataFrame:
    """Classify each incoming document against a persisted index
    (``build_dedup_index``): 'exact_dup' on content-hash membership,
    'near_dup' on any shared LSH band, else 'new' — the q117 contract,
    but with the index side read from parquet. Both probes are
    left-semi equi-joins on (shard, key): the shard prefix is computed
    from the key on the probe side too, so the join lines up with the
    hive layout and a selective probe set lets dynamic partition
    pruning skip index directories outright.

    Probe parameters (k, rows_per_band, n_shards) come from the index's
    own manifest — a mismatch between build and probe would silently
    classify every document as 'new' — so there is nothing to pass.

    ``bloom_prefilter`` wires the two-tier membership shape q252's
    docstring names: the batch's distinct content hashes first test
    against the kilobyte Bloom bit frame (zero index-side shuffle — the
    bits broadcast to executors), and ONLY bloom-positive hashes reach
    the exact semi-join, so the index-side shuffle touches ~(hit rate +
    FP rate) of the batch instead of all of it. ``True`` reads the
    conventional sibling at ``{path}/bloom``; a string names an
    explicit Bloom index path (``build_bloom_index``). Classification
    is IDENTICAL to the direct path — a Bloom miss is definitive (no
    false negatives) and false positives merely confirm-and-fail —
    PROVIDED the Bloom index covers every hash in the content table
    (maintain both in the same batch commits, as the curation ingest
    body does; a stale Bloom missing recent keys would misclassify
    their duplicates as 'new'). The near-dup band probe is unaffected."""
    spark = incoming.sparkSession
    manifest = require_manifest(spark, path, _MANIFEST_SCHEMA, "dedup")
    k, rows_per_band, n_shards = (
        manifest["k"], manifest["rows_per_band"], manifest["n_shards"]
    )
    content = spark.read.parquet(f"{path}/content")
    bands_idx = spark.read.parquet(f"{path}/bands")

    inc_ch = incoming.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("ch")
    ).withColumn("shard", _index_shard(F.col("ch"), n_shards))
    if bloom_prefilter:
        bloom_path = (
            f"{path}/bloom" if bloom_prefilter is True else bloom_prefilter
        )
        bloom_pos = probe_bloom_index(
            inc_ch.select("ch").distinct(), bloom_path, id_col="ch", key_col="ch"
        ).filter(F.col("bloom_hit")).select("ch")
        # bloom_pos is batch-bounded (<= distinct batch hashes), so the
        # semi-join broadcasts; only survivors shuffle toward the index
        inc_ch = inc_ch.join(F.broadcast(bloom_pos), "ch", "left_semi")
    exact = (
        inc_ch.join(content, ["shard", "ch"], "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__exact", F.lit(True))
    )

    inc_b = incoming.select(
        F.col(id_col),
        F.explode(
            lsh_band_keys(
                minhash_signature(F.array_distinct(tokens(F.col(text_col))), k),
                rows_per_band,
                k,
            )
        ).alias("band"),
    ).withColumn("shard", _index_shard(F.col("band"), n_shards))
    near = (
        inc_b.join(bands_idx, ["shard", "band"], "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__near", F.lit(True))
    )

    return (
        incoming.select(id_col)
        .join(exact, id_col, "left")
        .join(near, id_col, "left")
        .select(
            id_col,
            F.when(F.col("__exact"), "exact_dup")
            .when(F.col("__near"), "near_dup")
            .otherwise("new")
            .alias("status"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom membership sketch (round 13)
# ---------------------------------------------------------------------------

BLOOM_BITS_PER_KEY = 4  # m = next power of two >= 4n (~13% FP at k=3)
BLOOM_K = 3             # ~optimal for 4 bits/key (m/n * ln 2 ≈ 2.8)
_BLOOM_SLOT_BITS = 32   # 32-bit slots in BIGINTs: shifts stay positive
                        # and two's-complement-free in BOTH engines


def bloom_m_bits(n_keys: int, bits_per_key: int = BLOOM_BITS_PER_KEY) -> int:
    """Auto-sized Bloom width: the smallest power of two holding
    ``bits_per_key`` bits per key — the auto_n_bits discipline applied
    to membership sketching (constant expected FP rate as the corpus
    grows, from one count). Integer-exact and replayable in SQL as
    ``1 << length(bin(bits_per_key * n - 1))``."""
    if n_keys <= 0:
        raise ValueError(f"n_keys must be positive, got {n_keys}")
    return 1 << (bits_per_key * n_keys - 1).bit_length()


def _bloom_positions(key_col: str, m_bits: int, k: int):
    """The k salted md5-long bit positions of a key, exploded to one
    ``idx`` row each — ONE spelling for build and probe (round-14
    extraction), so the two sides can never drift apart."""
    return F.explode(
        F.array(*[
            F.pmod(salted_md5_long(F.col(key_col), j), F.lit(m_bits))
            for j in range(k)
        ])
    ).alias("idx")


def _slot_mask(idx_col: str = "idx"):
    """``idx`` → (slot, mask) columns: which 32-bit slot the bit lives
    in and its single-bit BIGINT mask — ONE spelling for build and
    probe (round-14 extraction)."""
    return [
        (F.col(idx_col) / _BLOOM_SLOT_BITS).cast("int").alias("slot"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), {idx_col} % {_BLOOM_SLOT_BITS})"
        ).alias("mask"),
    ]


def bloom_bits(keys: DataFrame, key_col: str, m_bits: int, k: int = BLOOM_K) -> DataFrame:
    """(slot, bits) — the Bloom bit array of a key frame, built in ONE
    distributed pass: k salted md5-long bit positions per key, OR-folded
    into 32-bit slots by a bounded groupBy (≤ m_bits/32 rows — kilobytes,
    broadcastable). This is the 100 TB membership shape: the standing
    EXACT-dedup state compresses to a fixed-size frame that ships to
    every executor, so probe batches test membership with NO shuffle of
    the index side at all; the price is a measured false-positive rate
    (q252's audit), and the classic two-tier answer is bloom-prefilter →
    exact semi-join confirm on the (few) bloom-positive survivors."""
    return (
        keys.select(_bloom_positions(key_col, m_bits, k))
        .select(*_slot_mask())
        .groupBy("slot")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )


def bloom_probe(
    probes: DataFrame,
    bloom: DataFrame,
    *,
    id_col: str,
    key_col: str,
    m_bits: int,
    k: int = BLOOM_K,
) -> DataFrame:
    """(id_col, bloom_hit) — True iff ALL k bit positions of the probe
    key are set: k (slot, mask) rows per probe joined against the
    broadcast bloom frame, folded with bool_and. A missing slot is a
    definite miss (left join null).

    CONTRACT: exactly one key per id. The bool_and fold groups by
    ``id_col`` alone, so an id carrying MULTIPLE distinct keys would be
    reported as a hit only if EVERY key's positions are set — not
    per-(id, key) membership (ADVICE r13). Callers probing multi-key
    ids must either deduplicate to one key first or group their own
    per-(id, key) verdicts from a distinct id."""
    rows = probes.select(
        F.col(id_col), _bloom_positions(key_col, m_bits, k)
    ).select(id_col, *_slot_mask())
    return (
        rows.join(F.broadcast(bloom), "slot", "left")
        .groupBy(id_col)
        .agg(
            F.expr("bool_and(bits IS NOT NULL AND (bits & mask) = mask)").alias(
                "bloom_hit"
            )
        )
    )


_BLOOM_MANIFEST_SCHEMA = "m_bits int, k int"


def build_bloom_index(
    keys: DataFrame,
    path: str,
    *,
    key_col: str,
    m_bits: int | None = None,
    k: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist (or ``mode='append'`` OR-merge into) a standing Bloom
    membership index: ``{path}/bits`` (≤ m_bits/32 slot rows — kilobytes
    at any corpus size) + a one-row ``{path}/manifest`` (m_bits, k).

    The incremental form the other standing indexes cannot match:
    appends never grow the table (bitwise OR into a FIXED-size array —
    zero churn, nothing to compact) and replaying a batch is exactly
    idempotent (OR is idempotent). The cost is one-way-ness: keys can
    never be removed, and the FP rate drifts up as members accumulate
    past the width's design load — re-widening is a rebuild, detected
    by comparing the manifest width to bloom_m_bits(current members).
    ``m_bits=None`` auto-sizes from the build frame's count
    (bloom_m_bits) and ``k=None`` means BLOOM_K; appends inherit both
    from the manifest and refuse an explicit mismatch. Probe parameters
    always come from the manifest (operators/standing_index)."""
    spark = keys.sparkSession
    params = resolve_params(
        spark, path, _BLOOM_MANIFEST_SCHEMA, "bloom", mode,
        {"m_bits": m_bits, "k": k}, {"k": BLOOM_K},
    )
    if mode == "append":
        new_bits = bloom_bits(keys, key_col, params["m_bits"], params["k"])
        _swap_rewrite(
            spark,
            f"{path}/bits",
            lambda df: df.unionByName(new_bits)
            .groupBy("slot")
            .agg(F.expr("bit_or(bits)").alias("bits")),
            None,
        )
        return
    if params["m_bits"] is None:
        params["m_bits"] = bloom_m_bits(keys.count())
    bloom_bits(keys, key_col, params["m_bits"], params["k"]).write.mode(
        "overwrite"
    ).parquet(f"{path}/bits")
    write_manifest(spark, path, _BLOOM_MANIFEST_SCHEMA, params)


def probe_bloom_index(
    probes: DataFrame, path: str, *, id_col: str, key_col: str
) -> DataFrame:
    """(id_col, bloom_hit) against the PERSISTED bloom index —
    parameters from the manifest, the bit frame broadcast (≤ m/32
    rows). The zero-shuffle membership tier: a probe batch never
    touches index-sized data. No false negatives; bloom-positive
    survivors confirm against the exact standing index
    (probe_dedup_index) when precision matters."""
    spark = probes.sparkSession
    manifest = require_manifest(spark, path, _BLOOM_MANIFEST_SCHEMA, "bloom")
    return bloom_probe(
        probes,
        spark.read.parquet(f"{path}/bits"),
        id_col=id_col,
        key_col=key_col,
        m_bits=manifest["m_bits"],
        k=manifest["k"],
    )


def maybe_rewiden_bloom_index(
    spark,
    path: str,
    keys: DataFrame,
    *,
    key_col: str = "ch",
    max_fill: float = 0.5,
) -> bool:
    """q254's re-widen trigger as a wired maintenance step: read the
    kilobyte bit frame, compute the realized fill ratio, and when it
    exceeds ``max_fill`` rebuild the index from ``keys`` (the exact
    membership ground truth — e.g. the standing content table) at the
    fresh auto width (bloom_m_bits). Fill 0.5 at k=3 predicts a
    fill³ = 12.5% FP rate — past the 4-bits/key design point, so the
    fixed width has drifted under its load and every probe pays the FP
    confirm cost. The check is O(m/32) rows — trivial per batch; the
    rebuild is one pass over ``keys`` (the one-way-ness trade
    build_bloom_index documents). Returns True iff rebuilt."""
    manifest = require_manifest(spark, path, _BLOOM_MANIFEST_SCHEMA, "bloom")
    n_set = (
        spark.read.parquet(f"{path}/bits")
        .agg(F.sum(F.expr("bit_count(bits)")).alias("n"))
        .head()
        .n
        or 0
    )
    if n_set / manifest["m_bits"] <= max_fill:
        return False
    build_bloom_index(keys, path, key_col=key_col, mode="overwrite")
    return True


# ---------------------------------------------------------------------------
# Standing-index compaction (round 12)
# ---------------------------------------------------------------------------

def compact_dedup_index(spark, path: str) -> dict[str, tuple[int, int]]:
    """Compact a churned standing dedup index in place: appended batches
    may re-insert content hashes / band keys already present (the
    documented membership-only append contract — duplicates cost index
    bytes, never correctness), and this rewrites each table as its
    distinct key set, preserving the hive sharding and the manifest
    untouched. Returns {table: (rows_before, rows_after)}. Probe
    verdicts are IDENTICAL before and after (left-semi membership is
    set-based — pinned by tests/test_index_compaction.py); run it in a
    maintenance window — see _swap_rewrite's race note."""
    require_manifest(spark, path, _MANIFEST_SCHEMA, "dedup")
    return {
        "content": _swap_rewrite_distinct(spark, f"{path}/content", "shard"),
        "bands": _swap_rewrite_distinct(spark, f"{path}/bands", "shard"),
    }


# ---------------------------------------------------------------------------
# Duplicated token spans — substring-level exact dedup (round 14)
# ---------------------------------------------------------------------------

DEFAULT_SPAN_L = 8  # duplicated-window width in tokens (the detector's
                    # resolution: every maximal duplicated span >= L
                    # tokens is found exactly; spans shorter than L are
                    # below the detector's floor by design)


def duplicated_token_spans(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_l: int = DEFAULT_SPAN_L,
) -> DataFrame:
    """Maximal duplicated token spans per document — substring-level
    exact dedup (the training-data rule that a long span repeated
    ANYWHERE in the corpus, including the same document, is memorizable
    boilerplate even when no whole document duplicates): every
    ``span_l``-token window is keyed by md5 of its joined tokens; a
    window is DUPLICATED iff its key occurs more than once in the
    corpus; per document, overlapping/adjacent duplicated windows merge
    into maximal spans (gaps-and-islands over window start positions —
    a break where the next start exceeds prev + span_l).

    Returns (id_col, span_start, span_end) with 1-based inclusive
    WINDOW-START positions; the span covers tokens
    [span_start, span_end + span_l - 1], i.e. span_end - span_start +
    span_l tokens.

    Scale shape: one narrow pass builds the window keys (corpus-token
    x 1 rows, no text duplication — each row is one md5), one shuffle
    groups keys to find multiplicity, one shuffle joins the duplicated
    key set back (corpus-sized on both sides — the honest distributed
    shape; no broadcast pretense), and the island merge is a per-doc
    window function over the (small) marked subset. Documents shorter
    than span_l yield no windows and no spans.

    r14 optimization: multiplicity is a count() window over the hash
    key, not a groupBy + semi-join — the join spelling re-ran the
    whole window-key build for its second leg (no ReuseExchange across
    differentially-pruned branches) and shuffled the corpus-token
    frame twice; the window spelling shuffles it once and touches the
    source once. Row set identical: both keep every window whose key
    occurs more than once."""
    from pyspark.sql.window import Window

    w = _span_windows(docs, id_col=id_col, text_col=text_col, span_l=span_l)
    marked = (
        w.withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .filter(F.col("cnt") > 1)
        .select(id_col, "pos")
    )
    return _merge_span_islands(marked, id_col=id_col, span_l=span_l)


# ---------------------------------------------------------------------------
# Standing span index — incremental substring-level dedup (round 14)
# ---------------------------------------------------------------------------

_SPAN_MANIFEST_SCHEMA = "span_l int, span_n_shards int"


def _merge_span_islands(marked: DataFrame, *, id_col: str, span_l: int) -> DataFrame:
    """Gaps-and-islands merge of marked window START positions into
    maximal spans: a break where the next start exceeds prev + span_l.
    ONE spelling for the in-query detector, the standing-index probe,
    and the trim plan. Returns (id_col, span_start, span_end)."""
    from pyspark.sql.window import Window

    order = Window.partitionBy(id_col).orderBy("pos")
    run = (
        marked.withColumn("prev", F.lag("pos").over(order))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull() | (F.col("pos") - F.col("prev") > span_l), 1
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("brk").over(order.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        run.groupBy(id_col, "island")
        .agg(F.min("pos").alias("span_start"), F.max("pos").alias("span_end"))
        .drop("island")
    )


def _span_windows(
    docs: DataFrame, *, id_col: str, text_col: str, span_l: int
) -> DataFrame:
    """(id_col, pos, h): every span_l-token window's start position and
    md5 key — ONE spelling for build and probe (duplicated_token_spans'
    window pass, factored for the standing form)."""
    t = docs.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
    return (
        t.filter(F.size("toks") >= span_l)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(1), F.size("toks") - span_l + 1)).alias("pos"),
            "toks",
        )
        .select(
            id_col,
            "pos",
            F.md5(
                F.concat_ws(" ", F.slice(F.col("toks"), F.col("pos"), span_l))
            ).alias("h"),
        )
    )


def build_span_index(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_l: int | None = None,
    n_shards: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist the standing SPAN index: ``{path}/windows`` — the
    DISTINCT md5 window keys of every ``span_l``-token window in the
    admitted corpus, hive-partitioned by md5-long shard (the content
    table's layout discipline applied to the substring modality).
    This is the largest standing index in the family (≈ one row per
    corpus token), which is exactly what distributed substring dedup
    costs: suffix structures don't shard, window-hash tables do, and
    the probe stays an O(batch-tokens) membership semi-join.

    Membership-only append contract (the family rule): appended
    batches may re-insert keys already present — bytes, never
    correctness; compact with compact_span_index. A one-row manifest
    pins (span_l, n_shards), DEFAULT_SPAN_L / 16 when unset; appends
    follow the standing-index rule (operators/standing_index.
    resolve_params): unset values come from the manifest and a mismatch
    is refused (a span_l drift would silently mark every batch window
    novel)."""
    spark = docs.sparkSession
    params = resolve_params(
        spark, path, _SPAN_MANIFEST_SCHEMA, "span", mode,
        {"span_l": span_l, "span_n_shards": n_shards},
        {"span_l": DEFAULT_SPAN_L, "span_n_shards": 16},
    )
    (
        _span_windows(docs, id_col=id_col, text_col=text_col, span_l=params["span_l"])
        .select("h")
        .distinct()
        .withColumn("shard", _index_shard(F.col("h"), params["span_n_shards"]))
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(f"{path}/windows")
    )
    if mode == "overwrite":
        write_manifest(spark, path, _SPAN_MANIFEST_SCHEMA, params)


def probe_span_index(
    incoming: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal spans of each incoming document already present in the
    STANDING corpus (build_span_index): the batch's windows semi-join
    the persisted key set on (shard, h) — probe-side shard computed
    from the key, so dynamic partition pruning can skip index
    directories for selective batches — and matching window starts
    merge gaps-and-islands into maximal spans, duplicated_token_spans'
    contract against persisted state. Returns (id_col, span_start,
    span_end); span parameters always come from the manifest."""
    spark = incoming.sparkSession
    manifest = require_manifest(spark, path, _SPAN_MANIFEST_SCHEMA, "span")
    span_l, n_shards = manifest["span_l"], manifest["span_n_shards"]
    w = _span_windows(
        incoming, id_col=id_col, text_col=text_col, span_l=span_l
    ).withColumn("shard", _index_shard(F.col("h"), n_shards))
    idx = spark.read.parquet(f"{path}/windows")
    marked = w.join(idx, ["shard", "h"], "left_semi").select(id_col, "pos")
    return _merge_span_islands(marked, id_col=id_col, span_l=span_l)


def compact_span_index(spark, path: str) -> dict[str, tuple[int, int]]:
    """Distinct-rewrite of a churned span index (the q244 swap — see
    _swap_rewrite's crash contract); probe verdicts are invariant
    (membership is set-based)."""
    require_manifest(spark, path, _SPAN_MANIFEST_SCHEMA, "span")
    return {"windows": _swap_rewrite_distinct(spark, f"{path}/windows", "shard")}


def audit_span_index(spark, path: str) -> DataFrame:
    """Layout-health rollup off the PERSISTED windows table (the q245/
    audit_semantic_index pattern for the substring modality): one
    narrow scan reporting per-shard key counts and each shard's milli
    share of the table. md5-sharding should spread keys uniformly
    (share ≈ 1000/n_shards per shard); a skewed share means the layout
    discipline broke (e.g. a non-hash key column was sharded on) and
    the probe semi-join's partition pruning would hot-spot. Returns
    (shard, n_keys, share_milli) ordered by shard."""
    require_manifest(spark, path, _SPAN_MANIFEST_SCHEMA, "span")
    occ = (
        spark.read.parquet(f"{path}/windows")
        .groupBy("shard")
        .agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    )
    total = occ.agg(F.sum("n_keys").alias("t"))
    return (
        occ.crossJoin(F.broadcast(total))
        .select(
            F.col("shard").cast("long").alias("shard"),
            "n_keys",
            F.round(F.col("n_keys") * F.lit(1000.0) / F.col("t"))
            .cast("long")
            .alias("share_milli"),
        )
        .orderBy("shard")
    )


def verify_bloom_covers_content(
    spark, index_path: str, bloom_path: str | None = None
) -> int:
    """Stale-Bloom detector for the two-tier probe contract
    (probe_dedup_index's bloom_prefilter documents the hazard: a Bloom
    sibling missing recent content hashes silently misclassifies their
    duplicates as 'new'). Probes EVERY distinct content-table hash
    through the sibling — a Bloom filter has no false negatives, so any
    miss proves missing keys (e.g. the content append committed and the
    bloom append crashed without the replay path re-running). Returns
    the uncovered-hash count: 0 means the two-tier probe is safe.
    O(index keys) work against the kilobyte broadcast bit frame — a
    maintenance-window check, the q254/q261 measure-don't-guess loop
    for the coverage invariant (the ingest's crash-replay convergence
    makes staleness unreachable in the wired loop; this check is for
    indexes maintained by hand or after a checkpoint rollback)."""
    bpath = bloom_path or f"{index_path}/bloom"
    content = spark.read.parquet(f"{index_path}/content").select("ch").distinct()
    hits = probe_bloom_index(content, bpath, id_col="ch", key_col="ch")
    return hits.filter(~F.col("bloom_hit")).count()
