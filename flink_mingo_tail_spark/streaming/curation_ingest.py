"""Streaming curation ingest — the incremental twin of q226's composed
batch pipeline (queries/dedup.curation_verdict).

Every micro-batch runs the same staged verdict the batch pipeline
runs, but against STANDING state instead of the whole corpus:

  1. quality gate       operators/quality.quality_reason — the one
                        shared spelling with q226 (stateless)
  2. exact / near dup   operators/dedup.probe_dedup_index against the
                        persisted content-hash + LSH-band index AS OF
                        BATCH START (O(batch) membership semi-joins);
                        with ``perceptual_index_path`` set, also the
                        PERCEPTUAL-DUP stage: quality passers carrying
                        a binary ``payload`` column are dHashed
                        buffer-level (operators/multimodal.dhash_arrow)
                        and probed against the GROWING persisted band
                        index (operators/perceptual_index — pigeonhole
                        band equi-join + exact popcount), reason
                        'perceptual_dup'; passers' fingerprints append
                        after commit — q247's loop, in place;
                        with ``semantic_dup_index_path`` set, also the
                        SEMANTIC-DUP stage: the GROWING corpus-side
                        sign-LSH index (expanded=False — plain keys
                        stored, the bounded batch fans its Hamming-1
                        probes), exact-cosine re-rank at
                        DEFAULT_SEM_DUP_TAU — q242's incremental
                        SemDeDup, reason 'semantic_dup'; quality
                        passers' embeddings append after commit;
                        with ``span_index_path`` set, also the
                        BOILERPLATE stage: passers whose standing-span
                        dup mass (operators/dedup.probe_span_index —
                        maximal >= span_l-token spans shared with the
                        admitted corpus) reaches ``SPAN_DUP_FRAC`` of
                        their tokens, reason 'boilerplate' — the
                        substring modality's q248-style stage; passers'
                        window keys append after commit
  3. decontamination    word 4-grams vs the PRE-BUILT eval gram set
                        (static broadcast side — the eval set is fixed
                        before ingest begins, as in production), and —
                        when a semantic index path is supplied and the
                        batch carries an ``embedding`` column — the
                        SEMANTIC stage: operators/semantic_index's
                        persisted sign-LSH eval index (expanded=True,
                        fan-out paid once at build), probed with plain
                        L-key hashes per batch row and re-ranked with
                        the exact 6-digit cosine at DEFAULT_SEM_TAU —
                        q224's flagging, standing-index form (q240's
                        equivalence proof). Reason 'contaminated_semantic'.
  4. budget cut         per-source running token totals accumulated
                        across committed batches + a within-batch
                        grouped prefix in q226's quality order
                        (n_chars DESC, doc_id)

Batch-vs-state granularity follows dedup_ingest/novelty_ingest: two
documents in the same batch do not discount each other in the dup
stages (the index is probed as of batch start), while the budget stage
IS ordered within the batch — budget is a prefix rule, not a
membership rule.

One further divergence from the batch pipeline, inherited from the
standing-index family rather than arrival order: the exact-dup hash is
``md5(text)`` over RAW text (probe_dedup_index's contract, shared with
q117/dedup_ingest), while q226 canonicalizes with
``md5(lower(trim(text)))``. On pre-normalized corpora (this fixture,
or anything that ran q67's normalization first) the two agree
everywhere; on raw text, run normalization upstream of ingest or
rebuild the index with a canonicalized text column — the knob is the
text expression fed to the index, not this module.

Index admission (what feeds the standing dup state): every
quality-passing document's content hash and band keys are appended
after the batch's classification commits — including documents the
batch itself flagged as dups (an exact dup's text is byte-identical to
its keeper's, so its hash/bands add no new members; a near-dup doc's
single 1x8 band is by definition already present). Membership-only
semantics make the append replay-idempotent without reconstructing the
crashed attempt's verdicts (novelty_ingest's stance). Whether an index
is built is decided one way for every index: it has a manifest
(operators/standing_index.read_manifest), and each batch reads the
manifest of every wired growing index ONCE, at batch start. The Bloom
backfill, the classification, the admission and the compaction check
all decide from that one reading. A stage whose index has none yet
flags nothing, and the first batch that admits rows into it bootstraps
it (``mode='overwrite'``); later batches append, with the index's
parameters taken from its manifest. The probe and build operators still
read the manifest themselves: they are public, with callers in the
query layer.

Budget state is NOT a separate store: the per-source totals are
re-derived at batch start from the COMMITTED classification outputs
(reason in ('kept', 'over_budget') — the prefix counts every doc that
reached the budget stage, exactly q226's cum_before semantics). One
source of truth; a crashed attempt's partial output directory is never
read because only committed directories are summed
(``batch_commit.committed_batch_dirs``).

Restart semantics (the dedup_ingest contract, one path under the
``batch_commit`` protocol): the schema gate, the batch-start manifest
reading and the Bloom backfill run first, the classification is
computed and committed only if the batch's output directory is not yet
committed (``commit_batch_once``), and the idempotent index appends and
the compaction check run LAST, on first run and replay alike.

Reference parity: the reference engine's streaming surface is the CDC
quorum path (MongoDBOplogSource.java); this module is north-star
extension in the same family as streaming/dedup_ingest.py and
streaming/novelty_ingest.py, composing them into the full curation
shape a 100 TB ingest actually runs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from flink_mingo_tail_spark.operators.dedup import (
    _BLOOM_MANIFEST_SCHEMA,
    _MANIFEST_SCHEMA,
    _SPAN_MANIFEST_SCHEMA,
    build_bloom_index,
    build_dedup_index,
    build_span_index,
    compact_dedup_index,
    compact_span_index,
    maybe_rewiden_bloom_index,
    probe_dedup_index,
    probe_span_index,
    tokens,
    word_shingles,
)
from flink_mingo_tail_spark.operators.multimodal import dhash_arrow
from flink_mingo_tail_spark.operators.perceptual_index import (
    _PH_MANIFEST_SCHEMA,
    build_perceptual_index,
    compact_perceptual_index,
    probe_perceptual_index,
)
from flink_mingo_tail_spark.operators.quality import quality_reason
from flink_mingo_tail_spark.operators.ranks import grouped_prefix_sum
from flink_mingo_tail_spark.operators.semantic_index import (
    _SEM_MANIFEST_SCHEMA,
    DEFAULT_SEM_DUP_TAU,
    DEFAULT_SEM_TAU,
    build_semantic_index,
    compact_semantic_index,
    probe_semantic_index,
)
from flink_mingo_tail_spark.operators.standing_index import (
    has_parked_rewrite,
    path_exists,
    read_manifest,
    restore_parked_tables,
)
from flink_mingo_tail_spark.streaming.batch_commit import (
    commit_batch_once,
    committed_batch_dirs,
)

DEFAULT_EVAL_MOD = 100   # doc_id % 100 == 0 is the held-out slice (q226's knob)
DEFAULT_BUDGET = 300     # per-source token budget (q226's knob)
DEFAULT_ROWS_PER_BAND = 8  # 1x8 high-precision split (q226's destructive-stage rule)
SPAN_DUP_FRAC = 0.5      # boilerplate: standing-span dup mass / doc tokens (q260)
_GRAM_N = 4              # decontamination gram width (q75b/q226)

_OUT_SCHEMA = "doc_id long, source string, n_toks long, reason string"


def estimated_dup_ratio(spark: SparkSession, table_path: str) -> float:
    """Cheap index-churn estimate: rows / distinct-rows on ONE shard of
    a standing-index table — O(index / n_shards) work, not a full scan.
    Shard 0 is representative by construction: churn comes from
    replayed/overlapping batch appends, which re-insert the WHOLE
    batch's keys, and md5 sharding spreads any batch uniformly across
    shards, so every shard sees the same duplicate multiplicity in
    expectation. An EMPTY shard 0 implies a tiny index (uniform
    sharding puts ~1/n_shards of the rows there), so the estimate
    falls back to the whole table rather than silently reporting 1.0
    for an index whose churn all sits in other shards; an unsharded
    table is likewise measured whole (ADVICE r13). Returns 1.0 for a
    missing/empty table (nothing to compact)."""
    if not path_exists(spark, table_path):
        return 1.0
    try:
        df = spark.read.parquet(table_path)
    except AnalysisException:
        # zero-row write: the directory exists but holds no parquet
        # footers to infer a schema from — nothing to compact
        return 1.0

    def _ratio(frame) -> float | None:
        # one job for both counts (round-13 review): rows + distinct
        row = frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(*[F.col(c) for c in frame.columns]).alias("d"),
        ).head()
        return None if row.n == 0 else row.n / row.d

    if "shard" in df.columns:
        est = _ratio(df.filter(F.col("shard") == 0))
        if est is not None:
            return est
    return _ratio(df) or 1.0


def build_eval_semantic_index(embeddings: DataFrame, path: str) -> None:
    """Persist the held-out eval slice's sign-LSH semantic index — the
    static embedding-side decontamination probe, built once before
    ingest begins (build_eval_gram_set's twin for the semantic stage).
    ``expanded=True``: the Hamming-1 fan-out is paid here, on the
    bounded eval side, so every future batch hashes plain L keys."""
    build_semantic_index(
        embeddings.filter(F.col("vec_id") % DEFAULT_EVAL_MOD == 0), path, expanded=True
    )


def build_eval_gram_set(docs: DataFrame, path: str) -> None:
    """Persist the DISTINCT word 4-grams of the held-out eval slice —
    the static decontamination probe side, built once before ingest.
    The slice is ``doc_id % DEFAULT_EVAL_MOD == 0``, the same one the
    ingest's quality gate holds out."""
    (
        docs.filter(F.col("doc_id") % DEFAULT_EVAL_MOD == 0)
        .select(F.explode(word_shingles(tokens(F.col("text")), _GRAM_N)).alias("g"))
        .distinct()
        .write.mode("overwrite")
        .parquet(path)
    )


def prior_budget_totals(
    spark: SparkSession, output_path: str, before_batch: int
) -> DataFrame:
    """(source, prior_toks) summed over the batch outputs committed
    before ``before_batch`` — every doc that reached the budget stage
    (kept OR over_budget) counts, q226's cum_before semantics."""
    dirs = committed_batch_dirs(spark, output_path, "ingest_batch=")
    paths = [p for b, p in dirs.items() if b < before_batch]
    if not paths:
        return spark.createDataFrame([], "source string, prior_toks long")
    return (
        spark.read.schema(_OUT_SCHEMA)
        .parquet(*paths)
        .filter(F.col("reason").isin("kept", "over_budget"))
        .groupBy("source")
        .agg(F.sum("n_toks").cast("long").alias("prior_toks"))
    )


def make_curation_ingest_batch_fn(
    index_path: str,
    eval_grams_path: str,
    output_path: str,
    *,
    budget: int = DEFAULT_BUDGET,
    semantic_index_path: str | None = None,
    semantic_dup_index_path: str | None = None,
    sem_dup_n_bits: int | None = 6,
    perceptual_index_path: str | None = None,
    auto_compact_ratio: float | None = None,
    bloom_prefilter: bool = False,
    span_index_path: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch body, exposed for direct replay testing (the
    dedup_ingest convention). Each batch reads the manifest of every
    wired growing index once, at batch start, and every later step
    decides "is this index built?" from that one reading.

    With ``semantic_index_path`` (the STATIC eval-side decontamination
    index) and/or ``semantic_dup_index_path`` (the GROWING corpus-side
    SemDeDup index, q242's direction) set, the batch MUST carry an
    ``embedding`` column (nullable — a doc without one simply can't hit
    semantically, q224's honest partially-embedded shape). With
    ``perceptual_index_path`` (the GROWING dHash band index, q247's
    direction) set, the batch MUST carry a binary ``payload`` column
    (nullable — same honest-partial shape). The schema gate checks both
    before anything else runs, so a replay fails the same readable way.

    ``bloom_prefilter`` maintains a Bloom membership sibling at
    ``{index_path}/bloom`` covering the content table's hashes, and
    routes every batch's exact-dup probe through it (two-tier: the
    kilobyte bit frame broadcasts, only bloom-positive hashes reach the
    exact semi-join — q252's production shape). The sibling is
    built from the content table in one pass at the start of the first
    batch that finds the dedup index without it (the second batch of a
    fresh index, or the first batch after the knob is enabled on an
    index that predates it), appended per batch after classification
    commits, and re-widened from the
    content table when its fill ratio drifts past the design load
    (maybe_rewiden_bloom_index — q254's trigger, checked each batch on
    the kilobyte frame). A crash between the content append and the
    bloom append converges when the replayed batch redoes its appends,
    as for the other indexes (the appends are idempotent: DISTINCT
    rows / bitwise OR). Classification is invariant to the knob (no Bloom
    false negatives — parity-pinned in tests/test_dedup_index.py).

    ``sem_dup_n_bits`` is the growing semantic-dup index's bucket width
    at BOOTSTRAP (later appends inherit the manifest width). The
    default 6 is the q242/q246 oracle spelling (_LSH_N_BITS); a
    PRODUCTION ingest should pass ``None`` to auto-size from the first
    batch's embedded-passer count via the codified occupancy rule
    (operators/similarity.auto_n_bits) — at fixed width 6 a
    10^5-row-per-trigger stream packs ~n/64 vectors per bucket per
    table and the probe's candidate mass goes quadratic (measured:
    the round-13 batch-size amortization probe stalled exactly here
    before this knob existed; SCALE.md round-13).

    ``auto_compact_ratio`` wires the compaction CADENCE onto the
    operators q244/q245 provide: after each batch's index appends, the
    churn is estimated on one sampled shard of the dedup index's
    content table (``estimated_dup_ratio`` — O(index/n_shards), not a
    full scan); when rows/distinct reaches the threshold, every wired
    standing index that was built at batch start is compacted before
    the next batch runs (one bootstrapped by this batch has nothing to
    compact). Between
    foreachBatch invocations IS the maintenance window the compaction
    contract asks for — no probe can race the swap because the stream
    serializes batch bodies. Classification is invariant across an
    auto-triggered compaction (same key SET before and after — pinned
    in tests/test_curation_ingest.py). RECOMMENDED DEFAULT: 1.3 —
    measured, not guessed (SCALE.md round-14: at steady 2x replay
    churn over 50 sf0.1 batches, ratio 1.3 cut total ingest wall to
    0.78x and final index bytes to 0.30x of the cadence-off run; the
    off-run's per-batch wall GROWS 7 → 32 s with accumulated churn +
    part files, the on-run's stays bounded).

    ``span_index_path`` wires the substring modality's stage
    (operators/dedup.build_span_index / probe_span_index): quality
    passers whose standing-span dup mass reaches ``SPAN_DUP_FRAC`` of
    their tokens are flagged 'boilerplate' (after the text-dup stages,
    before decontamination), and passers' window keys append after the
    batch commits — q260's loop.
    """
    needs_emb = semantic_index_path is not None or semantic_dup_index_path is not None
    needs_payload = perceptual_index_path is not None
    bloom_path = f"{index_path}/bloom"
    # every wired GROWING index: its manifest schema and its compaction
    # (the Bloom sibling has none; the static eval semantic index is not
    # a growing one — it is built before ingest begins)
    growing = [
        (path, schema, compact)
        for path, schema, compact in (
            (index_path, _MANIFEST_SCHEMA, compact_dedup_index),
            (bloom_path if bloom_prefilter else None, _BLOOM_MANIFEST_SCHEMA, None),
            (span_index_path, _SPAN_MANIFEST_SCHEMA, compact_span_index),
            (perceptual_index_path, _PH_MANIFEST_SCHEMA, compact_perceptual_index),
            (semantic_dup_index_path, _SEM_MANIFEST_SCHEMA, compact_semantic_index),
        )
        if path is not None
    ]

    def classify(batch_df: DataFrame, batch_id: int, manifests: dict) -> DataFrame:
        """The per-batch verdict (doc_id, source, n_toks, reason) against
        state as of batch start; a growing index whose batch-start
        manifest is None (bootstrap) flags nothing. No writes, no
        collects (one bounded persist on the flagged frame — see inline
        note)."""
        spark = batch_df.sparkSession
        t = tokens(F.col("text"))
        cols = [
            F.col("doc_id"),
            F.col("source"),
            F.col("n_chars"),
            F.col("text"),
            F.size(t).cast("long").alias("n_toks"),
            quality_reason(
                F.col("doc_id"), t, F.col("lang"), DEFAULT_EVAL_MOD
            ).alias("r1"),
        ]
        if needs_emb:
            cols.insert(4, F.col("embedding"))
        if needs_payload:
            cols.insert(4, F.col("payload"))
        s1 = batch_df.select(*cols)
        surv1 = s1.filter(F.col("r1").isNull())

        if manifests[index_path] is None:
            # bootstrap: no index yet (first batch) — nothing is a dup
            probed = surv1.select("doc_id", F.lit("new").alias("status"))
        else:
            # bloom_prefilter=True routes the exact-membership probe through
            # the kilobyte Bloom sibling at {index_path}/bloom (two-tier:
            # only bloom-positive hashes reach the exact semi-join) — the
            # ingest body guarantees the sibling exists and covers the
            # content table before any probe runs; classification is
            # identical either way (no Bloom false negatives)
            probed = probe_dedup_index(
                surv1, index_path, bloom_prefilter=bloom_prefilter
            ).select("doc_id", "status")

        grams = surv1.select(
            "doc_id",
            F.explode(word_shingles(tokens(F.col("text")), _GRAM_N)).alias("g"),
        )
        eval_grams = spark.read.parquet(eval_grams_path)
        cont_ids = (
            grams.join(F.broadcast(eval_grams), "g", "left_semi")
            .select("doc_id")
            .distinct()
        )

        # ONE flagged frame feeds both the budget branch and the final
        # verdict, persisted so the index semi-joins and the gram broadcast
        # join run once per batch, not once per consumer (Catalyst does not
        # CSE across join branches; review round-11). The cache is bounded
        # (O(batch) narrow rows) and reclaimed by the ContextCleaner once
        # the batch's frames go out of scope.
        flagged = (
            surv1.drop("text")
            .join(probed, "doc_id", "left")
            .join(cont_ids.withColumn("__ct", F.lit(True)), "doc_id", "left")
        )
        span_manifest = manifests.get(span_index_path)
        if span_manifest is not None:
            # BOILERPLATE stage (round 14): quality passers whose standing-
            # span dup mass (operators/dedup.probe_span_index — maximal
            # spans shared with the admitted corpus AS OF BATCH START)
            # reaches SPAN_DUP_FRAC of their tokens. Catches templated/
            # boilerplate-heavy documents that survive whole-document and
            # near dedup because their novel remainder keeps the signature
            # distinct.
            span_l = span_manifest["span_l"]
            bp_ids = (
                probe_span_index(surv1, span_index_path)
                .groupBy("doc_id")
                .agg(
                    F.sum(
                        F.col("span_end") - F.col("span_start") + F.lit(span_l)
                    ).alias("__dupt")
                )
                .join(surv1.select("doc_id", "n_toks"), "doc_id")
                .filter(F.col("__dupt") >= F.lit(SPAN_DUP_FRAC) * F.col("n_toks"))
                .select("doc_id")
                .withColumn("__bp", F.lit(True))
            )
            flagged = flagged.join(bp_ids, "doc_id", "left")
        else:
            # stage off, or bootstrap (no index yet) — nothing is boilerplate
            flagged = flagged.withColumn("__bp", F.lit(None).cast("boolean"))
        embedded = (
            surv1.filter(F.col("embedding").isNotNull()).select("doc_id", "embedding")
            if needs_emb
            else None
        )
        if manifests.get(perceptual_index_path) is not None:
            pd_ids = (
                probe_perceptual_index(
                    dhash_arrow(
                        surv1.filter(F.col("payload").isNotNull()).select(
                            F.col("doc_id").alias("media_id"), "payload"
                        )
                    ),
                    perceptual_index_path,
                    broadcast_side="probe",  # the batch is the bounded side
                )
                .filter(F.col("perceptual_hit"))
                .select(F.col("media_id").alias("doc_id"))
                .withColumn("__pd", F.lit(True))
            )
            flagged = flagged.join(pd_ids, "doc_id", "left")
        else:
            # stage off, or bootstrap (no index yet) — nothing is a dup
            flagged = flagged.withColumn("__pd", F.lit(None).cast("boolean"))
        if manifests.get(semantic_dup_index_path) is not None:
            sd_ids = (
                probe_semantic_index(
                    embedded,
                    semantic_dup_index_path,
                    id_col="doc_id",
                    tau=DEFAULT_SEM_DUP_TAU,
                    broadcast_side="probe",  # the batch is the bounded side
                )
                .filter(F.col("semantic_hit"))
                .select("doc_id")
                .withColumn("__sd", F.lit(True))
            )
            flagged = flagged.join(sd_ids, "doc_id", "left")
        else:
            # stage off, or bootstrap (no index yet) — nothing is a dup
            flagged = flagged.withColumn("__sd", F.lit(None).cast("boolean"))
        if semantic_index_path is not None:
            sem_ids = (
                probe_semantic_index(
                    embedded,
                    semantic_index_path,
                    id_col="doc_id",
                    tau=DEFAULT_SEM_TAU,
                    broadcast_side="index",  # eval index is the bounded side
                )
                .filter(F.col("semantic_hit"))
                .select("doc_id")
                .withColumn("__sem", F.lit(True))
            )
            flagged = flagged.join(sem_ids, "doc_id", "left")
        else:
            flagged = flagged.withColumn("__sem", F.lit(None).cast("boolean"))
        if needs_emb:
            flagged = flagged.drop("embedding")
        if needs_payload:
            flagged = flagged.drop("payload")
        flagged = flagged.persist()
        gate = flagged.filter(
            (F.col("status") == "new")
            & F.col("__bp").isNull()
            & F.col("__pd").isNull()
            & F.col("__sd").isNull()
            & F.col("__ct").isNull()
            & F.col("__sem").isNull()
        ).select("doc_id", "source", "n_chars", "n_toks")
        # within-batch prefix in q226's quality order; prior batches' totals
        # join in as a per-source offset (broadcast: |sources| rows)
        value = F.when(
            (F.col("doc_id") < 0)
            | (F.col("doc_id") >= F.lit(1 << 34))
            | (F.col("n_chars") < 0)
            | (F.col("n_chars") >= F.lit(1 << 29)),
            F.expr(
                "raise_error('curation_ingest: packed order key domain exceeded')"
            ).cast("long"),
        ).otherwise((-F.col("n_chars")) * F.lit(1 << 34) + F.col("doc_id"))
        p = grouped_prefix_sum(
            gate,
            ["source"],
            value,
            {"cum_before": F.col("n_toks")},
            width=1 << 34,
            inclusive=False,
        )
        prior_totals = prior_budget_totals(spark, output_path, batch_id)
        ob_ids = (
            p.join(F.broadcast(prior_totals), "source", "left")
            .filter(
                F.col("cum_before") + F.coalesce(F.col("prior_toks"), F.lit(0))
                >= budget
            )
            .select("doc_id")
        )
        reason = F.coalesce(
            F.col("r1"),
            F.when(F.col("status") == "exact_dup", "exact_dup"),
            F.when(F.col("status") == "near_dup", "near_dup"),
            F.when(F.col("__bp"), "boilerplate"),
            F.when(F.col("__pd"), "perceptual_dup"),
            F.when(F.col("__sd"), "semantic_dup"),
            F.when(F.col("__ct"), "contaminated"),
            F.when(F.col("__sem"), "contaminated_semantic"),
            F.when(F.col("__ob"), "over_budget"),
            F.lit("kept"),
        )
        return (
            s1.select("doc_id", "source", "n_toks", "r1")
            .join(
                flagged.select(
                    "doc_id", "status", "__bp", "__pd", "__sd", "__ct", "__sem"
                ),
                "doc_id",
                "left",
            )
            .join(ob_ids.withColumn("__ob", F.lit(True)), "doc_id", "left")
            .select("doc_id", "source", "n_toks", reason.alias("reason"))
        )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # The one schema gate, up front: it runs before
        # commit_batch_once, so a replay of a committed batch (which
        # skips the classification) fails with the same readable error
        # as a first run, not as a raw AnalysisException from
        # append_quality_passers (ADVICE round 12).
        if needs_emb and "embedding" not in batch_df.columns:
            raise ValueError(
                "a semantic index path is set but the batch has no 'embedding' "
                "column — join the embeddings onto the stream upstream of ingest"
            )
        if needs_payload and "payload" not in batch_df.columns:
            raise ValueError(
                "a perceptual index path is set but the batch has no 'payload' "
                "column — join the media payloads onto the stream upstream of ingest"
            )
        # a rewrite that crashed between its two renames left a table
        # parked under another name: put it back before any probe reads
        # it (a replay of this batch restores the same way)
        for path, _, _ in growing:
            restore_parked_tables(spark, path)
        # the batch-start reading of every wired growing index
        manifests = {
            path: read_manifest(spark, path, schema) for path, schema, _ in growing
        }

        def append_quality_passers() -> None:
            # every wired growing index admits the same population, the
            # batch's quality passers, AFTER the classification commits
            # (membership-monotone, so a replay can redo it blindly); an
            # index not built at batch start is bootstrapped by this append
            def mode(path: str) -> str:
                return "overwrite" if manifests[path] is None else "append"

            t = tokens(F.col("text"))
            passers = batch_df.filter(
                quality_reason(
                    F.col("doc_id"), t, F.col("lang"), DEFAULT_EVAL_MOD
                ).isNull()
            )
            if passers.limit(1).count() == 0:
                return
            build_dedup_index(
                passers,
                index_path,
                rows_per_band=None if manifests[index_path] else DEFAULT_ROWS_PER_BAND,
                mode=mode(index_path),
            )
            if manifests.get(bloom_path) is not None:
                # the sibling, once the batch-start backfill has built it,
                # takes this batch's hashes; then the kilobyte fill check
                # decides whether the width drifted past its design load
                build_bloom_index(
                    passers.select(F.md5(F.col("text")).alias("ch")).distinct(),
                    bloom_path,
                    key_col="ch",
                    mode="append",
                )
                maybe_rewiden_bloom_index(
                    spark,
                    bloom_path,
                    spark.read.parquet(f"{index_path}/content").select("ch"),
                )
            if span_index_path is not None:
                build_span_index(passers, span_index_path, mode=mode(span_index_path))
            if perceptual_index_path is not None:
                # q247's loop, in place. Emptiness is checked on the RAW
                # payload column so the Arrow dHash pass runs once per
                # batch, inside the build, never a second time just to
                # count (round-13 review).
                with_payload = passers.filter(F.col("payload").isNotNull()).select(
                    F.col("doc_id").alias("media_id"), "payload"
                )
                if with_payload.limit(1).count() > 0:
                    build_perceptual_index(
                        dhash_arrow(with_payload),
                        perceptual_index_path,
                        mode=mode(perceptual_index_path),
                    )
            if semantic_dup_index_path is None:
                return
            # q242's loop, in place: passers with an embedding
            emb = passers.filter(F.col("embedding").isNotNull()).select(
                "doc_id", F.col("embedding")
            )
            if emb.limit(1).count() == 0:
                return
            build_semantic_index(
                emb,
                semantic_dup_index_path,
                id_col="doc_id",
                # bootstrap resolves the width (None = auto-size from
                # THIS batch's count); appends inherit the manifest's
                # resolved width — build_semantic_index's contract
                n_bits=None if manifests[semantic_dup_index_path] else sem_dup_n_bits,
                expanded=False,
                mode=mode(semantic_dup_index_path),
            )

        def maybe_compact() -> None:
            # auto-compaction cadence: one sampled-shard churn estimate
            # per batch; compact every wired index that was built at batch
            # start in the inter-batch maintenance window when it trips
            # (membership-only key sets, so verdicts are invariant across
            # the swap)
            if auto_compact_ratio is None or manifests[index_path] is None:
                return  # off, or bootstrapped by this batch: nothing to compact
            # a parked copy means a prior compaction crashed mid-swap and
            # THIS loop's appends may since have recreated the table with
            # only recent rows — force the reconciling rewrite now
            # (_swap_rewrite's reconcile-by-append entry folds the parked
            # copy back in) instead of waiting for a ratio that a
            # near-empty recreated table will never trip (round-13 review)
            compactable = [(path, c) for path, _, c in growing if c is not None]
            if not any(has_parked_rewrite(spark, path) for path, _ in compactable) and (
                estimated_dup_ratio(spark, f"{index_path}/content") < auto_compact_ratio
            ):
                return
            for path, compact in compactable:
                if manifests[path] is not None:
                    compact(spark, path)

        if (
            bloom_prefilter
            and manifests[index_path] is not None
            and manifests[bloom_path] is None
        ):
            # the one place the Bloom sibling is bootstrapped: from the
            # content table, before the first probe that uses it — at the
            # second batch of a fresh index, or at the first batch after
            # the knob is enabled on an index that predates the sibling
            build_bloom_index(
                spark.read.parquet(f"{index_path}/content").select("ch"),
                bloom_path,
                key_col="ch",
                mode="overwrite",
            )
            manifests[bloom_path] = read_manifest(
                spark, bloom_path, _BLOOM_MANIFEST_SCHEMA
            )
        commit_batch_once(
            spark,
            f"{output_path}/ingest_batch={batch_id}",
            lambda: classify(batch_df, batch_id, manifests),
        )
        append_quality_passers()
        maybe_compact()

    return ingest
