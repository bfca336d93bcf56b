"""The standing-index protocol shared by the six persisted index
families: dedup, Bloom and span (operators/dedup.py), semantic
(operators/semantic_index.py), perceptual (operators/perceptual_index.py)
and novelty (streaming/novelty_ingest.py).

Every standing index lives under one directory and records the
parameters it was built with in a one-row ``{path}/manifest`` parquet
table. Probes, appends, compaction and audits take their parameters
from that manifest, never from the caller: a silently mismatched
sharding, banding or plane seed would classify everything as 'new'.
This module owns the manifest:

* ``read_manifest`` — the parameters, or None when the index has no
  manifest (it was never built). Any other failure raises: a transient
  IO error read as "not built" would let a caller bootstrap over a live
  index or override its real parameters, and a manifest that stores
  another family's columns is refused (``wrong index family?``).
* ``require_manifest`` — the same, but a missing manifest raises
  ``no {family} index manifest at …`` (probes, compaction, audits).
* ``resolve_params`` — the one build/append rule. ``overwrite`` fills
  every parameter the caller left as None from the family defaults;
  ``append`` refuses a missing manifest, takes every None parameter
  from the manifest and refuses any explicit value that contradicts it.
* ``write_manifest`` — the row an ``overwrite`` build ends with.
* ``_swap_rewrite`` / ``_swap_rewrite_distinct`` — the crash-safe
  in-place table rewrite behind compaction and the Bloom OR-merge;
  ``restore_parked_tables`` puts back a table a crashed rewrite left
  parked under another name, and ``has_parked_rewrite`` spots a parked
  copy left beside a present table.

Manifests are parquet tables, and every file access goes through the
JVM Hadoop FileSystem (``path_exists``, which the per-batch commit
protocol in streaming/batch_commit.py also uses, and the manifest read
itself), so the same code runs on local, HDFS and object-store paths.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

# the names _swap_rewrite parks a table's copy under while it swaps, and
# the scratch name it writes the rewritten table to
_PARKED_SUFFIXES = (".compact.aside", ".compact.old")
_TMP_SUFFIX = ".compact.tmp"


def _hadoop_path(spark: SparkSession, path: str):
    """(Hadoop Path, FileSystem) for ``path`` — the package's one
    FileSystem handle."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    return jpath, jpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001


def path_exists(spark: SparkSession, path: str) -> bool:
    """Filesystem-scheme-agnostic existence check, no driver-side open()."""
    jpath, fs = _hadoop_path(spark, path)
    return bool(fs.exists(jpath))


def read_manifest(spark: SparkSession, path: str, schema: str) -> dict | None:
    """The manifest of the index at ``path``, or None when
    ``{path}/manifest`` holds no data file or no row (the index was
    never built, or an overwrite crashed before its commit), so the next
    build bootstraps again. A manifest whose stored columns are not
    exactly those of the family's ``schema`` is another family's index
    and raises here rather than downstream. The one-row file is read on
    the driver, so a read costs no Spark job."""
    jglob, fs = _hadoop_path(spark, f"{path}/manifest/part-*")
    parts = fs.globStatus(jglob)
    if not parts:
        return None
    io_utils = spark._jvm.org.apache.commons.io.IOUtils  # noqa: SLF001
    stream = fs.open(parts[0].getPath())
    try:
        data = io_utils.toByteArray(stream)
    finally:
        stream.close()
    # imported here, not at module level: streaming/apply.py imports this
    # module for its FileSystem handle and reads no manifest
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(pa.BufferReader(data))
    if set(table.column_names) != set(StructType.fromDDL(schema).fieldNames()):
        raise ValueError(
            f"manifest at {path!r} stores columns {table.column_names}, not "
            f"the expected schema ({schema!r}) — wrong index family?"
        )
    rows = table.to_pylist()
    return rows[0] if rows else None


def require_manifest(spark: SparkSession, path: str, schema: str, family: str) -> dict:
    """``read_manifest``, raising when the index has no manifest."""
    manifest = read_manifest(spark, path, schema)
    if manifest is None:
        raise ValueError(f"no {family} index manifest at {path!r}")
    return manifest


def resolve_params(
    spark: SparkSession,
    path: str,
    schema: str,
    family: str,
    mode: str,
    params: dict,
    defaults: dict,
) -> dict:
    """The parameters a build in ``mode`` writes with. ``params`` maps
    manifest columns to the caller's values (None = not given).
    ``overwrite`` takes each None from ``defaults`` (a family may leave
    a default None and size it from the data itself); ``append`` takes
    each None from the manifest and refuses a missing manifest or an
    explicit value that contradicts it — mixing parameters in one index
    would misroute its probe joins."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be 'overwrite' or 'append', got {mode!r}")
    if mode == "overwrite":
        return {n: defaults.get(n) if v is None else v for n, v in params.items()}
    existing = read_manifest(spark, path, schema)
    if existing is None:
        raise ValueError(
            f"cannot append to {path!r}: no manifest found "
            "(build with mode='overwrite' first)"
        )
    resolved = {n: existing[n] if v is None else v for n, v in params.items()}
    if resolved != existing:
        raise ValueError(
            f"{family} index at {path!r} was built with {existing}, "
            f"refusing to append with {resolved}"
        )
    return resolved


def write_manifest(spark: SparkSession, path: str, schema: str, params: dict) -> None:
    """Persist ``params`` as the one-row ``{path}/manifest`` table."""
    spark.createDataFrame([params], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/manifest")


def _restore_parked_table(spark: SparkSession, path: str) -> None:
    """``_swap_rewrite``'s entry restore: when the table at ``path`` is
    missing because a rewrite crashed between its two renames, rename
    back the newest parked copy — ``{path}.compact.aside``, else the
    legacy ``{path}.compact.old``, else a COMPLETE ``{path}.compact.tmp``
    (``_SUCCESS`` present). Raises when nothing can be restored."""
    jpath, fs = _hadoop_path(spark, path)
    if fs.exists(jpath):
        return
    jvm = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    for suffix in _PARKED_SUFFIXES:
        parked = jvm(f"{path}{suffix}")
        if fs.exists(parked):
            if not fs.rename(parked, jpath):
                raise IOError(f"compaction: could not restore {path} from {parked}")
            return
    tmp = f"{path}{_TMP_SUFFIX}"
    if not fs.exists(jvm(f"{tmp}/_SUCCESS")):
        raise IOError(
            f"compaction: {path} is missing and no {path}.compact.aside, "
            f"{path}.compact.old, or complete {tmp} exists to recover from"
        )
    if not fs.rename(jvm(tmp), jpath):
        raise IOError(f"compaction: could not restore {path} from {tmp}")


def restore_parked_tables(spark: SparkSession, index_path: str) -> None:
    """Put back every table of the index at ``index_path`` that a
    rewrite which crashed between its two renames left parked with no
    table under its own name, so that a probe finds it. A parked copy
    beside a present table is left for the next rewrite to fold in."""
    jpath, fs = _hadoop_path(spark, index_path)
    if not fs.exists(jpath):
        return
    tables = {
        name[: -len(suffix)]
        for name in (st.getPath().getName() for st in fs.listStatus(jpath))
        for suffix in (*_PARKED_SUFFIXES, _TMP_SUFFIX)
        if name.endswith(suffix)
    }
    for table in sorted(tables):
        _restore_parked_table(spark, f"{index_path}/{table}")


def has_parked_rewrite(spark: SparkSession, index_path: str) -> bool:
    """Whether a table of the index at ``index_path`` has a copy parked
    by a ``_swap_rewrite`` that crashed mid-swap (a child named
    ``{table}.compact.aside`` or ``{table}.compact.old``). The next
    rewrite of that table folds the parked copy back in."""
    jpath, fs = _hadoop_path(spark, index_path)
    return bool(fs.exists(jpath)) and any(
        st.getPath().getName().endswith(_PARKED_SUFFIXES) for st in fs.listStatus(jpath)
    )


def _swap_rewrite(
    spark, path: str, transform, partition_col: str | None
) -> tuple[int, int]:
    """Rewrite a standing-index table as ``transform(current_rows)``
    via a tmp-sibling swap — Spark cannot overwrite a parquet directory
    it is reading. ``transform`` is a pure DataFrame→DataFrame function
    (DISTINCT for compaction; a union + bit_or re-aggregate for the
    Bloom OR-merge) that must be IDEMPOTENT UNDER ROW DUPLICATION —
    transform(df ∪ df') == transform(df) whenever df' ⊆ df — which
    every membership/OR-monotone index table satisfies. That property
    is what makes the protocol below loss-free at EVERY crash point.

    Protocol (round-14, replacing the round-13 delete-before-rename-in
    window ADVICE flagged): RECONCILE parked siblings first, then a
    clean swap whose only deletes happen after rename-in.

    1. Entry restore (``_restore_parked_table``): if ``path`` is
       missing, rename back the newest parked canonical —
       ``{path}.compact.aside`` (pre-swap copy from a crash between the
       two renames), else the legacy ``{path}.compact.old``, else a
       COMPLETE ``{path}.compact.tmp`` (``_SUCCESS`` present). The
       curation ingest runs the same restore at batch start
       (``restore_parked_tables``), before its probes read the table.
    2. Reconcile-by-append: for each surviving sibling (aside, legacy
       old, complete tmp), APPEND its rows into ``path`` and only then
       delete it. A crash between append and delete re-appends on the
       next run — duplicate rows, which the transform collapses — and
       a crash mid-append leaves the sibling intact (parquet job
       commit), so no interleaving of crashes and concurrent ingest
       appends can lose membership: a sibling is never removed until
       its rows are durably IN ``path``. This subsumes the round-13
       union-at-read fix and closes its residual window (the merged
       rewrite living only in scratch tmp while the parked copy was
       already deleted).
    3. Swap: write transform(path) → ``.compact.tmp``, rename
       ``path`` → ``.compact.aside``, rename tmp → ``path``, delete
       aside. Each FS boolean is asserted; the rename-in failure
       handler restores aside → path and reports the TRUE table state
       if even the restore fails.

    On non-atomic filesystems a probe racing the swap can still observe
    a brief missing-directory window between the two renames — run
    compaction in a maintenance window; verdicts are identical on
    either side because both tables hold the same key SET. Returns
    (rows_before, rows_after); rows_before counts the RECONCILED
    pre-transform table (including any recovery re-appends)."""
    jvm = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    jvm_path, fs = _hadoop_path(spark, path)
    aside_str, old_str = (f"{path}{suffix}" for suffix in _PARKED_SUFFIXES)
    tmp = f"{path}{_TMP_SUFFIX}"
    aside, old, jvm_tmp = jvm(aside_str), jvm(old_str), jvm(tmp)

    def _tmp_complete() -> bool:
        return fs.exists(jvm_tmp) and fs.exists(jvm(f"{tmp}/_SUCCESS"))

    def _append_into_path(src: str) -> None:
        writer = spark.read.parquet(src).write.mode("append")
        if partition_col is not None:
            writer = writer.partitionBy(partition_col)
        writer.parquet(path)

    _restore_parked_table(spark, path)
    # reconcile surviving siblings into path (append, THEN delete — a
    # sibling is never removed until its rows are durably in path)
    for sib_jvm, sib_str in ((aside, aside_str), (old, old_str)):
        if fs.exists(sib_jvm):
            _append_into_path(sib_str)
            if not fs.delete(sib_jvm, True):
                raise IOError(f"compaction: could not clear reconciled {sib_str}")
    if _tmp_complete():
        # a complete rewrite left in scratch by a crash before its
        # rename-in: its rows may be the only copy of membership that
        # was reconciled from a since-deleted sibling — fold it in too
        _append_into_path(tmp)
    if fs.exists(jvm_tmp) and not fs.delete(jvm_tmp, True):
        raise IOError(f"compaction: could not clear stale {tmp}")

    before_df = spark.read.parquet(path)
    rows_before = before_df.count()
    compacted = transform(before_df)
    writer = compacted.write.mode("overwrite")
    if partition_col is not None:
        writer = writer.partitionBy(partition_col)
    writer.parquet(tmp)
    if not fs.rename(jvm_path, aside):
        raise IOError(f"compaction: rename-aside failed for {path}")
    if not fs.rename(jvm_tmp, jvm_path):
        # restore the original before surfacing the error — and report
        # the TRUE table state if even the restore fails
        if fs.rename(aside, jvm_path):
            raise IOError(f"compaction: rename-in failed for {path}; original restored")
        raise IOError(
            f"compaction: rename-in failed for {path} AND the restore rename "
            f"failed — table is parked at {aside_str} (re-run to recover)"
        )
    if not fs.delete(aside, True):
        raise IOError(f"compaction: could not delete {aside_str}")
    return rows_before, spark.read.parquet(path).count()


def _swap_rewrite_distinct(
    spark, path: str, partition_col: str | None
) -> tuple[int, int]:
    """Compaction's transform: rewrite as the DISTINCT row set (the
    membership-only append contract's churn remover)."""
    return _swap_rewrite(spark, path, lambda df: df.distinct(), partition_col)
