"""A stat-checked directory refresh for the zip archives on ``sys.path``.

Spark starts every Python task with
``pyspark.worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``: each pandas-UDF and
``applyInPandasWithState`` task, each Python data source read or write
task, and each driver-side writer-factory and sink-commit call. Spark's
Python workers import PySpark from ``$SPARK_HOME/python/lib/pyspark.zip``
(and py4j from its own zip), so ``sys.path_importer_cache`` holds one
``zipimport.zipimporter`` per imported PySpark subpackage (16 in a worker
that has run a pandas UDF). On CPython 3.12 and older,
``zipimporter.invalidate_caches`` re-reads the whole archive directory,
in every one of those instances: 110-165 ms of CPU per task start for
pyspark.zip's 1,328 entries, timed inside a Spark Python worker on a
4-vCPU box (CPython 3.11). With the check below the first call costs
one read per archive (about 60 ms) and each later call 0.10-0.15 ms.
CPython 3.13 drops the shared entry instead and re-reads lazily on the
next lookup, so ``install`` leaves 3.13 and later (and other
implementations) alone.

``install`` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_size, st_mtime_ns)``
differ from the values seen just before its last read, and otherwise
points the instance at the shared ``zipimport._zip_directory_cache``
entry that read filled. That is as safe as the re-read it replaces:

* A re-read is a snapshot too: an archive rewritten after the call is
  not seen until the next call either. The stamp is taken BEFORE the
  read it labels, so a rewrite that lands during the read leaves a
  stamp older than the file and the next call reads again.
* Size and modification time are the rule CPython already trusts for
  imports: a source file's cached bytecode is reused while both match,
  and a directory's cached listing while its mtime matches.
* When ``os.stat`` fails (the archive was removed or cannot be read),
  the original method runs and clears the entry exactly as before.

The package ``__init__`` imports this module first, so every worker that
unpickles package code (the quorum function, the ``es_bulk`` writer and
data source, the ``oplog_sim`` reader) installs it; a fresh worker's
first task still pays one full refresh, because Spark refreshes before
it unpickles the task. ``sys.path`` and ``SPARK_HOME`` are left alone:
the zip is the PySpark build that matches the JVM.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_size, st_mtime_ns) taken just before its last read
_stamps: dict[str, tuple[int, int]] = {}
_original = zipimport.zipimporter.invalidate_caches
# where invalidate_caches re-reads every archive eagerly
_EAGER = sys.implementation.name == "cpython" and sys.version_info < (3, 13)


def _invalidate_caches(self) -> None:
    """Reload the archive's directory only when the archive changed."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _original(self)
        return
    stamp = (st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)  # noqa: SLF001
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _original(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Put the stat-checked refresh in place where the stock one re-reads
    eagerly. Installing twice changes nothing."""
    if _EAGER:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


install()
