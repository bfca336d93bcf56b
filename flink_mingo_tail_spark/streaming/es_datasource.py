"""``es_bulk`` — the external-index sink as a Python DataSource WRITER
(Spark 4 ``pyspark.sql.datasource`` API), batch + streaming.

Each task ships its partition as chunked ``_bulk`` requests
executor-side with retry/backoff (`ESBulkBatchWriter._post_with_retry`),
and the V2 writer **commit protocol** makes the driver's per-batch commit
the publish point (reference parity target:
ElasticsearchEmbeddedNodeSink.java:47-66, which had neither batching
nor any commit barrier):

* each partition's ``write()`` returns a typed commit message
  (docs / requests / bytes shipped) instead of ``None``;
* the driver calls ``commit(messages)`` only after EVERY partition
  succeeded — the sink's publish point. Here it POSTs ``/_refresh``,
  so with ``refresh_interval=-1`` on the index (the standard bulk-load
  setting) documents become searchable per-batch, all-or-nothing-ish,
  rather than trickling in mid-job;
* a failed job routes to ``abort(messages)`` with the messages of the
  partitions that DID finish — the hook for dead-lettering /
  cleanup-by-batch-id. Failed tasks' writes may still have indexed
  documents; because every action carries ``_id = h``, the NEXT
  successful attempt upserts them idempotently, so abort needs no
  delete pass.

Scale shape: a per-partition streaming chunker, no driver collect
between source and sink, nothing driver-side but kilobyte commit messages,
one ``/_refresh`` per job/micro-batch (constant cost). The commit
messages double as the sink's observability feed (doc/request counts
per batch without per-record logging — same philosophy as
`pipeline.instrument`).

Hermetic mode: ``transport_dir`` redirects every POST to one file per
request under that directory (requests as ``req-*.ndjson``, commits as
``commit-*.json``, aborts as ``abort-*.json``) so tests and offline
runs exercise the full protocol with zero network; absent that option
the writer POSTs to ``{url}/_bulk`` through the same retry/backoff
policy. This module is the only code that knows the ``_bulk`` wire
format and that policy.

Usage::

    spark.dataSource.register(ESBulkDataSource)
    df.write.format("es_bulk").option("url", "http://es:9200")
      .option("index", "oplog-index").mode("append").save()
    # or: df.writeStream.format("es_bulk").option(...).start()
"""

from __future__ import annotations

import json
import os
import random
import time
import uuid
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import Row, StructType

#: HTTP statuses worth retrying: throttle (429) and transient
#: gateway/overload conditions. 4xx other than 429 means the payload or
#: mapping is wrong — retrying can't fix it, fail the batch immediately.
RETRYABLE_STATUSES = frozenset({429, 502, 503, 504})


@dataclass
class BulkCommit(WriterCommitMessage):
    """Per-partition receipt: what this task shipped. Must be picklable
    (it rides back to the driver for commit/abort)."""

    n_docs: int
    n_requests: int
    n_bytes: int


def es_bulk_payload(rows: list[dict], index: str) -> str:
    """NDJSON `_bulk` body: one action line + one source line per doc,
    `{"data": doc}` envelope (ElasticsearchEmbeddedNodeSink.java:60-63)."""
    lines: list[str] = []
    for row in rows:
        lines.append(json.dumps({"index": {"_index": index, "_id": str(row.get("h"))}}))
        lines.append(json.dumps({"data": row}, default=str))
    return "\n".join(lines) + "\n"


def _http_post(url: str, body: bytes, content_type: str) -> int:
    from urllib.request import Request, urlopen

    req = Request(url, data=body, headers={"Content-Type": content_type})
    with urlopen(req) as resp:  # noqa: S310 (explicit live-cluster adapter)
        return resp.status


def _file_post(transport_dir: str, url: str, body: bytes, content_type: str) -> int:
    fn = os.path.join(transport_dir, f"req-{uuid.uuid4().hex}.ndjson")
    with open(fn, "wb") as f:
        f.write((url + "\n" + content_type + "\n").encode() + body)
    return 200


class ESBulkBatchWriter(DataSourceWriter):
    """The one ``es_bulk`` writer: executor-side ``write`` and the
    driver-side publish/abort of the commit protocol.
    ``ESBulkStreamWriter`` only adds the ``batchId`` signatures.

    The writer object is pickled into every task, so all configuration
    is plain-data attributes parsed once from the DataSource options."""

    def __init__(self, options) -> None:
        self.url = options.get("url", "http://localhost:9200")
        self.index = options.get("index", "oplog-index")
        self.max_docs = int(options.get("max_docs_per_request", 5_000))
        self.max_attempts = int(options.get("max_attempts", 5))
        self.backoff_base = float(options.get("backoff_base_sec", 0.5))
        self.backoff_cap = float(options.get("backoff_cap_sec", 30.0))
        self.transport_dir = options.get("transport_dir")

    def _post(self, url: str, body: bytes, content_type: str) -> int:
        if self.transport_dir:
            return _file_post(self.transport_dir, url, body, content_type)
        return _http_post(url, body, content_type)

    def _post_with_retry(self, path: str, payload: bytes, content_type: str, action: str) -> None:
        """One logical POST to ``{url}/{path}`` with capped exponential
        backoff + equal jitter on transient failures (RETRYABLE_STATUSES /
        dropped connections); raises on a non-retryable status or after
        ``max_attempts``. Retries are safe because every bulk action
        carries an explicit ``_id`` (idempotent upsert). Errors name the
        ``action`` because the ``/_refresh`` of ``commit`` goes through
        here too."""
        url = f"{self.url}/{path}"
        headline = f"ES request failed ({action} {self.index})"
        for attempt in range(1, self.max_attempts + 1):
            failure: str | None = None
            try:
                status = self._post(url, payload, content_type)
            except OSError as exc:  # dropped connection, DNS blip
                failure = f"transport error: {exc}"
            else:
                if status < 300:
                    return
                failure = f"HTTP {status}"
                if status not in RETRYABLE_STATUSES:
                    raise RuntimeError(f"{headline}: non-retryable {failure}")
            if attempt == self.max_attempts:
                raise RuntimeError(f"{headline} after {self.max_attempts} attempts: {failure}")
            # capped exponential backoff, equal jitter: delay in
            # [base*2^(a-1)/2, base*2^(a-1)] so a fleet of tasks throttled
            # together doesn't re-stampede in lockstep
            ceiling = min(self.backoff_cap, self.backoff_base * (2 ** (attempt - 1)))
            time.sleep(ceiling * (0.5 + 0.5 * random.random()))

    def write(self, iterator: Iterator[Row]) -> BulkCommit:
        """Executor-side: stream the partition through a bounded buffer,
        one `_bulk` POST per ``max_docs`` chunk (never materializing the
        partition), each through the retry/backoff policy."""
        n_docs = n_requests = n_bytes = 0

        def flush(chunk: list[dict]) -> None:
            nonlocal n_requests, n_bytes
            payload = es_bulk_payload(chunk, self.index).encode()
            self._post_with_retry("_bulk", payload, "application/x-ndjson", "index")
            n_requests += 1
            n_bytes += len(payload)

        buf: list[dict] = []
        for row in iterator:
            buf.append(row.asDict(recursive=True))
            n_docs += 1
            if len(buf) >= self.max_docs:
                flush(buf)
                buf = []
        if buf:
            flush(buf)
        return BulkCommit(n_docs=n_docs, n_requests=n_requests, n_bytes=n_bytes)

    def commit(self, messages, batch_id: int | None = None) -> None:
        """Driver-side publish point — runs only after every partition
        returned a commit message. Totals the receipts and refreshes the
        index so the batch becomes searchable as one unit."""
        total = {
            "batch_id": batch_id,
            "n_partitions": sum(1 for m in messages if m is not None),
            "n_docs": sum(m.n_docs for m in messages if m is not None),
            "n_requests": sum(m.n_requests for m in messages if m is not None),
            "n_bytes": sum(m.n_bytes for m in messages if m is not None),
        }
        if self.transport_dir:
            tag = "final" if batch_id is None else f"{batch_id:012d}"
            with open(os.path.join(self.transport_dir, f"commit-{tag}.json"), "w") as f:
                json.dump(total, f)
        else:
            self._post_with_retry(f"{self.index}/_refresh", b"", "application/json", "refresh")

    def abort(self, messages, batch_id: int | None = None) -> None:
        """Indexed-but-uncommitted documents are upsert-idempotent by
        ``_id``, so abort only records the receipts for observability
        (and, in hermetic mode, for the protocol tests)."""
        if self.transport_dir:
            tag = "final" if batch_id is None else f"{batch_id:012d}"
            done = [m.n_docs for m in messages if m is not None]
            with open(os.path.join(self.transport_dir, f"abort-{tag}.json"), "w") as f:
                json.dump({"batch_id": batch_id, "partitions_completed": done}, f)


class ESBulkStreamWriter(ESBulkBatchWriter, DataSourceStreamWriter):
    """Per-micro-batch commit: the receipt and abort files carry the
    batch id."""

    def commit(self, messages, batchId: int) -> None:  # noqa: N803 (API name)
        super().commit(messages, batch_id=batchId)

    def abort(self, messages, batchId: int) -> None:  # noqa: N803 (API name)
        super().abort(messages, batch_id=batchId)


class ESBulkDataSource(DataSource):
    """``spark.dataSource.register(ESBulkDataSource)``; then write with
    ``format("es_bulk")`` in batch or streaming. Options: url, index,
    max_docs_per_request, max_attempts, backoff_base_sec,
    backoff_cap_sec, transport_dir (hermetic file mode)."""

    @classmethod
    def name(cls) -> str:
        return "es_bulk"

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return ESBulkBatchWriter(self.options)

    def streamWriter(self, schema: StructType, overwrite: bool) -> DataSourceStreamWriter:
        return ESBulkStreamWriter(self.options)
