"""``es_bulk`` — the external-index sink as a Python DataSource WRITER
(Spark 4 ``pyspark.sql.datasource`` API), batch + streaming.

Each task ships its partition as chunked ``_bulk`` requests
executor-side with retry/backoff (`connectors.post_with_retry`), and
the V2 writer **commit protocol** makes the driver's per-batch commit
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
the writer POSTs to ``{url}/_bulk`` with the shared retry/backoff
policy (`connectors.post_with_retry`).

Usage::

    spark.dataSource.register(ESBulkDataSource)
    df.write.format("es_bulk").option("url", "http://es:9200")
      .option("index", "oplog-index").mode("append").save()
    # or: df.writeStream.format("es_bulk").option(...).start()
"""

from __future__ import annotations

import json
import os
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

from flink_mingo_tail_spark.streaming.connectors import (
    _http_post,
    es_bulk_payload,
    post_with_retry,
)


@dataclass
class BulkCommit(WriterCommitMessage):
    """Per-partition receipt: what this task shipped. Must be picklable
    (it rides back to the driver for commit/abort)."""

    n_docs: int
    n_requests: int
    n_bytes: int


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

    def write(self, iterator: Iterator[Row]) -> BulkCommit:
        """Executor-side: stream the partition through a bounded buffer,
        one `_bulk` POST per ``max_docs`` chunk (never materializing the
        partition), with the shared retry/backoff policy."""
        n_docs = n_requests = n_bytes = 0

        def flush(chunk: list[dict]) -> None:
            nonlocal n_requests, n_bytes
            payload = es_bulk_payload(chunk, self.index).encode()
            post_with_retry(
                self._post,
                f"{self.url}/_bulk",
                payload,
                "application/x-ndjson",
                max_attempts=self.max_attempts,
                backoff_base_sec=self.backoff_base,
                backoff_cap_sec=self.backoff_cap,
                sleeper=None,
                label=f"index {self.index}",
            )
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
            post_with_retry(
                self._post,
                f"{self.url}/{self.index}/_refresh",
                b"",
                "application/json",
                max_attempts=self.max_attempts,
                backoff_base_sec=self.backoff_base,
                backoff_cap_sec=self.backoff_cap,
                sleeper=None,
                label=f"refresh {self.index}",
            )

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
