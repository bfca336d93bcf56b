"""End-to-end CDC pipeline topology — Spark twin of the reference job
(MongoDBOplogTail.java:36-42):

    source (every member log, read in one stream reader)
      → oplog_filter (the reference's $match, a Catalyst Filter)
        → quorum dedup (stateful, majority)
          → envelope {"data": doc}
            → format("es_bulk") (streaming/es_datasource.py)

Differences by design (SURVEY.md §4.3): offsets commit AFTER sink commit
(Structured Streaming checkpoint), sinks flush per micro-batch instead of
per record, dedup state has TTL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from flink_mingo_tail_spark.streaming.quorum import quorum_dedup_stream

CHECKPOINT_NS = "time_d.repl_time"


def oplog_filter(ops: DataFrame, resume_after: tuple[int, int] | None = None) -> DataFrame:
    """The reference's pushed-down conjunction
    (MongoOplogTailMapper.java:90-98): drop the checkpoint namespace,
    drop no-ops, drop chunk-migration copies, resume after a timestamp.
    The only code that evaluates this predicate: the `oplog_sim` readers
    return every entry, and Catalyst runs it as a `Filter` in the scan's
    own codegen stage (over Parquet it also lands in PushedFilters)."""
    cond = (F.col("ns") != CHECKPOINT_NS) & (F.col("op") != "n") & F.col("fromMigrate").isNull()
    if resume_after is not None:
        t, i = resume_after
        cond = cond & (
            (F.col("ts_t") > t) | ((F.col("ts_t") == t) & (F.col("ts_i") > i))
        )
    return ops.filter(cond)


def envelope(df: DataFrame) -> DataFrame:
    """`{"data": <doc>}` projection (ElasticsearchEmbeddedNodeSink.java:60-63)."""
    return df.select(F.col("h"), F.to_json(F.struct(*df.columns)).alias("data"))


def build_cdc_stream(ops: DataFrame, replica_depth: int, state_ttl_ms: int = 60_000) -> DataFrame:
    """Filter → quorum dedup → stream of unique committed ops."""
    return quorum_dedup_stream(oplog_filter(ops), replica_depth, state_ttl_ms=state_ttl_ms)


def instrument(df: DataFrame, name: str = "cdc") -> DataFrame:
    """Attach named observed metrics to the (streaming or batch) frame:
    emitted-row count and the high-water oplog timestamp per micro-batch.

    This is the Spark-native replacement for the reference's per-record
    logback logging (MongoDBOplogSource.java logs each op as it passes):
    ``observe`` aggregates ON THE EXECUTORS inside the existing plan —
    zero extra pass, zero per-record driver I/O — and delivers one
    metrics row per micro-batch through StreamingQueryProgress. At
    100 TB per-record logging is untenable; per-batch observed metrics
    are the operational signal (lag high-water, emit rate) at constant
    cost."""
    return df.observe(
        name,
        F.count(F.lit(1)).alias("emitted_rows"),
        F.max("ts_t").alias("highwater_ts_t"),
        # observed metrics forbid DISTINCT aggregates (single-pass
        # contract); the HLL sketch is the metrics-grade answer anyway
        F.approx_count_distinct("ns").alias("namespaces_seen"),
    )


class PipelineMetricsListener(StreamingQueryListener):
    """Driver-side collector for the per-batch metrics that
    :func:`instrument` emits — the operational dashboard seam
    (emit rate, oplog high-water, per-batch input rows). Register with
    ``spark.streams.addListener``; progress delivery is asynchronous,
    so tests poll :meth:`observed`."""

    def __init__(self) -> None:
        self.progress: list = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        self.progress.append(event.progress)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def observed(self, name: str) -> list:
        out = []
        for p in self.progress:
            m = (p.observedMetrics or {}).get(name)
            if m is not None:
                out.append(m)
        return out
