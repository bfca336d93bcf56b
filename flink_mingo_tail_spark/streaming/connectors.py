"""Live-cluster source adapter for the hermetic CDC pipeline.

The engine's source runs hermetically by design (`oplog_sim` over member
JSONL logs) so every test runs without a MongoDB deployment. This module
is the documented swap-in seam to the live MongoDB cluster the reference
tails (ShardSetFinder.java:44-56). The sink needs no seam here: the
Elasticsearch writer (`streaming/es_datasource.py`) talks to a live
cluster whenever its ``transport_dir`` option is absent.

* ``mongo_change_stream_source`` — the public MongoDB Spark Connector
  (``format("mongodb")``, change-stream mode) normalized onto
  OPLOG_SOURCE_SCHEMA, so `oplog_filter → quorum dedup → sinks` runs
  unchanged against a live cluster. Change streams replace the raw
  oplog tail the reference scrapes per-member: the server already
  deduplicates across replica members, majority-commits, and resumes
  via resume tokens — so against a real cluster the quorum operator
  becomes a no-op safety net rather than a correctness requirement
  (replica_depth=1), and the engine's quorum path remains for
  per-member tailing topologies.

The change-stream source is not importable-by-accident into the
hermetic paths: it fails with a clear error when the live dependency
(connector jar / reachable cluster) is absent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: options forwarded to the MongoDB Spark Connector (v10+) stream reader.
_MONGO_FORMAT = "mongodb"


def mongo_change_stream_source(
    spark: SparkSession,
    connection_uri: str,
    database: str,
    collection: str,
    *,
    full_document: str = "updateLookup",
) -> DataFrame:
    """readStream from a live MongoDB change stream, projected onto the
    engine's oplog schema (ts_t/ts_i/h/op/ns/o/...).

    Requires the public ``mongo-spark-connector`` jar on the session's
    classpath (``spark.jars.packages=org.mongodb.spark:mongo-spark-connector_2.13:10.x``).
    This sandbox has no such jar and no network — the call fails fast
    with an actionable message; the mapping itself is plain DataFrame
    code and is what a live deployment runs.
    """
    try:
        raw = (
            spark.readStream.format(_MONGO_FORMAT)
            .option("connection.uri", connection_uri)
            .option("database", database)
            .option("collection", collection)
            .option("change.stream.publish.full.document.only", "false")
            .option("change.stream.full.document", full_document)
            .load()
        )
    except Exception as exc:  # connector jar missing / cluster unreachable
        raise RuntimeError(
            "mongo_change_stream_source needs the MongoDB Spark Connector on "
            "the classpath and a reachable cluster; in the hermetic sandbox "
            "use sources.oplog (format 'oplog_sim') instead"
        ) from exc
    return normalize_change_events(raw)


def normalize_change_events(raw: DataFrame) -> DataFrame:
    """Map connector change-stream events onto OPLOG_SOURCE_SCHEMA.

    Pure projection (testable without a cluster): `clusterTime` seconds
    → ts_t, a stable 60-bit hash of the event identity → h (the oplog's
    op id role), operationType initials → op ('insert'→'i', ...), and
    the full document JSON → o. Columns the connector does not surface
    (per-member identity) are NULL — change streams are cluster-level,
    which is exactly why quorum can relax to depth 1 here.
    """
    from pyspark.sql.types import StructType

    op_initial = (
        F.when(F.col("operationType") == "insert", "i")
        .when(F.col("operationType") == "update", "u")
        .when(F.col("operationType") == "replace", "u")
        .when(F.col("operationType") == "delete", "d")
        .otherwise("n")
    )
    doc_key = F.to_json(F.col("documentKey"))
    field_types = {f.name: f.dataType for f in raw.schema.fields}
    # BSON Timestamp carries (t seconds, i sub-second ordinal). When the
    # upstream surfaces the struct form, keep the ordinal — it is the
    # only thing that orders (and distinguishes) two ops committed in
    # the same wall-clock second. Scalar clusterTime forms lose it.
    ct = field_types.get("clusterTime")
    if isinstance(ct, StructType) and {"t", "i"} <= set(ct.fieldNames()):
        ts_t = F.col("clusterTime.t").cast("int")
        ts_i = F.col("clusterTime.i").cast("int")
    else:
        ts_t = F.col("clusterTime").cast("timestamp").cast("long").cast("int")
        ts_i = F.lit(0)
    # 60-bit stable OP id. The oplog's `h` identifies an OPERATION, not a
    # document: hashing the document key alone collapsed every op on the
    # same document into one id, and the quorum stage then deduplicated
    # an insert→update→delete sequence down to its first event (caught by
    # tests/test_change_stream_contract.py). The change stream's resume
    # token (`_id._data`) is the server's unique per-event identity and a
    # replay redelivers the SAME token, so hash it whenever present.
    # Fallback identity is (key, clusterTime t AND i, operationType) —
    # including the sub-second ordinal, without which two rapid
    # same-type updates to one document inside one second would collide
    # and the quorum stage would silently drop the second (data loss).
    idt = field_types.get("_id")
    fallback_identity = F.concat_ws(
        "|",
        doc_key,
        ts_t.cast("string"),
        ts_i.cast("string"),
        F.col("operationType"),
    )
    if isinstance(idt, StructType) and "_data" in idt.fieldNames():
        event_identity = F.coalesce(F.col("_id._data"), fallback_identity)
    else:
        event_identity = fallback_identity
    op_id = F.conv(F.substring(F.md5(event_identity), 1, 15), 16, 10).cast("long")
    return raw.select(
        ts_t.alias("ts_t"),
        ts_i.cast("int").alias("ts_i"),
        op_id.alias("h"),
        op_initial.alias("op"),
        F.concat_ws(".", F.col("ns.db"), F.col("ns.coll")).alias("ns"),
        F.lit(None).cast("boolean").alias("fromMigrate"),
        F.to_json(F.col("fullDocument")).alias("o"),
        doc_key.alias("o2"),
        F.lit(None).cast("string").alias("shard"),
        F.lit(None).cast("string").alias("member_host"),
    )
