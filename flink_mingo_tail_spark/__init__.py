"""flink_mingo_tail_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference CDC
pipeline ``JaiHirsch/flink-mingo-tail`` (MongoDB oplog → Flink →
Elasticsearch; see ``/root/reference``) as an idiomatic Apache Spark
engine:

* batch DataFrame/SQL relational surface (joins, aggregations, windows,
  set ops, scalar function library) — Catalyst/Tungsten do the physical
  planning;
* Structured Streaming parity for the reference's streaming semantics
  (tailing source, pushed-down predicates, quorum dedup, checkpoint
  resume, fan-in, multi-sink);
* large-scale training-data-pipeline operators (exact/near dedup,
  similarity search, text analysis, multimodal column plumbing).

Nothing in here is a port of the reference's Java: the reference defines
WHAT to compute (see SURVEY.md), Spark decides HOW.
"""

# first, so that every Spark Python worker that unpickles package code
# refreshes the zip archives on sys.path through it at each task start
from flink_mingo_tail_spark import _zipcache  # noqa: F401
from flink_mingo_tail_spark.session import build_session, prepare_session
from flink_mingo_tail_spark.tables import TABLE_NAMES, load_tables

__version__ = "0.1.0"

__all__ = ["build_session", "prepare_session", "load_tables", "TABLE_NAMES"]
