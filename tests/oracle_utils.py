"""Local replica of the driver's DuckDB-oracle comparison.

Runs a declared query through Spark AND its oracle SQL through DuckDB,
canonicalizes both results (column-name sort, row sort, exact value
stringification) and asserts equality.

STRICTER than it needs to be on purpose (round-2 hardening): the round-1
driver hash-failed q21/q29/q53 on rows the round-1 mirror accepted,
because the mirror collapsed 5.0 == 5 across dtypes while the driver
does not (DuckDB exports HUGEINT sums as float64 → "1524135.0" vs
Spark's int64 "1524135"). Floats now canonicalize via repr() with NO
int collapse, and dtype KINDS must match per column (int vs float vs
bool vs object vs datetime) — differing widths (int32 vs int64) stay
legal, matching the driver's observed behavior on q52.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import numpy as np
import pandas as pd
from pyspark.sql import types as T

# Output types whose pandas export is engine-dependent or unhashable; the
# driver canonicalizes both result frames in pandas before hashing:
# * arrays/maps/structs — object columns of ndarray/list/dict; the
#   driver's ``sort_values`` canonicalizer crashes on them (round-1 q26b:
#   "unhashable type: 'list'");
# * DATE — exports as midnight-Timestamp from one engine and ``date``
#   object from the other;
# * DecimalType — exports as ``decimal.Decimal`` objects (round-1 q09: a
#   bare ``100.0`` literal in Spark SQL is a decimal and poisoned the
#   division's dtype).
_BANNED = (T.ArrayType, T.MapType, T.StructType, T.DateType, T.DecimalType)


def _canon_value(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "∅"
        return repr(f)
    if isinstance(v, Decimal):
        return _canon_value(float(v))
    if isinstance(v, (np.integer, int)):
        return str(int(v))
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, datetime):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, str):
        return v
    if pd.isna(v):
        return "∅"
    return str(v)


def _dtype_kind(dtype) -> str:
    k = dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "datetime"
    return "object"


def canonicalize(df: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(df.columns)
    rows = [tuple(_canon_value(row[c]) for c in cols) for _, row in df[cols].iterrows()]
    return sorted(rows)


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str) -> None:
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column mismatch spark={sorted(spark_pdf.columns)} "
        f"oracle={sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count mismatch spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    )
    for c in sorted(spark_pdf.columns):
        sk, ok = _dtype_kind(spark_pdf[c].dtype), _dtype_kind(oracle_pdf[c].dtype)
        # A nullable int column arrives as float64 (NaN-padded) from either
        # engine; only flag int-vs-float when NEITHER side has nulls.
        if {sk, ok} == {"int", "float"} and (
            spark_pdf[c].isna().any() or oracle_pdf[c].isna().any()
        ):
            continue
        assert sk == ok, (
            f"{name}.{c}: dtype-kind mismatch spark={spark_pdf[c].dtype} "
            f"oracle={oracle_pdf[c].dtype} — the driver hash is dtype-sensitive "
            f"(round-1 q21: DuckDB HUGEINT→float64 vs Spark int64); CAST the "
            f"oracle or the Spark side so the pandas exports agree"
        )
    s_rows = canonicalize(spark_pdf)
    o_rows = canonicalize(oracle_pdf)
    if s_rows != o_rows:
        diffs = [(a, b) for a, b in zip(s_rows, o_rows) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch; first diffs (spark, oracle): {diffs}")


def check_output_schema(schema: T.StructType, name: str) -> None:
    """The driver contract on a query's Spark output schema (_BANNED)."""
    for field in schema.fields:
        assert not isinstance(field.dataType, _BANNED), (
            f"{name}.{field.name} is {field.dataType.simpleString()} — banned by the "
            f"driver contract (array/map/struct/date/decimal outputs break or "
            f"engine-skew the pandas canonicalizer); format/join/cast it instead"
        )


def run_compare(spark, duck, qdef, sf_dir: str) -> T.StructType:
    """Check the output schema, then compare with the oracle; returns the
    checked schema."""
    sdf = qdef.fn(spark, sf_dir)
    check_output_schema(sdf.schema, qdef.name)
    odf = duck.execute(qdef.oracle).fetchdf()
    compare_frames(sdf.toPandas(), odf, qdef.name)
    return sdf.schema
