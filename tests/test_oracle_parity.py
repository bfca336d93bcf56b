"""Every declared query vs the DuckDB oracle (driver-metric rehearsal)."""

from __future__ import annotations

import pytest

from flink_mingo_tail_spark.queries import load_registry

from .conftest import SF_ORACLE
from .oracle_utils import run_compare

REGISTRY = load_registry()
WITH_ORACLE = sorted(name for name, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY = sorted(name for name, q in REGISTRY.items() if q.oracle is None)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_parity(spark, duck, output_schemas, name):
    output_schemas[name, SF_ORACLE] = run_compare(
        spark, duck, REGISTRY[name], SF_ORACLE
    )


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = REGISTRY[name].fn(spark, SF_ORACLE)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
