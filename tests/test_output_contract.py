"""Driver-contract lint: output schemas every declared query may emit,
and the registry order the driver's bounded prefix relies on.

The banned-type check itself (``oracle_utils.check_output_schema``)
runs inside ``oracle_utils.run_compare``, on the Spark schema before
``toPandas()``, so oracle parity and ``scripts/verify_queries.py``
enforce it. The per-query test here re-checks the schema the parity
test recorded in this session, and calls the query function only when
parity did not run first at the same SF.
"""

from __future__ import annotations

import pytest

from flink_mingo_tail_spark.queries import load_registry

from .conftest import SF_SMOKE
from .oracle_utils import check_output_schema

REGISTRY = load_registry()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_output_schema_driver_safe(spark, output_schemas, name):
    schema = output_schemas.get((name, SF_SMOKE))
    if schema is None:
        schema = REGISTRY[name].fn(spark, SF_SMOKE).schema
    check_output_schema(schema, name)


def test_registry_prefix_covers_unchecked_queries():
    """The driver checks a bounded prefix (50 entries in round 1); every
    query without a green round-1 CORRECTNESS row must sit inside it."""
    names = list(REGISTRY)
    from flink_mingo_tail_spark.queries import _NEEDS_DRIVER_ROW

    prefix = set(names[: len(_NEEDS_DRIVER_ROW)])
    missing = [n for n in _NEEDS_DRIVER_ROW if n not in prefix]
    assert not missing, f"front-loaded queries fell outside the driver prefix: {missing}"
