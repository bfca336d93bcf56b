"""exact_percentiles (rank-selection scale path) == built-in percentile,
bitwise, across discrete/continuous columns, tiny groups, and stressed
(low-accuracy) brackets where endpoint duplicate-runs dominate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_mingo_tail_spark.operators.percentile import exact_percentiles
from flink_mingo_tail_spark.tables import load_table

from .conftest import SF_ORACLE


def _builtin(df, keys, specs):
    return df.groupBy(*keys).agg(
        *[F.percentile(c, F.lit(p)).alias(a) for c, p, a in specs]
    )


def _assert_bitwise_equal(df, keys, specs, accuracy=10_000):
    got = {
        tuple(r[k] for k in keys): [r[a] for _, _, a in specs]
        for r in exact_percentiles(df, keys, specs, accuracy=accuracy).collect()
    }
    want = {
        tuple(r[k] for k in keys): [r[a] for _, _, a in specs]
        for r in _builtin(df, keys, specs).collect()
    }
    assert got == want, f"mismatch: {got} != {want}"


def test_matches_builtin_on_lineitem(spark):
    # accuracy=500 < every group's row count at any test SF -> all groups
    # take the rank-select (large) path.
    li = load_table(spark, SF_ORACLE, "lineitem")
    _assert_bitwise_equal(
        li,
        ["l_returnflag"],
        [("l_quantity", 0.5, "p50"), ("l_extendedprice", 0.9, "p90"), ("l_discount", 0.01, "p01")],
        accuracy=500,
    )


def test_matches_builtin_small_group_routing(spark):
    # accuracy above every group size -> all groups route to the built-in
    # small path; results must still be identical.
    li = load_table(spark, SF_ORACLE, "lineitem")
    _assert_bitwise_equal(
        li,
        ["l_returnflag"],
        [("l_extendedprice", 0.9, "p90")],
        accuracy=10_000_000,
    )


def test_low_accuracy_bracket_with_heavy_duplicates(spark):
    # accuracy=50 -> margin 0.08: endpoint runs of the 50-distinct-value
    # l_quantity column hold thousands of rows; only run COUNTS may grow.
    li = load_table(spark, SF_ORACLE, "lineitem")
    _assert_bitwise_equal(
        li, ["l_returnflag"], [("l_quantity", 0.5, "p50")], accuracy=50
    )


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False

if HAVE_HYPOTHESIS:

    @settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        col=st.sampled_from(["l_quantity", "l_extendedprice", "l_discount"]),
        p=st.one_of(
            st.just(0.0), st.just(1.0), st.floats(min_value=0.0, max_value=1.0, allow_nan=False)
        ),
        accuracy=st.sampled_from([50, 200, 1000, 10_000_000]),
    )
    def test_property_matches_builtin(spark, col, p, accuracy):
        """Sweep (column x percentile x accuracy): discrete/continuous
        data, extreme p, and both routing paths (accuracy=1e7 forces the
        small-group built-in route at test SFs; 50/200 force rank-select
        with wide/narrow brackets). Bitwise equality in every instance."""
        from flink_mingo_tail_spark.tables import load_table

        li = load_table(spark, SF_ORACLE, "lineitem")
        _assert_bitwise_equal(li, ["l_returnflag"], [(col, p, "pv")], accuracy=accuracy)


def test_tiny_groups_and_extremes(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("b", 3.0), ("b", 7.0), ("c", 2.0), ("c", 2.0), ("c", 9.0)],
        "k string, v double",
    )
    _assert_bitwise_equal(
        df, ["k"], [("v", 0.0, "pmin"), ("v", 0.5, "p50"), ("v", 1.0, "pmax")]
    )


def test_rejects_sql_unsafe_identifiers(spark):
    # columns and aliases are pasted unquoted into the generated SQL, so
    # a non-identifier must fail at entry, naming itself
    li = load_table(spark, SF_ORACLE, "lineitem")
    with pytest.raises(ValueError, match="p-50"):
        exact_percentiles(li, ["l_returnflag"], [("l_quantity", 0.5, "p-50")])
