from __future__ import annotations

import os
import sys

import pytest

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from flink_mingo_tail_spark.session import build_session

    spark = build_session("fmts-tests")
    yield spark


@pytest.fixture(scope="session")
def output_schemas():
    """{(query name, SF dir): output schema}, recorded by the oracle
    parity test so that the output-contract test reads the schema
    instead of calling the query function a second time."""
    return {}


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    from flink_mingo_tail_spark.tables import TABLE_NAMES, table_path

    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(SF_ORACLE, name)}')"
        )
    yield con
    con.close()
