"""Shared pytest fixtures: one warmed SparkSession + a DuckDB oracle
connection with the testdata views registered, mirroring the driver's
verify harness so oracle mismatches surface before the driver runs.
"""

from __future__ import annotations

import pytest

SF_TEST = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from bitcoin_olap_spark.session import get_spark

    spark = get_spark(app_name="bitcoin-olap-spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from bitcoin_olap_spark.catalog import TABLES

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_ORACLE}/{name}.parquet'"
        )
    yield con
    con.close()
