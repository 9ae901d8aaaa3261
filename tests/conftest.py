"""Shared pytest fixtures: one warmed SparkSession + a DuckDB oracle
connection with the testdata views registered, mirroring the driver's
verify harness so oracle mismatches surface before the driver runs.
"""

from __future__ import annotations

import time
import uuid

import pytest

SF_TEST = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def jobs_started(spark, fn) -> int:
    """Spark jobs `fn` starts, counted by job group. A sentinel job
    runs last in the same group: the status store fills
    asynchronously, and once it lists the sentinel it lists every
    earlier job of the group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs started")
    try:
        fn()
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not st.getJobIdsForGroup(group) and time.monotonic() < deadline:
        time.sleep(0.05)
    ids = st.getJobIdsForGroup(group)
    assert ids, "the sentinel job must be counted"
    return len(ids) - 1


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
