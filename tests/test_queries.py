"""Oracle-parity tests for every registered query (SURVEY.md §5.1).

Parametrized over the registry: run the PySpark query at sf0.01, run
the DuckDB oracle on the same tables, compare. Queries with no oracle
get a rows-runnable smoke check instead (the driver does the same).
"""

from __future__ import annotations

import pytest

from bitcoin_olap_spark.registry import REGISTRY, all_queries

from .conftest import SF_ORACLE
from .oracle import assert_scalar_schema, compare

all_queries()  # populate REGISTRY
QIDS = sorted(REGISTRY)


@pytest.mark.parametrize("qid", QIDS)
def test_oracle_parity(qid, spark, duck):
    spec = REGISTRY[qid]
    sdf = spec.fn(spark, SF_ORACLE)
    if spec.oracle is None:
        assert_scalar_schema(sdf, qid)
        assert sdf.count() >= 0  # runnable, stable schema
        assert len(sdf.schema.fields) > 0
        return
    ddf = duck.execute(spec.oracle).df()
    compare(sdf, ddf, qid)
    # compare's toPandas ran sdf's own QueryExecution, so this is the
    # final adaptive plan (AQE re-plans joins at runtime); reading it
    # starts no job.
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{qid}: {plan}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_oracle_keys_subset():
    import __spark_entry__ as e

    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) == len(REGISTRY)


def test_approx_distinct_within_rsd(spark):
    """The bounds-oracle output must assert the HLL++ estimate sits
    inside the published envelope per group (est_within_bound TRUE
    everywhere — the same boolean the driver hash-matches against the
    DuckDB oracle's literal TRUE) and carry the true exact counts."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.catalog import table
    from bitcoin_olap_spark.registry import all_queries

    rows = all_queries()["agg_approx_distinct"](spark, SF_ORACLE).collect()
    exact = {
        r["l_returnflag"]: r["n"]
        for r in table(spark, SF_ORACLE, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    assert {r["l_returnflag"] for r in rows} == set(exact)
    for r in rows:
        assert r["est_within_bound"] is True, r
        assert r["exact_orders"] == exact[r["l_returnflag"]], r


def test_approx_quantile_near_exact(spark, duck):
    """GK-sketch estimates (accuracy 1/10000) must sit within 0.5% of
    DuckDB's exact interpolated quantiles per group."""
    got = {
        r["l_returnflag"]: (r["p50"], r["p90"])
        for r in all_queries()["agg_approx_quantile"](
            spark, SF_ORACLE
        ).collect()
    }
    exact = {
        flag: (p50, p90)
        for flag, p50, p90 in duck.execute(
            "SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5), "
            "quantile_cont(l_extendedprice, 0.9) FROM lineitem GROUP BY 1"
        ).fetchall()
    }
    assert set(got) == set(exact)
    for flag, (est50, est90) in got.items():
        p50, p90 = exact[flag]
        assert abs(est50 - p50) / p50 < 0.005, (flag, est50, p50)
        assert abs(est90 - p90) / p90 < 0.005, (flag, est90, p90)


def test_sketch_partial_merge_near_exact(spark):
    """The bounds-oracle output must assert both the merged HLL
    estimate and the max per-day estimate sit inside the lgK=14
    envelope (the booleans the driver hash-matches against DuckDB's
    literal TRUE), and carry the true exact sides."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.catalog import table

    row = all_queries()["agg_sketch_partial"](spark, SF_ORACLE).collect()[0]
    exact = (
        table(spark, SF_ORACLE, "events")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()[0]["n"]
    )
    assert row["exact_users"] == exact
    assert row["merged_within_bound"] is True
    assert row["max_daily_within_bound"] is True
    assert 0 < row["max_daily_exact"] <= exact
    assert row["n_days"] > 0


def test_countmin_one_sided(spark):
    """Count-min estimates are one-sided (est >= exact) and tight for
    heavy hitters at this vocabulary size (4x1024 counters, ~60-word
    vocab): the top probe's estimate must equal its exact count."""
    from pyspark.sql import functions as F

    from bitcoin_olap_spark.catalog import table

    got = {
        r["token"]: r["est_count"]
        for r in all_queries()["agg_countmin"](spark, SF_ORACLE).collect()
    }
    assert got
    exact = {
        r["token"]: r["n"]
        for r in table(spark, SF_ORACLE, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_total = sum(exact.values())
    for tok, est in got.items():
        assert est >= exact[tok], (tok, est, exact[tok])
        # CM guarantee: overshoot <= e*N/w with prob >= 1-e^-d; loose 4x
        assert est - exact[tok] <= 4 * n_total / 1024, (tok, est, exact[tok])
    top_tok = max(got, key=lambda t: (got[t], t))
    assert got[top_tok] >= max(exact[t] for t in got)
