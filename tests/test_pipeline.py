"""End-to-end ledger pipeline + analytics tail: oracle parity, the
reference's own invariants (SURVEY.md §5.2), and MLlib-vs-closed-form
agreement."""

from __future__ import annotations

import time
import uuid

import pytest
from pyspark.sql import functions as F

from .conftest import SF_TEST

SF_ORACLE = "/root/testdata/sf0.01"


@pytest.mark.parametrize(
    "qid", ["pipeline_ledger_e2e", "sample_stratified", "ml_ols_loglog"]
)
def test_oracle_parity(spark, duck, qid):
    from bitcoin_olap_spark.registry import all_oracles, all_queries

    from .oracle import compare

    sdf = all_queries()[qid](spark, SF_ORACLE)
    ddf = duck.execute(all_oracles()[qid]).df()
    compare(sdf, ddf, qid)


@pytest.fixture(scope="module")
def ledger(spark):
    from bitcoin_olap_spark.plans import bitcoin_fixtures, ledger_pipeline

    tx, addr_raw, wloc = bitcoin_fixtures(spark, SF_ORACLE)
    ledger = ledger_pipeline(tx, addr_raw, wloc).cache()
    yield ledger
    # the query's own plan would otherwise read this cache in later tests
    ledger.unpersist()


def test_ledger_sign_invariant(ledger):
    """Every type='input' row is negative, every 'output' positive —
    the reference's sign convention (btcolap.sql:331 vs :346)."""
    bad = ledger.filter(
        ((F.col("type") == "input") & (F.col("sat") >= 0))
        | ((F.col("type") == "output") & (F.col("sat") <= 0))
    )
    assert bad.count() == 0


def test_addr_dedup_invariant(spark):
    """Post-dedup address table has no duplicate (wallet, address) —
    the reference's own data-quality check (btcolap.sql:19-31) — and
    loses no pair."""
    from bitcoin_olap_spark.plans import bitcoin_fixtures
    from bitcoin_olap_spark.plans.ledger import dedup_addresses

    _, addr_raw, _ = bitcoin_fixtures(spark, SF_ORACLE)
    assert addr_raw.count() > addr_raw.dropDuplicates(
        ["wallet", "address"]
    ).count(), "fixture must contain duplicates for the stage to matter"
    deduped = dedup_addresses(addr_raw)
    dupes = deduped.groupBy("wallet", "address").count().filter("count > 1")
    assert dupes.count() == 0
    assert deduped.columns == addr_raw.columns
    assert deduped.subtract(addr_raw).count() == 0
    assert addr_raw.subtract(deduped).count() == 0


def test_ledger_pipeline_starts_no_job_and_caches_nothing(spark):
    """Building the ledger DAG runs no Spark job (no eager action picks
    a join strategy), and running the query leaves no cached relation
    behind."""
    from bitcoin_olap_spark.plans import bitcoin_fixtures, ledger_pipeline
    from bitcoin_olap_spark.registry import all_queries

    sc = spark.sparkContext
    tx, addr_raw, wloc = bitcoin_fixtures(spark, SF_TEST)
    group = f"ledger-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "ledger_pipeline build")
    try:
        ledger_pipeline(tx, addr_raw, wloc)
        # sentinel: the status store records job starts in order, so
        # once it lists this job it lists every earlier one in the group
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not st.getJobIdsForGroup(group) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert len(st.getJobIdsForGroup(group)) == 1, "only the sentinel job"

    persisted = sc._jsc.getPersistentRDDs().size()
    all_queries()["pipeline_ledger_e2e"](spark, SF_TEST).collect()
    assert sc._jsc.getPersistentRDDs().size() == persisted


def test_ledger_pipeline_matches_full_oracle_chain(spark, tmp_path):
    """`ledger_pipeline` (txid discovery folded into the address join)
    returns exactly the rows of the oracle's full 6-stage `ledger` CTE,
    on hand-built rows covering the edge cases of the fold."""
    from collections import Counter
    from datetime import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bitcoin_olap_spark.plans import ledger_pipeline
    from bitcoin_olap_spark.queries.pipeline import _LEDGER_ORACLE_CTES

    pre, post = datetime(1995, 1, 2), datetime(1995, 9, 3)

    def txo(value, *addresses):
        return {"value": value, "addresses": list(addresses)}

    txs = [
        # a1 belongs to two wallets: every a1 row appears twice
        ("t_in_only", pre, [txo(100, "a1")], [txo(90, "x1")]),
        ("t_out_only", post, [txo(50, "x1")], [txo(40, "a2")]),
        ("t_untracked", pre, [txo(10, "x1")], [txo(9, "x2")]),
        ("t_empty_inputs", post, [], [txo(7, "a2", "a3")]),
        ("t_null_addr", pre, [txo(5, None, "a1")], [txo(4, None)]),
        # a3 maps only to wallet w4, which has no wloc row
        ("t_no_location", post, [txo(3, "a3")], [txo(2, "x2")]),
    ]
    txo_t = pa.list_(
        pa.struct(
            [("value", pa.int64()), ("addresses", pa.list_(pa.string()))]
        )
    )
    tables = {
        "tx": pa.table(
            {
                "hash": [t[0] for t in txs],
                "block_timestamp": pa.array(
                    [t[1] for t in txs], pa.timestamp("us")
                ),
                "inputs": pa.array([t[2] for t in txs], txo_t),
                "outputs": pa.array([t[3] for t in txs], txo_t),
            }
        ),
        "addr_raw": pa.table(
            {
                "wallet": ["w1", "w2", "w1", "w3", "w4"],
                "address": ["a1", "a1", "a1", "a2", "a3"],
            }
        ),
        "wloc": pa.table(
            {"wallet": ["w1", "w2", "w3"], "location": ["US", None, "China"]}
        ),
    }
    con = duckdb.connect()
    dfs = {}
    for name, t in tables.items():
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(t, path)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        dfs[name] = spark.read.parquet(path)

    got = ledger_pipeline(dfs["tx"], dfs["addr_raw"], dfs["wloc"])
    cols = got.columns
    want = con.execute(
        f"WITH {_LEDGER_ORACLE_CTES} SELECT {', '.join(cols)} FROM ledger"
    ).fetchall()
    con.close()
    got_rows = [tuple(r) for r in got.collect()]
    assert Counter(got_rows) == Counter(map(tuple, want))
    assert {r[cols.index("txid")] for r in got_rows} == {
        "t_in_only", "t_out_only", "t_empty_inputs", "t_null_addr",
    }
    a1_in = [r for r in got_rows if r[:4] == (pre, "t_in_only", "input", "a1")]
    assert len(a1_in) == 2


def test_period_split_matches_timestamp(ledger):
    from bitcoin_olap_spark.plans.ledger import SPLIT_TS

    split = F.lit(SPLIT_TS).cast("timestamp")
    bad = ledger.filter(
        ((F.col("period") == "post") & (F.col("block_timestamp") < split))
        | ((F.col("period") == "pre") & (F.col("block_timestamp") >= split))
    )
    assert bad.count() == 0


def test_mllib_matches_closed_form(spark):
    from bitcoin_olap_spark.registry import all_queries

    q = all_queries()
    ml = q["ml_linreg_fit"](spark, SF_ORACLE).collect()[0]
    exact = q["ml_ols_loglog"](spark, SF_ORACLE).collect()[0]
    assert ml["n"] == exact["n"]
    for k in ("slope", "intercept", "r2"):
        assert abs(ml[k] - exact[k]) < 1e-5, (k, ml[k], exact[k])


def test_sample_stratified_caps(spark):
    from bitcoin_olap_spark.queries.analytics import BIN_CAP, N_BINS
    from bitcoin_olap_spark.registry import all_queries

    s = all_queries()["sample_stratified"](spark, SF_ORACLE)
    per_bin = s.groupBy("bin").count().collect()
    assert 0 < len(per_bin) <= N_BINS
    assert all(r["count"] <= BIN_CAP for r in per_bin)
