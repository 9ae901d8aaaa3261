"""One SQL conf per session: `session.tune_session` is the only code in
the package that writes SQL conf, and it writes only its own values.
A SparkSession is shared by every thread that plans on it, so a query
that rewrote the conf mid-flight (AQE off for an ML loop, fewer
shuffle partitions for a stream) would change the plans of whatever
another thread ran meanwhile.

`get_spark` sessions also turn off PySpark's per-call call-site
capture, which cost about ten py4j round trips per Column call while
a query built its DataFrame; and a conf the session refuses is logged
once, not swallowed."""

from __future__ import annotations

import logging
import threading

import pyspark.errors.utils as pyspark_errors_utils
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from bitcoin_olap_spark import session
from bitcoin_olap_spark.registry import REGISTRY, all_queries
from bitcoin_olap_spark.session import _runtime_conf, default_parallelism

from .conftest import SF_ORACLE, SF_TEST
from .oracle import compare

all_queries()  # populate REGISTRY

#: the iterative ML loops and the streams that used to toggle conf
CONF_QIDS = [
    "ml_logreg",
    "ml_pca_power",
    "ml_kmeans_lloyd",
    "stream_stateful_seq",
    "stream_daily_agg",
    "stream_watermark_disorder",
]

#: the queries of perfbench's `query_mix`
MIX_QIDS = (
    "agg_daily_sum join_hash_on_txid flt_ts_range tpch_q1 ml_ols_loglog "
    "pipeline_ledger_e2e text_quality dedup_exact doc_chunk sim_topk_ivf"
).split()


@pytest.mark.parametrize("qid", CONF_QIDS)
def test_only_tune_session_writes_conf(qid, spark, duck, monkeypatch):
    writes = []
    orig_set = RuntimeConfig.set

    def recording_set(self, key, value):
        writes.append((key, str(value)))
        return orig_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    spec = REGISTRY[qid]
    compare(spec.fn(spark, SF_ORACLE), duck.execute(spec.oracle).df(), qid)
    allowed = set(_runtime_conf().items())
    assert writes, f"{qid}: tune_session did not run"
    foreign = [w for w in writes if w not in allowed]
    assert not foreign, f"{qid}: conf writes outside tune_session: {foreign}"


def test_concurrent_query_keeps_session_conf(spark, duck, monkeypatch):
    """Thread A runs ml_logreg; thread B plans and runs an aggregate
    while A is inside its gradient loop. B must plan with the session's
    own conf: AQE on, shuffle partitions at the core count."""
    in_loop, b_done = threading.Event(), threading.Event()
    orig_sql = SparkSession.sql

    def gated_sql(self, sqlQuery, *args, **kwargs):
        if "__ml_logreg_base" in sqlQuery and not in_loop.is_set():
            in_loop.set()
            b_done.wait(timeout=300)
        return orig_sql(self, sqlQuery, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "sql", gated_sql)
    result, errors = {}, []

    def run_a():
        try:
            result["df"] = REGISTRY["ml_logreg"].fn(spark, SF_ORACLE)
        except Exception as exc:  # surfaced by the main thread
            errors.append(exc)
        finally:
            in_loop.set()

    a = threading.Thread(target=run_a)
    a.start()
    try:
        assert in_loop.wait(timeout=300), "ml_logreg never reached its loop"
        assert not errors, errors
        parts = spark.conf.get("spark.sql.shuffle.partitions")
        df = spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count()
        assert len(df.collect()) == 7
        plan = df._jdf.queryExecution().executedPlan()
    finally:
        b_done.set()
        a.join(timeout=600)
    assert parts == str(default_parallelism())
    assert plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec", (
        plan.toString()
    )
    assert not a.is_alive() and not errors, errors
    oracle = duck.execute(REGISTRY["ml_logreg"].oracle).df()
    compare(result["df"], oracle, "ml_logreg")


def test_get_spark_turns_off_call_site_capture(spark):
    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled")
        == "false"
    )


def test_mix_queries_build_without_call_site_capture(spark, monkeypatch):
    """Building each mix query captures no Python call site. PySpark
    caches the setting per process on first use; clearing the cache
    makes it re-read the fixture's session."""
    calls = []
    orig_capture = pyspark_errors_utils._capture_call_site

    def counting_capture(depth):
        calls.append(depth)
        return orig_capture(depth)

    monkeypatch.setattr(
        pyspark_errors_utils, "_capture_call_site", counting_capture
    )
    monkeypatch.setattr(pyspark_errors_utils, "_enable_debugging_cache", None)
    for qid in MIX_QIDS:
        REGISTRY[qid].fn(spark, SF_TEST)
    assert calls == [], f"{len(calls)} call sites captured"
    # the probe itself counts when capture is on
    monkeypatch.setattr(pyspark_errors_utils, "_enable_debugging_cache", True)
    F.col("x") + 1
    assert calls


def test_tune_session_logs_a_refused_key_once(spark, monkeypatch, caplog):
    refused = "spark.sql.files.openCostInBytes"
    writes = []
    orig_set = RuntimeConfig.set

    def refusing_set(self, key, value):
        if key == refused:
            raise RuntimeError(f"cannot modify static config {key}")
        writes.append(key)
        return orig_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", refusing_set)
    monkeypatch.setattr(session, "_WARNED_KEYS", set())
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.tune_session(spark)
        session.tune_session(spark)
    warned = [r for r in caplog.records if r.name == session.__name__]
    assert len(warned) == 1 and refused in warned[0].getMessage()
    others = sorted(k for k in _runtime_conf() if k != refused)
    assert sorted(writes) == sorted(others * 2)
