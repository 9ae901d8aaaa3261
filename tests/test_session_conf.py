"""One SQL conf per session: `session.tune_session` is the only code in
the package that writes SQL conf, and it writes only its own values.
A SparkSession is shared by every thread that plans on it, so a query
that rewrote the conf mid-flight (AQE off for an ML loop, fewer
shuffle partitions for a stream) would change the plans of whatever
another thread ran meanwhile.

`get_spark` sessions also turn off PySpark's per-call call-site
capture, which cost about ten py4j round trips per Column call while
a query built its DataFrame; and a conf the session refuses is logged
once, not swallowed. Their Python workers import the installed PySpark
rather than Spark's zip archives (`bitcoin_olap_spark.pyworker`), and
a data source whose registration fails says so."""

from __future__ import annotations

import logging
import os
import sys
import threading
import zipfile

import pyspark.errors.utils as pyspark_errors_utils
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

from bitcoin_olap_spark import pyworker, session
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


def _worker_imports(batches):
    """mapInPandas body: where the worker imported PySpark from, the
    archive files on its `sys.path`, and its live zip importers."""
    import os
    import sys
    import zipimport

    import pandas as pd
    import pyspark

    for _ in batches:
        pass
    archives = [
        p for p in sys.path
        if p.endswith((".zip", ".jar")) and os.path.isfile(p)
    ]
    zips = sum(
        isinstance(v, zipimport.zipimporter)
        for v in sys.path_importer_cache.values()
    )
    yield pd.DataFrame(
        {"file": [pyspark.__file__], "archives": [archives], "zips": [zips]}
    )


def test_python_workers_import_the_installed_pyspark(spark):
    """`get_spark` workers run under `bitcoin_olap_spark.pyworker`: no
    archive on their path, so a task's `importlib.invalidate_caches()`
    has no zip to re-read."""
    (row,) = (
        spark.range(1, numPartitions=1)
        .mapInPandas(
            _worker_imports, "file string, archives array<string>, zips long"
        )
        .collect()
    )
    assert not any(
        f"{suffix}{os.sep}" in row["file"] for suffix in (".zip", ".jar")
    ), row["file"]
    assert row["archives"] == []
    assert row["zips"] == 0
    assert (
        spark.conf.get("spark.python.daemon.module")
        == "bitcoin_olap_spark.pyworker"
    )


@pytest.mark.parametrize("matches", [True, False])
def test_pyworker_drops_spark_archives_only_for_the_same_version(
    tmp_path, matches
):
    """The daemon's guard, with no JVM: Spark's archives (under the
    distribution that holds the archived pyspark) leave the path only
    when the rest of it imports that PySpark's version; an archive
    outside that distribution always stays."""
    import pyspark

    home = tmp_path / "spark"
    (home / "python" / "lib").mkdir(parents=True)
    (home / "jars").mkdir()
    archive = str(home / "python" / "lib" / "pyspark.zip")
    version = pyspark.__version__ if matches else "0.0.0"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    jar = str(home / "jars" / "spark-core.jar")
    zipfile.ZipFile(jar, "w").close()
    other = str(tmp_path / "user.zip")
    zipfile.ZipFile(other, "w").close()
    # this interpreter's other entries import the installed pyspark and py4j
    site = [p for p in sys.path if not p.endswith((".zip", ".jar"))]
    path = [archive, jar, *site, other]
    cache = {
        archive: object(),
        f"{archive}{os.sep}pyspark{os.sep}sql": object(),
        jar: object(),
        other: object(),
        site[0]: object(),
    }
    before_path, before_cache = list(path), dict(cache)
    pruned = pyworker.prune_archives(path, cache)
    assert pruned is matches
    if matches:
        assert path == [*site, other]
        assert sorted(cache) == sorted([other, site[0]])
    else:
        assert path == before_path and cache == before_cache


@pytest.mark.parametrize("name", ["blockfeed", "cdcfeed"])
def test_register_source_twice_then_batch_read(spark, tmp_path, name):
    """Spark replaces an earlier registration of the same name, so a
    second register call is harmless and the source still reads."""
    from bitcoin_olap_spark.operators import acidtable as AT
    from bitcoin_olap_spark.sources import register_blockfeed, register_cdcfeed

    if name == "blockfeed":
        register_blockfeed(spark)
        register_blockfeed(spark)
        df = (
            spark.read.format("blockfeed")
            .option("n_blocks", 40)
            .option("n_partitions", 2)
            .load()
        )
        assert df.count() == 40
    else:
        root = str(tmp_path / "tbl")
        AT.init_table(spark, root, spark.range(0, 30).withColumnRenamed("id", "k"))
        register_cdcfeed(spark)
        register_cdcfeed(spark)
        assert spark.read.format("acid_cdf").option("path", root).load().count() == 30


@pytest.mark.parametrize("name", ["blockfeed", "cdcfeed"])
def test_register_source_failure_propagates(spark, monkeypatch, name):
    from pyspark.sql.datasource import DataSourceRegistration

    from bitcoin_olap_spark.sources import register_blockfeed, register_cdcfeed

    def failing_register(self, source):
        raise RuntimeError("registration failed")

    monkeypatch.setattr(DataSourceRegistration, "register", failing_register)
    register = register_blockfeed if name == "blockfeed" else register_cdcfeed
    with pytest.raises(RuntimeError, match="registration failed"):
        register(spark)
