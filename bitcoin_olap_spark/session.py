"""SparkSession factory and runtime tuning.

Scale posture (100 TB / 1000-executor design, tested on local[32]):
- AQE on: runtime partition coalescing, skew-join splitting, dynamic
  join-strategy switch — exchange hot-wallets make join keys skewed
  (reference joins on transaction_hash / wallet, btcolap.sql:112-114,
  :429-430).
- Arrow on: columnar driver handoff for the `toPandas` exit surface
  (reference hands aggregates to pandas, btc_logregression_pre.py:26).
- UTC session timezone: date truncation must agree with the
  timezone-naive DuckDB oracle regardless of host TZ.
- shuffle.partitions defaults to the local core count; on a real
  cluster this is overridden (and AQE coalescing makes the initial
  number less critical). Streaming state partitions follow it too.

`tune_session` is the only place the package writes SQL conf. A
session is shared by every thread that plans on it, so no query,
loop or stream changes a conf mid-flight: iterative ML and streams
run under the same tuned conf as the SQL around them.

Sessions built by `get_spark` turn off PySpark's DataFrame call-site
capture (`spark.python.sql.dataFrameDebugging.enabled=false`). With it
on, every `pyspark.sql.functions` call and every `Column` method walks
the Python stack and makes about ten extra py4j round trips (to read
the active session and a conf, and to set and clear the origin): two
thirds of the round trips that built the ledger pipeline. What a user
loses: an error raised by a DataFrame expression no longer names the
Python file and line that built it; its error class and message are
unchanged. The key is a static conf, so it is set on the builder and
not in `RUNTIME_CONF`. PySpark reads it once per process, from the
session active at the first wrapped call, so a session the caller
built itself (one passed into `queries()`, say) keeps its own setting.

Sessions built by `get_spark` also start their Python workers from
`bitcoin_olap_spark.pyworker` (the static conf
`spark.python.daemon.module`), with the package's parent directory on
`spark.executorEnv.PYTHONPATH` so a worker finds it whatever the
driver's working directory. Spark's own daemon imports PySpark from
`pyspark.zip` and the `spark-core` jar, and every task's
`importlib.invalidate_caches()` then re-reads those archives: 110-150 ms
per Python task on 4 vCPUs, about a quarter of `sim_topk_ivf`. The
daemon drops the archives from `sys.path` only when the rest of the
path imports a PySpark of the archived version (and a py4j); otherwise
it is Spark's daemon unchanged. A session the caller builds itself
(one passed into `queries()`, say) keeps Spark's default daemon.
"""

from __future__ import annotations

import atexit
import logging
import os
import shutil

from pyspark.sql import SparkSession

#: the directory that holds the `bitcoin_olap_spark` package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def scratch_root(kind: str) -> str:
    """Process-scoped scratch directory, on tmpfs when the host has one.

    Shuffle files, streaming checkpoints, and scratch sinks are I/O the
    engine does NOT want to pay disk latency for on a single box (a
    real cluster puts spark.local.dir on local NVMe); /dev/shm is the
    local stand-in. Falls back to the system tempdir."""
    import tempfile

    base = "/dev/shm" if os.path.isdir("/dev/shm") and os.access(
        "/dev/shm", os.W_OK
    ) else tempfile.gettempdir()
    path = os.path.join(base, f"bitcoin_olap_spark-{kind}-{os.getpid()}")
    if path not in _SCRATCH_DIRS:
        os.makedirs(path, exist_ok=True)
        _SCRATCH_DIRS.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


#: scratch dirs created by this process — removed at interpreter exit so
#: tmpfs does not accumulate leftovers across bench/test/driver runs
_SCRATCH_DIRS: set[str] = set()


#: Runtime-settable confs applied even to an externally owned session
#: (the verify driver owns the session passed into `queries()`).
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # testdata events.ts is parquet TIMESTAMP(NANOS) which the Spark
    # reader rejects; read as long and convert in catalog.table (DuckDB
    # likewise truncates ns -> us on CAST to TIMESTAMP)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Spark's default INT96 timestamps carry no parquet footer min/max,
    # so ACID tables (operators/acidtable) could never skip a file on a
    # TIMESTAMP column; INT64 micros keep the footer statistics
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # our streaming queries are one-shot availableNow runs: the
    # periodic state-store maintenance task (default 60s) only burns
    # CPU snapshotting already-finished stores — measured as periodic
    # multi-second slowdowns on whatever query runs when it fires. A
    # long-lived production stream would keep the default.
    "spark.sql.streaming.stateStore.maintenanceInterval": "3600s",
    # r10: split sizing for SMALL multi-row-group files. Spark's split
    # width is min(maxPartitionBytes, max(openCostInBytes,
    # bytes/defaultParallelism)); the 4 MB openCost default leaves a
    # 14 MB fact table at ~4 splits on a 32-core box. 1 MB fills the
    # cores on the spread sf0.1 layout — measured on lineitem queries
    # (min of 3): flt_ts_range 0.33 -> 0.15 s, join_hash_on_txid
    # 1.59 -> 0.72 s vs the spread default. Production-size files
    # (>= maxPartitionBytes) are unaffected; the tradeoff (more tasks
    # when packing many tiny files) is the right side to err on for
    # an engine whose scans should never be narrower than the cluster.
    "spark.sql.files.openCostInBytes": str(1024 * 1024),
}


def _runtime_conf() -> dict[str, str]:
    return {
        **RUNTIME_CONF,
        # default root for streaming checkpoints (each query still gets
        # its own subdirectory via queryName) — tmpfs, not disk
        "spark.sql.streaming.checkpointLocation": scratch_root("ckpt"),
        # runtime-settable (unlike most builder confs): a DRIVER-OWNED
        # session arrives with the 200-partition default, which is pure
        # scheduling overhead at local scale — tune_session resizes it
        # to the core count just like the builder path does. AQE
        # coalescing makes the exact number non-critical either way.
        "spark.sql.shuffle.partitions": str(default_parallelism()),
    }


def default_parallelism() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or 0) or os.cpu_count() or 8
    except ValueError:
        return os.cpu_count() or 8


def get_spark(
    app_name: str = "bitcoin-olap-spark",
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine."""
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        # static: no call-site capture per Column call (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # static: workers import the installed PySpark, not Spark's
        # zips (module docstring)
        .config("spark.python.daemon.module", "bitcoin_olap_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # shuffle/spill files on tmpfs — local[] has no NVMe-backed
        # spark.local.dir, and /tmp here is spinning-disk-backed
        .config("spark.local.dir", scratch_root("local"))
        # A long suite generates thousands of whole-stage-codegen
        # classes (streaming micro-batches especially); the JVM default
        # ~240 MB code cache fills, the JIT shuts off, and every later
        # query runs interpreted — measured 3-5x slowdown on shuffle-
        # heavy queries late in a 146-query run. 1 GB keeps the JIT
        # alive for the whole suite. JVM-launch-time option: applies
        # when this builder creates the JVM (bench/tests); a
        # driver-owned session keeps its own launch options.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g",
        )
    )
    for k, v in _runtime_conf().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    tune_session(spark)
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to any session, best-effort.

    Called at the top of every registered query so behavior is stable
    even when the driver constructed the session. A key the session
    refuses is skipped with one logged warning per process.
    """
    for k, v in _runtime_conf().items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            # a static key (settable only on the builder) or a build that
            # lacks the key: say so once, not on every query
            if k not in _WARNED_KEYS:
                _WARNED_KEYS.add(k)
                logging.getLogger(__name__).warning(
                    "tune_session: cannot set %s=%s on this session: %s",
                    k, v, exc,
                )
    return spark


#: RUNTIME_CONF keys whose `tune_session` failure was already logged
_WARNED_KEYS: set[str] = set()
