"""Harness pieces shared by the workloads: pinned environment, Spark
set-up timing, steal-adjusted clocks, peak RSS, percentiles and DuckDB
views of the inputs."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
#: everything a run writes lives here (inputs, table roots, Spark scratch,
#: event logs, spans); removed and recreated by every run
WORK = os.path.join(HERE, "_work")

#: JVM heap: far below host RAM so several runs can share a machine
JVM_HEAP = "2g"
#: set-ups timed per run after the cold one; setup_s is their median
SETUP_REPS = 3
#: how much of the stolen time StealClock takes to be on the critical
#: path, as an exponent on the no-steal share of a window. Fitted on 40
#: runs (seeds 11-20, two sweeps) whose vCPUs lost 0-75% of their time:
#: 1 (all of it) over-corrected the heavily stolen runs and left the
#: metrics' spreads at 0.08-0.42, 0.5 brought the closed-loop ones to
#: 0.06-0.11, and 0 (no correction) left 0.2-0.8
STEAL_EXPONENT = 0.5


def pin_env(trace: bool) -> dict:
    """Pin the Spark environment before the JVM starts and return the
    recorded environment (cores, memory, versions)."""
    cpus = str(len(os.sched_getaffinity(0)))
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["TMPDIR"] = tmp
    # every JVM the run starts (the spark-submit launcher too): temp files
    # under WORK, and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = [
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
    ]
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{log_dir}",
            "--conf spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf) + " pyspark-shell"
    _pin_scratch()
    import duckdb
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(x for x in f if x.startswith("MemTotal")).split()[1])
    return {
        "nproc": int(cpus),
        "mem_total_mb": mem_kb // 1024,
        "jvm_heap": JVM_HEAP,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
    }


def _pin_scratch() -> None:
    """Point the package's scratch directories (streaming checkpoints
    and sinks, shard copies) into WORK instead of /dev/shm, so a run
    writes only inside its checkout. Done before the query modules are
    imported, because some of them call `scratch_root` at import."""
    from bitcoin_olap_spark import session

    def scratch_root(kind: str) -> str:
        path = os.path.join(WORK, "scratch", kind)
        os.makedirs(path, exist_ok=True)
        return path

    session.scratch_root = scratch_root


def fresh_work() -> None:
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)


def link_copy(src_dir: str, dst_dir: str) -> str:
    """Hard-link every parquet file of src_dir into dst_dir: identical
    bytes under a new path, so the catalog's per-path memo and shard
    copies start cold for each timed set-up."""
    os.makedirs(dst_dir, exist_ok=True)
    for f in os.listdir(src_dir):
        if f.endswith(".parquet"):
            os.link(os.path.join(src_dir, f), os.path.join(dst_dir, f))
    return dst_dir


def start_spark(tracer=None):
    """session.get_spark plus the warm-up query; returns (spark, s)."""
    from bitcoin_olap_spark import session

    t0 = time.perf_counter()
    with _span(tracer, "session.get_spark"):
        spark = session.get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(200_000).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


def timed_setups(ready, tracer=None):
    """One cold set-up (JVM launch) followed by SETUP_REPS restarts of
    the Spark application in the same JVM. `ready(spark, i)` finishes
    set-up i (table loads, table init) and returns its state. Returns
    (spark, state, setup_s: median steal-adjusted time of the restarts,
    cold seconds)."""
    spark, cold = start_spark(tracer)
    t0 = time.perf_counter()
    state = ready(spark, 0)
    cold += time.perf_counter() - t0
    times = []
    for i in range(1, SETUP_REPS + 1):
        spark.stop()
        clock = StealClock()
        spark, _ = start_spark(tracer)
        state = ready(spark, i)
        times.append(clock.adjusted())
    return spark, state, statistics.median(times), cold


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit (it also
    ends the Python workers it started)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _span(tracer, name):
    from contextlib import nullcontext

    return tracer.span(name) if tracer is not None else nullcontext()


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus the Spark JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb() + vm_hwm_mb(jvm_pid)


def cpu_steal_s() -> list[float]:
    """Seconds the hypervisor has stolen from each vCPU since boot (the
    steal column of the cpuN lines of /proc/stat)."""
    hz = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat") as f:
        return [
            int(line.split()[8]) / hz
            for line in f if line.startswith("cpu") and line[3].isdigit()
        ]


class StealClock:
    """Wall clock of a timed window plus each vCPU's stolen time over it.

    On a shared host the hypervisor deschedules this VM's vCPUs while
    other guests run, for minutes at a time, and every timing stretches
    with it. A vCPU accrues steal only while it has work to run. The
    work here is a chain of Spark stages that each wait for their
    slowest task, and of driver steps on one thread, so a descheduled
    vCPU can hold up the whole result, not only a 1/nproc share of it;
    but a task with slack before its stage ends absorbs some of it.
    prod_i (1 - stolen_i / wall) is the share of the window in which no
    vCPU was descheduled (taking their steal as independent): the
    factor if every stolen second lay on the critical path. `factor()`
    is that share to the power STEAL_EXPONENT, and `adjusted()` the wall
    time times it: the time the window would have taken had nothing
    been stolen. Without steal both equal the plain figures."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.steal0 = cpu_steal_s()

    def wall(self) -> float:
        return time.perf_counter() - self.t0

    def stolen_s(self) -> float:
        """Stolen seconds, summed over the vCPUs."""
        return sum(b - a for a, b in zip(self.steal0, cpu_steal_s()))

    def factor(self, wall: float | None = None) -> float:
        wall = self.wall() if wall is None else wall
        f = 1.0
        for a, b in zip(self.steal0, cpu_steal_s()):
            f *= max(0.0, 1.0 - (b - a) / wall)
        return f ** STEAL_EXPONENT

    def adjusted(self) -> float:
        wall = self.wall()
        return wall * self.factor(wall)


def geomean(values) -> float:
    xs = list(values)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def duck_views(data_dir: str):
    """A DuckDB connection with one view per parquet file in data_dir."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"'{os.path.join(data_dir, f)}'"
            )
    return con


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
