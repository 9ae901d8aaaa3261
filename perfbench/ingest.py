"""`ledger_ingest`: writes beside reads on one ACID ledger table.

Three threads share one SparkSession:

- generator (open loop): batch i is due at start + i * TICK_S and is
  queued at its due time whether or not the writer has caught up;
- writer: takes batches in order and commits them through
  `acidtable.append`; on the op log's schedule it also runs
  `merge_upsert` (every 5th tick), `delete_where` (every 8th) and
  `optimize` (every 20th). A batch's commit latency runs from its due
  time to its append returning, so backlog counts; its append time is
  the `acidtable.append` call alone. The writer stops at the end of
  the run; a batch still queued then counts with the time it had
  waited;
- reader (closed loop, one client): pins the current version and
  alternates a `snapshot_pruned` 2-day `ts` range sum with a full
  `snapshot` daily rollup; each call, up to its collected result, is
  one read.

End-to-end: `latency_geomean_s` is the geometric mean of the two read
kinds' median latencies and `pass_s` the median append time, both
scaled by the run's `common.StealClock` factor. The commit latency
from the due time is reported but not bounded: in an open loop a
slowed host queues batches behind the merges, so it grows far faster
than the host slows (up to 7x in runs that lost 75% of their vCPU
time). A traced run traces a seeded half of the ticks and every other
read; the rest is the baseline of `bench.trace_overhead.*`.

After the run the table is checked against a DuckDB replay of the
committed op log: the full final snapshot row by row, and every
reader result whose pinned version is in a seeded sample.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import queue
import random
import statistics
import threading
import time

import common as C

#: writer tick period. With the reader running on 4 cores an append
#: takes ~0.6 s, a merge ~2.3 s, a delete ~0.9 s and an optimize ~1 s,
#: so the op log's steady mix costs ~1.25 s per tick: 3 s per tick loads
#: the writer to about 40% of its capacity. At that load a host about
#: 1.3x slower than usual still commits each batch before the next is
#: due, so commit latency follows host speed. At 2 s per tick, by the
#: same op times, a 1.25x slower host queues the batches behind the
#: first merge and the median commit latency grows about 1.7x
TICK_S = 3.0
#: reader range width
RANGE_DAYS = 2
#: pinned reader results checked against the replay, besides the final
CHECKED_READS = 6


def run(seconds: float, seed: int, tracer) -> dict:
    import gen_ledger

    gen_dir = os.path.join(C.WORK, "inputs")
    max_ticks = int(seconds / TICK_S) + 1
    sizes = gen_ledger.write(seed, gen_dir, max_ticks)
    with open(os.path.join(gen_dir, "oplog.json")) as f:
        oplog = json.load(f)

    from pyspark.sql import functions as F

    from bitcoin_olap_spark.operators import acidtable as AT

    def ready(spark, i):
        d = C.link_copy(gen_dir, os.path.join(C.WORK, f"data{i}"))
        root = os.path.join(C.WORK, f"table{i}")
        AT.init_table(
            spark, root, spark.read.parquet(os.path.join(d, "base.parquet")),
            stats_cols=("ts",),
        )
        return d, root

    spark, (data_dir, root), setup_s, cold_s = C.timed_setups(ready, tracer)
    sc = spark.sparkContext
    span = tracer.span if tracer is not None else _no_span

    # a traced run traces every other read and a seeded half of the
    # ticks: by parity, the ticks that follow a merge or delete (and
    # wait for it) would all fall on one side
    due_ticks = sum(1 for i in range(max_ticks) if i * TICK_S < seconds)
    traced_ticks = set(random.Random(seed).sample(range(due_ticks), due_ticks // 2))

    def traced(n: int, tick: bool = False) -> bool:
        """Whether read n (or tick n) is traced."""
        return tracer is not None and (n in traced_ticks if tick else n % 2 == 1)

    def job_group(n: int, group: str, desc: str, tick: bool = False) -> None:
        """Tag this thread's next Spark jobs with a job group when read
        (or tick) n is traced; untag them when it is not."""
        if traced(n, tick):
            sc.setJobGroup(group, desc)
        elif tracer is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)

    ops_by_tick: dict[int, list[dict]] = {}
    for op in oplog:
        ops_by_tick.setdefault(op["tick"], []).append(op)

    due_q: queue.Queue = queue.Queue()
    stop = threading.Event()
    committed: list[dict] = []  # op log entries plus version and seconds
    commit_lat: list[tuple[int, float]] = []  # (tick, seconds from due)
    gen_late: list[float] = []
    backlog = {"max": 0, "pending": 0}
    reads: list[dict] = []
    errors: list[str] = []
    lock = threading.Lock()
    t_start = time.perf_counter() + 0.05
    t_stop = t_start + seconds

    def generator():
        i = 0
        while True:
            due = t_start + i * TICK_S
            if due >= t_stop or i >= max_ticks:
                break
            time.sleep(max(0.0, due - time.perf_counter()))
            gen_late.append(time.perf_counter() - due)
            with lock:
                backlog["pending"] += 1
                backlog["max"] = max(backlog["max"], backlog["pending"])
            due_q.put((i, due))
            i += 1
        due_q.put(None)

    def write_op(op):
        path = os.path.join(data_dir, op.get("file", ""))
        kind = op["kind"]
        with span(f"operators.acidtable.{kind}", op=f"tick{op['tick']}"):
            job_group(op["tick"], f"tick{op['tick']}:{kind}", kind, tick=True)
            t0 = time.perf_counter()
            if kind == "append":
                v = AT.append(spark, root, spark.read.parquet(path), stats_cols=("ts",))
            elif kind == "merge":
                v = AT.merge_upsert(spark, root, spark.read.parquet(path), ["row_id"])
            elif kind == "delete":
                cond = (F.col("sat") < op["sat_lt"]) & (
                    F.col("ts") >= F.lit(_ts(op["ts_ge_us"]))
                )
                v = AT.delete_where(spark, root, cond)
            else:
                v = AT.optimize(spark, root)
        committed.append({**op, "version": v, "s": time.perf_counter() - t0})

    def writer():
        while (item := due_q.get()) is not None:
            i, due = item
            if tracer is not None:
                tracer.enabled = traced(i, tick=True)
            try:
                if time.perf_counter() >= t_stop:
                    commit_lat.append((i, time.perf_counter() - due))
                    continue
                for n, op in enumerate(ops_by_tick[i]):
                    write_op(op)
                    if n == 0:
                        commit_lat.append((i, time.perf_counter() - due))
            except Exception as exc:
                errors.append(f"writer tick {i}: {type(exc).__name__}: {exc}"[:500])
                stop.set()
            finally:
                with lock:
                    backlog["pending"] -= 1
        stop.set()

    rng = random.Random(seed)
    t_lo = sizes["t_first_us"]
    t_hi = sizes["t_last_us"] - RANGE_DAYS * 86_400_000_000

    def reader():
        n = 0
        while not stop.is_set():
            n += 1
            rec = {"n": n}
            if tracer is not None:
                tracer.enabled = traced(n)
            try:
                v = AT.current_version(root)
                lo_us = rng.randrange(t_lo, t_hi)
                lo, hi = _ts(lo_us), _ts(lo_us + RANGE_DAYS * 86_400_000_000)
                job_group(n, f"read{n}", "read")
                t0 = time.perf_counter()
                with span("operators.acidtable.snapshot_pruned", op=f"read{n}"):
                    df, n_read, n_total = AT.snapshot_pruned(spark, root, "ts", lo, hi, version=v)
                    r = df.agg(F.count("*").alias("n"), F.sum("sat").alias("s")).collect()[0]
                t1 = time.perf_counter()
                with span("operators.acidtable.snapshot", op=f"read{n}"):
                    roll = (
                        AT.snapshot(spark, root, version=v)
                        .groupBy(F.date_trunc("day", "ts").alias("day"))
                        .agg(F.count("*").alias("n"), F.sum("sat").alias("s"))
                        .collect()
                    )
                t2 = time.perf_counter()
                rec.update(
                    version=v, lo_us=lo_us, pruned=(r["n"], r["s"] or 0),
                    rollup=sorted((x["day"].isoformat(), x["n"], x["s"]) for x in roll),
                    pruned_s=t1 - t0, full_s=t2 - t1,
                    files_read=n_read, files_total=n_total,
                )
                reads.append(rec)
            except Exception as exc:
                errors.append(f"reader {n}: {type(exc).__name__}: {exc}"[:500])
                stop.set()

    threads = [threading.Thread(target=f, name=f.__name__) for f in (generator, writer, reader)]
    clock = C.StealClock()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    run_s, stolen_s, got = clock.wall(), clock.stolen_s(), clock.factor()

    rss = C.peak_rss_mb(spark)
    attempted = len(committed) + len(reads) + len(errors)
    failed = len(errors)
    checks = _check(spark, root, gen_dir, committed, reads, seed)
    attempted += checks["attempted"]
    failed += len(checks["errors"])
    errors += checks["errors"]
    data_bytes = _live_bytes(root)
    user_bytes = sum(
        os.path.getsize(os.path.join(gen_dir, op["file"]))
        for op in committed if op["kind"] in ("append", "merge")
    ) + os.path.getsize(os.path.join(gen_dir, "base.parquet"))
    # steal-adjusted latencies
    for r in reads:
        r["pruned_s"] *= got
        r["full_s"] *= got
    commit_lat = [(i, s * got) for i, s in commit_lat]
    for o in committed:
        o["s"] *= got
    geomean_s, append_s = _metrics(reads, committed)
    pruned_s = [r["pruned_s"] for r in reads]
    full_s = [r["full_s"] for r in reads]
    commit_all = [s for _, s in commit_lat]
    result = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "sizes": {**sizes, "ticks_committed": len(commit_lat)},
        "samples": len(pruned_s) + len(full_s),
        "commits": len(commit_lat),
        "metrics": {
            "setup_s": C.metric(setup_s, "s"),
            "latency_geomean_s": C.metric(geomean_s, "s"),
            "pass_s": C.metric(append_s, "s"),
        },
        "extra": {
            "read_p50_s": C.pct(pruned_s + full_s, 50),
            "read_p90_s": C.pct(pruned_s + full_s, 90),
            "peak_rss_mb": rss,
            "commit_p50_s": C.pct(commit_all, 50),
            "commit_p90_s": C.pct(commit_all, 90),
            "bytes_per_user_byte": data_bytes / user_bytes,
            "measured_s": run_s,
            "stolen_s": stolen_s,
            "steal_factor": got,
            "cold_setup_s": cold_s,
        },
    }
    spark.stop()
    if tracer is not None:
        tracer.enabled = True
        try:
            t_metrics = _metrics([r for r in reads if traced(r["n"])],
                                 [o for o in committed if traced(o["tick"], tick=True)])
            p_metrics = _metrics([r for r in reads if not traced(r["n"])],
                                 [o for o in committed if not traced(o["tick"], tick=True)])
        except statistics.StatisticsError:  # a side with no append or read
            t_metrics = p_metrics = (1.0, 1.0)
        result["overhead"] = {
            name: t / p for name, t, p in zip(("latency_geomean_s", "pass_s"), t_metrics, p_metrics)
        }
        committed = [o for o in committed if traced(o["tick"], tick=True)]
        reads = [r for r in reads if traced(r["n"])]
        result["layers"] = _layers(tracer, committed, reads, gen_late, backlog, cold_s,
                                   user_bytes, root)
    return result


def _metrics(reads: list[dict], committed: list[dict]) -> tuple[float, float]:
    """(geometric mean of the two read kinds' median latencies, median
    append time)."""
    return (
        C.geomean([statistics.median(r["pruned_s"] for r in reads),
                   statistics.median(r["full_s"] for r in reads)]),
        statistics.median(o["s"] for o in committed if o["kind"] == "append"),
    )


def _ts(us: int) -> dt.datetime:
    return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)


def _no_span(name, op=None):
    from contextlib import nullcontext

    return nullcontext()


def _live_bytes(root: str) -> int:
    from bitcoin_olap_spark.operators import acidtable as AT

    return sum(os.path.getsize(f) for f in AT.read_manifest(root)["files"])


def _check(spark, root, gen_dir, committed, reads, seed) -> dict:
    """Replay the committed op log in DuckDB; compare the final snapshot
    row by row and a seeded sample of pinned reader results."""
    from bitcoin_olap_spark.operators import acidtable as AT
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM '{gen_dir}/base.parquet'")
    final_v = AT.current_version(root)
    sample = random.Random(seed + 1).sample(reads, min(CHECKED_READS, len(reads)))
    by_v: dict[int, list[dict]] = {}
    for r in sample:
        by_v.setdefault(r["version"], []).append(r)
    errors: list[str] = []
    attempted = 1 + len(sample)

    def check_reads(v):
        for r in by_v.get(v, ()):
            lo = r["lo_us"]
            hi = lo + RANGE_DAYS * 86_400_000_000
            n, s = con.execute(
                f"SELECT count(*), coalesce(sum(sat), 0) FROM t WHERE ts BETWEEN "
                f"make_timestamp({lo}) AND make_timestamp({hi})"
            ).fetchone()
            if (n, s) != tuple(r["pruned"]):
                errors.append(f"pruned read at v{v}: got {r['pruned']} want {(n, s)}")
            roll = sorted(
                (d.isoformat(), c, x)
                for d, c, x in con.execute(
                    "SELECT date_trunc('day', ts)::TIMESTAMP, count(*), sum(sat) "
                    "FROM t GROUP BY 1"
                ).fetchall()
            )
            if roll != r["rollup"]:
                errors.append(f"rollup read at v{v}: {len(r['rollup'])} days differ")

    check_reads(0)
    for op in sorted(committed, key=lambda o: o["version"]):
        kind = op["kind"]
        if kind == "append":
            con.execute(f"INSERT INTO t SELECT * FROM '{gen_dir}/{op['file']}'")
        elif kind == "merge":
            f = f"'{gen_dir}/{op['file']}'"
            con.execute(f"DELETE FROM t WHERE row_id IN (SELECT row_id FROM {f})")
            con.execute(f"INSERT INTO t SELECT * FROM {f}")
        elif kind == "delete":
            con.execute(
                f"DELETE FROM t WHERE sat < {op['sat_lt']} "
                f"AND ts >= make_timestamp({op['ts_ge_us']})"
            )
        check_reads(op["version"])
    got = (
        AT.snapshot(spark, root, version=final_v)
        .select("row_id", "addr", "ts", "sat").toPandas()
        .sort_values("row_id").reset_index(drop=True)
    )
    want = con.execute("SELECT row_id, addr, ts, sat FROM t ORDER BY row_id").df()
    for df in (got, want):
        df["ts"] = df["ts"].astype("datetime64[us]").astype("int64")
    bad = [
        c for c in ("row_id", "addr", "ts", "sat")
        if len(got) != len(want) or not (got[c].to_numpy() == want[c].to_numpy()).all()
    ]
    if bad:
        errors.append(
            f"final snapshot v{final_v}: {len(got)} rows vs replay {len(want)}, "
            f"columns differ: {bad}"
        )
    con.close()
    return {"attempted": attempted, "errors": errors}


def _layers(tracer, committed, reads, gen_late, backlog, cold_s, user_bytes, root):
    from bitcoin_olap_spark.operators import acidtable as AT

    L: dict = {"session.get_spark_s": cold_s}
    for kind in ("append", "merge", "delete", "optimize"):
        xs = [o["s"] for o in committed if o["kind"] == kind]
        name = {"merge": "merge_upsert", "delete": "delete_where"}.get(kind, kind)
        if xs:
            L[f"operators.acidtable.{name}_p50_s"] = C.pct(xs, 50)
            L[f"operators.acidtable.{name}_p90_s"] = C.pct(xs, 90)
    for key, field in (("snapshot_pruned", "pruned_s"), ("snapshot", "full_s")):
        xs = [r[field] for r in reads]
        if xs:
            L[f"operators.acidtable.{key}_p50_s"] = C.pct(xs, 50)
            L[f"operators.acidtable.{key}_p90_s"] = C.pct(xs, 90)
    if reads:
        L["operators.acidtable.files_read_ratio"] = statistics.mean(
            r["files_read"] / max(1, r["files_total"]) for r in reads
        )
        L["operators.acidtable.live_files_over_time"] = [r["files_total"] for r in reads]
    L["operators.acidtable.live_files"] = len(AT.read_manifest(root)["files"])
    L["operators.acidtable.versions"] = AT.current_version(root) + 1
    written = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(os.path.join(root, "data"))
        for f in fs if f.endswith(".parquet")
    )
    L["operators.acidtable.write_amp"] = written / user_bytes
    L["bench.gen_late_p90_s"] = C.pct(gen_late, 90) if gen_late else 0.0
    L["bench.backlog_max"] = backlog["max"]
    L["self_s"] = tracer.self_times()
    return L
