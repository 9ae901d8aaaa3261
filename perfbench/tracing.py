"""Traced runs: spans recorded from the benchmark's own files, Spark job
counts per job group and event-log task metrics.

Spans wrap calls into the package's public functions. The wrappers are
installed by replacing module attributes before the query modules are
imported (they bind some names at import time), so an untraced run
executes the package exactly as shipped.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: (module, attribute, span name) wrapped in a traced run. Package
#: re-exports are listed too, because callers import either name.
WRAPPED = [
    ("bitcoin_olap_spark.session", "tune_session", "session.tune_session"),
    ("bitcoin_olap_spark.catalog", "table", "catalog.table"),
    ("bitcoin_olap_spark.plans.ledger", "ledger_pipeline", "plans.ledger.pipeline_build"),
    ("bitcoin_olap_spark.plans", "ledger_pipeline", "plans.ledger.pipeline_build"),
    ("bitcoin_olap_spark.ml.regression", "loglog_ols_exact", "ml.regression.ols"),
    ("bitcoin_olap_spark.ml", "loglog_ols_exact", "ml.regression.ols"),
    ("bitcoin_olap_spark.ml.clustering", "lloyd_fixed", "ml.clustering.kmeans"),
]


class Tracer:
    """In-memory span recorder. A span has a name, start, end (epoch
    seconds), parent span id and the id of the benchmark operation it
    belongs to; the parent is the innermost open span of the same
    thread. While `enabled` is false in a thread, its spans and the
    installed wrappers record nothing: the untraced share of a traced
    run, the baseline of `bench.trace_overhead.*`."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._epoch = time.time() - time.perf_counter()

    @property
    def enabled(self) -> bool:
        return getattr(self._local, "enabled", True)

    @enabled.setter
    def enabled(self, on: bool) -> None:
        self._local.enabled = on

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            **attrs,
        }
        stack.append(rec)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            stack.pop()
            rec["start"] = self._epoch + t0
            rec["end"] = self._epoch + t1
            with self._lock:
                self.spans.append(rec)

    def install(self) -> None:
        """Wrap the public functions in WRAPPED (idempotent per process)."""
        for mod_name, attr, span_name in WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            if getattr(fn, "_perfbench", False):
                continue
            wrapper = self._catalog_wrapper(fn) if span_name == "catalog.table" else None
            setattr(mod, attr, wrapper or self._wrapper(fn, span_name))

    def _wrapper(self, fn, name):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        traced._perfbench = True
        return traced

    def _catalog_wrapper(self, fn):
        """catalog.table, marking each span a memo hit when the call
        returns the very DataFrame object an earlier call with the same
        arguments returned (the catalog added no memo entry)."""
        seen: dict = {}

        @functools.wraps(fn)
        def traced(spark, sf_dir, name, spread=False):
            key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name, spread)
            with self.span("catalog.table", table=name) as rec:
                df = fn(spark, sf_dir, name, spread)
                rec["memo_hit"] = seen.get(key) is df
            seen[key] = df
            return df

        traced._perfbench = True
        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s) + "\n")

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        covered by child spans (children's intervals merged)."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], ())):
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under a job group, from the live
    status tracker."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            sinfo = st.getStageInfo(sid)
            tasks += sinfo.numTasks if sinfo is not None else 0
    return len(jobs), stages, tasks


def event_log_metrics(log_dir: str, windows=()) -> dict[str, dict[str, float]]:
    """Spark work per operation from the event logs: jobs, tasks,
    shuffle bytes written/read, spill bytes, GC and task run seconds.

    A job belongs to its job group, or, when `windows` ((start, end,
    key) in epoch seconds, not overlapping) are given, to the window
    holding its submission time: streaming micro-batches run under
    their query's own job group."""
    import bisect

    wins = sorted(windows)
    starts = [w[0] for w in wins]

    def key_of(ev):
        if wins:
            t = ev.get("Submission Time", 0) / 1000.0
            i = bisect.bisect_right(starts, t) - 1
            return wins[i][2] if i >= 0 and t <= wins[i][1] else None
        return (ev.get("Properties") or {}).get("spark.jobGroup.id")

    stage_group: dict[tuple[str, int], str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    # one file per application, or (rolling logs) one directory per
    # application holding numbered event files
    paths = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
        if not f.startswith("appstatus")
    )
    for path in paths:
        app = os.path.dirname(path) if os.path.dirname(path) != log_dir else path
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = key_of(ev)
                    if group:
                        out[group]["jobs"] += 1
                        for sid in ev.get("Stage IDs", ()):
                            stage_group[(app, sid)] = group
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get((app, ev.get("Stage ID")))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = out[group]
                    g["tasks"] += 1
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    g["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
    return {k: dict(v) for k, v in out.items()}
