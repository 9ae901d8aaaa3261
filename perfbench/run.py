#!/usr/bin/env python3
"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed under perfbench/_work/, runs them against the `bitcoin_olap_spark`
package, checks the outputs against DuckDB, and prints as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json;
with `--trace 1` they are the per-layer metrics, the full layer report
is printed on the line before, and the spans are written to
perfbench/_work/spans-<workload>-<seed>.jsonl. A traced run traces
every other timed pass, tick or read; the ones in between are the
baseline of `bench.trace_overhead.*`.

Exits 1 when any output mismatches its oracle or an operation raises,
and 2 when the package is not importable from the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("query_mix", "ledger_ingest")


def _per_layer_metrics(res: dict, tracer) -> dict:
    """The per_layer metrics of BENCHMARK.json: measured on every
    workload (the layer report holds the workload-specific ones). The
    event log is parsed once, here; the layer report gets its totals."""
    import common as C

    from tracing import event_log_metrics

    L = res["layers"]
    ev = event_log_metrics(os.path.join(C.WORK, "eventlog"), res.get("windows", ()))
    tot: dict[str, float] = {}
    for g in ev.values():
        for k, v in g.items():
            tot[k] = tot.get(k, 0.0) + v
    # wall time of the traced operations: the jobs above are theirs
    op_s = sum(
        s["end"] - s["start"] for s in tracer.spans
        if s["parent"] is None and s["op"] is not None
    )
    m = {
        "session.get_spark_s": C.metric(L["session.get_spark_s"], "s"),
        "mem.peak_rss_mb": C.metric(res["extra"]["peak_rss_mb"], "MB"),
        "spark.task_run_s": C.metric(tot.get("task_run_s", 0.0), "s"),
        "spark.gc_s": C.metric(tot.get("gc_s", 0.0), "s"),
        "spark.jobs": C.metric(tot.get("jobs", 0.0), "count"),
        "spark.tasks": C.metric(tot.get("tasks", 0.0), "count"),
        "spark.shuffle_write_bytes": C.metric(tot.get("shuffle_write_bytes", 0.0), "bytes"),
        "spark.core_busy_ratio": C.metric(
            tot.get("task_run_s", 0.0) / (op_s * res["env"]["nproc"]), "ratio"
        ),
    }
    # traced ÷ untraced share of the run, per per-operation end-to-end
    # metric: job groups, status-tracker probes and span wrappers (the
    # event log is on for both shares)
    for name, ratio in res["overhead"].items():
        m[f"bench.trace_overhead.{name}"] = C.metric(ratio, "ratio")
    L["spark.totals"] = tot
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description="bitcoin_olap_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import bitcoin_olap_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: run from the repository root ({exc})", file=sys.stderr)
        return 2

    import common as C

    os.environ["TZ"] = "UTC"
    time.tzset()
    C.fresh_work()
    env = C.pin_env(bool(args.trace))
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()

    t0 = time.perf_counter()
    try:
        if args.workload == "ledger_ingest":
            import ingest

            res = ingest.run(args.seconds, args.seed, tracer)
        else:
            import mix

            res = mix.run(args.seed, args.seconds, tracer)
    finally:
        C.stop_jvm()
    res["env"] = env
    res["extra"]["total_s"] = time.perf_counter() - t0

    metrics = res["metrics"]
    if tracer is not None:
        metrics = _per_layer_metrics(res, tracer)
        spans = os.path.join(C.WORK, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.write(spans)
        res["layers"]["spans_file"] = os.path.relpath(spans, root)
        print("perfbench layers " + json.dumps(res["layers"], sort_keys=True, default=str))
    for e in res["errors"]:
        print(f"perfbench error: {e}", file=sys.stderr)
    info = {k: res.get(k) for k in ("sizes", "samples", "passes", "commits", "env", "extra")}
    info["error_rate"] = res["failed"] / res["attempted"]
    print("perfbench run " + json.dumps(info, sort_keys=True, default=str))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0 if res["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
