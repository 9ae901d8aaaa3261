"""`query_mix`: the analyst queries and the LLM-curation stages in one
closed loop with one client.

Every pass runs each registered query of the mix once, in a seeded
random order; the next query starts when the previous one's
noop-forced write returns. The mix holds short OLAP queries, where
per-query fixed cost (session tuning, catalog lookups, planning, job
scheduling) dominates, and curation stages over a 1,440-document
corpus, where kernels and shuffles dominate.

Per run: timed set-ups, then a check pass that runs every qid once,
collects it and compares it with its DuckDB oracle (this pass also
warms the JVM), then a fixed number of whole timed passes that fill
about `--seconds` (see PASS_S). A query's latency runs from calling
the registered function (building the DataFrame, eager actions
included) to the end of its noop-forced write, scaled by its pass's
`common.StealClock` factor (the share of the pass in which no vCPU was
descheduled by the hypervisor). End-to-end:
`latency_geomean_s` is the geometric mean over the mix's queries of
each query's median latency in the run, so every query weighs the
same and the short OLAP queries carry it; `pass_s` is the sum of those
medians, one typical pass, which the long curation stages and the
ledger pipeline carry.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import common as C

OLAP_QIDS = (
    "agg_daily_sum join_hash_on_txid flt_ts_range tpch_q1 ml_ols_loglog "
    "pipeline_ledger_e2e"
).split()

#: the curation pipeline: filter -> exact dedup -> chunk -> embed
CURATION_QIDS = "text_quality dedup_exact doc_chunk sim_topk_ivf".split()

QIDS = OLAP_QIDS + CURATION_QIDS

#: operators module whose kernels carry each curation stage
STAGE_MODULE = {
    "text_quality": "operators.text",
    "dedup_exact": "operators.dedup",
    "doc_chunk": "operators.chunking",
    "sim_topk_ivf": "operators.vectors",
}

#: a warm pass's typical wall time on a 4-core host: a run times
#: max(2, seconds // PASS_S) passes, so the amount of work (and of JVM
#: warm-up before each pass) is fixed by --seconds, not by the clock
PASS_S = 7.5

#: input sizes: sf0.01 tables; 1,200 base documents plus 120 exact and
#: 120 near copies; 600 clustered vectors
OLAP_SF = 0.01
DOCS, VECTORS = 1200, 600

#: tables each set-up loads through catalog.table: the ones the mix reads
TABLES = ("lineitem", "orders", "customer", "events", "documents", "embeddings")


def _generate(seed: int, out: str) -> dict:
    import gen_corpus
    import gen_tables

    return {
        **gen_tables.write(seed, out, OLAP_SF),
        **gen_corpus.write(seed, out, DOCS, VECTORS),
    }


def passes_for(seconds: float) -> int:
    return max(2, int(seconds // PASS_S))


def run(seed: int, seconds: float, tracer) -> dict:
    gen_dir = os.path.join(C.WORK, "inputs")
    sizes = _generate(seed, gen_dir)

    if tracer is not None:
        tracer.install()
    from bitcoin_olap_spark import catalog
    from bitcoin_olap_spark.registry import all_queries

    fns = all_queries()
    shard_copy_s: list[float] = []

    def ready(spark, i):
        d = C.link_copy(gen_dir, os.path.join(C.WORK, f"data{i}"))
        for name in TABLES:
            t0 = time.perf_counter()
            catalog.table(spark, d, name)
            catalog.table(spark, d, name, spread=True)
            if i == C.SETUP_REPS and sizes.get(name, 0) >= catalog.SHARD_MIN_ROWS:
                shard_copy_s.append(time.perf_counter() - t0)
        return d

    spark, data_dir, setup_s, cold_s = C.timed_setups(ready, tracer)
    sc = spark.sparkContext

    # check pass: every qid once, outside the timed region; the DuckDB
    # oracles run in one background thread meanwhile
    from bitcoin_olap_spark.registry import all_oracles
    from tests.oracle import compare

    oracles = all_oracles()
    t_check = time.perf_counter()
    attempted = failed = 0
    errors: list[str] = []
    check_q_s: dict[str, float] = {}
    con = C.duck_views(data_dir)
    con.execute("SET threads TO 2")
    with ThreadPoolExecutor(1) as pool:
        want = {q: pool.submit(lambda sql: con.execute(sql).df(), oracles[q]) for q in QIDS}
        for qid in QIDS:
            attempted += 1
            why = None
            t0 = time.perf_counter()
            try:
                compare(fns[qid](spark, data_dir), want[qid].result(), qid)
            except AssertionError as exc:  # mismatch
                why = str(exc) or f"{qid}: mismatch"
            except Exception as exc:  # a raising query is a counted failure
                why = f"{qid}: raised {type(exc).__name__}: {exc}"
            finally:
                spark.catalog.clearCache()
                check_q_s[qid] = round(time.perf_counter() - t0, 3)
            if why:
                failed += 1
                errors.append(why[:500])
    con.close()
    check_s = time.perf_counter() - t_check

    # timed passes. A traced run traces each query in every other pass,
    # half the queries starting with the first pass and half with the
    # second, so the warmer later passes fall on both sides; the
    # untraced runs of each query are the baseline of bench.trace_overhead
    rng = random.Random(seed)
    per_q: dict[str, list[dict]] = {q: [] for q in QIDS}
    passes: list[dict] = []
    n_op = 0
    for i in range(passes_for(seconds)):
        order = list(QIDS)
        rng.shuffle(order)
        clock = C.StealClock()
        recs = []
        for qid in order:
            n_op += 1
            attempted += 1
            op = f"{qid}#{n_op}"
            rec = {}
            traced = tracer is not None and (QIDS.index(qid) + i) % 2 == 0
            if tracer is not None:
                tracer.enabled = traced
            try:
                if traced:
                    rec = _traced_query(spark, sc, fns[qid], data_dir, op, tracer)
                    t0, t1, t2 = rec.pop("t")
                else:
                    t0 = time.perf_counter()
                    df = fns[qid](spark, data_dir)
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
            except Exception as exc:
                failed += 1
                errors.append(f"{qid}: raised {type(exc).__name__}: {exc}"[:500])
                continue
            finally:
                spark.catalog.clearCache()
            recs.append((qid, {"build_s": t1 - t0, "exec_s": t2 - t1, "op": op,
                               "traced": traced, **rec}))
        wall, stolen, got = clock.wall(), clock.stolen_s(), clock.factor()
        for qid, r in recs:
            r["lat_s"] = (r["build_s"] + r["exec_s"]) * got
            per_q[qid].append(r)
        passes.append({"wall_s": wall, "stolen_s": stolen, "steal_factor": got})
    if tracer is not None:
        tracer.enabled = True

    rss = C.peak_rss_mb(spark)
    spark.stop()
    geomean_s, pass_s, q_med = _metrics(per_q)
    lat = [r["lat_s"] for rs in per_q.values() for r in rs]
    result = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "sizes": sizes,
        "samples": len(lat),
        "passes": len(passes),
        "metrics": {
            "setup_s": C.metric(setup_s, "s"),
            "latency_geomean_s": C.metric(geomean_s, "s"),
            "pass_s": C.metric(pass_s, "s"),
        },
        "extra": {
            "latency_p50_s": C.pct(list(q_med.values()), 50),
            "latency_p90_s": C.pct(list(q_med.values()), 90),
            "olap_latency_geomean_s": C.geomean(q_med[q] for q in OLAP_QIDS if q in q_med),
            "curate_docs_per_s": sizes["documents"] / max(
                1e-9, sum(q_med.get(q, 0.0) for q in CURATION_QIDS)
            ),
            "pass_wall_s": [p["wall_s"] for p in passes],
            "stolen_s": [p["stolen_s"] for p in passes],
            "steal_factor": [p["steal_factor"] for p in passes],
            "peak_rss_mb": rss,
            "cold_setup_s": cold_s,
            "measured_s": sum(p["wall_s"] for p in passes),
            "check_pass_s": check_s,
            "check_query_s": check_q_s,
            "query_p50_s": {q: round(v, 4) for q, v in q_med.items()},
        },
    }
    if tracer is not None:
        traced_q = {q: [r for r in rs if r["traced"]] for q, rs in per_q.items()}
        plain_q = {q: [r for r in rs if not r["traced"]] for q, rs in per_q.items()}
        result["overhead"] = {
            name: t / p for name, t, p in zip(
                ("latency_geomean_s", "pass_s"), _metrics(traced_q), _metrics(plain_q)
            )
        }
        result["windows"] = op_windows(tracer)
        result["layers"] = _layers(
            tracer, traced_q, shard_copy_s, cold_s
        )
    return result


def _metrics(per_q: dict[str, list[dict]]):
    """(geometric mean, sum, {qid: median}) of each query's median
    steal-adjusted latency: every query of the mix weighs once, however
    many passes fitted."""
    q_med = {q: statistics.median(r["lat_s"] for r in rs) for q, rs in per_q.items() if rs}
    return C.geomean(q_med.values()), sum(q_med.values()), q_med


def _traced_query(spark, sc, fn, data_dir, op, tracer) -> dict:
    from tracing import job_counts

    with tracer.span("queries.query", op=op):
        sc.setJobGroup(f"{op}:build", op)
        t0 = time.perf_counter()
        with tracer.span("queries.build"):
            df = fn(spark, data_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(f"{op}:exec", op)
        with tracer.span("queries.exec"):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    sc.setLocalProperty("spark.jobGroup.id", None)
    rec = {"t": (t0, t1, t2)}
    for phase in ("build", "exec"):
        j, s, k = job_counts(spark, f"{op}:{phase}")
        rec[f"{phase}_jobs"], rec[f"{phase}_stages"], rec[f"{phase}_tasks"] = j, s, k
    return rec


def op_windows(tracer) -> list[tuple[float, float, str]]:
    """(start, end, "<op>:build" | "<op>:exec") of every timed query."""
    return [
        (s["start"], s["end"], f"{s['op']}:{s['name'].split('.')[-1]}")
        for s in tracer.spans
        if s["name"] in ("queries.build", "queries.exec")
    ]


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _layers(tracer, per_q, shard_copy_s, cold_s):
    execs = [r for rs in per_q.values() for r in rs]
    n_ops = max(1, len(execs))
    spans = tracer.spans
    op_ids = {r["op"] for r in execs}
    timed = [s for s in spans if s["op"] in op_ids]

    def span_stats(name, among=timed):
        ss = [s["end"] - s["start"] for s in among if s["name"] == name]
        return {"calls": len(ss), "p50_s": _med(ss)}

    tune = span_stats("session.tune_session")
    table = span_stats("catalog.table")
    memo = [s["memo_hit"] for s in timed if s["name"] == "catalog.table"]
    L: dict = {
        "session.get_spark_s": cold_s,
        "session.tune_session_s": tune["p50_s"],
        "session.tune_session_calls_per_query": tune["calls"] / n_ops,
        "catalog.table_s": table["p50_s"],
        "catalog.table_calls": table["calls"],
        "catalog.table_memo_hit_ratio": sum(memo) / max(1, len(memo)),
        "catalog.shard_copy_s": sum(shard_copy_s),
        "queries.build_s": _med(r["build_s"] for r in execs),
        "queries.exec_s": _med(r["exec_s"] for r in execs),
    }
    for phase in ("build", "exec"):
        for k in ("jobs", "stages", "tasks"):
            L[f"queries.{phase}_{k}_per_query"] = (
                sum(r[f"{phase}_{k}"] for r in execs) / n_ops
            )
    per_qid_exec = {q: _med(r["exec_s"] for r in rs) for q, rs in per_q.items() if rs}
    # sim_topk_ivf trains its k-means quantizer once per session and
    # data path, in the check pass, so that span is taken from there
    for name, key, among in (
        ("plans.ledger.pipeline_build", "plans.ledger.pipeline_build_s", timed),
        ("ml.regression.ols", "ml.regression.ols_s", timed),
        ("ml.clustering.kmeans", "ml.clustering.kmeans_s", spans),
    ):
        st = span_stats(name, among)
        if st["calls"]:
            L[key] = st["p50_s"]
            L[key.replace("_s", "_calls")] = st["calls"]
    if "pipeline_ledger_e2e" in per_qid_exec:
        L["plans.ledger.rollup_exec_s"] = per_qid_exec["pipeline_ledger_e2e"]
    stage: dict[str, float] = {}
    for q, m in STAGE_MODULE.items():
        if q in per_qid_exec:
            stage[m] = stage.get(m, 0.0) + per_qid_exec[q]
    for m, v in stage.items():
        L[f"{m}.stage_s"] = v
    L["self_s"] = tracer.self_times()
    return L
