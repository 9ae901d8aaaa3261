#!/usr/bin/env python3
"""Steadiness check: two sweeps of every workload over a range of seeds,
interleaved (for each seed, each workload runs once in sweep A and then
once in sweep B), so that machine drift during the check falls on both
sweeps alike.

For each sweep, workload and end-to-end metric it reports the median,
the quartiles and the spread (quartile distance as a share of the
median, as `statistics.quantiles(values, n=4)` gives them), and the
change of sweep B's median against sweep A's, each against the metric's
bound in BENCHMARK.json.

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/results/steady.json

Run from the repository root. Writes every run's result line and run
line plus the summary as JSON to --out, and the table as Markdown next
to it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

SWEEPS = ("A", "B")


def seeds_of(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0",
    ]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    info = next(
        (json.loads(x[len("perfbench run "):]) for x in lines
         if x.startswith("perfbench run ")), None,
    )
    if res is None:
        print(p.stderr[-2000:], file=sys.stderr)
    return {"seed": seed, "rc": p.returncode, "wall_s": wall, "result": res, "info": info}


def summarise(runs: list[dict], bounds: dict[str, float]) -> dict:
    ok = [r["result"] for r in runs if r["result"] and r["result"]["correct"]]
    out = {"runs": len(runs), "correct": len(ok),
           "wall_median_s": statistics.median(r["wall_s"] for r in runs)}
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in ok]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                     "bound": bound, "unit": ok[0]["metrics"][name]["unit"]}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=os.path.join("perfbench", "results", "steady.json"))
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = {s: {w: [] for w in workloads} for s in SWEEPS}
    for seed in seeds_of(args.seeds):
        for w in workloads:
            for s in SWEEPS:
                r = run_once(bench, w, seed)
                runs[s][w].append(r)
                print(f"{s} {w} seed {seed}: rc={r['rc']} wall={r['wall_s']:.1f}s",
                      file=sys.stderr)
        # rewritten after every seed, so an interrupted check keeps its runs
        table = write(args, bench, runs, bounds, seed)
    print(table)
    return 0


def write(args, bench: dict, runs: dict, bounds: dict[str, float], last_seed: int) -> str:
    summary = {s: {w: summarise(rs, bounds) for w, rs in runs[s].items()} for s in SWEEPS}
    seeds = f"{args.seeds.partition('-')[0]}-{last_seed}"
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out, "w") as f:
        json.dump({"seeds": seeds, "summary": summary, "runs": runs}, f, indent=1)
    table = markdown(summary, bounds)
    with open(os.path.splitext(args.out)[0] + ".md", "w") as f:
        f.write(f"Seeds {seeds}, run_seconds {bench['run_seconds']}, "
                f"sweeps A and B interleaved by seed.\n\n{table}")
    return table


def markdown(summary: dict, bounds: dict[str, float]) -> str:
    rows = [
        "| workload | metric | sweep | median | q1 | q3 | spread | B vs A | bound |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    a, b = (summary[s] for s in SWEEPS)
    for w in a:
        for name, bound in bounds.items():
            if name not in a[w] or name not in b[w]:
                continue
            change = b[w][name]["median"] / a[w][name]["median"] - 1
            for s in SWEEPS:
                m = summary[s][w][name]
                rows.append(
                    f"| {w} | {name} ({m['unit']}) | {s} | {m['median']:.4g} | "
                    f"{m['q1']:.4g} | {m['q3']:.4g} | {m['spread']:.3f} | "
                    f"{f'{change:+.3f}' if s == 'B' else ''} | {bound} |"
                )
        for s in SWEEPS:
            x = summary[s][w]
            rows.append(f"| {w} | run wall (s), correct runs | {s} | "
                        f"{x['wall_median_s']:.1f} | | | {x['correct']}/{x['runs']} | | |")
    return "\n".join(rows) + "\n"


if __name__ == "__main__":
    sys.exit(main())
