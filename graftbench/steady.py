#!/usr/bin/env python3
"""Steadiness check: run the benchmark on the same code as two sets of
ten runs per workload in BENCHMARK.json (a different seed per run) and
report, per workload and end-to-end metric, the median, the quartiles
and the spread (Q3 - Q1) / median against the metric's bound; for the
second set, also how far its median moved from the first set's, in the
bad direction.

    python3 graftbench/steady.py

Run from the repository root; results also go to
.bench_build/graftbench/steady.json.
"""
import json
import os
import statistics
import subprocess
import sys
import time


RUNS, SETS, SEED_BASE = 10, 2, 1000


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    values = {}  # (set, workload, metric) -> [values]
    walls, bad = [], []
    for s in range(SETS):
        for w in names:
            for r in range(RUNS):
                seed = SEED_BASE + s * RUNS + r
                cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                          "--seconds", str(bench["run_seconds"]), "--trace", "0"]
                t0 = time.time()
                p = subprocess.run(cmd, capture_output=True, text=True)
                walls.append(time.time() - t0)
                try:
                    res = json.loads(p.stdout.strip().splitlines()[-1])
                except (IndexError, ValueError):
                    res = None
                if p.returncode != 0 or res is None or not res["correct"]:
                    bad.append(f"set {s} {w} seed {seed}: exit {p.returncode} "
                               f"{'' if res is None else res}{p.stderr[-400:]}")
                    continue
                for k, v in res["metrics"].items():
                    values.setdefault((s, w, k), []).append(v["value"])
                print(f"set {s} {w} seed {seed}: {walls[-1]:.1f} s "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    report = []
    for w in names:
        for m in metrics:
            first = None
            for s in range(SETS):
                v = values.get((s, w, m["name"]), [])
                if len(v) < 2:
                    continue
                q1, med, q3 = statistics.quantiles(v, n=4)
                spread = (q3 - q1) / med if med else float("inf")
                bound = m["bound"]
                line = {"set": s, "workload": w, "metric": m["name"], "n": len(v), "median": med,
                        "q1": q1, "q3": q3, "spread": spread, "bound": bound}
                if first is None:
                    first = med
                elif first:
                    worse = (med - first) / first if m["better"] == "lower" else (first - med) / first
                    line["drift_vs_set0"] = worse
                report.append(line)
                flag = ""
                if spread > bound:
                    flag = "  SPREAD OVER BOUND"
                elif spread > bound / 3:
                    flag = "  (spread above a third of the bound)"
                if line.get("drift_vs_set0", 0) > bound:
                    flag += "  DRIFT OVER BOUND"
                print(f"set {s} {w:13s} {m['name']:18s} n={len(v):2d} median={med:<12.6g} "
                      f"q1={q1:<12.6g} q3={q3:<12.6g} spread={spread:.4f}"
                      + f" bound={bound}"
                      + (f" drift={line['drift_vs_set0']:+.4f}" if "drift_vs_set0" in line else "") + flag)
    print(f"runs: {len(walls)}, mean wall {statistics.mean(walls):.1f} s, max {max(walls):.1f} s")
    for b in bad:
        print("FAILED RUN: " + b)
    os.makedirs(os.path.join(".bench_build", "graftbench"), exist_ok=True)
    with open(os.path.join(".bench_build", "graftbench", "steady.json"), "w") as f:
        json.dump({"report": report, "walls": walls, "failed": bad}, f, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
