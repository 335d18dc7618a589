#!/usr/bin/env python3
"""Trace summariser: per-layer self time from a span file, plus the
tracing overhead when the run's report is given.

    python3 graftbench/summarize.py <spans.jsonl> [<report.json>]

A span's self time is its duration minus the time its child spans
cover. Spans sharing a `run` id belong to one batch pass or one serving
op; a layer's figure is the median over runs of its per-run self time.
"""
import json
import statistics
import sys
from collections import defaultdict


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def self_times(spans):
    """{run: {name: self seconds summed over the run's spans of that name}}"""
    child = defaultdict(int)
    for s in spans:
        if s["parent"]:
            child[s["parent"]] += s["end_ns"] - s["start_ns"]
    out = defaultdict(lambda: defaultdict(float))
    for s in spans:
        out[s["run"]][s["name"]] += (s["end_ns"] - s["start_ns"] - child[s["id"]]) / 1e9
    return out


def layer_self(spans):
    """{name: median over runs that contain it of the per-run self seconds}"""
    per = defaultdict(list)
    for names in self_times(spans).values():
        for n, v in names.items():
            per[n].append(v)
    return {n: statistics.median(v) for n, v in per.items()}


def durations(spans, name):
    return [(s["end_ns"] - s["start_ns"]) / 1e9 for s in spans if s["name"] == name]


def main(argv):
    if len(argv) < 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    spans = load(argv[1])
    runs = self_times(spans)
    med = layer_self(spans)
    print(f"{len(spans)} spans in {len(runs)} runs")
    print(f"{'span':34s} {'runs':>5s} {'median self s':>14s} {'total self s':>13s}")
    for n in sorted(med, key=lambda n: -med[n]):
        total = sum(r.get(n, 0.0) for r in runs.values())
        print(f"{n:34s} {sum(n in r for r in runs.values()):5d} {med[n]:14.4f} {total:13.4f}")
    if len(argv) > 2:
        with open(argv[2]) as f:
            report = json.load(f)
        for k, v in sorted(report.get("per_layer", {}).items()):
            print(f"{k:44s} {v['value']:.6g} {v['unit']}" + (
                f"   (absent: {report['absent'][k]})" if k in report.get("absent", {}) else ""))
        if "trace.overhead_ms" in report.get("per_layer", {}):
            print(f"tracing overhead: {report['per_layer']['trace.overhead_ms']['value']:.1f} ms "
                  f"per {report.get('overhead_unit', 'unit')} (traced minus untraced median)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
