#!/usr/bin/env python3
"""Per-layer report of traced benchmark runs.

  python3 perfbench/report.py [trace.json ...]

Reads the spans that `run.py --trace 1` keeps (by default every file in
.bench_build/perfbench/traces/) and prints, per workload and layer, the
span count, total time and self time (span time minus the time its
child spans cover), then each ratio with its base. Span totals, counter
sums and the memo hit rule are run.py's, so the report and the metrics
agree.
"""
import json
import os
import sys
from collections import defaultdict
from pathlib import Path

from run import ROOT, STREAMING_MS, span_summary


def self_times(spans):
    """Span id -> its duration minus the union of its children's."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        covered, last = 0, s["start_ns"]
        for a, b in sorted(kids[s["id"]]):
            a, b = max(a, last), min(b, s["end_ns"])
            if b > a:
                covered += b - a
                last = b
        out[s["id"]] = s["end_ns"] - s["start_ns"] - covered
    return out


def ratio(name, num, den, unit=""):
    if den:
        print(f"  {name:40s} {num / den:8.3f}  = {num:.3f}{unit} / {den:.3f}{unit}")


def report(workload, traces):
    summary = span_summary([s for t in traces for s in t["spans"]])
    total, ctr = summary["total_s"], summary["counters"]
    own = defaultdict(float)
    for t in traces:
        st = self_times(t["spans"])
        for s in t["spans"]:
            own[s["name"]] += st[s["id"]] / 1e9
    print(f"\n== {workload}: {len(traces)} traced run(s)")
    print(f"  {'layer':18s} {'spans':>6s} {'total_s':>10s} {'self_s':>10s}")
    for name in sorted(own, key=lambda n: -own[n]):
        print(f"  {name:18s} {summary['count'][name]:6d} {total[name]:10.3f} {own[name]:10.3f}")
    op = total["op"]
    print("  ratios (value = numerator / base):")
    if op:
        for name in ("queries.build", "spark.plan", "spark.exec"):
            ratio(f"{name} share of op", total[name], op, " s")
        ratio("op self (harness) share of op", own["op"], op, " s")
    ratio("artifacts.hit_ratio (twins)", summary["hits"], summary["twins"])
    ratio("artifacts.build share of traced wall", ctr["artifacts.build_ms"] / 1e3,
          sum(total[n] for n in ("op", "sensor.ref", "sensor.high", "sensor.sat")), " s")
    run_s = ctr["spark.task_run_ms"] / 1e3
    ratio("spark.task_cpu / task_run", ctr["spark.task_cpu_ns"] / 1e9, run_s, " s")
    ratio("spark.task_gc / task_run", ctr["spark.task_gc_ms"] / 1e3, run_s, " s")
    ratio("spark.task_wait / task_run", ctr["spark.task_wait_ms"] / 1e3, run_s, " s")
    for k in STREAMING_MS:
        if k != "trigger":
            ratio(f"streaming.{k} share of trigger", ctr[f"streaming.{k}_ms"] / 1e3,
                  ctr["streaming.trigger_ms"] / 1e3, " s")
    ratio("micro-batches per replay", ctr["streaming.micro_batches"], ctr["streaming.replays"])


def main():
    paths = [Path(p) for p in sys.argv[1:]]
    if not paths:
        d = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench" / "traces"
        paths = sorted(d.glob("*.json"))
    if not paths:
        sys.exit("no traces found; run perfbench/run.py with --trace 1 first")
    by_workload = defaultdict(list)
    for p in paths:
        t = json.loads(p.read_text())
        by_workload[t["workload"]].append(t)
    for w in sorted(by_workload):
        report(w, by_workload[w])


if __name__ == "__main__":
    main()
