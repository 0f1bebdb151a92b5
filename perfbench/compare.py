#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

usage: python3 perfbench/compare.py BASE NEW

BASE and NEW are run-result files written by perfbench/run.py (under
.bench_build/results/), or directories searched for them. For every
workload present on both sides it prints:

  1. the end-to-end metrics: each side's median and quartile spread over
     its untraced runs, and the change as a share of the base median,
     ranked against the bound BENCHMARK.json sets for that metric;
  2. per-query latency changes (median over every timed sample), largest
     first;
  3. for queries whose latency moved by more than MOVED, whether the
     engine's deterministic work counts moved with it, from the traced
     runs: counts unchanged means the wall time moved on its own (host
     interference); counts changed means the plan changed.
"""
import json
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from run import END_TO_END, ROOT  # noqa: E402

MOVED = 0.10  # a per-query change smaller than this is not classified
# counts that repeat exactly run to run for a fixed plan and input
WORK_COUNTS = ("jobs", "stages", "tasks", "exchanges", "shuffle_write_b",
               "shuffle_read_b")


def load(path):
    p = Path(path)
    files = sorted(p.rglob("*.json")) if p.is_dir() else [p]
    runs = [json.loads(f.read_text()) for f in files]
    return [r for r in runs if "record" in r]


def by_workload(runs):
    out = {}
    for r in runs:
        out.setdefault(r["workload"], []).append(r)
    return out


def spread(values):
    """(median, interquartile range / median)."""
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / med


def worse_by(base, new, better):
    """The change as a share of base, positive when it is worse."""
    if base == 0:
        return 0.0
    d = (new - base) / base
    return d if better == "lower" else -d


def query_times(runs):
    t = {}
    for r in runs:
        for s in r["record"]["samples"]:
            if s["pass"] > 0 and not s["traced"]:
                t.setdefault(s["query"], []).append(s["build_s"] + s["exec_s"])
    return {q: statistics.median(v) for q, v in t.items()}


def query_counts(runs):
    c = {}
    for r in runs:
        for k in r["record"].get("counters", []):
            c.setdefault(k["query"], []).append(
                tuple(k[name] for name in WORK_COUNTS))
    return {q: max(set(v), key=v.count) for q, v in c.items()}


def compare(workload, base, new, bounds):
    print(f"\n=== {workload}: {len(base)} base runs, {len(new)} new runs")
    b0 = [r for r in base if r["trace"] == 0]
    n0 = [r for r in new if r["trace"] == 0]
    if b0 and n0:
        rows = []
        for m, (unit, better) in END_TO_END.items():
            bm, bs = spread([r["end_to_end"][m]["value"] for r in b0])
            nm, ns = spread([r["end_to_end"][m]["value"] for r in n0])
            d = worse_by(bm, nm, better)
            verdict = ("REGRESSED" if d > bounds[m] else
                       "improved" if -d > bounds[m] else "within bound")
            if max(bs, ns) > bounds[m]:
                verdict += ", unresolved: spread > bound"
            rows.append((d / bounds[m], m, unit, bm, bs, nm, ns, d, verdict))
        print(f"{'metric':14} {'base':>10} {'iqr':>6} {'new':>10} {'iqr':>6}"
              f" {'worse by':>9} {'bound':>6}  verdict")
        for _, m, unit, bm, bs, nm, ns, d, verdict in sorted(rows, reverse=True):
            print(f"{m:14} {bm:10.4f} {bs:6.1%} {nm:10.4f} {ns:6.1%}"
                  f" {d:9.1%} {bounds[m]:6.0%}  {verdict} [{unit}]")
    bt, nt = query_times(b0), query_times(n0)
    moved = []
    print(f"\n{'query':28} {'base s':>8} {'new s':>8} {'change':>8}")
    for q in sorted(set(bt) & set(nt),
                    key=lambda q: -abs(nt[q] - bt[q]) / bt[q]):
        ch = (nt[q] - bt[q]) / bt[q]
        print(f"{q:28} {bt[q]:8.3f} {nt[q]:8.3f} {ch:8.1%}")
        if abs(ch) > MOVED:
            moved.append(q)
    bc, nc = query_counts(base), query_counts(new)
    for q in moved:
        if q not in bc or q not in nc:
            print(f"{q}: moved; no traced runs on both sides to classify it")
        elif bc[q] == nc[q]:
            print(f"{q}: wall moved while {', '.join(WORK_COUNTS)} did not "
                  "(interference)")
        else:
            diff = {n: (a, b) for n, a, b in zip(WORK_COUNTS, bc[q], nc[q])
                    if a != b}
            print(f"{q}: counters moved (plan change): {diff}")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    base, new = by_workload(load(sys.argv[1])), by_workload(load(sys.argv[2]))
    common = sorted(set(base) & set(new))
    if not common:
        sys.exit("no workload has runs on both sides")
    for w in common:
        compare(w, base[w], new[w], bounds)


if __name__ == "__main__":
    main()
