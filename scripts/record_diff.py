#!/usr/bin/env python3
"""Compare two benchmark run records side by side.

    python3 scripts/record_diff.py A.json B.json

A and B are records that `perfbench/run.py` writes under
.bench_build/perfbench/records/. The script prints, for A then B:

1. the run's metrics (per-layer counters for a `--trace 1` run, end-to-end
   metrics for `--trace 0`), exact counts first, then bytes, then timings
   and ratios; a row whose values differ is flagged with `*`;
2. each query's median wall time `s` and process CPU `cpu_s` over the
   record's untraced passes, with the ratio B/A.

Units come from BENCHMARK.json at the root of the source tree. Counts
repeat exactly between two traced runs of one seed, so a flagged count
is a change in plan shape or scheduling, not noise; timings are not.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
UNIT_ORDER = {"count": 0, "bytes": 1}


def units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["unit"]
            for m in bench["end_to_end"] + bench["per_layer"]}


def load(path):
    with open(path) as fh:
        return json.load(fh)


def describe(tag, path, rec):
    ctx = rec.get("context", {})
    passes = rec.get("passes", [])
    traced = sum(1 for p in passes if p["traced"])
    commit = ctx.get("source_commit") or "-"
    print(f"{tag}: {path}")
    print(f"   workload {rec['workload']}  seed {rec['seed']}  trace "
          f"{rec['trace']}  passes {len(passes)} ({traced} traced)  "
          f"commit {commit[:12]}  sources "
          f"{(ctx.get('source_sha256') or '-')[:12]}")


def fmt(v):
    if v is None:
        return "-"
    return f"{v:.0f}" if float(v).is_integer() else f"{v:.4g}"


def ratio(a, b):
    return f"{b / a:.3f}" if a and b is not None else "-"


def metrics(a, b, unit_of):
    ma, mb = a.get("metrics", {}), b.get("metrics", {})
    names = sorted(set(ma) | set(mb),
                   key=lambda k: (UNIT_ORDER.get(unit_of.get(k), 2), k))
    print(f"\n{'metric':38s} {'unit':6s} {'A':>14s} {'B':>14s} "
          f"{'B/A':>7s}")
    for k in names:
        va, vb = ma.get(k), mb.get(k)
        flag = "*" if va != vb else " "
        print(f"{flag} {k:36s} {unit_of.get(k, '?'):6s} {fmt(va):>14s} "
              f"{fmt(vb):>14s} {ratio(va, vb):>7s}")


def query_medians(rec):
    by_q = {}
    for p in rec.get("passes", []):
        if p["traced"]:
            continue
        for e in p["execs"]:
            if e["ok"]:
                by_q.setdefault(e["query"], []).append(e)
    return {q: (statistics.median(e["s"] for e in es),
                statistics.median(e["cpu_s"] for e in es), len(es))
            for q, es in by_q.items()}


def queries(a, b):
    qa, qb = query_medians(a), query_medians(b)
    print(f"\n{'query (untraced medians)':28s} {'A s':>8s} {'B s':>8s} "
          f"{'B/A':>7s} {'A cpu_s':>8s} {'B cpu_s':>8s} {'B/A':>7s} "
          f"{'n A/B':>6s}")
    for q in sorted(set(qa) | set(qb)):
        sa, ca, na = qa.get(q, (None, None, 0))
        sb, cb, nb = qb.get(q, (None, None, 0))
        print(f"{q:28s} {fmt(sa):>8s} {fmt(sb):>8s} {ratio(sa, sb):>7s} "
              f"{fmt(ca):>8s} {fmt(cb):>8s} {ratio(ca, cb):>7s} "
              f"{na:>3d}/{nb:<2d}")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.split("\n\n")[1])
    a, b = load(sys.argv[1]), load(sys.argv[2])
    describe("A", sys.argv[1], a)
    describe("B", sys.argv[2], b)
    if a["trace"] != b["trace"] or a["workload"] != b["workload"]:
        print("note: the records differ in workload or trace mode")
    metrics(a, b, units())
    queries(a, b)


if __name__ == "__main__":
    main()
