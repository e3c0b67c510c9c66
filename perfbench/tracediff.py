#!/usr/bin/env python3
"""Compare two traced benchmark runs layer by layer.

    python3 perfbench/tracediff.py <before.json> <after.json> [--top N]

Both files are run artifacts from `run.py --trace 1` (.bench_build/results/).
Prints the per-layer metric deltas and the self-time deltas of the span
trees, each sorted by size, so a change can show which layer its saving or
loss sits in. Spans are matched by their path from the root: keys, build,
action, queries, phases and kernels keep their names; numbered spans (jobs,
stages, triggers, passes, bulks) are summed per path.
"""
import argparse
import json
from collections import defaultdict

NAMED = {"workload", "key", "build", "action", "query", "phase", "kernel"}


def self_by_path(spans):
    by_id = {s["id"]: s for s in spans}

    def label(s):
        return f"{s['kind']}:{s['name']}" if s["kind"] in NAMED else s["kind"]

    def path(s):
        parts = []
        while s is not None:
            parts.append(label(s))
            s = by_id.get(s["parent"])
        return "/".join(reversed(parts))

    out = defaultdict(float)
    for s in spans:
        out[path(s)] += s["self_ms"]
    return out


def rel(a, b):
    return (b - a) / abs(a) if a else (0.0 if b == a else float("inf"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--top", type=int, default=25)
    a = ap.parse_args()
    x, y = json.load(open(a.before)), json.load(open(a.after))
    for art, name in ((x, a.before), (y, a.after)):
        if art.get("trace") != "1" and art.get("trace") != 1:
            raise SystemExit(f"{name} is not a traced run artifact")
    print(f"workloads: {x['workload']} -> {y['workload']}; probe median "
          f"{x['probe_median_s']:.4f} s -> {y['probe_median_s']:.4f} s")

    print("\nper-layer metrics (sorted by relative change)")
    names = sorted(set(x["per_layer"]) | set(y["per_layer"]))
    rows = [(n, x["per_layer"].get(n, 0.0), y["per_layer"].get(n, 0.0)) for n in names]
    rows.sort(key=lambda r: -abs(rel(r[1], r[2])) if r[1] != r[2] else 0)
    for n, u, v in rows[:a.top]:
        if u != v:
            print(f"  {n:40s} {u:14.4f} -> {v:14.4f}  {rel(u, v):+8.1%}")

    print("\nself time by span path, ms (sorted by absolute change)")
    sx, sy = self_by_path(x["spans"]), self_by_path(y["spans"])
    paths = sorted(set(sx) | set(sy), key=lambda p: -abs(sy.get(p, 0) - sx.get(p, 0)))
    for p in paths[:a.top]:
        u, v = sx.get(p, 0.0), sy.get(p, 0.0)
        print(f"  {v - u:+10.1f}  {u:10.1f} -> {v:10.1f}  {p}")


if __name__ == "__main__":
    main()
