#!/usr/bin/env python3
"""Read the layer traces that `run.py --trace 1` writes.

    python3 perfbench/layerdiff.py self TRACE
        each layer's self time (ms) and span count in one trace
    python3 perfbench/layerdiff.py diff BEFORE AFTER
        self time per layer in two traces, and the layer that moved most
    python3 perfbench/layerdiff.py overhead WORKLOAD SEED
        traced minus untraced end-to-end metrics of one workload and seed,
        from .bench_build/traces/ and .bench_build/results/

A span's self time is its duration minus the part of it that its child
spans cover; a layer is the part of a span name before the first dot
(`queries.build` belongs to `queries`).
"""
import collections
import json
import os
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(trace):
    spans = trace["spans"]
    children = collections.defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    per_layer = collections.defaultdict(float)
    count = collections.Counter()
    for s in spans:
        start, end = s["start"], s["end"]
        inside = [(max(c["start"], start), min(c["end"], end))
                  for c in children.get(s["id"], [])
                  if c["end"] > start and c["start"] < end]
        layer = s["name"].split(".")[0]
        per_layer[layer] += (end - start) - covered(inside)
        count[layer] += 1
    return per_layer, count


def cmd_self(path):
    t = load(path)
    per_layer, count = self_times(t)
    print(f"{t['run']}: self time per layer")
    for layer, ms in sorted(per_layer.items(), key=lambda kv: -kv[1]):
        print(f"  {layer:10s} {ms:12.1f} ms  {count[layer]:7d} spans")


def cmd_diff(before, after):
    a, _ = self_times(load(before))
    b, _ = self_times(load(after))
    rows = []
    for layer in sorted(set(a) | set(b)):
        x, y = a.get(layer, 0.0), b.get(layer, 0.0)
        rows.append((layer, x, y, y - x))
    print(f"{'layer':10s} {'before ms':>12s} {'after ms':>12s} {'change':>12s}")
    for layer, x, y, d in sorted(rows, key=lambda r: -abs(r[3])):
        rel = f"{d / x:+.1%}" if x else "new"
        print(f"{layer:10s} {x:12.1f} {y:12.1f} {d:+12.1f}  {rel}")
    if rows:
        layer, x, y, d = max(rows, key=lambda r: abs(r[3]))
        print(f"moved most: {layer} ({d:+.1f} ms self time)")


def cmd_overhead(workload, seed):
    build = os.path.join(os.getcwd(), ".bench_build")
    traced = load(os.path.join(build, "traces", f"{workload}-seed{seed}.json"))
    untraced = load(os.path.join(build, "results",
                                 f"{workload}-seed{seed}-trace0.json"))
    print(f"{workload} seed {seed}: traced minus untraced")
    for name, m in traced["end_to_end"].items():
        u = untraced["metrics"][name]["value"]
        v = m["value"]
        rel = f"{(v - u) / u:+.1%}" if u else ""
        print(f"  {name:16s} untraced {u:12.3f}  traced {v:12.3f}  {rel}")


def main():
    args = sys.argv[1:]
    if len(args) == 2 and args[0] == "self":
        cmd_self(args[1])
    elif len(args) == 3 and args[0] == "diff":
        cmd_diff(args[1], args[2])
    elif len(args) == 3 and args[0] == "overhead":
        cmd_overhead(args[1], args[2])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
