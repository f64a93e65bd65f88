#!/usr/bin/env python3
"""Turn a trace from a traced run into per-layer self times, and compare a
traced result with an untraced one to give the tracing overhead.

    python3 perfbench/trace_report.py TRACE.jsonl [TRACED.json UNTRACED.json]

A trace is one JSON span per line: id, parent (0 for a root), req, name,
layer, start_us, end_us. A span's self time is its duration minus the part
of its interval that its child spans cover. Self times are summed per layer
and divided by the number of root spans (requests, writes, gate runs), so
each figure reads as milliseconds of that layer per request.

The overhead compares the end-to-end figures of two results of the same
workload and seed, one with --trace 1 and one with --trace 0, as written
under perfbench/results.
"""
import json
import sys
from collections import defaultdict


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of intervals."""
    total, cursor = 0.0, start
    for a, b in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if b > cursor:
            total += b - max(a, cursor)
            cursor = b
    return total


def self_times(spans):
    """Self time in ms of every span, keyed by span id."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append((s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"]
                      - covered(s["start_us"], s["end_us"], children[s["id"]])) / 1000.0
            for s in spans}


def self_ms_per_request(spans):
    """Summed self time per layer, in ms per root span."""
    selfs = self_times(spans)
    roots = sum(1 for s in spans if not s["parent"])
    by_layer = defaultdict(float)
    for s in spans:
        by_layer[s["layer"]] += selfs[s["id"]]
    return {layer: ms / max(roots, 1) for layer, ms in sorted(by_layer.items())}


def overhead(traced_path, untraced_path):
    """Relative change of each end-to-end metric the traced run also timed."""
    with open(traced_path) as f:
        t = json.load(f)
    with open(untraced_path) as f:
        u = json.load(f)
    out = {}
    for name, m in u["end_to_end"].items():
        tv = t["end_to_end"].get(name, {}).get("value")
        if tv is not None and m["value"]:
            out[name] = (tv - m["value"]) / m["value"]
    return out


def main():
    if len(sys.argv) not in (2, 4):
        sys.exit(__doc__)
    spans = load(sys.argv[1])
    roots = sum(1 for s in spans if not s["parent"])
    print(f"{len(spans)} spans, {roots} root spans")
    print("layer self time, ms per root span:")
    for layer, ms in self_ms_per_request(spans).items():
        print(f"  {layer:12s} {ms:12.3f}")
    if len(sys.argv) == 4:
        print("tracing overhead (traced vs untraced, relative):")
        for name, d in overhead(sys.argv[2], sys.argv[3]).items():
            print(f"  {name:16s} {d:+.3f}")


if __name__ == "__main__":
    main()
