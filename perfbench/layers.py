#!/usr/bin/env python3
"""Print the per-layer table of a traced run from its span file.

    python3 perfbench/layers.py .bench_build/perfbench/traces/hot-seed1.spans.jsonl

A span file holds one JSON object per line: id, parent, request, name,
start_us, end_us. A layer's self time is its spans' duration minus the
time their direct children cover. Rows are grouped under the name of the
parent span and sorted by self time.
"""
import collections
import json
import sys


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    spans = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
    by_id = {s["id"]: s for s in spans}
    child_us = collections.Counter()
    for s in spans:
        if s["parent"]:
            child_us[s["parent"]] += s["end_us"] - s["start_us"]
    rows = collections.defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        parent = by_id[s["parent"]]["name"] if s["parent"] else "-"
        dur = s["end_us"] - s["start_us"]
        r = rows[(parent, s["name"])]
        r[0] += 1
        r[1] += dur
        r[2] += dur - child_us[s["id"]]
    total_self = sum(r[2] for r in rows.values()) or 1.0
    print(f"{'parent':<28} {'layer':<34} {'count':>7} {'total_ms':>11} {'self_ms':>11} "
          f"{'self_us/call':>13} {'self%':>6}")
    for (parent, name), (n, tot, self_us) in sorted(rows.items(), key=lambda kv: -kv[1][2]):
        print(f"{parent:<28} {name:<34} {n:>7} {tot / 1e3:>11.3f} {self_us / 1e3:>11.3f} "
              f"{self_us / n:>13.1f} {100 * self_us / total_self:>6.1f}")


if __name__ == "__main__":
    main()
