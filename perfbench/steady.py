#!/usr/bin/env python3
"""Steadiness of one workload: two interleaved sets of runs, A and B.

    python3 perfbench/steady.py --workload longtail --runs 10 [--seed0 1000] [--overhead]

Run i of set A uses seed seed0+2i and run i of set B seed seed0+2i+1,
alternating A, B, A, B. For every end-to-end metric it prints each set's
median and quartiles, the spread (q3 - q1) / median, the shift of B's
median against A's in the metric's worse direction, the metric's bound in
BENCHMARK.json, and the bound these runs call for: three times the
largest of the spreads and the shift. A row is marked "over" when that
is above 0.25, the largest bound a metric may have.

With --overhead, set B reruns set A's seeds traced and the table compares
the traced run's end-to-end figures with the untraced ones: the shift is
then the tracing overhead.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                         cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    lines = out.strip().splitlines()
    result = json.loads(lines[-1])
    if trace:
        e2e = next(l for l in lines if l.startswith("#e2e "))
        result["metrics"] = {k: {"value": v} for k, v in json.loads(e2e[5:]).items()}
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sets = {"A": [], "B": []}
    for i in range(a.runs):
        for s in ("A", "B"):
            seed = a.seed0 + 2 * i + (0 if a.overhead or s == "A" else 1)
            traced = int(a.overhead and s == "B")
            r = run(a.workload, seed, bench["run_seconds"], traced)
            sets[s].append(r)
            print(f"# {s} seed={seed} trace={traced} attempted={r['attempted']} failed={r['failed']} "
                  f"correct={r['correct']}", file=sys.stderr)
    for s, rs in sets.items():
        shares = sorted({r["failed"] / r["attempted"] for r in rs})
        print(f"set {s}: {len(rs)} runs, failed share {shares}")
    os.makedirs(os.path.join(ROOT, ".bench_build", "perfbench"), exist_ok=True)
    dump = os.path.join(ROOT, ".bench_build", "perfbench",
                        f"steady-{a.workload}{'-overhead' if a.overhead else ''}.json")
    with open(dump, "w") as fh:
        json.dump(sets, fh)
    print(f"runs: {os.path.relpath(dump, ROOT)}")
    print(f"{'metric':<26} {'A q1':>11} {'A med':>11} {'A q3':>11} {'B q1':>11} {'B med':>11} {'B q3':>11} "
          f"{'sprA':>6} {'sprB':>6} {'shift':>7} {'bound':>6} {'needs':>6}")
    for name in better:
        va = [r["metrics"][name]["value"] for r in sets["A"]]
        vb = [r["metrics"][name]["value"] for r in sets["B"]]
        a1, am, a3 = quartiles(va)
        b1, bm, b3 = quartiles(vb)
        spr_a, spr_b = (a3 - a1) / am, (b3 - b1) / bm
        shift = (bm - am) / am * (1 if better[name] == "lower" else -1)
        needs = 3 * max(spr_a, spr_b, shift)
        print(f"{name:<26} {a1:>11.4g} {am:>11.4g} {a3:>11.4g} {b1:>11.4g} {bm:>11.4g} {b3:>11.4g} "
              f"{spr_a:>6.3f} {spr_b:>6.3f} {shift:>+7.3f} {bounds[name]:>6.3f} {needs:>6.3f}"
              f"{' over' if needs > 0.25 else ''}")


if __name__ == "__main__":
    main()
