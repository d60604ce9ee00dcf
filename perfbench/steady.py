#!/usr/bin/env python3
"""Run one workload k times and report how steady each metric is.

    python3 perfbench/steady.py --workload live [--runs 10] [--first-seed 1]
                                [--trace] [--save set.json]
    python3 perfbench/steady.py --compare first.json second.json
    python3 perfbench/steady.py --overhead untraced.json traced.json

Each run is `perfbench/run.py` with its own seed. For every metric the
tool prints the median, the quartiles (statistics.quantiles, n=4) and
the spread (q3 - q1) / median. For end-to-end metrics it compares the
spread with the metric's bound in BENCHMARK.json: "steady" below a
third of it, "within" up to it, "NOISY" above it (setup_s is exempt
from the spread rule). `--compare` checks that the second set's median
is not worse than the first's by more than the bound, and that both
sets failed the same share of operations. `--overhead` divides the
traced run's own operation median (trace.op_ms_p50) by the untraced
op_ms_p50.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m for m in b["end_to_end"]}, b["run_seconds"]


def run_set(workload, runs, first_seed, trace, seconds):
    results = []
    for i in range(runs):
        seed = first_seed + i
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            raise SystemExit(f"seed {seed}: run failed with exit code {p.returncode}")
        r = json.loads(lines[-1])
        r["seed"], r["wall_s"] = seed, time.time() - t0
        print(f"  seed {seed}: {time.time() - t0:.1f} s, correct={r['correct']}, "
              f"failed {r['failed']}/{r['attempted']}", file=sys.stderr, flush=True)
        results.append(r)
    return results


def summarize(results, bounds):
    names = list(results[0]["metrics"])
    rows = {}
    for n in names:
        vals = [r["metrics"][n]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        rows[n] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                   "unit": results[0]["metrics"][n]["unit"], "min": min(vals)}
    print(f"{'metric':34} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>8} {'bound':>6}  verdict")
    for n, s in rows.items():
        b = bounds.get(n, {}).get("bound")
        if b is None:
            verdict = ""
        elif n == "setup_s":
            verdict = "(spread not bounded)"
        else:
            verdict = "steady" if s["spread"] < b / 3 else ("within" if s["spread"] <= b else "NOISY")
        if b is not None and s["min"] <= 0:
            verdict += " ZERO"
        print(f"{n:34} {s['median']:14.4f} {s['q1']:14.4f} {s['q3']:14.4f} {s['spread']:8.4f} "
              f"{'' if b is None else b:>6}  {verdict}")
    shares = {r["failed"] / r["attempted"] for r in results}
    print(f"failed share per run: {sorted(shares)}; correct in every run: {all(r['correct'] for r in results)}")
    return rows


def compare(first, second, bounds):
    a, b = summarize_quiet(first), summarize_quiet(second)
    ok = True
    for n, m in bounds.items():
        if n not in a:
            continue
        worse = (b[n] - a[n]) / a[n] if m["better"] == "lower" else (a[n] - b[n]) / a[n]
        flag = "ok" if worse <= m["bound"] else "WORSE"
        ok &= flag == "ok"
        print(f"{n:20} first {a[n]:14.4f} second {b[n]:14.4f} worse by {worse:+.4f} (bound {m['bound']}) {flag}")
    fa = {r["failed"] / r["attempted"] for r in first}
    fb = {r["failed"] / r["attempted"] for r in second}
    print(f"failed shares: first {sorted(fa)}, second {sorted(fb)}")
    return ok and fa == fb


def summarize_quiet(results):
    return {n: statistics.median([r["metrics"][n]["value"] for r in results]) for n in results[0]["metrics"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--save")
    ap.add_argument("--compare", nargs=2)
    ap.add_argument("--overhead", nargs=2)
    a = ap.parse_args()
    bounds, seconds = spec()
    if a.compare:
        sets = [json.load(open(p)) for p in a.compare]
        return 0 if compare(sets[0], sets[1], bounds) else 1
    if a.overhead:
        base, traced = (summarize_quiet(json.load(open(p))) for p in a.overhead)
        print(f"trace.overhead_pct = {100 * (traced['trace.op_ms_p50'] / base['op_ms_p50'] - 1):.1f} % "
              f"(traced op median {traced['trace.op_ms_p50']:.1f} ms over untraced op_ms_p50 "
              f"{base['op_ms_p50']:.1f} ms)")
        return 0
    if not a.workload:
        ap.error("--workload is required")
    results = run_set(a.workload, a.runs, a.first_seed, a.trace, seconds)
    if a.save:
        with open(a.save, "w") as f:
            json.dump(results, f, indent=1)
    summarize(results, {} if a.trace else bounds)
    return 0


if __name__ == "__main__":
    sys.exit(main())
