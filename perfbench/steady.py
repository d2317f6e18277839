#!/usr/bin/env python3
"""Steadiness check: run one workload N times, each in a fresh process with
its own seed, and print per end-to-end metric the median, quartiles, min,
max and spread (quartile distance over median). A metric whose spread
exceeds its bound in BENCHMARK.json is flagged; ``setup_s`` is flagged
against a third of its bound only as advice, since its spread is not gated.

    python3 perfbench/steady.py --workload tail_mor_read --runs 10 --seed0 1
    python3 perfbench/steady.py --workload replay_bulk --runs 5 --traced 1

``--traced K`` adds K traced runs and prints the tracing overhead: traced
end-to-end medians minus untraced ones. Every per-run line carries the host
block (nproc, load average at start and end, Spark and Java versions).
``--out`` appends each run's parsed result as a JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {p.returncode})")
    out = {"seed": seed, "trace": trace, "wall_s": wall,
           "result": json.loads(lines[-1])}
    for line in lines[:-1]:
        tag, _, rest = line.partition(" ")
        if tag in ("host", "e2e", "info"):
            out[tag] = json.loads(rest)
    return out


def stats(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "min": min(values),
            "max": max(values), "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    runs, traced = [], []
    for i in range(args.runs + args.traced):
        trace = int(i >= args.runs)
        r = run_once(args.workload, args.seed0 + i, seconds, trace)
        (traced if trace else runs).append(r)
        res = r["result"]
        print(f"run seed={r['seed']} trace={trace} wall={r['wall_s']:.1f}s "
              f"correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              f"host={json.dumps(r['host'])} e2e={json.dumps(r['e2e'])}",
              flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, **r}) + "\n")

    bad = 0
    print(f"\n{args.workload}: {len(runs)} untraced runs, {seconds} s each")
    print(f"{'metric':16s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'min':>12s} {'max':>12s} {'spread':>7s} {'bound':>6s}")
    for name, bound in bounds.items():
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        s = stats(vals)
        if name == "setup_s":
            flag = "(not gated)" if s["spread"] > bound / 3 else ""
        elif s["spread"] > bound:
            flag, bad = "OVER BOUND", bad + 1
        elif s["spread"] > bound / 3:
            flag = "over 1/3 bound"
        else:
            flag = ""
        print(f"{name:16s} {s['median']:12.4f} {s['q1']:12.4f} {s['q3']:12.4f} "
              f"{s['min']:12.4f} {s['max']:12.4f} {s['spread']:7.3f} "
              f"{bound:6.2f} {flag}")
    walls = [r["wall_s"] for r in runs + traced]
    print(f"process wall per run: median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    jobs = {r["result"]["metrics"]["jobs_per_op"]["value"] for r in runs}
    wrong = [r["seed"] for r in runs + traced if not r["result"]["correct"]]
    print(f"jobs_per_op values: {sorted(jobs)}; incorrect runs: {wrong or 'none'}")
    if traced:
        print("tracing overhead (traced median - untraced median):")
        for name in bounds:
            t = statistics.median(r["e2e"][name] for r in traced)
            u = statistics.median(r["e2e"][name] for r in runs)
            print(f"  {name:16s} {t - u:+12.4f} ({(t - u) / u:+.1%})")
        tj = {r["result"]["metrics"]["op.jobs"]["value"] for r in traced}
        print(f"traced op.jobs values: {sorted(tj)}")
    return 1 if bad or wrong or len(jobs) > 1 else 0


if __name__ == "__main__":
    sys.exit(main())
