#!/usr/bin/env python3
"""Self-tests of the benchmark harness (not of the engine).

    python3 perfbench/selftest.py [--seconds 5]

1. The input generator writes byte-identical files for one seed and
   different files for another.
2. Tracing adds no Spark jobs: on ``tail_cow`` the traced run's ``op.jobs``
   equals the untraced ``jobs_per_op``, and each traced workload satisfies
   the trace identities: per-layer self times sum to the op wall time and
   per-layer ``.jobs`` sum to the op's jobs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def result(workload: str, trace: int, seconds: int, seed: int = 3) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"FAIL: {workload} trace={trace} exited {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_identities(workload: str, metrics: dict) -> None:
    """Per-layer self wall and jobs of the commit op add up to the op's."""
    from tracing import ROOT as HARNESS, commit_layers

    v = {k: m["value"] for k, m in metrics.items()}
    wall = sum(v[f"{layer}.wall_ms"] for layer in commit_layers())
    jobs = sum(v[f"{layer}.jobs"] for layer in commit_layers())
    if abs(wall - v["op.wall_ms"]) > 1e-6 * max(1.0, v["op.wall_ms"]):
        raise SystemExit(f"FAIL: {workload}: self times sum to {wall:.3f} ms, "
                         f"op wall is {v['op.wall_ms']:.3f} ms")
    if abs(jobs - v["op.jobs"]) > 1e-9:
        raise SystemExit(f"FAIL: {workload}: layer jobs sum to {jobs}, "
                         f"op has {v['op.jobs']}")
    print(f"ok: {workload}: {len(commit_layers())} layers ({HARNESS} included) "
          f"sum to op wall {v['op.wall_ms']:.1f} ms and {v['op.jobs']:g} jobs")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seconds", type=int, default=5)
    args = ap.parse_args()
    sys.path.insert(0, HERE)

    import gen
    gen._selftest()

    plain = result("tail_cow", 0, args.seconds)
    traced = result("tail_cow", 1, args.seconds)
    u = plain["metrics"]["jobs_per_op"]["value"]
    t = traced["metrics"]["op.jobs"]["value"]
    if u != t:
        raise SystemExit(f"FAIL: tracing changed jobs per commit: {u} -> {t}")
    print(f"ok: tail_cow jobs per commit {u:g} untraced == {t:g} traced")
    check_identities("tail_cow", traced["metrics"])
    for w in ("tail_mor_read", "replay_bulk"):
        check_identities(w, result(w, 1, args.seconds)["metrics"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
