"""Sharded test gate: run the pytest suite as K concurrent pytest
processes (one JVM each) and aggregate the results.

Why: the suite is LATENCY-bound, not compute-bound (hundreds of table
commits, each a handful of small Spark jobs whose scheduling/py4j
round-trips dominate). One pytest process cannot overlap that latency (no
pytest-xdist in this environment); K processes can. Shards are whole test
FILES (session-scoped SparkSession per process; no cross-file state),
heavy files seeded round-robin first so shards stay balanced.

Sizing: every shard is one JVM, so the default shard count and each
shard's driver heap (``CDC_DRIVER_MEM``, passed in the child env) derive
from the host: at most one shard per 2 cores and per 6 GB of RAM, and
the shards' heaps together take half of physical memory — the rest is
JVM off-heap, Python workers and the tmpfs shuffle dir.

Each shard reports its wall time and its 10 slowest tests (pytest
``--durations=10``), so a run shows its margin against a time budget.

Profiles:
  python scripts/fast_gate.py              # default profile (no `slow`)
  python scripts/fast_gate.py --full       # the pre-commit gate
  python scripts/fast_gate.py --shards 2   # override the shard count
"""

from __future__ import annotations

import argparse
import glob
import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

# measured-heaviest files first (single-process tier-1 run with
# --durations=0, summed per file), ordered so that dealing them
# round-robin over 2 shards, with every other file appended alphabetically
# after them, splits the measured time evenly (a 4-core host runs 2
# shards); new files just join the rotation
HEAVY = [
    "tests/test_table_replay.py",
    "tests/test_batch_profile.py",
    "tests/test_alter.py",
    "tests/test_round4_dedup.py",
    "tests/test_streaming.py",
    "tests/test_ann.py",
    "tests/test_table_config.py",
    "tests/test_wap.py",
    "tests/test_round5_fixes.py",
    "tests/test_parity.py",
    "tests/test_ops_modules.py",
    "tests/test_patch.py",
    "tests/test_datasource.py",
    "tests/test_round5_dedup_cdc.py",
]


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("no MemTotal in /proc/meminfo")


def main() -> int:
    mem_gb, cpus = _mem_total_gb(), os.cpu_count() or 1
    ap = argparse.ArgumentParser()
    ap.add_argument("--shards", type=int,
                    default=max(1, min(cpus // 2, int(mem_gb // 6), 4)))
    ap.add_argument("--full", action="store_true",
                    help="include slow-marked tests (the pre-commit gate)")
    args = ap.parse_args()

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.chdir(root)
    files = sorted(glob.glob("tests/test_*.py"))
    heavy = [f for f in HEAVY if f in files]
    ordered = heavy + [f for f in files if f not in heavy]
    shards: list[list[str]] = [[] for _ in range(args.shards)]
    for i, f in enumerate(ordered):
        shards[i % args.shards].append(f)

    heap_gb = max(1, int(mem_gb / 2 / args.shards))
    env = {**os.environ, "CDC_DRIVER_MEM": f"{heap_gb}g"}
    t0 = time.monotonic()
    procs = []
    for i, shard in enumerate(shards):
        if not shard:
            continue
        cmd = [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider",
               "--durations=10", f"--basetemp=/tmp/fastgate-{i}", *shard]
        if args.full:
            cmd += ["-m", "slow or not slow"]
        procs.append((i, shard, subprocess.Popen(
            cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, env=env)))

    def finish(p):
        # one waiter thread per shard, so each wall time is its own
        out, _ = p.communicate()
        return out, time.monotonic() - t0

    with ThreadPoolExecutor(max(1, len(procs))) as pool:
        done = list(pool.map(finish, [p for _, _, p in procs]))
    ok = True
    for (i, shard, p), (out, wall) in zip(procs, done):
        lines = out.splitlines()
        tail = [ln for ln in lines if ln.strip()][-1:]
        print(f"shard {i} ({len(shard)} files): rc={p.returncode} "
              f"wall {wall:.1f}s {tail[0] if tail else ''}", flush=True)
        # pytest's --durations section: its header, then one
        # "<secs>s <phase> <test id>" line per test
        start = next((n for n, ln in enumerate(lines)
                      if "slowest" in ln and "durations" in ln), None)
        for ln in lines[start + 1:] if start is not None else []:
            if ln.split()[1:2] not in (["setup"], ["call"], ["teardown"]):
                break
            print(f"  {ln}")
        # rc 5 = "no tests collected" (e.g. every test in the shard is
        # deselected by the default profile's marker filter): not a failure
        if p.returncode not in (0, 5):
            ok = False
            print(out[-4000:])
    print(f"fast_gate: {'PASS' if ok else 'FAIL'} in "
          f"{time.monotonic() - t0:.1f}s with {args.shards} shards "
          f"x {heap_gb}g heap")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
