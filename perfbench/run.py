#!/usr/bin/env python3
"""CDC engine benchmark: one workload in one fresh process.

    python3 perfbench/run.py --workload tail_mor_read --seed 1 --seconds 10 --trace 0

Run from the repository root. The benchmark is a single-client closed loop
(the engine's single-writer model): each operation is issued after the
previous one returns. It drives the engine only through its public
functions, builds its inputs from ``--seed`` (perfbench/gen.py), checks the
final table against an independent reducer (perfbench/oracle.py) and prints,
as its last line, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
installs span wrappers (perfbench/tracing.py) and reports per-layer metrics.
Metric definitions and the layer map are in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src")

# pinned plan and GC shape: results are only comparable on one host
CORES = min(4, len(os.sched_getaffinity(0)))
SHUFFLE_PARTITIONS = 4
TABLE_PARTITIONS = 4
DRIVER_MEM = "2g"
# fixed heap, fixed young generation, throughput collector: heap sizing
# and concurrent GC threads otherwise move both latency and peak RSS
JVM_OPTS = "-XX:+UseParallelGC -Xms2g -Xmn640m -XX:-UseAdaptiveSizePolicy"
TAIL_KEYS = 10_000     # standing table of the tail workloads
TAIL_BATCHES = 48      # tail log batches: more than any run applies
REPLAY_KEYS = 8_000    # replay_bulk: ~10 events per key
WARMUP_COMMITS = 3     # tail_cow (tail_mor_read warms up with one cycle)
WARMUP_READS = 2       # tail_cow: untimed read + lookup rounds
COMPACT_EVERY = 2      # tail_mor_read: commits per compaction cycle
POST_READS = 4         # tail_cow: timed read + lookup rounds after the commits
WARM_KEYS = 1_000      # replay_bulk: small log whose replay pays the cold start
WARMUP_CYCLES = 1      # replay_bulk: untimed full cycles after the cold replay
MIN_CYCLES = 2         # tail_mor_read, replay_bulk: timed cycles, at least
# replay_bulk: full reads of each replayed table. The first read of a new
# table is the slow one; with 5 per table the median read is a later one.
READS_PER_REPLAY = 5
LOOKUP_KEYS = 100
GEN_REPEATS = 3        # input generation runs this often; setup_s uses the median


def _since_process_start() -> float:
    """Seconds since this process was started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - start_ticks / os.sysconf("SC_CLK_TCK")


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _tree_bytes(root: str) -> dict[str, int]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def distinct_keys(paths: list[str]) -> int:
    """Distinct (repo, path) keys in these log files."""
    import pyarrow.parquet as pq

    keys = set()
    for p in paths:
        t = pq.read_table(p, columns=["repo", "path"]).to_pydict()
        keys.update(zip(t["repo"], t["path"]))
    return len(keys)


def _p50(xs):
    return statistics.median(xs) if xs else None


def tail_pct(xs: list[float]) -> tuple[float, float] | None:
    """Highest percentile with at least 10 samples beyond it, and its
    value (nearest rank); None below 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 10                       # rank with 10 samples above it
    return 100.0 * k / n, sorted(xs)[k - 1]


class Bench:
    """Op runner: times each op, counts its Spark jobs by job group and
    the bytes it wrote; keeps warm-up ops out of the results."""

    def __init__(self, spark, jobs, tracer):
        self.spark, self.jobs, self.tracer = spark, jobs, tracer
        self.ops: list[dict] = []
        self.timed = False
        self.t_first_timed = None   # seconds since process start
        self.n = 0

    def op(self, kind: str, fn, root: str | None = None, events: int = 0,
           in_bytes: int = 0):
        self.n += 1
        name = f"{kind}-{self.n:04d}"
        if self.timed and self.t_first_timed is None:
            self.t_first_timed = _since_process_start()
        before = _tree_bytes(root) if root else {}
        if self.tracer:
            self.tracer.begin(name)
        else:
            self.jobs.set_group(name)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            wall = time.perf_counter() - t0
            if self.tracer:
                self.tracer.end()
            else:
                self.jobs.set_group(None)
        rec = {"kind": kind, "name": name, "wall_s": wall, "events": events,
               "in_bytes": in_bytes, "timed": self.timed}
        if self.tracer:
            rec["layers"] = self.tracer.op_layers(name)
            rec["jobs"] = rec["layers"]["op"]["jobs"]
        else:
            self.jobs.drain()
            rec["jobs"] = len(self.jobs.job_ids(name))
        if root:
            after = _tree_bytes(root)
            rec["out_bytes"] = sum(v for p, v in after.items() if p not in before)
        self.ops.append(rec)
        return out

    def timed_ops(self, kind: str) -> list[dict]:
        return [o for o in self.ops if o["timed"] and o["kind"] == kind]


# -- workloads -----------------------------------------------------------------

class Workload:
    """Shared read, lookup and final check against the reducer's state.
    ``loop_kinds`` are the op kinds whose wall time the ingest loop pays."""

    loop_kinds = ("commit",)

    def __init__(self, bench, work, log_dir):
        from cdc.schema.registry import default_registry
        from oracle import State

        self.b, self.work, self.log_dir = bench, work, log_dir
        self.reg = default_registry()
        self.state = State()
        self.table = None
        self.last = None       # newest applied log slice (lookup keys)
        self.failed = 0

    def events_per_s(self, commits: list[dict], loop_ops: list[dict]) -> float:
        return (sum(o["events"] for o in commits)
                / sum(o["wall_s"] for o in loop_ops))

    def note_commit(self, batch_keys: int) -> None:
        """Record on the last op what its commit wrote (manifest only)."""
        from cdc.meta import store

        snap = self.table.current_snapshot()
        rec = self.b.ops[-1]
        rec["batch_keys"] = batch_keys
        rec["rows_written"] = sum(f["rows"] for f in snap["files"]
                                  if f.get("origin") == "added")
        rec["snapshot_bytes"] = os.path.getsize(
            store.snap_path(self.table.root, snap["snapshot_id"]))

    def read(self):
        from pyspark.sql import functions as F
        from oracle import spark_digest

        row = self.b.op("read", lambda: self.table.read(self.b.spark).agg(
            F.count(F.lit(1)).alias("n"), spark_digest().alias("d")).collect()[0])
        if (row["n"], row["d"]) != (self.state.count(), self.state.digest()):
            self.failed += 1
            print(f"read mismatch: n={row['n']} d={row['d']} expected "
                  f"{self.state.count()} {self.state.digest()}", file=sys.stderr)

    def lookup(self):
        import pyarrow.parquet as pq

        t = pq.read_table(self.last.path, columns=["repo", "path"]).to_pydict()
        keys = list(dict.fromkeys(zip(t["repo"], t["path"])))[-LOOKUP_KEYS:]
        spark = self.b.spark

        def go():
            probe = spark.createDataFrame(keys, "repo string, path string")
            return self.table.lookup_keys(spark, probe).select(
                "repo", "path", "_content_sha256").collect()

        rows = self.b.op("lookup", go)
        if {tuple(r) for r in rows} != self.state.expect(keys):
            self.failed += 1
            print(f"lookup mismatch on {len(keys)} keys", file=sys.stderr)

    def setup(self):
        """Build standing state before the warm-up (none by default)."""

    def check(self) -> bool:
        rows = self.table.read(self.b.spark).select(
            "repo", "path", "_content_sha256").collect()
        ok = (len(rows) == self.state.count()
              and {tuple(r) for r in rows} == self.state.triples())
        if not ok:
            print(f"final state mismatch: {len(rows)} rows, expected "
                  f"{self.state.count()}", file=sys.stderr)
        return ok


class Tail(Workload):
    """tail_cow / tail_mor_read: small full-image batches onto a standing
    table, one ``apply_batch`` per batch."""

    def __init__(self, bench, work, log_dir, log, mode):
        from cdc.table.table import CdcTable

        super().__init__(bench, work, log_dir)
        self.log, self.mode = log, mode
        if mode == "mor":
            self.loop_kinds = ("commit", "read", "lookup", "compact")
        self.root = os.path.join(work, "table")
        self.table = CdcTable(self.root, n_partitions=TABLE_PARTITIONS,
                              layout="key_hash")
        self.next = 0          # index of the next batch to apply
        self.hi = -1           # lsn high-water mark applied

    def commit(self, sl, key: str):
        from cdc.io.log import read_log
        from cdc.pipeline import apply_batch

        spark, lo = self.b.spark, self.hi

        def go():
            ev = read_log(spark, self.log_dir, self.reg, after_lsn=lo,
                          upto_lsn=sl.lsn_hi)
            return apply_batch(spark, self.table, ev, key, mode=self.mode)

        self.b.op("commit", go, root=self.root, events=len(sl.events),
                  in_bytes=sl.n_bytes)
        self.note_commit(distinct_keys([sl.path]))
        self.hi = sl.lsn_hi
        self.state.apply_files([sl.path])

    def setup(self):
        self.commit(self.log.base, "base")

    def step(self):
        if self.next >= len(self.log.batches):
            raise RuntimeError("tail log exhausted: raise n_batches")
        sl = self.log.batches[self.next]
        self.next += 1
        self.commit(sl, f"b{self.next:05d}")
        self.last = sl

    def compact(self):
        from cdc.table import maintenance

        self.b.op("compact",
                  lambda: maintenance.compact(self.b.spark, self.table),
                  root=self.root)

    def cycle(self, commits: int = COMPACT_EVERY):
        """tail_mor_read's unit of work: ``commits`` x (commit, full read,
        lookup), then one compaction."""
        for _ in range(commits):
            self.step()
            self.read()
            self.lookup()
        self.compact()

    def run(self, seconds: float):
        # warm-up: the first calls of every op kind pay JIT and worker
        # start-up, and commit latency keeps falling over the first few
        if self.mode == "cow":
            for _ in range(WARMUP_COMMITS):
                self.step()
            for _ in range(WARMUP_READS):
                self.read()
                self.lookup()
        else:
            # one of each op kind; the first timed commit, like every odd
            # one, follows a compaction
            self.cycle(1)
        self.b.timed = True
        t0 = time.perf_counter()
        if self.mode == "cow":
            while time.perf_counter() - t0 < seconds:
                self.step()
            for _ in range(POST_READS):
                self.read()
                self.lookup()
        else:
            # whole cycles only, so every run holds the same op mix
            n = 0
            while n < MIN_CYCLES or time.perf_counter() - t0 < seconds:
                self.cycle()
                n += 1


class Replay(Workload):
    """replay_bulk: ``pipeline.replay`` of one whole log into fresh tables,
    each followed by full reads and lookups of the new table."""

    def __init__(self, bench, work, log_dir, slices, warm_dir):
        super().__init__(bench, work, log_dir)
        self.slices, self.warm_dir = slices, warm_dir
        self.events = sum(len(s.events) for s in slices)
        self.in_bytes = sum(s.n_bytes for s in slices)
        self.n = 0
        self.last = slices[-1]
        self.keys = distinct_keys([s.path for s in slices])

    def events_per_s(self, commits: list[dict], loop_ops: list[dict]) -> float:
        """Log events over the median replay wall: every replay applies the
        same log."""
        return self.events / statistics.median(o["wall_s"] for o in commits)

    def replay(self, log_dir: str, events: int, in_bytes: int):
        from cdc.pipeline import replay
        from cdc.table.table import CdcTable

        old = self.table
        self.n += 1
        root = os.path.join(self.work, f"table-{self.n:03d}")
        self.table = CdcTable(root, n_partitions=TABLE_PARTITIONS,
                              layout="key_hash")
        self.b.op("commit", lambda: replay(self.b.spark, log_dir, self.table,
                                           self.reg, batches_per_commit=None),
                  root=root, events=events, in_bytes=in_bytes)
        if old is not None:      # only the newest table is read and checked
            shutil.rmtree(old.root)

    def cycle(self):
        """replay_bulk's unit of work: one replay of the whole log, then
        READS_PER_REPLAY full reads and one lookup of the new table."""
        self.replay(self.log_dir, self.events, self.in_bytes)
        self.note_commit(self.keys)
        for _ in range(READS_PER_REPLAY):
            self.read()
        self.lookup()

    def run(self, seconds: float):
        # warm-up: a replay of a small log with the same three schema
        # versions pays JVM, JIT and Python-worker start-up; full cycles
        # then settle commit and read latency
        self.replay(self.warm_dir, 0, 0)
        self.state.apply_files([s.path for s in self.slices])
        for _ in range(WARMUP_CYCLES):
            self.cycle()
        self.b.timed = True
        t0 = time.perf_counter()
        # whole cycles only, so every run holds the same op mix
        n = 0
        while n < MIN_CYCLES or time.perf_counter() - t0 < seconds:
            self.cycle()
            n += 1


# -- main ----------------------------------------------------------------------

WORKLOADS = ("tail_cow", "tail_mor_read", "replay_bulk")


def _steal_s() -> float:
    """CPU time the hypervisor gave to others, all CPUs, since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def host_block(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {"nproc": len(os.sched_getaffinity(0)), "cores_used": CORES,
            "python": platform.python_version(), "spark": spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "driver_mem": DRIVER_MEM, "jvm_opts": JVM_OPTS}


def generate(workload: str, seed: int, work: str):
    """Write the workload's inputs GEN_REPEATS times and check the copies are
    byte-identical. Returns the first copy's inputs and log dir, and the
    median and total generation seconds."""
    import filecmp

    import gen

    times, outs = [], []
    for i in range(GEN_REPEATS):
        d = os.path.join(work, f"log{i}")
        t0 = time.perf_counter()
        if workload == "replay_bulk":
            outs.append(gen.replay_log(seed, d, n_keys=REPLAY_KEYS))
        else:
            outs.append(gen.tail_log(seed, d, n_keys=TAIL_KEYS,
                                     n_batches=TAIL_BATCHES))
        times.append(time.perf_counter() - t0)
        if i:
            first = os.path.join(work, "log0")
            for a in _tree_bytes(first):
                b = os.path.join(d, os.path.relpath(a, first))
                if not filecmp.cmp(a, b, shallow=False):
                    raise RuntimeError(f"generator not deterministic: {a} vs {b}")
            shutil.rmtree(d)
    if workload == "replay_bulk":      # the cold-start replay's log
        gen.replay_log(seed, os.path.join(work, "warmlog"), n_keys=WARM_KEYS)
    return outs[0], os.path.join(work, "log0"), statistics.median(times), sum(times)


def summarize(bench: Bench, w, setup_s: float,
              rss_mb: float) -> tuple[dict, dict]:
    """(end-to-end metrics, extra info) from the timed ops."""
    commits = bench.timed_ops("commit")
    walls = [o["wall_s"] for o in commits]
    reads = [o["wall_s"] for o in bench.timed_ops("read")]
    looks = [o["wall_s"] for o in bench.timed_ops("lookup")]
    comps = [o["wall_s"] for o in bench.timed_ops("compact")]
    loop_ops = [o for o in bench.ops if o["timed"] and o["kind"] in w.loop_kinds]
    e2e = {
        "setup_s": (setup_s, "s"),
        "commit_p50_s": (_p50(walls), "s"),
        "events_per_s": (w.events_per_s(commits, loop_ops), "events/s"),
        "jobs_per_op": (statistics.mean(o["jobs"] for o in commits), "count"),
        "write_amp": (sum(o["out_bytes"] for o in commits)
                      / sum(o["in_bytes"] for o in commits), "ratio"),
        "read_p50_s": (_p50(reads), "s"),
        "lookup_p50_s": (_p50(looks), "s"),
        "rss_peak_mb": (rss_mb, "MB"),
    }
    info = {"compact_p50_s": _p50(comps),
            "jobs_per_commit_set": sorted({o["jobs"] for o in commits}),
            "walls_s": {k: [round(o["wall_s"], 3) for o in bench.timed_ops(k)]
                        for k in ("commit", "read", "lookup", "compact")}}
    t = tail_pct(walls)
    if t:
        info["commit_tail_s"] = {"pct": round(t[0], 1), "value": t[1],
                                 "n": len(walls)}
    return {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}, info


STAGE_UNITS = {"exec_run_ms": "ms", "exec_cpu_ms": "ms",
               "shuffle_write_bytes": "bytes", "output_bytes": "bytes",
               "sched_delay_ms": "ms"}


def layer_metrics(bench: Bench, tracer) -> dict:
    """Per-layer metrics of a traced run, as per-op means. Commit-path
    layers over the timed commits (or replays); the read, lookup and
    compact ops (tail_mor_read; zero elsewhere) as op totals plus their own
    layer. See perfbench/README.md for the layer map."""
    from tracing import LAZY, commit_layers

    def mean(ops, f):
        return sum(f(o) for o in ops) / len(ops) if ops else 0.0

    def get(o, layer, f):
        return o["layers"].get(layer, {}).get(f, 0.0)

    out: dict[str, tuple[float, str]] = {}
    commits = bench.timed_ops("commit")
    for layer in commit_layers():
        units = {"wall_ms": "ms", "calls": "count", "jobs": "count"}
        if layer not in LAZY:
            units.update(STAGE_UNITS)
        for f, unit in units.items():
            out[f"{layer}.{f}"] = (mean(commits, lambda o: get(o, layer, f)), unit)
    for f in ("wall_ms", "jobs", "driver_ms", "job_wall_ms"):
        out[f"op.{f}"] = (mean(commits, lambda o: get(o, "op", f)),
                          "count" if f == "jobs" else "ms")
    reads = sum(get(o, "table.read", "calls") for o in commits)
    fracs = sum(get(o, "table.read", "parts_frac_sum") for o in commits)
    out["table.read.parts_read_ratio"] = (fracs / reads if reads else 0.0, "ratio")
    out["table.rows_written_per_batch_row"] = (
        mean(commits, lambda o: o["rows_written"] / o["batch_keys"]), "ratio")
    out["meta.store.snapshot_bytes"] = (
        mean(commits, lambda o: o["snapshot_bytes"]), "bytes")
    for kind, layer in (("read", None), ("lookup", "table.lookup_keys"),
                        ("compact", "table.maintenance")):
        ops = bench.timed_ops(kind)
        out[f"{kind}_op.wall_ms"] = (mean(ops, lambda o: get(o, "op", "wall_ms")), "ms")
        out[f"{kind}_op.jobs"] = (mean(ops, lambda o: get(o, "op", "jobs")), "count")
        out[f"{kind}_op.exec_run_ms"] = (mean(ops, lambda o: sum(
            d.get("exec_run_ms", 0.0) for d in o["layers"].values())), "ms")
        if layer:
            for f in ("wall_ms", "jobs", "output_bytes"):
                out[f"{layer}.{f}"] = (mean(ops, lambda o: get(o, layer, f)),
                                       "count" if f == "jobs" else
                                       "bytes" if f == "output_bytes" else "ms")
    out["session.wall_ms"] = (sum((s["t1"] - s["t0"]) * 1000 for s in tracer.spans
                                  if s["layer"] == "session"), "ms")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def print_layers(bench: Bench) -> None:
    """Human-readable per-layer table per op kind (per-op means)."""
    for kind in ("commit", "read", "lookup", "compact"):
        ops = bench.timed_ops(kind)
        if not ops:
            continue
        layers = sorted({k for o in ops for k in o["layers"]} - {"op"})
        print(f"-- {kind}: {len(ops)} ops, per-op means")
        print(f"{'layer':22s} {'self_ms':>9s} {'calls':>6s} {'jobs':>6s} "
              f"{'run_ms':>8s} {'cpu_ms':>8s} {'shufW_KB':>9s} {'out_KB':>8s} "
              f"{'sched_ms':>8s}")
        for layer in layers:
            m = {f: sum(o["layers"].get(layer, {}).get(f, 0.0) for o in ops) / len(ops)
                 for f in ("wall_ms", "calls", "jobs", "exec_run_ms", "exec_cpu_ms",
                           "shuffle_write_bytes", "output_bytes", "sched_delay_ms")}
            print(f"{layer:22s} {m['wall_ms']:9.1f} {m['calls']:6.1f} {m['jobs']:6.1f} "
                  f"{m['exec_run_ms']:8.0f} {m['exec_cpu_ms']:8.0f} "
                  f"{m['shuffle_write_bytes'] / 1024:9.1f} {m['output_bytes'] / 1024:8.1f} "
                  f"{m['sched_delay_ms']:8.1f}")
        op = {f: sum(o["layers"]["op"][f] for o in ops) / len(ops)
              for f in ("wall_ms", "jobs", "job_wall_ms", "driver_ms")}
        self_sum = sum(sum(o["layers"][l]["wall_ms"] for l in o["layers"] if l != "op")
                       for o in ops) / len(ops)
        print(f"{'op':22s} {op['wall_ms']:9.1f} (self-time sum {self_sum:.1f}) "
              f"jobs {op['jobs']:.1f} job_wall_ms {op['job_wall_ms']:.1f} "
              f"driver_ms {op['driver_ms']:.1f}")


def _children(pid: int) -> list[int]:
    out = []
    for t in os.listdir(f"/proc/{pid}/task"):
        with open(f"/proc/{pid}/task/{t}/children") as f:
            out += [int(c) for c in f.read().split()]
    return out


def _alive(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop Spark and wait until the JVM and its Python workers have ended."""
    proc = spark.sparkContext._gateway.proc
    procs, todo = [], [proc.pid]
    while todo:                      # the JVM and its descendants
        pid = todo.pop()
        try:
            kids = _children(pid)
        except FileNotFoundError:
            continue
        procs += kids
        todo += kids
    spark.stop()
    proc.stdin.close()               # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    for pid in procs:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline += timeout
            time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(SRC, "cdc", "pipeline.py")):
        print(f"engine sources not found under {SRC}: run from a checkout "
              f"of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, SRC)
    sys.path.insert(0, HERE)
    load0, steal0 = os.getloadavg()[0], _steal_s()

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({"TMPDIR": tmp, "CDC_DRIVER_MEM": DRIVER_MEM,
                       "PYSPARK_PYTHON": sys.executable})
    spark = None
    try:
        inputs, log_dir, gen_med, gen_sum = generate(args.workload, args.seed, work)
        phases = {"gen_median_s": gen_med, "gen_done_s": _since_process_start()}

        tracer = None
        if args.trace:
            from tracing import Tracer
            tracer = Tracer()
            tracer.install()
        from cdc.session import get_spark
        from jobs import JobReader

        spark = get_spark("perfbench", cores=CORES,
                          shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf={
                              "spark.local.dir": os.path.join(work, "spark-local"),
                              "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                              "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_OPTS}",
                              "spark.ui.showConsoleProgress": "false",
                          })
        phases["spark_ready_s"] = _since_process_start()
        jobs = JobReader(spark)
        if tracer:
            tracer.jobs = jobs
        bench = Bench(spark, jobs, tracer)
        if args.workload == "replay_bulk":
            w = Replay(bench, work, log_dir, inputs,
                       os.path.join(work, "warmlog"))
        else:
            w = Tail(bench, work, log_dir, inputs,
                     "cow" if args.workload == "tail_cow" else "mor")
        try:
            w.setup()
            phases["base_done_s"] = _since_process_start()
            w.run(args.seconds)
            correct = w.check() and w.failed == 0
        except Exception:
            # a raising op fails the run: report it, print no metrics
            traceback.print_exc()
            print(json.dumps({"correct": False, "attempted": len(bench.ops) + 1,
                              "failed": w.failed + 1, "metrics": {}}))
            return 1
        setup_s = bench.t_first_timed - gen_sum + gen_med
        rss = (_hwm_mb(int(spark.sparkContext._jvm.java.lang.ProcessHandle
                           .current().pid())) + _hwm_mb(os.getpid()))
        e2e, info = summarize(bench, w, setup_s, rss)
        info["setup_phases"] = phases
        info["warmup_walls_s"] = [round(o["wall_s"], 3) for o in bench.ops
                                  if not o["timed"]]
        host = host_block(spark)
        host.update(loadavg=load0, loadavg_end=os.getloadavg()[0],
                    steal_s=_steal_s() - steal0)
        print("host " + json.dumps(host))
        print("e2e " + json.dumps({k: v["value"] for k, v in e2e.items()}))
        print("info " + json.dumps(info))
        if tracer:
            print_layers(bench)
            metrics = layer_metrics(bench, tracer)
            tracer.dump(os.path.join(
                ROOT, ".bench_work", f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = e2e
        # every op, warm-up included, plus the final state check
        attempted = len(bench.ops) + 1
        failed = w.failed + (0 if correct else 1)
        print(json.dumps({"correct": bool(correct), "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
