"""Run-time span tracing around the engine's public functions.

``Tracer.install`` swaps each listed function (in its defining module and in
every ``cdc.*`` module that imported it by name) for a wrapper that records
a span and sets the Spark job group ``<op>/<layer>`` for the span's
duration, restoring the parent's group on exit. Jobs therefore land in the
innermost layer that launched them, including AQE's asynchronous stage
jobs, which inherit the group of the thread that submitted the query. No
engine file is edited. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from collections import defaultdict

from jobs import STAGE_FIELDS, JobReader, covered_ms

# layer -> (module, attribute) of the public functions it owns
LAYERS = {
    "session": [("cdc.session", "get_spark")],
    "pipeline": [("cdc.pipeline", "apply_batch"), ("cdc.pipeline", "replay")],
    "skew": [("cdc.skew", "plan_lww")],
    "io.log": [("cdc.io.log", "read_log")],
    "dedup": [("cdc.dedup", "last_writer_wins")],
    "schema.normalize": [("cdc.schema.normalize", "normalize_content")],
    "merge": [("cdc.merge", "merge_apply"), ("cdc.merge", "batch_to_state_rows")],
    "metrics": [("cdc.metrics", "batch_lineage_metrics"),
                ("cdc.metrics", "write_batch_metrics")],
    "table.commit_merge": [("cdc.table.table", "CdcTable.commit_merge")],
    "table.commit_delta": [("cdc.table.table", "CdcTable.commit_delta")],
    "table.read": [("cdc.table.table", "CdcTable.read")],
    "table.lookup_keys": [("cdc.table.table", "CdcTable.lookup_keys")],
    "meta.store": [("cdc.meta.store", f) for f in
                   ("read_current", "read_snapshot_file", "new_snapshot",
                    "write_snapshot")],
    "table.maintenance": [("cdc.table.maintenance", "compact")],
}
# layers that only build lazy plans: their executor work runs in the layer
# whose action executes the plan
LAZY = {"io.log", "dedup", "schema.normalize", "merge"}
ROOT = "harness"   # the op's own code outside every wrapped function


def commit_layers() -> list[str]:
    """Layers reported per commit op: the harness root and every wrapped
    layer a commit or a replay reaches."""
    return [ROOT] + [layer for layer in LAYERS if layer not in
                     ("session", "table.lookup_keys", "table.maintenance")]


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.op: str | None = None
        self.jobs: JobReader | None = None
        self._main = threading.get_ident()

    # -- installation -------------------------------------------------------
    def install(self) -> None:
        for layer, targets in LAYERS.items():
            for mod_name, attr in targets:
                mod = importlib.import_module(mod_name)
                owner, name = mod, attr
                if "." in attr:
                    cls_name, name = attr.split(".")
                    owner = getattr(mod, cls_name)
                orig = getattr(owner, name)
                wrapped = self._wrap(layer, attr, orig)
                setattr(owner, name, wrapped)
                for m in list(sys.modules.values()):
                    if (getattr(m, "__name__", "").startswith("cdc")
                            and getattr(m, name, None) is orig):
                        setattr(m, name, wrapped)

    def _wrap(self, layer: str, fname: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if threading.get_ident() != tracer._main:
                return fn(*args, **kwargs)
            return tracer._call(layer, fname, fn, args, kwargs)

        return traced

    def _call(self, layer, fname, fn, args, kwargs):
        parent = self.stack[-1] if self.stack else None
        span = {"layer": layer, "fn": fname, "op": self.op,
                "parent": parent["id"] if parent else None,
                "id": len(self.spans), "t0": time.perf_counter(), "t1": None}
        if layer == "table.read":
            # share of the table's partitions this read resolves
            parts = kwargs.get("parts", args[2] if len(args) > 2 else None)
            n = args[0].n_partitions
            span["parts_frac"] = 1.0 if parts is None else len(parts) / n
        self.spans.append(span)
        self.stack.append(span)
        self._group(layer)
        try:
            return fn(*args, **kwargs)
        finally:
            span["t1"] = time.perf_counter()
            self.stack.pop()
            self._group(self.stack[-1]["layer"] if self.stack else ROOT)

    def _group(self, layer: str) -> None:
        if self.jobs is not None and self.op is not None:
            self.jobs.set_group(f"{self.op}/{layer}")

    # -- ops ----------------------------------------------------------------
    def begin(self, op: str) -> None:
        self.op = op
        self.stack = [{"layer": ROOT, "fn": op, "op": op, "parent": None,
                       "id": len(self.spans), "t0": time.perf_counter(),
                       "t1": None}]
        self.spans.append(self.stack[0])
        self._group(ROOT)

    def end(self) -> None:
        self.stack[0]["t1"] = time.perf_counter()
        self.stack = []
        self.jobs.set_group(None)
        self.op = None

    def op_layers(self, op: str) -> dict[str, dict]:
        """Per-layer totals of one finished op: self wall, calls, and the
        Spark work of the layer's job group. Self time = span duration
        minus the part its child spans cover."""
        spans = [s for s in self.spans if s["op"] == op]
        kids = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["t0"], s["t1"]))
        out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        for s in spans:
            d = out[s["layer"]]
            d["wall_ms"] += ((s["t1"] - s["t0"])
                             - covered_ms(kids[s["id"]])) * 1000
            if s["parent"] is not None:
                d["calls"] += 1
            if "parts_frac" in s:
                d["parts_frac_sum"] += s["parts_frac"]
        self.jobs.drain()
        seen: set[int] = set()
        intervals = []
        for layer, d in out.items():
            g = self.jobs.group_stats(f"{op}/{layer}", seen)
            d["jobs"] = g.jobs
            for f in STAGE_FIELDS:
                d[f] = getattr(g, f)
            intervals += g.intervals
        root = spans[0]
        out["op"] = {"wall_ms": (root["t1"] - root["t0"]) * 1000,
                     "jobs": sum(d["jobs"] for d in out.values()),
                     "job_wall_ms": covered_ms(intervals)}
        out["op"]["driver_ms"] = out["op"]["wall_ms"] - out["op"]["job_wall_ms"]
        return {k: dict(v) for k, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
