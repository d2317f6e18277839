"""The scan planner (cdc/table/scan.py) and the readers that execute its
tasks: planner rules on hand-built manifests, the footer min/max fold on a
pyarrow-written file, and a differential check of ``CdcTable.read`` and
the ``cdctable`` DataSource against a pure-Python reducer over commit
sequences mixing CoW, MOR row-image and MOR patch-image commits, deletes,
ALTER rename/drop/add and compaction."""

from __future__ import annotations

import hashlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cdc.table.scan import (column_map, footer_minmax, layer_of,
                            plan_scan)


def _entry(path, part, lsn=(1, 1), stats=None, kind="base", image=None):
    e = {"path": path, "part": part, "lsn_min": lsn[0], "lsn_max": lsn[1],
         "columns": "repo string, score double", "ids": [1, 2],
         "kind": kind}
    if stats is not None:
        e["stats"] = stats
    if image is not None:
        e["image"] = image
    return e


_A = _entry("data/snap-000000000001-x/part=0/a.parquet", 0, (1, 5),
            {"score": [0.0, 10.0]})
_B = _entry("data/snap-000000000002-x/part=0/b.parquet", 0, (6, 9),
            {"score": [20.0, 30.0]})
_C = _entry("data/snap-000000000001-x/part=1/c.parquet", 1, (1, 5),
            {"score": [0.0, 10.0]})
_D = _entry("data/snap-000000000003-x/part=1/d.parquet", 1, (10, 10),
            kind="delta")
_E = _entry("data/snap-000000000001-x/part=2/e.parquet", 2, (-1, -1))


def test_plan_scan_tasks_filter_and_prune():
    snap = {"files": [_A, _B, _C, _D, _E]}
    tasks = plan_scan(snap)
    # one task per clean file (snapshot order), then one per delta part
    assert [(t.part, [f["path"] for f in t.files], t.reconcile)
            for t in tasks] == [
        (0, [_A["path"]], "none"), (0, [_B["path"]], "none"),
        (2, [_E["path"]], "none"),
        (1, [_C["path"], _D["path"]], "row")]
    assert [t.part for t in plan_scan(snap, parts=[1, 2])] == [2, 1]
    # stats prune drops A only: a delta-carrying part never prunes, and a
    # file without stats for the column is kept
    kept = [f["path"] for t in plan_scan(snap, prune={"score": (15, None)})
            for f in t.files]
    assert kept == [_B["path"], _E["path"], _C["path"], _D["path"]]
    # the manifest _lsn bounds prune too; an empty file (lsn -1) is kept
    kept = [f["path"] for t in plan_scan(snap, prune={"_lsn": (None, 5)})
            for f in t.files]
    assert kept == [_A["path"], _E["path"], _C["path"], _D["path"]]
    # an incomparable bound keeps the file (superset semantics)
    assert len(plan_scan(snap, prune={"score": ("zz", None)})) == 4
    patch = dict(_D, image="patch")
    assert plan_scan({"files": [_C, patch]})[0].reconcile == "patch"


def test_column_map_resolves_by_field_id_and_layer_of():
    entry = {"columns": "repo string, content string, score int",
             "ids": [1, 2, 3]}
    # content renamed to body, score dropped, a re-added 'score' has id 9
    assert column_map({"repo": 1, "body": 2, "score": 9}, entry) == [
        ("repo", "repo"), ("content", "body")]
    # the LAST data/snap segment names the layer, not the table root's
    assert layer_of({"path": "data/snap-000000000042-ab/part=0/x"}) == 42
    assert layer_of(
        {"path": "data/snap-7/t/data/snap-000000000009-ab/part=0/x"}) == 9


def test_footer_minmax_folds_row_groups_by_leaf_path(tmp_path):
    """Several row groups, a struct column (carrying a nested '_lsn' leaf)
    ahead of the target: the fold returns the top-level column's global
    min/max, and (None, None) for nested or absent columns."""
    lsn = [50, 7, 93, 12, 61, 3, 88, 40]
    t = pa.table({
        "meta": pa.array([{"_lsn": 10_000 + i, "n": i} for i in range(8)]),
        "_lsn": pa.array(lsn, type=pa.int64()),
        "name": pa.array([f"k{i}" for i in range(8)]),
    })
    path = str(tmp_path / "f.parquet")
    pq.write_table(t, path, row_group_size=3)
    meta = pq.ParquetFile(path).metadata
    assert meta.num_row_groups == 3
    assert footer_minmax(meta, "_lsn") == (3, 93)
    assert footer_minmax(meta, "name") == ("k0", "k7")
    for col in ("meta", "n", "absent"):
        assert footer_minmax(meta, col) == (None, None)


# -- differential: table.read == cdctable == pure-Python reducer ------------

_KEYS = ("a", "b", "c")


class _Model:
    """Expected table state: per key the winning lsn, tombstone flag and
    value columns. Batches collapse per key first (row images: the max-lsn
    event; patch images: each column's last non-null value, op from the
    max-lsn event), then apply under the >= lsn guard; a patch coalesces
    into the live row, a delete resets it."""

    def __init__(self):
        self.alt = "v"          # the one alterable value column (or None)
        self.rows: dict[str, dict] = {}

    @property
    def cols(self) -> list[str]:
        return ["content"] + ([self.alt] if self.alt else [])

    def apply(self, events: list[dict], image: str) -> None:
        by_key: dict[str, list] = {}
        for e in sorted(events, key=lambda e: e["lsn"]):
            by_key.setdefault(e["path"], []).append(e)
        for key, evs in by_key.items():
            last, cur = evs[-1], self.rows.get(key)
            if cur is not None and last["lsn"] < cur["lsn"]:
                continue
            if last["op"] == "D":
                vals = dict.fromkeys(self.cols)
            elif image == "full":
                vals = {c: last[c] for c in self.cols}
            else:
                prev = (cur["vals"] if cur and not cur["deleted"]
                        else dict.fromkeys(self.cols))
                vals = {}
                for c in self.cols:
                    new = [e[c] for e in evs if e[c] is not None]
                    vals[c] = new[-1] if new else prev[c]
            self.rows[key] = {"lsn": last["lsn"], "deleted": last["op"] == "D",
                              "vals": vals}

    def alter(self, kind: str, new: str | None = None) -> None:
        for r in self.rows.values():
            if kind == "rename":
                r["vals"][new] = r["vals"].pop(self.alt)
            elif kind == "drop":
                r["vals"].pop(self.alt)
            else:
                r["vals"][new] = None
        self.alt = None if kind == "drop" else new

    def live(self) -> dict:
        out = {}
        for key, r in self.rows.items():
            if not r["deleted"]:
                c = r["vals"]["content"]
                out[("r", key)] = (
                    *[r["vals"][col] for col in self.cols], r["lsn"],
                    hashlib.sha256(c.encode()).hexdigest() if c else None)
        return out


def _check(spark, t, model: _Model) -> None:
    from cdc.spark_source import CdcTableDataSource

    spark.dataSource.register(CdcTableDataSource)
    cols = [*model.cols, "_lsn", "_content_sha256"]
    want = model.live()
    for name, df in (("table.read", t.read(spark, include_deleted=False)),
                     ("cdctable", spark.read.format("cdctable")
                      .option("root", t.root).load())):
        for stale in {"v", "w"} - set(model.cols):
            assert stale not in df.columns, (name, stale)
        got = {(r["repo"], r["path"]): tuple(r[c] for c in cols)
               for r in df.collect()}
        assert got == want, name


def _run(spark, t, program, model: _Model) -> list[set]:
    """Execute ``program`` against table ``t`` and the model. Returns the
    reconcile kinds the planner saw at each ('check',) step."""
    from cdc.pipeline import apply_batch
    from cdc.table import alter
    from cdc.table.maintenance import compact

    seen = []
    hi = lo = 0
    for i, op in enumerate(program):
        kind = op[0]
        snap = t.current_snapshot()
        if kind == "check":
            seen.append({task.reconcile for task in plan_scan(snap)})
            _check(spark, t, model)
        elif kind == "compact":
            if snap is not None:
                compact(spark, t)
        elif kind in ("rename", "drop", "add"):
            if snap is None or (model.alt is None) != (kind == "add"):
                continue    # illegal here: engine and model both no-op
            new = {"rename": "w" if model.alt == "v" else "v",
                   "drop": None, "add": "v"}[kind]
            if kind == "rename":
                alter.rename_column(t, model.alt, new)
            elif kind == "drop":
                alter.drop_column(t, model.alt)
            else:
                alter.add_column(t, new, "string")
            model.alter(kind, new)
        else:
            _, events, late = op
            image = "patch" if kind == "patch" else "full"
            other = {"mor": "patch", "patch": "row"}.get(kind)
            if snap is not None and other and any(
                    f.get("kind") == "delta"
                    and f.get("image", "row") == other
                    for f in snap["files"]):
                compact(spark, t)   # delta images never mix uncompacted
            rows = []
            for key, evop, content, v in events:
                if late:    # below every lsn committed so far
                    lo -= 1
                    lsn = 1000 + lo
                else:
                    hi += 1
                    lsn = 1000 + hi
                deleted = evop == "D"
                rows.append({"repo": "r", "path": key, "lsn": lsn,
                             "op": evop,
                             "content": None if deleted else content,
                             **({model.alt: None if deleted else v}
                                if model.alt else {})})
            ddl = ("repo string, path string, lsn long, op string, "
                   "content string"
                   + (f", {model.alt} string" if model.alt else ""))
            frame = (spark.createDataFrame(
                        [tuple(r[c] for c in ("repo", "path", "lsn", "op",
                                              *model.cols)) for r in rows],
                        ddl)
                     .select("*",
                             F.to_timestamp(F.lit("2026-01-01")).alias("ts"),
                             F.lit(i).alias("batch_id")))
            apply_batch(spark, t, frame, f"b{i}", normalize=False,
                        metrics=False, lww_via="maxby",
                        mode="cow" if kind == "cow" else "mor", image=image)
            model.apply(rows, image)
    return seen


def test_readers_match_reducer_across_cow_mor_patch_and_rename(spark,
                                                                tmp_path):
    """Deterministic sibling of the property below: one CoW commit, one
    MOR row-image commit (plus a late batch that loses the lsn guard), a
    rename read through uncompacted row deltas, then MOR patch-image
    commits over the renamed column (the runner compacts the row deltas
    first, as commit_delta requires) and a drop + re-add that must not
    resurrect old values."""
    from cdc.table.table import CdcTable

    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    program = [
        ("cow", [("a", "U", "x1", "p1"), ("b", "U", "y1", "q1"),
                 ("c", "U", "z1", None)], False),
        ("mor", [("a", "U", "x2", "p2"), ("b", "D", None, None)], False),
        ("mor", [("a", "U", "late", "late")], True),
        ("check",),
        ("rename",),
        ("check",),
        ("patch", [("a", "U", None, "p3"), ("b", "U", None, "q3")], False),
        ("patch", [("b", "U", "y6", None), ("a", "D", None, None)], False),
        ("check",),
        ("drop",), ("add",),
        ("check",),
    ]
    model = _Model()
    seen = _run(spark, t, program, model)
    # key c's partition stays clean: every check mixed both task kinds
    assert seen == [{"none", "row"}, {"none", "row"}, {"none", "patch"},
                    {"none", "patch"}]
    assert model.live() == {
        ("r", "b"): ("y6", None, 1008, hashlib.sha256(b"y6").hexdigest()),
        ("r", "c"): ("z1", None, 1003, hashlib.sha256(b"z1").hexdigest()),
    }


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_EVENT = st.tuples(st.sampled_from(_KEYS), st.sampled_from(["U", "U", "D"]),
                   st.sampled_from([None, "x", "y"]),
                   st.sampled_from([None, "p", "q"]))
_OP = st.one_of(
    st.tuples(st.sampled_from(["cow", "mor", "patch"]),
              st.lists(_EVENT, min_size=1, max_size=3), st.booleans()),
    st.tuples(st.sampled_from(["rename", "drop", "add", "compact"])))


@pytest.mark.slow
@given(program=st.lists(_OP, min_size=1, max_size=8))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_readers_match_reducer_property(spark, tmp_path, program):
    """For ANY sequence of CoW / MOR row-image / MOR patch-image commits
    (deletes and late batches included), ALTER rename/drop/add and
    compaction, both readers return exactly the reducer's live rows."""
    import tempfile

    from cdc.table.table import CdcTable

    t = CdcTable(f"{tempfile.mkdtemp(dir=tmp_path)}/t", n_partitions=2,
                 layout="key_hash")
    model = _Model()
    _run(spark, t, program, model)
    if t.current_snapshot() is not None:
        _check(spark, t, model)
