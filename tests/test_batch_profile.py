"""The commit's one narrow pre-pass (cdc.skew.batch_profile): Spark jobs
per commit by layer, lineage metrics written from the driver (every
counter, late rows included), the resume guard and the profile-driven
LWW planner."""

from __future__ import annotations

import os
from collections import Counter
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from cdc import metrics as cdc_metrics
from cdc import pipeline
from cdc.io.log import read_log
from cdc.metrics import LATE_SECONDS, batch_lineage_metrics, read_metrics
from cdc.schema.registry import default_registry
from cdc.skew import batch_profile, plan_lww
from cdc.table.table import CdcTable
from cdc.testing.gen import gen_change_events, write_change_log


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("profilelog"))
    ev = gen_change_events(spark, n_keys=300, mean_events_per_key=4, seed=23)
    write_change_log(ev, d, events_per_file=300)
    return d


class LayerJobs:
    """Counts the Spark jobs of one op by layer: each wrapped function sets
    the job group ``<op>/<layer>`` while it runs (AQE's stage jobs inherit
    it), and the op's own code counts as ``pipeline``."""

    LAYERS = {
        "skew": [(pipeline, "plan_lww")],
        "metrics": [(pipeline, "write_batch_metrics")],
        "table.commit_merge": [(CdcTable, "commit_merge")],
        "table.commit_delta": [(CdcTable, "commit_delta")],
    }

    def __init__(self, spark, monkeypatch):
        self.sc = spark.sparkContext
        self.stack: list[str] = []
        self.op = None
        for layer, targets in self.LAYERS.items():
            for owner, name in targets:
                monkeypatch.setattr(owner, name,
                                    self._wrap(layer, getattr(owner, name)))

    def _set(self) -> None:
        if self.stack:
            g = f"{self.op}/{self.stack[-1]}"
            self.sc.setJobGroup(g, g)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _wrap(self, layer, fn):
        def traced(*args, **kwargs):
            self.stack.append(layer)
            self._set()
            try:
                return fn(*args, **kwargs)
            finally:
                self.stack.pop()
                self._set()
        return traced

    def run(self, op: str, fn) -> Counter:
        self.op, self.stack = op, ["pipeline"]
        self._set()
        try:
            fn()
        finally:
            self.stack = []
            self._set()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        layers = ["pipeline", *self.LAYERS]
        return Counter({la: n for la in layers
                        if (n := len(tracker.getJobIdsForGroup(f"{op}/{la}")))})


def _assert_jobs(got: Counter, want: dict, what: str) -> None:
    changed = {la: f"{want.get(la, 0)} -> {got.get(la, 0)}"
               for la in set(got) | set(want) if got.get(la, 0) != want.get(la, 0)}
    grew = sorted(la for la in changed if got.get(la, 0) > want.get(la, 0))
    assert not changed, (
        f"{what}: {sum(got.values())} Spark jobs, expected "
        f"{sum(want.values())}; layers that grew: {grew or 'none'}; "
        f"per-layer change: {changed}")


def _tail(spark, log_dir, lo, hi):
    return read_log(spark, log_dir, default_registry(), after_lsn=lo,
                    upto_lsn=hi)


def _narrow(df):
    """Drop the rows more than LATE_SECONDS behind the batch's max ts:
    every part of what is left spans at most LATE_SECONDS."""
    top = df.agg(F.max("ts")).first()[0]
    return df.filter(F.col("ts") >= F.lit(top - timedelta(seconds=LATE_SECONDS)))


def test_small_mor_commit_job_count(spark, log_dir, tmp_path, monkeypatch):
    """A small MOR commit on a non-empty table whose batch carries late
    rows: the batch profile (2 jobs: its shuffle stage and the collect)
    carries every lineage counter; the metrics layer runs only the
    late-row count (2 jobs) for the parts whose ts spread exceeds
    LATE_SECONDS; the uncached delta write takes 4. 8 jobs in all."""
    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    pipeline.apply_batch(spark, t, _tail(spark, log_dir, -1, 800), "b0",
                         mode="mor")
    tail = _tail(spark, log_dir, 800, 900)
    assert tail.count() > _narrow(tail).count()   # it carries late rows
    jobs = LayerJobs(spark, monkeypatch)
    got = jobs.run("mor-b1", lambda: pipeline.apply_batch(
        spark, t, tail, "b1", mode="mor"))
    _assert_jobs(got, {"pipeline": 2, "metrics": 2, "table.commit_delta": 4},
                 "small MOR apply_batch on a non-empty table")


def test_narrow_mor_commit_runs_no_metrics_job(spark, log_dir, tmp_path,
                                               monkeypatch):
    """A MOR commit whose batch spans at most LATE_SECONDS: every part's
    n_late is 0 by the spread rule, so the metrics file is built from the
    profile rows alone — 0 metrics jobs, 6 in all."""
    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    pipeline.apply_batch(spark, t, _tail(spark, log_dir, -1, 800), "b0",
                         mode="mor")
    tail = _narrow(_tail(spark, log_dir, 800, 900))
    jobs = LayerJobs(spark, monkeypatch)
    got = jobs.run("mor-narrow", lambda: pipeline.apply_batch(
        spark, t, tail, "b1", mode="mor"))
    _assert_jobs(got, {"pipeline": 2, "table.commit_delta": 4},
                 "narrow MOR apply_batch on a non-empty table")
    rows = read_metrics(spark, t.root).filter("batch_key = 'b1'").collect()
    assert rows and all(r["n_late"] == 0 for r in rows)


def test_fresh_full_tail_replay_job_count(spark, log_dir, tmp_path,
                                          monkeypatch):
    """A full-tail CoW replay into a fresh table: 9 jobs. The planner
    launches none (its broadcast test reads the profile), and neither does
    the merge's planning aggregate (touched parts and max lsn come from
    the profile); the whole log spans more than LATE_SECONDS, so the
    late-row count runs (2 metrics jobs)."""
    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    jobs = LayerJobs(spark, monkeypatch)
    got = jobs.run("replay", lambda: pipeline.replay(spark, log_dir, t))
    _assert_jobs(got, {"pipeline": 2, "metrics": 2, "table.commit_merge": 5},
                 "fresh-table full-tail CoW replay")


def test_no_profile_without_a_consumer(spark, log_dir, tmp_path, monkeypatch):
    """An explicit lww_via with metrics=False on a fresh table consumes no
    profile: the commit launches no job outside the merge."""
    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    jobs = LayerJobs(spark, monkeypatch)
    got = jobs.run("explicit", lambda: pipeline.apply_batch(
        spark, t, _tail(spark, log_dir, -1, 400), "b0", lww_via="semi",
        metrics=False))
    assert got["pipeline"] == 0, f"profile ran with no consumer: {dict(got)}"
    assert got["table.commit_merge"] > 0


# -- lineage metrics written from the driver ------------------------------------

def _late_events(spark):
    """16 keys in 5-minute steps, key k spanning (20 + k) steps: every
    key has a row exactly LATE_SECONDS behind its own last row (on the
    boundary, so not late) and rows before it (late), and the partition
    maxes differ. One verbatim duplicate delivery."""
    t0 = datetime(2026, 1, 1)
    rows = []
    for k in range(16):
        for j in range(21 + k):
            op = "I" if j == 0 else ("D" if j == 20 + k and k % 4 == 0 else "U")
            rows.append((f"r{k % 3}", f"f{k}.py", len(rows),
                         t0 + timedelta(minutes=5 * j), op, f"v{len(rows)}",
                         j // 5))
    rows.append(rows[3])
    return spark.createDataFrame(
        rows, "repo string, path string, lsn long, ts timestamp, op string, "
              "content string, batch_id long")


def test_driver_written_metrics_equal_spark_counters(spark, tmp_path):
    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    ev = _late_events(spark)
    pipeline.apply_batch(spark, t, ev, "b0", normalize=False)
    got = read_metrics(spark, t.root)
    # the on-disk schema a Spark writer produced before the driver write
    assert got.schema.simpleString() == (
        "struct<part:int,n_raw:bigint,n_events:bigint,n_ins:bigint,"
        "n_upd:bigint,n_del:bigint,n_late:bigint,lsn_low:bigint,"
        "lsn_high:bigint,approx_paths:bigint,n_dedup_dropped:bigint,"
        "batch_key:string,wall_ms:int>")
    rows = {r["part"]: r.asDict() for r in got.collect()}
    assert {r["batch_key"] for r in rows.values()} == {"b0"}
    assert all(r["wall_ms"] > 0 for r in rows.values())
    # standalone (its own max-ts collect) == the profile-fed commit path
    want = {r["part"]: r.asDict() for r in batch_lineage_metrics(
        ev.withColumn("part", t.part_of()), exact_dedup=False).collect()}
    assert set(rows) == set(want)
    for p, w in want.items():
        assert {k: rows[p][k] for k in w} == w, p
    # n_late against an independent reduction: rows more than
    # LATE_SECONDS behind their partition's max ts
    pts = ev.select(t.part_of().alias("part"), "ts").collect()
    top = {}
    for r in pts:
        top[r.part] = max(top.get(r.part, r.ts), r.ts)
    late = Counter(r.part for r in pts
                   if r.ts < top[r.part] - timedelta(seconds=LATE_SECONDS))
    assert sum(late.values()) > 0
    assert {p: r["n_late"] for p, r in rows.items()} == \
        {p: late.get(p, 0) for p in rows}
    # one file per batch_key directory: no _SUCCESS, no .crc, no temp file
    d = os.path.join(t.root, "metrics", "batch_key=b0")
    assert os.listdir(d) == [cdc_metrics.METRICS_FILE]


def test_metrics_rewrite_replaces_earlier_files(spark, tmp_path):
    """A rewrite of the same batch_key leaves only the new file (an
    earlier Spark-written attempt's part files and sidecars go)."""
    ev = _late_events(spark).withColumn("part", F.lit(0))
    root = str(tmp_path / "t")
    d = os.path.join(root, "metrics", "batch_key=k")
    (ev.limit(1).write.mode("overwrite").parquet(d))
    cdc_metrics.write_batch_metrics(
        batch_lineage_metrics(ev, exact_dedup=False), root, "k", wall_ms=7)
    assert os.listdir(d) == [cdc_metrics.METRICS_FILE]
    rows = read_metrics(spark, root).collect()
    assert len(rows) == 1 and rows[0]["wall_ms"] == 7
    assert rows[0]["n_raw"] == ev.count()


def _with_null_ts(spark, ev, t):
    """``ev`` plus rows with a NULL ts: one key beside real ts in its
    part, and one key alone in a part no other row reaches (its n_late
    is NULL)."""
    used = {r[0] for r in ev.select(t.part_of()).distinct().collect()}
    cand = spark.createDataFrame(
        [(f"z{i}", "z.py") for i in range(64)], "repo string, path string")
    lone = next(r.repo for r in cand.select("repo", t.part_of().alias("p"))
                .collect() if r.p not in used)
    extra = spark.createDataFrame(
        [("r0", "n.py", 10_000, None, "I", "x", 0),
         ("r0", "n.py", 10_001, None, "U", "y", 0),
         (lone, "z.py", 10_002, None, "I", "z", 0)],
        "repo string, path string, lsn long, ts timestamp, op string, "
        "content string, batch_id long")
    return ev.unionByName(extra)


@pytest.mark.parametrize("shape", ["narrow", "wide", "empty"])
def test_profile_metrics_equal_spark_counters(spark, tmp_path, shape):
    """The metrics file a commit builds from its profile rows equals
    ``batch_lineage_metrics(exact_dedup=False)`` on every counter, NULLs
    included, under the Arrow schema (nullability too) that the Spark
    form's toArrow() gives. The empty batch lands on a fresh table as a
    0-row file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # 32 parts: the 17 keys leave some part free for the lone NULL-ts key
    t = CdcTable(str(tmp_path / "t"), n_partitions=32, layout="key_hash")
    ev = _late_events(spark)
    if shape == "narrow":
        ev = _narrow(ev)
    elif shape == "wide":
        ev = _with_null_ts(spark, ev, t)
    else:
        ev = ev.filter(F.lit(False))
    pipeline.apply_batch(spark, t, ev, "b0", normalize=False)
    got = pq.read_table(os.path.join(t.root, "metrics", "batch_key=b0",
                                     cdc_metrics.METRICS_FILE))
    want = batch_lineage_metrics(ev.withColumn("part", t.part_of()),
                                 exact_dedup=False).toArrow()
    assert got.schema == pa.schema([*want.schema,
                                    pa.field("batch_key", pa.string()),
                                    pa.field("wall_ms", pa.int32())])
    by_part = {r["part"]: r for r in got.drop_columns(
        ["batch_key", "wall_ms"]).to_pylist()}
    assert by_part == {r["part"]: r for r in want.to_pylist()}
    late = {r["n_late"] for r in by_part.values()}
    if shape == "empty":
        assert got.num_rows == 0
    elif shape == "narrow":
        assert late == {0}
    else:
        assert None in late and max(x or 0 for x in late) > 0


@pytest.mark.parametrize("layout,seeded", [("key_hash", False),
                                           ("key_hash", True),
                                           ("repo_hash", True)])
def test_merge_plan_from_profile_matches_aggregate(spark, log_dir, tmp_path,
                                                   layout, seeded):
    """CoW commits planned from the batch profile (metrics on) land what
    the planning-aggregate path (metrics off: no counters, so no plan)
    lands: the same rows, tombstones included, the same lsn high-water
    and the same files per part."""
    spans = [(-1, 600), (600, 1000)] if seeded else [(-1, 1000)]
    if seeded:   # the second commit retires standing keys
        assert _tail(spark, log_dir, 600, 1000).filter("op = 'D'").count()
    shapes = []
    for name, metrics in (("profile", True), ("aggregate", False)):
        t = CdcTable(str(tmp_path / name), n_partitions=4, layout=layout)
        for i, (lo, hi) in enumerate(spans):
            pipeline.apply_batch(spark, t, _tail(spark, log_dir, lo, hi),
                                 f"b{i}", metrics=metrics)
        snap = t.current_snapshot()
        shapes.append((
            snap["lsn_high"],
            sorted((f["part"], f["rows"], f["lsn_min"], f["lsn_max"],
                    f["origin"]) for f in snap["files"]),
            Counter(map(tuple, t.read(spark, include_deleted=True)
                        .collect()))))
    assert shapes[0] == shapes[1]


def test_two_read_commits_still_cache(spark, tmp_path, monkeypatch):
    """The collapsed batch is cached exactly when a second action reads
    it: a CHECK constraint, conflict retries or a part-override guard each
    cache it, and each commit lands the right rows; a plain profiled
    commit caches nothing."""
    from cdc.table import alter

    cls = type(spark.range(1))
    persisted = []
    orig = cls.persist

    def persist(self, *a, **kw):
        persisted.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(cls, "persist", persist)

    def batch(lo, tag):
        rows = [(f"r{i % 3}", f"p{i}.py", lo + i, "I" if lo == 0 else "U",
                 f"{tag}{i}", i % 2) for i in range(12)]
        return (spark.createDataFrame(
            rows, "repo string, path string, lsn long, op string, "
                  "content string, bucket int")
            .withColumn("ts", F.timestamp_seconds(F.col("lsn")))
            .withColumn("batch_id", F.lit(lo).cast("long")))

    def run(t, extra=None, **kw):
        pipeline.apply_batch(spark, t, batch(0, "a"), "b0", normalize=False,
                             **kw)
        if extra:
            extra(t)
        persisted.clear()
        pipeline.apply_batch(spark, t, batch(100, "b"), "b1",
                             normalize=False, **kw)
        got = {r.path: r.content for r in t.read(spark).collect()}
        assert got == {f"p{i}.py": f"b{i}" for i in range(12)}
        return bool(persisted)

    def table(name, **kw):
        return CdcTable(str(tmp_path / name), n_partitions=4,
                        layout="key_hash", **kw)

    assert not run(table("plain"))
    assert not run(table("plain_mor"), mode="mor")
    assert run(table("check"),
               extra=lambda t: alter.set_check(t, "pos", "lsn >= 0"))
    assert run(table("retry"), conflict_retries=1)
    for mode in ("cow", "mor"):
        assert run(table(f"override_{mode}", part_cols=("bucket",)),
                   mode=mode)


def test_empty_tail_on_nonempty_table_commits_nothing(spark, log_dir,
                                                      tmp_path):
    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    pipeline.apply_batch(spark, t, _tail(spark, log_dir, -1, 500), "b0")
    before = t.current_snapshot()["snapshot_id"]
    empty = _tail(spark, log_dir, -1, 500).filter(F.lit(False))
    snap = pipeline.apply_batch(spark, t, empty, "b1")
    assert snap["snapshot_id"] == before
    assert t.current_snapshot()["snapshot_id"] == before
    assert not t.is_committed("b1")
    assert not os.path.exists(os.path.join(t.root, "metrics", "batch_key=b1"))


# -- profile-driven planner ----------------------------------------------------

def test_profile_planner_matches_exact_planner(spark):
    """The planner reading the profile's HLL totals picks what the exact
    key-level pass picks: semi within the broadcast budget, and past it
    the same maxby / salted choice (the over-budget path re-measures the
    hottest key exactly)."""
    hot = spark.range(20_000).select(
        F.lit("hot_repo").alias("repo"), F.lit("hot.py").alias("path"))
    cold = spark.range(500).select(
        F.lit("cold_repo").alias("repo"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"))
    ev = hot.unionByName(cold)
    prof = batch_profile(ev, F.pmod(F.hash("repo", "path"), F.lit(4)),
                         counters=False)
    assert prof["n_events"] == 20_500
    assert abs(prof["n_keys"] - 501) <= 0.1 * 501
    for kw in ({}, {"broadcast_keys_max": 10},
               {"broadcast_keys_max": 10, "target_rows_per_task": 1_000}):
        assert plan_lww(ev, profile=prof, **kw) == plan_lww(ev, **kw), kw
    assert plan_lww(ev, profile=prof, broadcast_keys_max=10,
                    target_rows_per_task=1_000)[0] == "salted"
