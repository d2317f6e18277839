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
        "metrics": [(pipeline, "batch_lineage_metrics"),
                    (pipeline, "write_batch_metrics")],
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


def test_small_mor_commit_job_count(spark, log_dir, tmp_path, monkeypatch):
    """A small MOR commit on a non-empty table: the batch profile (2 jobs:
    its shuffle stage and the collect) replaces the emptiness probe, the
    planner's key profile and the metrics max-ts phase; the metrics
    aggregate is collected and written by the driver (2 jobs, no Spark
    write job). 9 jobs in all."""
    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    pipeline.apply_batch(spark, t, _tail(spark, log_dir, -1, 800), "b0",
                         mode="mor")
    jobs = LayerJobs(spark, monkeypatch)
    got = jobs.run("mor-b1", lambda: pipeline.apply_batch(
        spark, t, _tail(spark, log_dir, 800, 900), "b1", mode="mor"))
    _assert_jobs(got, {"pipeline": 2, "metrics": 2, "table.commit_delta": 5},
                 "small MOR apply_batch on a non-empty table")


def test_fresh_full_tail_replay_job_count(spark, log_dir, tmp_path,
                                          monkeypatch):
    """A full-tail CoW replay into a fresh table: 13 jobs, of which the
    planner launches none (its broadcast test reads the profile)."""
    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    jobs = LayerJobs(spark, monkeypatch)
    got = jobs.run("replay", lambda: pipeline.replay(spark, log_dir, t))
    _assert_jobs(got, {"pipeline": 2, "metrics": 2, "table.commit_merge": 9},
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
                         max_ts=False)
    assert prof["n_events"] == 20_500
    assert abs(prof["n_keys"] - 501) <= 0.1 * 501
    for kw in ({}, {"broadcast_keys_max": 10},
               {"broadcast_keys_max": 10, "target_rows_per_task": 1_000}):
        assert plan_lww(ev, profile=prof, **kw) == plan_lww(ev, **kw), kw
    assert plan_lww(ev, profile=prof, broadcast_keys_max=10,
                    target_rows_per_task=1_000)[0] == "salted"
