"""Incremental view maintenance (cdc.ivm) + pre/post-image change feed +
manifest-diff feed pruning (cdc.table.timetravel.changed_parts)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc.ivm import IVM_KEY_PREFIX, full_aggregate, refresh
from cdc.meta import store
from cdc.pipeline import replay
from cdc.table.table import CdcTable
from cdc.table.timetravel import change_feed, changed_parts
from cdc.testing.gen import gen_change_events, write_change_log

def MEASURES():
    return {"sum_len": F.length("content").cast("long")}


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("ivm")
    events = gen_change_events(spark, n_keys=400, mean_events_per_key=6,
                               seed=97).cache()
    log_dir = str(root / "log")
    write_change_log(events, log_dir, events_per_file=600)
    base = CdcTable(str(root / "base"), n_partitions=8, layout="key_hash")
    # grouped commits -> several snapshots, so refreshes span real history
    replay(spark, log_dir, base, batches_per_commit=2, metrics=False)
    return {"base": base, "root": root, "log_dir": log_dir}


def mv_rows(spark, mv):
    return {(r.repo, r.cnt, r.sum_len) for r in
            mv.read(spark).select("repo", "cnt", "sum_len").collect()}


def recompute(spark, base):
    return {(r.repo, r.cnt, r.sum_len) for r in
            full_aggregate(base.read(spark), ["repo"], MEASURES()).collect()}


def test_initial_load_then_incremental_matches_recompute(spark, env, tmp_path):
    base = env["base"]
    snaps = [s["snapshot_id"] for s in base.snapshots()]
    assert len(snaps) >= 2, "need real history behind the refresh"
    mv = CdcTable(str(tmp_path / "mv"), key_cols=("repo",), n_partitions=4,
                  layout="key_hash")
    snap = refresh(spark, base, mv, MEASURES())
    assert snap is not None
    assert store.covered_hi(mv.current_snapshot(), IVM_KEY_PREFIX) == \
        base.current_snapshot()["snapshot_id"]
    assert mv_rows(spark, mv) == recompute(spark, base)
    # already current -> no-op
    assert refresh(spark, base, mv, MEASURES()) is None


def test_refresh_tracks_each_commit(spark, tmp_path):
    events = gen_change_events(spark, n_keys=120, mean_events_per_key=5,
                               seed=31).cache()
    log_dir = str(tmp_path / "log")
    write_change_log(events, log_dir, events_per_file=200)
    base = CdcTable(str(tmp_path / "base"), n_partitions=4, layout="key_hash")
    mv = CdcTable(str(tmp_path / "mv"), key_cols=("repo",), n_partitions=4,
                  layout="key_hash")
    bids = sorted(r[0] for r in events.select("batch_id").distinct().collect())
    from cdc.pipeline import apply_batch
    for i, b in enumerate(bids):
        apply_batch(spark, base, events.filter(F.col("batch_id") == b),
                    f"b{i}", normalize=False, metrics=False)
        refresh(spark, base, mv, MEASURES())
        assert mv_rows(spark, mv) == recompute(spark, base), f"diverged at commit {i}"
    events.unpersist()


def test_group_to_zero_is_tombstoned(spark, tmp_path):
    base = CdcTable(str(tmp_path / "base"), n_partitions=2, layout="key_hash")
    mv = CdcTable(str(tmp_path / "mv"), key_cols=("repo",), n_partitions=2,
                  layout="key_hash")
    rows = [("r1", "a", 1, "x"), ("r1", "b", 2, "yy"), ("r2", "a", 3, "zzz")]
    ev = spark.createDataFrame(rows, "repo string, path string, lsn long, content string") \
        .select("*", F.lit("U").alias("op"),
                F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
                F.lit(0).alias("batch_id"))
    from cdc.pipeline import apply_batch
    apply_batch(spark, base, ev, "b0", normalize=False, metrics=False)
    refresh(spark, base, mv, MEASURES())
    assert mv_rows(spark, mv) == {("r1", 2, 3), ("r2", 1, 3)}

    dels = spark.createDataFrame([("r1", "a", 10), ("r1", "b", 11)],
                                 "repo string, path string, lsn long") \
        .select("*", F.lit(None).cast("string").alias("content"),
                F.lit("D").alias("op"),
                F.to_timestamp(F.lit("2026-01-02 00:00:00")).alias("ts"),
                F.lit(1).alias("batch_id"))
    apply_batch(spark, base, dels, "b1", normalize=False, metrics=False)
    refresh(spark, base, mv, MEASURES())
    assert mv_rows(spark, mv) == {("r2", 1, 3)}
    # the zeroed group is a tombstone, not a live zero row
    raw = mv.read(spark, include_deleted=True).filter("repo = 'r1'").collect()
    assert len(raw) == 1 and raw[0]["_deleted"] is True


def test_refresh_is_exactly_once_on_replay(spark, env, tmp_path):
    base = env["base"]
    mv = CdcTable(str(tmp_path / "mv2"), key_cols=("repo",), n_partitions=4,
                  layout="key_hash")
    refresh(spark, base, mv, MEASURES())
    before = mv.current_snapshot()["snapshot_id"]
    # same endpoints -> ledger key already committed -> no new snapshot
    assert refresh(spark, base, mv, MEASURES()) is None
    assert mv.current_snapshot()["snapshot_id"] == before


def test_change_feed_images_pairs_and_preimages(spark, tmp_path):
    base = CdcTable(str(tmp_path / "b"), n_partitions=2, layout="key_hash")
    from cdc.pipeline import apply_batch
    mk = lambda rows, b: spark.createDataFrame(
        rows, "repo string, path string, lsn long, content string, op string") \
        .select("*", F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
                F.lit(b).alias("batch_id"))
    apply_batch(spark, base, mk([("r1", "a", 1, "old", "U"),
                                 ("r2", "a", 2, "keep", "U"),
                                 ("r3", "a", 3, "gone", "U")], 0),
                "b0", normalize=False, metrics=False)
    apply_batch(spark, base, mk([("r1", "a", 10, "new", "U"),
                                 ("r3", "a", 11, None, "D"),
                                 ("r4", "a", 12, "born", "U")], 1),
                "b1", normalize=False, metrics=False)
    feed = change_feed(spark, base, 1, 2, images="both")
    got = {(r.repo, r._change_type, r.content) for r in feed.collect()}
    assert got == {
        ("r1", "update_preimage", "old"),
        ("r1", "update_postimage", "new"),
        ("r3", "delete", "gone"),
        ("r4", "insert", "born"),
    }
    # post mode unchanged: one row per change, post-image only
    post = {(r.repo, r._change_type) for r in
            change_feed(spark, base, 1, 2).collect()}
    assert post == {("r1", "update"), ("r3", "delete"), ("r4", "insert")}


def test_changed_parts_prunes_untouched_partitions(spark, tmp_path):
    base = CdcTable(str(tmp_path / "b"), n_partitions=16, layout="key_hash")
    from cdc.pipeline import apply_batch
    wide = spark.range(200).select(
        F.concat(F.lit("repo"), F.col("id")).alias("repo"),
        F.lit("f").alias("path"), F.col("id").alias("lsn"),
        F.lit("c").alias("content"), F.lit("U").alias("op"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
        F.lit(0).alias("batch_id"))
    apply_batch(spark, base, wide, "b0", normalize=False, metrics=False)
    one = wide.filter("repo = 'repo7'").select(
        "repo", "path", (F.col("lsn") + 1000).alias("lsn"),
        F.lit("c2").alias("content"), "op", "ts",
        F.lit(1).alias("batch_id"))
    apply_batch(spark, base, one, "b1", normalize=False, metrics=False)
    parts = changed_parts(base, 1, 2)
    assert len(parts) < base.n_partitions, "single-key commit must not churn all partitions"
    feed = change_feed(spark, base, 1, 2, images="both")
    assert {(r.repo, r._change_type) for r in feed.collect()} == {
        ("repo7", "update_preimage"), ("repo7", "update_postimage")}
    # plan pin: the feed SCANS only churned partitions' files — untouched
    # partitions never reach Spark (manifest-level pruning, not a filter)
    scanned = {d for f in feed.inputFiles()
               for d in [f.rsplit("/", 2)[-2]] if d.startswith("part=")}
    assert scanned <= {f"part={p}" for p in parts}
    assert len(scanned) <= 2 * len(parts)


def test_images_feed_across_schema_evolution(spark, tmp_path):
    """A column added between the two snapshots: pre-images read under the
    old schema surface NULL for it (same allowMissingColumns stance as the
    snapshot read path), and the retraction pair still forms."""
    base = CdcTable(str(tmp_path / "b"), n_partitions=2, layout="key_hash")
    from cdc.pipeline import apply_batch
    v1 = spark.createDataFrame([("r1", "a", 1, "old", "U")],
                               "repo string, path string, lsn long, "
                               "content string, op string") \
        .select("*", F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
                F.lit(0).alias("batch_id"))
    apply_batch(spark, base, v1, "b0", normalize=False, metrics=False)
    v2 = spark.createDataFrame([("r1", "a", 10, "new", "U", "py")],
                               "repo string, path string, lsn long, "
                               "content string, op string, lang string") \
        .select("*", F.to_timestamp(F.lit("2026-01-02 00:00:00")).alias("ts"),
                F.lit(1).alias("batch_id"))
    apply_batch(spark, base, v2, "b1", normalize=False, metrics=False)
    feed = change_feed(spark, base, 1, 2, images="both")
    rows = {r._change_type: r for r in feed.collect()}
    assert set(rows) == {"update_preimage", "update_postimage"}
    assert rows["update_preimage"].content == "old"
    assert rows["update_preimage"].lang is None
    assert rows["update_postimage"].lang == "py"
