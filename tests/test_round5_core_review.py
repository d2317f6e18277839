"""Round-5 core-protocol review pins: stale-lock fencing, recovery CAS
re-validation, staged-WAP isolation from timestamp time travel, typed
lookup literals, leaf-path footer stats, MOR layer-ordinal anchoring, and
SYS_COLS-safe merge value derivation."""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from cdc.meta import store
from cdc.meta.store import CommitConflictError
from cdc.table.table import CdcTable

DDL = "repo string, path string, lsn long, content string, op string"


def ev(spark, rows, batch_id=0):
    return (spark.createDataFrame(rows, DDL)
            .select("*",
                    F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
                    F.lit(batch_id).alias("batch_id")))


def _commit(spark, t, rows, key):
    t.commit_merge(spark, ev(spark, rows), key)


# -- commit-lock fencing --------------------------------------------------------

def test_broken_lock_fences_stalled_writer(tmp_path):
    """A writer whose lock was broken (stale) and re-taken by another must
    (a) fail the commit-point fence instead of swapping the pointer and
    (b) NOT unlink the new holder's lock on release."""
    root = str(tmp_path / "t")
    os.makedirs(store.meta_dir(root), exist_ok=True)
    lock = os.path.join(store.meta_dir(root), "_commit.lock")

    fd_a = store._acquire_commit_lock(root)
    assert store._holds_commit_lock(root, fd_a)
    os.unlink(lock)                       # staleness breaker fires
    fd_b = store._acquire_commit_lock(root)   # another writer enters
    assert store._holds_commit_lock(root, fd_b)
    assert not store._holds_commit_lock(root, fd_a)
    with pytest.raises(CommitConflictError, match="broken"):
        store._fence(root, fd_a)
    store._release_commit_lock(root, fd_a)    # must NOT remove B's lock
    assert os.path.exists(lock)
    assert store._holds_commit_lock(root, fd_b)
    store._release_commit_lock(root, fd_b)
    assert not os.path.exists(lock)


# -- multi-table recovery CAS ---------------------------------------------------

def _staged_pair(spark, tmp_path):
    from cdc.table.wap import stage
    ta = CdcTable(str(tmp_path / "a"), n_partitions=4)
    tb = CdcTable(str(tmp_path / "b"), n_partitions=4)
    _commit(spark, ta, [("r1", "x", 1, "a0", "U")], "base-a")
    _commit(spark, tb, [("r1", "x", 1, "b0", "U")], "base-b")
    stage(spark, ta, ev(spark, [("r1", "y", 2, "a1", "U")]), "s-a",
          ref="audit")
    stage(spark, tb, ev(spark, [("r1", "y", 2, "b1", "U")]), "s-b",
          ref="audit")
    return ta, tb


def test_recover_txn_refuses_diverged_table(spark, tmp_path):
    """recover_txn must not roll a table's pointer BACK over commits made
    after the crash: a table that advanced past the intent's validated
    base aborts recovery loudly, both tables keep their current state."""
    ta, tb = _staged_pair(spark, tmp_path)
    crash = {"n": 0}
    orig = store._complete_swap

    def dying(root, ref, name):
        if crash["n"] >= 1:
            raise RuntimeError("crash after first swap")
        crash["n"] += 1
        orig(root, ref, name)

    store._complete_swap = dying
    try:
        with pytest.raises(RuntimeError):
            store.publish_refs_atomic([(ta.root, "audit"),
                                       (tb.root, "audit")])
    finally:
        store._complete_swap = orig
    # the torn window: B not yet published; a later writer advances B
    _commit(spark, tb, [("r2", "z", 3, "b2", "U")], "late-b")
    late_b = store.current_snapshot_id(tb.root)
    with pytest.raises(CommitConflictError, match="advanced past"):
        store.recover_txn([ta.root, tb.root])
    # nothing rolled back
    assert store.current_snapshot_id(tb.root) == late_b


def test_recover_txn_completes_clean_crash(spark, tmp_path):
    """The roll-forward path still works when no table diverged, and is
    idempotent."""
    ta, tb = _staged_pair(spark, tmp_path)
    crash = {"n": 0}
    orig = store._complete_swap

    def dying(root, ref, name):
        if crash["n"] >= 1:
            raise RuntimeError("crash after first swap")
        crash["n"] += 1
        orig(root, ref, name)

    store._complete_swap = dying
    try:
        with pytest.raises(RuntimeError):
            store.publish_refs_atomic([(ta.root, "audit"),
                                       (tb.root, "audit")])
    finally:
        store._complete_swap = orig
    assert store.recover_txn([ta.root, tb.root]) is True
    assert store.recover_txn([ta.root, tb.root]) is False
    got = {r.path for r in tb.read(spark).collect()}
    assert got == {"x", "y"}


def test_failed_fence_leaves_no_intent(spark, tmp_path, monkeypatch):
    """A publish that fails before its first pointer swap (here: the
    stale-writer fence) publishes nothing and must not leave its intent
    behind — otherwise every later publish on the coordinator aborts."""
    ta, tb = _staged_pair(spark, tmp_path)
    before = (store.current_snapshot_id(ta.root),
              store.current_snapshot_id(tb.root))

    def broken(root, fd):
        raise CommitConflictError(f"commit lock at {root} was broken")

    monkeypatch.setattr(store, "_fence", broken)
    with pytest.raises(CommitConflictError, match="broken"):
        store.publish_refs_atomic([(ta.root, "audit"), (tb.root, "audit")])
    monkeypatch.undo()
    intent = os.path.join(store.meta_dir(min(ta.root, tb.root)),
                          store.TXN_INTENT)
    assert not os.path.exists(intent)
    assert (store.current_snapshot_id(ta.root),
            store.current_snapshot_id(tb.root)) == before
    assert store.recover_txn([ta.root, tb.root]) is False
    # the same staged refs publish cleanly afterwards
    store.publish_refs_atomic([(ta.root, "audit"), (tb.root, "audit")])
    assert {r.path for r in ta.read(spark).collect()} == {"x", "y"}
    assert {r.path for r in tb.read(spark).collect()} == {"x", "y"}


# -- staged WAP snapshots are invisible to timestamp time travel ---------------

def test_as_of_never_resolves_staged_snapshot(spark, tmp_path):
    from cdc.table.wap import publish, stage
    t = CdcTable(str(tmp_path / "t"), n_partitions=4)
    _commit(spark, t, [("r1", "x", 1, "v1", "U")], "b0")
    stage(spark, t, ev(spark, [("r1", "y", 2, "v2", "U")]), "s0",
          ref="audit")
    future = datetime.now(timezone.utc) + timedelta(hours=1)
    # staged snapshot has a committed_ts <= future, but is NOT published
    sid = t._resolve_as_of(future)
    assert {r.path for r in t.read(spark, snapshot_id=sid).collect()} == {"x"}
    publish(t, "audit")
    sid2 = t._resolve_as_of(datetime.now(timezone.utc) + timedelta(hours=1))
    assert {r.path for r in
            t.read(spark, snapshot_id=sid2).collect()} == {"x", "y"}


def test_as_of_parses_offset_strings(spark, tmp_path):
    """ISO strings with a non-UTC offset (or 'Z') must compare as
    INSTANTS: +02:00 an hour before the commit must not see it."""
    t = CdcTable(str(tmp_path / "t"), n_partitions=4)
    _commit(spark, t, [("r1", "x", 1, "v1", "U")], "b0")
    ts = t.current_snapshot()["committed_ts"]
    commit_at = t._ts_utc(ts)
    before = (commit_at - timedelta(hours=1)).astimezone(
        timezone(timedelta(hours=2))).isoformat()
    with pytest.raises(ValueError, match="no snapshot"):
        t._resolve_as_of(before)
    after_z = (commit_at + timedelta(seconds=1)).strftime(
        "%Y-%m-%dT%H:%M:%S.%fZ")
    assert t._resolve_as_of(after_z) == t.current_snapshot()["snapshot_id"]


# -- footer stats by leaf path --------------------------------------------------

def test_footer_stats_survive_struct_column(spark, tmp_path):
    """A multi-leaf (struct) column ahead of _lsn shifts positional leaf
    indices; lsn bounds must still come from the _lsn column itself."""
    t = CdcTable(str(tmp_path / "t"), key_cols=("doc_id",),
                 n_partitions=2, layout="key_hash")
    rows = (spark.range(20)
            .select(F.col("id").alias("doc_id"),
                    F.struct(F.lit("a").alias("s"),
                             (F.col("id") * 1000).alias("n")).alias("meta"),
                    (F.col("id") + 100).alias("lsn"),
                    F.lit("U").alias("op"),
                    F.to_timestamp(F.lit("2026-01-01")).alias("ts"),
                    F.lit(0).alias("batch_id")))
    t.commit_merge(spark, rows, "b0")
    m = t.manifest_df(spark).agg(F.min("lsn_min").alias("lo"),
                                 F.max("lsn_max").alias("hi")).first()
    assert (m["lo"], m["hi"]) == (100, 119)


# -- MOR layer ordinal anchored to the LAST data/snap segment -------------------

def test_mor_layer_ordinal_ignores_root_path(spark, tmp_path):
    """A table ROOT containing 'data/snap-N' must not shadow the per-file
    layer id: a later delta tombstone at the SAME lsn must still win
    commit-ordered reconcile."""
    root = str(tmp_path / "data" / "snap-3-backup" / "t")
    t = CdcTable(root, n_partitions=4)
    _commit(spark, t, [("r1", "x", 5, "v1", "U")], "b0")
    t.commit_delta(spark, ev(spark, [("r1", "x", 5, None, "D")]), "b1")
    assert t.read(spark).filter("path = 'x'").count() == 0


# -- merge value derivation strips SYS_COLS -------------------------------------

def test_merge_ignores_prestamped_sys_cols(spark, tmp_path):
    t = CdcTable(str(tmp_path / "t"), n_partitions=4)
    batch = ev(spark, [("r1", "x", 1, "v1", "U")]).withColumn(
        "_content_sha256", F.sha2(F.col("content"), 256))
    t.commit_merge(spark, batch, "b0")
    df = t.read(spark)
    assert df.columns.count("_content_sha256") == 1
    assert df.select("content").first()["content"] == "v1"
