"""The ``cdctable`` Spark 4 Python DataSource (cdc/spark_source.py):
batch snapshot reads and the streaming change-tail whose offsets are
snapshot ids."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc.pipeline import apply_batch
from cdc.spark_source import CdcStreamReader, CdcTableDataSource
from cdc.table.table import CdcTable


def _schema(root):
    """The StructType Spark hands ``reader``/``streamReader``."""
    from pyspark.sql.types import StructType
    return StructType.fromDDL(CdcTableDataSource({"root": root}).schema())


def ev(spark, rows, batch_id=0):
    """rows: (repo, path, lsn, content, op)"""
    return (spark.createDataFrame(
                rows, "repo string, path string, lsn long, "
                      "content string, op string")
            .select("*",
                    F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
                    F.lit(batch_id).alias("batch_id")))


@pytest.fixture
def table(spark, tmp_path):
    spark.dataSource.register(CdcTableDataSource)
    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    apply_batch(spark, t, ev(spark, [("r1", "a", 1, "v1", "U"),
                                     ("r2", "b", 2, "w1", "U")]), "b0",
                normalize=False, metrics=False)
    apply_batch(spark, t, ev(spark, [("r1", "a", 5, "v2", "U"),
                                     ("r3", "c", 6, "x1", "U")]), "b1",
                normalize=False, metrics=False)
    apply_batch(spark, t, ev(spark, [("r2", "b", 9, None, "D")]), "b2",
                normalize=False, metrics=False)
    return t


def rows_of(df):
    return sorted((r.repo, r.path, r.content or "", r._lsn)
                  for r in df.collect())


def test_batch_read_matches_table_read(spark, table):
    df = spark.read.format("cdctable").option("root", table.root).load()
    assert rows_of(df) == rows_of(table.read(spark))
    sid = table.current_snapshot()["snapshot_id"]
    assert {r._commit_snapshot for r in df.collect()} == {sid}
    # tombstones surface with include_deleted; time travel via snapshot_id
    dd = (spark.read.format("cdctable").option("root", table.root)
          .option("include_deleted", "true").load())
    assert ("r2", "b") in {(r.repo, r.path) for r in dd.collect()}
    old = (spark.read.format("cdctable").option("root", table.root)
           .option("snapshot_id", "1").load())
    assert rows_of(old) == rows_of(table.read(spark, snapshot_id=1))


def test_batch_read_reconciles_delta_layers(spark, table):
    """MOR snapshots read through the source: per-part file-local LWW
    reconcile, byte-identical to CdcTable.read on the uncompacted table —
    including multi-layer updates, an equal-lsn cross-layer tie (commit
    order wins via the _layer ordinal), a delta delete of a base row,
    and a delta-only new key."""
    apply_batch(spark, table,
                ev(spark, [("r1", "a", 20, "m1", "U"),   # update base key
                           ("r3", "c", 21, None, "D"),   # delete base key
                           ("r9", "z", 22, "new", "U")]),  # delta-only key
                "bm1", normalize=False, metrics=False, mode="mor")
    apply_batch(spark, table,
                ev(spark, [("r1", "a", 20, "m2", "U")]),  # equal-lsn tie
                "bm2", normalize=False, metrics=False, mode="mor")
    df = spark.read.format("cdctable").option("root", table.root).load()
    assert rows_of(df) == rows_of(table.read(spark))
    assert ("r1", "a", "m2", 20) in rows_of(df)          # later layer won
    assert "r3" not in {r.repo for r in df.collect()}    # delete applied
    # tombstone winners surface under include_deleted, same as the table
    dd = (spark.read.format("cdctable").option("root", table.root)
          .option("include_deleted", "true").load())
    assert rows_of(dd) == rows_of(table.read(spark, include_deleted=True))
    # the commit-snapshot stamp is the snapshot being served
    sid = table.current_snapshot()["snapshot_id"]
    assert {r._commit_snapshot for r in df.collect()} == {sid}


def test_stream_emits_per_commit_change_rows(spark, table):
    q = (spark.readStream.format("cdctable").option("root", table.root)
         .load()
         .writeStream.format("memory").queryName("cdc_feed")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r.repo, r.path, r.content or "", r._lsn,
                  bool(r._deleted or False), r._commit_snapshot)
                 for r in spark.sql("select * from cdc_feed").collect())
    assert got == [
        ("r1", "a", "v1", 1, False, 1),
        ("r1", "a", "v2", 5, False, 2),
        ("r2", "b", "", 9, True, 3),     # the delete IS a feed row
        ("r2", "b", "w1", 2, False, 1),
        ("r3", "c", "x1", 6, False, 2),
    ]


def test_stream_reader_offset_ranges(spark, table):
    """Driver-side offset algebra without a streaming query: partitions
    between two snapshot-id offsets cover exactly the commits in the
    range, and each partition's rows carry that commit's new lsns."""
    r = CdcStreamReader(table.root, {"root": table.root},
                        _schema(table.root))
    assert r.initialOffset() == {"snapshot_id": 0}
    assert r.latestOffset() == {"snapshot_id": 3}
    assert CdcStreamReader(
        table.root, {"root": table.root, "start": "latest"},
        _schema(table.root)).initialOffset() == {"snapshot_id": 3}
    parts = r.partitions({"snapshot_id": 1}, {"snapshot_id": 3})
    sids = {p.value[2] for p in parts}
    assert sids == {2, 3}
    rows = [row for p in parts for b in r.read(p)
            for row in b.to_pylist()]
    assert sorted((x["repo"], x["path"], x["_lsn"]) for x in rows) == [
        ("r1", "a", 5), ("r2", "b", 9), ("r3", "c", 6)]
    # empty range -> no partitions; expired history -> loud failure
    assert r.partitions({"snapshot_id": 3}, {"snapshot_id": 3}) == []
    from cdc.table.maintenance import expire_snapshots
    for i in range(3):
        apply_batch(spark, table,
                    ev(spark, [("r1", "a", 30 + i, f"n{i}", "U")]),
                    f"more{i}", normalize=False, metrics=False)
    expire_snapshots(table, keep_last=2)
    with pytest.raises(ValueError, match="history"):
        r.partitions({"snapshot_id": 0}, {"snapshot_id": 6})


def test_stream_start_at_snapshot_id(spark, table):
    """start=<snapshot id> begins the tail AFTER that snapshot (the
    startingVersion analog); bogus ids fail loudly."""
    r = CdcStreamReader(table.root, {"root": table.root, "start": "2"},
                        _schema(table.root))
    assert r.initialOffset() == {"snapshot_id": 2}
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    rows = [row for p in parts for b in r.read(p) for row in b.to_pylist()]
    assert sorted((x["repo"], x["path"], x["_lsn"]) for x in rows) == \
        [("r2", "b", 9)]                        # only commit 3's change
    with pytest.raises(ValueError, match="does not exist"):
        CdcStreamReader(table.root,
                        {"root": table.root, "start": "99"},
                        _schema(table.root)).initialOffset()
    with pytest.raises(ValueError, match="start must be"):
        CdcStreamReader(table.root,
                        {"root": table.root, "start": "bogus"},
                        _schema(table.root)).initialOffset()


def test_stream_backpressure_caps_commits_per_trigger(spark, table):
    """maxSnapshotsPerTrigger paces latestOffset: each trigger advances at
    most N commits past the last observed offset, landing on REAL chain
    snapshot ids (walked via parent links, not id arithmetic)."""
    r = CdcStreamReader(table.root,
                        {"root": table.root, "maxSnapshotsPerTrigger": "1"},
                        _schema(table.root))
    assert r.initialOffset() == {"snapshot_id": 0}
    assert r.latestOffset() == {"snapshot_id": 1}      # capped, not 3
    parts = r.partitions({"snapshot_id": 0}, {"snapshot_id": 1})
    assert {p.value[2] for p in parts} == {1}
    r.commit({"snapshot_id": 1})
    assert r.latestOffset() == {"snapshot_id": 2}
    r.commit({"snapshot_id": 2})
    assert r.latestOffset() == {"snapshot_id": 3}
    r.commit({"snapshot_id": 3})
    assert r.latestOffset() == {"snapshot_id": 3}      # caught up: no-op
    # cap of 2 jumps two commits at a time
    r2 = CdcStreamReader(table.root,
                         {"root": table.root, "maxSnapshotsPerTrigger": "2"},
                         _schema(table.root))
    r2.initialOffset()
    assert r2.latestOffset() == {"snapshot_id": 2}


def test_replication_via_stream_source(spark, table, tmp_path):
    """Cross-table replication: tail the source table's change feed
    (cdctable stream) and apply each microbatch into a replica CdcTable —
    final replica state equals the source state, exactly-once via the
    replica's batch ledger keyed on the epoch."""
    replica = CdcTable(str(tmp_path / "replica"), n_partitions=4,
                       layout="key_hash")

    def apply(df, epoch):
        ev = df.select(
            "repo", "path", F.col("_lsn").alias("lsn"),
            F.col("_updated_ts").alias("ts"),
            F.when(F.coalesce(F.col("_deleted"), F.lit(False)), "D")
             .otherwise("U").alias("op"),
            "content", F.lit(epoch).alias("batch_id"))
        apply_batch(df.sparkSession, replica, ev, f"rep-{epoch}",
                    normalize=False, metrics=False)

    q = (spark.readStream.format("cdctable").option("root", table.root)
         .load()
         .writeStream.foreachBatch(apply)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    src = rows_of(table.read(spark))
    assert rows_of(replica.read(spark)) == src
    # re-running the stream from the same checkpoint replays nothing new
    q2 = (spark.readStream.format("cdctable").option("root", table.root)
          .load()
          .writeStream.foreachBatch(apply)
          .option("checkpointLocation", str(tmp_path / "ckpt"))
          .trigger(availableNow=True).start())
    q2.awaitTermination(180)
    assert rows_of(replica.read(spark)) == src


def test_batch_pushdown_prunes_files(spark, tmp_path):
    """pushFilters → manifest file pruning: a range predicate on a stats
    column (or _lsn) shrinks the partition list; results stay exact
    because Spark re-applies the predicate (superset contract)."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual

    from cdc.spark_source import CdcPushdownBatchReader

    spark.dataSource.register(CdcTableDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash",
                 stats_cols=("score",))
    rows = [(f"r{i}", f"p{i}", i + 1, f"v{i}", "U") for i in range(64)]
    df = (ev(spark, rows)
          .withColumn("score", (F.col("lsn") % 16).cast("double")))
    apply_batch(spark, t, df, "b0", normalize=False, metrics=False)
    # cluster so per-file score ranges are disjoint -> pruning can bite
    from cdc.table.maintenance import compact
    compact(spark, t, files_per_partition=4, cluster_by=["score"])

    r = CdcPushdownBatchReader(t.root, {"root": t.root}, _schema(t.root))
    n_all = len(r.partitions())
    leftover = list(r.pushFilters([GreaterThanOrEqual(("score",), 14.0)]))
    assert len(leftover) == 1          # exact predicate stays with Spark
    assert len(r.partitions()) < n_all

    r2 = CdcPushdownBatchReader(t.root, {"root": t.root}, _schema(t.root))
    list(r2.pushFilters([EqualTo(("_lsn",), 1)]))
    assert len(r2.partitions()) <= n_all

    # end to end: the SQL filter returns exactly the right rows
    got = (spark.read.format("cdctable").option("root", t.root)
           .option("pushdown", "true").load()
           .filter("score >= 14.0").select("repo", "score").collect())
    want = (t.read(spark).filter("score >= 14.0")
            .select("repo", "score").collect())
    assert sorted((x.repo, x.score) for x in got) == \
        sorted((x.repo, x.score) for x in want)
    spark.conf.unset("spark.sql.python.filterPushdown.enabled")


# -- cross-path equivalence: stream tail == change_feed (property test) -------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_KEYS = ["a", "b", "c", "d"]
_EVS = st.lists(st.tuples(st.sampled_from(_KEYS),
                          st.sampled_from(["U", "U", "D"]),
                          st.text(alphabet="xy", max_size=2)),
                min_size=1, max_size=4)
_OPS = st.lists(st.tuples(st.sampled_from(["cow", "mor", "compact", "branch"]),
                          _EVS),
                min_size=2, max_size=5)


@pytest.mark.slow
@given(ops=_OPS)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_stream_tail_equals_change_feed(spark, tmp_path, ops):
    """For ANY mix of CoW / MOR / compaction / branch-publish commits, the
    cdctable streaming change-tail over (from, to], LWW-collapsed per key
    by (commit, _lsn) and classified against the from-snapshot, must equal
    timetravel.change_feed(from, to) — two completely independent change
    surfaces (per-commit added-file scan vs snapshot full-outer diff)."""
    import tempfile

    from cdc.table.maintenance import compact
    from cdc.table.timetravel import change_feed
    from cdc.table import wap

    t = CdcTable(tempfile.mkdtemp(dir=tmp_path), n_partitions=4,
                 layout="key_hash")
    lsn = 0

    def batch(events):
        nonlocal lsn
        rows = []
        for path, op, content in events:
            lsn += 1
            rows.append(("r", path, lsn,
                         None if op == "D" else content, op))
        return ev(spark, rows)

    apply_batch(spark, t, batch([("a", "U", "x"), ("b", "U", "y")]), "seed",
                normalize=False, metrics=False)
    from_id = t.current_snapshot()["snapshot_id"]
    for i, (kind, events) in enumerate(ops):
        if kind == "compact":
            compact(spark, t)
        elif kind == "branch":
            # stage takes an LWW-collapsed batch (apply_batch collapses;
            # stage is the plumbing underneath)
            from cdc.dedup import last_writer_wins
            wap.stage(spark, t, last_writer_wins(batch(events)),
                      f"b{i}", ref="audit")
            wap.publish(t, ref="audit")
        else:
            apply_batch(spark, t, batch(events), f"b{i}",
                        normalize=False, metrics=False,
                        mode="cow" if kind == "cow" else "mor")
    to_id = t.current_snapshot()["snapshot_id"]

    feed = change_feed(spark, t, from_id, to_id)
    expected = {(r.repo, r.path): (r._change_type, r._content_sha256)
                for r in feed.collect()}

    r = CdcStreamReader(t.root, {"root": t.root}, _schema(t.root))
    rows = [row for p in r.partitions({"snapshot_id": from_id},
                                      {"snapshot_id": to_id})
            for b in r.read(p) for row in b.to_pylist()]
    win: dict = {}
    for x in rows:
        key = (x["repo"], x["path"])
        cur = win.get(key)
        if cur is None or (x["_commit_snapshot"], x["_lsn"]) > \
                (cur["_commit_snapshot"], cur["_lsn"]):
            win[key] = x
    from_state = {(r.repo, r.path): r._content_sha256
                  for r in t.read(spark, snapshot_id=from_id).collect()}
    derived = {}
    for key, x in win.items():
        if x["_deleted"]:
            if key in from_state:
                derived[key] = ("delete", None)
        elif key not in from_state:
            derived[key] = ("insert", x["_content_sha256"])
        elif from_state[key] != x["_content_sha256"]:
            derived[key] = ("update", x["_content_sha256"])
    assert derived == expected


def test_patch_replication_via_stream_source(spark, tmp_path):
    """Patch-MOR replication composition: the tail of a patch-image table
    emits the collapsed PATCH rows (NULL = column untouched); applying
    each epoch downstream with image='patch' reproduces the source state
    — including a column set in an EARLIER commit than the tail's last
    row for that key (row-image replication would null it)."""
    from cdc.table.table import CdcTable as _T

    spark.dataSource.register(CdcTableDataSource)
    src = _T(str(tmp_path / "src"), n_partitions=4, layout="key_hash")

    def pev(rows):
        return (spark.createDataFrame(
                    rows, "repo string, path string, lsn long, "
                          "content string, lang string, op string")
                .select("*",
                        F.to_timestamp(F.lit("2026-01-01")).alias("ts"),
                        F.lit(0).alias("batch_id")))

    apply_batch(spark, src, pev([("r1", "a", 1, "v1", "en", "U")]), "b0",
                normalize=False, metrics=False, mode="mor", image="patch")
    apply_batch(spark, src, pev([("r1", "a", 5, None, "fr", "U"),
                                 ("r2", "b", 6, "w1", None, "U")]), "b1",
                normalize=False, metrics=False, mode="mor", image="patch")

    replica = _T(str(tmp_path / "replica"), n_partitions=4,
                 layout="key_hash")

    def apply(df, epoch):
        ev_ = df.select(
            "repo", "path", F.col("_lsn").alias("lsn"),
            F.col("_updated_ts").alias("ts"),
            F.when(F.coalesce(F.col("_deleted"), F.lit(False)), "D")
             .otherwise("U").alias("op"),
            "content", "lang", F.lit(epoch).alias("batch_id"))
        apply_batch(df.sparkSession, replica, ev_, f"rep-{epoch}",
                    normalize=False, metrics=False, image="patch")

    q = (spark.readStream.format("cdctable").option("root", src.root)
         .load()
         .writeStream.foreachBatch(apply)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    def st(t):
        return {(r.repo, r.path): (r.content, r.lang, r._lsn)
                for r in t.read(spark).collect()}
    got, want = st(replica), st(src)
    assert got == want
    # the epoch-2 tail row for (r1, a) carried content NULL; patch
    # replication preserved the epoch-1 content
    assert got[("r1", "a")] == ("v1", "fr", 5)


def test_array_column_table_reads_through_source(spark, tmp_path):
    """A table with a nested column (``array<double>``) reads through the
    source, batch and stream, exactly as ``CdcTable.read`` reads it: the
    Arrow schema comes from the StructType Spark resolved."""
    spark.dataSource.register(CdcTableDataSource)
    t = CdcTable(str(tmp_path / "vec"), key_cols=("vec_id",),
                 n_partitions=2, layout="key_hash")
    rows = [(1, [0.5, -1.0], 1, "U"), (2, [2.25], 2, "U"), (3, [], 3, "U")]
    batch = (spark.createDataFrame(
                 rows, "vec_id long, embedding array<double>, lsn long, "
                       "op string")
             .withColumn("ts", F.timestamp_seconds(F.col("lsn")))
             .withColumn("batch_id", F.lit(0).cast("long")))
    t.commit_merge(spark, batch, "b0")

    def vecs(df):
        return sorted((r.vec_id, tuple(r.embedding)) for r in df.collect())

    want = vecs(t.read(spark))
    assert want == [(1, (0.5, -1.0)), (2, (2.25,)), (3, ())]
    got = spark.read.format("cdctable").option("root", t.root).load()
    assert vecs(got) == want
    q = (spark.readStream.format("cdctable").option("root", t.root).load()
         .writeStream.format("memory").queryName("cdc_vec_feed")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert vecs(spark.sql("select * from cdc_vec_feed")) == want
