"""Partition-spec persistence (snapshot-recorded table config), the
commit-time mismatch guard, CdcTable.open, and partition evolution via
maintenance.repartition."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc.pipeline import apply_batch
from cdc.table.maintenance import repartition, rollback
from cdc.table.table import CdcTable


def ev(spark, rows):
    return (spark.createDataFrame(
                rows, "repo string, path string, lsn long, "
                      "content string, op string")
            .select("*",
                    F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
                    F.lit(0).alias("batch_id")))


def contents(df):
    return {(r.repo, r.path): r.content for r in
            df.select("repo", "path", "content").collect()}


ROWS = [("r1", "a", 1, "v1", "U"), ("r2", "b", 2, "w1", "U"),
        ("r3", "c", 3, "x1", "U"), ("r1", "d", 4, "y1", "U")]


def test_open_restores_recorded_spec(spark, tmp_path):
    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash",
                 files_per_partition=2)
    apply_batch(spark, t, ev(spark, ROWS), "b0",
                normalize=False, metrics=False)
    o = CdcTable.open(t.root)
    assert (o.key_cols, o.n_partitions, o.layout, o.files_per_partition) == \
        (("repo", "path"), 4, "key_hash", 2)
    assert contents(o.read(spark)) == contents(t.read(spark))
    assert o.lookup(spark, repo="r2", path="b").collect()[0].content == "w1"
    with pytest.raises(ValueError):
        CdcTable.open(str(tmp_path / "nope"))


def test_commit_guard_rejects_mismatched_handle(spark, tmp_path):
    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    apply_batch(spark, t, ev(spark, ROWS), "b0",
                normalize=False, metrics=False)
    wrong = CdcTable(t.root, n_partitions=8, layout="key_hash")
    with pytest.raises(ValueError, match="n_partitions"):
        apply_batch(spark, wrong, ev(spark, [("r9", "z", 9, "zz", "U")]),
                    "b1", normalize=False, metrics=False)
    wrong_layout = CdcTable(t.root, n_partitions=4, layout="repo_hash")
    with pytest.raises(ValueError, match="layout"):
        apply_batch(spark, wrong_layout,
                    ev(spark, [("r9", "z", 9, "zz", "U")]),
                    "b1", normalize=False, metrics=False, mode="mor")
    # the guard names the escape hatches
    assert t.is_committed("b0") and not t.is_committed("b1")


def test_repartition_evolves_spec_and_rollback_restores_it(spark, tmp_path):
    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    apply_batch(spark, t, ev(spark, ROWS), "b0",
                normalize=False, metrics=False)
    before = t.current_snapshot()["snapshot_id"]
    t2 = repartition(spark, t, n_partitions=8)
    assert t2.n_partitions == 8
    assert CdcTable.open(t.root).n_partitions == 8
    assert contents(t2.read(spark)) == contents(t.read(spark, snapshot_id=before))
    # manifest part ids now span the new spec's range and lookups work
    assert all(0 <= f["part"] < 8 for f in t2.current_snapshot()["files"])
    assert t2.lookup(spark, repo="r3", path="c").collect()[0].content == "x1"
    # commits through the NEW handle pass the guard; the old handle fails it
    apply_batch(spark, t2, ev(spark, [("r9", "z", 9, "zz", "U")]), "b1",
                normalize=False, metrics=False)
    with pytest.raises(ValueError):
        apply_batch(spark, t, ev(spark, [("r9", "y", 10, "yy", "U")]), "b2",
                    normalize=False, metrics=False)
    # rolling back across the repartition restores the OLD spec with the
    # old files; a re-opened handle prunes correctly again
    rollback(t2, before)
    o = CdcTable.open(t.root)
    assert o.n_partitions == 4
    assert contents(o.read(spark)) == contents(t2.read(spark, snapshot_id=before))
    assert o.lookup(spark, repo="r1", path="d").collect()[0].content == "y1"


def test_repartition_keeps_part_cols_override(spark, tmp_path):
    """A table partitioned by non-key columns keeps that override across
    a repartition: the reopened handle has the same ``part_cols`` and a
    bucket-only probe still routes to the rows."""
    t = CdcTable(str(tmp_path / "bands"), key_cols=("doc_id", "band"),
                 n_partitions=4, layout="key_hash",
                 part_cols=("band", "bucket"))
    rows = [(1, 0, "bk1", 1, "U"), (2, 0, "bk1", 2, "U"),
            (3, 1, "bk2", 3, "U")]
    t.commit_merge(spark, spark.createDataFrame(
        rows, "doc_id long, band int, bucket string, lsn long, op string")
        .withColumn("ts", F.timestamp_seconds(F.col("lsn")))
        .withColumn("batch_id", F.lit(0).cast("long")), "b0")
    t2 = repartition(spark, t, n_partitions=8)
    assert t2.part_cols == ("band", "bucket")
    assert CdcTable.open(t.root).part_cols == ("band", "bucket")
    probe = spark.createDataFrame([(0, "bk1")], "band int, bucket string")
    got = CdcTable.open(t.root).lookup_keys(spark, probe)
    assert sorted(r.doc_id for r in got.collect()) == [1, 2]


def test_tags_pin_snapshots_and_survive_expiry(spark, tmp_path):
    from cdc.meta import store
    from cdc.table.maintenance import expire_snapshots

    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    apply_batch(spark, t, ev(spark, [("r1", "a", 1, "v1", "U")]), "b0",
                normalize=False, metrics=False)
    pinned = t.tag("audited-v1")
    for i in range(4):
        apply_batch(spark, t, ev(spark, [("r1", "a", 10 + i, f"v{i}", "U")]),
                    f"b{i+1}", normalize=False, metrics=False)
    expired = expire_snapshots(t, keep_last=2)
    assert pinned not in expired and expired          # others did expire
    assert contents(t.read(spark, tag="audited-v1")) == {("r1", "a"): "v1"}
    assert t.tags() == {"audited-v1": pinned}
    # immutable unless replace=True; bad names rejected
    with pytest.raises(ValueError):
        t.tag("audited-v1")
    t.tag("audited-v1", replace=True)
    with pytest.raises(ValueError):
        t.tag("_sneaky")
    with pytest.raises(ValueError):
        t.read(spark, tag="audited-v1", snapshot_id=pinned)
    assert store.drop_tag(t.root, "audited-v1")
    assert t.tags() == {}


def test_incremental_compaction_rewrites_only_fragmented_parts(spark, tmp_path):
    from cdc.table.maintenance import compact

    t = CdcTable(str(tmp_path / "t"), n_partitions=8, layout="key_hash")
    base = [(f"r{i}", f"p{i}", i + 1, f"v{i}", "U") for i in range(24)]
    apply_batch(spark, t, ev(spark, base), "b0",
                normalize=False, metrics=False)
    # a few MOR deltas fragment the partitions their keys hash to
    apply_batch(spark, t, ev(spark, [("r1", "p1", 100, "n1", "U")]), "b1",
                normalize=False, metrics=False, mode="mor")
    apply_batch(spark, t, ev(spark, [("r2", "p2", 101, "n2", "U")]), "b2",
                normalize=False, metrics=False, mode="mor")
    before = contents(t.read(spark))
    assert before[("r1", "p1")] == "n1"
    parent = t.current_snapshot()
    frag = {int(f["part"]) for f in parent["files"] if f.get("kind") == "delta"}
    untouched_paths = {f["path"] for f in parent["files"]
                      if int(f["part"]) not in frag}
    assert frag and untouched_paths

    snap = compact(spark, t, max_files_per_partition=1)
    # only the fragmented partitions were rewritten: every untouched
    # file is carried BY REFERENCE (same path), no delta layers remain
    after_paths = {f["path"] for f in snap["files"]}
    assert untouched_paths <= after_paths
    assert all(f.get("kind") != "delta" for f in snap["files"])
    rewritten = {f["path"] for f in snap["files"] if f["origin"] == "added"}
    assert rewritten and rewritten.isdisjoint(untouched_paths)
    assert contents(t.read(spark)) == before
    # already-compacted table: auto-select finds nothing -> no-op commit
    assert compact(spark, t, max_files_per_partition=1)["snapshot_id"] == \
        snap["snapshot_id"]
    with pytest.raises(ValueError):
        compact(spark, t, parts=[0], max_files_per_partition=1)


def test_timestamp_as_of_time_travel(spark, tmp_path):
    from datetime import datetime, timezone

    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    snaps = []
    for i in range(3):
        apply_batch(spark, t, ev(spark, [("r1", "a", i + 1, f"v{i}", "U")]),
                    f"b{i}", normalize=False, metrics=False)
        snaps.append(t.current_snapshot())
    # at each commit's own timestamp, that commit's state is visible
    for i, s in enumerate(snaps):
        assert contents(t.read(spark, as_of=s["committed_ts"])) == \
            {("r1", "a"): f"v{i}"}
    # datetime input (naive == UTC) and far-future resolve too
    ts1 = datetime.fromisoformat(snaps[1]["committed_ts"])
    assert contents(t.read(spark, as_of=ts1.replace(tzinfo=None))) == \
        {("r1", "a"): "v1"}
    assert contents(t.read(spark,
                           as_of=datetime(2100, 1, 1,
                                          tzinfo=timezone.utc))) == \
        {("r1", "a"): "v2"}
    with pytest.raises(ValueError, match="no snapshot committed"):
        t.read(spark, as_of="1999-01-01T00:00:00+00:00")
    with pytest.raises(ValueError, match="only one of"):
        t.read(spark, as_of=snaps[0]["committed_ts"],
               snapshot_id=snaps[0]["snapshot_id"])


def test_metadata_inspection_tables(spark, tmp_path):
    """partitions_df / refs_df / commits_df / manifest_df: the inspection
    surface answers layout + ref questions from metadata alone."""
    from cdc.table import wap

    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    apply_batch(spark, t, ev(spark, ROWS), "b0",
                normalize=False, metrics=False)
    apply_batch(spark, t, ev(spark, [("r9", "z", 9, "m", "U")]), "b1",
                normalize=False, metrics=False, mode="mor")

    parts = {r.part: r for r in t.partitions_df(spark).collect()}
    snap = t.current_snapshot()
    assert sum(r.rows for r in parts.values()) == \
        sum(f["rows"] for f in snap["files"]) == 5
    delta_parts = {int(f["part"]) for f in snap["files"]
                   if f.get("kind") == "delta"}
    assert {p for p, r in parts.items() if r.n_delta_files > 0} == delta_parts
    assert max(r.lsn_max for r in parts.values()) == 9

    # refs: one tag + one staged WAP branch
    t.tag("golden")
    wap.stage(spark, t, ev(spark, [("r5", "q", 20, "s", "U")]), "b2",
              ref="audit")
    refs = {(r.kind, r.name): r.snapshot_id
            for r in t.refs_df(spark).collect()}
    assert refs[("tag", "golden")] == snap["snapshot_id"]
    assert ("branch", "audit") in refs
    assert refs[("branch", "audit")] > snap["snapshot_id"]

    # commits ledger covers every snapshot with its operation
    ops = {r.snapshot_id: r.operation for r in t.commits_df(spark).collect()}
    assert ops[1] == "merge" and ops[2] == "delta"


def test_export_file_list_external_engine_read(spark, tmp_path):
    """export_file_list: an engine-independent snapshot read — DuckDB over
    the exported parquet paths equals CdcTable.read (tombstones filtered
    by the documented external contract)."""
    import duckdb

    from cdc.table import alter
    from cdc.table.maintenance import compact

    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    apply_batch(spark, t, ev(spark, ROWS), "b0",
                normalize=False, metrics=False)
    apply_batch(spark, t, ev(spark, [("r2", "b", 9, None, "D"),
                                     ("r1", "a", 8, "v2", "U")]), "b1",
                normalize=False, metrics=False)
    paths = t.export_file_list()
    got = duckdb.sql(
        "SELECT repo, path, content FROM read_parquet($p) "
        "WHERE _deleted IS NOT TRUE", params={"p": paths}).fetchall()
    assert sorted(got) == sorted(
        (r.repo, r.path, r.content)
        for r in t.read(spark).select("repo", "path", "content").collect())

    # MOR deltas refuse; compaction folds them and export works again
    apply_batch(spark, t, ev(spark, [("r9", "z", 20, "m", "U")]), "b2",
                normalize=False, metrics=False, mode="mor")
    with pytest.raises(ValueError, match="delta"):
        t.export_file_list()
    compact(spark, t)
    assert len(t.export_file_list()) > 0

    # a pre-rename file refuses (external engines resolve by name)
    alter.rename_column(t, "content", "body")
    with pytest.raises(ValueError, match="rename"):
        t.export_file_list()
    compact(spark, t)
    cols = duckdb.sql(
        "SELECT * FROM read_parquet($p) LIMIT 1",
        params={"p": t.export_file_list()}).columns
    assert "body" in cols and "content" not in cols


def test_expire_snapshots_older_than(spark, tmp_path):
    from cdc.table.maintenance import expire_snapshots

    t = CdcTable(str(tmp_path / "t"), n_partitions=2, layout="key_hash")
    for i in range(4):
        apply_batch(spark, t, ev(spark, [("r1", "a", i + 1, f"v{i}", "U")]),
                    f"b{i}", normalize=False, metrics=False)
    # retention instant in the past: nothing qualifies even under keep_last
    assert expire_snapshots(t, keep_last=1,
                            older_than="2000-01-01T00:00:00+00:00") == []
    # future instant: keep_last governs as before
    assert expire_snapshots(t, keep_last=2,
                            older_than="2100-01-01T00:00:00+00:00") == [1, 2]


def test_verify_table_fsck(spark, tmp_path):
    """maintenance.verify_table: clean tables pass both tiers; file loss,
    silent overwrite and in-place data tampering are all detected."""
    import shutil

    import pyarrow.parquet as pq

    from cdc.table.maintenance import verify_table

    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    apply_batch(spark, t, ev(spark, ROWS), "b0",
                normalize=False, metrics=False)
    rep = verify_table(spark, t, check_data=True)
    assert rep["ok"] and rep["errors"] == []
    # full data-tier coverage must be visible, not implied (ADVICE r3):
    # every file checked, none skipped, no pre-rename groups left out
    assert rep["files_data_checked"] == rep["files_checked"] > 0
    assert rep["files_data_skipped"] == 0 and rep["skipped_groups"] == []

    snap = t.current_snapshot()
    victims = [f for f in snap["files"] if int(f["rows"]) > 0]
    p0 = f"{t.root}/{victims[0]['path']}"
    p1 = f"{t.root}/{victims[1]['path']}"

    import os

    def drop_crc_sidecar(path):
        # Hadoop's LocalFS keeps .crc sidecars that would catch the rewrite
        # before our check runs; object stores have no sidecars — remove it
        # so the test exercises the ENGINE's integrity tier
        crc = os.path.join(os.path.dirname(path),
                           f".{os.path.basename(path)}.crc")
        if os.path.exists(crc):
            os.remove(crc)

    # tamper a row's content in place: footer counts still match, only the
    # sha invariant catches it
    tab = pq.read_table(p0)
    import pyarrow as pa
    cols = {c: tab[c] for c in tab.column_names}
    cols["content"] = pa.array(["TAMPERED"] * tab.num_rows, type=pa.string())
    pq.write_table(pa.table(cols), p0)
    drop_crc_sidecar(p0)
    rep = verify_table(spark, t, check_data=True)
    # footer lsn stats may survive the rewrite; the sha check must fire
    assert not rep["ok"] and any("sha256" in e for e in rep["errors"])

    # silent overwrite with a different file: row/lsn mismatch at the
    # metadata tier (no Spark job needed)
    shutil.copyfile(p1, p0)
    drop_crc_sidecar(p0)
    rep = verify_table(spark, t)
    assert not rep["ok"] and any("footer" in e for e in rep["errors"])

    # file loss
    os.remove(p0)
    rep = verify_table(spark, t)
    assert any("missing" in e for e in rep["errors"])


def test_plan_maintenance_advisor(spark, tmp_path):
    """maintenance.plan_maintenance: metadata-only recommendations match
    what compact/vacuum would actually select."""
    from cdc.table.maintenance import compact, plan_maintenance

    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    apply_batch(spark, t, ev(spark, ROWS), "b0",
                normalize=False, metrics=False)
    plan = plan_maintenance(t, max_files_per_partition=4)
    assert plan["compact_parts"] == [] and not plan["expire"]
    assert plan["orphan_dirs"] == []

    # MOR deltas fragment some partitions -> advisor flags exactly those
    apply_batch(spark, t, ev(spark, [("r1", "a", 9, "v9", "U")]), "b1",
                normalize=False, metrics=False, mode="mor")
    plan = plan_maintenance(t, max_files_per_partition=4, keep_snapshots=1)
    snap = t.current_snapshot()
    want = sorted({int(f["part"]) for f in snap["files"]
                   if f.get("kind") == "delta"})
    assert plan["compact_parts"] == want
    assert plan["expire"]          # 2 snapshots > keep_snapshots=1
    # acting on the plan clears it
    compact(spark, t, parts=plan["compact_parts"])
    plan2 = plan_maintenance(t, max_files_per_partition=4)
    assert plan2["compact_parts"] == []
    # a crashed writer's staging dir shows up as an orphan recommendation
    import os
    os.makedirs(f"{t.root}/data/snap-000000000099-deadbeef/part=0",
                exist_ok=True)
    plan3 = plan_maintenance(t)
    assert plan3["orphan_dirs"] == ["snap-000000000099-deadbeef"]
