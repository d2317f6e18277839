"""M2 gate — transactional table: full/chunked replay parity vs the pandas
oracle, exactly-once resume, crash atomicity, schema evolution, time travel."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from cdc import pipeline
from cdc.io.log import read_log
from cdc.meta import store
from cdc.metrics import read_metrics
from cdc.schema.registry import default_registry
from cdc.table.table import CdcTable
from cdc.testing.gen import gen_change_events, write_change_log
from cdc.testing.oracle import expected_state

N_KEYS, MEAN = 300, 8


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cdclog"))
    ev = gen_change_events(spark, n_keys=N_KEYS, mean_events_per_key=MEAN, seed=11)
    write_change_log(ev, d, events_per_file=200)
    return d


@pytest.fixture(scope="module")
def oracle_pdf(spark, log_dir):
    reg = default_registry()
    return expected_state(read_log(spark, log_dir, reg).toPandas())


def _table(tmp_path, **kw) -> CdcTable:
    return CdcTable(str(tmp_path / "tbl"), n_partitions=8, **kw)


def _state_keyset(spark, table):
    df = table.read(spark)
    return set(
        map(tuple, df.select("repo", "path", F.sha2("content", 256).alias("h"))
            .toPandas().values)
    )


def _oracle_keyset(oracle_pdf):
    return set(map(tuple, oracle_pdf[["repo", "path", "content_sha256"]].values))


def test_full_replay_matches_oracle(spark, log_dir, oracle_pdf, tmp_path):
    t = _table(tmp_path)
    res = pipeline.replay(spark, log_dir, t)
    assert res.n_commits == 1
    assert _state_keyset(spark, t) == _oracle_keyset(oracle_pdf)
    # sha column materialized by the merge matches recomputation
    df = t.read(spark)
    bad = df.filter(F.col("_content_sha256") != F.sha2("content", 256)).count()
    assert bad == 0


def test_chunked_replay_and_resume(spark, log_dir, oracle_pdf, tmp_path):
    t = _table(tmp_path)
    reg = default_registry()
    # simulate a crash: replay only the first half of the log, chunked
    mid = read_log(spark, log_dir, reg).agg(F.expr("percentile(lsn, 0.5)")).collect()[0][0]
    half = read_log(spark, log_dir, reg, upto_lsn=int(mid))
    pipeline.apply_batch(spark, t, half, "first-half")
    lsn_after_half = t.lsn_high()
    assert lsn_after_half <= mid
    # resume: full chunked replay from the checkpoint
    res = pipeline.replay(spark, log_dir, t, batches_per_commit=2)
    assert res.n_commits >= 1
    assert t.lsn_high() > lsn_after_half
    assert _state_keyset(spark, t) == _oracle_keyset(oracle_pdf)
    # replaying again from scratch is a no-op (ledger + lsn checkpoint)
    snap_before = t.current_snapshot()["snapshot_id"]
    res2 = pipeline.replay(spark, log_dir, t, batches_per_commit=2)
    assert res2.n_commits == 0
    assert t.current_snapshot()["snapshot_id"] == snap_before


def test_duplicate_epoch_is_noop(spark, log_dir, tmp_path):
    t = _table(tmp_path)
    reg = default_registry()
    ev = read_log(spark, log_dir, reg, upto_lsn=500)
    s1 = pipeline.apply_batch(spark, t, ev, "epoch-1")
    s2 = pipeline.apply_batch(spark, t, ev, "epoch-1")  # redelivered epoch
    assert s1["snapshot_id"] == s2["snapshot_id"]


def test_crash_before_pointer_swap_leaves_table_intact(spark, log_dir, tmp_path, monkeypatch):
    t = _table(tmp_path)
    reg = default_registry()
    pipeline.apply_batch(spark, t, read_log(spark, log_dir, reg, upto_lsn=500), "e1")
    before = t.current_snapshot()
    count_before = t.read(spark).count()

    def boom(root, snap, **kw):
        raise RuntimeError("injected crash before commit point")

    monkeypatch.setattr(store, "write_snapshot", boom)
    with pytest.raises(RuntimeError):
        pipeline.apply_batch(spark, t, read_log(spark, log_dir, reg, after_lsn=500), "e2")
    monkeypatch.undo()
    # table unchanged and fully readable despite orphaned staged files
    assert t.current_snapshot()["snapshot_id"] == before["snapshot_id"]
    assert t.read(spark).count() == count_before
    # retry succeeds and the staged dir is reused, not duplicated
    pipeline.apply_batch(spark, t, read_log(spark, log_dir, reg, after_lsn=500), "e2")
    assert t.current_snapshot()["snapshot_id"] == before["snapshot_id"] + 1


def test_schema_evolution_end_state(spark, log_dir, tmp_path):
    t = _table(tmp_path)
    pipeline.replay(spark, log_dir, t)
    schema = dict((f.name, f.dataType.simpleString()) for f in t.read(spark).schema.fields)
    assert schema["size_bytes"] == "bigint"  # widened int -> bigint
    assert schema["score"] == "double"       # widened float -> double
    df = t.read(spark)
    # v2+-era survivors carry size_bytes == length(content)
    n_bad = df.filter(F.col("size_bytes").isNotNull() & (F.col("size_bytes") != F.length("content"))).count()
    assert n_bad == 0
    assert df.filter(F.col("size_bytes").isNotNull()).count() > 0


def test_time_travel_snapshot_read(spark, log_dir, tmp_path):
    t = _table(tmp_path)
    reg = default_registry()
    pipeline.replay(spark, log_dir, t, batches_per_commit=2)
    snaps = t.snapshots()
    assert len(snaps) >= 2
    mid_snap = snaps[len(snaps) // 2]
    got = t.read(spark, snapshot_id=mid_snap["snapshot_id"])
    exp = expected_state(read_log(spark, log_dir, reg, upto_lsn=mid_snap["lsn_high"]).toPandas())
    got_set = set(map(tuple, got.select("repo", "path", F.sha2("content", 256)).toPandas().values))
    exp_set = set(map(tuple, exp[["repo", "path", "content_sha256"]].values))
    assert got_set == exp_set


def test_lineage_metrics_written(spark, log_dir, tmp_path):
    t = _table(tmp_path)
    pipeline.replay(spark, log_dir, t, batches_per_commit=3)
    m = read_metrics(spark, t.root).toPandas()
    assert len(m) > 0
    # replay writes the sketch form: op mix counts RAW deliveries exactly;
    # n_events is an HLL distinct estimate within its error bound
    assert (m.n_raw == m.n_ins + m.n_upd + m.n_del).all()
    assert (m.n_dedup_dropped >= 0).all()
    assert ((m.n_raw - m.n_events).abs() <= (0.1 * m.n_raw).clip(lower=5)).all()
    assert m.wall_ms.gt(0).all()
    # the exact form (audit path) must still find the generator's ~2%
    # injected duplicate deliveries
    from cdc.io.log import read_log
    from cdc.metrics import batch_lineage_metrics
    from cdc.schema.registry import default_registry
    import pyspark.sql.functions as F
    ev = read_log(spark, log_dir, default_registry())
    exact = batch_lineage_metrics(
        ev.withColumn("part", t.part_of()), exact_dedup=True).toPandas()
    assert exact.n_dedup_dropped.sum() > 0
    assert (exact.n_events == exact.n_ins + exact.n_upd + exact.n_del).all()


def test_normalization_affects_sha(spark, tmp_path):
    """The pandas-UDF normalization is part of the hashed contract."""
    from cdc.schema.normalize import normalize_content

    df = spark.createDataFrame([("a \r\nb\t\n c  ",)], ["content"])
    out = df.select(normalize_content("content").alias("n")).collect()[0]["n"]
    assert out == "a\nb\n c"
    assert hashlib.sha256(out.encode()).hexdigest() != hashlib.sha256(b"a \r\nb\t\n c  ").hexdigest()


def test_grouped_resume_applies_reordered_lower_lsn_batches(spark, tmp_path):
    """ADVICE.md round-1 (medium): a crash-resume must NOT drop events whose
    lsn is below the global high-water mark when they arrive in a LATER
    producer batch — grouped replay resumes batch-scoped, not lsn-scoped."""
    import pyspark.sql.functions as F
    from cdc.pipeline import replay
    from cdc.table.table import CdcTable

    cols = ("lsn", "ts", "op", "repo", "path", "commit", "lang", "content",
            "schema_version", "batch_id", "size_bytes", "score")
    ddl = ("lsn long, ts timestamp, op string, repo string, path string, "
           "commit string, lang string, content string, schema_version int, "
           "batch_id long, size_bytes long, score double")

    def rows(df_rows):
        df = spark.createDataFrame(df_rows, ddl)
        return df.select(*cols)

    import datetime
    t = datetime.datetime(2026, 1, 1)
    log_dir = tmp_path / "log" / "v=3"
    log_dir.mkdir(parents=True)
    # batch 0: keys A (lsn 10) and B (lsn 20)
    rows([(10, t, "I", "r0", "a.py", "c1", "python", "A1", 3, 0, 2, 0.0),
          (20, t, "I", "r0", "b.py", "c2", "python", "B1", 3, 0, 2, 0.0)],
         ).coalesce(1).write.mode("append").parquet(str(log_dir))
    table = CdcTable(str(tmp_path / "table"), n_partitions=2)
    replay(spark, str(tmp_path / "log"), table, batches_per_commit=1, metrics=False)
    assert table.lsn_high() == 20

    # batch 1 arrives AFTER the crash/commit: carries key C with lsn 15 —
    # below the global high-water mark but never applied.
    rows([(15, t, "I", "r0", "c.py", "c3", "python", "C1", 3, 1, 2, 0.0)],
         ).coalesce(1).write.mode("append").parquet(str(log_dir))
    replay(spark, str(tmp_path / "log"), table, batches_per_commit=1, metrics=False)
    state = {r["path"]: r["_lsn"] for r in table.read(spark).collect()}
    assert state == {"a.py": 10, "b.py": 20, "c.py": 15}


def test_two_level_manifest_written_and_reused(spark, tmp_path):
    """Snapshots store a manifest LIST (side-files grouped by partition);
    a commit touching a subset of partitions rewrites only those groups'
    manifests and references the parent's others unchanged."""
    import json
    import os
    from cdc.meta import store
    from cdc.pipeline import apply_batch
    from cdc.table.table import CdcTable

    import datetime
    t0 = datetime.datetime(2026, 1, 1)
    ddl = ("repo string, path string, content string, lsn long, "
           "ts timestamp, op string, batch_id long")
    # 64 keys spread over 16 partitions
    rows = [(f"r{i%8}", f"p{i}.py", f"c{i}", i + 1, t0, "I", 0) for i in range(64)]
    table = CdcTable(str(tmp_path / "t"), n_partitions=16)
    apply_batch(spark, table, spark.createDataFrame(rows, ddl), "b1",
                normalize=False, metrics=False)

    raw1 = json.load(open(store.snap_path(table.root, 1)))
    assert "files" not in raw1 and raw1["manifests"], raw1.keys()
    snap1 = table.current_snapshot()           # resolved view
    assert snap1["files"] and all(f["origin"] == "added" for f in snap1["files"])

    # second commit touches ONE key -> one partition -> at most one group
    apply_batch(spark, table,
                spark.createDataFrame([("r0", "p0.py", "v2", 100, t0, "U", 1)], ddl),
                "b2", normalize=False, metrics=False)
    raw2 = json.load(open(store.snap_path(table.root, 2)))
    m1 = {m["group"]: m["path"] for m in raw1["manifests"]}
    m2 = {m["group"]: m["path"] for m in raw2["manifests"]}
    reused = [g for g in m2 if m1.get(g) == m2[g]]
    rewritten = [g for g in m2 if m1.get(g) != m2[g]]
    assert reused, (m1, m2)            # untouched groups referenced as-is
    assert len(rewritten) <= 2         # only the touched group(s) rewritten
    # resolved state is complete and correct
    state = {r["path"]: r["_lsn"] for r in table.read(spark).collect()}
    assert len(state) == 64 and state["p0.py"] == 100


def test_vacuum_removes_orphan_manifests(spark, tmp_path):
    import os
    from cdc.meta import store
    from cdc.pipeline import apply_batch
    from cdc.table.maintenance import expire_snapshots, vacuum_orphans
    from cdc.table.table import CdcTable

    import datetime
    t0 = datetime.datetime(2026, 1, 1)
    ddl = ("repo string, path string, content string, lsn long, "
           "ts timestamp, op string, batch_id long")
    table = CdcTable(str(tmp_path / "t"), n_partitions=4)
    for i in range(5):
        apply_batch(spark, table,
                    spark.createDataFrame([("r0", f"p{i}.py", "x", i + 1, t0, "I", i)], ddl),
                    f"b{i}", normalize=False, metrics=False)
    expire_snapshots(table, keep_last=2)
    removed = vacuum_orphans(table)
    live = {m["path"] for s in table.snapshots() for m in s.get("manifests", ())}
    on_disk = {n for n in os.listdir(store.meta_dir(table.root))
               if n.startswith("manifest-")}
    assert on_disk == live
    assert any(n.startswith("manifest-") for n in removed)
    # the surviving snapshots still resolve fully
    assert table.read(spark).count() == 5


def test_commit_cas_detects_concurrent_writer(spark, tmp_path):
    """Optimistic-concurrency commit: advancing the pointer requires the
    table to still be at the expected parent snapshot — a stale writer gets
    CommitConflictError and the table state is untouched."""
    import datetime
    import pytest as _pytest
    from cdc.meta import store
    from cdc.table.table import CdcTable

    t0 = datetime.datetime(2026, 1, 1)
    ddl = ("repo string, path string, content string, lsn long, "
           "ts timestamp, op string, batch_id long")

    def batch(key, lsn):
        return spark.createDataFrame([("r0", key, "x", lsn, t0, "I", 0)], ddl)

    table = CdcTable(str(tmp_path / "t"), n_partitions=2)
    table.commit_merge(spark, batch("a.py", 1), "b1")
    snap1 = table.current_snapshot()

    # writer B commits on top of snap1
    table.commit_merge(spark, batch("b.py", 2), "b2")

    # writer A, still holding snap1 as parent, tries to publish: CAS fails
    stale = store.new_snapshot(
        snap1, "b-stale", lsn_high=99, files=[], schema_ddl="x int",
        operation="merge", committed_ts="t")
    with _pytest.raises(store.CommitConflictError):
        store.write_snapshot(table.root, stale,
                             expected_parent=snap1["snapshot_id"])
    assert table.current_snapshot()["batch_key"] == "b2"
    assert table.lsn_high() == 2


def test_full_tail_then_grouped_resume_prunes_and_applies(spark, tmp_path):
    """Switching a table filled by a FULL-TAIL commit to grouped replay:
    the lsn high-water prune kicks in (O(remaining)) and only the new
    batches commit — no re-commit of already-applied history."""
    import datetime
    from cdc.pipeline import replay
    from cdc.table.table import CdcTable

    cols = ("lsn", "ts", "op", "repo", "path", "commit", "lang", "content",
            "schema_version", "batch_id", "size_bytes", "score")
    ddl = ("lsn long, ts timestamp, op string, repo string, path string, "
           "commit string, lang string, content string, schema_version int, "
           "batch_id long, size_bytes long, score double")
    t0 = datetime.datetime(2026, 1, 1)

    def rows(rws):
        return spark.createDataFrame(rws, ddl).select(*cols)

    log_dir = tmp_path / "log" / "v=3"
    log_dir.mkdir(parents=True)
    rows([(1, t0, "I", "r", "a.py", "c", "python", "A", 3, 0, 1, 0.0),
          (2, t0, "I", "r", "b.py", "c", "python", "B", 3, 0, 1, 0.0)],
         ).coalesce(1).write.mode("append").parquet(str(log_dir))
    table = CdcTable(str(tmp_path / "t"), n_partitions=2)
    r1 = replay(spark, str(tmp_path / "log"), table)  # full tail
    assert r1.n_commits == 1 and table.lsn_high() == 2

    rows([(3, t0, "U", "r", "a.py", "c", "python", "A2", 3, 1, 2, 0.0)],
         ).coalesce(1).write.mode("append").parquet(str(log_dir))
    r2 = replay(spark, str(tmp_path / "log"), table, batches_per_commit=1)
    # exactly one NEW group commit; history neither re-read into a group
    # nor re-committed
    assert r2.n_commits == 1 and r2.batch_keys == ["grp-00000001-00000001"]
    state = {r["path"]: r["_lsn"] for r in table.read(spark).collect()}
    assert state == {"a.py": 3, "b.py": 2}


def test_truncate_log_keeps_resume_correct(spark, tmp_path):
    """io.log.truncate_log: fully-applied log files are removed by footer
    metadata alone; a straddling file survives; a later resume over the
    truncated log applies exactly the unapplied tail."""
    import glob

    from cdc.io.log import truncate_log
    from cdc.pipeline import replay
    from cdc.table.table import CdcTable
    from cdc.testing.gen import gen_change_events, write_change_log

    log = str(tmp_path / "log")
    ev = gen_change_events(spark, n_keys=200, mean_events_per_key=6, seed=5)
    write_change_log(ev, log, events_per_file=300)
    n_before = len(glob.glob(f"{log}/v=*/*.parquet"))

    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    replay(spark, log, t, batches_per_commit=None, metrics=False)
    want = {(r.repo, r.path, r._content_sha256)
            for r in t.read(spark).collect()}
    hi = t.lsn_high()

    removed = truncate_log(log, below_lsn=hi)
    left = glob.glob(f"{log}/v=*/*.parquet")
    # everything except (at most one straddler per version dir) goes
    assert removed and len(left) < n_before
    assert len(left) <= 3        # one straddling file per v= dir at most

    # new tail after truncation; resume applies it, final state correct
    ev2 = gen_change_events(spark, n_keys=40, mean_events_per_key=3, seed=6)
    from pyspark.sql import functions as F
    ev2 = ev2.withColumn("lsn", F.col("lsn") + hi)
    log2 = str(tmp_path / "log")  # append into same dir layout
    write_change_log(ev2, f"{tmp_path}/log2", events_per_file=300)
    replay(spark, f"{tmp_path}/log2", t, batches_per_commit=None,
           metrics=False)
    # replaying the TRUNCATED original log is a no-op (all below lsn_high)
    r = replay(spark, log, t, batches_per_commit=None, metrics=False)
    got = {(r.repo, r.path, r._content_sha256)
           for r in t.read(spark).collect()}
    # keys from the first log keep their final state unless ev2 touched them
    ev2_keys = {(x.repo, x.path) for x in ev2.select("repo", "path")
                .distinct().collect()}
    for k0, k1, sha in want:
        if (k0, k1) not in ev2_keys:
            assert (k0, k1, sha) in got
