"""Manifest column min/max stats + file skipping (cdc/table/table.py
``stats_cols`` / ``read(prune=...)`` — the Iceberg data-skipping analog)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc.pipeline import apply_batch
from cdc.table.maintenance import compact
from cdc.table.table import CdcTable


def ev(spark, rows, batch_id=0):
    """rows: (repo, path, lsn, content, score, op)"""
    return (spark.createDataFrame(
                rows, "repo string, path string, lsn long, "
                      "content string, score double, op string")
            .select("*",
                    F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
                    F.lit(batch_id).alias("batch_id")))


def rows_of(df):
    return {(r.repo, r.path, r.score) for r in
            df.select("repo", "path", "score").collect()}


def test_stats_recorded_and_files_skipped(spark, tmp_path):
    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash",
                 stats_cols=("score", "_updated_ts"))
    rows = [(f"r{i}", f"p{i}", i + 1, f"v{i}", float(i), "U")
            for i in range(24)]
    apply_batch(spark, t, ev(spark, rows), "b0",
                normalize=False, metrics=False)
    snap = t.current_snapshot()
    assert all("score" in f.get("stats", {}) and
               "_updated_ts" in f.get("stats", {}) for f in snap["files"])
    # timestamps canonicalized to naive-UTC ISO ('T' separator)
    ts_lo, ts_hi = snap["files"][0]["stats"]["_updated_ts"]
    assert ts_lo == "2026-01-01T00:00:00" == ts_hi

    full = t.read(spark)
    n_all = len(full.inputFiles())
    # point range (0.0, 0.0): only the one file containing the global min
    # can intersect — every other file's min > 0 and is skipped
    pruned = t.read(spark, prune={"score": (0.0, 0.0)})
    assert len(pruned.inputFiles()) == 1 < n_all
    cond = F.col("score") == 0.0
    assert rows_of(pruned.filter(cond)) == rows_of(full.filter(cond)) == \
        {("r0", "p0", 0.0)}
    # open bounds + no-intersection range prunes everything
    assert rows_of(t.read(spark, prune={"score": (23.0, None)})) >= \
        {("r23", "p23", 23.0)}
    assert t.read(spark, prune={"score": (1000.0, None)}).count() == 0
    assert t.read(spark,
                  prune={"_updated_ts": ("2027-01-01 00:00:00",
                                         None)}).count() == 0
    # a column never recorded -> file kept (safe), exact filter still works
    assert rows_of(t.read(spark, prune={"lsn": (999999, None)})) == \
        rows_of(full)


def test_delta_partitions_never_prune(spark, tmp_path):
    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash",
                 stats_cols=("score",))
    rows = [(f"r{i}", f"p{i}", i + 1, f"v{i}", float(i), "U")
            for i in range(16)]
    apply_batch(spark, t, ev(spark, rows), "b0",
                normalize=False, metrics=False)
    # MOR delta moves r1 to score=5000: base file stats still say ~1.0
    apply_batch(spark, t, ev(spark, [("r1", "p1", 100, "hot", 5000.0, "U")]),
                "b1", normalize=False, metrics=False, mode="mor")
    got = t.read(spark, prune={"score": (4000.0, None)})
    # the delta partition kept ALL its layers: the reconcile sees the
    # winner and no stale base row leaks through the exact filter
    assert rows_of(got.filter("score >= 4000")) == {("r1", "p1", 5000.0)}
    # after compaction the folded file carries fresh stats and prunes again
    compact(spark, t)
    snap = t.current_snapshot()
    assert all(f.get("kind") != "delta" for f in snap["files"])
    pruned = t.read(spark, prune={"score": (4000.0, None)})
    assert rows_of(pruned.filter("score >= 4000")) == {("r1", "p1", 5000.0)}
    assert len(pruned.inputFiles()) < len(t.read(spark).inputFiles())


def test_cluster_by_compaction_tightens_file_stats(spark, tmp_path):
    """compact(cluster_by=['score']) range-clusters files within each
    partition: per-file score ranges become near-disjoint, a narrow prune
    touches a small fraction of files, and results are unchanged."""
    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    # interleave scores across keys so the hash layout scatters every
    # score range across every file — worst case for pruning
    rows = [(f"r{i}", f"p{i}", i + 1, f"v{i}", float(i % 40), "U")
            for i in range(400)]
    apply_batch(spark, t, ev(spark, rows), "b0",
                normalize=False, metrics=False)

    snap = compact(spark, t, files_per_partition=4, cluster_by=["score"])
    assert snap["operation"] == "compact"
    files = snap["files"]
    assert all("score" in f.get("stats", {}) for f in files)
    # within each partition the per-file ranges must be near-disjoint:
    # total overlap-free coverage means at most fpp files can intersect a
    # point per partition; globally a narrow band touches far fewer files
    full = t.read(spark)
    pruned = t.read(spark, prune={"score": (0.0, 1.0)})
    assert rows_of(pruned.filter("score <= 1")) == \
        rows_of(full.filter("score <= 1"))
    assert len(pruned.inputFiles()) <= len(full.inputFiles()) // 2
    # the handle's own stats_cols preference was restored
    assert t.stats_cols == ()
    # lookups still work against clustered files (key sort preserved)
    hit = t.lookup(spark, repo="r7", path="p7")
    assert [(r.repo, r.score) for r in hit.collect()] == [("r7", 7.0)]


def ev2(spark, rows, batch_id=0):
    """rows: (repo, path, lsn, content, x, y, op) — two numeric dims."""
    return (spark.createDataFrame(
                rows, "repo string, path string, lsn long, content string, "
                      "x double, y double, op string")
            .select("*",
                    F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
                    F.lit(batch_id).alias("batch_id")))


def test_zorder_compaction_prunes_on_every_dimension(spark, tmp_path):
    """compact(cluster_by=['x','y'], zorder=True): per-file ranges are
    tight in BOTH dimensions — a narrow prune on x OR on y skips files.
    Lexicographic clustering on the same columns only serves the leading
    column; z-order must beat it on the trailing one."""
    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    # x and y vary independently so neither orders the other
    rows = [(f"r{i}", f"p{i}", i + 1, f"v{i}",
             float(i % 64), float((i * 37) % 64), "U")
            for i in range(1024)]
    apply_batch(spark, t, ev2(spark, rows), "b0",
                normalize=False, metrics=False)

    from cdc.table.maintenance import compact
    compact(spark, t, files_per_partition=4, cluster_by=["x", "y"],
            zorder=True)
    full = t.read(spark)
    n_all = len(full.inputFiles())

    def n_files(prune):
        return len(t.read(spark, prune=prune).inputFiles())

    # both dimensions prune independently
    assert n_files({"x": (0.0, 7.9)}) <= n_all // 2
    assert n_files({"y": (0.0, 7.9)}) <= n_all // 2
    # and together prune harder than either alone
    both = n_files({"x": (0.0, 7.9), "y": (0.0, 7.9)})
    assert both <= n_files({"x": (0.0, 7.9)})
    # results are exactly the unclustered truth
    got = {(r.repo, r.x, r.y) for r in
           t.read(spark, prune={"x": (0.0, 7.9)})
           .filter("x < 8").select("repo", "x", "y").collect()}
    want = {(r.repo, r.x, r.y) for r in
            full.filter("x < 8").select("repo", "x", "y").collect()}
    assert got == want

    # lexicographic clustering on (x, y): trailing column prunes ~nothing
    t2 = CdcTable(str(tmp_path / "t2"), n_partitions=4, layout="key_hash")
    apply_batch(spark, t2, ev2(spark, rows), "b0",
                normalize=False, metrics=False)
    compact(spark, t2, files_per_partition=4, cluster_by=["x", "y"])
    lex_y = len(t2.read(spark, prune={"y": (0.0, 7.9)}).inputFiles())
    z_y = n_files({"y": (0.0, 7.9)})
    assert z_y < lex_y

    with pytest.raises(ValueError, match=">= 2"):
        from cdc.table.table import zvalue_expr
        zvalue_expr(full, ["x"])


def test_sort_order_persists_and_bare_compact_reuses_it(spark, tmp_path):
    """A clustering compaction records the sort order as a table property;
    a later bare compact() re-clusters the same way (OPTIMIZE semantics),
    so ingest churn doesn't silently decay the layout."""
    t = CdcTable(str(tmp_path / "t"), n_partitions=2, layout="key_hash")
    rows = [(f"r{i}", f"p{i}", i + 1, f"v{i}", float(i % 16), "U")
            for i in range(128)]
    apply_batch(spark, t, ev(spark, rows), "b0",
                normalize=False, metrics=False)
    compact(spark, t, files_per_partition=4, cluster_by=["score"])
    import json
    so = json.loads(t.current_snapshot()["properties"]["sort_order"])
    assert so == {"cluster_by": ["score"], "zorder": False}

    # churn, then a BARE compact: clustering must come back
    apply_batch(spark, t, ev(spark, [("r1", "p1", 999, "x", 3.0, "U")]),
                "b1", normalize=False, metrics=False)
    snap = compact(spark, t, files_per_partition=4)
    assert all("score" in f.get("stats", {}) for f in snap["files"])
    pruned = t.read(spark, prune={"score": (0.0, 1.9)})
    assert len(pruned.inputFiles()) < len(t.read(spark).inputFiles())
