"""Point-lookup read path: partition pruning, bloom filters, batch probes
(CdcTable.lookup / lookup_keys)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc.pipeline import apply_batch
from cdc.table.table import CdcTable


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("lookup")
    t = CdcTable(str(root / "t"), n_partitions=16, layout="key_hash")
    ev = spark.range(500).select(
        F.concat(F.lit("repo"), (F.col("id") % 100)).alias("repo"),
        F.concat(F.lit("f"), (F.col("id") % 5)).alias("path"),
        F.col("id").alias("lsn"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
        F.lit("U").alias("op"),
        F.concat(F.lit("content-"), F.col("id")).alias("content"),
        F.lit(0).alias("batch_id"))
    apply_batch(spark, t, ev, "b0", normalize=False, metrics=False)
    return t


def test_lookup_returns_the_row_and_prunes_to_one_partition(spark, table):
    df = table.lookup(spark, repo="repo7", path="f2")
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["content"].startswith("content-")
    # manifest pruning: every scanned file lives in ONE part= directory
    dirs = {f.rsplit("/", 2)[-2] for f in df.inputFiles()}
    assert len(dirs) == 1 and next(iter(dirs)).startswith("part=")


def test_lookup_missing_key_is_empty_not_error(spark, table):
    assert table.lookup(spark, repo="no-such", path="nope").count() == 0


def test_lookup_validates_key_columns(spark, table):
    with pytest.raises(ValueError, match="missing"):
        table.lookup(spark, repo="repo7")
    with pytest.raises(ValueError, match="extra"):
        table.lookup(spark, repo="repo7", path="f2", bogus=1)


def test_lookup_keys_batch_probe(spark, table):
    probes = spark.createDataFrame(
        [("repo7", "f2"), ("repo11", "f1"), ("no-such", "f0")],
        "repo string, path string")
    got = table.lookup_keys(spark, probes)
    assert {(r.repo, r.path) for r in got.collect()} == {
        ("repo7", "f2"), ("repo11", "f1")}
    # pruned to at most one partition per probe key
    dirs = {f.rsplit("/", 2)[-2] for f in got.inputFiles()}
    assert len(dirs) <= 3


def test_key_columns_carry_bloom_filters(table):
    import os

    import pyarrow.parquet as pq

    data_root = os.path.join(table.root, "data")
    snap_dir = sorted(os.listdir(data_root))[-1]
    files = []
    for dirpath, _, names in os.walk(os.path.join(data_root, snap_dir)):
        files += [os.path.join(dirpath, n) for n in names
                  if n.endswith(".parquet")]
    assert files
    meta = pq.ParquetFile(files[0]).metadata
    names = [meta.schema.column(i).name for i in range(meta.num_columns)]
    rg = meta.row_group(0)
    checked = 0
    for i, name in enumerate(names):
        col = rg.column(i)
        if not hasattr(col, "bloom_filter_offset"):
            pytest.skip("pyarrow too old to expose bloom_filter_offset")
        if name in ("repo", "path"):
            assert col.bloom_filter_offset is not None, f"no bloom on {name}"
            checked += 1
        elif name == "_lsn":
            assert col.bloom_filter_offset is None
    assert checked == 2


def test_lookup_keys_strings_survive_the_literal_predicate(spark, tmp_path):
    """Key strings with quotes, backslashes, ${...} and non-ASCII text go
    through the literal predicate unchanged."""
    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    keys = [("it's", "a\\b"), ("${env:HOME}", "x"), ("naïve", "日本"),
            ("plain", "p")]
    ev = spark.createDataFrame(
        [(r, p, i + 1, "U", f"c{i}") for i, (r, p) in enumerate(keys)],
        "repo string, path string, lsn long, op string, content string"
    ).select("*", F.to_timestamp(F.lit("2026-01-01")).alias("ts"),
             F.lit(0).alias("batch_id"))
    apply_batch(spark, t, ev, "b0", normalize=False, metrics=False)
    probe = spark.createDataFrame(keys[:3], "repo string, path string")
    got = {(r.repo, r.path) for r in t.lookup_keys(spark, probe).collect()}
    assert got == set(keys[:3])
    assert t.lookup(spark, repo="it's", path="a\\b").count() == 1


# -- typed probes ---------------------------------------------------------------

def _long_keyed(spark, root, n=50, n_partitions=16):
    t = CdcTable(root, key_cols=("doc_id",), n_partitions=n_partitions,
                 layout="key_hash")
    rows = spark.createDataFrame(
        [(i, f"c{i}") for i in range(n)], "doc_id long, content string"
    ).select("*", F.lit(1).alias("lsn"), F.lit("U").alias("op"),
             F.to_timestamp(F.lit("2026-01-01")).alias("ts"),
             F.lit(0).alias("batch_id"))
    t.commit_merge(spark, rows, "b0")
    return t


def test_lookup_casts_probe_literals(spark, tmp_path):
    """A python-int probe against a LongType key must hash to the SAME
    partition the row was written to (hash(int 5) != hash(long 5))."""
    t = _long_keyed(spark, str(tmp_path / "t"))
    for k in (5, 17, 42):   # plain python ints
        got = t.lookup(spark, doc_id=k)
        assert got is not None and got.count() == 1, k


def test_lookup_keys_casts_int_probe(spark, tmp_path, monkeypatch):
    """An int-typed probe frame against a bigint key: uncast, hash(int)
    locates the wrong partitions and most keys are silently missed."""
    t = _long_keyed(spark, str(tmp_path / "t"), n=100, n_partitions=8)
    ids = list(range(3, 93, 9))
    for ddl in ("doc_id int", "doc_id long"):
        probe = spark.createDataFrame([(i,) for i in ids], ddl)
        got = t.lookup_keys(spark, probe)
        assert sorted(r.doc_id for r in got.collect()) == ids, ddl
    # the same through the semi-join restriction (single-column key)
    from cdc.table import table as table_mod
    monkeypatch.setattr(table_mod, "_LITERAL_PROBE_CAP", 0)
    got = t.lookup_keys(spark, probe)
    assert sorted(r.doc_id for r in got.collect()) == ids


# -- differential: literal and semi-join restriction == pure-Python reducer -----

_PROBE = ("a", "b", "c", "e", "f", "zz")   # zz is never written


def _lookup_both_ways(spark, t, probe, row, monkeypatch) -> list[set]:
    """``lookup_keys(probe)`` as a set of ``row(r)``, through the literal
    predicate and through the broadcast semi-join (cap forced to 0)."""
    from cdc.table import table as table_mod

    cap = table_mod._LITERAL_PROBE_CAP
    got = []
    for limit in (cap, 0):
        monkeypatch.setattr(table_mod, "_LITERAL_PROBE_CAP", limit)
        got.append({row(r) for r in t.lookup_keys(spark, probe).collect()})
    monkeypatch.setattr(table_mod, "_LITERAL_PROBE_CAP", cap)
    return got


def _check_lookups(spark, t, model, monkeypatch):
    """lookup_keys over every probe key must equal the reducer's state,
    through the literal key predicate AND through the broadcast semi-join
    (cap forced to 0); so must lookup of each live key."""
    cols = [*model.cols, "_lsn", "_content_sha256"]
    want = {k: v for k, v in model.live().items() if k[1] in _PROBE}
    for key, row in want.items():
        one = t.lookup(spark, repo=key[0], path=key[1]).collect()
        assert [tuple(r[c] for c in cols) for r in one] == [row], key
    probe = spark.createDataFrame([("r", k) for k in _PROBE],
                                  "repo string, path string")
    assert _lookup_both_ways(
        spark, t, probe,
        lambda r: ((r.repo, r.path), tuple(r[c] for c in cols)),
        monkeypatch) == [set(want.items())] * 2
    # composite-key exactness: (r, e) is in the per-column cross product
    # of this probe but is not a probed key
    cross = spark.createDataFrame([("r", "a"), ("q", "e")],
                                  "repo string, path string")
    got = {(r.repo, r.path) for r in t.lookup_keys(spark, cross).collect()}
    assert got == {k for k in want if k == ("r", "a")}


def test_point_reads_match_reducer(spark, tmp_path, monkeypatch):
    """Probe keys that are present, deleted, absent, only in a row delta,
    read after a non-key column rename, and only in a patch delta, on an
    uncompacted MOR table (the runner compacts the row deltas before the
    patch commits, as commit_delta requires). Every ('check',) step runs
    the point reads. Then the two narrower probe shapes: a key prefix on a
    repo_hash table and a bare partition-column probe on a part_cols
    table, both over uncompacted deltas."""
    import test_scan

    monkeypatch.setattr(test_scan, "_check", lambda sp, t, m:
                        _check_lookups(sp, t, m, monkeypatch))
    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    model = test_scan._Model()
    seen = test_scan._run(spark, t, [
        ("cow", [("a", "U", "x1", "p1"), ("b", "U", "y1", "q1"),
                 ("c", "U", "z1", None)], False),
        ("mor", [("a", "U", "x2", "p2"), ("b", "D", None, None),
                 ("e", "U", "e1", "r1")], False),
        ("mor", [("a", "U", "late", "late")], True),
        ("check",),
        ("rename",),
        ("check",),
        ("patch", [("a", "U", None, "p3"), ("f", "U", "f1", None)], False),
        ("patch", [("c", "D", None, None)], False),
        ("check",),
    ], model)
    assert "row" in seen[0] and "row" in seen[1] and "patch" in seen[2]
    assert model.alt == "w"
    assert model.live().keys() == {("r", "a"), ("r", "e"), ("r", "f")}

    # a key-prefix probe (repo only) on a repo_hash MOR table: deltas that
    # update, delete and lose late, over several repos and partitions
    rh = CdcTable(str(tmp_path / "rh"), n_partitions=4, layout="repo_hash")
    batches = [
        [(f"r{i}", p, 2 * i + j + 1, "U", f"r{i}{p}0")
         for i in range(6) for j, p in enumerate("ab")],
        [("r1", "a", 20, "U", "r1a1"), ("r1", "b", 21, "D", None),
         ("r3", "a", 22, "U", "r3a1"), ("r2", "a", 23, "D", None)],
        [("r1", "a", 5, "U", "late"), ("r3", "b", 24, "U", "r3b1"),
         ("r4", "a", 0, "D", None)],
    ]
    state = {}
    for i, rows in enumerate(batches):
        frame = spark.createDataFrame(
            rows, "repo string, path string, lsn long, op string, "
                  "content string"
        ).select("*", F.to_timestamp(F.lit("2026-01-01")).alias("ts"),
                 F.lit(i).alias("batch_id"))
        apply_batch(spark, rh, frame, f"b{i}", normalize=False,
                    metrics=False, lww_via="maxby",
                    mode="cow" if i == 0 else "mor")
        for repo, path, lsn, op, content in rows:
            if lsn >= state.get((repo, path), (-1,))[0]:
                state[(repo, path)] = (lsn, op, content)
    assert any(f.get("kind") == "delta"
               for f in rh.current_snapshot()["files"])
    want = {((repo, path), (content, lsn))
            for (repo, path), (lsn, op, content) in state.items()
            if op != "D" and repo in ("r1", "r3")}
    probe = spark.createDataFrame([("r1",), ("r3",), ("zz",)], "repo string")
    assert _lookup_both_ways(
        spark, rh, probe, lambda r: ((r.repo, r.path), (r.content, r._lsn)),
        monkeypatch) == [want] * 2

    # a part_cols-only probe on a part_cols MOR table: doc 1 moves bucket
    # k1 -> k2 (a tombstone carrying the OLD bucket, then the new row),
    # doc 5 is deleted and doc 9 updated in place
    pc = CdcTable(str(tmp_path / "pc"), key_cols=("doc_id",),
                  n_partitions=4, layout="key_hash", part_cols=("bucket",))
    moves = [[(i, f"k{i % 4}", f"c{i}", 1, "U") for i in range(12)],
             [(1, "k1", None, 2, "D"), (5, "k1", None, 2, "D"),
              (9, "k1", "c9b", 2, "U")],
             [(1, "k2", "c1b", 3, "U")]]
    for i, rows in enumerate(moves):
        commit = pc.commit_merge if i == 0 else pc.commit_delta
        commit(spark, spark.createDataFrame(
                   rows, "doc_id long, bucket string, content string, "
                         "lsn long, op string")
               .select("*", F.to_timestamp(F.lit("2026-01-01")).alias("ts"),
                       F.lit(i).alias("batch_id")), f"b{i}")
    for buckets, want in (
            (["k1", "k2", "zz"], {(9, "k1", "c9b", 2), (1, "k2", "c1b", 3),
                                  (2, "k2", "c2", 1), (6, "k2", "c6", 1),
                                  (10, "k2", "c10", 1)}),
            (["k1"], {(9, "k1", "c9b", 2)})):
        probe = spark.createDataFrame([(b,) for b in buckets],
                                      "bucket string")
        assert _lookup_both_ways(
            spark, pc, probe,
            lambda r: (r.doc_id, r.bucket, r.content, r._lsn),
            monkeypatch) == [want] * 2, buckets
