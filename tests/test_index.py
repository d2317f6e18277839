"""Secondary indexes (cdc/index.py): value→key lookups maintained
incrementally from the change feed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc import index
from cdc.meta import store
from cdc.pipeline import apply_batch
from cdc.table.table import CdcTable


def ev(spark, rows):
    """rows: (repo, path, lsn, content, lang, op)"""
    return (spark.createDataFrame(
                rows, "repo string, path string, lsn long, "
                      "content string, lang string, op string")
            .select("*",
                    F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
                    F.lit(0).alias("batch_id")))


def keys_for(spark, base, idx, value):
    df = index.lookup_value(spark, base, idx, value)
    return sorted((r.repo, r.path) for r in df.collect())


def test_secondary_index_lifecycle(spark, tmp_path):
    base = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    apply_batch(spark, base,
                ev(spark, [("r1", "a", 1, "v1", "py", "U"),
                           ("r2", "b", 2, "w1", "py", "U"),
                           ("r3", "c", 3, "x1", "go", "U"),
                           ("r4", "d", 4, "y1", None, "U")]),
                "b0", normalize=False, metrics=False)
    idx = index.create_index(str(tmp_path / "idx"), base, "lang")
    assert index.refresh(spark, base, idx) is not None
    assert index.refresh(spark, base, idx) is None        # already current

    assert keys_for(spark, base, idx, "py") == [("r1", "a"), ("r2", "b")]
    assert keys_for(spark, base, idx, "go") == [("r3", "c")]
    assert keys_for(spark, base, idx, "rs") == []
    # NULL values are not indexed
    assert idx.read(spark).filter("lang IS NULL").count() == 0

    # value change retires the old entry and adds the new one; an update
    # that KEEPS the value nets out to nothing; a delete retires
    apply_batch(spark, base,
                ev(spark, [("r1", "a", 9, "v2", "go", "U"),     # py -> go
                           ("r2", "b", 10, "w2", "py", "U"),    # stays py
                           ("r3", "c", 11, None, None, "D")]),  # delete
                "b1", normalize=False, metrics=False)
    assert index.refresh(spark, base, idx) is not None
    assert keys_for(spark, base, idx, "py") == [("r2", "b")]
    assert keys_for(spark, base, idx, "go") == [("r1", "a")]

    # index lookups return full base rows (content rides along)
    row = index.lookup_value(spark, base, idx, "go").collect()[0]
    assert row.content == "v2"

    # checkpoint is the index's own ledger — survives re-open
    reopened = CdcTable.open(idx.root)
    assert store.covered_hi(reopened.current_snapshot(),
                            index.IDX_KEY_PREFIX) == \
        base.current_snapshot()["snapshot_id"]

    # indexing a key column is refused
    with pytest.raises(ValueError, match="key column"):
        index.create_index(str(tmp_path / "idx2"), base, "repo")


def test_index_lookup_prunes_to_one_partition(spark, tmp_path, monkeypatch):
    """The probe reads exactly the index partition the value hashes to —
    manifest pruning, no index scan."""
    base = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    rows = [(f"r{i}", f"p{i}", i + 1, f"v{i}", f"lang{i % 7}", "U")
            for i in range(56)]
    apply_batch(spark, base, ev(spark, rows), "b0",
                normalize=False, metrics=False)
    idx = index.create_index(str(tmp_path / "idx"), base, "lang",
                             n_partitions=8)
    index.refresh(spark, base, idx)

    probe = spark.range(1).select(F.lit("lang3").alias("lang"))
    part = probe.select(idx.part_of().alias("p")).first()["p"]
    n_part_files = sum(1 for f in idx.current_snapshot()["files"]
                       if int(f["part"]) == part)
    n_all_files = len(idx.current_snapshot()["files"])
    scanned = idx.read(spark, parts=[part]).inputFiles()
    assert len(scanned) == n_part_files < n_all_files
    assert all(f"part={part}" in f for f in scanned)

    # lookup_value's own index probe scans files of that one partition
    probes = []
    orig = CdcTable._scan

    def spy(self, *a, **kw):
        out = orig(self, *a, **kw)
        if self.root == idx.root:
            probes.append(out)
        return out

    monkeypatch.setattr(CdcTable, "_scan", spy)
    assert keys_for(spark, base, idx, "lang3") == \
        sorted((f"r{i}", f"p{i}") for i in range(3, 56, 7))
    assert len(probes) == 1
    assert {f.rsplit("/", 2)[-2] for f in probes[0].inputFiles()} == \
        {f"part={part}"}


def test_lookup_value_casts_the_probe(spark, tmp_path):
    """A python-int value on a bigint indexed column must route to the
    index partition the value was written to (hash(int) != hash(long))."""
    base = CdcTable(str(tmp_path / "t"), key_cols=("id",), n_partitions=4,
                    layout="key_hash")
    rows = spark.range(40).select(
        "id", (F.col("id") % 10).alias("n"), F.col("id").alias("lsn"),
        F.lit("U").alias("op"), F.lit(0).alias("batch_id"),
        F.to_timestamp(F.lit("2026-01-01")).alias("ts"))
    base.commit_merge(spark, rows, "b0")
    idx = index.create_index(str(tmp_path / "idx"), base, "n")
    index.refresh(spark, base, idx)
    for v in range(10):
        got = index.lookup_value(spark, base, idx, v)
        assert sorted(r.id for r in got.collect()) == \
            list(range(v, 40, 10)), v


@pytest.mark.slow
def test_index_maintainer_streams_in_lockstep(spark, tmp_path):
    """index.maintainer in stream_to_table(downstream=[…]): the index
    advances with every ingest epoch and ends consistent with a
    from-scratch recompute over the base state."""
    from cdc.stream.pipeline import stream_to_table
    from cdc.testing.gen import gen_change_events, write_change_log

    log = str(tmp_path / "log")
    evs = gen_change_events(spark, n_keys=300, mean_events_per_key=4, seed=9)
    write_change_log(evs, log, events_per_file=100)

    base = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    idx = index.create_index(str(tmp_path / "idx"), base, "lang",
                             n_partitions=4)
    stream_to_table(spark, log, base, metrics=False,
                    max_files_per_trigger=1,
                    downstream=[index.maintainer(idx)])
    assert len(base.snapshots()) > 1, "expected multiple epochs"
    assert store.covered_hi(idx.current_snapshot(),
                            index.IDX_KEY_PREFIX) == \
        base.current_snapshot()["snapshot_id"]
    want = {(r.lang, r.repo, r.path) for r in
            base.read(spark).filter("lang IS NOT NULL")
            .select("lang", "repo", "path").collect()}
    got = {(r.lang, r.repo, r.path) for r in
           idx.read(spark).select("lang", "repo", "path").collect()}
    assert got == want
