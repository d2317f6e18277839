"""The one refresh protocol of feed-maintained tables
(``timetravel.refresh_from_feed``): cdc.index, cdc.ivm and cdc.scd2 each
checkpoint on base snapshot ids under their own ``<prefix><from>-<to>``
ledger keys, stamp every refreshed row with the covered snapshot, and
treat an already-current refresh as a no-op."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from cdc import index, ivm, scd2
from cdc.meta import store
from cdc.pipeline import apply_batch
from cdc.table.table import CdcTable

KINDS = {
    "idx-": (lambda root, base: index.create_index(root, base, "lang",
                                                   n_partitions=4),
             index.refresh),
    "ivm-": (lambda root, base: CdcTable(root, key_cols=("repo",),
                                         n_partitions=4, layout="key_hash"),
             lambda spark, base, t: ivm.refresh(
                 spark, base, t, {"n": F.length("content").cast("long")})),
    "scd2-": (lambda root, base: scd2.history_table(root, base),
              scd2.refresh_history),
}


def _commit(spark, base, rows, key):
    """rows: (repo, path, lsn, content, lang, op)"""
    apply_batch(spark, base, spark.createDataFrame(
        rows, "repo string, path string, lsn long, content string, "
              "lang string, op string")
        .select("*", F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
                F.lit(0).alias("batch_id")),
        key, normalize=False, metrics=False)


@pytest.mark.parametrize("prefix", sorted(KINDS))
def test_refresh_checkpoints_under_range_keys(spark, tmp_path, prefix):
    make, refresh = KINDS[prefix]
    base = CdcTable(str(tmp_path / "base"), n_partitions=4,
                    layout="key_hash")
    t = make(str(tmp_path / "derived"), base)
    assert refresh(spark, base, t) is None           # empty base: nothing
    _commit(spark, base, [("r1", "a", 1, "v1", "py", "U"),
                          ("r2", "b", 2, "w1", "go", "U")], "b0")

    snap = refresh(spark, base, t)
    assert snap["batch_key"] == f"{prefix}00000000-00000001"
    n = len(t.snapshots())
    assert refresh(spark, base, t) is None           # already current
    assert len(t.snapshots()) == n

    _commit(spark, base, [("r1", "a", 5, "v22", "go", "U")], "b1")
    _commit(spark, base, [("r2", "b", 6, None, None, "D"),
                          ("r3", "c", 7, "x1", "py", "U")], "b2")
    snap = refresh(spark, base, t)
    assert snap["batch_key"] == f"{prefix}00000001-00000003"
    assert store.covered_hi(t.current_snapshot(), prefix) == 3
    # the rows this refresh wrote carry the covered base snapshot as lsn
    # and the base commit's time as ts
    bts = datetime.fromisoformat(
        base.current_snapshot()["committed_ts"]).replace(tzinfo=None)
    new = t.read(spark, include_deleted=True).filter(F.col("_lsn") == 3)
    assert new.count() > 0
    assert {r._updated_ts for r in new.collect()} == {bts}
    n = len(t.snapshots())
    assert refresh(spark, base, t) is None
    assert len(t.snapshots()) == n
