"""SCD Type-2 history table, maintained incrementally from the change feed.

``refresh_history`` keeps a slowly-changing-dimension-style version table
in sync with a base CdcTable: one row per (key, version), where a version
is the row state introduced by a base snapshot and retired by a later one.
Validity bounds are SNAPSHOT ids (``valid_from_snap`` inclusive,
``valid_to_snap`` exclusive, NULL = still current) — the granularity a
snapshot-diff change feed can honestly attest; run the refresh once per
base commit for per-commit fidelity.

Refresh cost is O(churn), never O(history):
- the pre/post-image feed is manifest-diff pruned (timetravel.changed_parts);
- new versions come straight from post-images (no history read);
- retirements are ``hist.lookup_keys`` on the touched base keys — the
  history table uses the ``repo_hash`` layout, whose partition function
  reads the first key column alone, so a base-key probe (a prefix of the
  history key) routes to the partitions holding those entities;
- the commit is a normal transactional merge (ledger key
  ``scd2-<from>-<to>`` = the refresh checkpoint, same exactly-once story
  as cdc.ivm).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc.table.table import CdcTable
from cdc.table.timetravel import change_feed

SCD2_KEY_PREFIX = "scd2-"
_OPENS = ("insert", "update_postimage")
_CLOSES = ("delete", "update_preimage")


def history_table(root: str, base: CdcTable, n_partitions: int | None = None) -> CdcTable:
    """The history table for ``base``: keyed by (base key, valid_from_snap)
    so every version row is individually upsertable, laid out repo_hash so
    all versions of an entity share a partition (history-of-key reads
    prune to one partition; retirement probes compute their partitions
    from the feed's first key column)."""
    return CdcTable(root, key_cols=(*base.key_cols, "valid_from_snap"),
                    n_partitions=n_partitions or base.n_partitions,
                    layout="repo_hash")


def synced_snapshot_id(hist: CdcTable) -> int:
    snap = hist.current_snapshot()
    hi = 0
    for key in (snap["committed_batches"] if snap else []):
        if key.startswith(SCD2_KEY_PREFIX):
            lo_s, _, hi_s = key[len(SCD2_KEY_PREFIX):].partition("-")
            if lo_s.isdigit() and hi_s.isdigit():
                hi = max(hi, int(hi_s))
    return hi


def _value_cols(base_snap: dict, keys: tuple) -> list[str]:
    import pyspark.sql.types as T
    fields = T.StructType.fromDDL(base_snap["schema_ddl"])
    return [f.name for f in fields.fields
            if f.name not in keys and not f.name.startswith("_")]


def maintainer(hist: CdcTable):
    """Adapter for ``stream_to_table(downstream=[...])``: advance the
    history after every ingest epoch (no-op when already current)."""
    def _refresh(spark: SparkSession, base: CdcTable):
        return refresh_history(spark, base, hist)
    return _refresh


def refresh_history(spark: SparkSession, base: CdcTable,
                    hist: CdcTable) -> dict | None:
    """Advance ``hist`` to cover base's current snapshot. Returns the new
    history snapshot, or None when already current / base is empty."""
    if hist.layout != "repo_hash":
        raise ValueError("history table must use layout='repo_hash' "
                         "(retirement probes prune on the first key column)")
    if hist.key_cols[:-1] != base.key_cols or hist.key_cols[-1] != "valid_from_snap":
        raise ValueError("history key must be base key + ('valid_from_snap',)")
    keys = list(base.key_cols)
    bsnap = base.current_snapshot()
    if bsnap is None:
        return None
    to_id = int(bsnap["snapshot_id"])
    from_id = synced_snapshot_id(hist)
    if from_id >= to_id:
        return None
    vals = _value_cols(bsnap, base.key_cols)

    if from_id == 0:
        live = base.read(spark)
        opens = live.select(*keys, *vals, F.col("_lsn").alias("row_lsn"))
        closes = None
    else:
        feed = change_feed(spark, base, from_id, to_id, images="both").persist()
        try:
            opens = (feed.filter(F.col("_change_type").isin(*_OPENS))
                     .select(*keys, *vals, F.col("_lsn").alias("row_lsn")))
            cur = hist.lookup_keys(spark, feed.filter(
                F.col("_change_type").isin(*_CLOSES)).select(*keys))
            if cur is not None:
                closes = (cur.filter(F.col("valid_to_snap").isNull())
                          .select(*keys, "valid_from_snap", *vals, "row_lsn")
                          .withColumn("valid_to_snap", F.lit(to_id).cast("long")))
            else:
                closes = None
            # materialize both legs before the feed cache is released
            opens = opens.persist()
            opens.count()
            if closes is not None:
                closes = closes.persist()
                closes.count()
        finally:
            feed.unpersist()

    batch = opens.withColumn("valid_from_snap", F.lit(to_id).cast("long")) \
                 .withColumn("valid_to_snap", F.lit(None).cast("long"))
    batch = batch.select(*keys, "valid_from_snap", *vals, "row_lsn", "valid_to_snap")
    if closes is not None:
        batch = batch.unionByName(
            closes.select(*keys, "valid_from_snap", *vals, "row_lsn", "valid_to_snap"))

    ts = datetime.fromisoformat(bsnap["committed_ts"]).replace(tzinfo=None)
    batch = (batch.withColumn("op", F.lit("U"))
             .withColumn("lsn", F.lit(to_id).cast("long"))
             .withColumn("ts", F.lit(ts).cast("timestamp"))
             .withColumn("batch_id", F.lit(to_id).cast("long")))
    key = f"{SCD2_KEY_PREFIX}{from_id:08d}-{to_id:08d}"
    try:
        return hist.commit_merge(spark, batch, key)
    finally:
        if from_id != 0:
            opens.unpersist()
            if closes is not None:
                closes.unpersist()


def current_versions(spark: SparkSession, hist: CdcTable) -> DataFrame:
    """The open version per entity (should equal the base table's live
    state projected to value columns — the invariant the tests pin)."""
    df = hist.read(spark)
    return df.filter(F.col("valid_to_snap").isNull())


def versions_as_of_snapshot(spark: SparkSession, hist: CdcTable,
                            snapshot_id: int) -> DataFrame:
    """Entity state as of a BASE snapshot id, answered from history alone:
    versions whose [valid_from, valid_to) interval covers it."""
    df = hist.read(spark)
    return df.filter((F.col("valid_from_snap") <= F.lit(snapshot_id)) &
                     (F.col("valid_to_snap").isNull() |
                      (F.col("valid_to_snap") > F.lit(snapshot_id))))
