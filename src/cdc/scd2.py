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
  ``scd2-<from>-<to>`` = the refresh checkpoint): the refresh is
  ``timetravel.refresh_from_feed``, shared with cdc.index and cdc.ivm,
  and this module supplies only the initial and incremental batch
  builders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc.table.table import PART_COL, CdcTable
from cdc.table.timetravel import refresh_from_feed

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


def maintainer(hist: CdcTable):
    """Adapter for ``stream_to_table(downstream=[...])``: advance the
    history after every ingest epoch (no-op when already current)."""
    def _refresh(spark: SparkSession, base: CdcTable):
        return refresh_history(spark, base, hist)
    return _refresh


def refresh_history(spark: SparkSession, base: CdcTable,
                    hist: CdcTable) -> dict | None:
    """Advance ``hist`` to cover base's current snapshot
    (``timetravel.refresh_from_feed`` under ``scd2-`` range keys). Returns
    the new history snapshot, or None when already current / base is
    empty."""
    if hist.layout != "repo_hash":
        raise ValueError("history table must use layout='repo_hash' "
                         "(retirement probes prune on the first key column)")
    if hist.key_cols[:-1] != base.key_cols or hist.key_cols[-1] != "valid_from_snap":
        raise ValueError("history key must be base key + ('valid_from_snap',)")
    keys = list(base.key_cols)

    def opened(rows: DataFrame, to_id: int) -> DataFrame:
        """Versions opened at ``to_id``: the key, then every value column
        (base's, in its schema order)."""
        vals = [c for c in rows.columns if c not in keys
                and c != PART_COL and not c.startswith("_")]
        return rows.select(
            *keys, F.lit(to_id).cast("long").alias("valid_from_snap"),
            *vals, F.col("_lsn").alias("row_lsn"),
            F.lit(None).cast("long").alias("valid_to_snap"))

    def initial(live: DataFrame, to_id: int) -> DataFrame:
        return opened(live, to_id).withColumn("op", F.lit("U"))

    def incremental(feed: DataFrame, to_id: int) -> DataFrame:
        # read twice: the retirement probe and the new versions
        feed = feed.localCheckpoint(eager=True)
        batch = opened(feed.filter(F.col("_change_type").isin(*_OPENS)), to_id)
        # an incremental refresh follows a committed one, so the history
        # has a snapshot and the point read is a frame
        closes = (hist.lookup_keys(spark, feed.filter(
                      F.col("_change_type").isin(*_CLOSES)).select(*keys))
                  .filter(F.col("valid_to_snap").isNull())
                  .withColumn("valid_to_snap", F.lit(to_id).cast("long")))
        return (batch.unionByName(closes.select(*batch.columns))
                .withColumn("op", F.lit("U")))

    return refresh_from_feed(spark, base, hist, SCD2_KEY_PREFIX,
                             initial, incremental)


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
