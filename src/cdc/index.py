"""Secondary indexes: value → key lookups without scanning the base table.

The base table's ``key_hash`` layout makes KEY lookups O(one partition)
(``CdcTable.lookup``), but a predicate on a NON-key column is a full scan.
A secondary index is itself a CdcTable whose rows are ``(value, *base
keys)`` with key_cols = (indexed column, *base keys) and layout
``repo_hash`` — its partition function hashes the FIRST key column, i.e.
the indexed VALUE, so an index probe manifest-prunes to one partition.

Maintenance is incremental over the change feed (``images='both'``),
exactly the IVM delta-rule with no measures (``ivm.signed_delta``): per
(value, key) the signed row count nets pre/post images out, so an update
that KEEPS the value emits nothing, an update that CHANGES it emits a
tombstone under the old value and an upsert under the new one, and
deletes retire their entry.
The refresh is ``timetravel.refresh_from_feed``, shared with cdc.ivm
and cdc.scd2: exactly-once via the index's own ledger (``idx-<from>-
<to>`` range keys = the checkpoint); this module supplies only the
initial and incremental batch builders. Plug ``index.maintainer(idx)``
into ``stream_to_table(downstream=[...])`` to advance the index in
lock-step with ingest.

Cost model at scale: refresh is O(churned base partitions) for the feed +
one small shuffle of the netted (value, key) deltas; a lookup is two
``CdcTable.lookup_keys`` point reads: the index on the value (one index
partition) and the base on the hits.
NULL values are not indexed (SQL index semantics: IS NULL scans).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc.ivm import signed_delta
from cdc.table.table import CdcTable
from cdc.table.timetravel import refresh_from_feed

IDX_KEY_PREFIX = "idx-"


def create_index(root: str, base: CdcTable, column: str,
                 n_partitions: int = 16) -> CdcTable:
    """An (empty) index table handle over ``base[column]``. ``refresh``
    populates it; the handle is an ordinary CdcTable (time travel, WAP,
    inspection all apply)."""
    if column in base.key_cols:
        raise ValueError(f"{column!r} is a base key column — key lookups "
                         f"are already O(partition); no index needed")
    return CdcTable(root, key_cols=(column, *base.key_cols),
                    n_partitions=n_partitions, layout="repo_hash")


def refresh(spark: SparkSession, base: CdcTable, idx: CdcTable) -> dict | None:
    """Bring the index up to date with ``base``'s current snapshot
    (``timetravel.refresh_from_feed`` under ``idx-`` range keys).
    Returns the new index snapshot, or None when already current."""
    column = idx.key_cols[0]
    keys = list(base.key_cols)

    def initial(live: DataFrame, _to: int) -> DataFrame:
        return (live.filter(F.col(column).isNotNull())
                .select(column, *keys)
                .withColumn("op", F.lit("U")))

    def incremental(feed: DataFrame, _to: int) -> DataFrame:
        net = (signed_delta(feed.filter(F.col(column).isNotNull()),
                            [column, *keys], {})
               .filter(F.col("cnt") != 0))
        return net.select(
            column, *keys,
            F.when(F.col("cnt") > 0, "U").otherwise("D").alias("op"))

    return refresh_from_feed(spark, base, idx, IDX_KEY_PREFIX,
                             initial, incremental)


def maintainer(idx: CdcTable):
    """Adapter for ``stream_to_table(downstream=[...])``."""
    def _refresh(spark: SparkSession, base: CdcTable):
        return refresh(spark, base, idx)
    return _refresh


def lookup_value(spark: SparkSession, base: CdcTable, idx: CdcTable,
                 value) -> DataFrame:
    """Point lookup by indexed value: ``idx.lookup_keys`` on the value (ONE
    index partition, the value cast to the column's type), then
    ``base.lookup_keys`` on the hits — never a base scan."""
    column = idx.key_cols[0]
    rows = idx.lookup_keys(spark, spark.range(1).select(
        F.lit(value).alias(column)))
    if rows is None:
        # an index table with no commits yet reads as None; surface the
        # operational fix instead of an AttributeError downstream
        raise ValueError(
            f"index at {idx.root} has no commits yet — run "
            f"index.refresh(spark, base, idx) before point lookups")
    hits = rows.select(*base.key_cols)
    out = base.lookup_keys(spark, hits)
    if out is None:
        return hits
    # the index may momentarily trail the base (refresh is a separate
    # commit): re-verify the predicate on the base rows — index hits are
    # candidates, the base is the truth
    return out.filter(F.col(column) == F.lit(value))
