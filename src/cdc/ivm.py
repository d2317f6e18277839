"""Incremental view maintenance (IVM) — keep a GROUP BY aggregate in sync
with a base CdcTable without recomputing it.

A *materialized aggregate* is itself a CdcTable keyed by the grouping
dimensions (``layout='key_hash'`` so refreshes cluster-align), holding a
live-row count plus caller-defined ADDITIVE measures (sums over column
expressions of base rows). Refresh algebra is the classic delta-rule for
distributive aggregates:

    MV' = MV  ⊕  Σ sign(change) · measure(row)        over the change feed

where ``sign`` is +1 for insert/update_postimage and -1 for
delete/update_preimage (``change_feed(images='both')``). Groups whose live
count reaches zero are deleted (CDC tombstone in the MV table).

Why this scales where recompute doesn't (SURVEY.md §2.B consumer side):
- the change feed is pruned to partitions whose manifests changed
  (``timetravel.changed_parts``) — O(churn), not O(base table);
- the signed delta is one map-side-partial groupBy over feed rows;
- current MV contributions are a point read of the touched dims
  (``CdcTable.lookup_keys``) — O(touched groups);
- the MV commit is a normal transactional merge rewriting only touched
  MV partitions, and its ledger key ``ivm-<from>-<to>`` doubles as the
  refresh checkpoint: re-running a crashed refresh is a no-op (T7
  exactly-once carried over to the view). That protocol is
  ``timetravel.refresh_from_feed``, shared with cdc.index and cdc.scd2;
  this module supplies only the initial and incremental batch builders.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc.table.table import CdcTable
from cdc.table.timetravel import refresh_from_feed

IVM_KEY_PREFIX = "ivm-"
_POSITIVE = ("insert", "update_postimage")


def signed_delta(feed: DataFrame, dims: list[str],
                 measures: Mapping[str, Column]) -> DataFrame:
    """One groupBy over an ``images='both'`` change feed: per-group net
    change of live-row count and of every additive measure. NULL measure
    values contribute 0 on whichever side they appear (sum semantics), so
    NULL->value transitions net out correctly."""
    sign = (F.when(F.col("_change_type").isin(*_POSITIVE), F.lit(1))
            .otherwise(F.lit(-1)))
    aggs = [F.sum(sign).cast("long").alias("cnt")]
    for name, expr in measures.items():
        aggs.append(F.sum(expr * sign).alias(name))
    return feed.groupBy(*dims).agg(*aggs)


def full_aggregate(rows: DataFrame, dims: list[str],
                   measures: Mapping[str, Column]) -> DataFrame:
    """Initial-load form: aggregate the base table's live state directly
    (also the recompute twin the parity oracle checks refresh against)."""
    aggs = [F.count(F.lit(1)).alias("cnt")]
    for name, expr in measures.items():
        aggs.append(F.sum(expr).alias(name))
    return rows.groupBy(*dims).agg(*aggs)


def maintainer(mv: CdcTable, measures: Mapping[str, Column]):
    """Adapter for ``stream_to_table(downstream=[...])``: refresh ``mv``
    after every ingest epoch (no-op when already current)."""
    def _refresh(spark: SparkSession, base: CdcTable):
        return refresh(spark, base, mv, measures)
    return _refresh


def refresh(spark: SparkSession, base: CdcTable, mv: CdcTable,
            measures: Mapping[str, Column]) -> dict | None:
    """Bring ``mv`` up to date with ``base``'s current snapshot. Returns
    the new MV snapshot, or None when already current / base is empty
    (``timetravel.refresh_from_feed`` under ``ivm-`` range keys).

    ``mv.key_cols`` are the grouping dimensions (must exist on base rows);
    measure Columns are expressions over base-row columns."""
    if mv.layout != "key_hash":
        raise ValueError("IVM target table must use layout='key_hash' "
                         "(dims-hash partition pruning drives the refresh)")
    dims = list(mv.key_cols)
    names = ["cnt", *measures]

    def initial(live: DataFrame, _to: int) -> DataFrame:
        return full_aggregate(live, dims, measures).withColumn("op", F.lit("U"))

    def incremental(feed: DataFrame, _to: int) -> DataFrame:
        # net-zero groups (e.g. an update that left every measure intact)
        # would dirty MV partitions for nothing — drop them early
        nonzero = F.col("cnt") != 0
        for name in measures:
            nonzero = nonzero | ~F.col(name).eqNullSafe(F.lit(0) * F.col(name))
        # read twice: the MV point-read probe and the join below
        delta = (signed_delta(feed, dims, measures).filter(nonzero)
                 .localCheckpoint(eager=True))
        # an incremental refresh follows a committed one, so the MV has a
        # snapshot and the point read is a frame
        cur = mv.lookup_keys(spark, delta.select(*dims))
        joined = delta.select(
            *dims, *[F.col(n).alias(f"_d_{n}") for n in names]
        ).join(cur.select(
            *dims, *[F.col(n).alias(f"_c_{n}") for n in names]),
            dims, "left")
        batch = joined.select(
            *dims,
            *[(F.coalesce(F.col(f"_c_{n}"), F.lit(0))
               + F.coalesce(F.col(f"_d_{n}"), F.lit(0))).alias(n)
              for n in names])
        return batch.withColumn(
            "op", F.when(F.col("cnt") <= 0, "D").otherwise("U"))

    return refresh_from_feed(spark, base, mv, IVM_KEY_PREFIX,
                             initial, incremental)
