"""A1/A3/A5/A6/A7/W3 — per-partition lineage & metrics tables
(SURVEY.md §1.2 lineage_metrics; BASELINE.json "per-partition lineage +
metrics").

A commit does not re-read its batch for these: ``cdc.skew.batch_profile``
(the commit's one pre-pass) aggregates the ``counter_aggs`` counters per
part alongside its key profile, and ``ProfileMetrics`` turns those P rows
into the metrics file on the driver. The only Spark work left is the
late-row count, and only for the parts whose ``ts`` spread exceeds
``LATE_SECONDS`` (a narrower part has no late row by construction).
``batch_lineage_metrics`` is the standalone form over any event frame
(audits, tests); its ``exact_dedup=False`` counters are the same
``counter_aggs`` expressions.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LATE_SECONDS = 600  # watermark analog: events >10 min behind the partition max

#: the metrics file's columns, in order (``batch_key``/``wall_ms`` follow)
METRICS_COLUMNS = ("part", "n_raw", "n_events", "n_ins", "n_upd", "n_del",
                   "n_late", "lsn_low", "lsn_high", "approx_paths",
                   "n_dedup_dropped")


def _n_op(op: str) -> Column:
    return F.sum(F.when(F.col("op") == op, 1).otherwise(0))


def counter_aggs() -> list[Column]:
    """The per-partition counters of one raw batch, as aggregates over
    (batch_id, lsn, ts, op, path) — the ONE definition shared by
    ``batch_lineage_metrics(exact_dedup=False)`` and the commit's batch
    profile, so both produce the same values (the HLL sketches included:
    HLL++ over one row set is order-insensitive). ``min_ts_us`` /
    ``max_ts_us`` (epoch micros) feed the late-row rule."""
    return [F.count(F.lit(1)).alias("n_raw"),
            F.approx_count_distinct(F.struct("batch_id", "lsn"))
             .alias("n_events"),
            _n_op("I").alias("n_ins"),
            _n_op("U").alias("n_upd"),
            _n_op("D").alias("n_del"),
            F.min("lsn").alias("lsn_low"),
            F.max("lsn").alias("lsn_high"),
            F.approx_count_distinct("path").alias("approx_paths"),
            F.min(F.unix_micros("ts")).alias("min_ts_us"),
            F.max(F.unix_micros("ts")).alias("max_ts_us")]


def _late_flag(part_col: str, max_ts_us: dict, ptype) -> Column:
    """A row is late when its ts is more than LATE_SECONDS behind its
    partition's max, which enters the plan as a literal P-entry map
    (part -> epoch micros) — never a global window or a re-shuffle. NULL
    for a NULL ts, or a part whose max is NULL (all its ts are NULL)."""
    if not max_ts_us:
        return F.lit(False)   # an empty batch has no partition max
    watermark = F.create_map(*[
        x for p, us in max_ts_us.items()
        for x in (F.lit(p).cast(ptype), F.lit(us).cast("long"))])
    return (F.unix_micros("ts") < watermark[F.col(part_col)]
            - LATE_SECONDS * 1_000_000)


def batch_lineage_metrics(events_raw: DataFrame, part_col: str = "part",
                          exact_dedup: bool = True) -> DataFrame:
    """Per-partition counters for one batch: op mix, dedup drops, late rows,
    lsn bounds, distinct-path cardinality (HLL).

    One P-row collect gathers each partition's max ``ts`` (the late-row
    watermark), then one full (narrow-column) pass aggregates the
    counters — the scan never touches the wide ``content`` column. (The
    merge path itself doesn't need a dedup pass at all: verbatim
    re-deliveries collapse inside the LWW max_by/row_number —
    cdc.pipeline.apply_batch.)

    ``exact_dedup=True`` — duplicate-delivery accounting folds into a
    (part,batch,lsn)-granularity aggregate: exact, but it shuffles the
    whole (narrow) batch once. ``exact_dedup=False`` — the replay default
    (cdc.pipeline takes it from the batch profile instead):
    ``n_events`` comes from an approx_count_distinct HLL sketch whose
    partials combine map-side, so the ONLY shuffle is P partial-agg rows.
    Op mix / late then count raw deliveries (verbatim duplicates included,
    ~the duplicate rate, which n_dedup_dropped itself reports); lsn bounds
    and n_raw are duplicate-insensitive either way. At 10^10 events a full
    shuffle of the log for an informational counter is the wrong trade —
    that is what the flag is for."""
    max_ts_us = {r[0]: r[1] for r in events_raw.groupBy(part_col)
                 .agg(F.max(F.unix_micros("ts"))).collect()}
    narrow = events_raw.select(part_col, "batch_id", "lsn", "ts", "op", "path")
    late_flag = _late_flag(part_col, max_ts_us,
                           narrow.schema[part_col].dataType)
    if not exact_dedup:
        out = narrow.groupBy(part_col).agg(
            *counter_aggs(), F.sum(late_flag.cast("int")).alias("n_late"))
        return out.select(*METRICS_COLUMNS[:-1], F.greatest(
            F.col("n_raw") - F.col("n_events"), F.lit(0))
            .alias("n_dedup_dropped"))
    # ONE full scan + ONE shuffle: aggregate straight to (part, batch_id,
    # lsn) granularity, so map-side partial agg collapses verbatim
    # duplicate deliveries locally and carries their count — raw AND
    # deduped counters come out of the same shuffled frame. (A dup group's
    # other columns are identical by definition; max() picks the value.
    # The late flag is constant within a group: dup copies carry the same
    # ts.) Plan shape pinned by test_plans.py::test_metrics_single_pass.
    ded = (narrow.groupBy(part_col, "batch_id", "lsn")
           .agg(F.count(F.lit(1)).alias("_copies"),
                F.max("op").alias("op"),
                F.max(late_flag.cast("int")).alias("_late"),
                F.max("path").alias("path")))
    return (ded.groupBy(part_col).agg(
        F.sum("_copies").alias("n_raw"),
        F.count(F.lit(1)).alias("n_events"),
        _n_op("I").alias("n_ins"),
        _n_op("U").alias("n_upd"),
        _n_op("D").alias("n_del"),
        F.sum("_late").alias("n_late"),
        F.min("lsn").alias("lsn_low"),
        F.max("lsn").alias("lsn_high"),
        F.approx_count_distinct("path").alias("approx_paths"),
    ).withColumn("n_dedup_dropped", F.col("n_raw") - F.col("n_events")))


class ProfileMetrics:
    """``batch_lineage_metrics(exact_dedup=False)`` of one batch, built on
    the driver from the per-part ``counter_aggs`` rows its batch profile
    collected (``cdc.skew.batch_profile``). ``write_batch_metrics`` reads
    it through ``toArrow``, as it reads a DataFrame; that call runs the one
    Spark pass left, the late-row count, over only the parts whose ts
    spread (max - min) exceeds LATE_SECONDS. Every ts of a narrower part
    is at most LATE_SECONDS behind that part's max, so its ``n_late`` is 0
    exactly (NULL when all its ts are NULL, as the aggregate gives)."""

    def __init__(self, events: DataFrame, part: Column, parts: dict):
        self.events, self.part, self.parts = events, part, parts

    def _n_late(self) -> dict:
        n_late = {p: None if r["max_ts_us"] is None else 0
                  for p, r in self.parts.items()}
        wide = {p: r["max_ts_us"] for p, r in self.parts.items()
                if r["max_ts_us"] is not None
                and r["max_ts_us"] - r["min_ts_us"] > LATE_SECONDS * 1_000_000}
        if wide:
            ev = self.events.withColumn("part", self.part)
            late = _late_flag("part", wide, "int")   # CdcTable.part_of is int
            n_late.update(ev.filter(F.col("part").isin(list(wide)))
                          .groupBy("part").agg(F.sum(late.cast("int")))
                          .collect())
        return n_late

    def toArrow(self):
        import pyarrow as pa

        n_late = self._n_late()
        rows = [{**r, "n_late": n_late[p],
                 "n_dedup_dropped": max(r["n_raw"] - r["n_events"], 0)}
                for p, r in sorted(self.parts.items())]
        # the schema toArrow() gives the Spark form: counts and HLL
        # estimates are NOT NULL, sums and min/max are nullable
        required = {"n_raw", "n_events", "approx_paths", "n_dedup_dropped"}
        schema = pa.schema(
            [pa.field("part", pa.int32())]
            + [pa.field(c, pa.int64(), nullable=c not in required)
               for c in METRICS_COLUMNS[1:]])
        return pa.Table.from_pylist(rows, schema=schema)


METRICS_FILE = "part-00000.parquet"


def write_batch_metrics(metrics: DataFrame | ProfileMetrics, table_root: str,
                        batch_key: str, wall_ms: int | None = None) -> None:
    """Write one batch's lineage metrics; path keyed by batch_key so a
    retried batch overwrites instead of duplicating (idempotent).

    The P result rows (a DataFrame's, or a ``ProfileMetrics``') are
    collected and written by the DRIVER (pyarrow):
    no Spark write job, no output-committer round trip. The file lands
    under a temp name and is renamed into place; every other file in the
    batch_key directory (an earlier attempt's) is then removed. The Arrow
    schema blob and dictionary pages are left out: for a handful of rows
    they only add bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = metrics.toArrow()
    t = t.append_column("batch_key", pa.array([str(batch_key)] * t.num_rows,
                                              pa.string()))
    if wall_ms is not None:
        t = t.append_column("wall_ms", pa.array([int(wall_ms)] * t.num_rows,
                                                pa.int32()))
    d = os.path.join(table_root, "metrics", f"batch_key={batch_key}")
    os.makedirs(d, exist_ok=True)
    # a leading '.' keeps the temp file invisible to Spark's file listing
    tmp = os.path.join(d, f".{METRICS_FILE}.{uuid.uuid4().hex}")
    pq.write_table(t, tmp, store_schema=False, use_dictionary=False)
    os.replace(tmp, os.path.join(d, METRICS_FILE))
    for name in os.listdir(d):
        if name != METRICS_FILE:
            os.remove(os.path.join(d, name))


def read_metrics(spark, table_root: str) -> DataFrame:
    return spark.read.option("basePath", os.path.join(table_root, "metrics")).parquet(
        os.path.join(table_root, "metrics", "batch_key=*"))
