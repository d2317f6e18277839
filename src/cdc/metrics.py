"""A1/A3/A5/A6/A7/W3 — per-partition lineage & metrics tables
(SURVEY.md §1.2 lineage_metrics; BASELINE.json "per-partition lineage +
metrics").

All metrics are single hash aggregates with map-side partial aggregation —
at 10^10-event scale each costs one (already-needed) shuffle of ~P rows.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LATE_SECONDS = 600  # watermark analog: events >10 min behind the partition max


def batch_lineage_metrics(events_raw: DataFrame, part_col: str = "part",
                          exact_dedup: bool = True,
                          max_ts_us: dict | None = None) -> DataFrame:
    """Per-partition counters for one batch: op mix, dedup drops, late rows,
    lsn bounds, distinct-path cardinality (HLL).

    One full (narrow-column) pass over the raw stream — the scan never
    touches the wide ``content`` column. (The merge path itself doesn't
    need a dedup pass at all: verbatim re-deliveries collapse inside the
    LWW max_by/row_number — cdc.pipeline.apply_batch.)

    ``exact_dedup=True`` — duplicate-delivery accounting folds into a
    (part,batch,lsn)-granularity aggregate: exact, but it shuffles the
    whole (narrow) batch once. ``exact_dedup=False`` — the replay default
    (cdc.pipeline): ``n_events`` comes from an approx_count_distinct HLL
    sketch whose partials combine map-side, so the ONLY shuffle is P
    partial-agg rows. Op mix / late then count raw deliveries (verbatim
    duplicates included, ~the duplicate rate, which n_dedup_dropped itself
    reports); lsn bounds and n_raw are duplicate-insensitive either way.
    At 10^10 events a full shuffle of the log for an informational counter
    is the wrong trade — that is what the flag is for.

    "Late" is measured against the *partition* max ts, which enters the
    plan as a literal P-entry map (``max_ts_us``: part -> epoch micros) —
    never a single-task global window or a whole-batch re-shuffle.
    ``apply_batch`` passes the maxes its ``batch_profile`` already holds;
    without them one P-row collect over (part, ts) gathers them first."""
    if max_ts_us is None:
        max_ts_us = {r[0]: r[1] for r in events_raw.groupBy(part_col)
                     .agg(F.max(F.unix_micros("ts"))).collect()}
    narrow = events_raw.select(part_col, "batch_id", "lsn", "ts", "op", "path")
    late_flag = F.lit(False)   # an empty batch has no partition max
    if max_ts_us:
        ptype = narrow.schema[part_col].dataType
        watermark = F.create_map(*[
            x for p, us in max_ts_us.items()
            for x in (F.lit(p).cast(ptype), F.lit(us).cast("long"))])
        late_flag = (F.unix_micros("ts") < watermark[F.col(part_col)]
                     - LATE_SECONDS * 1_000_000)
    if not exact_dedup:
        out = narrow.groupBy(part_col).agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.approx_count_distinct(F.struct("batch_id", "lsn"))
             .alias("n_events"),
            F.sum(F.when(F.col("op") == "I", 1).otherwise(0)).alias("n_ins"),
            F.sum(F.when(F.col("op") == "U", 1).otherwise(0)).alias("n_upd"),
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("n_del"),
            F.sum(late_flag.cast("int")).alias("n_late"),
            F.min("lsn").alias("lsn_low"),
            F.max("lsn").alias("lsn_high"),
            F.approx_count_distinct("path").alias("approx_paths"))
        return out.withColumn(
            "n_dedup_dropped",
            F.greatest(F.col("n_raw") - F.col("n_events"), F.lit(0)))
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
        F.sum(F.when(F.col("op") == "I", 1).otherwise(0)).alias("n_ins"),
        F.sum(F.when(F.col("op") == "U", 1).otherwise(0)).alias("n_upd"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("n_del"),
        F.sum("_late").alias("n_late"),
        F.min("lsn").alias("lsn_low"),
        F.max("lsn").alias("lsn_high"),
        F.approx_count_distinct("path").alias("approx_paths"),
    ).withColumn("n_dedup_dropped", F.col("n_raw") - F.col("n_events")))


METRICS_FILE = "part-00000.parquet"


def write_batch_metrics(metrics: DataFrame, table_root: str, batch_key: str,
                        wall_ms: int | None = None) -> None:
    """Write one batch's lineage metrics; path keyed by batch_key so a
    retried batch overwrites instead of duplicating (idempotent).

    The P result rows are collected and written by the DRIVER (pyarrow):
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
