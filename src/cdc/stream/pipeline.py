"""Streaming tail -> exactly-once table sink (SURVEY.md §3.3, rows S3/S7,
T1/T5/T7).

``stream_to_table`` is entry point 2: the same p3–p7 batch pipeline
(normalize -> LWW -> transactional MERGE) re-entered per micro-batch via
``foreachBatch``; ``Trigger.AvailableNow`` replays a bounded log with the
identical code path that tails a live one (``processingTime``).

Exactly-once = two interlocking ledgers:
- Spark's streaming checkpoint (WAL + file-source offsets) makes each epoch
  see a deterministic file set after restart;
- the table's commit ledger makes a re-delivered epoch a no-op
  (``apply_batch`` consults ``is_committed`` — T7).

Cross-epoch correctness does NOT depend on event order across micro-batches:
the MERGE keeps LSN-monotonicity per key and deletes are tombstones, so a
late lower-LSN update arriving epochs after the delete still loses
(cdc.merge). This is what makes stream replay == batch replay bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc.io.log import stream_log
from cdc.pipeline import apply_batch
from cdc.schema.registry import SchemaRegistry, default_registry
from cdc.table.table import CdcTable

DEFAULT_WATERMARK = "10 minutes"


def stream_events(spark: SparkSession, log_dir: str,
                  registry: SchemaRegistry | None = None,
                  watermark: str = DEFAULT_WATERMARK,
                  max_files_per_trigger: int | None = None,
                  dedup_within_watermark: bool = False) -> DataFrame:
    """S3 + T1 + T5: streaming tail, optionally with event-time watermark +
    state-bounded exact dedup.

    ``dedup_within_watermark`` is OFF by default on the table-sink path:
    ``dropDuplicatesWithinWatermark`` also drops rows later than the
    watermark, but the engine's ordering authority is the LSN, not event
    time — a 15-minute-late event with a fresh LSN must still apply
    (SURVEY.md §2.B T1: LSN order wins over event time). The MERGE path is
    duplicate-tolerant anyway (verbatim re-deliveries collapse in the LWW
    aggregate within an epoch, and re-deliveries across epochs re-apply an
    identical row under the lsn>= guard), so in-stream dedup is a pure
    optimization for pathological duplicate rates — turn it on only when
    the source's lateness is bounded by the watermark."""
    registry = registry or default_registry()
    s = stream_log(spark, log_dir, registry, max_files_per_trigger)
    if dedup_within_watermark:
        s = s.withWatermark("ts", watermark)
        s = s.dropDuplicatesWithinWatermark(["batch_id", "lsn"])
    return s


def stream_to_table(
    spark: SparkSession,
    log_dir: str,
    table: CdcTable,
    registry: SchemaRegistry | None = None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    processing_time: str | None = None,
    max_files_per_trigger: int | None = None,
    watermark: str = DEFAULT_WATERMARK,
    normalize: bool = True,
    lww_via: str = "maxby",
    metrics: bool = False,
    await_termination: bool = True,
    downstream=(),
    image: str = "full",
):
    """S7/T7 — exactly-once streaming sink via foreachBatch + commit ledger.

    ``available_now=True`` -> bounded replay (drains the log, then stops);
    otherwise a live tail with ``processing_time`` triggers. Returns the
    StreamingQuery (already finished when await_termination and
    available_now).

    ``downstream`` — callables ``(spark, table) -> Any`` invoked after
    every epoch, e.g. ``cdc.ivm.maintainer(mv, measures)``,
    ``cdc.scd2.maintainer(hist)`` or ``cdc.index.maintainer(idx)``:
    derived tables then advance in lock-step with the ingest. They run
    even for re-delivered epochs — all three refresh through
    ``cdc.table.timetravel.refresh_from_feed``, which checkpoints on the
    BASE snapshot id in the derived table's own commit ledger, so a crash
    between the table commit and a refresh heals on restart, and an
    already-current refresh is a no-op.
    """
    src = stream_events(spark, log_dir, registry, watermark, max_files_per_trigger)
    checkpoint = checkpoint_dir or os.path.join(table.root, "_checkpoints", "tail")
    # epoch_id is stable across restarts for a given checkpoint but NOT
    # unique across different streams writing the same table — scope the
    # ledger key by a token of the checkpoint location.
    import hashlib
    token = hashlib.sha256(os.path.abspath(checkpoint).encode()).hexdigest()[:10]

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        key = f"stream-{token}-epoch-{epoch_id:010d}"
        if table.is_committed(key):
            # re-delivered epoch: the commit is a no-op, but the stateful
            # dedup operator upstream still requires every partition of the
            # micro-batch to be consumed (Spark validates state-store
            # commits per epoch) — drain it with a noop sink.
            batch_df.write.format("noop").mode("overwrite").save()
        else:
            apply_batch(spark, table, batch_df, key,
                        normalize=normalize, lww_via=lww_via, metrics=metrics,
                        image=image)
        for fn in downstream:
            fn(spark, table)

    w = (src.writeStream.foreachBatch(handle)
         .option("checkpointLocation", checkpoint)
         .outputMode("update"))
    if available_now:
        w = w.trigger(availableNow=True)
    elif processing_time:
        w = w.trigger(processingTime=processing_time)
    q = w.start()
    if await_termination and available_now:
        q.awaitTermination()
    return q


def stream_windowed_metrics(
    spark: SparkSession,
    log_dir: str,
    out_dir: str,
    registry: SchemaRegistry | None = None,
    checkpoint_dir: str | None = None,
    width: str = "1 minute",
    watermark: str = DEFAULT_WATERMARK,
    key: str = "repo",
    available_now: bool = True,
    processing_time: str | None = None,
    max_files_per_trigger: int | None = None,
    await_termination: bool = True,
):
    """T1+T2 live metrics sink: tumbling event-time counts streamed to a
    parquet metrics table alongside the main table sink.

    Append output mode + watermark means a window row is emitted exactly
    ONCE, when the watermark passes its end — the metrics table is
    append-only finalized facts, and state is bounded by (watermark /
    width) windows per key. Late rows beyond the watermark are dropped
    from the METRICS only; the table sink applies them regardless (LSN
    order wins over event time — SURVEY.md §2.B T1)."""
    from cdc.stream.metrics import tumbling_counts

    registry = registry or default_registry()
    src = stream_log(spark, log_dir, registry, max_files_per_trigger)
    agg = tumbling_counts(src.withWatermark("ts", watermark), width=width, key=key)
    out = agg.select(
        F.col("win.start").alias("w_start"), F.col("win.end").alias("w_end"),
        key, "n_events", "lsn_high")
    checkpoint = checkpoint_dir or os.path.join(out_dir, "_checkpoints")
    w = (out.writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint)
         .outputMode("append"))
    if available_now:
        w = w.trigger(availableNow=True)
    elif processing_time:
        w = w.trigger(processingTime=processing_time)
    q = w.start()
    if await_termination and available_now:
        q.awaitTermination()
    return q
