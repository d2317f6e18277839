"""Batch replay driver — SURVEY.md §3.2 entry point 1 (the flagship path).

replay(log) = resume-from-checkpoint tail -> exact dedup -> pandas-UDF
content normalization -> per-key LWW collapse -> transactional MERGE commit
-> lineage metrics. Each commit is one Spark job; everything before it is a
single lazy plan that Catalyst optimizes end-to-end (lsn filter pushed to
parquet footers, dedup+LWW partials map-side, merge join AQE-planned).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc.dedup import last_writer_wins
from cdc.io.log import read_log
from cdc.meta import store
from cdc.metrics import ProfileMetrics, write_batch_metrics
from cdc.schema.normalize import normalize_content
from cdc.schema.registry import SchemaRegistry, default_registry
from cdc.skew import batch_profile, plan_lww
from cdc.table.table import CdcTable


@dataclass
class ReplayResult:
    n_commits: int = 0
    n_skipped: int = 0
    lsn_high: int = -1
    wall_ms: int = 0
    batch_keys: list[str] = field(default_factory=list)


def apply_batch(
    spark: SparkSession,
    table: CdcTable,
    events: DataFrame,
    batch_key: str,
    normalize: bool = True,
    lww_via: str = "auto",
    metrics: bool = True,
    mode: str = "cow",
    image: str = "full",
    conflict_retries: int = 0,
) -> dict:
    """Apply one event batch exactly-once: no-op if batch_key is already in
    the table's commit ledger (T7).

    ``mode='cow'`` — copy-on-write MERGE (rewrite touched partitions).
    ``mode='mor'`` — merge-on-read delta append (write only the batch's
    winner rows; readers reconcile, compaction folds).

    ``image='full'`` — events carry full row images (default; row-level
    LWW). ``image='patch'`` — events are partial updates (NULL = column
    not touched): the collapse is per-column last-non-null
    (``cdc.patch``) and the merge coalesces into state. With
    ``mode='mor'`` the collapsed patch lands as a PATCH delta layer
    (O(batch) write); readers fold base + patch layers per column in
    commit order (``cdc.patch.patch_reconcile``) and compaction folds
    them back to one base. Row-image and patch-image delta layers never
    mix in one uncompacted snapshot (commit_delta refuses).

    ``conflict_retries`` — on ``CommitConflictError`` (another writer
    advanced the table between our state read and the CAS pointer swap),
    re-run the commit up to this many times: each retry re-reads the NEW
    current state and recomputes the merge from the cached collapsed
    batch, and the ledger no-op check still applies if the other writer
    committed this very batch_key. The LSN-guard merge is idempotent and
    order-insensitive across writers of disjoint batches, so retrying is
    always safe; 0 (default) preserves strict single-writer behaviour.

    ``lww_via='auto'`` — the skew planner reads the batch profile (below)
    and picks: 'semi' when the winner-key set fits a broadcast (the wide
    content column then never shuffles — the default-replay scaling win),
    'salted' for hot keys beyond the task budget, else 'maxby'.

    Batch profile: the commit's ONE pre-pass, a narrow ``groupBy(part)``
    action over the raw batch (parquet column pruning keeps the wide
    content column unread — ``cdc.skew.batch_profile``). It feeds the
    resume guard and the skew planner and, with ``metrics``, carries every
    lineage counter (the metrics file is built from its P rows on the
    driver; only parts whose ts spread exceeds ``LATE_SECONDS`` pay a
    late-row count) and ``commit_merge``'s plan (touched parts, max lsn).
    It runs only when one of them consumes it. The collapsed batch is
    cached only when two actions read it: CHECK constraints, conflict
    retries, a part-override guard, or a CoW merge with no plan."""
    if image not in ("full", "patch"):
        raise ValueError(f"unknown image kind {image!r}")
    if table.is_committed(batch_key):
        return table.current_snapshot()
    t0 = time.monotonic()
    # resume-path guard: a fully-applied tail must not commit an empty
    # snapshot on a non-empty table (a fresh table needs no probe)
    resuming = table.lsn_high() >= 0
    lww_plan = image == "full" and lww_via == "auto"
    profile = None
    if lww_plan or metrics:
        profile = batch_profile(events, table.part_of(), counters=metrics)
        if resuming and profile["n_events"] == 0:
            return table.current_snapshot()
    elif resuming and events.isEmpty():
        return table.current_snapshot()
    if image == "patch":
        # per-column last-non-null collapse — same single-aggregate,
        # map-side-combinable shape as the maxby LWW
        from cdc.patch import collapse_patches
        final = collapse_patches(events, keys=table.key_cols)
    else:
        salt = 32
        if lww_plan:
            lww_via, salt = plan_lww(events, profile=profile)
        # No standalone dedup pass: verbatim at-least-once re-deliveries are
        # identical rows, so they collapse inside the LWW max_by / row_number
        # itself — one wide-content shuffle instead of two. (dedupe_exact (A2)
        # remains the standalone operator for metrics and streaming state.)
        final = last_writer_wins(events, via=lww_via, salt_buckets=salt)
    if normalize:
        # normalization is per-row deterministic, so it commutes with the
        # LWW collapse: applying it to the ~1-row-per-key winners instead of
        # the full event stream cuts the Arrow/pandas traffic by the
        # events-per-key factor (~10x at bench scale).
        final = final.withColumn("content", normalize_content(F.col("content")))
    # CHECK constraints (alter.set_check): evaluate every declared
    # predicate over the batch's winner rows in ONE aggregate pass and
    # refuse the commit on any violation — nothing lands, no ledger
    # entry, replaying the corrected batch under the same key works.
    # Tombstones are exempt (a delete row carries no payload to check).
    props = (table.current_snapshot() or {}).get("properties") or {}
    checks = {k[len("check."):]: F.expr(v) for k, v in props.items()
              if k.startswith("check.")} if image == "full" else {}
    # commit_merge's plan: the profile's touched parts and max lsn
    merge_plan = ((list(profile["parts"]), profile["lsn_high"])
                  if metrics else None)
    # cache the collapsed batch (so the log scan -> LWW chain runs once)
    # only when a second action reads it: the CHECK pass, a retried
    # commit, the part-override guard, or a merge planning aggregate
    reads_twice = bool(checks or conflict_retries > 0
                       or table._part_beyond_key()
                       or (mode == "cow" and merge_plan is None))
    if reads_twice:
        final = final.persist()
    try:
        if checks:
            from cdc import quality
            live = (final.filter(F.col("op") != "D")
                    if "op" in final.columns else final)
            quality.enforce(live, checks)
        attempt = 0
        while True:
            try:
                if mode == "mor":
                    # patch-image deltas: the batch's per-column collapse
                    # lands as a 'patch' layer; readers fold by per-column
                    # coalesce in commit order (cdc.patch.patch_reconcile)
                    snap = table.commit_delta(
                        spark, final, batch_key,
                        delta_image="patch" if image == "patch" else "row")
                elif image == "patch":
                    from cdc.patch import merge_patches
                    snap = table.commit_merge(spark, final, batch_key,
                                              apply_fn=merge_patches,
                                              plan=merge_plan)
                else:
                    snap = table.commit_merge(spark, final, batch_key,
                                              plan=merge_plan)
                break
            except store.CommitConflictError:
                if attempt >= conflict_retries:
                    raise
                attempt += 1  # commit re-reads state; retry recomputes
        if metrics:
            # the counters came with the profile; write_batch_metrics runs
            # the late-row count only for parts spanning > LATE_SECONDS
            m = ProfileMetrics(events, table.part_of(), profile["parts"])
            write_batch_metrics(m, table.root, batch_key, wall_ms=int((time.monotonic() - t0) * 1000))
    finally:
        if reads_twice:
            final.unpersist()
    return snap


# RESERVED ledger namespace for grouped commits (``store.range_key``):
# the resume reads only these keys as batch high-water marks, so a
# caller-chosen apply_batch key outside it never masquerades as one.
GROUP_KEY_PREFIX = "grp-"


def _has_full_tail_commit(table: CdcTable) -> bool:
    snap = table.current_snapshot()
    return any(k.startswith("replay-from-")
               for k in (snap["committed_batches"] if snap else []))


def replay(
    spark: SparkSession,
    log_dir: str,
    table: CdcTable,
    registry: SchemaRegistry | None = None,
    batches_per_commit: int | None = None,
    normalize: bool = True,
    lww_via: str = "auto",
    metrics: bool = True,
    mode: str = "cow",
    reorder_horizon: int = 0,
) -> ReplayResult:
    """Resume-safe batch replay of the whole log tail.

    ``batches_per_commit=None`` -> one transactional commit for the full
    tail (fastest; still atomic). An integer k groups producer batch_ids
    into commits of k, giving checkpoint granularity.

    Resume filters (crash-safety under event reordering):
    - grouped mode resumes BATCH-scoped: the tail filter is
      ``batch_id > max committed group hi`` — an event whose lsn is below
      the global high-water mark but that arrives in a later producer batch
      is still applied (the tombstone design's premise). The batch_id
      predicate pushes to parquet footers exactly like the lsn one.
    - full-tail mode resumes on ``lsn > lsn_high - reorder_horizon``: with
      the default horizon 0 the log append is assumed lsn-monotone; sources
      with a bounded reordering window set ``reorder_horizon`` to it and the
      idempotent ``lsn >=`` merge guard discards the re-read overlap.

    ``lww_via='auto'`` lets the skew planner (cdc.skew.plan_lww) pick the
    collapse strategy per tail: 'semi' when the winner-key set fits a
    broadcast (wide content never shuffles), 'salted' for hot keys, else
    'maxby'.
    """
    registry = registry or default_registry()
    res = ReplayResult()
    t0 = time.monotonic()
    after = table.lsn_high()

    if batches_per_commit is None:
        log = read_log(spark, log_dir, registry,
                       after_lsn=max(-1, after - max(0, reorder_horizon)))
        key = f"replay-from-{after + 1}"
        before = table.current_snapshot()
        snap = apply_batch(spark, table, log, key, normalize, lww_via, metrics, mode)
        unchanged = snap is None or (
            before is not None and snap["snapshot_id"] == before["snapshot_id"])
        if unchanged:
            res.n_skipped += 1
        else:
            res.n_commits += 1
            res.batch_keys.append(key)
    else:
        bhi = store.covered_hi(table.current_snapshot(), GROUP_KEY_PREFIX)
        log = read_log(spark, log_dir, registry)
        if bhi is not None:
            # batch-scoped resume (see docstring): pushes to footers because
            # write_change_log files are contiguous in batch_id too.
            log = log.filter(F.col("batch_id") > bhi)
        elif after >= 0 and _has_full_tail_commit(table):
            # a table filled ONLY by full-tail commits: everything at or
            # below the high-water mark was applied by those commits, so the
            # switch to grouped mode still resumes O(remaining) (same
            # reorder_horizon caveat as the full-tail path).
            log = log.filter(
                F.col("lsn") > max(-1, after - max(0, reorder_horizon)))
        # Commit groups = k consecutive PRESENT batch_ids, computed
        # DISTRIBUTED: the driver never holds the distinct id list
        # (O(#producer batches) at 10^10-event scale) and never iterates
        # an id VALUE range (a timestamp-stamped batch_id would make that
        # loop effectively infinite). Shape: range-repartition the
        # distinct ids, rank within each sorted range partition (offset =
        # prefix sum of the <=P per-partition counts — the only collect
        # besides the boundaries), then collect ONE (lo, hi) row per
        # group — bounded by the number of commits about to be made,
        # i.e. by work already owed.
        from pyspark.sql import Window

        k = max(1, batches_per_commit)
        ids = log.select("batch_id").distinct()
        # PINNED (localCheckpoint) because TWO actions consume it: the
        # per-partition counts collect and the groups collect. Without the
        # pin, spark_partition_id is re-evaluated per action and the range
        # boundaries can shift between jobs (fresh boundary sampling, AQE),
        # so the offset map from action 1 could mismatch action 2's _p
        # values — wrong global ranks, non-reproducible grp-<lo>-<hi> keys,
        # and broken is_committed resume skipping.
        rp = (ids.repartitionByRange(64, "batch_id")
              .withColumn("_p", F.spark_partition_id())
              .localCheckpoint(eager=True))
        cnts = {r["_p"]: r["c"] for r in
                rp.groupBy("_p").agg(F.count(F.lit(1)).alias("c")).collect()}
        off, acc = {}, 0
        for p in sorted(cnts):
            off[p] = acc
            acc += cnts[p]
        if cnts:
            off_col = F.element_at(
                F.create_map(*[F.lit(x) for kv in off.items() for x in kv]),
                F.col("_p"))
            w = Window.partitionBy("_p").orderBy("batch_id")
            groups = (rp.withColumn(
                          "_r", F.row_number().over(w) - 1 + off_col)
                      .withColumn("_g", (F.col("_r") / k).cast("long"))
                      .groupBy("_g")
                      .agg(F.min("batch_id").alias("lo"),
                           F.max("batch_id").alias("hi"))
                      .orderBy("_g").collect())
        else:
            groups = []
        for g in groups:
            lo, hi = int(g["lo"]), int(g["hi"])
            key = store.range_key(GROUP_KEY_PREFIX, lo, hi)
            if table.is_committed(key):
                res.n_skipped += 1
                continue
            sub = log.filter((F.col("batch_id") >= lo) & (F.col("batch_id") <= hi))
            apply_batch(spark, table, sub, key, normalize, lww_via,
                        metrics, mode)
            res.n_commits += 1
            res.batch_keys.append(key)

    res.lsn_high = table.lsn_high()
    res.wall_ms = int((time.monotonic() - t0) * 1000)
    return res
