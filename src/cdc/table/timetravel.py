"""J5/J6 — time travel: state *as of* any LSN, snapshot diffing.

Two mechanisms compose:
- snapshot granularity: every commit is a full consistent snapshot; reading
  an old snapshot id is just a manifest resolve (CdcTable.read).
- sub-snapshot granularity: for an LSN *between* snapshots, start from the
  greatest snapshot with ``lsn_high <= lsn`` and replay the log tail
  ``(snapshot.lsn_high, lsn]`` in memory (no commit) — the as-of window
  ranking over events <= lsn.

Scale: the base read is manifest-pruned; the tail re-ranked is bounded by
the commit cadence (events per commit), not the log size.
"""

from __future__ import annotations

from collections.abc import Callable
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cdc.meta import store

from cdc.dedup import last_writer_wins
from cdc.merge import merge_apply
from cdc.schema.normalize import normalize_content
from cdc.schema.registry import SchemaRegistry, default_registry
from cdc.table.table import PART_COL, CdcTable


def snapshot_for_lsn(table: CdcTable, lsn: int) -> dict | None:
    """Greatest committed snapshot whose lsn_high <= lsn."""
    best = None
    for snap in table.snapshots():
        if snap["lsn_high"] <= lsn and (best is None or snap["lsn_high"] > best["lsn_high"]):
            best = snap
    return best


def read_as_of(spark: SparkSession, table: CdcTable, lsn: int,
               log_dir: str | None = None,
               registry: SchemaRegistry | None = None,
               normalize: bool = True) -> DataFrame:
    """State as of ``lsn``: nearest snapshot at or before it, plus an
    in-memory replay of the intervening log tail when ``log_dir`` given."""
    base_snap = snapshot_for_lsn(table, lsn)
    sid = base_snap["snapshot_id"] if base_snap else None
    state = (table.read(spark, snapshot_id=sid, include_deleted=True)
             if sid is not None else None)
    base_lsn = base_snap["lsn_high"] if base_snap else -1

    if log_dir is not None and base_lsn < lsn:
        from cdc.io.log import read_log
        registry = registry or default_registry()
        tail = read_log(spark, log_dir, registry, after_lsn=base_lsn, upto_lsn=lsn)
        final = last_writer_wins(tail)
        if normalize:
            final = final.withColumn("content", normalize_content(F.col("content")))
        if state is None:
            from cdc.merge import empty_state
            state = empty_state(spark, final)
        else:
            state = state.drop(PART_COL)
        state = merge_apply(state, final)
    elif state is not None:
        state = state.drop(PART_COL)
    if state is None:
        raise ValueError(f"no snapshot at or before lsn={lsn} and no log_dir")
    return state.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))


def version_intervals(events: DataFrame, keys=("repo", "path")) -> DataFrame:
    """J6 — per-key version-validity intervals [lsn, next_lsn): the
    range-join side for 'which version was live at LSN t' probes."""
    w = Window.partitionBy(*keys).orderBy("lsn")
    return events.select(
        *keys, F.col("lsn").alias("lsn_lo"),
        F.coalesce(F.lead("lsn").over(w), F.lit(2**63 - 1)).alias("lsn_hi"),
        "op", "commit")


def probe_versions(events: DataFrame, probes: DataFrame,
                   keys=("repo", "path")) -> DataFrame:
    """Range join: for each probe LSN, the version of every key live at
    that point (probes broadcast — the small side by construction)."""
    iv = version_intervals(events, keys)
    return (F.broadcast(probes)
            .join(iv, (iv.lsn_lo <= probes.probe) & (probes.probe < iv.lsn_hi))
            .filter(F.col("op") != "D"))


def snapshot_diff(spark: SparkSession, table: CdcTable,
                  from_id: int, to_id: int) -> DataFrame:
    """U2-powered audit: rows added/changed/removed between two snapshots,
    compared by (key, _content_sha256)."""
    a = table.read(spark, snapshot_id=from_id).select(
        *table.key_cols, "_content_sha256")
    b = table.read(spark, snapshot_id=to_id).select(
        *table.key_cols, "_content_sha256")
    added = b.subtract(a).withColumn("change", F.lit("added_or_changed"))
    removed = a.subtract(b).withColumn("change", F.lit("removed_or_changed"))
    return added.unionByName(removed)


def changed_parts(table: CdcTable, from_id: int, to_id: int) -> list[int]:
    """Partitions whose manifest file set differs between two snapshots.
    Data files are immutable and every commit swaps whole per-partition
    file sets, so a partition with an identical file list in both
    snapshots provably holds identical rows — the change-feed join skips
    it entirely (metadata-only pruning, no data read)."""
    by_part: list[dict[int, set[str]]] = []
    for sid in (from_id, to_id):
        snap = store.read_snapshot(table.root, sid)
        m: dict[int, set[str]] = {}
        for f in snap["files"]:
            m.setdefault(int(f["part"]), set()).add(f["path"])
        by_part.append(m)
    fa, fb = by_part
    return sorted(p for p in set(fa) | set(fb) if fa.get(p) != fb.get(p))


def change_feed(spark: SparkSession, table: CdcTable,
                from_id: int, to_id: int, images: str = "post") -> DataFrame:
    """Change-data-feed read (the Delta/Iceberg 'read changes' surface):
    row-level changes between two committed snapshots, classified as
    insert / update / delete per key.

    Physical plan: one full-outer join of the two (manifest-pruned)
    snapshot reads on the key columns, compared by ``_content_sha256`` —
    no log access needed, so the feed works even after the source log is
    truncated. Emits the POST-image for insert/update and the key for
    delete, plus ``_change_type`` and the (from, to) snapshot ids.

    ``images='both'`` emits Delta-style retraction pairs instead: an
    update produces ``update_preimage`` + ``update_postimage`` rows and a
    delete carries the full pre-image values — the shape incremental view
    maintenance (cdc.ivm) consumes. Same single full-outer join; the 1->2
    fan-out for updates is one explode over an inline 2-element array, not
    a second pass.

    Scale: both snapshot reads are pruned to ``changed_parts`` — partitions
    whose manifest file set is identical in the two snapshots cannot differ
    (files are immutable), so the join cost is O(churned partitions), not
    O(table)."""
    if images not in ("post", "both"):
        raise ValueError(f"images must be 'post' or 'both', got {images!r}")
    keys = list(table.key_cols)
    parts = changed_parts(table, from_id, to_id)
    a = table.read(spark, parts=parts, snapshot_id=from_id)
    b = table.read(spark, parts=parts, snapshot_id=to_id)
    if images == "both":
        return _change_feed_images(a, b, keys, from_id, to_id)
    # presence is tracked with explicit join-side markers, NOT sha
    # null-ness: a live row may legitimately carry NULL content (sha NULL),
    # and NULL<->value content transitions must classify as updates — so
    # the sha comparison is null-safe.
    an = a.select(*keys, F.col("_content_sha256").alias("_sha_a"),
                  F.lit(True).alias("_in_a"))
    bsel = b.drop(PART_COL)
    bn = (bsel.withColumnRenamed("_content_sha256", "_sha_b")
          .withColumn("_in_b", F.lit(True)))
    j = bn.join(an, keys, "full_outer")
    change = (F.when(F.col("_in_a").isNull(), "insert")
              .when(F.col("_in_b").isNull(), "delete")
              .when(~F.col("_sha_a").eqNullSafe(F.col("_sha_b")), "update")
              .otherwise(None))
    out_cols = [c for c in bsel.columns if c not in ("_content_sha256", "_in_b")]
    return (j.withColumn("_change_type", change)
            .filter(F.col("_change_type").isNotNull())
            .select(*out_cols,
                    F.col("_sha_b").alias("_content_sha256"),
                    "_change_type",
                    F.lit(from_id).alias("_from_snapshot"),
                    F.lit(to_id).alias("_to_snapshot")))


def refresh_from_feed(spark: SparkSession, base: CdcTable, target: CdcTable,
                      prefix: str,
                      initial: Callable[[DataFrame, int], DataFrame],
                      incremental: Callable[[DataFrame, int], DataFrame]
                      ) -> dict | None:
    """The one refresh of a table derived from ``base`` (cdc.index,
    cdc.ivm, cdc.scd2): advance ``target`` to base's current snapshot
    ``to`` and return the new target snapshot, or None when base is empty
    or ``target`` is already current.

    The checkpoint is ``target``'s own ledger: the highest covered base
    snapshot id ``from`` among its ``prefix`` range keys (0 = never
    refreshed; base snapshot ids start at 1). The batch is
    ``initial(live rows of to, to)`` when ``from == 0``, else
    ``incremental(feed, to)`` over the ``images='both'`` change feed
    ``(from, to]``; a builder emits the target's columns and ``op``. The
    incremental batch is materialized once (``localCheckpoint``): the
    merge reads it twice. Every row gets ``lsn`` = ``batch_id`` = ``to``,
    monotone per refresh, so the merge's ``lsn >=`` guard keeps a
    replayed refresh idempotent row by row, and ``ts`` = base's commit
    time. The merge commits under ``range_key(prefix, from, to)``, so a
    crash before the commit re-runs the window and a re-run after it is
    a ledger no-op."""
    bsnap = base.current_snapshot()
    if bsnap is None:
        return None
    to_id = int(bsnap["snapshot_id"])
    from_id = store.covered_hi(target.current_snapshot(), prefix) or 0
    if from_id >= to_id:
        return None
    if from_id == 0:
        batch = initial(base.read(spark, snapshot_id=to_id), to_id)
    else:
        feed = change_feed(spark, base, from_id, to_id, images="both")
        batch = incremental(feed, to_id).localCheckpoint(eager=True)
    ts = datetime.fromisoformat(bsnap["committed_ts"]).replace(tzinfo=None)
    batch = (batch.withColumn("lsn", F.lit(to_id).cast("long"))
             .withColumn("ts", F.lit(ts).cast("timestamp"))
             .withColumn("batch_id", F.lit(to_id).cast("long")))
    return target.commit_merge(spark, batch,
                               store.range_key(prefix, from_id, to_id))


def _change_feed_images(a: DataFrame, b: DataFrame, keys: list[str],
                        from_id: int, to_id: int) -> DataFrame:
    """images='both' body: each joined key row carries both full images as
    structs; a per-row array of (kind, image) entries is exploded, so an
    update fans out to its retraction pair without re-joining. Old-snapshot
    columns missing from the new schema read as NULL (same
    allowMissingColumns stance as the snapshot read path)."""
    asel, bsel = a.drop(PART_COL), b.drop(PART_COL)
    val_cols = [c for c in bsel.columns if c not in keys]
    a_have = set(asel.columns)
    b_types = {f.name: f.dataType for f in bsel.schema.fields}
    a_img = F.struct(*[
        (F.col(c) if c in a_have else F.lit(None).cast(b_types[c])).alias(c)
        for c in val_cols])
    bn = bsel.select(*keys, F.struct(*[F.col(c) for c in val_cols]).alias("_img_b"),
                     F.lit(True).alias("_in_b"))
    an = asel.select(*keys, a_img.alias("_img_a"), F.lit(True).alias("_in_a"))
    j = bn.join(an, keys, "full_outer")
    sha_a = F.col("_img_a._content_sha256")
    sha_b = F.col("_img_b._content_sha256")

    def entry(kind: str, image):
        return F.struct(F.lit(kind).alias("kind"), image.alias("img"))

    entries = (
        F.when(F.col("_in_a").isNull(), F.array(entry("insert", F.col("_img_b"))))
        .when(F.col("_in_b").isNull(), F.array(entry("delete", F.col("_img_a"))))
        .when(~sha_a.eqNullSafe(sha_b),
              F.array(entry("update_preimage", F.col("_img_a")),
                      entry("update_postimage", F.col("_img_b")))))
    # unchanged keys fall through to NULL; explode(NULL) emits no rows, so
    # no explicit empty-array branch (whose nested cast DDL would be brittle)
    e = j.select(*keys, F.explode(entries).alias("_e"))
    return e.select(*keys, "_e.img.*",
                    F.col("_e.kind").alias("_change_type"),
                    F.lit(from_id).alias("_from_snapshot"),
                    F.lit(to_id).alias("_to_snapshot"))
