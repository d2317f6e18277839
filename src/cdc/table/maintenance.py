"""Table maintenance: compaction + tombstone vacuum + orphan cleanup.

At 10^10-event scale the per-commit rewrite of touched partitions leaves
(a) many small files in hot partitions and (b) delete tombstones that are
only needed while the source can still reorder events across commits.
``compact`` rewrites the table into fresh right-sized files and drops
tombstones below a caller-supplied LSN horizon (the source's max
reordering distance — analogous to Kafka's log.cleaner delete retention).

Compaction is itself a transactional commit (operation='compact'): readers
at the old snapshot keep working, the ledger carries over, and a crash
mid-compact leaves the current pointer untouched. ``vacuum_orphans``
removes data directories no live snapshot references.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from cdc.meta import store
from cdc.table.scan import footer_minmax
from cdc.table.table import PART_COL, CdcTable


def compaction_candidates(snap: dict,
                          max_files_per_partition: int) -> list[int]:
    """Partitions worth compacting, from the manifest alone: more than
    ``max_files_per_partition`` files, or carrying MOR delta layers."""
    n_files = Counter(int(f["part"]) for f in snap["files"])
    delta = {int(f["part"]) for f in snap["files"] if f.get("kind") == "delta"}
    return sorted(p for p, n in n_files.items()
                  if n > max_files_per_partition or p in delta)


def compact(spark: SparkSession, table: CdcTable,
            vacuum_tombstones_below_lsn: int | None = None,
            files_per_partition: int | None = None,
            parts: list[int] | None = None,
            max_files_per_partition: int | None = None,
            cluster_by: list[str] | None = None,
            zorder: bool = False) -> dict:
    """Rewrite partitions into ``files_per_partition`` files; drop
    tombstones whose _lsn <= the vacuum horizon. Returns the new snapshot.

    INCREMENTAL compaction (the only viable form at 100 TB — a full
    rewrite is O(table)): ``parts`` compacts exactly those partitions;
    ``max_files_per_partition`` auto-selects the partitions that are
    actually fragmented (more than that many files, or carrying delta
    layers) straight from the manifest — no data read. Untouched
    partitions' files are carried by reference, so the commit costs
    O(fragmented partitions). Default (both None) rewrites everything.

    ``cluster_by`` — range-cluster the rewritten files on these columns
    (the OPTIMIZE ... ZORDER BY analog): within each partition, files get
    near-disjoint min/max ranges, so ``read(prune={col: (lo, hi)})`` skips
    most files instead of none. The columns are added to the manifest
    stats for this commit automatically. Normal commits keep the cheap
    key-hash clustering; run a clustering compaction on whatever cadence
    the prune-column query load justifies.

    ``zorder=True`` clusters on the Z-CURVE over the (numeric)
    ``cluster_by`` columns instead of lexicographic order: per-file
    ranges become tight in EVERY clustered dimension, so pruning on the
    second/third column skips files too — lexicographic only serves the
    leading column (see ``table.zvalue_expr``)."""
    parent = table.current_snapshot()
    if parent is None:
        raise ValueError("cannot compact an empty table")
    if parts is not None and max_files_per_partition is not None:
        raise ValueError("pass parts or max_files_per_partition, not both")
    if cluster_by is None:
        # OPTIMIZE without arguments reuses the table's recorded sort
        # order (persisted as a property by the last clustering compact)
        import json as _json
        so = (parent.get("properties") or {}).get("sort_order")
        if so:
            rec = _json.loads(so)
            cluster_by, zorder = rec["cluster_by"], rec.get("zorder", False)
    if max_files_per_partition is not None:
        parts = compaction_candidates(parent, max_files_per_partition)
        if not parts:
            return parent
    df = table.read(spark, parts=parts, include_deleted=True)
    if vacuum_tombstones_below_lsn is not None:
        keep = ~(F.coalesce(F.col("_deleted"), F.lit(False))
                 & (F.col("_lsn") <= F.lit(vacuum_tombstones_below_lsn)))
        df = df.filter(keep)

    old_fpp = table.files_per_partition
    old_stats = table.stats_cols
    if files_per_partition is not None:
        table.files_per_partition = files_per_partition
    if cluster_by:
        # clustering without recorded stats would be invisible to pruning
        table.stats_cols = tuple(dict.fromkeys((*old_stats, *cluster_by)))
    try:
        sid = store.next_snapshot_id(table.root)
        if table.layout == "key_hash" and not cluster_by:
            # the key_hash write trusts the incoming clustering; a raw
            # snapshot read has none, so compaction supplies it here —
            # one shuffle, right-sized files. The width stays P*fpp even
            # for a PARTIAL compact: pmod(hash(key), P) only aligns with
            # the task id when P divides the shuffle width, and alignment
            # is what keeps each output part in one task (one file);
            # unselected parts' tasks are simply empty.
            df = df.repartition(
                table.n_partitions * table.files_per_partition,
                *table.key_cols)
        elif cluster_by:
            # read twice: the range-sampling job (and z-order's bounds
            # pass), then the write; a plain compaction reads it once
            df = df.persist()
        entries, ddl = table._write_data(df, sid,
                                         cluster_by=tuple(cluster_by or ()),
                                         zorder=zorder)
    finally:
        if cluster_by:
            df.unpersist()
        table.files_per_partition = old_fpp
        table.stats_cols = old_stats

    carried = []
    if parts is not None:
        selected = set(parts)
        carried = [{**f, "origin": "existing"} for f in parent["files"]
                   if int(f["part"]) not in selected]
    snap = store.new_snapshot(
        parent, batch_key=f"compact-{sid:08d}",
        lsn_high=parent["lsn_high"], files=entries + carried, schema_ddl=ddl,
        operation="compact",
        committed_ts=datetime.now(timezone.utc).isoformat(),
        snapshot_id=sid)
    if cluster_by:
        import json as _json
        props = dict(snap.get("properties") or {})
        props["sort_order"] = _json.dumps(
            {"cluster_by": list(cluster_by), "zorder": bool(zorder)})
        snap["properties"] = props
    snap["table_config"] = table.table_config()
    # CAS on the parent read at the top: a writer that committed meanwhile
    # must not be clobbered by the compaction (same snapshot-id collision
    # risk as any commit)
    store.write_snapshot(table.root, snap,
                         expected_parent=parent["snapshot_id"])
    return snap


def rollback(table: CdcTable, to_snapshot_id: int) -> dict:
    """Undo commits by restoring an earlier snapshot's LOGICAL state as a
    new commit (history stays linear and append-only — nothing is deleted,
    time travel into the undone range keeps working until the snapshots
    expire). Restores the target's files, schema, lsn high-water mark AND
    its batch ledger: the undone batch keys leave the ledger, so replaying
    them applies again instead of short-circuiting as duplicate epochs.

    Metadata-only (no data files move); CAS-guarded like any commit."""
    parent = table.current_snapshot()
    if parent is None:
        raise ValueError("cannot roll back an empty table")
    if to_snapshot_id == parent["snapshot_id"]:
        return parent
    target = store.read_snapshot(table.root, to_snapshot_id)
    sid = store.next_snapshot_id(table.root)
    snap = {
        "snapshot_id": sid,
        "parent_id": parent["snapshot_id"],
        "batch_key": f"rollback-{to_snapshot_id:08d}",
        "lsn_high": target["lsn_high"],
        "operation": "rollback",
        "committed_ts": datetime.now(timezone.utc).isoformat(),
        "schema_ddl": target["schema_ddl"],
        "committed_batches": list(target["committed_batches"]),
        "files": [{**f, "origin": "existing"} for f in target["files"]],
    }
    if target.get("column_ids"):
        # the schema travels with the rollback — including the id mapping,
        # so rolling back across a rename/drop restores the old resolution
        snap["column_ids"] = target["column_ids"]
    # properties (CHECK constraints, sort order) travel too: rolling back
    # across a SET/UNSET restores the target's gate exactly — explicit {}
    # when the target had none, so the current props don't leak through
    snap["properties"] = dict(target.get("properties") or {})
    # the restored files are clustered under the TARGET's partition spec —
    # rolling back across a repartition must restore that spec too, or
    # pruning/lookups against the restored files silently break. Re-open
    # the handle (CdcTable.open) after rolling back across a spec change.
    snap["table_config"] = target["table_config"]
    store.write_snapshot(table.root, snap,
                         expected_parent=parent["snapshot_id"])
    return snap


def repartition(spark: SparkSession, table: CdcTable,
                n_partitions: int | None = None, layout: str | None = None,
                files_per_partition: int | None = None) -> CdcTable:
    """Partition evolution: rewrite the whole table under a new partition
    spec as one transactional commit (operation='repartition') and record
    the new spec in the snapshot. Readers at old snapshots keep the old
    layout (their manifests carry old part ids); ``CdcTable.open`` after
    this returns a handle with the new spec. Returns that handle.

    Cost: one full read + one clustered write — the same shape as
    ``compact`` — so evolve opportunistically *instead of* a compaction
    cycle, not in addition to one."""
    parent = table.current_snapshot()
    if parent is None:
        raise ValueError("cannot repartition an empty table")
    new = CdcTable(
        table.root, key_cols=table.key_cols,
        n_partitions=n_partitions or table.n_partitions,
        layout=layout or table.layout,
        files_per_partition=files_per_partition or table.files_per_partition,
        part_cols=table.part_cols)
    df = (table.read(spark, include_deleted=True)
          .withColumn(PART_COL, new.part_of()))   # re-derive under NEW spec
    sid = store.next_snapshot_id(table.root)
    if new.layout == "key_hash":
        df = df.repartition(new.n_partitions * new.files_per_partition,
                            *new.key_cols)
    entries, ddl = new._write_data(df, sid)
    snap = store.new_snapshot(
        parent, batch_key=f"repartition-{sid:08d}",
        lsn_high=parent["lsn_high"], files=entries, schema_ddl=ddl,
        operation="repartition",
        committed_ts=datetime.now(timezone.utc).isoformat(),
        snapshot_id=sid)
    snap["table_config"] = new.table_config()
    store.write_snapshot(table.root, snap,
                         expected_parent=parent["snapshot_id"])
    return new


def expire_snapshots(table: CdcTable, keep_last: int = 3,
                     older_than=None) -> list[int]:
    """Drop snapshot JSONs older than the newest ``keep_last`` (time-travel
    horizon); the current snapshot and any TAGGED snapshots (audit/repro
    pins — ``CdcTable.tag``) are always kept. Returns expired ids.

    ``older_than`` (ISO string or datetime; naive = UTC) further restricts
    expiry to snapshots COMMITTED BEFORE that instant — the retention-
    policy form ("keep 7 days of time travel"): pass
    ``older_than=now - retention`` and ``keep_last=1``."""
    snaps = table.snapshots()
    if len(snaps) <= keep_last:
        return []
    if older_than is not None:
        from datetime import datetime, timezone
        if isinstance(older_than, datetime):
            if older_than.tzinfo is None:
                older_than = older_than.replace(tzinfo=timezone.utc)
            older_than = older_than.astimezone(timezone.utc).isoformat()
    current = table.current_snapshot()["snapshot_id"]
    pinned = set(store.list_tags(table.root).values()) | {current}
    # staged WAP / transaction chains hold snapshots alive exactly like
    # tags do: expiring one would leave the ref dangling (publish/drop
    # crash on a missing snapshot JSON) and let vacuum_orphans reclaim the
    # staged data files while the ref still exists
    for head in store.list_refs(table.root).values():
        pinned |= store.ref_chain_ids(table.root, head)
    expired = []
    for snap in snaps[:-keep_last]:
        sid = snap["snapshot_id"]
        if sid in pinned:
            continue
        if older_than is not None and snap["committed_ts"] >= older_than:
            continue
        os.remove(store.snap_path(table.root, sid))
        expired.append(sid)
    return expired


def plan_maintenance(table: CdcTable,
                     max_files_per_partition: int = 4,
                     keep_snapshots: int = 10,
                     tombstone_horizon: int | None = None) -> dict:
    """The autonomous-table-service planner: inspect METADATA ONLY and
    return the maintenance actions currently worth running, as a dict the
    caller (a cron job, a post-commit hook) can execute directly:

    - ``compact_parts`` — partitions fragmented past
      ``max_files_per_partition`` or carrying MOR delta layers
      (``compaction_candidates`` — the selection
      ``compact(max_files_per_partition=…)`` makes);
    - ``vacuum_tombstones_below_lsn`` — passthrough of the caller's
      reordering horizon, attached so the compaction it recommends also
      vacuums (None = keep tombstones);
    - ``expire`` — whether history exceeds ``keep_snapshots``;
    - ``orphan_dirs`` — staged data dirs no live snapshot references
      (crashed/conflicted commits) that ``vacuum_orphans`` would remove.

    Everything is O(metadata); nothing reads a data file. The planner
    NEVER executes — recommending and acting stay separable so operators
    can gate actions (e.g. audit windows) without re-deriving the plan."""
    snap = table.current_snapshot()
    if snap is None:
        return {"compact_parts": [], "expire": False, "orphan_dirs": [],
                "vacuum_tombstones_below_lsn": tombstone_horizon}
    compact_parts = compaction_candidates(snap, max_files_per_partition)

    live_dirs = {f["path"].split("/", 2)[1]
                 for s in table.snapshots() for f in s["files"]}
    orphans = []
    data_root = os.path.join(table.root, "data")
    if os.path.isdir(data_root):
        orphans = [n for n in sorted(os.listdir(data_root))
                   if n.startswith("snap-") and n not in live_dirs]

    return {
        "compact_parts": compact_parts,
        "vacuum_tombstones_below_lsn": tombstone_horizon,
        "expire": len(table.snapshots()) > keep_snapshots,
        "orphan_dirs": orphans,
    }


def verify_table(spark: SparkSession, table: CdcTable,
                 snapshot_id: int | None = None,
                 check_data: bool = False) -> dict:
    """Integrity audit (the fsck): manifest ↔ files ↔ stats ↔ invariants.

    Metadata tier (default, no Spark job): every manifest entry's file
    exists, its parquet footer row count and lsn min/max equal the
    manifest's, and its path's ``part=N`` dir matches the recorded part.
    Footer reads fan out on a thread pool like the commit path.

    ``check_data=True`` adds one Spark pass over the RAW STORED FILES
    (never a reconciled read — a patch-MOR read recomputes the sha from
    the folded content, which would make the check tautological): (a) the
    per-row invariant ``_content_sha256 == sha2(content)``
    [BASELINE.json's parity hash] over every stored row, including MOR
    delta losers, and (b) every stored row hashes to the partition it
    sits in (a mis-clustered row would be invisible to lookups and merge
    pruning — the worst silent corruption); valid for MOR snapshots too,
    since the raw scan never shuffles.

    Returns ``{"ok": bool, "errors": [...], "files_checked": n}``;
    errors are strings naming the file and the mismatch."""
    import pyarrow.parquet as pq
    from concurrent.futures import ThreadPoolExecutor

    snap = (store.read_snapshot(table.root, snapshot_id)
            if snapshot_id is not None else table.current_snapshot())
    if snap is None:
        raise ValueError("empty table: nothing to verify")
    errors: list[str] = []

    def check(f) -> list[str]:
        errs = []
        full = os.path.join(table.root, f["path"])
        if not os.path.exists(full):
            return [f"{f['path']}: missing on disk"]
        try:
            meta = pq.ParquetFile(full).metadata
        except Exception as e:
            return [f"{f['path']}: unreadable footer ({e})"]
        if meta.num_rows != int(f["rows"]):
            errs.append(f"{f['path']}: footer rows {meta.num_rows} != "
                        f"manifest {f['rows']}")
        lo, hi = footer_minmax(meta, "_lsn")
        if int(f["rows"]) > 0 and lo is not None and (
                int(lo) != int(f["lsn_min"]) or int(hi) != int(f["lsn_max"])):
            errs.append(f"{f['path']}: footer lsn [{lo},{hi}] != "
                        f"manifest [{f['lsn_min']},{f['lsn_max']}]")
        part_dir = f["path"].rsplit("/", 2)[-2]
        if part_dir != f"part={int(f['part'])}":
            errs.append(f"{f['path']}: stored under {part_dir} but manifest "
                        f"part={f['part']}")
        return errs

    files = snap["files"]
    with ThreadPoolExecutor(max_workers=min(16, max(1, len(files)))) as ex:
        for errs in ex.map(check, files):
            errors.extend(errs)

    if check_data and not errors:
        # Check the RAW STORED FILES, never a reconciled read: a
        # reconciled patch-MOR read RECOMPUTES _content_sha256 from the
        # folded content, so comparing sha2(content) against it would be
        # tautological (a bit-flipped stored content could never fire);
        # a row-MOR reconciled read checks only the WINNER rows. The raw
        # scan checks every stored row (losers, deltas, tombstone-shadowed
        # history included), and input_file_name stays valid because
        # nothing shuffles — so the part-placement check covers MOR
        # snapshots too (the writer clusters delta rows the same way).
        by_ddl: dict[str, list[str]] = {}
        for f in files:
            by_ddl.setdefault(f["columns"], []).append(
                os.path.join(table.root, f["path"]))
        bad_sha = bad_part = 0
        # coverage accounting (don't let a silently-skipped pre-rename
        # file group read as "fully audited"): which checks the CURRENT
        # schema supports defines "full" coverage; a group missing ANY
        # supported check is partial, one missing all is skipped, and a
        # file counts as data-checked only when every supported check ran
        # over it. Callers can therefore distinguish "audited" from
        # "audited as far as the old files allowed".
        cur_cols = set(store.ddl_names(snap["schema_ddl"]))
        sha_supported = {"content", "_content_sha256"} <= cur_cols
        part_supported = set(table.part_cols) <= cur_cols
        n_expected = int(sha_supported) + int(part_supported)
        files_data_checked = files_data_skipped = 0
        skipped_groups: list[str] = []
        partial_groups: list[str] = []
        for ddl, paths in sorted(by_ddl.items()):
            d = spark.read.schema(ddl).parquet(*paths)
            checks = []
            if "content" in d.columns and "_content_sha256" in d.columns:
                viol = (F.col("content").isNotNull()
                        & ~F.sha2(F.col("content"), 256)
                           .eqNullSafe(F.col("_content_sha256")))
                checks.append(F.sum(viol.cast("long")).alias("bad_sha"))
            if all(c in d.columns for c in table.part_cols):
                # materialized in a projection first: non-deterministic
                # expressions (input_file_name) may not appear inside an agg
                d = d.withColumn(
                    "_stored_part",
                    F.regexp_extract(F.input_file_name(),
                                     r"/part=(\d+)/", 1).cast("int"))
                checks.append(
                    F.sum((F.col("_stored_part") != table.part_of())
                          .cast("long")).alias("bad_part"))
            if not checks:
                files_data_skipped += len(paths)
                skipped_groups.append(ddl)
                continue
            if len(checks) < n_expected:
                files_data_skipped += len(paths)
                partial_groups.append(ddl)
            else:
                files_data_checked += len(paths)
            row = d.agg(*checks).collect()[0].asDict()
            bad_sha += row.get("bad_sha") or 0
            bad_part += row.get("bad_part") or 0
        if bad_sha:
            errors.append(f"{bad_sha} stored rows violate the "
                          f"sha256(content) invariant")
        if bad_part:
            errors.append(f"{bad_part} stored rows sit in the wrong "
                          f"partition for their key")
        if table.part_cols != table.key_cols:
            # part-override tables: the partition is NOT a function of the
            # key, so a key can end up LIVE in two partitions (the
            # cross-commit contract violation the commit-time guard cannot
            # see — table.py __init__). One groupBy over the live read;
            # LWW/merge would silently keep both such rows, so this is the
            # authoritative offline detector.
            live = table.read(spark, snapshot_id=snapshot_id)
            dup = (live.groupBy(*table.key_cols)
                   .agg(F.countDistinct(PART_COL).alias("_np"))
                   .filter(F.col("_np") > 1).count())
            if dup:
                errors.append(
                    f"{dup} keys are live in more than one partition "
                    f"(part_cols contract violation — a key was "
                    f"re-committed under a different {table.part_cols} "
                    f"value without retiring the old row)")
        return {"ok": not errors, "errors": errors,
                "files_checked": len(files),
                "files_data_checked": files_data_checked,
                "files_data_skipped": files_data_skipped,
                "skipped_groups": skipped_groups,
                "partial_groups": partial_groups}
    return {"ok": not errors, "errors": errors,
            "files_checked": len(files)}


def vacuum_orphans(table: CdcTable) -> list[str]:
    """Remove data/snap-* directories AND meta/manifest-* files referenced
    by NO remaining snapshot (crashed commits, expired history). Safe
    because commits never reuse a staging dir of a *different* snapshot id
    and manifest side-files are immutable (shared by reference across
    snapshots — only ones referenced by zero live snapshots go)."""
    live_dirs: set[str] = set()
    live_manifests: set[str] = set()
    live_artifacts: set[str] = set()
    for snap in table.snapshots():
        for f in snap["files"]:
            # files live under data/snap-XXXX/part=N/...
            live_dirs.add(f["path"].split("/", 2)[1])
        for m in snap.get("manifests", ()):
            live_manifests.add(m["path"])
        for v in (snap.get("properties") or {}).values():
            # artifact side files (quantizers/codebooks) are pinned by
            # the snapshots whose properties reference them
            if isinstance(v, str) and v.startswith(store.ARTIFACT_REF):
                live_artifacts.add(v[len(store.ARTIFACT_REF):])
    removed = []
    data_root = os.path.join(table.root, "data")
    if os.path.isdir(data_root):
        for name in sorted(os.listdir(data_root)):
            if name.startswith("snap-") and name not in live_dirs:
                shutil.rmtree(os.path.join(data_root, name), ignore_errors=True)
                removed.append(name)
    meta_root = store.meta_dir(table.root)
    if os.path.isdir(meta_root):
        for name in sorted(os.listdir(meta_root)):
            if ((name.startswith("manifest-")
                 and name not in live_manifests)
                    or (name.startswith("artifact-")
                        and name not in live_artifacts)):
                os.remove(os.path.join(meta_root, name))
                removed.append(name)
    return removed
