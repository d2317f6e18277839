"""S4 — JSON snapshot / manifest metadata store for the Iceberg-style table.

Layout under a table root::

    root/
      data/snap-<sid>-<writer>/part=<p>/*.parquet  # immutable data files
      meta/snap-<sid>.json                  # snapshot: manifest + ledger
      meta/_current                         # pointer file -> snap-<sid>.json
      metrics/                              # lineage_metrics parquet (append)

Commit protocol (SURVEY.md §4 "exactly-once commit"):
1. stage data files under a (snapshot id, writer token)-deterministic
   directory — a retried commit from the SAME handle overwrites its own
   staging paths (no duplicates), while a concurrent writer holding the
   same candidate id stages elsewhere (no clobbering);
2. write + fsync the snapshot JSON (manifest, schema, batch ledger);
3. atomically swap ``meta/_current`` via ``os.replace`` (POSIX-atomic),
   CAS-checked against the expected parent under the commit lock — a
   loser gets ``CommitConflictError`` and can retry against fresh state
   (``apply_batch(conflict_retries=...)``); its staging dir is
   unreferenced and reclaimed by ``maintenance.vacuum_orphans``.
A crash anywhere before (3) leaves the table at the parent snapshot with
only invisible orphan files.

Scale note — TWO-LEVEL manifests (Iceberg's manifest-list -> manifest
form): the snapshot JSON stores a manifest LIST (one entry per partition
group), and the per-file entries live in immutable ``manifest-*.json``
side files. A commit rewrites only the manifest groups whose partitions
it touched and references the parent's other manifest files unchanged, so
snapshot-write cost is O(touched partitions), not O(table files) — the
10^10-scale metadata story. Readers resolve the list transparently
(``read_snapshot_file``); pre-two-level snapshots with inline ``files``
still load. The bounded recent-batch ledger rides in the snapshot itself.
"""

from __future__ import annotations

import json
import os
from typing import Any

CURRENT = "_current"
# Recent batch keys kept for duplicate-epoch detection. A batch_key OLDER
# than this window re-APPLIES instead of short-circuiting on the ledger —
# which is still a no-op by the LSN merge guard: stale rows lose to state
# (strictly lower lsn), and an equal-lsn re-application (replaying the
# very latest batch) deterministically recomputes the same collapse and
# rewrites identical values. This holds for BOTH full-row images
# (merge_apply) and image='patch' (merge_patches: same >= row-lsn guard,
# per-column coalesce of an identical collapsed patch). The cost of an
# out-of-window replay is therefore a wasted commit cycle, never wrong
# data. Pinned by tests/test_round3_fixes.py::
# test_batch_key_past_ledger_window_replays_as_lsn_noop.
LEDGER_KEEP = 10_000
MANIFEST_GROUPS = 8   # partition-group fan-out of the manifest list


def meta_dir(root: str) -> str:
    return os.path.join(root, "meta")


def snap_path(root: str, snapshot_id: int) -> str:
    return os.path.join(meta_dir(root), f"snap-{snapshot_id:012d}.json")


def read_current(root: str) -> dict[str, Any] | None:
    """Resolve the current snapshot dict, or None for an empty/new table."""
    ptr = os.path.join(meta_dir(root), CURRENT)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        name = f.read().strip()
    return read_snapshot_file(os.path.join(meta_dir(root), name))


def read_snapshot_file(path: str, files: bool = True) -> dict[str, Any]:
    """``files=False`` skips the two-level manifest resolution — for
    scalar consumers (timestamp time travel, commit listings, expiry
    scans) that only need snapshot-level fields; resolving every
    manifest group there is O(snapshots x manifest entries) of wasted
    file I/O."""
    with open(path) as f:
        snap = json.load(f)
    if files and "manifests" in snap and "files" not in snap:
        meta = os.path.dirname(path)
        added = set(snap.get("added_paths", ()))
        files: list[dict[str, Any]] = []
        for m in snap["manifests"]:
            with open(os.path.join(meta, m["path"])) as mf:
                for e in json.load(mf):
                    e["origin"] = "added" if e["path"] in added else "existing"
                    files.append(e)
        snap["files"] = files
    return snap


def read_snapshot(root: str, snapshot_id: int,
                  files: bool = True) -> dict[str, Any]:
    return read_snapshot_file(snap_path(root, snapshot_id), files=files)


ARTIFACT_REF = "artifact:"


def write_artifact(root: str, name: str, payload: Any) -> str:
    """Write an IMMUTABLE side artifact under ``meta/`` and return the
    property value referencing it (``artifact:<filename>``). Large
    training products (IVF quantizers, PQ codebooks) must NOT live
    inline in snapshot ``properties`` — properties carry forward into
    EVERY subsequent snapshot, so a 4096×1024-float quantizer would be
    re-serialized on every per-epoch commit (~80 MB of pure metadata
    write amplification). An artifact is written ONCE; snapshots hold
    only its path, and each snapshot pins the artifact version that
    produced it (time travel reads the right one for free).

    Content-addressed (sha256 of the canonical JSON): a crash-replay
    re-write is a byte-identical no-op and two writers of the same
    payload converge on one file. ``maintenance.vacuum_orphans`` removes
    artifacts referenced by no remaining snapshot."""
    import hashlib
    blob = json.dumps(payload, sort_keys=True, separators=(",", ":"))
    h = hashlib.sha256(blob.encode()).hexdigest()[:16]
    fname = f"artifact-{name}-{h}.json"
    path = os.path.join(meta_dir(root), fname)
    os.makedirs(meta_dir(root), exist_ok=True)
    if not os.path.exists(path):
        _fsync_json(path, payload)
    return ARTIFACT_REF + fname


def read_artifact_ref(root: str, prop: str, value: str) -> Any:
    """The payload of property ``prop``, an ``artifact:`` reference."""
    if not value.startswith(ARTIFACT_REF):
        raise ValueError(f"property {prop!r} is not an artifact reference")
    with open(os.path.join(meta_dir(root), value[len(ARTIFACT_REF):])) as f:
        return json.load(f)


def list_snapshots(root: str, files: bool = True) -> list[dict[str, Any]]:
    d = meta_dir(root)
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if name.startswith("snap-") and name.endswith(".json"):
            out.append(read_snapshot_file(os.path.join(d, name),
                                          files=files))
    return out


def _fsync_dir(path: str) -> None:
    """fsync a DIRECTORY: POSIX makes a rename durable only once the
    containing directory's entry is flushed — without this, a power loss
    after ``os.replace`` can roll the pointer (an acknowledged commit)
    back to the parent on reboot."""
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return   # platform without O_RDONLY dirs — best effort
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


def _fsync_json(path: str, obj: Any) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    _fsync_dir(os.path.dirname(path))


def _strip_origin(entries: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """origin (added/existing) is SNAPSHOT-relative, so it lives in the
    snapshot's ``added_paths``, not in the shared immutable manifests —
    otherwise an add would dirty a group's manifest a second time when the
    file merely flips to 'existing'."""
    return sorted(({k: v for k, v in e.items() if k != "origin"} for e in entries),
                  key=lambda e: e["path"])


class CommitConflictError(RuntimeError):
    """Another writer advanced the table since this commit's parent was
    read — the optimistic-concurrency (CAS) failure. Callers re-read the
    current snapshot and retry on fresh state (Iceberg-catalog semantics;
    here in single-box POSIX form: an O_EXCL lock file brackets the
    check-and-swap)."""


def current_snapshot_id(root: str) -> int:
    ptr = os.path.join(meta_dir(root), CURRENT)
    if not os.path.exists(ptr):
        return 0
    with open(ptr) as f:
        name = f.read().strip()          # snap-XXXXXXXXXXXX.json
    return int(name.removeprefix("snap-").removesuffix(".json"))


def next_snapshot_id(root: str) -> int:
    """Allocate the next snapshot id: one past the HIGHEST snapshot file
    present — not parent+1. Staged write-audit-publish snapshots hold ids
    without being current, so parent+1 would let the next main-line commit
    collide with a staged snapshot's metadata file. A crashed commit
    (data staged, no metadata written) still re-allocates the same id on
    retry, preserving the overwrite-not-duplicate staging contract (the
    staging dir also carries the handle's writer token, so two LIVE
    writers racing for the same id never share a staging dir)."""
    d = meta_dir(root)
    mx = 0
    if os.path.isdir(d):
        for name in os.listdir(d):
            if name.startswith("snap-") and name.endswith(".json"):
                sid = name[len("snap-"):-len(".json")]
                if sid.isdigit():
                    mx = max(mx, int(sid))
    return mx + 1


def read_ref(root: str, ref: str) -> dict[str, Any] | None:
    """Resolve a named ref pointer (e.g. a staged WAP snapshot), or None."""
    ptr = os.path.join(meta_dir(root), _ref_name(ref))
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return read_snapshot_file(os.path.join(meta_dir(root), f.read().strip()))


def _ref_name(ref: str) -> str:
    if ref == CURRENT:
        return CURRENT
    if not ref or "/" in ref or os.sep in ref or ref.startswith("_"):
        raise ValueError(f"bad ref name {ref!r}")
    return f"_ref-{ref}"


def write_snapshot(root: str, snap: dict[str, Any],
                   expected_parent: int | None = None,
                   ref: str = CURRENT) -> None:
    """Steps (2)+(3): durable metadata, then atomic pointer swap.

    ``expected_parent`` enables compare-and-swap commits: the pointer is
    advanced only if the table is still at that snapshot id, else
    ``CommitConflictError`` — so a concurrent writer is DETECTED rather
    than silently clobbered. The check-and-swap runs under an O_EXCL lock
    file (the local stand-in for a catalog's atomic CAS; on a real
    deployment this seam maps to the catalog request).

    Inline ``files`` are split into MANIFEST_GROUPS immutable manifest
    side-files grouped by ``part % MANIFEST_GROUPS``; groups byte-identical
    to the parent's are referenced, NOT rewritten (commit metadata cost =
    O(touched partitions)). Manifests are fsynced before the snapshot JSON,
    which is fsynced before the pointer swap — a crash anywhere leaves only
    invisible orphan files.

    ``ref`` — pointer file to advance. The default publishes to
    ``_current``; a named ref (write-audit-publish staging) records the
    snapshot without making it the table's visible state. The CAS check
    always runs against ``_current``: a staged commit's parent basis is
    the main line it was computed from."""
    os.makedirs(meta_dir(root), exist_ok=True)
    snap = dict(snap)
    # The lock brackets the WHOLE metadata write, not just the pointer
    # swap: snapshot ids are assigned optimistically, so two racing writers
    # would target the SAME snapshot/manifest file names — the CAS check
    # must run before any id-derived path is touched.
    fd = _acquire_commit_lock(root)
    try:
        if expected_parent is not None:
            cur = current_snapshot_id(root)
            if cur != expected_parent:
                raise CommitConflictError(
                    f"table advanced to snapshot {cur} (expected parent "
                    f"{expected_parent}) — re-read state and retry")
        _write_snapshot_locked(root, snap, ref=ref, lock_fd=fd)
    finally:
        _release_commit_lock(root, fd)


def _release_commit_lock(root: str, fd: int) -> None:
    lock = os.path.join(meta_dir(root), "_commit.lock")
    # only unlink OUR lock: if a staleness breaker removed it and another
    # writer re-created it, unconditionally unlinking would let a THIRD
    # writer into the critical section alongside the second
    ours = _holds_commit_lock(root, fd)
    _LOCK_TOKENS.pop((root, fd), None)
    os.close(fd)
    if not ours:
        return
    try:
        os.unlink(lock)
    except OSError:  # a staleness breaker removed it mid-write
        pass


def publish_ref(root: str, ref: str) -> dict[str, Any]:
    """Write-audit-PUBLISH: atomically fast-forward ``_current`` to the
    snapshot (or branch HEAD) a named ref points at, iff the table is
    still at the chain's BRANCH BASE (the CAS that makes a stale audit
    unpublishable — one pointer swap publishes the whole chain, whose
    parent links land intact in history). Consumes the ref."""
    fd = _acquire_commit_lock(root)
    try:
        ptr = os.path.join(meta_dir(root), _ref_name(ref))
        if not os.path.exists(ptr):
            raise ValueError(f"no staged snapshot under ref {ref!r}")
        with open(ptr) as f:
            name = f.read().strip()
        snap = read_snapshot_file(os.path.join(meta_dir(root), name))
        base = snap.get("branch_base", snap["parent_id"])
        cur = current_snapshot_id(root)
        if cur != base:
            raise CommitConflictError(
                f"table advanced to snapshot {cur} since ref {ref!r} was "
                f"staged on base {base} — restage on fresh state")
        _fence(root, fd)
        _swap_pointer(root, name, CURRENT)
        os.unlink(ptr)
        return snap
    finally:
        _release_commit_lock(root, fd)


def drop_ref(root: str, ref: str, delete_snapshot: bool = True) -> bool:
    """Abandon a staged snapshot or branch: remove the ref pointer and
    (by default) the metadata of the WHOLE staged chain back to its
    branch base, so ``vacuum_orphans`` reclaims all staged data files.
    Returns False when the ref does not exist."""
    fd = _acquire_commit_lock(root)
    try:
        ptr = os.path.join(meta_dir(root), _ref_name(ref))
        if not os.path.exists(ptr):
            return False
        with open(ptr) as f:
            name = f.read().strip()
        os.unlink(ptr)
        if delete_snapshot:
            # never drop a published snapshot: publish consumes the ref, so
            # this name can only be current if the user re-pointed by hand
            cur = os.path.join(meta_dir(root), CURRENT)
            published = (os.path.exists(cur)
                         and open(cur).read().strip() == name)
            path = os.path.join(meta_dir(root), name)
            while not published:
                try:
                    snap = read_snapshot_file(path)
                except (OSError, ValueError):
                    break
                base = snap.get("branch_base")
                try:
                    os.unlink(path)
                except OSError:
                    pass
                # walk the chain: stop at the branch base (a main-line
                # snapshot — NOT ours to delete) or a pre-branch snapshot
                if base is None or snap["parent_id"] <= base:
                    break
                path = snap_path(root, snap["parent_id"])
        return True
    finally:
        _release_commit_lock(root, fd)


STALE_LOCK_SECONDS = 600.0  # a metadata write must finish inside this —
                            # beyond it the lock counts as abandoned by a
                            # crashed writer and may be broken


# token of each HELD lock, keyed (root, fd): lets release/fence verify the
# lock file on disk is still OURS — a stale-lock breaker may have removed
# it and a third writer re-created it while we were stalled
_LOCK_TOKENS: dict = {}


def _holds_commit_lock(root: str, fd: int) -> bool:
    token = _LOCK_TOKENS.get((root, fd))
    if token is None:
        return False
    try:
        with open(os.path.join(meta_dir(root), "_commit.lock")) as f:
            return f.read() == token
    except OSError:
        return False


def _fence(root: str, fd: int) -> None:
    """Stale-writer fence at the commit point: a writer that stalled past
    STALE_LOCK_SECONDS may have had its lock broken and ANOTHER writer
    may have committed meanwhile — swapping the pointer now would roll
    the table back over an acknowledged commit. Re-checking lock
    ownership immediately before the swap narrows that window from
    minutes to microseconds (a single-box best effort; a production
    catalog CAS closes it completely)."""
    if not _holds_commit_lock(root, fd):
        raise CommitConflictError(
            f"commit lock at {root} was broken while this writer was "
            f"stalled (held past {STALE_LOCK_SECONDS:.0f}s) — another "
            f"writer may have advanced the table; re-read state and retry")


def _acquire_commit_lock(root: str, timeout: float = 30.0) -> int:
    import time
    import uuid
    lock = os.path.join(meta_dir(root), "_commit.lock")
    breaker = lock + ".breaker"
    deadline = time.monotonic() + timeout
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            token = uuid.uuid4().hex
            os.write(fd, token.encode())
            _LOCK_TOKENS[(root, fd)] = token
            return fd
        except FileExistsError:
            try:
                stale = time.time() - os.path.getmtime(lock) > STALE_LOCK_SECONDS
            except OSError:
                stale = False  # vanished between open and stat — just retry
            if stale:
                # break the abandoned lock under a short-lived BREAKER lock
                # so only ONE waiter performs the unlink: a bare
                # check-then-unlink race lets two waiters each remove the
                # other's FRESH lock and both enter the critical section.
                try:
                    bfd = os.open(breaker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                except FileExistsError:
                    try:  # a breaker abandoned by a crash is itself broken
                        if time.time() - os.path.getmtime(breaker) > STALE_LOCK_SECONDS:
                            os.unlink(breaker)
                    except OSError:
                        pass
                else:
                    try:  # re-check under the breaker, then unlink
                        if time.time() - os.path.getmtime(lock) > STALE_LOCK_SECONDS:
                            os.unlink(lock)
                    except OSError:
                        pass
                    finally:
                        os.close(bfd)
                        try:
                            os.unlink(breaker)
                        except OSError:
                            pass
                    continue
            if time.monotonic() > deadline:
                raise CommitConflictError(
                    f"commit lock held for >{timeout:.0f}s: {lock}") from None
            time.sleep(0.05)


def _write_snapshot_locked(root: str, snap: dict[str, Any],
                           ref: str = CURRENT,
                           lock_fd: int | None = None) -> None:
    # Snapshot ids are allocated OPTIMISTICALLY (outside this lock, during
    # the long data-write window), so two staged writers — e.g. two
    # transactions on the same table, or a WAP stage racing a main-line
    # commit — can both arrive here with the SAME id even though each
    # passed its own CAS (staged refs CAS only against the shared branch
    # base). The id-derived metadata paths (snap-*.json, manifest-*-g*.json)
    # are write-once: if the snapshot file already exists, a concurrent
    # commit won the id — conflict, never clobber. A CRASHED attempt (data
    # staged, metadata unwritten) re-allocates the same id safely: its snap
    # file was never written, so this check cannot fire for it.
    path = snap_path(root, snap["snapshot_id"])
    if os.path.exists(path):
        raise CommitConflictError(
            f"snapshot id {snap['snapshot_id']} was already written by a "
            f"concurrent commit — re-read table state and restage")
    files = snap.pop("files", None)
    if files is not None and "manifests" not in snap:
        sid = snap["snapshot_id"]
        snap["added_paths"] = sorted(
            e["path"] for e in files if e.get("origin") == "added")
        groups: dict[int, list[dict[str, Any]]] = {}
        for e in files:
            groups.setdefault(int(e["part"]) % MANIFEST_GROUPS, []).append(e)
        parent_manifests: dict[int, dict[str, Any]] = {}
        if snap.get("parent_id"):
            ppath = snap_path(root, snap["parent_id"])
            if os.path.exists(ppath):
                with open(ppath) as f:
                    praw = json.load(f)
                for m in praw.get("manifests", ()):
                    with open(os.path.join(meta_dir(root), m["path"])) as mf:
                        parent_manifests[int(m["group"])] = {
                            "path": m["path"], "entries": json.load(mf)}
        manifests = []
        for g in sorted(groups):
            entries = _strip_origin(groups[g])
            parent_m = parent_manifests.get(g)
            if parent_m is not None and parent_m["entries"] == entries:
                manifests.append({"path": parent_m["path"], "group": g})
                continue
            name = f"manifest-{sid:012d}-g{g}.json"
            _fsync_json(os.path.join(meta_dir(root), name), entries)
            manifests.append({"path": name, "group": g})
        snap["manifests"] = manifests

    _fsync_json(path, snap)
    if lock_fd is not None:
        _fence(root, lock_fd)   # stale-writer fence at the commit point
    _swap_pointer(root, os.path.basename(path), ref)


def _swap_pointer(root: str, snap_name: str, ref: str) -> None:
    ptr = os.path.join(meta_dir(root), _ref_name(ref))
    ptr_tmp = ptr + ".tmp"
    with open(ptr_tmp, "w") as f:
        f.write(snap_name)
        f.flush()
        os.fsync(f.fileno())
    os.replace(ptr_tmp, ptr)  # the commit point
    _fsync_dir(meta_dir(root))  # make the rename itself durable


def ddl_names(ddl: str) -> list[str]:
    """Column names of a flat DDL string, split depth-aware (types like
    decimal(18,2) carry commas)."""
    names, depth, buf = [], 0, []
    for ch in ddl + ",":
        if ch == "," and depth == 0:
            part = "".join(buf).strip()
            buf = []
            if part:
                names.append(part.split(" ", 1)[0])
        else:
            depth += ch in "(<"
            depth -= ch in ")>"
            buf.append(ch)
    return names


def _assign_column_ids(parent: dict[str, Any] | None, schema_ddl: str,
                       override: dict[str, int] | None) -> dict[str, int]:
    """Field-id mapping for a new snapshot (the Iceberg column-mapping
    analog): names inherit their parent id, NEW names get fresh ids — so
    a dropped-then-re-added column is a DIFFERENT column and never
    resurrects old data. ``override`` is the ALTER path (rename keeps the
    id under a new name; drop removes the entry)."""
    if override is not None:
        return dict(override)
    ids = dict((parent or {}).get("column_ids") or {})
    nxt = max(ids.values(), default=0) + 1
    for n in ddl_names(schema_ddl):
        if n not in ids:
            ids[n] = nxt
            nxt += 1
    return ids


def new_snapshot(
    parent: dict[str, Any] | None,
    batch_key: str,
    lsn_high: int,
    files: list[dict[str, Any]],
    schema_ddl: str,
    operation: str = "merge",
    committed_ts: str = "",
    snapshot_id: int | None = None,
    column_ids: dict[str, int] | None = None,
    properties: dict[str, str] | None = None,
) -> dict[str, Any]:
    parent_id = parent["snapshot_id"] if parent else 0
    ledger = list(parent["committed_batches"]) if parent else []
    ledger.append(batch_key)
    # table properties (constraints, owner tags, …) carry forward unless
    # the commit explicitly replaces them (alter.set_property)
    if properties is None:
        properties = (parent or {}).get("properties")
    ids = _assign_column_ids(parent, schema_ddl, column_ids)
    # stamp freshly written files with their columns' field ids: the read
    # path maps file columns to current names BY ID, so later renames/drops
    # are metadata-only. Carried entries keep the ids of their own writing
    # snapshot (manifest groups stay byte-identical -> reused by reference).
    nxt = max(ids.values(), default=0) + 1
    for e in files:
        if e.get("origin") == "added" and "ids" not in e:
            row = []
            for n in ddl_names(e["columns"]):
                if n not in ids:       # defensive: never collide an id
                    ids[n] = nxt
                    nxt += 1
                row.append(ids[n])
            e["ids"] = row
    out = {
        "snapshot_id": snapshot_id if snapshot_id is not None else parent_id + 1,
        "parent_id": parent_id,
        "batch_key": batch_key,
        "lsn_high": lsn_high,
        "operation": operation,
        "committed_ts": committed_ts,
        "schema_ddl": schema_ddl,
        "committed_batches": ledger[-LEDGER_KEEP:],
        "column_ids": ids,
        "files": files,
    }
    if properties:
        out["properties"] = dict(properties)
    return out


def range_key(prefix: str, lo: int, hi: int) -> str:
    """Ledger key of a commit that covers the source range ``lo``..``hi``:
    ``<prefix><lo:08d>-<hi:08d>``. Grouped replay writes ``grp-`` keys
    (producer batch ids); the feed-maintained tables write ``idx-``,
    ``ivm-`` and ``scd2-`` keys (base snapshot ids). The key lands in
    the same snapshot as the rows it covers, so it IS the checkpoint."""
    return f"{prefix}{lo:08d}-{hi:08d}"


def covered_hi(snap: dict[str, Any] | None, prefix: str) -> int | None:
    """Highest ``hi`` among ``snap``'s ``range_key(prefix, …)`` ledger
    keys; None when there is none. Only a well-formed key counts, so a
    caller-chosen key that merely starts with the prefix is ignored."""
    his = []
    for key in (snap["committed_batches"] if snap else []):
        if key.startswith(prefix):
            lo, _, hi = key[len(prefix):].partition("-")
            if lo.isdigit() and hi.isdigit():
                his.append(int(hi))
    return max(his, default=None)


# -- multi-table atomic publish (cross-table transaction) -------------------

TXN_INTENT = "_txn-intent.json"


def publish_refs_atomic(
        participants: "list[tuple[str, str]]") -> dict[str, dict[str, Any]]:
    """Atomically fast-forward ``_current`` on SEVERAL tables to their
    staged refs — one logical commit spanning N tables (a fact table plus
    its derived aggregates, the multi-table-transaction case).

    Protocol (the POSIX analog of a catalog-level two-phase commit):
    1. take every table's commit lock in sorted-root order — one global
       acquisition order makes deadlock impossible;
    2. validate EVERY CAS (staged chain's branch base == that table's
       current snapshot) before moving anything — any failure aborts
       with every ref intact, nothing published;
    3. fsync one INTENT file in the coordinator's meta dir (the
       lexicographically smallest root) naming every pointer swap;
    4. perform the per-table swaps (each individually atomic);
    5. remove the intent.
    A crash between (3) and (5) is rolled FORWARD by ``recover_txn``
    (or rejected loudly by the next ``publish_refs_atomic`` on the same
    coordinator): every swap an intent names was validated under the
    locks, so completing it is always correct. Readers of an individual
    table never see a torn snapshot — only the cross-table SET is torn
    until recovery, the documented gap a production catalog CAS closes.

    Returns {root: published snapshot dict}.
    """
    roots = [r for r, _ in participants]
    if len(set(roots)) != len(roots):
        raise ValueError("duplicate table roots in one transaction")
    parts = sorted(participants)
    held: list[tuple[str, int]] = []
    try:
        for root, _ in parts:
            held.append((root, _acquire_commit_lock(root)))
        coord = parts[0][0]
        intent_path = os.path.join(meta_dir(coord), TXN_INTENT)
        if os.path.exists(intent_path):
            raise CommitConflictError(
                f"unfinished multi-table publish intent at {intent_path} — "
                f"run recover_txn on the same tables first")
        plan = []
        for root, ref in parts:
            ptr = os.path.join(meta_dir(root), _ref_name(ref))
            if not os.path.exists(ptr):
                raise ValueError(f"no staged ref {ref!r} at {root}")
            with open(ptr) as f:
                name = f.read().strip()
            snap = read_snapshot_file(os.path.join(meta_dir(root), name))
            base = snap.get("branch_base", snap["parent_id"])
            cur = current_snapshot_id(root)
            if cur != base:
                raise CommitConflictError(
                    f"{root}: table advanced to snapshot {cur} since ref "
                    f"{ref!r} was staged on base {base} — nothing published")
            plan.append({"root": root, "ref": ref, "name": name,
                         "base": base, "sid": snap["snapshot_id"],
                         "snap": snap})
        # the intent records each swap's validated CAS base: recovery must
        # NOT roll a table forward whose pointer moved past that base
        # after a crash (that would roll acknowledged commits BACK)
        _fsync_json(intent_path, {"swaps": [
            {"root": p["root"], "ref": p["ref"], "name": p["name"],
             "base": p["base"], "sid": p["sid"]}
            for p in plan]})
        fds = dict(held)
        swapping = False
        try:
            for p in plan:
                _fence(p["root"], fds[p["root"]])
                swapping = True
                _complete_swap(p["root"], p["ref"], p["name"])
        except BaseException:
            # nothing published yet: the intent would only wedge every
            # later publish on this coordinator — drop it. Once a swap has
            # begun, it stays for recover_txn to roll forward.
            if not swapping:
                os.unlink(intent_path)
            raise
        os.unlink(intent_path)
        return {p["root"]: p["snap"] for p in plan}
    finally:
        for root, fd in held:
            _release_commit_lock(root, fd)


def _complete_swap(root: str, ref: str, name: str) -> None:
    """One table's publish step, idempotent (re-runnable by recovery)."""
    _swap_pointer(root, name, CURRENT)
    try:
        os.unlink(os.path.join(meta_dir(root), _ref_name(ref)))
    except OSError:
        pass


def recover_txn(roots: "list[str]") -> bool:
    """Roll FORWARD a crashed multi-table publish: if the coordinator
    (smallest root) holds an intent file, complete every swap it names
    and remove it. Idempotent; False when there is nothing to recover.
    Call with the same table set that was being published."""
    if not roots:
        return False
    coord = min(roots)
    intent_path = os.path.join(meta_dir(coord), TXN_INTENT)
    if not os.path.exists(intent_path):
        return False
    held: list[tuple[str, int]] = []
    try:
        for root in sorted(set(roots)):
            held.append((root, _acquire_commit_lock(root)))
        if not os.path.exists(intent_path):
            return False  # another recoverer finished while we waited
        with open(intent_path) as f:
            intent = json.load(f)
        # re-validate each swap's CAS base before completing it: a table
        # whose pointer advanced past the base after the crash (its stale
        # lock was broken and new commits landed) must NOT be re-pointed
        # at the staged snapshot — that would erase acknowledged commits.
        diverged = []
        for s in intent["swaps"]:
            cur = current_snapshot_id(s["root"])
            base, sid = s.get("base"), s.get("sid")
            if base is not None and cur not in (base, sid):
                diverged.append(f"{s['root']} (now at {cur}, staged "
                                f"{sid} on base {base})")
        if diverged:
            raise CommitConflictError(
                "cannot roll the crashed publish forward — these tables "
                "advanced past the intent's validated base: "
                + "; ".join(diverged)
                + ". Resolve by restaging (drop_ref the stale refs and "
                "remove the intent file by hand).")
        for s in intent["swaps"]:
            _complete_swap(s["root"], s["ref"], s["name"])
        os.unlink(intent_path)
        return True
    finally:
        for root, fd in held:
            _release_commit_lock(root, fd)


# -- tags: named immutable snapshot pointers (Iceberg tags analog) ----------

def _tag_path(root: str, name: str) -> str:
    if not name or "/" in name or os.sep in name or name.startswith("_"):
        raise ValueError(f"bad tag name {name!r}")
    return os.path.join(meta_dir(root), f"_tag-{name}")


def write_tag(root: str, name: str, snapshot_id: int,
              replace: bool = False) -> None:
    """Point a named tag at a snapshot (atomic). Tags are read-only
    bookmarks: time-travel reads resolve them, and ``expire_snapshots``
    keeps tagged snapshots alive however old — the audit/repro pin."""
    path = _tag_path(root, name)
    if not replace and os.path.exists(path):
        raise ValueError(f"tag {name!r} exists (pass replace=True)")
    # validate the target exists before pointing at it
    read_snapshot(root, snapshot_id)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(int(snapshot_id)))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def read_tag_id(root: str, name: str) -> int:
    path = _tag_path(root, name)
    if not os.path.exists(path):
        raise ValueError(f"no tag {name!r}")
    with open(path) as f:
        return int(f.read().strip())


def list_tags(root: str) -> dict[str, int]:
    d = meta_dir(root)
    out: dict[str, int] = {}
    if os.path.isdir(d):
        for n in sorted(os.listdir(d)):
            if n.startswith("_tag-") and not n.endswith(".tmp"):
                with open(os.path.join(d, n)) as f:
                    out[n[len("_tag-"):]] = int(f.read().strip())
    return out


def list_refs(root: str) -> dict[str, int]:
    """Live named refs (staged WAP / transaction branches):
    name -> HEAD snapshot id. Pointer files that dangle (their snapshot
    JSON was removed out-of-band) still report their recorded id so
    callers can detect the inconsistency rather than skip it."""
    d = meta_dir(root)
    out: dict[str, int] = {}
    if os.path.isdir(d):
        for n in sorted(os.listdir(d)):
            if n.startswith("_ref-") and not n.endswith(".tmp"):
                with open(os.path.join(d, n)) as f:
                    name = f.read().strip()
                sid = name.removeprefix("snap-").removesuffix(".json")
                if sid.isdigit():
                    out[n[len("_ref-"):]] = int(sid)
    return out


def ref_chain_ids(root: str, head_id: int) -> set[int]:
    """Snapshot ids a staged chain holds alive: the HEAD and every parent
    back to (and including) its branch base — the CAS basis publish_ref
    validates against. Stops at missing files / id 0, so a partially
    damaged chain still pins what remains."""
    ids: set[int] = set()
    sid = head_id
    while sid and sid not in ids:
        ids.add(sid)
        path = snap_path(root, sid)
        if not os.path.exists(path):
            break
        snap = read_snapshot_file(path)
        base = snap.get("branch_base", snap["parent_id"])
        if snap["parent_id"] == base:
            if base:
                ids.add(base)
            break
        sid = snap["parent_id"]
    return ids


def drop_tag(root: str, name: str) -> bool:
    path = _tag_path(root, name)
    try:
        os.unlink(path)
        return True
    except OSError:
        return False
