"""Driver-side scan planning for snapshot reads — Iceberg's
``planFiles``/``FileScanTask`` split.

Every reader of a snapshot's data files plans here and only executes the
tasks: ``CdcTable.read`` (Spark), the ``cdctable`` DataSource (Arrow,
batch and stream) and ``CdcTable.export_file_list``. The planner owns, once
each, the rules those readers share:

- the partition filter and the manifest prune rule (``plan_scan``);
- field-id column mapping: file columns resolve to CURRENT names by id,
  so renames and drops are metadata-only (``column_map``);
- the layer ordinal of a data file (``LAYER_PATTERN``, ``layer_of``);
- the merge-on-read decision: clean files scan as-is, a delta-carrying
  partition reconciles base + deltas by row LWW or by the patch fold.

It also holds the one parquet footer min/max reader (``footer_minmax``),
used by commit stats, ``verify_table``, log retention and the log tail's
file selection (``cdc.io.log``).
"""

from __future__ import annotations

import re
from collections.abc import Mapping, Sequence
from datetime import date, datetime, timezone
from typing import NamedTuple

from cdc.meta.store import ddl_names

#: layer ordinal = the committing snapshot id baked into the staging dir
#: name (``data/snap-<id>-<token>/``). The greedy ``.*`` anchors to the
#: LAST data/snap segment: a table ROOT containing 'data/snap-N' must not
#: shadow the real layer id (commit order drives equal-lsn
#: tombstone-vs-update resolution). Spark applies it to
#: ``input_file_name()`` at scan time; ``layer_of`` to manifest paths.
LAYER_PATTERN = r".*/data/snap-(\d+)[^/]*/"


class ScanTask(NamedTuple):
    """One unit of a snapshot read. ``reconcile``:

    - ``'none'`` — one clean file, scanned as-is;
    - ``'row'`` — a delta-carrying partition's base + delta files; the
      highest ``(_lsn, _layer)`` per key wins;
    - ``'patch'`` — the same with patch-image deltas, folded per column
      in commit order (``merge_patches`` semantics).

    The partition function is a pure function of the key, so a key in a
    clean partition has no delta rows elsewhere: only delta-carrying
    partitions pay the reconcile."""
    part: int
    files: list
    reconcile: str


def stat_norm(v):
    """Canonicalize a min/max stat for the JSON manifest: timestamps to
    naive-UTC ISO strings ('T' separator — what comparisons key on),
    numbers and strings as-is."""
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    return v


def _prune_bound(v):
    """Canonicalize a user prune bound the same way stats were stored:
    datetimes (or ISO strings that parse as one) to naive-UTC isoformat."""
    if isinstance(v, (datetime, date)):
        return stat_norm(v)
    if isinstance(v, str):
        try:
            return stat_norm(datetime.fromisoformat(v))
        except ValueError:
            return v
    return v


def is_patch(entry: dict) -> bool:
    """A patch-image delta file (``commit_delta(delta_image='patch')``)."""
    return entry.get("kind") == "delta" and entry.get("image", "row") == "patch"


def _keep(entry: dict, bounds: Mapping[str, tuple]) -> bool:
    """The prune rule, SUPERSET semantics: drop a file only when its
    recorded range provably misses ``[lo, hi]`` (None = open bound). The
    manifest's ``_lsn`` bounds and the writer's ``stats`` both count;
    a file without stats for a column (or an incomparable bound) is
    kept."""
    for col, (lo, hi) in bounds.items():
        if col == "_lsn":
            st = (entry["lsn_min"], entry["lsn_max"])
            if st[0] < 0:
                continue    # empty file: no lsn bounds recorded
        else:
            st = (entry.get("stats") or {}).get(col)
            if st is None:
                continue
        try:
            if ((hi is not None and st[0] > hi)
                    or (lo is not None and st[1] < lo)):
                return False
        except TypeError:
            continue
    return True


def plan_scan(snap: dict, parts: Sequence[int] | None = None,
              prune: Mapping[str, Sequence] | None = None) -> list[ScanTask]:
    """The scan of snapshot ``snap``: one task per clean file, then one
    per delta-carrying partition (ascending part).

    ``parts`` keeps only those partitions. ``prune`` — ``{col: (lo, hi)}``
    — drops clean files by the prune rule (``_keep``). A delta-carrying
    partition never prunes: a skipped delta winner would resurrect a
    stale base row (compaction folds deltas, restoring skipping)."""
    files = snap["files"]
    if parts is not None:
        wanted = {int(p) for p in parts}
        files = [f for f in files if int(f["part"]) in wanted]
    bounds = {c: (_prune_bound(lo), _prune_bound(hi))
              for c, (lo, hi) in (prune or {}).items()}
    dirty: dict[int, list] = {int(f["part"]): [] for f in files
                              if f.get("kind") == "delta"}
    tasks = []
    for f in files:
        p = int(f["part"])
        if p in dirty:
            dirty[p].append(f)
        elif _keep(f, bounds):
            tasks.append(ScanTask(p, [f], "none"))
    # row- and patch-image deltas never mix in one uncompacted snapshot
    # (commit_delta refuses), so a part's deltas share one image
    tasks += [ScanTask(p, fs, "patch" if any(map(is_patch, fs)) else "row")
              for p, fs in sorted(dirty.items())]
    return tasks


def column_map(column_ids: Mapping[str, int],
               entry: dict) -> list[tuple[str, str]]:
    """(file column, current name) pairs of one data file, resolved BY
    FIELD ID: ``store.new_snapshot`` stamps every written file's ``ids``,
    ``column_ids`` maps the reader's current names to ids. A renamed
    column keeps its id; a dropped id projects away; a re-added name has
    a fresh id, so old data never resurrects under it."""
    id_to_cur = {i: n for n, i in column_ids.items()}
    return [(n, id_to_cur[i])
            for n, i in zip(ddl_names(entry["columns"]), entry["ids"])
            if i in id_to_cur]


def layer_of(entry: dict) -> int:
    """The layer ordinal (committing snapshot id) of a manifest entry."""
    m = re.match(LAYER_PATTERN, "/" + entry["path"])
    return int(m.group(1)) if m else 0


def footer_minmax(meta, col: str) -> tuple:
    """Global ``(min, max)`` of top-level column ``col`` over every row
    group of a parquet footer (``pyarrow.parquet.FileMetaData``);
    ``(None, None)`` when the column is absent, nested or has no stats.
    Parquet keeps statistics per LEAF column, so the column is located
    by leaf path, never by field position: a multi-leaf column (struct,
    map) ahead of it would shift positions onto the wrong leaf."""
    paths = [meta.schema.column(i).path for i in range(meta.num_columns)]
    if col not in paths:
        return None, None
    idx = paths.index(col)
    lo = hi = None
    for rg in range(meta.num_row_groups):
        st = meta.row_group(rg).column(idx).statistics
        if st is not None and st.has_min_max:
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
    return lo, hi
