"""ALTER TABLE: rename / drop / add / widen columns as METADATA-ONLY
commits (Iceberg column-mapping semantics via field ids).

Every data file records the field ids of its columns at write time
(``store.new_snapshot``); the read path resolves file columns to current
names BY ID (``CdcTable.read``). So:

- ``rename_column`` keeps the id under a new name — every existing file
  serves the renamed column with zero rewrite;
- ``drop_column`` removes the id — existing files' bytes stay (time
  travel to pre-drop snapshots still sees them) but current reads
  project the column away;
- re-``add_column`` with a dropped name mints a FRESH id — old data
  never resurrects under the new column (the classic correctness trap
  of name-based mapping);
- ``widen_column`` changes the declared type in place (same id); files
  written under the narrower type cast up on read — the same lattice the
  write path uses (int->long, float->double, decimal scale up).

Key columns and system columns (``_``-prefixed) are not alterable: the
partition function and merge machinery are keyed on their names.

All four are ordinary CAS-guarded commits (operation='alter'): they
appear in the ledger/history, roll back with ``maintenance.rollback``
(which restores the target snapshot's ``column_ids``), and cost O(1)
data I/O — the parent's files are carried by reference, so even the
manifest groups are reused byte-identical.
"""

from __future__ import annotations

from datetime import datetime, timezone

from cdc.meta import store
from cdc.table.table import CdcTable

_WIDEN = {
    "int": {"bigint", "long", "double"},
    "integer": {"bigint", "long", "double"},
    "float": {"double"},
    "smallint": {"int", "integer", "bigint", "long", "double"},
    "tinyint": {"smallint", "int", "integer", "bigint", "long", "double"},
}


def _ddl_fields(ddl: str) -> list[tuple[str, str]]:
    """(name, type) pairs of a flat DDL string, depth-aware."""
    fields, depth, buf = [], 0, []
    for ch in ddl + ",":
        if ch == "," and depth == 0:
            part = "".join(buf).strip()
            buf = []
            if part:
                name, _, typ = part.partition(" ")
                fields.append((name, typ.strip()))
        else:
            depth += ch in "(<"
            depth -= ch in ")>"
            buf.append(ch)
    return fields


def _guard(table: CdcTable, parent: dict | None, col: str) -> list[tuple[str, str]]:
    if parent is None:
        raise ValueError("cannot alter an empty table — commit first")
    if col in table.key_cols:
        raise ValueError(f"{col!r} is a key column — the partition function "
                         f"and merge are keyed on it; not alterable")
    if col.startswith("_"):
        raise ValueError(f"{col!r} is a system column; not alterable")
    return _ddl_fields(parent["schema_ddl"])


def _commit_alter(table: CdcTable, parent: dict,
                  fields: list[tuple[str, str]],
                  column_ids: dict[str, int], what: str) -> dict:
    sid = store.next_snapshot_id(table.root)
    snap = store.new_snapshot(
        parent, batch_key=f"alter-{sid:08d}-{what}",
        lsn_high=parent["lsn_high"],
        files=[{**f, "origin": "existing"} for f in parent["files"]],
        schema_ddl=", ".join(f"{n} {t}" for n, t in fields),
        operation="alter",
        committed_ts=datetime.now(timezone.utc).isoformat(),
        snapshot_id=sid,
        column_ids=column_ids)
    snap["table_config"] = table.table_config()
    store.write_snapshot(table.root, snap,
                         expected_parent=parent["snapshot_id"])
    return snap


def rename_column(table: CdcTable, old: str, new: str) -> dict:
    """Rename ``old`` to ``new`` keeping its field id — metadata-only."""
    parent = table.current_snapshot()
    fields = _guard(table, parent, old)
    names = [n for n, _ in fields]
    if old not in names:
        raise ValueError(f"no column {old!r} (have {names})")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    if new.startswith("_") or not new.isidentifier():
        raise ValueError(f"bad column name {new!r}")
    ids = dict(parent["column_ids"])
    ids[new] = ids.pop(old)
    out = [(new if n == old else n, t) for n, t in fields]
    return _commit_alter(table, parent, out, ids, f"rename-{old}-{new}")


def drop_column(table: CdcTable, col: str) -> dict:
    """Drop ``col`` — metadata-only; bytes stay for time travel."""
    parent = table.current_snapshot()
    fields = _guard(table, parent, col)
    names = [n for n, _ in fields]
    if col not in names:
        raise ValueError(f"no column {col!r} (have {names})")
    ids = dict(parent["column_ids"])
    ids.pop(col, None)
    out = [(n, t) for n, t in fields if n != col]
    return _commit_alter(table, parent, out, ids, f"drop-{col}")


def add_column(table: CdcTable, col: str, col_type: str) -> dict:
    """Add ``col`` of ``col_type`` — reads NULL until a commit writes it.
    A re-added name gets a FRESH field id: dropped data never returns."""
    parent = table.current_snapshot()
    fields = _guard(table, parent, col)
    names = [n for n, _ in fields]
    if col in names:
        raise ValueError(f"column {col!r} already exists")
    if col.startswith("_") or not col.isidentifier():
        raise ValueError(f"bad column name {col!r}")
    ids = dict(parent["column_ids"])
    ids[col] = max(ids.values(), default=0) + 1
    # system columns stay last-ish by convention, but order is cosmetic —
    # resolution is by name/id everywhere
    out = fields + [(col, col_type.strip().lower())]
    return _commit_alter(table, parent, out, ids, f"add-{col}")


def widen_column(table: CdcTable, col: str, new_type: str) -> dict:
    """Widen ``col`` to ``new_type`` in place (same field id). Only
    lossless widenings are allowed; files written under the narrower
    type cast up on read."""
    parent = table.current_snapshot()
    fields = _guard(table, parent, col)
    cur = dict(fields).get(col)
    if cur is None:
        raise ValueError(f"no column {col!r}")
    new_type = new_type.strip().lower()
    ok = (new_type in _WIDEN.get(cur, set())
          or (cur.startswith("decimal") and new_type.startswith("decimal")))
    if not ok:
        raise ValueError(f"cannot widen {col!r}: {cur} -> {new_type}")
    ids = dict(parent["column_ids"])
    out = [(n, new_type if n == col else t) for n, t in fields]
    return _commit_alter(table, parent, out, ids, f"widen-{col}")


# -- table properties + CHECK constraints -----------------------------------

def set_property(table: CdcTable, key: str, value: str) -> dict:
    """Set a table property as a metadata-only commit. Properties carry
    forward through every subsequent commit; ``check.<name>`` properties
    are CHECK CONSTRAINTS — ``apply_batch`` evaluates each as a SQL
    predicate over the batch's winner rows (op != 'D') in one aggregate
    pass and REFUSES the commit (``quality.ExpectationError``) if any row
    violates — the Delta ``ALTER TABLE ADD CONSTRAINT`` analog. Applies
    to every write that routes through apply_batch: replay, streaming
    epochs, INSERT/UPDATE via SQL or mutate."""
    parent = table.current_snapshot()
    if parent is None:
        raise ValueError("cannot alter an empty table — commit first")
    props = dict(parent.get("properties") or {})
    props[str(key)] = str(value)
    return _props_commit(table, parent, props, f"setprop-{key}")


def unset_property(table: CdcTable, key: str) -> dict:
    parent = table.current_snapshot()
    if parent is None:
        raise ValueError("cannot alter an empty table — commit first")
    props = dict(parent.get("properties") or {})
    props.pop(str(key), None)
    return _props_commit(table, parent, props, f"unsetprop-{key}")


def set_check(table: CdcTable, name: str, predicate_sql: str) -> dict:
    """Sugar: ``set_property(table, 'check.<name>', predicate)``."""
    return set_property(table, f"check.{name}", predicate_sql)


def drop_check(table: CdcTable, name: str) -> dict:
    return unset_property(table, f"check.{name}")


def _props_commit(table: CdcTable, parent: dict,
                  props: dict[str, str], what: str) -> dict:
    sid = store.next_snapshot_id(table.root)
    snap = store.new_snapshot(
        parent, batch_key=f"alter-{sid:08d}-{what}",
        lsn_high=parent["lsn_high"],
        files=[{**f, "origin": "existing"} for f in parent["files"]],
        schema_ddl=parent["schema_ddl"],
        operation="alter",
        committed_ts=datetime.now(timezone.utc).isoformat(),
        snapshot_id=sid,
        column_ids=parent.get("column_ids"),
        properties=props)
    if not props:
        snap.pop("properties", None)   # explicit clear, not inherit
        snap["properties"] = {}
    snap["table_config"] = table.table_config()
    store.write_snapshot(table.root, snap,
                         expected_parent=parent["snapshot_id"])
    return snap
