"""The Iceberg-style transactional table: S5 snapshot reads (+P3 manifest
pruning), S6 transactional MERGE commit, O2 sorted files, T7 batch ledger.

The table's physical layout is hash-partitioned by a pure function of the
key: ``repo_hash`` (part = pmod(xxhash64(repo), P) — repo-prunable reads)
or ``key_hash`` (part = pmod(hash(repo, path), P) == Spark's own
HashPartitioning id on the key columns, letting commits reuse the upstream
LWW/merge clustering and skip the write repartition). Either way (a) a
batch touches only the partitions its keys hash to, (b) merge joins
co-partition, and (c) only touched partitions are rewritten per commit
(bounds write amplification at 10^10-event scale, SURVEY.md §4).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Mapping, Sequence
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc import merge as M
from cdc.meta import store
from cdc.table import scan

PART_COL = "part"


def part_expr(repo_col: str, n_partitions: int):
    return F.pmod(F.xxhash64(F.col(repo_col)), F.lit(n_partitions)).cast("int")


def key_part_expr(key_cols: Sequence[str], n_partitions: int):
    """Partition function of the ``key_hash`` layout: Murmur3 of the FULL
    key, mod P — deliberately identical to Spark's own HashPartitioning id
    (``repartition(n, *key_cols)`` task i holds exactly the rows with
    ``pmod(hash(keys), n) == i``; verified by
    tests/test_plans.py::test_key_hash_alignment). Because every LWW /
    dedup / merge stage already clusters its output by the key columns,
    this layout lets the committer write WITHOUT its own repartition — one
    full wide shuffle per commit instead of two."""
    return F.pmod(F.hash(*[F.col(c) for c in key_cols]), F.lit(n_partitions)).cast("int")


_ZBITS = 16  # per-column z-order resolution (bucket count = 2^16)


def zvalue_expr(df: DataFrame, cols: Sequence[str]):
    """Z-order curve value over numeric columns, as ONE codegen column
    expression: each column is equi-width bucketed into 2^16 cells over
    its [min, max] (one narrow agg pass collects the bounds), and the
    bucket bits are interleaved — points close in EVERY dimension land
    close on the curve, so range-partitioning by the z-value gives files
    whose min/max are tight in ALL the clustered columns at once (the
    multi-column data-skipping property lexicographic sort lacks for the
    non-leading columns).

    Equi-width is the deliberate trade at this layer: O(1) per row and
    fully JVM-side. Heavily skewed columns waste cells; if that bites,
    pre-map the column through its quantile rank and z-order the rank."""
    if len(cols) < 2:
        raise ValueError("z-order needs >= 2 columns (one column is a sort)")
    for c in cols:
        dt = df.schema[c].dataType
        if not isinstance(dt, (T.NumericType, T.TimestampType, T.DateType,
                               T.BooleanType)):
            raise ValueError(
                f"z-order column {c!r} is {dt.simpleString()} — only "
                f"numeric/timestamp/date columns interleave; map strings "
                f"through a hash or rank first, or use lexicographic "
                f"cluster_by")
    bits = min(_ZBITS, 63 // len(cols))
    n = 1 << bits
    bounds = df.agg(*[f for c in cols
                      for f in (F.min(F.col(c).cast("double")).alias(f"_lo_{c}"),
                                F.max(F.col(c).cast("double")).alias(f"_hi_{c}"))]
                    ).collect()[0]
    z = F.lit(0).cast("long")
    for k, c in enumerate(cols):
        lo, hi = bounds[f"_lo_{c}"], bounds[f"_hi_{c}"]
        if lo is None or hi is None or hi <= lo:
            continue  # constant/all-null column contributes nothing
        b = F.width_bucket(F.col(c).cast("double"), F.lit(float(lo)),
                           F.lit(float(hi)), F.lit(n)) - 1
        b = F.coalesce(F.least(F.greatest(b, F.lit(0)),
                               F.lit(n - 1)), F.lit(0)).cast("long")
        for j in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(b, j).bitwiseAND(F.lit(1)),
                            j * len(cols) + k))
    return z


def schema_ddl(schema: T.StructType, drop: Sequence[str] = ()) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields if f.name not in drop)


def _align_to_union(df: DataFrame, parent_ddl: str) -> DataFrame:
    """Project ``df`` onto the union of the parent schema and its own:
    parent columns first (typed NULL where ``df`` lacks one, ``df``'s own
    column — possibly wider-typed — where it has it), then ``df``-only
    columns. The recorded snapshot schema therefore only ever GROWS."""
    parent = T.StructType.fromDDL(parent_ddl)
    have = set(df.columns)
    cols = [(F.col(f.name) if f.name in have
             else F.lit(None).cast(f.dataType)).alias(f.name)
            for f in parent.fields]
    parent_names = set(parent.fieldNames())
    cols += [F.col(c) for c in df.columns if c not in parent_names]
    return df.select(*cols)


#: point-read probes up to this many keys filter by SQL literals (for
#: string and int/bigint keys, with these literal suffixes); others semi-join.
#: 500 is the measured crossover for two-column probes (4-core host): the
#: literal costs ~1.3x the semi-join at 1k values and ~4x at 10k
_LITERAL_PROBE_CAP = 500
_SQL_LITERAL = {"string": None, "bigint": "L", "int": ""}


def _key_predicate(keys: Sequence[tuple], fields: Sequence[T.StructField]):
    """Membership of the ``fields`` columns in ``keys`` as ONE SQL literal
    predicate, so building it is one JVM call whatever the key count: an
    IN per column, which parquet takes as a pushed filter, plus the exact
    tuple IN for several columns."""
    def lit(v, t: str) -> str:
        if t != "string":
            return f"{int(v)}{_SQL_LITERAL[t]}"
        # hex-encoded when quoting, escapes or ${} substitution could bite
        return (f"CAST(X'{v.encode().hex()}' AS STRING)"
                if any(c in v for c in "'\\$") else f"'{v}'")

    if not keys:
        return F.lit(False)
    types = [f.dataType.simpleString() for f in fields]
    lits = [[lit(v, t) for v, t in zip(k, types)] for k in keys]
    names = [f"`{f.name}`" for f in fields]
    preds = [f"{n} IN ({', '.join(dict.fromkeys(r[i] for r in lits))})"
             for i, n in enumerate(names)]
    if len(fields) > 1:
        tuples = ", ".join("(" + ", ".join(r) + ")" for r in lits)
        preds.append(f"({', '.join(names)}) IN ({tuples})")
    return F.expr(" AND ".join(preds))


class CdcTable:
    """Single-writer transactional table over Parquet + JSON snapshots."""

    def __init__(self, root: str, key_cols: Sequence[str] = ("repo", "path"),
                 n_partitions: int = 16, files_per_partition: int = 1,
                 layout: str = "repo_hash", stats_cols: Sequence[str] = (),
                 part_cols: Sequence[str] | None = None):
        """``layout``:
        - 'repo_hash' — part = pmod(xxhash64(repo), P): partition pruning
          by repo; the committer repartitions on (part, file_group).
        - 'key_hash'  — part = pmod(hash(repo, path), P) == Spark's own
          hash-partition id on the key columns: the committer trusts the
          incoming clustering (every LWW/merge output is hash-clustered by
          key) and skips its repartition — one wide shuffle per commit
          total. The trade: partition pruning by repo alone is lost (the
          merge's touched-partition pruning, keyed on the full key, is
          unaffected).

        ``part_cols`` — OPTIONAL partition-column override (default: the
        key columns). Lays the table out by the columns READS probe
        instead of the columns writes key on — e.g. a continuous-dedup
        band table keyed (doc_id, band) but partitioned by
        (band, bucket), so an ingest probe prunes to the batch's bucket
        partitions while LWW identity stays per (doc_id, band). CONTRACT:
        every part column must be (a) present in every committed frame
        and (b) IMMUTABLE per key — two versions of one key landing in
        different partitions would make the merge's touched-partition
        read miss the old row and LWW would silently keep both. When the
        override differs from the key columns the committer adds its own
        repartition on the partition id (upstream LWW clustering is by
        key, which no longer equals the partition function).

        Part-override tables have a commit-time guard: it refuses a batch
        that carries one key under two different partition values, or a
        live row with a NULL part column (folded into commit_merge's
        existing pre-aggregate; one narrow agg job in commit_delta). The
        CROSS-commit form of the violation — a live key already standing
        in a partition this batch doesn't touch — is undetectable at
        commit time by construction (the partition function cannot be
        inverted to find the old row), so the sanctioned way to MOVE a
        key is retire-then-insert (a tombstone carrying the OLD part
        values, then the new row: see cdc.stream.dedup.apply_doc_changes
        / cdc.ann.IvfIndex), and
        ``maintenance.verify_table(check_data=True)`` is the offline
        detector for tables corrupted before the guard existed."""
        self.root = root
        self.key_cols = tuple(key_cols)
        self.part_cols = tuple(part_cols) if part_cols else tuple(key_cols)
        self.n_partitions = n_partitions
        self.files_per_partition = files_per_partition
        if layout not in ("repo_hash", "key_hash"):
            raise ValueError(f"unknown layout {layout!r}")
        self.layout = layout
        # extra manifest min/max stats per data file (Iceberg data-skipping
        # analog): a write-time preference, NOT layout identity — readers
        # opened without it just see (and prune on) whatever the writer
        # recorded. Columns absent from a frame are skipped silently.
        self.stats_cols = tuple(stats_cols)
        # writer-unique staging suffix: concurrent writers (or a CAS-retry
        # racing another committer) can hold the SAME next snapshot id —
        # without this, both would stage into one deterministic dir and
        # mode=overwrite would delete the winner's files. Within ONE handle
        # the suffix is stable, so a crash-retry still overwrites its own
        # staging rather than duplicating; a dead writer's dir is
        # unreferenced and reclaimed by maintenance.vacuum_orphans.
        self.writer_token = uuid.uuid4().hex[:8]

    def part_of(self):
        """This table's partition Column (a pure function of the
        partition columns — the key columns unless ``part_cols``
        overrides them)."""
        if self.layout == "key_hash":
            return key_part_expr(self.part_cols, self.n_partitions)
        return part_expr(self.part_cols[0], self.n_partitions)

    def _part_beyond_key(self) -> list[str]:
        return [c for c in self.part_cols if c not in self.key_cols]

    def _part_guard_aggs(self) -> list:
        """Guard aggregates folded into a commit's pre-pass (part-override
        tables): live rows must carry NO NULL part column and at most one
        partition value per key IN THE BATCH (see __init__ docstring for
        why the cross-commit form is verify_table's job)."""
        live = F.col("op") != "D"
        key_s = F.when(live, F.struct(*[F.col(c) for c in self.key_cols]))
        # compare the part-column VALUES, not the derived partition id:
        # two values that collide mod n_partitions are still a contract
        # violation (the batch would emit two live rows for one key), and
        # the raised message promises value-level enforcement
        kp_s = F.when(live, F.struct(
            *[F.col(c) for c in self.key_cols],
            *[F.col(c) for c in self._part_beyond_key()]))
        nulls = [F.col(c).isNull() for c in self._part_beyond_key()]
        any_null = nulls[0]
        for n in nulls[1:]:
            any_null = any_null | n
        # EVERY row must bind the part columns — a D tombstone with a NULL
        # routing column would hash somewhere arbitrary and (under MOR,
        # where reads reconcile per partition) never meet the live row it
        # is meant to retire: the delete would be silently lost
        return [F.countDistinct(key_s).alias("_g_nk"),
                F.countDistinct(kp_s).alias("_g_nkp"),
                F.sum(any_null.cast("long")).alias("_g_null")]

    def _check_part_guard(self, row) -> None:
        if (row["_g_null"] or 0) > 0:
            raise ValueError(
                f"part_cols contract violation: {row['_g_null']} batch "
                f"rows carry a NULL partition column ({self.part_cols}) — "
                f"every committed row (tombstones included: they must "
                f"route to the live row's partition) must bind them")
        if row["_g_nkp"] > row["_g_nk"]:
            raise ValueError(
                "part_cols contract violation: the batch carries at least "
                "one key under two different partition values — partition "
                "columns are immutable per key; to MOVE a key, retire it "
                "first (a 'D' row carrying the OLD part values), then "
                "insert the new row in a later commit")

    # -- partition-spec persistence -------------------------------------------
    def table_config(self) -> dict:
        """The layout-defining spec, recorded in every snapshot (the
        Iceberg partition-spec analog): partition pruning, lookups, and
        the skip-repartition commit all assume the WRITER's spec, so a
        reader/writer opened with different parameters would silently
        mis-prune. ``files_per_partition`` rides along for ``open`` but is
        a write-sizing knob, not identity."""
        return {"key_cols": list(self.key_cols),
                "n_partitions": self.n_partitions,
                "layout": self.layout,
                "files_per_partition": self.files_per_partition,
                "part_cols": list(self.part_cols)}

    def _check_config(self, parent: dict | None) -> None:
        if parent is None:
            return
        cfg = parent["table_config"]
        ours = self.table_config()
        for k in ("key_cols", "n_partitions", "layout", "part_cols"):
            if cfg[k] != ours[k]:
                raise ValueError(
                    f"table at {self.root} was committed with {k}={cfg[k]!r}"
                    f" but this handle has {k}={ours[k]!r} — open it with "
                    f"CdcTable.open(root), or evolve the layout explicitly "
                    f"via maintenance.repartition")

    @classmethod
    def open(cls, root: str, **overrides) -> "CdcTable":
        """Open an existing table with the partition spec its snapshots
        record — the safe way to get a handle without repeating (and
        possibly mistyping) the creation parameters. ``overrides`` pass
        through non-identity knobs (e.g. ``stats_cols``)."""
        snap = store.read_current(root)
        if snap is None:
            raise ValueError(f"no table at {root}")
        cfg = snap["table_config"]
        return cls(root, key_cols=tuple(cfg["key_cols"]),
                   n_partitions=int(cfg["n_partitions"]),
                   layout=cfg["layout"],
                   files_per_partition=int(cfg["files_per_partition"]),
                   part_cols=tuple(cfg["part_cols"]),
                   **overrides)

    # -- metadata ------------------------------------------------------------
    def current_snapshot(self) -> dict | None:
        return store.read_current(self.root)

    def snapshots(self) -> list[dict]:
        return store.list_snapshots(self.root)

    def lsn_high(self) -> int:
        snap = self.current_snapshot()
        return snap["lsn_high"] if snap else -1

    def is_committed(self, batch_key: str) -> bool:
        snap = self.current_snapshot()
        return bool(snap) and str(batch_key) in snap["committed_batches"]

    # -- metadata tables (SURVEY.md §1.2 commits/manifest) --------------------
    def commits_df(self, spark: SparkSession) -> DataFrame:
        """The commits ledger as a DataFrame (S4): one row per snapshot."""
        rows = [(s["snapshot_id"], s["parent_id"], s["batch_key"],
                 s["lsn_high"], s["operation"], s["committed_ts"],
                 len(s["files"])) for s in self.snapshots()]
        return spark.createDataFrame(
            rows, "snapshot_id long, parent_id long, batch_key string, "
                  "lsn_high long, operation string, committed_ts string, "
                  "n_files int")

    def manifest_df(self, spark: SparkSession,
                    snapshot_id: int | None = None) -> DataFrame:
        """The file manifest as a DataFrame: one row per data file with the
        pruning stats (part, lsn bounds, rows)."""
        snap = (store.read_snapshot(self.root, snapshot_id)
                if snapshot_id is not None else self.current_snapshot())
        if snap is None:
            raise ValueError("empty table has no manifest")
        rows = [(snap["snapshot_id"], f["path"], int(f["part"]), int(f["rows"]),
                 int(f["lsn_min"]), int(f["lsn_max"]), f["origin"])
                for f in snap["files"]]
        return spark.createDataFrame(
            rows, "snapshot_id long, file_path string, part int, rows long, "
                  "lsn_min long, lsn_max long, origin string")

    def partitions_df(self, spark: SparkSession,
                      snapshot_id: int | None = None) -> DataFrame:
        """Per-partition layout summary (the Iceberg ``partitions``
        metadata table): file/row counts, lsn bounds, delta-layer flag —
        the compaction planner's input, as a queryable DataFrame.
        Driver-side over manifest metadata only; no data files touched."""
        snap = (store.read_snapshot(self.root, snapshot_id)
                if snapshot_id is not None else self.current_snapshot())
        if snap is None:
            raise ValueError("empty table has no partitions")
        agg: dict[int, list] = {}
        for f in snap["files"]:
            p = int(f["part"])
            a = agg.setdefault(p, [0, 0, None, None, 0])
            a[0] += 1
            a[1] += int(f["rows"])
            if int(f["lsn_min"]) >= 0:
                a[2] = (int(f["lsn_min"]) if a[2] is None
                        else min(a[2], int(f["lsn_min"])))
                a[3] = (int(f["lsn_max"]) if a[3] is None
                        else max(a[3], int(f["lsn_max"])))
            a[4] += f.get("kind") == "delta"
        rows = [(p, *a) for p, a in sorted(agg.items())]
        return spark.createDataFrame(
            rows, "part int, n_files int, rows long, lsn_min long, "
                  "lsn_max long, n_delta_files int")

    def export_file_list(self, snapshot_id: int | None = None) -> list[str]:
        """Absolute data-file paths of a snapshot — the Hive
        symlink-manifest / Delta manifest-export analog: hand the list to
        ANY parquet engine (DuckDB, Trino, pandas) for an
        engine-independent snapshot read with zero copies.

        External readers see raw files, so this refuses snapshots an
        external engine cannot interpret correctly: MOR delta layers
        (the reconcile needs a key shuffle) and files whose columns need
        field-id renames (written before an ALTER rename) — run
        ``maintenance.compact`` first; it folds deltas and rewrites under
        current names. Tombstones ARE exported: filter
        ``_deleted IS NOT TRUE`` on the external side (documented
        contract — deletes are data)."""
        snap = (store.read_snapshot(self.root, snapshot_id)
                if snapshot_id is not None else self.current_snapshot())
        if snap is None:
            raise ValueError("empty table has nothing to export")
        for task in scan.plan_scan(snap):
            if task.reconcile != "none":
                raise ValueError(
                    "snapshot has MOR delta layers — external engines "
                    "cannot reconcile them; compact first")
            f = task.files[0]
            for n, cur in scan.column_map(snap["column_ids"], f):
                if n != cur:
                    raise ValueError(
                        f"file {f['path']} predates a column rename "
                        f"({n!r} -> {cur!r}); external engines "
                        f"resolve by name — compact first")
        return [os.path.abspath(os.path.join(self.root, f["path"]))
                for f in snap["files"]]

    def refs_df(self, spark: SparkSession) -> DataFrame:
        """Named refs as a DataFrame: tags (immutable pins) and branches
        (staged WAP chains), with the snapshot each points at."""
        rows = [("tag", name, int(sid))
                for name, sid in sorted(store.list_tags(self.root).items())]
        meta = store.meta_dir(self.root)
        if os.path.isdir(meta):
            for n in sorted(os.listdir(meta)):
                if n.startswith("_ref-") and not n.endswith(".tmp"):
                    ref = store.read_ref(self.root, n[len("_ref-"):])
                    if ref is not None:
                        rows.append(("branch", n[len("_ref-"):],
                                     int(ref["snapshot_id"])))
        return spark.createDataFrame(
            rows, "kind string, name string, snapshot_id long")

    # -- read path (S5 + P3) ---------------------------------------------------
    def tag(self, name: str, snapshot_id: int | None = None,
            replace: bool = False) -> int:
        """Pin a snapshot under a named tag (default: the current one).
        Tagged snapshots survive ``expire_snapshots`` and resolve in
        ``read(tag=...)`` — the audit/repro bookmark."""
        sid = (snapshot_id if snapshot_id is not None
               else self.current_snapshot()["snapshot_id"])
        store.write_tag(self.root, name, sid, replace=replace)
        return sid

    def tags(self) -> dict[str, int]:
        return store.list_tags(self.root)

    @staticmethod
    def _ts_utc(v) -> datetime:
        """Normalize an ISO string or datetime to an aware-UTC datetime —
        timestamps must be COMPARED as instants, not strings (a non-UTC
        offset or 'Z' suffix orders wrong lexicographically)."""
        if isinstance(v, str):
            v = datetime.fromisoformat(v.replace("Z", "+00:00"))
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        return v.astimezone(timezone.utc)

    def _published_chain(self) -> list[dict]:
        """Snapshot dicts of the PUBLISHED lineage (the ``_current``
        pointer's parent chain, newest first; manifest resolution
        skipped past the head). Staged write-audit-publish snapshots are
        files on disk but NOT history until published — they must stay
        invisible to timestamp time travel."""
        out: list[dict] = []
        snap = store.read_current(self.root)
        while snap is not None:
            out.append(snap)
            pid = snap.get("parent_id")
            if pid is None:
                break
            try:
                snap = store.read_snapshot(self.root, pid, files=False)
            except (OSError, ValueError):
                break   # history expired past this point
        return out

    def _resolve_as_of(self, as_of) -> int:
        """TIMESTAMP AS OF resolution: the newest PUBLISHED snapshot whose
        ``committed_ts`` <= ``as_of`` (ISO string or datetime; naive
        datetimes are taken as UTC). Walks the ``_current`` parent chain
        driver-side — O(retained history) snapshot JSONs, no manifest
        resolution, no data read; staged (unpublished) WAP snapshots are
        never selected."""
        want = self._ts_utc(as_of)
        best = None
        for s in self._published_chain():
            if self._ts_utc(s["committed_ts"]) <= want and (
                    best is None or s["snapshot_id"] > best["snapshot_id"]):
                best = s
        if best is None:
            raise ValueError(
                f"no snapshot committed at or before {as_of!r} "
                f"(history may have been expired)")
        return best["snapshot_id"]

    def read(self, spark: SparkSession, parts: Sequence[int] | None = None,
             snapshot_id: int | None = None,
             include_deleted: bool = False,
             tag: str | None = None,
             as_of=None,
             prune: Mapping[str, tuple] | None = None) -> DataFrame | None:
        """Manifest-resolved read. ``parts`` prunes at the manifest level —
        Spark never sees files of untouched partitions. Files written under
        older schemas are read with their own recorded DDL, then
        unionByName(allowMissingColumns) + cast to the snapshot schema
        (U1 read-path schema evolution). Delete tombstones are filtered
        unless ``include_deleted`` (the merge path reads them so late
        lower-LSN updates lose to the delete). Time travel: exactly one
        of ``snapshot_id`` (VERSION AS OF), ``tag`` (named pin) or
        ``as_of`` (TIMESTAMP AS OF).

        ``prune`` — manifest-level data skipping: ``{col: (lo, hi)}``
        drops files whose recorded min/max range (``stats_cols`` at write
        time, or the manifest's ``_lsn`` bounds) can't intersect [lo, hi]
        (None = open bound). SUPERSET semantics: the caller still applies
        the exact predicate — prune only guarantees no matching row is
        lost. The planner (``scan.plan_scan``) keeps files without stats
        for a column and never prunes a delta-carrying partition."""
        if sum(x is not None for x in (snapshot_id, tag, as_of)) > 1:
            raise ValueError("pass only one of snapshot_id / tag / as_of")
        if as_of is not None:
            snapshot_id = self._resolve_as_of(as_of)
        if tag is not None:
            snapshot_id = store.read_tag_id(self.root, tag)
        snap = (store.read_snapshot(self.root, snapshot_id) if snapshot_id is not None
                else self.current_snapshot())
        if snap is None:
            return None
        return self._scan(spark, snap, parts, prune, include_deleted)

    def _scan(self, spark: SparkSession, snap: dict, parts=None, prune=None,
              include_deleted: bool = False, keep=None) -> DataFrame:
        """Plan and run a read of ``snap``. ``keep``, a key predicate,
        narrows each layer relation before the union and the reconcile:
        exact, as both reconcile rules work per key."""
        tasks = scan.plan_scan(snap, parts, prune)
        target = T.StructType.fromDDL(snap["schema_ddl"])
        has_patch = any(t.reconcile == "patch" for t in tasks)

        def assemble(fset: list, layered: bool) -> DataFrame:
            # one relation per (DDL, field ids, image) group; files are
            # read under their own recorded DDL, then resolve to CURRENT
            # names by field id (renames/drops are metadata-only)
            by_ddl: dict[tuple, tuple] = {}
            for f in fset:
                key = (f["columns"], tuple(f["ids"]), scan.is_patch(f))
                by_ddl.setdefault(key, (f, []))[1].append(
                    os.path.join(self.root, f["path"]))
            dfs = []
            for (ddl, _, is_patch), (f, paths) in sorted(by_ddl.items()):
                d = spark.read.schema(ddl).parquet(*paths)
                d = d.select(*[F.col(n).alias(cur) for n, cur in
                               scan.column_map(snap["column_ids"], f)])
                # below the input_file_name projection: a filter above
                # that nondeterministic column never reaches parquet
                if keep is not None:
                    d = d.filter(keep)
                if layered:
                    # computed at scan time: input_file_name is only valid
                    # inside the scan stage, before any shuffle
                    d = d.withColumn("_layer", F.regexp_extract(
                        F.input_file_name(), scan.LAYER_PATTERN,
                        1).cast("long"))
                    if has_patch:
                        d = d.withColumn("_is_patch", F.lit(is_patch))
                dfs.append(d)
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d, allowMissingColumns=True)
            # a column added by ALTER (no file carries it yet) reads as
            # typed NULL until a commit writes it
            cols = [(F.col(f.name) if f.name in out.columns
                     else F.lit(None)).cast(f.dataType).alias(f.name)
                    for f in target.fields]
            return out.select(*cols, *[c for c in ("_layer", "_is_patch")
                                       if c in out.columns])

        dirty = [f for t in tasks if t.reconcile != "none" for f in t.files]
        clean = [f for t in tasks if t.reconcile == "none" for f in t.files]
        if not tasks:
            df = spark.createDataFrame([], target)
        elif dirty:
            # merge-on-read reconcile, scoped to the DELTA-CARRYING
            # partitions only (scan.ScanTask): clean partitions stream
            # through scan-only while only the churned partitions pay the
            # reconcile shuffle. At 100 TB a table with one fresh delta
            # partition reconciles O(that partition), not O(table).
            # Plan-pinned by
            # tests/test_plans.py::test_mor_reconcile_scoped_to_delta_parts.
            df = assemble(dirty, layered=True)
            if has_patch:
                # patch-image reconcile: per key, fold base + patch layers
                # in COMMIT ORDER with merge_patches' exact semantics
                # (>= lsn guard, per-column coalesce, delete resets)
                from cdc.patch import patch_reconcile
                df = patch_reconcile(df, keys=self.key_cols)
            else:
                # several layers may carry the same key (base + delta
                # commits); highest _lsn wins — identical to the write-side
                # MERGE guard, paid at read time. Equal-_lsn ties across
                # layers (same-lsn tombstone vs update in different delta
                # commits) resolve deterministically in COMMIT ORDER via the
                # _layer ordinal, matching CoW's batch-wins (>=) semantics.
                from cdc.dedup import last_writer_wins
                df = last_writer_wins(df, keys=self.key_cols,
                                      order=("_lsn", "_layer"), via="maxby")
                df = df.drop("_layer")
            if clean:
                df = df.unionByName(assemble(clean, layered=False))
            # reconcile outputs keys-first; restore the snapshot order
            df = df.select(*[f.name for f in target.fields])
        else:
            df = assemble(clean, layered=False)
        if not include_deleted and "_deleted" in df.columns:
            df = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
        return df.withColumn(PART_COL, self.part_of())

    def lookup(self, spark: SparkSession, **key) -> DataFrame | None:
        """Point read of one key (``lookup(spark, repo='r1', path='a')``
        binds every key column): ``lookup_keys`` of a one-row probe."""
        extra = [c for c in key if c not in self.key_cols]
        missing = [c for c in self.key_cols if c not in key]
        if extra or missing:
            raise ValueError(f"lookup binds exactly the key columns "
                             f"{self.key_cols}; missing={missing}, "
                             f"extra={extra}")
        return self.lookup_keys(spark, spark.range(1).select(
            *[F.lit(v).alias(c) for c, v in key.items()]))

    def lookup_keys(self, spark: SparkSession, keys_df: DataFrame) -> DataFrame | None:
        """Point read of the rows matching ``keys_df``: the probe carries the
        columns the partition function reads (``part_cols``; ``repo_hash``:
        the first) and restricts on every key or part column it carries.
        ONE capped collect of the probe, cast to the snapshot's types
        (hash(int 5) != hash(long 5)), gives its distinct values per
        partition; the read prunes to those partitions and restricts every
        layer relation BELOW the MOR reconcile (exact: key columns are
        constant and part columns immutable per key) by a literal predicate
        up to ``_LITERAL_PROBE_CAP`` values, else by a broadcast left-semi
        join. None when the table is empty."""
        routed = (self.part_cols if self.layout == "key_hash"
                  else self.part_cols[:1])
        missing = [c for c in routed if c not in keys_df.columns]
        if missing:
            raise ValueError(
                f"table is partitioned by {self.part_cols}; the probe must "
                f"carry the partition columns, missing={missing}")
        snap = self.current_snapshot()
        if snap is None:
            return None
        target = T.StructType.fromDDL(snap["schema_ddl"])
        cols = [c for c in (*self.key_cols, *self._part_beyond_key())
                if c in keys_df.columns]
        probe = (keys_df.select(*[F.col(c).cast(target[c].dataType).alias(c)
                                  for c in cols])
                 .select(*cols, self.part_of().alias(PART_COL))
                 .dropna())
        # ONE action: each touched partition with its distinct probe values,
        # the shipped list capped (driver memory <= n_partitions x cap)
        rows = (probe.groupBy(PART_COL)
                .agg(F.collect_set(F.struct(*cols)).alias("k"))
                .select(PART_COL, F.size("k").alias("n"),
                        F.slice("k", 1, _LITERAL_PROBE_CAP + 1).alias("k"))
                .collect())
        parts = [r[PART_COL] for r in rows]
        fields = [target[c] for c in cols]
        if (sum(r["n"] for r in rows) <= _LITERAL_PROBE_CAP
                and all(f.dataType.simpleString() in _SQL_LITERAL
                        for f in fields)):
            keep = _key_predicate([tuple(k) for r in rows for k in r["k"]],
                                  fields)
        else:   # IN (subquery): a broadcast left-semi join per layer
            keep = F.struct(*cols).isin(F.broadcast(probe.select(*cols)))
        return self._scan(spark, snap, parts, keep=keep)

    # -- write path (S6) -------------------------------------------------------
    def _write_data(self, df: DataFrame, snapshot_id: int,
                    kind: str = "base",
                    cluster_by: Sequence[str] = (),
                    zorder: bool = False) -> tuple[list[dict], str]:
        """Stage data files for a snapshot; returns (manifest entries, ddl).

        Deterministic staging dir per snapshot id -> a retried commit
        overwrites rather than duplicates. One file per (part, file_group);
        rows sorted by key within files for read locality (O2).

        ``cluster_by`` — range-cluster files WITHIN each partition on the
        given columns (Z-order's 1-D special case, done the Spark-native
        way: repartitionByRange on (part, *cluster_by)): each partition's
        files then carry near-disjoint min/max ranges for those columns,
        so manifest stats pruning (``read(prune=)``) skips most files
        instead of none. Used by ``maintenance.compact(cluster_by=…)``;
        replaces the layout's own clustering for this write only (the
        partition column still routes rows, so reads are unaffected)."""
        rel_dir = f"data/snap-{snapshot_id:012d}-{self.writer_token}"
        out_dir = os.path.join(self.root, rel_dir)
        # INT64-micros timestamps (the Iceberg/Delta-mandated encoding):
        # Spark's INT96 default writes NO parquet min/max statistics, which
        # would silently disable both row-group skipping and manifest
        # stats_cols on timestamp columns. Session conf (no write option
        # exists) — set for the commit, restored after.
        sess_conf = df.sparkSession.conf
        ts_key = "spark.sql.parquet.outputTimestampType"
        old_ts_type = sess_conf.get(ts_key, None)
        sess_conf.set(ts_key, "TIMESTAMP_MICROS")
        try:
            return self._write_data_inner(df, rel_dir, out_dir, kind,
                                          cluster_by=cluster_by,
                                          zorder=zorder)
        finally:
            (sess_conf.set(ts_key, old_ts_type) if old_ts_type
             else sess_conf.unset(ts_key))

    def _write_data_inner(self, df: DataFrame, rel_dir: str, out_dir: str,
                          kind: str, cluster_by: Sequence[str] = (),
                          zorder: bool = False) -> tuple[list[dict], str]:
        # per-key-column parquet bloom filters: point lookups (``lookup``)
        # skip row groups whose sorted-key min/max straddles the probe but
        # whose bloom filter rules it out — cheap at write time, O(row
        # groups hit) instead of O(partition) at read time.
        bloom = {f"parquet.bloom.filter.enabled#{c}": "true"
                 for c in self.key_cols}
        # cap the per-column filter at 128 KiB/row-group (default 1 MiB):
        # a higher false-positive rate only costs a wasted row-group read
        # on some lookups, while write amplification is paid every commit
        bloom["parquet.bloom.filter.max.bytes"] = str(128 * 1024)
        if cluster_by:
            # range clustering: contiguous (part, cluster_by) ranges per
            # task -> near-disjoint per-file stats within each partition.
            # The range sampling job is the price of admission — paid at
            # compaction time, not per commit. Key sort within files stays
            # (lookups keep their row-group skipping); file-LEVEL stats
            # don't depend on in-file order.
            order = ([zvalue_expr(df, cluster_by)] if zorder
                     else [F.col(c) for c in cluster_by])
            width = self.n_partitions * self.files_per_partition
            (df.repartitionByRange(width, PART_COL, *order)
               .sortWithinPartitions(*self.key_cols)
               .write.mode("overwrite").options(**bloom)
               .partitionBy(PART_COL).parquet(out_dir))
        elif self.layout == "key_hash":
            # the upstream LWW/merge stages already hash-cluster rows by the
            # key columns, and part = pmod(hash(key), P) is a pure function
            # of that clustering whenever P divides the shuffle width — so
            # NO repartition here: each task holds (a few) whole part
            # values and partitionBy routes rows without moving them. One
            # wide shuffle per commit total. (An unclustered input frame is
            # still CORRECT — partitionBy splits per task — just writes
            # more, smaller files.) A part_cols OVERRIDE breaks that
            # alignment (clustering is by key, partition id is not), so it
            # pays an explicit repartition on the id to keep file counts
            # at one per touched partition.
            if self.part_cols != self.key_cols:
                df = df.repartition(self.n_partitions, PART_COL)
            (df.sortWithinPartitions(*self.key_cols)
               .write.mode("overwrite").options(**bloom)
               .partitionBy(PART_COL).parquet(out_dir))
        else:
            data = df.withColumn("_fg", F.pmod(F.xxhash64(F.col(self.key_cols[-1])),
                                               F.lit(self.files_per_partition)).cast("int"))
            (data.repartition(self.n_partitions * self.files_per_partition, PART_COL, "_fg")
                 .drop("_fg")
                 .sortWithinPartitions(*self.key_cols)
                 .write.mode("overwrite").options(**bloom)
                 .partitionBy(PART_COL).parquet(out_dir))

        # per-file row counts + lsn bounds straight from the parquet footers
        # (metadata-only reads, no second Spark job — parquet tracks column
        # min/max per row group anyway). Footer reads are I/O-bound and
        # independent, so they fan out on a thread pool: at 1000+ files per
        # commit the stats step is bounded by the slowest footer, not the
        # file count. (pyarrow releases the GIL during the read.)
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow.parquet as pq

        ddl = schema_ddl(df.schema, drop=(PART_COL,))
        data_names = {f.name for f in df.schema.fields if f.name != PART_COL}
        stat_names = [c for c in self.stats_cols if c in data_names]

        targets = []
        for dname in sorted(os.listdir(out_dir)):
            if not dname.startswith(f"{PART_COL}="):
                continue
            p = int(dname.split("=", 1)[1])
            pdir = os.path.join(out_dir, dname)
            for name in sorted(os.listdir(pdir)):
                if name.endswith(".parquet"):
                    targets.append((p, dname, name, os.path.join(pdir, name)))

        def footer_entry(t):
            p, dname, name, full = t
            meta = pq.ParquetFile(full).metadata
            lo, hi = scan.footer_minmax(meta, "_lsn")
            entry = {
                "path": f"{rel_dir}/{dname}/{name}",
                "part": p,
                "rows": int(meta.num_rows),
                "lsn_min": int(lo if lo is not None else -1),
                "lsn_max": int(hi if hi is not None else -1),
                "columns": ddl,
                "origin": "added",
                "kind": kind,
            }
            stats = {}
            for c in stat_names:
                clo, chi = scan.footer_minmax(meta, c)
                if clo is not None:
                    stats[c] = [scan.stat_norm(clo), scan.stat_norm(chi)]
            if stats:
                entry["stats"] = stats
            return entry

        with ThreadPoolExecutor(max_workers=min(16, max(1, len(targets)))) as ex:
            return list(ex.map(footer_entry, targets)), ddl

    def commit_delta(self, spark: SparkSession, batch_final: DataFrame,
                     batch_key: str, ref: str = store.CURRENT,
                     onto: dict | None = None,
                     delta_image: str = "row") -> dict:
        """Merge-on-read commit (the write-amplification answer at
        10^10-event scale): append ONLY the batch's winner rows (incl.
        tombstones) as a delta layer for the touched partitions — no state
        read, no partition rewrite. Readers reconcile layers by max _lsn
        per key (see ``read``); ``maintenance.compact`` folds deltas back
        into a single base layer.

        Cost model vs commit_merge (copy-on-write): CoW pays
        O(touched-partition size) per commit and reads are free; MOR pays
        O(batch size) per commit and reads pay the reconcile until the next
        compaction — the right trade for high-frequency small batches."""
        if delta_image not in ("row", "patch"):
            raise ValueError(f"unknown delta_image {delta_image!r}")
        batch_key = str(batch_key)
        parent = onto if onto is not None else self.current_snapshot()
        if parent and batch_key in parent["committed_batches"]:
            return parent
        self._check_config(parent)
        if parent:
            # row-image and patch-image delta layers reconcile by DIFFERENT
            # rules (row LWW vs per-column coalesce in commit order); mixing
            # them in one uncompacted snapshot is ambiguous — compact first
            other = {"row": "patch", "patch": "row"}[delta_image]
            if any(f.get("kind") == "delta"
                   and f.get("image", "row") == other
                   for f in parent["files"]):
                raise ValueError(
                    f"table has uncompacted {other}-image delta layers — "
                    f"compact before committing {delta_image}-image deltas")

        beyond = self._part_beyond_key()
        if beyond:
            # MOR commits have no other pre-write action to fold into —
            # one narrow agg over the (small) batch is the guard's price
            row = (batch_final.withColumn(PART_COL, self.part_of())
                   .agg(*self._part_guard_aggs()).collect()[0])
            self._check_part_guard(row)
        rows = M.batch_to_state_rows(batch_final, keys=self.key_cols,
                                     keep_on_delete=beyond)
        if parent is not None:
            # union-of-schemas evolution: the recorded snapshot schema must
            # keep every column the table already has (a delta batch whose
            # source dropped a column would otherwise narrow the TABLE
            # schema, orphaning the base layers' data for that column)
            # while adding any batch-only columns. Parent columns the batch
            # lacks ride as typed NULLs — row-replacement semantics,
            # matching merge_apply's CoW behaviour.
            rows = _align_to_union(rows, parent["schema_ddl"])
        rows = rows.withColumn(PART_COL, self.part_of())
        sid = store.next_snapshot_id(self.root)
        # one job total: the write; lsn bounds come back from the footers
        entries, ddl = self._write_data(rows, sid, kind="delta")
        if delta_image == "patch":
            for e in entries:
                e["image"] = "patch"   # readers pick the per-column fold
        lsn_maxes = [e["lsn_max"] for e in entries if e["lsn_max"] >= 0]
        # empty-first-commit fallback is -1 (the empty-table sentinel used by
        # lsn_high()): recording 0 would silently drop a genuine lsn=0 event
        # from a later resume's `lsn > lsn_high` predicate.
        batch_lsn_high = (max(lsn_maxes) if lsn_maxes
                          else (parent["lsn_high"] if parent else -1))

        carried = [{**f, "origin": "existing"} for f in (parent["files"] if parent else [])]
        snap = store.new_snapshot(
            parent, batch_key,
            lsn_high=max(batch_lsn_high, parent["lsn_high"] if parent else -1),
            files=entries + carried,
            schema_ddl=ddl,
            operation="delta",
            committed_ts=datetime.now(timezone.utc).isoformat(),
            snapshot_id=sid,
        )
        return self._finish_commit(snap, parent, ref, onto)

    def commit_merge(self, spark: SparkSession, batch_final: DataFrame,
                     batch_key: str, ref: str = store.CURRENT,
                     apply_fn=None, onto: dict | None = None,
                     plan: tuple[list[int], int | None] | None = None
                     ) -> dict:
        """MERGE-apply one LWW-collapsed batch and commit a new snapshot.

        Exactly-once: if ``batch_key`` is already in the ledger this is a
        no-op (duplicate epoch delivery / crash-after-commit replay).

        ``apply_fn(state, batch_final, keys=...)`` overrides the merge
        semantics (default ``merge.merge_apply`` full-row replacement);
        pass ``patch.merge_patches`` for partial-update feeds.

        ``onto`` — parent snapshot to merge against instead of the
        current one (branch staging: chaining commits under a named
        ``ref``). The CAS then guards the BRANCH BASE — the main-line
        snapshot the chain forked from — so any main-line advance
        invalidates the whole chain at publish/commit time.

        ``plan`` — ``(touched parts, batch max lsn)`` when the caller
        already holds them (``cdc.pipeline.apply_batch`` reads them off
        its batch profile): the merge then reads ``batch_final`` once.
        Without it, or on a part-override table (whose guard aggregate
        runs anyway), one planning aggregate over the batch derives them
        first."""
        batch_key = str(batch_key)
        parent = onto if onto is not None else self.current_snapshot()
        if parent and batch_key in parent["committed_batches"]:
            return parent
        self._check_config(parent)

        beyond = self._part_beyond_key()
        if plan is None or beyond:
            guard = self._part_guard_aggs() if beyond else []
            agg = (batch_final.withColumn(PART_COL, self.part_of())
                   .agg(F.max("lsn").alias("h"),
                        F.collect_set(PART_COL).alias("parts"), *guard)
                   .collect()[0])
            if guard:
                self._check_part_guard(agg)
            plan = ([], None) if agg["h"] is None else (agg["parts"], agg["h"])
        touched, h = sorted(plan[0]), plan[1]
        # empty batch: -1 = the empty-table lsn sentinel
        batch_lsn_high = (int(h) if h is not None
                          else (parent["lsn_high"] if parent else -1))

        state = self.read(spark, parts=touched, include_deleted=True,
                          snapshot_id=(parent["snapshot_id"]
                                       if onto is not None else None))
        if state is None:
            state = M.empty_state(spark, batch_final, keys=self.key_cols)
            state = state.withColumn(PART_COL, self.part_of())
        if apply_fn is None:
            # tombstones on part-override tables must keep their routing
            # columns (see merge_apply's keep_on_delete contract)
            from functools import partial
            apply_fn = partial(M.merge_apply, keep_on_delete=beyond)
        merged = apply_fn(state.drop(PART_COL),
                          batch_final, keys=self.key_cols)
        merged = merged.withColumn(PART_COL, self.part_of())

        sid = store.next_snapshot_id(self.root)
        # single consumer now (file stats come from parquet footers, not a
        # second Spark job) — no cache needed
        entries, ddl = self._write_data(merged, sid)

        carried = []
        if parent:
            touched_set = set(touched)
            for f in parent["files"]:
                if int(f["part"]) not in touched_set:
                    carried.append({**f, "origin": "existing"})
        snap = store.new_snapshot(
            parent, batch_key,
            lsn_high=max(batch_lsn_high, parent["lsn_high"] if parent else -1),
            files=entries + carried,
            schema_ddl=ddl,
            operation="merge",
            committed_ts=datetime.now(timezone.utc).isoformat(),
            snapshot_id=sid,
        )
        return self._finish_commit(snap, parent, ref, onto)

    def _finish_commit(self, snap: dict, parent: dict | None, ref: str,
                       onto: dict | None) -> dict:
        """Stamp config (+ branch base for named refs) and write with the
        right CAS target: main-line commits CAS on their parent; branch
        commits CAS on the BRANCH BASE — the main-line snapshot the chain
        forked from (inherited down the chain), so a main-line advance
        fails every later stage, not just the publish.

        The base is inherited ONLY when chaining onto a staged snapshot
        (``onto is not None``): a published snapshot keeps its
        ``branch_base`` field in history, and a FRESH stage forking from
        it must CAS on the fork point itself, not that stale base."""
        snap["table_config"] = self.table_config()
        expected = parent["snapshot_id"] if parent else 0
        if ref != store.CURRENT:
            base = parent["snapshot_id"] if parent else 0
            if onto is not None and parent is not None:
                base = parent.get("branch_base", base)
            snap["branch_base"] = base
            expected = base
        store.write_snapshot(self.root, snap, expected_parent=expected,
                             ref=ref)
        return snap
