"""S2/S3 — changelog tail over a per-schema-version Parquet log directory.

Log layout (written by cdc.testing.gen.write_change_log, and what a real
binlog archiver would produce)::

    log_dir/v=1/*.parquet   # files physically under registry schema v1
    log_dir/v=2/*.parquet
    ...

Each version subdir is read with its registry schema and projected onto the
latest schema (typed-null fill + widening casts) — this is the engine's
read-path schema evolution, done *before* any shuffle.

Tail selection: a bounded read (``after_lsn >= 0`` or ``upto_lsn`` set)
folds each file's footer ``lsn`` (min, max) on the driver and hands Spark
only the files whose range meets ``(after_lsn, upto_lsn]``, plus any file
without ``lsn`` stats — the superset rule of ``cdc.table.scan.plan_scan``.
Spark then lists, plans and opens only those files: a tail commit over a
long archive costs its own files, not the archive. A version that keeps
more than 32 files is handed over as its dir instead, because Spark lists
more explicit paths than that with a Spark job. The ``lsn`` filters
stay on the frame, so rows are exact and the predicate still pushes down
to the kept files' row groups. An unbounded read hands Spark the version
dirs. Files are written lsn-sorted per range (gen.write_change_log) to
keep the footer ranges tight.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc.schema.registry import SchemaRegistry


# spark.sql.sources.parallelPartitionDiscovery.threshold's default: above
# it, Spark lists a relation's paths with a Spark job
_MAX_EXPLICIT_PATHS = 32


def _version_dirs(log_dir: str) -> list[tuple[int, str]]:
    out = []
    for name in sorted(os.listdir(log_dir)):
        if name.startswith("v="):
            out.append((int(name[2:]), os.path.join(log_dir, name)))
    if not out:
        raise FileNotFoundError(f"no v=<n> subdirs under {log_dir}")
    return out


def _lsn_bounds(vdir: str) -> list[tuple[str, object, object]]:
    """``(path, lsn min, lsn max)`` of each ``*.parquet`` file of one
    version dir, from its footer alone; ``(None, None)`` when the file has
    no ``lsn`` stats."""
    import pyarrow.parquet as pq

    from cdc.table.scan import footer_minmax

    out = []
    for name in sorted(os.listdir(vdir)):
        if name.endswith(".parquet"):
            full = os.path.join(vdir, name)
            out.append((full, *footer_minmax(pq.read_metadata(full), "lsn")))
    return out


def read_log(spark: SparkSession, log_dir: str, registry: SchemaRegistry,
             after_lsn: int | None = None, upto_lsn: int | None = None) -> DataFrame:
    """S2 — batch tail: all events with lsn in (after_lsn, upto_lsn].

    A bounded read reads only the files whose footer ``lsn`` range meets
    the bounds (module docstring); a version with no such file drops out,
    and no file at all gives an empty frame of the latest schema. A
    version that keeps more than 32 files is read as its dir."""
    lo = after_lsn if after_lsn is not None and after_lsn >= 0 else None
    dfs = []
    for version, vdir in _version_dirs(log_dir):
        paths = [vdir]
        if lo is not None or upto_lsn is not None:
            files = _lsn_bounds(vdir)
            paths = [p for p, fmin, fmax in files
                     if fmin is None
                     or ((lo is None or fmax > lo)
                         and (upto_lsn is None or fmin <= upto_lsn))]
            if not paths:
                continue
            if len(paths) > _MAX_EXPLICIT_PATHS:
                # Spark lists more explicit paths than this with a job;
                # the dir lists on the driver, and the lsn filters drop
                # the rows of the files the selection would have skipped
                paths = [vdir]
        raw = spark.read.schema(registry.spark_schema(version)).parquet(*paths)
        dfs.append(registry.normalize_to_latest(raw))
    if not dfs:
        return spark.createDataFrame([], registry.latest_schema())
    df = dfs[0]
    for d in dfs[1:]:
        df = df.unionByName(d)
    if lo is not None:
        df = df.filter(F.col("lsn") > lo)
    if upto_lsn is not None:
        df = df.filter(F.col("lsn") <= upto_lsn)
    return df


def stream_log(spark: SparkSession, log_dir: str, registry: SchemaRegistry,
               max_files_per_trigger: int | None = None) -> DataFrame:
    """S3 — streaming tail of the same layout; Trigger.AvailableNow replay
    and processingTime tailing share this source."""
    streams = []
    for version, path in _version_dirs(log_dir):
        r = spark.readStream.schema(registry.spark_schema(version))
        if max_files_per_trigger:
            r = r.option("maxFilesPerTrigger", max_files_per_trigger)
        streams.append(registry.normalize_to_latest(r.parquet(path)))
    df = streams[0]
    for d in streams[1:]:
        df = df.unionByName(d)
    return df


def truncate_log(log_dir: str, below_lsn: int,
                 reorder_horizon: int = 0) -> list[str]:
    """Log retention: remove WHOLE log files whose every event is already
    durably applied — i.e. ``max lsn < below_lsn - reorder_horizon``.
    Returns the removed paths.

    ``below_lsn`` is normally the table's committed ``lsn_high``;
    ``reorder_horizon`` keeps a safety tail when the producer may still
    deliver reordered events near the high-water mark (the same horizon
    the resume path tolerates). Decision is footer-metadata only
    (pyarrow), file-granular, and crash-safe: deleting an applied file
    twice, or crashing mid-sweep, loses nothing — replay correctness
    never depends on applied files still existing.

    A file that STRADDLES the horizon is kept whole; the tail selection
    keeps the straddling file and the lsn filter drops its applied rows,
    so retention granularity costs scan work, not correctness. At 10^10
    events this is the piece that keeps the binlog archive bounded by the
    reorder window instead of growing forever."""
    horizon = below_lsn - reorder_horizon
    removed: list[str] = []
    for _version, vdir in _version_dirs(log_dir):
        for full, _, hi in _lsn_bounds(vdir):
            if hi is not None and hi < horizon:
                os.remove(full)
                crc = os.path.join(vdir, f".{os.path.basename(full)}.crc")
                if os.path.exists(crc):
                    os.remove(crc)
                removed.append(full)
    return removed
