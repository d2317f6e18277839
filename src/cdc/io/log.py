"""S2/S3 — changelog tail over a per-schema-version Parquet log directory.

Log layout (written by cdc.testing.gen.write_change_log, and what a real
binlog archiver would produce)::

    log_dir/v=1/*.parquet   # files physically under registry schema v1
    log_dir/v=2/*.parquet
    ...

Each version subdir is read with its registry schema and projected onto the
latest schema (typed-null fill + widening casts) — this is the engine's
read-path schema evolution, done *before* any shuffle.

Scale: the ``lsn > checkpoint`` filter is a plain Catalyst predicate, so it
pushes down to Parquet footer min/max stats: fully-applied files are
skipped at the scan, which is what makes resuming a 10^10-event log from a
late checkpoint O(new data), not O(log). Files are written lsn-sorted per
range (gen.write_change_log) precisely to keep those footer ranges tight.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc.schema.registry import SchemaRegistry


def _version_dirs(log_dir: str) -> list[tuple[int, str]]:
    out = []
    for name in sorted(os.listdir(log_dir)):
        if name.startswith("v="):
            out.append((int(name[2:]), os.path.join(log_dir, name)))
    if not out:
        raise FileNotFoundError(f"no v=<n> subdirs under {log_dir}")
    return out


def read_log(spark: SparkSession, log_dir: str, registry: SchemaRegistry,
             after_lsn: int | None = None, upto_lsn: int | None = None) -> DataFrame:
    """S2 — batch tail: all events with lsn in (after_lsn, upto_lsn]."""
    dfs = []
    for version, path in _version_dirs(log_dir):
        raw = spark.read.schema(registry.spark_schema(version)).parquet(path)
        dfs.append(registry.normalize_to_latest(raw))
    df = dfs[0]
    for d in dfs[1:]:
        df = df.unionByName(d)
    if after_lsn is not None and after_lsn >= 0:
        df = df.filter(F.col("lsn") > after_lsn)
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

    A file that STRADDLES the horizon is kept whole; the lsn pushdown
    skips its applied rows at read time, so retention granularity costs
    scan metadata, not correctness. At 10^10 events this is the piece
    that keeps the binlog archive bounded by the reorder window instead
    of growing forever."""
    import pyarrow.parquet as pq

    from cdc.table.scan import footer_minmax

    horizon = below_lsn - reorder_horizon
    removed: list[str] = []
    for _version, vdir in _version_dirs(log_dir):
        for name in sorted(os.listdir(vdir)):
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(vdir, name)
            _, hi = footer_minmax(pq.ParquetFile(full).metadata, "lsn")
            if hi is not None and hi < horizon:
                os.remove(full)
                crc = os.path.join(vdir, f".{name}.crc")
                if os.path.exists(crc):
                    os.remove(crc)
                removed.append(full)
    return removed
