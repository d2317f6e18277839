"""S2 tail selection: a bounded ``read_log`` hands Spark only the log files
whose footer lsn range meets the bounds. The unbounded dir read plus the
same two lsn filters is the reference it must equal, rows and schema."""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cdc.io.log import read_log
from cdc.schema.registry import default_registry

_BASE = [("lsn", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
         ("op", pa.string()), ("repo", pa.string()), ("path", pa.string()),
         ("commit", pa.string()), ("lang", pa.string()),
         ("content", pa.string()), ("schema_version", pa.int32()),
         ("batch_id", pa.int64())]
_ADDED = {1: [], 2: [("size_bytes", pa.int32()), ("score", pa.float32())],
          3: [("size_bytes", pa.int64()), ("score", pa.float64())]}

#: (version, file, lsns, footer stats). Gaps at 4, 6-7, 13-14, 17-19,
#: 21-29 and 31-39; lsn 5, 12 and 15 are re-delivered (across two files,
#: within one, across two versions); v=1/b starts on v=1/a's top lsn, and
#: the stats-less v=2/b spans most of the log.
_FILES = [
    (1, "a.parquet", [1, 2, 3, 5], True),
    (1, "b.parquet", [5, 8, 9], True),
    (2, "a.parquet", [10, 11, 12, 12, 15], True),
    (2, "b.parquet", [3, 20], False),
    (3, "a.parquet", [15, 16, 30], True),
    (3, "b.parquet", [40, 41], True),
]


def _write(path, version, lsns, stats):
    cols = _BASE + _ADDED[version]
    n = len(lsns)
    data = {
        "lsn": lsns,
        "ts": [datetime(2024, 1, 1, tzinfo=timezone.utc)] * n,
        "op": ["U"] * n, "repo": ["r"] * n,
        "path": [f"p{x % 3}" for x in lsns], "commit": ["c"] * n,
        "lang": ["py"] * n, "content": [f"x{x}" for x in lsns],
        "schema_version": [version] * n, "batch_id": [x // 10 for x in lsns],
        "size_bytes": lsns, "score": [x / 2 for x in lsns],
    }
    schema = pa.schema(cols)
    pq.write_table(pa.table({c: data[c] for c, _ in cols}, schema=schema),
                   path, write_statistics=stats)


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("taillog"))
    for version, name, lsns, stats in _FILES:
        os.makedirs(f"{d}/v={version}", exist_ok=True)
        _write(f"{d}/v={version}/{name}", version, lsns, stats)
    return d


def _reference(spark, log_dir, after, upto):
    df = read_log(spark, log_dir, default_registry())
    if after is not None and after >= 0:
        df = df.filter(F.col("lsn") > after)
    if upto is not None:
        df = df.filter(F.col("lsn") <= upto)
    return df


def _check(spark, log_dir, after, upto):
    got = read_log(spark, log_dir, default_registry(), after_lsn=after,
                   upto_lsn=upto)
    want = _reference(spark, log_dir, after, upto)
    assert "v" not in got.columns
    assert got.schema == want.schema, (after, upto)
    assert sorted(got.collect()) == sorted(want.collect()), (after, upto)
    return got


@pytest.mark.parametrize("after,upto", [
    (None, None), (-1, None), (None, -1), (-1, -1),   # unbounded / nothing
    (-1, 100), (100, None), (41, None), (None, 0),    # past either end
    (2, 8), (9, 16),                                  # inside a file
    (4, 35), (6, 14),                                 # on a gap
    (5, 12), (12, 15), (15, 41),                      # on a duplicate lsn
])
def test_selected_read_matches_dir_read(spark, log_dir, after, upto):
    got = _check(spark, log_dir, after, upto)
    # the stats-less file is always kept, so its rows are never lost
    assert any(f.endswith("/v=2/b.parquet") for f in got.inputFiles())


def test_selection_keeping_no_file_is_the_empty_latest_schema(
        spark, log_dir, tmp_path):
    """Without the stats-less file, a range past the top or below the bottom
    of the log keeps no file: the read is empty with the latest schema."""
    d = str(tmp_path / "log")
    shutil.copytree(log_dir, d)
    os.remove(f"{d}/v=2/b.parquet")
    for after, upto in [(41, None), (None, 0), (100, 200), (31, 39)]:
        got = _check(spark, d, after, upto)
        assert got.inputFiles() == [], (after, upto)
        assert got.count() == 0


def test_long_selection_builds_without_a_listing_job(spark, tmp_path):
    """A bounded read that keeps more than 32 files of one version reads
    that version as its dir: building the frame launches no Spark job
    (Spark lists more than 32 explicit paths with one), and the rows
    still equal the dir-read reference."""
    d = str(tmp_path / "long")
    os.makedirs(f"{d}/v=1")
    for i in range(40):
        _write(f"{d}/v=1/f{i:02d}.parquet", 1, [2 * i, 2 * i + 1], True)
    sc = spark.sparkContext
    group = "test_log.listing"
    sc.setJobGroup(group, group)
    try:
        # after_lsn=13 keeps files 7..39: 33 files
        read_log(spark, d, default_registry(), after_lsn=13, upto_lsn=200)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    _check(spark, d, 13, 200)
