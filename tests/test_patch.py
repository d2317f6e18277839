"""Column-level LWW / partial-update merge (cdc/patch.py): per-column
last-non-null resolution, trailing-delete precedence, and the replay
invariant state+patches == full-history fold."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc.merge import empty_state
from cdc.patch import collapse_patches, column_lww, merge_patches

DDL = ("repo string, path string, lsn long, content string, lang string, "
       "op string")


def ev(spark, rows):
    return (spark.createDataFrame(rows, DDL)
            .select("*",
                    F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
                    F.lit(0).alias("batch_id")))


def test_column_lww_resolves_each_column_independently(spark):
    df = ev(spark, [
        ("r1", "a", 1, "v1", "en", "U"),
        ("r1", "a", 2, None, "fr", "U"),   # patch: only lang
        ("r1", "a", 3, "v3", None, "U"),   # patch: only content
        ("r2", "b", 1, None, None, "U"),   # never-touched columns stay null
    ])
    out = {(r.repo, r.path): (r.content, r.lang, r.lsn)
           for r in column_lww(df, value_cols=("content", "lang")).collect()}
    assert out == {("r1", "a"): ("v3", "fr", 3), ("r2", "b"): (None, None, 1)}


def test_collapse_patches_trailing_delete_wins_key(spark):
    df = ev(spark, [
        ("r1", "a", 1, "v1", "en", "U"),
        ("r1", "a", 5, None, None, "D"),   # delete after patches
        ("r1", "a", 3, "v3", None, "U"),
    ])
    row = collapse_patches(df).collect()[0]
    assert (row.op, row.lsn) == ("D", 5)
    # the fold still surfaces the last non-null values (merge ignores
    # them once op='D' tombstones the key)
    assert (row.content, row.lang) == ("v3", "en")


def test_state_plus_patches_equals_full_history_fold(spark):
    b1 = [("r1", "a", 1, "v1", "en", "U"),
          ("r1", "b", 2, "w1", None, "U"),
          ("r2", "c", 3, "x1", "de", "U")]
    b2 = [("r1", "a", 10, None, "fr", "U"),    # patches lang only
          ("r1", "b", 11, "w2", None, "U"),    # patches content only
          ("r2", "c", 12, None, None, "D"),    # delete
          ("r1", "a", 4, "late4", None, "U")]  # reordered WITHIN the batch:
    # lsn 4's content is the column's last non-null (lsn 10 left it null),
    # so it wins content while lsn 10 wins lang — exactly the full fold
    s1 = merge_patches(empty_state(spark, ev(spark, b1)),
                       collapse_patches(ev(spark, b1)))
    s2 = merge_patches(s1, collapse_patches(ev(spark, b2)))
    live = s2.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
    got = {(r.repo, r.path): (r.content, r.lang, r._lsn)
           for r in live.collect()}
    full = column_lww(ev(spark, b1 + b2).filter(F.col("op") != "D"),
                      value_cols=("content", "lang"))
    want = {(r.repo, r.path): (r.content, r.lang, r.lsn)
            for r in full.collect() if (r.repo, r.path) != ("r2", "c")}
    assert got == want == {
        ("r1", "a"): ("late4", "fr", 10),
        ("r1", "b"): ("w2", None, 11),
    }


def test_late_patch_loses_to_state_lsn(spark):
    b1 = [("r1", "a", 10, "v10", "en", "U")]
    late = [("r1", "a", 5, "old", "fr", "U")]
    s1 = merge_patches(empty_state(spark, ev(spark, b1)),
                       collapse_patches(ev(spark, b1)))
    s2 = merge_patches(s1, collapse_patches(ev(spark, late)))
    row = s2.collect()[0]
    assert (row.content, row.lang, row._lsn) == ("v10", "en", 10)


def test_apply_batch_patch_mode_end_to_end(spark, tmp_path):
    import pytest

    from cdc.pipeline import apply_batch
    from cdc.table.table import CdcTable

    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    apply_batch(spark, t, ev(spark, [("r1", "a", 1, "v1", "en", "U"),
                                     ("r1", "b", 2, "w1", "de", "U")]),
                "b0", normalize=False, metrics=False, image="patch")
    apply_batch(spark, t, ev(spark, [("r1", "a", 5, None, "fr", "U"),
                                     ("r1", "b", 6, "w2", None, "U")]),
                "b1", normalize=False, metrics=False, image="patch")
    got = {(r.repo, r.path): (r.content, r.lang)
           for r in t.read(spark).collect()}
    # patches touched one column each; the other survived from state
    assert got == {("r1", "a"): ("v1", "fr"), ("r1", "b"): ("w2", "de")}
    # exactly-once: re-applying b1 is a no-op
    snap = apply_batch(spark, t, ev(spark, [("r1", "a", 5, None, "fr", "U")]),
                       "b1", normalize=False, metrics=False, image="patch")
    assert snap["snapshot_id"] == t.current_snapshot()["snapshot_id"]
    # patch + mor lands a patch delta layer (round 3: no longer refused);
    # the read-side per-column fold applies it over the CoW state
    apply_batch(spark, t, ev(spark, [("r1", "a", 9, None, "it", "U")]),
                "b2", normalize=False, metrics=False, image="patch",
                mode="mor")
    got = {(r.repo, r.path): (r.content, r.lang)
           for r in t.read(spark).collect()}
    assert got[("r1", "a")] == ("v1", "it")


def test_stream_to_table_patch_mode_across_epochs(spark, tmp_path):
    """Cross-epoch patch preservation: epoch 1 sets (content, lang);
    epoch 2 patches content only — lang must survive the second epoch's
    row-replacement-free merge."""
    import os
    import time

    from cdc.stream.pipeline import stream_to_table
    from cdc.table.table import CdcTable

    ddl = ("lsn bigint, ts timestamp, op string, repo string, path string, "
           "commit string, lang string, content string, schema_version int, "
           "batch_id bigint, size_bytes bigint, score double")
    log = str(tmp_path / "log")
    os.makedirs(f"{log}/v=3")
    t0 = "2026-01-01 00:00:00"

    def write(rows, name):
        (spark.createDataFrame(rows, ddl)
         .withColumn("ts", F.to_timestamp(F.lit(t0)))
         .coalesce(1).write.mode("append").parquet(f"{log}/v=3"))

    write([(1, None, "U", "r1", "a", "c1", "en", "v1", 3, 0, 10, 0.5),
           (2, None, "U", "r1", "b", "c2", "de", "w1", 3, 0, 10, 0.5)], "e1")
    time.sleep(1.2)  # distinct mtimes -> deterministic epoch order
    write([(5, None, "U", "r1", "a", "c3", None, "v2", 3, 1, 10, 0.5)], "e2")

    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    stream_to_table(spark, log, t, metrics=False, normalize=False,
                    max_files_per_trigger=1, image="patch")
    got = {(r.repo, r.path): (r.content, r.lang, r._lsn)
           for r in t.read(spark).collect()}
    assert got[("r1", "a")] == ("v2", "en", 5)   # lang survived the patch
    assert got[("r1", "b")] == ("w1", "de", 2)
    assert len(t.snapshots()) >= 2               # really crossed epochs


def _state(df):
    live = df.filter(~F.coalesce(F.col("_deleted"), F.lit(False)))
    return {(r.repo, r.path): (r.content, r.lang, r._lsn, r._content_sha256)
            for r in live.collect()}


def test_patch_mor_read_equals_cow_fold(spark, tmp_path):
    """apply_batch(image='patch', mode='mor') writes patch delta layers;
    table.read's per-column commit-order fold must equal the CoW
    sequential merge_patches fold over the same batches — including a
    stale whole batch (loses the lsn guard), delete-then-resurrect, and a
    patch creating a brand-new key."""
    from cdc.pipeline import apply_batch
    from cdc.table.table import CdcTable

    batches = [
        [("r1", "a", 1, "v1", "en", "U"), ("r1", "b", 2, "w1", None, "U")],
        [("r1", "a", 10, None, "fr", "U"),      # lang-only patch
         ("r9", "new", 11, None, "nn", "U")],   # patch creates a key
        [("r1", "b", 12, None, None, "D")],     # delete
        [("r1", "a", 3, "stale", "de", "U")],   # whole batch loses (3 < 10)
        [("r1", "b", 13, None, "it", "U")],     # resurrect from NULL state
    ]
    cow = CdcTable(str(tmp_path / "cow"), n_partitions=4, layout="key_hash")
    mor = CdcTable(str(tmp_path / "mor"), n_partitions=4, layout="key_hash")
    for i, rows in enumerate(batches):
        for t, mode in ((cow, "cow"), (mor, "mor")):
            apply_batch(spark, t, ev(spark, rows), f"b{i}",
                        normalize=False, metrics=False, mode=mode,
                        image="patch")
    # the MOR table really holds uncompacted patch layers
    assert any(f.get("kind") == "delta" and f.get("image") == "patch"
               for f in mor.current_snapshot()["files"])
    want = _state(cow.read(spark, include_deleted=True))
    assert _state(mor.read(spark, include_deleted=True)) == want
    assert want[("r1", "a")] == ("v1", "fr", 10, want[("r1", "a")][3])
    assert want[("r1", "b")][:3] == (None, "it", 13)   # resurrected
    assert want[("r9", "new")][:3] == (None, "nn", 11)

    # compaction folds the patch layers through the same read path
    from cdc.table.maintenance import compact
    compact(spark, mor)
    assert not any(f.get("kind") == "delta"
                   for f in mor.current_snapshot()["files"])
    assert _state(mor.read(spark, include_deleted=True)) == want

    # a CoW merge onto remaining patch deltas folds them too (touched
    # partitions rewrite through the reconciled read)
    mor2 = CdcTable(str(tmp_path / "mor2"), n_partitions=4,
                    layout="key_hash")
    for i, rows in enumerate(batches[:2]):
        apply_batch(spark, mor2, ev(spark, rows), f"b{i}",
                    normalize=False, metrics=False, mode="mor",
                    image="patch")
    apply_batch(spark, mor2, ev(spark, [("r1", "a", 20, "vz", None, "U")]),
                "cow-batch", normalize=False, metrics=False, image="patch")
    got = _state(mor2.read(spark))
    assert got[("r1", "a")][:3] == ("vz", "fr", 20)


def test_patch_and_row_deltas_never_mix(spark, tmp_path):
    from cdc.pipeline import apply_batch
    from cdc.table.table import CdcTable
    import pytest

    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    apply_batch(spark, t, ev(spark, [("r1", "a", 1, "v1", "en", "U")]),
                "b0", normalize=False, metrics=False, mode="mor",
                image="patch")
    with pytest.raises(ValueError, match="compact"):
        apply_batch(spark, t, ev(spark, [("r1", "a", 2, "v2", "en", "U")]),
                    "b1", normalize=False, metrics=False, mode="mor")
    # after compaction the other kind lands again
    from cdc.table.maintenance import compact
    compact(spark, t)
    apply_batch(spark, t, ev(spark, [("r2", "b", 3, "w1", None, "U")]),
                "b2", normalize=False, metrics=False, mode="mor")
    from pyspark.sql.types import StructType

    from cdc.spark_source import CdcBatchReader, CdcTableDataSource
    schema = StructType.fromDDL(CdcTableDataSource({"root": t.root}).schema())
    assert CdcBatchReader(t.root, {"root": t.root}, schema).partitions()


def test_patch_mor_reads_through_datasource(spark, tmp_path):
    """The cdctable batch source reconciles UNCOMPACTED patch-MOR
    snapshots with the per-column commit-order fold — byte-identical to
    CdcTable.read (stale batch, delete, resurrect, new-key-via-patch,
    multi-layer coalesce all covered by the batch mix)."""
    from cdc.pipeline import apply_batch
    from cdc.spark_source import CdcTableDataSource
    from cdc.table.table import CdcTable

    spark.dataSource.register(CdcTableDataSource)
    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    batches = [
        [("r1", "a", 1, "v1", "en", "U"), ("r1", "b", 2, "w1", None, "U")],
        [("r1", "a", 10, None, "fr", "U"), ("r9", "new", 11, None, "nn", "U")],
        [("r1", "b", 12, None, None, "D")],
        [("r1", "a", 3, "stale", "de", "U")],
        [("r1", "b", 13, None, "it", "U")],
    ]
    for i, rows in enumerate(batches):
        apply_batch(spark, t, ev(spark, rows), f"b{i}",
                    normalize=False, metrics=False, mode="mor",
                    image="patch")
    assert any(f.get("image") == "patch"
               for f in t.current_snapshot()["files"])

    def snap_of(df):
        return {(r.repo, r.path): (r.content, r.lang, r._lsn,
                                   r._content_sha256, bool(r._deleted))
                for r in df.collect()}

    got = snap_of(spark.read.format("cdctable")
                  .option("root", t.root).load())
    want = snap_of(t.read(spark).drop("part"))
    assert got == want
    assert got[("r1", "a")][:3] == ("v1", "fr", 10)
    assert got[("r1", "b")][:3] == (None, "it", 13)     # resurrected
    # tombstone-winner visibility parity too
    t2 = CdcTable(str(tmp_path / "t2"), n_partitions=4, layout="key_hash")
    apply_batch(spark, t2, ev(spark, [("r1", "a", 1, "v1", "en", "U")]),
                "b0", normalize=False, metrics=False, mode="mor",
                image="patch")
    apply_batch(spark, t2, ev(spark, [("r1", "a", 2, None, None, "D")]),
                "b1", normalize=False, metrics=False, mode="mor",
                image="patch")
    dd = (spark.read.format("cdctable").option("root", t2.root)
          .option("include_deleted", "true").load())
    assert snap_of(dd) == snap_of(t2.read(spark, include_deleted=True)
                                  .drop("part"))
    assert (spark.read.format("cdctable").option("root", t2.root)
            .load().count() == 0)


# -- property: patch-MOR read fold == sequential CoW fold ---------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_PEV = st.tuples(st.sampled_from(["a", "b", "c"]),
                 st.sampled_from(["content", "lang", "both", "delete"]),
                 st.text(alphabet="xy", min_size=1, max_size=2))
_PBATCHES = st.lists(st.lists(_PEV, min_size=1, max_size=4),
                     min_size=1, max_size=4)


@pytest.mark.slow
@given(batches=_PBATCHES)
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_patch_mor_equals_cow_fold_property(spark, tmp_path, batches):
    """For ANY mix of patch batches (content-only / lang-only / both /
    delete per event), the uncompacted patch-MOR read fold must equal the
    sequential CoW merge_patches fold — the two implementations of the
    same semantics, driven by random histories."""
    import tempfile

    from cdc.pipeline import apply_batch
    from cdc.table.table import CdcTable

    lsn = 0

    def to_rows(events):
        nonlocal lsn
        rows = []
        for key, kind, val in events:
            lsn += 1
            rows.append(("r", key, lsn,
                         val if kind in ("content", "both") else None,
                         val if kind in ("lang", "both") else None,
                         "D" if kind == "delete" else "U"))
        return rows

    work = tempfile.mkdtemp(dir=tmp_path)
    cow = CdcTable(f"{work}/cow", n_partitions=4, layout="key_hash")
    mor = CdcTable(f"{work}/mor", n_partitions=4, layout="key_hash")
    for i, events in enumerate(batches):
        rows = to_rows(events)
        for t, mode in ((cow, "cow"), (mor, "mor")):
            apply_batch(spark, t, ev(spark, rows), f"b{i}",
                        normalize=False, metrics=False, mode=mode,
                        image="patch")

    def state(t):
        df = t.read(spark, include_deleted=True)
        return {(r.repo, r.path): (r.content, r.lang, r._lsn,
                                   r._content_sha256, bool(r._deleted))
                for r in df.collect()}
    assert state(mor) == state(cow)
