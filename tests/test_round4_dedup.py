"""Round-4 pins: O(churn) streaming-dedup epochs (VERDICT r3 items 1-3),
the part_cols bucket layout, the range-arithmetic grouped replay, string-id
incremental CC (ADVICE r3), and the real PPM byte decode."""

from __future__ import annotations

import pyspark.sql
import pytest
from pyspark.sql import functions as F

WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()


def _doc(i: int):
    base = i - (i % 100) if i % 4 == 0 else i
    return (i, " ".join(WORDS[base % 5:] * 3) + f" tail{base % 7}")


def _mk(spark, ids):
    return spark.createDataFrame([_doc(i) for i in ids],
                                 "doc_id long, text string")


# -- family streams: drain == one-shot ---------------------------------------

def test_continuous_dedup_simhash_family(spark, tmp_path):
    """The SimHash family through the same exactly-once two-table loop:
    drained stream state == one-shot banded-Hamming pairs + CC."""
    from cdc.cc import connected_components
    from cdc.simhash import sim_pairs, simhash_bands
    from cdc.stream.dedup import SIMHASH, continuous_dedup, dedup_tables

    src = tmp_path / "docs"
    src.mkdir()
    for name, ids in [("f0", range(0, 20)), ("f1", range(100, 120))]:
        _mk(spark, ids).coalesce(1).write.parquet(str(src / name))

    bands, groups = dedup_tables(str(tmp_path / "b"), str(tmp_path / "g"),
                                 n_partitions=4, family=SIMHASH)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    ckpt = str(tmp_path / "ckpt")
    continuous_dedup(spark, stream, bands, groups, checkpoint_dir=ckpt,
                     family=SIMHASH)

    all_ids = list(range(0, 20)) + list(range(100, 120))
    banded = simhash_bands(_mk(spark, all_ids))
    oneshot = {(r.id, r.grp) for r in connected_components(
        sim_pairs(banded, banded, symmetric=True),
        src="doc_a", dst="doc_b").collect()}
    standing = {(r.doc_id, r.grp) for r in
                groups.read(spark).select("doc_id", "grp").collect()}
    assert standing == oneshot and oneshot

    # restart on a drained source: no new snapshots (exactly-once)
    gsnap = groups.current_snapshot()["snapshot_id"]
    continuous_dedup(spark, stream, bands, groups, checkpoint_dir=ckpt,
                     family=SIMHASH)
    assert groups.current_snapshot()["snapshot_id"] == gsnap


def _vec(i: int, dim: int = 8):
    # exact duplicates for i % 4 == 0 (same base as _doc); others distinct
    base = i - (i % 100) if i % 4 == 0 else i
    return (i, [float((base * (k + 3) * 37) % 101 + 1) / 102.0
                for k in range(dim)])


def _mkv(spark, ids):
    return spark.createDataFrame([_vec(i) for i in ids],
                                 "vec_id long, embedding array<float>")


@pytest.mark.slow
def test_continuous_dedup_embed_family(spark, tmp_path):
    """The embedding family: hyperplane-LSH probe + exact-cosine
    confirmation against the standing VECTORS table (partition-pruned
    point reads), drained == one-shot cosine_near_dup_lsh + CC."""
    from cdc.cc import connected_components
    from cdc.stream.dedup import EmbedFamily, continuous_dedup, dedup_tables
    from cdc.table.table import CdcTable
    from cdc.vectors import cosine_near_dup_lsh

    src = tmp_path / "vecs"
    src.mkdir()
    for name, ids in [("f0", range(0, 20)), ("f1", range(100, 120))]:
        _mkv(spark, ids).coalesce(1).write.parquet(str(src / name))

    vectors = CdcTable(str(tmp_path / "v"), key_cols=("vec_id",),
                       n_partitions=4, layout="key_hash")
    family = EmbedFamily(vectors, threshold=0.999, dim=8)
    bands, groups = dedup_tables(str(tmp_path / "b"), str(tmp_path / "g"),
                                 n_partitions=4, family=family)
    stream = (spark.readStream.schema("vec_id long, embedding array<float>")
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    ckpt = str(tmp_path / "ckpt")
    continuous_dedup(spark, stream, bands, groups, checkpoint_dir=ckpt,
                     family=family)

    all_ids = list(range(0, 20)) + list(range(100, 120))
    pairs = cosine_near_dup_lsh(_mkv(spark, all_ids), threshold=0.999, dim=8)
    oneshot = {(r.id, r.grp) for r in connected_components(
        pairs, src="id_a", dst="id_b").collect()}
    standing = {(r.vec_id, r.grp) for r in
                groups.read(spark).select("vec_id", "grp").collect()}
    assert standing == oneshot and oneshot
    # the side table holds every ingested vector
    assert vectors.read(spark).count() == len(all_ids)

    # crash-heal shape: re-drain is a full no-op across all three tables
    snaps = [t.current_snapshot()["snapshot_id"]
             for t in (bands, groups, vectors)]
    continuous_dedup(spark, stream, bands, groups, checkpoint_dir=ckpt,
                     family=family)
    assert snaps == [t.current_snapshot()["snapshot_id"]
                     for t in (bands, groups, vectors)]


# -- O(churn) epoch pins (VERDICT r3 "What's wrong" #1-3) ---------------------

def _distinct_doc(i: int):
    """Docs with fully disjoint shingle sets (no cross-doc buckets)."""
    return (i, " ".join(f"w{i}x{j}" for j in range(10)))


def test_epoch_io_is_bucket_pruned_and_o_churn(spark, tmp_path, monkeypatch):
    """IO pins for one ingest epoch whose batch touches O(1) components
    of a larger standing corpus (VERDICT r3 items 1-3):
    - the standing BAND table read is partition-pruned to the batch's
      bucket partitions and covers FEWER FILES than the table holds;
    - the standing ASSIGNMENT is read exactly twice: one partition-pruned
      point read (touched labels) and one full scan (the broadcast-semi
      sub extraction) — never more;
    - every frame localCheckpoint'ed during the epoch is O(churn), never
      corpus-sized."""
    from cdc.stream.dedup import (dedup_tables, ingest_dedup_batch,
                                  plan_epoch)
    from cdc.table.table import CdcTable

    bands, groups = dedup_tables(str(tmp_path / "b"), str(tmp_path / "g"),
                                 n_partitions=8)
    corpus = spark.createDataFrame([_distinct_doc(i) for i in range(80)],
                                   "doc_id long, text string")
    # seed one standing component so the assignment is non-trivial
    seed = corpus.limit(0).unionByName(spark.createDataFrame(
        [(9000, _distinct_doc(3)[1])], "doc_id long, text string"))
    ingest_dedup_batch(spark, bands, groups, corpus.unionByName(seed), "e0")
    n_band_files = len(bands.current_snapshot()["files"])
    corpus_band_rows = bands.read(spark).count()
    assert n_band_files > 1
    assert groups.read(spark).count() == 2   # {3, 9000}

    reads = {"bands": [], "groups": []}
    orig_scan = CdcTable._scan

    # every table read plans through _scan: read() and the lookup_keys
    # point read alike
    def spy_scan(self, spark_, snap, parts=None, *a, **kw):
        if self.root == bands.root:
            reads["bands"].append(parts)
        elif self.root == groups.root:
            reads["groups"].append(parts)
        return orig_scan(self, spark_, snap, parts, *a, **kw)

    monkeypatch.setattr(CdcTable, "_scan", spy_scan)

    sizes = []
    DFCls = type(spark.range(1))   # the concrete (classic) DataFrame class
    orig_ckpt = DFCls.localCheckpoint

    def spy_ckpt(self, eager=True):
        out = orig_ckpt(self, eager=eager)
        # count NOW (cheap on a just-materialized frame): some engine
        # checkpoints are eagerly freed after their last use
        sizes.append(out.count())
        return out

    monkeypatch.setattr(DFCls, "localCheckpoint", spy_ckpt)

    # the batch: one more copy of doc 3 -> touches exactly one component
    batch = spark.createDataFrame([(9001, _distinct_doc(3)[1])],
                                  "doc_id long, text string")
    nb, changed, lsn = plan_epoch(spark, bands, groups, batch, "e1")
    changed_rows = {(r.doc_id, r.grp) for r in changed.collect()}
    assert changed_rows == {(9001, 3)}   # 3 and 9000 keep their rows

    # (a) bucket-pruned band probe: a parts list was passed, and the files
    # it selects are a strict subset of the table's files
    pruned = [p for p in reads["bands"] if p is not None]
    assert pruned, f"no pruned band read: {reads['bands']}"
    part_set = set(pruned[0])
    files_read = sum(1 for f in bands.current_snapshot()["files"]
                     if int(f["part"]) in part_set)
    assert 0 < files_read < n_band_files, (files_read, n_band_files)
    # the epoch never read the band table UNPRUNED
    assert all(p is not None for p in reads["bands"]), reads["bands"]

    # (b) assignment reads: exactly one pruned point read + one full scan
    full = [p for p in reads["groups"] if p is None]
    point = [p for p in reads["groups"] if p is not None]
    assert len(full) == 1 and len(point) == 1, reads["groups"]
    assert len(point[0]) < groups.n_partitions

    # (c) every localCheckpoint is O(churn): far below the corpus' band
    # rows (batch bands + pairs + replayed CC subset only)
    assert sizes and max(sizes) <= 25, (sizes, corpus_band_rows)

    # and committing the epoch lands exactly the one-shot truth
    monkeypatch.setattr(CdcTable, "_scan", orig_scan)
    monkeypatch.setattr(DFCls, "localCheckpoint", orig_ckpt)
    ingest_dedup_batch(spark, bands, groups, batch, "e1")
    from cdc.cc import connected_components
    from cdc.lsh import minhash_pairs
    allc = corpus.unionByName(seed).unionByName(batch)
    oneshot = {(r.id, r.grp) for r in connected_components(
        minhash_pairs(allc), src="doc_a", dst="doc_b").collect()}
    standing = {(r.doc_id, r.grp) for r in
                groups.read(spark).select("doc_id", "grp").collect()}
    assert standing == oneshot


def test_cc_delta_equals_full_anti_join(spark):
    """connected_components_incremental_delta == the full incremental
    assignment anti-joined against prior on (id, grp) — the provable-
    identity claim, checked over an awkward shape (chains, merges of two
    prior components, fresh singletons, self loops)."""
    from cdc.cc import (connected_components,
                        connected_components_incremental,
                        connected_components_incremental_delta)

    old_edges = [(1, 2), (2, 3), (10, 11), (20, 21), (30, 31), (40, 40)]
    new_edges = [(3, 10), (50, 51), (21, 20), (60, 60), (2, 1)]
    prior = connected_components(
        spark.createDataFrame(old_edges, "src long, dst long"))
    edges = spark.createDataFrame(new_edges, "src long, dst long")
    full = connected_components_incremental(prior, edges)
    delta = connected_components_incremental_delta(prior, edges)
    expect = {(r.id, r.grp)
              for r in full.join(prior, ["id", "grp"], "left_anti").collect()}
    got = {(r.id, r.grp) for r in delta.collect()}
    assert got == expect
    # and the merge of two touched prior components really changed rows
    assert (10, 1) in got and (11, 1) in got


def test_cc_incremental_string_ids(spark):
    """ADVICE r3: non-numeric ids must flow through the incremental form
    unharmed (the old unconditional cast('long') NULLed them out)."""
    from cdc.cc import (connected_components,
                        connected_components_incremental)

    old = spark.createDataFrame([("a", "b"), ("x", "y")],
                                "src string, dst string")
    new = spark.createDataFrame([("b", "c"), ("m", "n")],
                                "src string, dst string")
    prior = connected_components(old)
    got = {(r.id, r.grp) for r in
           connected_components_incremental(prior, new).collect()}
    expect = {(r.id, r.grp) for r in
              connected_components(old.unionAll(new)).collect()}
    assert got == expect
    assert ("c", "a") in got   # chained across old+new, min label "a"


# -- part_cols layout ---------------------------------------------------------

def test_part_cols_identity_and_reopen(spark, tmp_path):
    from cdc.table.table import CdcTable

    root = str(tmp_path / "t")
    t = CdcTable(root, key_cols=("doc_id", "band"), n_partitions=4,
                 layout="key_hash", part_cols=("band", "bucket"))
    df = (spark.createDataFrame(
        [(i, b, f"bk{(i + b) % 5}", 1, "U") for i in range(10)
         for b in range(2)],
        "doc_id long, band int, bucket string, lsn long, op string")
        .withColumn("ts", F.timestamp_seconds(F.col("lsn")))
        .withColumn("batch_id", F.lit("b0")))
    t.commit_merge(spark, df, "b0")
    # every row's stored partition equals the part_cols hash
    assert t.read(spark).filter(F.col("part") != t.part_of()).count() == 0
    # open() restores the override; a mismatched handle is refused
    assert CdcTable.open(root).part_cols == ("band", "bucket")
    bad = CdcTable(root, key_cols=("doc_id", "band"), n_partitions=4,
                   layout="key_hash")
    with pytest.raises(ValueError, match="part_cols"):
        bad.commit_merge(spark, df, "b1")
    # key-only point lookup cannot locate a partition -> clear refusal
    with pytest.raises(ValueError, match="partitioned by"):
        t.lookup(spark, doc_id=1, band=0)
    # lookup_keys works when the probe carries the part columns
    probe = df.filter((F.col("doc_id") == 3) & (F.col("band") == 1)) \
              .select("doc_id", "band", "bucket")
    assert t.lookup_keys(spark, probe).count() == 1
    with pytest.raises(ValueError, match="must carry"):
        t.lookup_keys(spark, probe.drop("bucket"))


# -- grouped replay: range arithmetic, no distinct-collect --------------------

def test_grouped_replay_sparse_batch_ids(spark, tmp_path):
    """Grouped replay over a log with GAPS in batch_id: the distributed
    grouping must build groups of k PRESENT ids (no driver-side distinct
    collect, no value-range iteration), cover every event, and resume as
    a no-op."""
    from cdc.pipeline import replay
    from cdc.table.table import CdcTable
    from cdc.testing.gen import gen_change_events, write_change_log

    ev = gen_change_events(spark, n_keys=40, mean_events_per_key=3, seed=7)
    # remap batch ids onto a gappy range: 0,1,8,9
    ev = ev.withColumn("batch_id",
                       F.when(F.col("lsn") % 4 < 2, F.col("lsn") % 4)
                       .otherwise(F.col("lsn") % 4 + 6))
    log_dir = str(tmp_path / "log")
    write_change_log(ev, log_dir, events_per_file=200)

    t = CdcTable(str(tmp_path / "tab"), n_partitions=4, layout="key_hash")
    res = replay(spark, log_dir, t, batches_per_commit=2, metrics=False)
    # present ids {0,1,8,9} -> two groups of two
    assert res.n_commits == 2
    assert res.batch_keys == ["grp-00000000-00000001", "grp-00000008-00000009"]

    full = CdcTable(str(tmp_path / "tab2"), n_partitions=4,
                    layout="key_hash")
    replay(spark, log_dir, full, metrics=False)
    a = {tuple(r) for r in
         t.read(spark).select("repo", "path", "content").collect()}
    b = {tuple(r) for r in
         full.read(spark).select("repo", "path", "content").collect()}
    assert a == b
    # resume: everything already covered, nothing commits
    res2 = replay(spark, log_dir, t, batches_per_commit=2, metrics=False)
    assert res2.n_commits == 0


# -- real PPM byte decode ------------------------------------------------------

def test_ppm_decode_real_bytes(spark):
    """with_ppm_payload builds an actual P6 file; decode_ppm_meta must
    recover dims/maxval from the header and pixel values from the raster,
    and reject malformed payloads without failing the batch."""
    from cdc.mm import decode_image_meta, with_ppm_payload

    d = spark.createDataFrame([(7, "hello world"), (12, "x" * 300)],
                              "doc_id long, text string")
    enc = with_ppm_payload(d)
    # the payload really is a PPM file
    blob = bytes(enc.filter("doc_id = 7").first()["payload"])
    assert blob.startswith(b"P6\n")
    out = {r.doc_id: r for r in decode_image_meta(enc, fake=False).collect()}
    r7 = out[7]
    w, h = 7 % 24 + 8, (7 * 7) % 24 + 8
    assert (r7.width, r7.height, r7.maxval, r7.fmt, r7.ok) == \
        (w, h, 255, "ppm", True)
    assert r7.px_first == len("hello world") % 256
    assert r7.px_last == (len("hello world") + w * h * 3 - 1) % 256
    assert r7.n_bytes == len(blob)
    r12 = out[12]
    assert r12.px_first == 300 % 256 and r12.ok
    # malformed payloads: ok=False, no exception
    junk = spark.createDataFrame([(1, bytearray(b"NOTPPM")),
                                  (2, bytearray(b"P6\n9 9\n255\nxx"))],
                                 "doc_id long, payload binary")
    rows = {r.doc_id: r for r in
            decode_image_meta(junk, fake=False).collect()}
    assert not rows[1].ok and rows[1].fmt is None
    assert not rows[2].ok   # truncated raster


def test_continuous_dedup_mor_mode_equals_cow(spark, tmp_path):
    """mode='mor' epochs (O(batch) delta appends, reconcile-at-read) must
    land the same standing truth as CoW epochs, survive a mid-stream
    compaction, and skip re-delivered keys."""
    from cdc.stream.dedup import dedup_tables, ingest_dedup_batch
    from cdc.table.maintenance import compact

    cow_b, cow_g = dedup_tables(str(tmp_path / "cb"), str(tmp_path / "cg"),
                                n_partitions=4)
    mor_b, mor_g = dedup_tables(str(tmp_path / "mb"), str(tmp_path / "mg"),
                                n_partitions=4)
    batches = [list(range(0, 15)), list(range(100, 115)),
               list(range(200, 215))]
    for k, ids in enumerate(batches):
        ingest_dedup_batch(spark, cow_b, cow_g, _mk(spark, ids), f"e{k}")
        ingest_dedup_batch(spark, mor_b, mor_g, _mk(spark, ids), f"e{k}",
                           mode="mor")
        if k == 1:
            compact(spark, mor_b)
            compact(spark, mor_g)

    def standing(g):
        return {(r.doc_id, r.grp) for r in
                g.read(spark).select("doc_id", "grp").collect()}

    assert standing(mor_g) == standing(cow_g) and standing(cow_g)
    # delta layers really were used (post-compaction epoch is a delta)
    assert any(f.get("kind") == "delta"
               for f in mor_g.current_snapshot()["files"])
    # exactly-once under mor
    snap = mor_g.current_snapshot()["snapshot_id"]
    ingest_dedup_batch(spark, mor_b, mor_g, _mk(spark, batches[-1]), "e2",
                       mode="mor")
    assert mor_g.current_snapshot()["snapshot_id"] == snap


def test_grouped_replay_timestamp_shaped_batch_ids(spark, tmp_path):
    """Regression (round-4 review): a producer stamping batch_id from a
    timestamp gives a huge sparse VALUE range — grouping must be over
    present ids, never a value-range loop."""
    from cdc.pipeline import replay
    from cdc.table.table import CdcTable
    from cdc.testing.gen import gen_change_events, write_change_log

    ev = gen_change_events(spark, n_keys=20, mean_events_per_key=2, seed=9)
    ev = ev.withColumn(
        "batch_id",
        F.when(F.col("lsn") % 2 == 0, F.lit(0))
        .otherwise(F.lit(1_700_000_000_000)).cast("long"))
    log_dir = str(tmp_path / "log")
    write_change_log(ev, log_dir, events_per_file=200)
    t = CdcTable(str(tmp_path / "tab"), n_partitions=4, layout="key_hash")
    res = replay(spark, log_dir, t, batches_per_commit=2, metrics=False)
    assert res.n_commits == 1
    assert res.batch_keys == ["grp-00000000-1700000000000"]
    full = CdcTable(str(tmp_path / "t2"), n_partitions=4, layout="key_hash")
    replay(spark, log_dir, full, metrics=False)
    assert ({tuple(r) for r in t.read(spark)
             .select("repo", "path", "content").collect()}
            == {tuple(r) for r in full.read(spark)
                .select("repo", "path", "content").collect()})


def test_dedup_tables_refuses_legacy_layout(spark, tmp_path):
    """A band table partitioned by its key (the pre-bucket layout) cannot
    serve the bucket probe: dedup_tables refuses it, naming the fix."""
    from cdc.stream.dedup import dedup_tables
    from cdc.table.table import CdcTable

    broot = str(tmp_path / "b")
    legacy = CdcTable(broot, key_cols=("doc_id", "band"), n_partitions=4,
                      layout="key_hash")
    legacy.commit_merge(spark, spark.createDataFrame(
        [(1, 0, "bk0", 1, "U")],
        "doc_id long, band int, bucket string, lsn long, op string")
        .withColumn("ts", F.timestamp_seconds(F.col("lsn")))
        .withColumn("batch_id", F.lit("e0")), "e0")
    with pytest.raises(ValueError, match="rebuild"):
        dedup_tables(broot, str(tmp_path / "g"), n_partitions=4)


@pytest.mark.slow
def test_continuous_dedup_mor_with_compaction_cadence(spark, tmp_path):
    """mode='mor' + compact_every: the stream folds its own delta layers
    on cadence and the drained state still equals one-shot CC."""
    from cdc.cc import connected_components
    from cdc.lsh import minhash_pairs
    from cdc.stream.dedup import continuous_dedup, dedup_tables

    src = tmp_path / "docs"
    src.mkdir()
    batches = [list(range(0, 15)), list(range(100, 115)),
               list(range(200, 215))]
    for k, ids in enumerate(batches):
        _mk(spark, ids).coalesce(1).write.parquet(str(src / f"f{k}"))
    bands, groups = dedup_tables(str(tmp_path / "b"), str(tmp_path / "g"),
                                 n_partitions=4)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    continuous_dedup(spark, stream, bands, groups,
                     checkpoint_dir=str(tmp_path / "ckpt"),
                     mode="mor", compact_every=2)
    all_ids = [i for ids in batches for i in ids]
    oneshot = {(r.id, r.grp) for r in connected_components(
        minhash_pairs(_mk(spark, all_ids)),
        src="doc_a", dst="doc_b").collect()}
    standing = {(r.doc_id, r.grp) for r in
                groups.read(spark).select("doc_id", "grp").collect()}
    assert standing == oneshot and oneshot
    # the cadence really compacted: a 'compact' operation is in history
    assert any(s["operation"] == "compact" for s in groups.snapshots())
