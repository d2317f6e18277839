"""Round-5 pins for the ADVICE r4 fixes: Bloom picklability after use,
IvfIndex None-guards, PQ carry-over through retrain_into, and the ingest
refusal on a codes-bearing table with no codebooks."""

from __future__ import annotations

import pickle

import pytest
from pyspark.sql import functions as F


def _vecs(spark, ids, dim=8):
    rows = [(i, [float((i * (k + 3) * 37) % 101 + 1) / 102.0
                 for k in range(dim)]) for i in ids]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_bloom_picklable_after_broadcast(spark):
    """ADVICE r4: a Bloom that has already shipped its broadcast must stay
    picklable (UDF closures / persistence) — the cached (SparkContext,
    Broadcast) pair is identity state and must drop out of the pickle."""
    from cdc.bloom import Bloom, bloom_prefilter, build_bloom

    df = spark.range(100).select(F.col("id").cast("string").alias("v"))
    bloom = build_bloom(df, "v", expected=100)
    # first use caches the broadcast on the instance
    assert bloom_prefilter(df, "v", bloom).count() == 100
    clone = pickle.loads(pickle.dumps(bloom))
    assert isinstance(clone, Bloom)
    assert clone.n_bits == bloom.n_bits
    assert (clone.words == bloom.words).all()
    # and the clone probes correctly (fresh broadcast on first use)
    assert bloom_prefilter(df, "v", clone).count() == 100


def test_ivf_stats_empty_index(spark, tmp_path):
    """ADVICE r4: assignment()/assignment_stats() on an index with no
    commits return empty results, not AttributeError."""
    from cdc.ann import IvfIndex

    idx = IvfIndex(str(tmp_path / "ivf"), n_partitions=4)
    assert idx.assignment(spark) is None
    assert idx.assignment_stats(spark).count() == 0


def test_retrain_into_carries_pq(spark, tmp_path):
    """ADVICE r4: retraining an IVF-PQ index must re-train the codebooks
    too — the cutover index keeps answering adc=True searches."""
    from cdc.ann import IvfIndex, retrain_into

    idx = IvfIndex(str(tmp_path / "a"), n_partitions=4)
    idx.train_on(spark, _vecs(spark, range(40)), "t0", n_centroids=4,
                 pq_m=4, pq_k=8, dim=8)
    new = retrain_into(spark, idx, str(tmp_path / "b"), n_centroids=4)
    cb = new.pq_codebooks(spark)
    assert cb is not None and len(cb) == 4 and len(cb[0]) == 8
    q = _vecs(spark, [3])
    got = new.search(spark, q, k=3, adc=True)
    assert got.count() == 3


def test_ingest_refuses_codes_without_codebooks(spark, tmp_path):
    """ADVICE r4: a codes-bearing table whose PQ property vanished must
    refuse ingest (NULL-code rows would silently mis-rank in ADC)."""
    from cdc.ann import PQ_PROP, IvfIndex
    from cdc.table import alter

    idx = IvfIndex(str(tmp_path / "ivf"), n_partitions=4)
    idx.train_on(spark, _vecs(spark, range(20)), "t0", n_centroids=2,
                 pq_m=4, pq_k=4, dim=8)
    alter.unset_property(idx.table, PQ_PROP)
    with pytest.raises(ValueError, match="codes"):
        idx.ingest(spark, _vecs(spark, range(100, 110)), "b1")


def test_quantizer_artifact_sidefile(spark, tmp_path):
    """VERDICT r4 #4: quantizer + PQ codebooks live in an IMMUTABLE side
    file, not inline in snapshot properties — per-ingest snapshot bytes
    must be independent of C·dim, time travel pins the artifact path,
    legacy inline properties still read, and vacuum keeps referenced
    artifacts while removing orphaned ones."""
    import glob
    import json
    import os

    from cdc.ann import CENTROIDS_PROP, IvfIndex
    from cdc.meta import store
    from cdc.table.maintenance import vacuum_orphans

    def snap_bytes(idx):
        snap = idx.table.current_snapshot()
        return os.path.getsize(
            store.snap_path(idx.table.root, snap["snapshot_id"]))

    small = IvfIndex(str(tmp_path / "s"), n_partitions=4)
    small.train_on(spark, _vecs(spark, range(30), dim=8), "t0",
                   n_centroids=2)
    big = IvfIndex(str(tmp_path / "b"), n_partitions=4)
    big.train_on(spark, _vecs(spark, range(80), dim=64), "t0",
                 n_centroids=32, pq_m=8, pq_k=16, dim=64)
    small.ingest(spark, _vecs(spark, range(100, 110), dim=8), "b1")
    big.ingest(spark, _vecs(spark, range(100, 110), dim=64), "b1")
    # a 32x64 quantizer + 8x16x8 codebooks inline would dwarf the small
    # snapshot; as artifact refs the two snapshots are within noise
    assert abs(snap_bytes(big) - snap_bytes(small)) < 2048
    ref = big.table.current_snapshot()["properties"][CENTROIDS_PROP]
    assert ref.startswith(store.ARTIFACT_REF)
    arts = glob.glob(os.path.join(store.meta_dir(big.table.root),
                                  "artifact-*.json"))
    assert len(arts) == 2   # centroids + codebooks, written ONCE
    # search still works end-to-end through the artifact read (C=32 over
    # 80 vectors: a probed cluster may hold fewer than k members)
    assert big.search(spark, _vecs(spark, [3], dim=64), k=3, nprobe=4,
                      adc=True).count() >= 1

    # an inline (non-artifact) property value is refused, naming the property
    from cdc.table import alter
    inline = json.dumps([{"cid": 0, "cemb": [0.1] * 8},
                         {"cid": 1, "cemb": [0.9] * 8}])
    alter.set_property(small.table, CENTROIDS_PROP, inline)
    with pytest.raises(ValueError, match=CENTROIDS_PROP):
        small.centroids(spark)

    # vacuum: referenced artifacts survive, an orphan goes
    orphan = os.path.join(store.meta_dir(big.table.root),
                          "artifact-zzz-dead.json")
    with open(orphan, "w") as f:
        f.write("[]")
    gone = vacuum_orphans(big.table)
    assert "artifact-zzz-dead.json" in gone
    assert all(os.path.exists(a) for a in arts)


def _chg(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, op string, embedding array<float>, "
              "embedding_pre array<float>")


def test_ivf_ingest_changes_ud(spark, tmp_path):
    """Updates and deletes through the standing IVF index: deletes
    tombstone in their OLD centroid partition, a centroid-crossing update
    is retire-then-insert, search never returns a deleted or moved-away
    row, and the part_cols layout stays verifiably clean."""
    from cdc.ann import IvfIndex
    from cdc.table.maintenance import verify_table
    from cdc.vectors import ivf_assign

    idx = IvfIndex(str(tmp_path / "ivf"), n_partitions=4)
    vecs = _vecs(spark, range(40))
    idx.train_on(spark, vecs, "t0", n_centroids=4)
    cent = idx.centroids(spark)
    by_c = {r["vec_id"]: r["centroid"] for r in
            ivf_assign(vecs, cent).collect()}
    # a vector whose embedding becomes another cluster's member must move
    mover = next(i for i in range(40) if by_c[i] != by_c[0])
    emb = {r["vec_id"]: list(r["embedding"]) for r in vecs.collect()}
    post = emb[0]                      # mover adopts cluster-of-0's point
    ch = _chg(spark, [
        (5, "D", None, emb[5]),
        (7, "D", None, emb[7]),
        (mover, "U", post, emb[mover]),
        (11, "U", emb[11], emb[11]),               # same-centroid upsert
        (100, "I", emb[1], None),                  # brand-new vector
    ])
    idx.ingest_changes(spark, ch, "c1")

    rows = {r["vec_id"]: r["centroid"]
            for r in idx.table.read(spark).collect()}
    assert 5 not in rows and 7 not in rows
    assert rows[mover] == by_c[0] and rows[100] == by_c[1]
    assert len([v for v in rows if v == mover]) == 1
    got = idx.search(spark, _vecs(spark, range(40)), k=3, nprobe=4)
    assert not {r["vec_id"] for r in got.collect()} & {5, 7}
    res = verify_table(spark, idx.table, check_data=True)
    assert res["ok"], res["errors"]

    snap = idx.table.current_snapshot()["snapshot_id"]
    idx.ingest_changes(spark, ch, "c1")            # re-delivered epoch
    assert idx.table.current_snapshot()["snapshot_id"] == snap


def test_ivf_ingest_changes_requires_pre_for_delete(spark, tmp_path):
    from cdc.ann import IvfIndex

    idx = IvfIndex(str(tmp_path / "ivf"), n_partitions=4)
    idx.train_on(spark, _vecs(spark, range(20)), "t0", n_centroids=2)
    with pytest.raises(ValueError, match="embedding_pre"):
        idx.ingest_changes(spark, _chg(spark, [(3, "D", None, None)]), "c1")


# -- part_cols contract enforcement (VERDICT r4 next-round #2) -----------------

def _band_batch(spark, rows, key="b0"):
    """rows: (doc_id, band, bucket, lsn, op)."""
    return (spark.createDataFrame(
        rows, "doc_id long, band int, bucket string, lsn long, op string")
        .withColumn("ts", F.timestamp_seconds(F.col("lsn")))
        .withColumn("batch_id", F.lit(key)))


def _bands_table(tmp_path, name="t", **kw):
    from cdc.table.table import CdcTable
    return CdcTable(str(tmp_path / name), key_cols=("doc_id", "band"),
                    n_partitions=8, layout="key_hash",
                    part_cols=("band", "bucket"), **kw)


def test_part_guard_rejects_in_batch_violations(spark, tmp_path):
    """A batch carrying one key under two partition values, or a live row
    with a NULL part column, must be refused LOUDLY at commit time."""
    t = _bands_table(tmp_path)
    two = _band_batch(spark, [(1, 0, "bk1", 1, "U"), (1, 0, "bk2", 1, "U")])
    with pytest.raises(ValueError, match="two different partition values"):
        t.commit_merge(spark, two, "b0")
    with pytest.raises(ValueError, match="two different partition values"):
        t.commit_delta(spark, two, "b0")
    nul = _band_batch(spark, [(1, 0, None, 1, "U")])
    with pytest.raises(ValueError, match="NULL partition column"):
        t.commit_merge(spark, nul, "b0")
    # a delete plus an insert of the same key in ONE batch is also refused
    # (the sanctioned move is retire THEN insert, two commits)
    ok = _band_batch(spark, [(1, 0, "bk1", 1, "U"), (2, 1, "bk9", 1, "U")])
    t.commit_merge(spark, ok, "b0")
    assert t.read(spark).count() == 2


def test_tombstone_keeps_part_cols_and_mor_retires(spark, tmp_path):
    """A 'D' row on a part-override table must KEEP its routing columns so
    the tombstone lands in (and retires) the live row's partition — CoW
    and MOR both; then a later insert under a NEW bucket is the sanctioned
    key move and verify_table stays clean."""
    from cdc.table.maintenance import verify_table

    for mode in ("cow", "mor"):
        t = _bands_table(tmp_path, name=f"t_{mode}")
        t.commit_merge(spark, _band_batch(spark, [(1, 0, "old", 1, "U"),
                                                  (2, 0, "x", 1, "U")]), "b0")
        dele = _band_batch(spark, [(1, 0, "old", 2, "D")])
        if mode == "cow":
            t.commit_merge(spark, dele, "b1")
        else:
            t.commit_delta(spark, dele, "b1")
        # live read: key 1 gone, key 2 intact
        assert {r.doc_id for r in t.read(spark).collect()} == {2}
        dead = (t.read(spark, include_deleted=True)
                .filter("doc_id = 1").collect())
        assert len(dead) == 1 and dead[0]["bucket"] == "old"
        # the tombstone sits in the OLD bucket's partition
        assert dead[0]["part"] is not None
        # move: insert under the new bucket (separate commit)
        t.commit_merge(spark, _band_batch(spark, [(1, 0, "new", 3, "U")]),
                       "b2")
        live = {(r.doc_id, r.bucket) for r in t.read(spark).collect()}
        assert live == {(1, "new"), (2, "x")}
        res = verify_table(spark, t, check_data=True)
        assert res["ok"], res["errors"]


def test_verify_table_detects_cross_commit_move(spark, tmp_path):
    """The cross-commit contract violation (same key live in two
    partitions — two one-row commits, each of which the in-batch guard
    passes) must be caught by verify_table's data tier."""
    from cdc.table.maintenance import verify_table

    t = _bands_table(tmp_path)
    # find two buckets hashing to DIFFERENT partitions for the same key
    probe = spark.createDataFrame(
        [(1, 0, f"bk{i}") for i in range(20)],
        "doc_id long, band int, bucket string")
    parts = {r["bucket"]: r["p"] for r in
             probe.withColumn("p", t.part_of()).collect()}
    b1 = "bk0"
    b2 = next(b for b, p in parts.items() if p != parts[b1])
    t.commit_merge(spark, _band_batch(spark, [(1, 0, b1, 1, "U")]), "b0")
    t.commit_merge(spark, _band_batch(spark, [(1, 0, b2, 2, "U")]), "b1")
    # the key is now silently live twice
    assert t.read(spark).filter("doc_id = 1").count() == 2
    res = verify_table(spark, t, check_data=True)
    assert not res["ok"]
    assert any("more than one partition" in e for e in res["errors"])
    # the guard refuses only the in-batch form (both buckets in one
    # batch); the cross-commit form is exactly why this check exists
    with pytest.raises(ValueError, match="two different partition values"):
        t.commit_merge(spark, _band_batch(spark, [(3, 0, b1, 3, "U"),
                                                  (3, 0, b2, 3, "U")]), "b2")


# -- honest PPM resize (VERDICT r4 next-round #5) -------------------------------

def test_resize_payload_honest_for_ppm(spark):
    """A real P6 payload is resized over its PARSED raster (header dims,
    2-D pixel stride) and re-encoded as a valid PPM; non-PPM payloads
    keep the fake-tier byte arithmetic."""
    from cdc.mm import decode_ppm_meta, resize_payload, with_ppm_payload

    d = spark.createDataFrame([(10, "abc" * 9)], "doc_id long, text string")
    # id 10 -> w = 10%24+8 = 18, h = (70%24)+8 = 30; target 8 -> stride 3
    src = with_ppm_payload(d)
    out = resize_payload(src, target=8).collect()[0]
    assert out["stride"] == 3
    assert (out["out_w"], out["out_h"]) == (6, 10)  # ceil(18/3), ceil(30/3)
    rd = decode_ppm_meta(
        spark.createDataFrame([(10, bytes(out["resized"]))],
                              "doc_id long, payload binary")).collect()[0]
    assert rd["ok"] and (rd["width"], rd["height"]) == (6, 10)
    base = len("abc" * 9) % 256
    assert rd["px_first"] == base                       # pixel (0,0) survives
    # last sampled pixel: row 27, col 15 of the 18-wide raster, blue channel
    assert rd["px_last"] == (base + (27 * 18 + 15) * 3 + 2) % 256

    fake = resize_payload(
        spark.createDataFrame([(1, "z" * 300)], "doc_id long, text string")
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    ).collect()[0]
    assert fake["stride"] == 2 and fake["resized_bytes"] == 150


# -- exact_ntile driver-collect guard (VERDICT r4 next-round #6) -----------------

def test_exact_ntile_guards_unreduced_values(spark):
    """exact_ntile collects the VALUE-frequency table driver-side — valid
    only for reduced value columns. A high-cardinality column fails fast
    with the windowed-fallback pointer instead of OOMing the driver."""
    from cdc.skew import exact_ntile

    counts = spark.range(500).select(
        F.col("id").alias("user_id"), F.col("id").alias("n"))
    with pytest.raises(ValueError, match="distinct values"):
        exact_ntile(counts, 10, tiebreak_cols=("user_id",),
                    max_distinct_values=100)
    # forcing through (and the default bound) still computes exact tiles
    out = exact_ntile(counts, 10, tiebreak_cols=("user_id",),
                      max_distinct_values=None)
    sizes = {r["ntile"]: r["c"] for r in
             out.groupBy("ntile").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert sizes == {i: 50 for i in range(1, 11)}


# -- real compressed PNG decode (closes the codec seam for one format) ----------

def test_png_roundtrip_and_malformed(spark):
    """with_png_payload emits genuine zlib-compressed PNGs (per-row
    filters cycle all 5 types); decode_png_meta inflates + unfilters back
    to exact pixels. Truncation, bad magic and unsupported profiles come
    back ok=false instead of raising."""
    from cdc.mm import PNG_MAGIC, decode_png_meta, with_png_payload

    d = spark.createDataFrame([(9, "qrs" * 11), (40, "x")],
                              "doc_id long, text string")
    enc = {r["doc_id"]: bytes(r["payload"]) for r in
           with_png_payload(d).collect()}
    assert all(p[:8] == PNG_MAGIC for p in enc.values())
    good = decode_png_meta(
        spark.createDataFrame([(k, v) for k, v in enc.items()],
                              "doc_id long, payload binary"))
    rows = {r["doc_id"]: r for r in good.collect()}
    # id 9 -> 17x23 (h tall enough that rows hit every filter type)
    assert (rows[9]["width"], rows[9]["height"]) == (17, 23)
    base = (len("qrs" * 11)) % 256
    assert rows[9]["px_first"] == base
    assert rows[9]["px_last"] == (base + 17 * 23 * 3 - 1) % 256
    assert rows[40]["ok"] and rows[40]["fmt"] == "png"

    bad = [(1, enc[9][:40]),                       # truncated mid-chunk
           (2, b"\x89PNX" + enc[9][4:]),           # bad magic
           (3, enc[9][:30] + b"\x00" * 20),        # IDAT garbage
           (4, None)]                              # NULL payload
    out = {r["doc_id"]: r for r in decode_png_meta(
        spark.createDataFrame(bad, "doc_id long, payload binary")).collect()}
    assert not any(out[i]["ok"] for i in (1, 2, 3, 4))
    assert out[2]["width"] is None


def test_resize_payload_honest_for_png(spark):
    """resize_payload decodes a genuine PNG (inflate + unfilter) before
    the 2-D pixel stride — the output is a valid P6 whose dims and
    sampled pixels match the PPM path exactly (same raster generator),
    so the honest tier covers both the raw and the compressed codec."""
    from cdc.mm import decode_ppm_meta, resize_payload, with_png_payload

    d = spark.createDataFrame([(10, "abc" * 9)], "doc_id long, text string")
    # id 10 -> w = 18, h = 30; target 8 -> stride 3 (same as the PPM test)
    out = resize_payload(with_png_payload(d), target=8).collect()[0]
    assert (out["out_w"], out["out_h"]) == (6, 10)
    rd = decode_ppm_meta(
        spark.createDataFrame([(10, bytes(out["resized"]))],
                              "doc_id long, payload binary")).collect()[0]
    base = len("abc" * 9) % 256
    assert rd["ok"] and (rd["width"], rd["height"]) == (6, 10)
    assert rd["px_first"] == base
    assert rd["px_last"] == (base + (27 * 18 + 15) * 3 + 2) % 256


# -- round-5 code-review fixes ---------------------------------------------------

def test_part_guard_compares_values_not_partition_ids(spark, tmp_path):
    """Two part values that collide mod n_partitions are still an in-batch
    contract violation (the merge would emit two live rows for one key) —
    the guard must compare VALUES, not the derived partition id; and a
    tombstone with a NULL routing column can never meet the live row it
    retires (silent delete loss under MOR) — refused too."""
    t = _bands_table(tmp_path)
    probe = spark.createDataFrame([(1, 0, f"bk{i}") for i in range(40)],
                                  "doc_id long, band int, bucket string")
    parts = {r["bucket"]: r["p"]
             for r in probe.withColumn("p", t.part_of()).collect()}
    b1 = "bk0"
    b2 = next(b for b, p in parts.items() if b != b1 and p == parts[b1])
    two = _band_batch(spark, [(1, 0, b1, 1, "U"), (1, 0, b2, 1, "U")])
    with pytest.raises(ValueError, match="two different partition values"):
        t.commit_merge(spark, two, "b0")
    nul_d = _band_batch(spark, [(1, 0, None, 2, "D")])
    with pytest.raises(ValueError, match="NULL partition column"):
        t.commit_delta(spark, nul_d, "b1")


def test_png_zero_dim_is_malformed(spark):
    """A structurally valid PNG whose IHDR declares a zero dimension must
    come back ok=false (NOT crash the mapInPandas task on raster[0])."""
    import binascii
    import struct as _s
    import zlib

    from cdc.mm import _parse_png, decode_png_meta

    def chunk(typ, data):
        return (_s.pack(">I", len(data)) + typ + data
                + _s.pack(">I", binascii.crc32(typ + data)))

    ihdr = _s.pack(">IIBBBBB", 1, 0, 8, 2, 0, 0, 0)   # w=1, h=0
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(b"")) + chunk(b"IEND", b""))
    assert _parse_png(png) is None
    df = spark.createDataFrame([(1, bytearray(png))],
                               "doc_id long, payload binary")
    row = decode_png_meta(df).collect()[0]
    assert row["ok"] is False and row["width"] is None


def test_retrain_adds_pq_on_nondefault_dim(spark, tmp_path):
    """Adding PQ at retrain time on an index with NO prior codebooks must
    measure dim from the standing embeddings (a hardcoded 64 would slice
    16-wide subvectors out of 8-element arrays)."""
    from cdc.ann import IvfIndex, retrain_into

    idx = IvfIndex(str(tmp_path / "a"), n_partitions=4)
    idx.train_on(spark, _vecs(spark, range(30)), "t0", n_centroids=2, dim=8)
    new = retrain_into(spark, idx, str(tmp_path / "b"), n_centroids=2,
                       pq_m=4, pq_k=4)
    cb = new.pq_codebooks(spark)
    assert cb is not None and len(cb) == 4 and len(cb[0]) == 4
    assert len(cb[0][0]) == 2          # 8 dims / 4 subspaces
    assert new.search(spark, _vecs(spark, [3]), k=3, adc=True).count() == 3
