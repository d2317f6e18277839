"""Standing IVF index (cdc.ann): incremental ingest, partition-pruned
search, quantizer persistence, crash-heal, retrain seam."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc.ann import CENTROIDS_PROP, IvfIndex, retrain_into
from cdc.table.table import CdcTable
from cdc.vectors import ivf_search, ivf_train


def _vecs(spark, ids, dim=8):
    rows = [(i, [float((i * (k + 3) * 37) % 101 + 1) / 102.0
                 for k in range(dim)]) for i in ids]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture()
def idx(spark, tmp_path):
    ix = IvfIndex(str(tmp_path / "ivf"), n_partitions=8)
    ix.train_on(spark, _vecs(spark, range(0, 40)), "base",
                n_centroids=4, iters=1)
    ix.ingest(spark, _vecs(spark, range(100, 120)), "e1")
    return ix


def test_standing_search_equals_oneshot(spark, idx):
    """Search over the standing table == vectors.ivf_search over the same
    corpus with the same quantizer, for nprobe 1 and 2."""
    allv = _vecs(spark, list(range(0, 40)) + list(range(100, 120)))
    cent = idx.centroids(spark)
    q = _vecs(spark, range(0, 10))
    for nprobe in (1, 2):
        want = {tuple(r) for r in
                ivf_search(q, allv, cent, k=3, nprobe=nprobe).collect()}
        got = {tuple(r) for r in
               idx.search(spark, q, k=3, nprobe=nprobe).collect()}
        assert got == want and got


def test_search_reads_only_probed_partitions(spark, idx, monkeypatch):
    """The standing search must manifest-prune to the probed centroids'
    partitions — fewer files than the table holds."""
    reads = []
    orig = CdcTable._scan

    # every table read plans through _scan, lookup_keys probes included
    def spy(self, spark_, snap, parts=None, *a, **kw):
        reads.append(parts)
        return orig(self, spark_, snap, parts, *a, **kw)

    monkeypatch.setattr(CdcTable, "_scan", spy)
    idx.search(spark, _vecs(spark, [5]), k=3, nprobe=1).collect()
    pruned = [p for p in reads if p is not None]
    assert pruned and len(pruned[0]) < idx.table.n_partitions
    part_set = set(pruned[0])
    files = idx.table.current_snapshot()["files"]
    n_read = sum(1 for f in files if int(f["part"]) in part_set)
    assert 0 < n_read < len(files)


def test_ingest_exactly_once_and_assignment_immutable(spark, idx):
    """Re-delivered epochs no-op; re-ingesting a known vector lands the
    SAME centroid (the part_cols immutability contract)."""
    snap = idx.table.current_snapshot()["snapshot_id"]
    idx.ingest(spark, _vecs(spark, range(100, 120)), "e1")
    assert idx.table.current_snapshot()["snapshot_id"] == snap
    before = {r.vec_id: r.centroid
              for r in idx.assignment(spark).collect()}
    idx.ingest(spark, _vecs(spark, range(100, 110)), "e2")
    after = {r.vec_id: r.centroid for r in idx.assignment(spark).collect()}
    assert after == before   # same vectors -> same centroids, no dups


def test_train_crash_heal(spark, tmp_path):
    """Crash between the assignment commit and the property commit:
    replaying train_on re-derives the SAME quantizer from committed
    state and lands the property."""
    ix = IvfIndex(str(tmp_path / "ivf"), n_partitions=4)
    base = _vecs(spark, range(0, 30))
    cent = ivf_train(base, 4, iters=1)
    ix._commit_assigned(spark, base, cent, "base")   # property never lands
    assert ix.centroids(spark) is None
    ix.train_on(spark, base, "base", n_centroids=4, iters=1)
    got = {r.cid: list(r.cemb) for r in ix.centroids(spark).collect()}
    want = {r.cid: list(r.cemb) for r in cent.collect()}
    assert got == want
    # time travel: the property is versioned with the snapshots
    snap = ix.table.current_snapshot()
    assert CENTROIDS_PROP in snap["properties"]


def test_untrained_ingest_refused(spark, tmp_path):
    ix = IvfIndex(str(tmp_path / "ivf"), n_partitions=4)
    with pytest.raises(ValueError, match="quantizer"):
        ix.ingest(spark, _vecs(spark, range(5)), "e0")


def test_retrain_into_fresh_root(spark, idx, tmp_path):
    """The drift seam: rebuild with a larger quantizer into a new root;
    old index stays readable, new one covers the same vectors."""
    new = retrain_into(spark, idx, str(tmp_path / "ivf2"),
                       n_centroids=8, iters=1)
    assert new.centroids(spark).count() == 8
    assert (new.assignment(spark).count()
            == idx.assignment(spark).count() == 60)
    stats = {r.centroid: r.n_vectors
             for r in new.assignment_stats(spark).collect()}
    assert sum(stats.values()) == 60
    # old quantizer untouched
    assert idx.centroids(spark).count() == 4


# -- product quantization ------------------------------------------------------

def test_pq_encode_is_mapside_and_compact(spark):
    """Encode must be one codegen pass (no Exchange in the plan) and every
    code must fit 4 bits (K=16) — the 64x memory-compression claim."""
    from cdc.vectors import pq_encode, pq_train

    vecs = _vecs(spark, range(0, 200), dim=64)
    cb = pq_train(vecs, iters=0)
    codes = pq_encode(vecs, cb)
    codes.collect()
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[-1500:]
    rows = codes.collect()
    assert all(0 <= c < 16 for r in rows for c in r.codes)
    assert all(len(r.codes) == 8 for r in rows)


def _clustered_vecs(spark, n, dim=64, clusters=10):
    """Vectors with real cluster structure (PQ's use case): cluster
    centers + a small deterministic per-vector perturbation."""
    rows = []
    for i in range(n):
        c = i % clusters
        rows.append((i, [float(((c + 1) * (k + 7) * 53) % 97 + 1) / 98.0
                         + 0.01 * float((i * (k + 3)) % 11) / 11.0
                         for k in range(dim)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.mark.slow
def test_pq_adc_recall_against_exact(spark):
    """ADC top-3 must substantially overlap the exact L2 top-3 on
    clustered vectors (recall < 1 by quantization design; unstructured
    noise is PQ's worst case and is not what it's for), and Lloyd
    refinement must not increase total quantization error."""
    from cdc.vectors import (_sq_dist, as_double, pq_adc_search, pq_encode,
                             pq_train)

    vecs = _clustered_vecs(spark, 150)
    q = _clustered_vecs(spark, 15)
    cb = pq_train(vecs, iters=0)
    codes = pq_encode(vecs, cb)
    got = pq_adc_search(q, codes, cb, topk=3).collect()
    # what quantized search promises: the retrieved neighbors come from
    # the query's cluster (exact within-cluster ORDER is below the
    # quantizer's resolution — the standard exact-re-rank seam)
    assert got
    cluster_hits = sum(1 for r in got if r.vec_id % 10 == r.qid % 10)
    assert cluster_hits / len(got) >= 0.9, cluster_hits / len(got)

    def qerr(cb_):
        c = pq_encode(vecs, cb_)
        from cdc.vectors import _cb_literal
        cbl = _cb_literal(cb_)
        e = as_double(F.col("embedding"))
        err = F.lit(0.0)
        for j in range(8):
            err = err + _sq_dist(F.slice(e, j * 8 + 1, 8),
                                 F.element_at(cbl[j], F.col("codes")[j] + 1))
        tot = (vecs.join(c, "vec_id").select(err.alias("e"))
               .agg(F.sum("e")).first()[0])
        return float(tot)

    e0, e2 = qerr(pq_train(vecs, iters=0)), qerr(pq_train(vecs, iters=2))
    assert e2 <= e0 + 1e-9, (e0, e2)


def test_ivfpq_adc_search_never_reads_embeddings(spark, tmp_path):
    """IVF-PQ: the standing index stores codes at ingest; ADC search must
    (a) match a hand-computed ADC ranking within the probed cluster and
    (b) column-prune the float embedding out of every parquet scan."""
    from cdc.ann import IvfIndex
    from cdc.vectors import ivf_assign, pq_adc_search, pq_encode

    ix = IvfIndex(str(tmp_path / "ivfpq"), n_partitions=8)
    base = _clustered_vecs(spark, 120)
    ix.train_on(spark, base, "base", n_centroids=4, iters=0, pq_m=8)
    ix.ingest(spark, _clustered_vecs(spark, 160).filter("vec_id >= 120"),
              "e1")

    q = _clustered_vecs(spark, 10)
    got = ix.search(spark, q, k=3, adc=True)
    rows = got.collect()
    assert rows and {r.qid for r in rows} == set(range(10))

    # (a) equals the composition of the one-shot pieces
    allv = _clustered_vecs(spark, 160)
    cent = ix.centroids(spark)
    cb = ix.pq_codebooks(spark)
    av = ivf_assign(allv, cent).select("vec_id", "centroid")
    codes = pq_encode(allv, cb).join(av, "vec_id")
    aq = ivf_assign(q, cent).select("vec_id", "embedding", "centroid")
    want = {tuple(r) for r in
            pq_adc_search(aq, codes, cb, topk=3,
                          partition_col="centroid").collect()}
    assert {tuple(r) for r in rows} == want

    # (b) no scan in the executed plan reads the embedding column
    got.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all("embedding" not in ln for ln in scans), scans


def test_train_crash_between_property_commits_heals_pq(spark, tmp_path):
    """Regression (round-4 review): a crash AFTER the centroid property
    but BEFORE the PQ property must heal on the train_on replay — the
    codebooks re-derive deterministically from committed state."""
    from cdc.table import alter
    from cdc.vectors import pq_train

    ix = IvfIndex(str(tmp_path / "ivfpq"), n_partitions=4)
    base = _clustered_vecs(spark, 60)
    # simulate the partial run: assignment (with codes) + centroids only
    cent = ivf_train(base.select("vec_id", "embedding"), 4, 0)
    cb = pq_train(base.select("vec_id", "embedding"), m=8, k=16, iters=0)
    ix._commit_assigned(spark, base, cent, "base", cb=cb)
    from cdc.meta import store
    alter.set_property(ix.table, CENTROIDS_PROP, store.write_artifact(
        ix.table.root, "ivf-centroids",
        [{"cid": r["cid"], "cemb": list(r["cemb"])}
         for r in sorted(cent.collect(), key=lambda r: r["cid"])]))
    assert ix.pq_codebooks(spark) is None
    # the replayed train_on must land the PQ property (same codebooks)
    ix.train_on(spark, base, "base", n_centroids=4, iters=0, pq_m=8)
    assert ix.pq_codebooks(spark) == cb
    got = ix.search(spark, _clustered_vecs(spark, 5), k=2, adc=True)
    assert got.count() > 0


def test_retrain_empty_index_raises_value_error(spark, tmp_path):
    """An index with no PQ codebooks and no live vectors gives retrain_into
    nothing to measure the embedding dim from: a descriptive ValueError,
    whether it was never committed or every vector was deleted."""
    never = IvfIndex(str(tmp_path / "never"), n_partitions=4)
    with pytest.raises(ValueError, match="embedding dim"):
        retrain_into(spark, never, str(tmp_path / "never2"))
    ix = IvfIndex(str(tmp_path / "ivf"), n_partitions=4)
    ix.train_on(spark, _vecs(spark, range(6)), "base", n_centroids=2)
    dels = _vecs(spark, range(6)).select(
        "vec_id", F.lit("D").alias("op"),
        F.lit(None).cast("array<float>").alias("embedding"),
        F.col("embedding").alias("embedding_pre"))
    ix.ingest_changes(spark, dels, "del-all")
    assert ix.table.read(spark).count() == 0
    with pytest.raises(ValueError, match="embedding dim"):
        retrain_into(spark, ix, str(tmp_path / "ivf2"))
