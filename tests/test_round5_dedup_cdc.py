"""Round-5 pins: document UPDATE/DELETE propagation through the standing
dedup state (VERDICT r4 weak flag / next-round #1) — retire+insert band
netting from pre/post images, affected-component rebuild (splits included),
the feed-maintained members index, and the op-typed streaming wrapper."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()


def _doc(i: int):
    base = i - (i % 100) if i % 4 == 0 else i
    return (i, " ".join(WORDS[base % 5:] * 3) + f" tail{base % 7}")


def _mk(spark, docs: dict):
    return spark.createDataFrame(sorted(docs.items()),
                                 "doc_id long, text string")


def _changes(spark, rows):
    """rows: (doc_id, op, text_post_or_None, text_pre_or_None)."""
    return spark.createDataFrame(
        rows, "doc_id long, op string, text string, text_pre string")


def _expected_groups(spark, docs: dict):
    """One-shot recompute over the FINAL corpus: bands -> pairs -> CC,
    singletons for docs in no pair — the oracle every standing state
    must equal after any change sequence."""
    from cdc.cc import connected_components
    from cdc.lsh import minhash_bands, pairs_from_bands

    df = _mk(spark, docs)
    b = minhash_bands(df)
    pairs = pairs_from_bands(b, b)
    comp = {(r.id, r.grp) for r in connected_components(
        pairs, src="doc_a", dst="doc_b").collect()}
    seen = {i for i, _ in comp}
    comp |= {(i, i) for i in docs if i not in seen}
    return comp


def _standing(groups, spark):
    return {(r.doc_id, r.grp) for r in
            groups.read(spark).select("doc_id", "grp").collect()}


def _fetcher(docs_df):
    def fetch(spark, ids):
        return docs_df.join(ids, "doc_id", "left_semi")
    return fetch


CLUSTER_TEXT = _doc(0)[1]          # the text every (i%4==0) doc shares


@pytest.fixture()
def pipeline(spark, tmp_path):
    """Initial corpus ids 0..39 ingested through the insert path, with a
    members index kept in lock-step."""
    from cdc.stream.dedup import (MINHASH, dedup_tables, ingest_dedup_batch,
                                  members_index)

    bands, groups = dedup_tables(str(tmp_path / "b"), str(tmp_path / "g"),
                                 n_partitions=4)
    docs = dict(_doc(i) for i in range(40))
    members = members_index(str(tmp_path / "m"), groups, n_partitions=4)
    ingest_dedup_batch(spark, bands, groups, _mk(spark, docs), "e0",
                       family=MINHASH, members=members)
    return bands, groups, members, docs


def test_apply_doc_changes_equals_recompute(spark, tmp_path, pipeline):
    """U (join cluster), U (leave cluster), D (cluster member), D
    (singleton), I (new duplicate) through apply_doc_changes == one-shot
    recompute over the FINAL corpus; bands carry no trace of deleted
    docs; the part_cols contract stays verifiably clean."""
    from cdc.stream.dedup import MINHASH, apply_doc_changes
    from cdc.table.maintenance import verify_table

    bands, groups, members, docs = pipeline
    assert _standing(groups, spark) == _expected_groups(spark, docs)

    final = dict(docs)
    final[1] = CLUSTER_TEXT                       # joins the dup cluster
    final[8] = "utterly novel replacement body"   # leaves the cluster
    del final[4], final[3]                        # cluster member + single
    final[200] = CLUSTER_TEXT                     # new doc, duplicate
    ch = _changes(spark, [
        (1, "U", CLUSTER_TEXT, docs[1]),
        (8, "U", final[8], docs[8]),
        (4, "D", None, docs[4]),
        (3, "D", None, docs[3]),
        (200, "I", CLUSTER_TEXT, None),
    ])
    apply_doc_changes(spark, bands, groups, ch, "c1", family=MINHASH,
                      fetch_docs=_fetcher(_mk(spark, final)),
                      members=members)

    assert _standing(groups, spark) == _expected_groups(spark, final)
    live_band_ids = {r.doc_id for r in
                     bands.read(spark).select("doc_id").distinct().collect()}
    assert 4 not in live_band_ids and 3 not in live_band_ids
    assert 200 in live_band_ids and 1 in live_band_ids
    for t in (bands, groups):
        res = verify_table(spark, t, check_data=True)
        assert res["ok"], res["errors"]

    # idempotent re-delivery: all three tables keep their snapshot ids
    snaps = [t.current_snapshot()["snapshot_id"]
             for t in (bands, groups, members)]
    apply_doc_changes(spark, bands, groups, ch, "c1", family=MINHASH,
                      fetch_docs=_fetcher(_mk(spark, final)),
                      members=members)
    assert snaps == [t.current_snapshot()["snapshot_id"]
                     for t in (bands, groups, members)]


@pytest.mark.slow
def test_apply_doc_changes_second_epoch_and_revert(spark, tmp_path, pipeline):
    """A second change epoch on top of the first (revert doc 1 back out of
    the cluster, delete the new duplicate) still equals the recompute —
    the retire netting handles bands that were themselves inserted by a
    previous change epoch."""
    from cdc.stream.dedup import MINHASH, apply_doc_changes

    bands, groups, members, docs = pipeline
    mid = dict(docs)
    mid[1] = CLUSTER_TEXT
    mid[200] = CLUSTER_TEXT
    apply_doc_changes(
        spark, bands, groups,
        _changes(spark, [(1, "U", CLUSTER_TEXT, docs[1]),
                         (200, "I", CLUSTER_TEXT, None)]),
        "c1", family=MINHASH, fetch_docs=_fetcher(_mk(spark, mid)),
        members=members)
    assert _standing(groups, spark) == _expected_groups(spark, mid)

    final = dict(mid)
    final[1] = docs[1]
    del final[200]
    apply_doc_changes(
        spark, bands, groups,
        _changes(spark, [(1, "U", docs[1], CLUSTER_TEXT),
                         (200, "D", None, CLUSTER_TEXT)]),
        "c2", family=MINHASH, fetch_docs=_fetcher(_mk(spark, final)),
        members=members)
    assert _standing(groups, spark) == _expected_groups(spark, final)


def test_members_index_matches_groups(spark, tmp_path, pipeline):
    """The feed-maintained inverted index equals the groups table
    transposed, after inserts AND after a change epoch."""
    from cdc.stream.dedup import MINHASH, apply_doc_changes

    bands, groups, members, docs = pipeline

    def inverted():
        return {(r.grp, r.doc_id) for r in
                members.read(spark).select("grp", "doc_id").collect()}

    assert inverted() == {(g, i) for i, g in _standing(groups, spark)}
    final = dict(docs)
    final[1] = CLUSTER_TEXT
    del final[4]
    apply_doc_changes(
        spark, bands, groups,
        _changes(spark, [(1, "U", CLUSTER_TEXT, docs[1]),
                         (4, "D", None, docs[4])]),
        "c1", family=MINHASH, fetch_docs=_fetcher(_mk(spark, final)),
        members=members)
    assert inverted() == {(g, i) for i, g in _standing(groups, spark)}


def test_apply_doc_changes_without_members_index(spark, tmp_path):
    """The index is an optimization, not a correctness dependency: the
    groups-scan fallback produces the same state."""
    from cdc.stream.dedup import (MINHASH, apply_doc_changes, dedup_tables,
                                  ingest_dedup_batch)

    bands, groups = dedup_tables(str(tmp_path / "b"), str(tmp_path / "g"),
                                 n_partitions=4)
    docs = dict(_doc(i) for i in range(24))
    ingest_dedup_batch(spark, bands, groups, _mk(spark, docs), "e0")
    final = dict(docs)
    final[2] = CLUSTER_TEXT
    del final[12]
    apply_doc_changes(
        spark, bands, groups,
        _changes(spark, [(2, "U", CLUSTER_TEXT, docs[2]),
                         (12, "D", None, docs[12])]),
        "c1", family=MINHASH, fetch_docs=_fetcher(_mk(spark, final)))
    assert _standing(groups, spark) == _expected_groups(spark, final)


def _chain_vec(deg: float, dim: int = 8):
    rad = math.radians(deg)
    return [math.cos(rad), math.sin(rad)] + [0.0] * (dim - 2)


def test_embed_delete_splits_component(spark, tmp_path):
    """The case grow-only incremental CC cannot express: deleting the
    BRIDGE vector of an A~B~C chain must SPLIT the component — the
    affected-component rebuild relabels A and C as singletons."""
    from cdc.stream.dedup import (EmbedFamily, apply_doc_changes,
                                  dedup_tables, ingest_dedup_batch,
                                  members_index)
    from cdc.table.table import CdcTable

    vectors = CdcTable(str(tmp_path / "v"), key_cols=("vec_id",),
                       n_partitions=4, layout="key_hash")
    family = EmbedFamily(vectors, threshold=0.9, dim=8)
    bands, groups = dedup_tables(str(tmp_path / "b"), str(tmp_path / "g"),
                                 n_partitions=4, family=family)
    members = members_index(str(tmp_path / "m"), groups, n_partitions=4)
    # cos(0,20)=.94 >= .9, cos(20,40)=.94 >= .9, cos(0,40)=.766 < .9
    rows = [(1, _chain_vec(0.0)), (2, _chain_vec(20.0)),
            (3, _chain_vec(40.0)), (9, _chain_vec(170.0))]
    vecs = spark.createDataFrame(rows,
                                 "vec_id long, embedding array<float>")
    ingest_dedup_batch(spark, bands, groups, vecs, "e0", family=family,
                       members=members)
    st = {(r.vec_id, r.grp) for r in groups.read(spark).collect()}
    # the chain must actually have formed, or the split test is vacuous
    # (vec 9 pairs with nothing, and the embed family only records docs
    # appearing in >=1 candidate pair — same as the insert path)
    assert st == {(1, 1), (2, 1), (3, 1)}

    ch = spark.createDataFrame(
        [(2, "D", None, _chain_vec(20.0))],
        "vec_id long, op string, embedding array<float>, "
        "embedding_pre array<float>")
    apply_doc_changes(spark, bands, groups, ch, "c1", family=family,
                      members=members)
    st = {(r.vec_id, r.grp) for r in groups.read(spark).collect()}
    assert st == {(1, 1), (3, 3)}
    # the vectors side table tombstoned the bridge
    assert {r.vec_id for r in vectors.read(spark).collect()} == {1, 3, 9}
    # and an UPDATE that re-bridges re-merges the component
    ch2 = spark.createDataFrame(
        [(9, "U", _chain_vec(20.0), _chain_vec(170.0))],
        "vec_id long, op string, embedding array<float>, "
        "embedding_pre array<float>")
    apply_doc_changes(spark, bands, groups, ch2, "c2", family=family,
                      members=members)
    st = {(r.vec_id, r.grp) for r in groups.read(spark).collect()}
    assert st == {(1, 1), (3, 1), (9, 1)}


def test_continuous_dedup_changes_stream(spark, tmp_path):
    """Drained op-typed stream == one-shot recompute on the final corpus;
    re-drain is a full no-op (exactly-once)."""
    from cdc.stream.dedup import (MINHASH, continuous_dedup_changes,
                                  dedup_tables, ingest_dedup_batch)

    bands, groups = dedup_tables(str(tmp_path / "b"), str(tmp_path / "g"),
                                 n_partitions=4)
    docs = dict(_doc(i) for i in range(20))
    ingest_dedup_batch(spark, bands, groups, _mk(spark, docs), "e0")

    final = dict(docs)
    final[5] = CLUSTER_TEXT
    del final[16]
    final[300] = "fresh streamed document body"
    src = tmp_path / "ch"
    src.mkdir()
    _changes(spark, [(5, "U", CLUSTER_TEXT, docs[5])]) \
        .coalesce(1).write.parquet(str(src / "f0"))
    _changes(spark, [(16, "D", None, docs[16]),
                     (300, "I", final[300], None)]) \
        .coalesce(1).write.parquet(str(src / "f1"))
    stream = (spark.readStream
              .schema("doc_id long, op string, text string, "
                      "text_pre string")
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    ckpt = str(tmp_path / "ckpt")
    fetch = _fetcher(_mk(spark, final))
    continuous_dedup_changes(spark, stream, bands, groups,
                             checkpoint_dir=ckpt, fetch_docs=fetch)
    assert _standing(groups, spark) == _expected_groups(spark, final)

    snaps = [t.current_snapshot()["snapshot_id"] for t in (bands, groups)]
    continuous_dedup_changes(spark, stream, bands, groups,
                             checkpoint_dir=ckpt, fetch_docs=fetch)
    assert snaps == [t.current_snapshot()["snapshot_id"]
                     for t in (bands, groups)]


def test_changes_stream_compacts_on_cadence(spark, tmp_path):
    """A 4-epoch MOR change stream with compact_every=2 compacts after
    epochs 1 and 3: no delta layer of bands or groups is older than the
    last compaction, and the drained state equals the one-shot
    recompute."""
    import re

    from cdc.stream.dedup import (continuous_dedup_changes, dedup_tables,
                                  ingest_dedup_batch)

    bands, groups = dedup_tables(str(tmp_path / "b"), str(tmp_path / "g"),
                                 n_partitions=4)
    docs = dict(_doc(i) for i in range(20))
    ingest_dedup_batch(spark, bands, groups, _mk(spark, docs), "e0",
                       mode="mor")
    final = dict(docs)
    final[5] = CLUSTER_TEXT
    del final[16]
    final[300] = "fresh streamed document body"
    final[7] = CLUSTER_TEXT
    epochs = [[(5, "U", CLUSTER_TEXT, docs[5])],
              [(16, "D", None, docs[16])],
              [(300, "I", final[300], None)],
              [(7, "U", CLUSTER_TEXT, docs[7])]]
    src = tmp_path / "ch"
    src.mkdir()
    for k, rows in enumerate(epochs):
        _changes(spark, rows).coalesce(1).write.parquet(str(src / f"f{k}"))
    stream = (spark.readStream
              .schema("doc_id long, op string, text string, "
                      "text_pre string")
              .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
    continuous_dedup_changes(spark, stream, bands, groups,
                             checkpoint_dir=str(tmp_path / "ckpt"),
                             fetch_docs=_fetcher(_mk(spark, final)),
                             mode="mor", compact_every=2)
    assert _standing(groups, spark) == _expected_groups(spark, final)
    for t in (bands, groups):
        snaps = t.snapshots()
        last = max(s["snapshot_id"] for s in snaps
                   if s["operation"] == "compact")
        assert sum(s["operation"] == "compact" for s in snaps) == 2
        delta_sids = [int(re.search(r"snap-(\d+)", f["path"]).group(1))
                      for f in t.current_snapshot()["files"]
                      if f.get("kind") == "delta"]
        assert all(sid > last for sid in delta_sids), (last, delta_sids)


def test_redelivery_fast_path_without_retire(spark, tmp_path, pipeline):
    """An epoch that retired nothing never commits '{key}-retire' — the
    re-delivery fast path must NOT require it ('-retire' commits strictly
    before '-bands', so a committed '-bands' implies the retire half is
    durable): a replayed no-retire epoch does zero recompute."""
    from cdc.stream.dedup import MinhashFamily, apply_doc_changes

    bands, groups, members, docs = pipeline

    class Counting(MinhashFamily):
        calls = 0

        def bands(self, d):
            Counting.calls += 1
            return super().bands(d)

    fam = Counting()
    docs[100] = "completely fresh words shared with nothing else at all"
    ch = _changes(spark, [(100, "I", docs[100], None)])   # insert-only
    fetch = _fetcher(_mk(spark, docs))
    apply_doc_changes(spark, bands, groups, ch, "cX", family=fam,
                      fetch_docs=fetch)
    assert Counting.calls > 0
    assert not bands.is_committed("cX-retire")    # nothing was retired
    Counting.calls = 0
    apply_doc_changes(spark, bands, groups, ch, "cX", family=fam,
                      fetch_docs=fetch)
    assert Counting.calls == 0                    # fast path hit
