"""M5 — streaming: batch replay ≡ stream replay, exactly-once restart,
windowed metrics (SURVEY.md §5.2 'streaming' layer)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc.pipeline import replay
from cdc.stream.metrics import session_bursts, sliding_counts, tumbling_counts
from cdc.stream.pipeline import stream_to_table
from cdc.table.table import CdcTable
from cdc.testing.gen import gen_change_events, write_change_log


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("streamlog"))
    ev = gen_change_events(spark, n_keys=800, mean_events_per_key=6, seed=5)
    # small files -> several non-empty micro-batches under maxFilesPerTrigger
    # (empty trailing epochs no longer commit, by design)
    write_change_log(ev, d, events_per_file=300)
    return d


def state_set(spark, table):
    df = table.read(spark)
    return {(r.repo, r.path, r._lsn, r._content_sha256)
            for r in df.select("repo", "path", "_lsn", "_content_sha256").collect()}


def test_stream_availablenow_equals_batch_replay(spark, log_dir, tmp_path):
    batch_table = CdcTable(str(tmp_path / "batch"), n_partitions=4)
    replay(spark, log_dir, batch_table, metrics=False)

    stream_table = CdcTable(str(tmp_path / "stream"), n_partitions=4)
    # small maxFilesPerTrigger forces MANY micro-batches -> exercises
    # cross-epoch LWW ordering and delete tombstones
    stream_to_table(spark, log_dir, stream_table, metrics=False,
                    max_files_per_trigger=2)
    assert len(stream_table.snapshots()) > 1, "expected multiple epochs"
    assert state_set(spark, stream_table) == state_set(spark, batch_table)


def test_stream_restart_is_noop(spark, log_dir, tmp_path):
    table = CdcTable(str(tmp_path / "t"), n_partitions=4)
    stream_to_table(spark, log_dir, table, metrics=False, max_files_per_trigger=4)
    snap1 = table.current_snapshot()
    # same checkpoint, no new files: restart must not commit anything new
    stream_to_table(spark, log_dir, table, metrics=False, max_files_per_trigger=4)
    snap2 = table.current_snapshot()
    assert snap1["snapshot_id"] == snap2["snapshot_id"]


def test_stream_then_tail_new_events(spark, log_dir, tmp_path):
    """Live-tail analog: drain the log, append more events, drain again."""
    table = CdcTable(str(tmp_path / "t2"), n_partitions=4)
    stream_to_table(spark, log_dir, table, metrics=False)
    hi1 = table.lsn_high()

    ev2 = gen_change_events(spark, n_keys=200, mean_events_per_key=3, seed=6)
    ev2 = ev2.withColumn("lsn", F.col("lsn") + hi1)
    write_change_log(ev2, log_dir + "/../tail2", events_per_file=1_000)
    # second stream over the new dir shares the table (fresh checkpoint)
    stream_to_table(spark, log_dir + "/../tail2", table, metrics=False,
                    checkpoint_dir=str(tmp_path / "ckpt2"))
    assert table.lsn_high() > hi1


def test_windowed_metrics_batch_equivalents(spark, log_dir):
    from cdc.io.log import read_log
    from cdc.schema.registry import default_registry

    ev = read_log(spark, log_dir, default_registry())
    n = ev.count()
    t = tumbling_counts(ev, "1 minute")
    assert t.agg(F.sum("n_events")).collect()[0][0] == n
    s = sliding_counts(ev, "5 minutes", "1 minute")
    # every event falls in width/slide = 5 overlapping windows
    assert s.agg(F.sum("n_events")).collect()[0][0] == 5 * n
    b = session_bursts(ev, "30 seconds")
    assert b.agg(F.sum("n_events")).collect()[0][0] == n


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """T5 — dropDuplicatesWithinWatermark collapses verbatim re-deliveries
    inside the watermark horizon before they reach the sink."""
    from cdc.stream.pipeline import stream_events

    d = str(tmp_path / "log")
    ev = gen_change_events(spark, n_keys=100, mean_events_per_key=4, seed=9)
    write_change_log(ev, d, events_per_file=10_000)

    seen = []
    # 30-min watermark covers the fixture's 15-min max lateness, so the
    # bounded-state dedup drops only true duplicates here
    src = stream_events(spark, d, watermark="30 minutes",
                        dedup_within_watermark=True)
    q = (src.writeStream.foreachBatch(lambda df, eid: seen.append(df.count()))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    from cdc.io.log import read_log
    from cdc.schema.registry import default_registry
    raw = read_log(spark, d, default_registry())
    n_raw = raw.count()
    n_distinct = raw.dropDuplicates(["batch_id", "lsn"]).count()
    assert n_distinct < n_raw  # generator injects ~2% duplicates
    assert sum(seen) == n_distinct


def test_stream_windowed_metrics_finalized_windows_match_batch(spark, log_dir, tmp_path):
    """T1+T2 metrics sink: append-mode windows the watermark has finalized
    must equal the batch tumbling aggregation for the same windows, each
    emitted exactly once."""
    import datetime
    from cdc.io.log import read_log
    from cdc.schema.registry import default_registry
    from cdc.stream.pipeline import stream_windowed_metrics

    out = str(tmp_path / "winmetrics")
    stream_windowed_metrics(spark, log_dir, out, width="1 minute",
                            watermark="10 minutes", max_files_per_trigger=4)
    got = spark.read.parquet(out)
    rows = {(r.w_start, r.repo): (r.n_events, r.lsn_high) for r in got.collect()}
    assert len(rows) == got.count()  # exactly-once per (window, key)
    assert rows, "no finalized windows emitted"

    ev = read_log(spark, log_dir, default_registry())
    batch = tumbling_counts(ev, width="1 minute")
    exp = {(r["win"]["start"], r.repo): (r.n_events, r.lsn_high)
           for r in batch.collect()}
    # every emitted (finalized) window matches the batch aggregate exactly
    for k, v in rows.items():
        assert exp[k] == v, k
    # and only windows older than max_ts - watermark can be missing
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - datetime.timedelta(minutes=10)
    for (ws, repo), v in exp.items():
        if ws + datetime.timedelta(minutes=1) < horizon:
            assert (ws, repo) in rows, (ws, repo)


def test_stream_with_downstream_maintainers(spark, log_dir, tmp_path):
    """Derived tables (IVM aggregate + SCD2 history) advance in lock-step
    with the streaming ingest via the downstream hook, stay consistent
    with a from-scratch recompute, and survive a restart untouched."""
    from cdc import ivm, scd2
    from cdc.meta import store

    table = CdcTable(str(tmp_path / "t3"), n_partitions=4, layout="key_hash")
    mv = CdcTable(str(tmp_path / "mv"), key_cols=("repo",), n_partitions=4,
                  layout="key_hash")
    hist = scd2.history_table(str(tmp_path / "hist"), table)
    measures = {"sum_len": F.length("content").cast("long")}
    stream_to_table(spark, log_dir, table, metrics=False,
                    max_files_per_trigger=4,
                    downstream=[ivm.maintainer(mv, measures),
                                scd2.maintainer(hist)])
    assert len(table.snapshots()) > 1, "expected multiple epochs"
    # the MV covers the final base snapshot and matches recompute
    assert store.covered_hi(mv.current_snapshot(), ivm.IVM_KEY_PREFIX) == \
        table.current_snapshot()["snapshot_id"]
    got = {(r.repo, r.cnt, r.sum_len) for r in
           mv.read(spark).select("repo", "cnt", "sum_len").collect()}
    want = {(r.repo, r.cnt, r.sum_len) for r in
            ivm.full_aggregate(table.read(spark), ["repo"], measures).collect()}
    assert got == want
    # history's open versions mirror the live state
    live = {(r.repo, r.path, r._lsn) for r in
            table.read(spark).select("repo", "path", "_lsn").collect()}
    cur = {(r.repo, r.path, r.row_lsn) for r in
           scd2.current_versions(spark, hist)
           .select("repo", "path", "row_lsn").collect()}
    assert cur == live
    # restart: no new base epochs -> maintainers are no-ops too
    mv_snap = mv.current_snapshot()["snapshot_id"]
    hist_snap = hist.current_snapshot()["snapshot_id"]
    stream_to_table(spark, log_dir, table, metrics=False,
                    max_files_per_trigger=4,
                    downstream=[ivm.maintainer(mv, measures),
                                scd2.maintainer(hist)])
    assert mv.current_snapshot()["snapshot_id"] == mv_snap
    assert hist.current_snapshot()["snapshot_id"] == hist_snap


def test_continuous_dedup_stream_equals_oneshot(spark, tmp_path):
    """Continuous dedup over a file stream (one micro-batch per file):
    the standing groups table must equal a one-shot CC over the full
    corpus's pairs after every drain, restarts must be no-ops, and a
    later drop of NEW files must advance the state incrementally."""
    from cdc.cc import connected_components
    from cdc.parity.textops import minhash_pairs
    from cdc.stream.dedup import continuous_dedup, dedup_tables

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()

    def doc(i):  # distinct docs, with exact copies for i % 4 == 0
        base = i - (i % 100) if i % 4 == 0 else i
        return (i, " ".join(words[base % 5:] * 3) + f" tail{base % 7}")

    src_dir = tmp_path / "docs"
    src_dir.mkdir()

    def drop(name, ids):
        (spark.createDataFrame([doc(i) for i in ids],
                               "doc_id long, text string")
         .coalesce(1).write.parquet(str(src_dir / name)))

    drop("f0", range(0, 20))
    drop("f1", range(100, 120))
    drop("f2", range(200, 220))

    bands, groups = dedup_tables(str(tmp_path / "bands"),
                                 str(tmp_path / "groups"), n_partitions=4)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src_dir / "*")))
    ckpt = str(tmp_path / "ckpt")
    continuous_dedup(spark, stream, bands, groups, checkpoint_dir=ckpt)

    def oneshot(ids):
        corpus = spark.createDataFrame([doc(i) for i in ids],
                                       "doc_id long, text string")
        return {(r.id, r.grp) for r in connected_components(
            minhash_pairs(corpus), src="doc_a", dst="doc_b").collect()}

    def standing():
        return {(r.doc_id, r.grp) for r in
                groups.read(spark).select("doc_id", "grp").collect()}

    all_ids = list(range(0, 20)) + list(range(100, 120)) + list(range(200, 220))
    assert standing() == oneshot(all_ids)

    # restart on a drained source: no new epochs, no new snapshots
    gsnap = groups.current_snapshot()["snapshot_id"]
    continuous_dedup(spark, stream, bands, groups, checkpoint_dir=ckpt)
    assert groups.current_snapshot()["snapshot_id"] == gsnap

    # new files arrive -> incremental catch-up must still equal one-shot
    drop("f3", range(300, 320))
    stream2 = (spark.readStream.schema("doc_id long, text string")
               .option("maxFilesPerTrigger", 1)
               .parquet(str(src_dir / "*")))
    continuous_dedup(spark, stream2, bands, groups, checkpoint_dir=ckpt)
    assert standing() == oneshot(all_ids + list(range(300, 320)))


def test_dedup_ingest_lsn_monotone_across_key_spaces(spark, tmp_path):
    """The ingest lsn must derive from the TABLES' high-water, not any
    caller counter: three backfill ingests under unrelated ledger keys
    (the fresh-checkpoint shape — epoch counters restart at 0) where the
    third REGROUPS a standing doc; an epoch-derived lsn would tie/lose
    the LWW merge and silently keep the stale assignment."""
    from cdc.stream.dedup import dedup_tables, ingest_dedup_batch

    bands, groups = dedup_tables(str(tmp_path / "b"), str(tmp_path / "g"),
                                 n_partitions=4)
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    t1 = "alpha beta gamma delta epsilon zeta"
    t2 = "one two three four five six seven"
    ingest_dedup_batch(spark, bands, groups, mk([(1, t1), (2, t2)]), "s1-e0")
    ingest_dedup_batch(spark, bands, groups, mk([(3, t2)]), "s2-e0")
    # doc 0 duplicates doc 1: standing row (1, 1) must REGROUP to (1, 0)
    ingest_dedup_batch(spark, bands, groups, mk([(0, t1)]), "s3-e0")
    got = {(r.doc_id, r.grp) for r in
           groups.read(spark).select("doc_id", "grp").collect()}
    assert got == {(0, 0), (1, 0), (2, 2), (3, 2)}
    # and re-delivery of any key is a pure no-op (early-return guard)
    snap = groups.current_snapshot()["snapshot_id"]
    ingest_dedup_batch(spark, bands, groups, mk([(0, t1)]), "s3-e0")
    assert groups.current_snapshot()["snapshot_id"] == snap


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()


@pytest.mark.slow
@given(assign=st.lists(st.integers(min_value=0, max_value=2),
                       min_size=6, max_size=14),
       texts=st.lists(st.integers(min_value=0, max_value=4),
                      min_size=6, max_size=14))
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_continuous_dedup_random_splits_equal_oneshot(spark, tmp_path_factory,
                                                      assign, texts):
    """Any partition of a corpus into ingest batches, applied in order
    through ingest_dedup_batch, must land the same standing assignment as
    a one-shot CC over the whole corpus's pairs."""
    from cdc.cc import connected_components
    from cdc.lsh import minhash_pairs
    from cdc.stream.dedup import dedup_tables, ingest_dedup_batch

    n = min(len(assign), len(texts))
    docs = [(i, " ".join(_WORDS[texts[i] :] * 3) + f" t{texts[i]}")
            for i in range(n)]
    batches = [[d for d, b in zip(docs, assign) if b == k] for k in (0, 1, 2)]
    tmp = tmp_path_factory.mktemp("contdedup")
    bands, groups = dedup_tables(str(tmp / "b"), str(tmp / "g"),
                                 n_partitions=4)
    mk = lambda rows: spark.createDataFrame(rows,
                                            "doc_id long, text string")
    for k, batch in enumerate(batches):
        if batch:
            ingest_dedup_batch(spark, bands, groups, mk(batch), f"e{k}")
    got_t = groups.read(spark)
    got = ({(r.doc_id, r.grp) for r in
            got_t.select("doc_id", "grp").collect()}
           if got_t is not None else set())
    want = {(r.id, r.grp) for r in connected_components(
        minhash_pairs(mk(docs)), src="doc_a", dst="doc_b").collect()}
    assert got == want
