"""Physical-plan assertions (SURVEY.md §4): the optimizer properties the
engine depends on at 100 TB must hold in the compiled plan, not just in
intent — predicate pushdown to parquet footers, column pruning, broadcast
joins for dims, map-side partial aggregation for LWW, and whole-stage
codegen coverage."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdc.dedup import last_writer_wins
from cdc.io.log import read_log
from cdc.metrics import batch_lineage_metrics
from cdc.schema.registry import default_registry
from cdc.testing.gen import gen_change_events, write_change_log


@pytest.fixture(scope="module")
def log_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("planlog"))
    ev = gen_change_events(spark, n_keys=200, mean_events_per_key=4, seed=31)
    write_change_log(ev, d, events_per_file=500)
    return d


def plan_of(df) -> str:
    return df._jdf.queryExecution().toString()


def executed_plan_of(df) -> str:
    df.collect()  # AQE finalizes the plan on execution
    return df._jdf.queryExecution().executedPlan().toString()


def test_lsn_filter_pushes_to_parquet(spark, log_dir):
    """Resuming from a checkpoint must skip fully-applied files at the scan
    (footer min/max), which requires the lsn predicate in PushedFilters."""
    df = read_log(spark, log_dir, default_registry(), after_lsn=500)
    p = plan_of(df)
    assert "PushedFilters" in p and "GreaterThan(lsn,500)" in p, p[-2000:]


def test_tail_read_plans_only_the_files_its_range_meets(spark, tmp_path):
    """A tail read at the end of the archive hands Spark exactly the files
    whose lsn range meets the bounds (read from the data, not the footer),
    not every file of the archive."""
    import glob
    import os

    import pyarrow.parquet as pq

    d = str(tmp_path / "log")
    ev = gen_change_events(spark, n_keys=200, mean_events_per_key=4, seed=31)
    write_change_log(ev, d, events_per_file=50)
    ranges = {}
    for f in glob.glob(f"{d}/v=*/*.parquet"):
        lsn = pq.read_table(f, columns=["lsn"]).column("lsn").to_pylist()
        ranges[os.path.realpath(f)] = (min(lsn), max(lsn))
    top = max(hi for _, hi in ranges.values())
    after, upto = top - 120, top - 20
    want = {f for f, (lo, hi) in ranges.items() if hi > after and lo <= upto}
    df = read_log(spark, d, default_registry(), after_lsn=after, upto_lsn=upto)
    got = {os.path.realpath(f.split(":", 1)[1]) for f in df.inputFiles()}
    assert got == want and 0 < len(want) < len(ranges), (got, want)


def test_metrics_never_reads_content(spark, log_dir):
    """Lineage metrics are a narrow-column job: the parquet ReadSchema must
    not contain the wide content column."""
    df = read_log(spark, log_dir, default_registry())
    m = batch_lineage_metrics(df.withColumn("part", F.pmod(F.xxhash64("repo"), F.lit(4))))
    p = plan_of(m)
    scan_lines = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert scan_lines, p[-2000:]
    assert all("content" not in ln for ln in scan_lines), scan_lines


def test_lww_maxby_has_partial_aggregation(spark, log_dir):
    """The skew story depends on map-side combine: the physical plan must
    show a partial HashAggregate below the shuffle and a final one above."""
    df = read_log(spark, log_dir, default_registry())
    out = last_writer_wins(df, via="maxby")
    p = executed_plan_of(out)
    # max_by over a wide struct compiles to SortAggregate (no hash buffer
    # for structs) — what matters is the partial (map-side) instance
    assert "partial_max_by" in p, p[-3000:]
    assert p.count("Aggregate") >= 2, p[-3000:]


def test_dim_join_is_broadcast(spark):
    """Registry/dim lookups must compile to BroadcastHashJoin, not a
    shuffle join."""
    big = spark.range(100_000).select(F.col("id"), (F.col("id") % 6).alias("k"))
    dim = spark.createDataFrame([(i, f"n{i}") for i in range(6)], "k long, name string")
    out = big.join(F.broadcast(dim), "k", "left")
    p = executed_plan_of(out)
    assert "BroadcastHashJoin" in p, p[-2000:]


def test_merge_join_uses_smj_or_broadcast_under_aqe(spark, log_dir):
    """The MERGE full-outer compiles to a sort-merge join (or is broadcast
    when one side is tiny under AQE) — never a nested loop."""
    from cdc.merge import empty_state, merge_apply

    df = read_log(spark, log_dir, default_registry())
    final = last_writer_wins(df)
    state = empty_state(spark, final)
    merged = merge_apply(state, final)
    p = executed_plan_of(merged)
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p), p[-3000:]
    assert "BroadcastNestedLoopJoin" not in p


def test_wholestage_codegen_covers_scan_and_agg(spark, log_dir):
    """Hot-path expressions stay JVM-side: the executed plan shows
    WholeStageCodegen stages (no Python row processing in the scan/agg)."""
    df = read_log(spark, log_dir, default_registry())
    agg = df.groupBy("repo").agg(F.count(F.lit(1)).alias("n"))
    p = executed_plan_of(agg)
    # codegen'd operators carry the '*(stageId)' marker in the plan string
    assert "*(" in p, p[-2000:]
    assert "partial_count" in p, p[-2000:]


def test_salted_lww_splits_window_partitions(spark, log_dir):
    """The salted form must rank within (key, salt) first — visible as two
    Window operators with different partition specs."""
    df = read_log(spark, log_dir, default_registry())
    out = last_writer_wins(df, via="salted", salt_buckets=8)
    p = plan_of(out)
    assert p.count("row_number()") >= 2, p[-3000:]
    assert "_salt" in p


def test_partition_pruned_table_read(spark, log_dir, tmp_path):
    """Manifest-level pruning: reading two partitions of a 8-partition
    table hands Spark only those partitions' files."""
    from cdc.pipeline import replay
    from cdc.table.table import CdcTable

    t = CdcTable(str(tmp_path / "t"), n_partitions=8)
    replay(spark, log_dir, t, metrics=False)
    pruned = t.read(spark, parts=[0, 1], include_deleted=True)
    full = t.read(spark, include_deleted=True)
    # the scan must be handed only part=0/part=1 data files
    import re
    files = [re.search(r"part=(\d+)", f).group(1) for f in pruned.inputFiles()]
    assert files and set(files) <= {"0", "1"}, sorted(set(files))
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert pruned.count() < full.count()


def test_metrics_single_pass(spark, log_dir):
    """The lineage-metrics plan must read the full narrow columns ONCE:
    one narrow scan branch (3 FileScans, one per log version dir) feeding
    a single (part,batch,lsn) exchange. The per-part max ts enters as a
    literal map, so no other scan joins in — never two full passes or a
    whole-batch window."""
    df = read_log(spark, log_dir, default_registry())
    m = batch_lineage_metrics(df.withColumn("part", F.pmod(F.xxhash64("repo"), F.lit(4))))
    p = plan_of(m)
    phys = p.split("== Physical Plan ==")[-1]
    op_scans = [ln for ln in phys.splitlines()
                if "FileScan" in ln and "op:string" in ln]
    assert len(op_scans) == 3, phys[-3000:]
    assert phys.count("FileScan") == 3, phys[-3000:]
    assert phys.count("batch_id") and "Window" not in phys


def test_key_hash_alignment(spark):
    """key_hash layout invariant: part == pmod(hash(keys), P) == the task id
    Spark's repartition(P, keys) assigns — so a key_hash commit can route
    rows with partitionBy alone, no second shuffle."""
    from cdc.table.table import key_part_expr
    df = spark.range(2000).select(
        F.concat(F.lit("r"), (F.col("id") % 17).cast("string")).alias("repo"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"))
    rep = df.repartition(8, "repo", "path")
    bad = (rep.select(F.spark_partition_id().alias("pid"),
                      key_part_expr(("repo", "path"), 8).alias("part"))
           .filter(F.col("pid") != F.col("part")).count())
    assert bad == 0
    # divisibility form: clustering at 2P still maps one part per task
    rep2 = df.repartition(16, "repo", "path")
    multi = (rep2.select(F.spark_partition_id().alias("pid"),
                         key_part_expr(("repo", "path"), 8).alias("part"))
             .groupBy("pid").agg(F.countDistinct("part").alias("np"))
             .filter(F.col("np") > 1).count())
    assert multi == 0


def test_key_hash_commit_writes_without_repartition_exchange(spark, tmp_path, log_dir):
    """End-to-end: a key_hash replay equals a repo_hash replay row-for-row,
    and its committed files stay one-part-per-file."""
    import os
    from cdc.pipeline import replay
    from cdc.table.table import CdcTable
    a = CdcTable(str(tmp_path / "a"), n_partitions=4)
    b = CdcTable(str(tmp_path / "b"), n_partitions=4, layout="key_hash")
    replay(spark, log_dir, a, metrics=False)
    replay(spark, log_dir, b, metrics=False)
    sa = {(r.repo, r.path, r._lsn, r._content_sha256) for r in
          a.read(spark).select("repo", "path", "_lsn", "_content_sha256").collect()}
    sb = {(r.repo, r.path, r._lsn, r._content_sha256) for r in
          b.read(spark).select("repo", "path", "_lsn", "_content_sha256").collect()}
    assert sa == sb and sa
    # every committed file sits in the part dir its rows hash to
    from cdc.table.table import key_part_expr
    for f in b.current_snapshot()["files"]:
        got = (spark.read.parquet(os.path.join(b.root, f["path"]))
               .select(key_part_expr(("repo", "path"), 4).alias("p"))
               .distinct().collect())
        assert [r.p for r in got] == [int(f["part"])]


def test_metrics_approx_dedup_has_no_batch_shuffle(spark, log_dir):
    """exact_dedup=False (the replay default): the ONLY exchange is the
    P-row partial-agg combine — no (part,batch,lsn) shuffle of the batch.
    Counters that matter exactly (lsn bounds, n_raw, op mix) match the
    exact form; the HLL dedup estimate lands within its error bound."""
    df = read_log(spark, log_dir, default_registry())
    part = F.pmod(F.xxhash64("repo"), F.lit(4))
    approx = batch_lineage_metrics(df.withColumn("part", part), exact_dedup=False)
    p = plan_of(approx).split("== Physical Plan ==")[-1]
    assert "batch_id#" not in [ln for ln in p.splitlines()
                               if "Exchange hashpartitioning" in ln][0]
    exact = batch_lineage_metrics(df.withColumn("part", part), exact_dedup=True)
    ea = {r["part"]: r for r in approx.collect()}
    ee = {r["part"]: r for r in exact.collect()}
    assert set(ea) == set(ee)
    for k in ee:
        assert ea[k]["n_raw"] == ee[k]["n_raw"]
        assert ea[k]["lsn_low"] == ee[k]["lsn_low"]
        assert ea[k]["lsn_high"] == ee[k]["lsn_high"]
        # HLL standard error ~2.3%; allow 10% on the distinct estimate
        assert abs(ea[k]["n_events"] - ee[k]["n_events"]) <= max(5, 0.1 * ee[k]["n_events"])


def test_mor_reconcile_scoped_to_delta_parts(spark, tmp_path, monkeypatch):
    """A snapshot where only SOME partitions carry delta layers must pay
    the reconcile shuffle for THOSE partitions only: clean partitions
    stream scan-only through a union. Pinned by capturing the frame the
    reconcile actually consumes — its input files must be exactly the
    delta-carrying partitions' files."""
    from cdc import dedup
    from cdc.pipeline import apply_batch
    from cdc.table.table import CdcTable

    t = CdcTable(str(tmp_path / "t"), n_partitions=8, layout="key_hash")
    rows = [(f"r{i}", f"p{i}", i + 1, f"v{i}", "U") for i in range(64)]
    base = (spark.createDataFrame(
                rows, "repo string, path string, lsn long, "
                      "content string, op string")
            .select("*", F.to_timestamp(F.lit("2026-01-01")).alias("ts"),
                    F.lit(0).alias("batch_id")))
    apply_batch(spark, t, base, "b0", normalize=False, metrics=False)
    # one small MOR batch touches a subset of partitions
    delta = base.filter(F.col("lsn") <= 4).select(
        "repo", "path", (F.col("lsn") + 100).alias("lsn"),
        F.concat(F.col("content"), F.lit("+d")).alias("content"),
        "op", "ts", "batch_id")
    apply_batch(spark, t, delta, "b1", normalize=False, metrics=False,
                mode="mor")

    snap = t.current_snapshot()
    delta_parts = {int(f["part"]) for f in snap["files"]
                   if f.get("kind") == "delta"}
    assert 0 < len(delta_parts) < 8          # a genuine subset
    # a file is named by its part dir AND basename: one write task that
    # spans several parts gives every part dir the same part-<task> name
    def name(path: str) -> str:
        return "/".join(path.split("/")[-2:])

    dirty_files = {name(f["path"]) for f in snap["files"]
                   if int(f["part"]) in delta_parts}
    clean_files = {name(f["path"]) for f in snap["files"]
                   if int(f["part"]) not in delta_parts}
    assert clean_files

    seen: dict = {}
    orig = dedup.last_writer_wins

    def capturing(df, *a, **kw):
        seen["files"] = {name(p) for p in df.inputFiles()}
        return orig(df, *a, **kw)

    monkeypatch.setattr(dedup, "last_writer_wins", capturing)
    out = t.read(spark)
    got = {(r.repo, r.path): r.content for r in out.collect()}
    # the reconcile consumed ONLY the delta partitions' files
    assert seen["files"] == dirty_files
    assert not (seen["files"] & clean_files)
    # and the result is still the full, correct table state
    assert len(got) == 64
    assert got[("r0", "p0")] == "v0+d" and got[("r63", "p63")] == "v63"


def test_mor_lookup_filters_keys_below_reconcile(spark, tmp_path):
    """A point read of a key in a delta-carrying partition restricts every
    layer relation BEFORE the reconcile: the key predicate is a parquet
    pushed filter on each FileScan under the Aggregate, and no join is left
    above it."""
    from cdc.pipeline import apply_batch
    from cdc.table.table import CdcTable

    t = CdcTable(str(tmp_path / "t"), n_partitions=4, layout="key_hash")
    base = (spark.createDataFrame(
                [(f"r{i}", f"p{i}", i + 1, f"v{i}", "U") for i in range(32)],
                "repo string, path string, lsn long, content string, "
                "op string")
            .select("*", F.to_timestamp(F.lit("2026-01-01")).alias("ts"),
                    F.lit(0).alias("batch_id")))
    apply_batch(spark, t, base, "b0", normalize=False, metrics=False)
    delta = base.filter("path = 'p3'").withColumn("lsn", F.lit(100))
    apply_batch(spark, t, delta, "b1", normalize=False, metrics=False,
                mode="mor")
    got = t.lookup(spark, repo="r3", path="p3")
    assert [r._lsn for r in got.collect()] == [100]
    plan = executed_plan_of(got).split("== Initial Plan ==")[0]
    lines = plan.splitlines()
    agg = next(i for i, ln in enumerate(lines) if "Aggregate" in ln)
    scans = [ln for ln in lines if "FileScan" in ln]
    assert len(scans) == 2, plan      # base + delta layer of one partition
    assert all(lines.index(ln) > agg for ln in scans), plan
    for ln in scans:
        pushed = ln.split("PushedFilters: [", 1)[1].split("]", 1)[0]
        assert "EqualTo(repo,r3)" in pushed and "EqualTo(path,p3)" in pushed
    assert "Join" not in plan


def test_bloom_prefilter_is_map_side(spark):
    """The bloom probe must be a map-side filter: an ArrowEvalPython stage
    over the scan with NO Exchange anywhere in the prefiltered frame's
    plan — the whole point is that the big side is never shuffled."""
    from pyspark.sql import functions as F

    from cdc.bloom import bloom_prefilter, build_bloom

    members = spark.range(200).select(
        F.concat(F.lit("k"), F.col("id")).alias("s"))
    bloom = build_bloom(members, "s", expected=200)
    big = spark.range(5000).select(
        F.concat(F.lit("k"), (F.col("id") % 400)).alias("s"))
    pre = bloom_prefilter(big, "s", bloom)
    p = executed_plan_of(pre)
    assert "ArrowEvalPython" in p, p[-2000:]
    assert "Exchange" not in p, p[-2000:]


def test_incremental_lsh_probe_broadcasts_batch_side(spark, tmp_path):
    """The continuous-dedup ingest probe must run as a broadcast hash
    join with the BATCH's bands as the build side — the standing band
    table (the corpus-sized side) must never shuffle for the join. AQE
    converts at runtime from the actual batch size; pin the conversion."""
    from pyspark.sql import functions as F

    from cdc.lsh import minhash_bands, minhash_pairs_incremental

    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    docs = spark.createDataFrame(
        [(i, " ".join(words[i % 3:] * 3)) for i in range(200)],
        "doc_id long, text string")
    minhash_bands(docs).write.parquet(str(tmp_path / "bands"))
    standing = spark.read.parquet(str(tmp_path / "bands"))
    batch = (docs.filter(F.col("doc_id") % 50 == 0)
             .withColumn("doc_id", F.col("doc_id") + 1000))
    pairs, _ = minhash_pairs_incremental(standing, batch)
    # the AQE plan string appends the pre-conversion "== Initial Plan =="
    # (which legitimately shows the SMJ the statistics-free plan chose) —
    # pin the FINAL plan only
    p = executed_plan_of(pairs).split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in p, p[-2500:]
    # the only shuffle is the pair-dedup on the (small) candidate output,
    # never a repartition of the standing band scan for the join itself
    assert "SortMergeJoin" not in p, p[-2500:]
