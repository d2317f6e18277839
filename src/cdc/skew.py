"""Hot-key skew diagnostics + the app-level salting planner (SURVEY.md §4).

AQE's skew-join splitting covers the MERGE join, but window partitions
cannot be split at runtime — the salted two-stage LWW (cdc.dedup) needs an
explicit salt factor. This module measures the skew (O3 top-k, W4 deciles)
and picks that factor: the planner's rule of thumb is that no single
(key, salt) group should exceed ~``target_rows_per_task`` rows, bounded to
a power-of-two salt in [1, max_salt].
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cdc.metrics import counter_aggs


def topk_hot_keys(events: DataFrame, keys=("repo",), k: int = 20) -> DataFrame:
    """O3 — heaviest keys by event count (TakeOrderedAndProject: map-side
    partial top-k, no full sort)."""
    return (events.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), *keys).limit(k))


MAX_DISTINCT_VALUES = 2_000_000   # ~30 MB of (value, start) pairs driver-side


def exact_ntile(counts: DataFrame, k: int, value_col: str = "n",
                tiebreak_cols: Sequence[str] = ("user_id",),
                descending: bool = True,
                max_group_rows: int = 10_000_000,
                range_buckets: int = 64,
                max_distinct_values: int | None = MAX_DISTINCT_VALUES
                ) -> DataFrame:
    """Exact ``ntile(k) OVER (ORDER BY value DESC, tiebreaks)`` WITHOUT a
    single-partition global window.

    Distributed plan: (1) the frequency table of the (already reduced)
    value column is tiny — collect it and compute each value-group's global
    start rank on the driver; (2) rank ties WITHIN a value group with a
    window partitioned BY the value; (3) global_rank = group_start + local
    rank, bucket via the exact ntile arithmetic (first N%k buckets get one
    extra row). Output: input columns + ``ntile``.

    Long-tailed inputs concentrate most rows on ONE value (e.g. count=1
    keys), which would make step (2) a single-task sort again — so any
    value group larger than ``max_group_rows`` is range-split on sampled
    tiebreak splitters: ranks come from exact per-(value, range-bucket)
    counts + a window bounded by the bucket, and the output is IDENTICAL
    for any choice of splitters (they are pure partition points). Needs a
    single tiebreak column for the range split; multi-column tiebreaks
    fall back to the per-value window.

    ``counts`` is consumed by several jobs — persist it at scale.

    The frequency-table collect assumes the value column is REDUCED (an
    aggregate like a per-key count: few distinct values, arbitrary
    rows). ``max_distinct_values`` enforces that assumption — a
    high-cardinality value column (e.g. a raw float score) fails fast
    instead of OOMing the driver (``guard_quadratic`` convention: pass
    None to force)."""
    fr = counts.groupBy(value_col).agg(F.count(F.lit(1)).alias("c"))
    if max_distinct_values is not None:
        fr = fr.localCheckpoint(eager=True)   # counted + collected below
        n_distinct = fr.count()
        if n_distinct > max_distinct_values:
            raise ValueError(
                f"exact_ntile: value column {value_col!r} has "
                f"{n_distinct:,} distinct values (> max_distinct_values="
                f"{max_distinct_values:,}) — the driver-side frequency "
                f"table assumes a REDUCED value column; reduce it first "
                f"(e.g. bucket or round the values), or pass "
                f"max_distinct_values=None to force")
    freq = sorted(((r[0], r[1]) for r in fr.collect()),
                  key=lambda t: t[0], reverse=descending)
    n_total = sum(c for _, c in freq)
    starts, acc = [], 1
    for v, c in freq:
        starts.append((v, acc))
        acc += c
    spark = counts.sparkSession
    vtype = counts.schema[value_col].dataType.simpleString()
    off = spark.createDataFrame(starts, f"{value_col} {vtype}, _start long")

    hot = {v for v, c in freq if c > max_group_rows} \
        if len(tiebreak_cols) == 1 else set()
    if not hot:
        w = Window.partitionBy(value_col).orderBy(
            *[F.asc(c) for c in tiebreak_cols])
        ranked = (counts.join(F.broadcast(off), value_col)
                  .withColumn("_rank", F.col("_start") + F.row_number().over(w) - 1))
    else:
        tb = tiebreak_cols[0]
        hot_rows = counts.filter(F.col(value_col).isin(list(hot)))
        cold_rows = counts.filter(~F.col(value_col).isin(list(hot)))
        # sampled splitters per hot value (any valid partition points work;
        # exactness comes from the per-bucket EXACT counts below)
        frac = min(1.0, (range_buckets * 200) / max(1, max(c for v, c in freq if v in hot)))
        sample = (hot_rows.sample(fraction=frac, seed=7)
                  .select(value_col, tb).toPandas())
        splitters: dict = {}
        for v in hot:
            vals = sorted(sample[sample[value_col] == v][tb].tolist())
            step = max(1, len(vals) // range_buckets)
            splitters[v] = sorted(set(vals[step::step]))[: range_buckets - 1]
        sp_rows = [(v, splitters[v]) for v in hot]
        tbtype = counts.schema[tb].dataType.simpleString()
        sp_df = spark.createDataFrame(
            sp_rows, f"{value_col} {vtype}, _sp array<{tbtype}>")
        bucket = F.size(F.filter("_sp", lambda x: x <= F.col(tb)))
        hb = (hot_rows.join(F.broadcast(sp_df), value_col)
              .withColumn("_rb", bucket).drop("_sp"))
        # exact in-value offsets from per-(value, bucket) counts
        bcounts = sorted(
            ((r[0], r[1], r[2]) for r in
             hb.groupBy(value_col, "_rb").agg(F.count(F.lit(1)).alias("c")).collect()),
            key=lambda t: (t[0], t[1]))
        boffs, seen = [], {}
        for v, rb, c in bcounts:
            boffs.append((v, rb, seen.get(v, 0)))
            seen[v] = seen.get(v, 0) + c
        boff_df = spark.createDataFrame(
            boffs, f"{value_col} {vtype}, _rb int, _boff long")
        wh = Window.partitionBy(value_col, "_rb").orderBy(F.asc(tb))
        hot_ranked = (hb.join(F.broadcast(boff_df), [value_col, "_rb"])
                      .join(F.broadcast(off), value_col)
                      .withColumn("_rank", F.col("_start") + F.col("_boff")
                                  + F.row_number().over(wh) - 1)
                      .drop("_rb", "_boff"))
        wc = Window.partitionBy(value_col).orderBy(F.asc(tb))
        cold_ranked = (cold_rows.join(F.broadcast(off), value_col)
                       .withColumn("_rank",
                                   F.col("_start") + F.row_number().over(wc) - 1))
        ranked = hot_ranked.unionByName(cold_ranked)
    q, r = divmod(n_total, k)
    big = r * (q + 1)  # ranks covered by the (q+1)-sized leading buckets
    if q == 0:
        bucket = F.col("_rank")  # k >= N: one row per bucket
    else:
        bucket = F.when(F.col("_rank") <= big,
                        F.ceil(F.col("_rank") / (q + 1))
                        ).otherwise(r + F.ceil((F.col("_rank") - big) / q))
    return ranked.withColumn("ntile", bucket.cast("int")).drop("_start", "_rank")


def key_deciles(events: DataFrame, keys=("repo",)) -> DataFrame:
    """W4 — decile profile of the key-frequency distribution (exact ntile
    semantics via the distributed ``exact_ntile``, no global window)."""
    counts = events.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    d = exact_ntile(counts, 10, value_col="n", tiebreak_cols=keys) \
        .withColumnRenamed("ntile", "decile")
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_keys"), F.sum("n").alias("n_events"),
        F.max("n").alias("max_key_events"))


def skew_stats(events: DataFrame, keys=("repo", "path")) -> dict:
    """One-pass skew summary used by the planner (single narrow agg);
    includes the average key WIDTH so broadcast decisions are byte-based,
    not row-count-based."""
    counts = events.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    row = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_events"),
        F.max("n").alias("max_key"),
        F.expr("percentile_approx(n, 0.999)").alias("p999"),
        F.avg(F.length(F.concat_ws("", *keys))).alias("avg_key_bytes"),
    ).collect()[0]
    return {"n_keys": row["n_keys"] or 0, "n_events": row["n_events"] or 0,
            "max_key": row["max_key"] or 0, "p999": row["p999"] or 0,
            "avg_key_bytes": float(row["avg_key_bytes"] or 0.0)}


def batch_profile(events: DataFrame, part, keys=("repo", "path"),
                  counters: bool = True) -> dict:
    """A commit's one narrow pre-pass over the raw batch: one
    ``groupBy(part)`` over the key columns (and, with ``counters``, the
    lineage columns batch_id, lsn, ts, op), collected to the driver as P
    rows. It yields the row count (the resume guard's emptiness probe), a
    distinct-key HLL and the key width (the LWW planner) and, with
    ``counters``, every lineage counter per part (``cdc.metrics
    .counter_aggs``: the metrics file and its late-row rule) plus the
    batch's touched parts and max lsn (``CdcTable.commit_merge``'s plan:
    ``part`` is a pure function of the key, and each key's LWW winner
    carries that key's max lsn). A key never spans two partitions, so the
    per-part HLL estimates add up. ``ts`` travels as epoch micros: no
    naive-datetime round trip through ``collect``.

    Returns ``skew_stats``' shape minus the exact hottest key (the
    profile never groups by key), plus ``parts`` (part -> that part's
    row as a dict) and, with ``counters``, ``lsn_high`` (None for an
    empty batch)."""
    aggs = [F.approx_count_distinct(F.struct(*keys)).alias("n_keys"),
            F.sum(F.length(F.concat_ws("", *keys))).alias("key_bytes")]
    aggs += counter_aggs() if counters else [F.count(F.lit(1)).alias("n_raw")]
    rows = events.groupBy(part.alias("part")).agg(*aggs).collect()
    n_raw = sum(r["n_raw"] for r in rows)
    key_bytes = sum(r["key_bytes"] or 0 for r in rows)
    out = {"n_keys": sum(r["n_keys"] for r in rows), "n_events": n_raw,
           "avg_key_bytes": key_bytes / n_raw if n_raw else 0.0,
           "parts": {r["part"]: r.asDict() for r in rows}}
    if counters:
        out["lsn_high"] = max((r["lsn_high"] for r in rows
                               if r["lsn_high"] is not None), default=None)
    return out


def choose_salt(stats: dict, target_rows_per_task: int = 100_000,
                max_salt: int = 256) -> int:
    """Planner: smallest power-of-two salt so the hottest key's per-salt
    share fits a task budget. salt=1 means 'no salting needed' — the
    common case; hot-key streams (the GLAD/Fire analog) get 2..max_salt."""
    hot = int(stats.get("max_key") or 0)
    s = 1
    while hot / s > target_rows_per_task and s < max_salt:
        s *= 2
    return s


def plan_lww(events: DataFrame, keys=("repo", "path"),
             target_rows_per_task: int = 100_000,
             broadcast_keys_max: int = 4_000_000,
             broadcast_bytes_max: int = 200 * 1024 * 1024,
             profile: dict | None = None) -> tuple[str, int]:
    """Decide the LWW strategy for a batch.

    ('semi', 1)   — when the winner-key set fits a broadcast (MEASURED
                    avg key width x n_keys vs broadcast_bytes_max):
                    winners are found over a
                    NARROW (keys+order) shuffle and broadcast back as a
                    left-semi filter, so the wide content column never
                    shuffles. This is the default-replay path — commit
                    chunking (batches_per_commit) bounds the key set.
    ('salted', S) — hot keys beyond the per-task budget AND too many keys
                    to broadcast: two-stage salted window ranking.
    ('maxby', 1)  — the skew-robust fallback (map-side partial agg).

    ``profile`` — the commit's ``batch_profile`` over the same ``keys``
    (cdc.pipeline.apply_batch): the broadcast test then reads its totals
    and launches no job. Only the rare over-budget path pays the exact
    key-level ``skew_stats`` pass, since the salt needs the true hottest
    key. Without a profile, one ``skew_stats`` pass decides (parquet
    column pruning keeps the wide payload unread either way)."""
    stats = profile if profile is not None else skew_stats(events, keys)
    # byte-based eligibility: n_keys x (measured key width + ~40 B of row
    # overhead and order columns) must fit the broadcast budget — a row
    # cap alone would OOM on wide keys (long repo paths)
    est_bytes = stats["n_keys"] * (stats["avg_key_bytes"] + 40)
    if 0 < stats["n_keys"] <= broadcast_keys_max and est_bytes <= broadcast_bytes_max:
        return ("semi", 1)
    if profile is not None and stats["n_keys"]:
        # over the broadcast budget: the salt needs the exact hottest key
        stats = skew_stats(events, keys)
    s = choose_salt(stats, target_rows_per_task)
    return ("maxby", 1) if s == 1 else ("salted", s)
