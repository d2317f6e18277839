"""Continuous dedup as a STREAMING job — the full composition of the
incremental dedup operators over engine tables, for ALL THREE dedup
families (MinHash shingles, SimHash, embedding hyperplane LSH).

Each micro-batch of new documents:

1. computes signature bands ONLY for the batch and probes the STANDING
   band table — O(batch), the corpus is never re-shingled/re-hashed. The
   band table is laid out with ``part_cols`` = the bucket columns
   (e.g. (band, bucket)) while keyed per (doc_id, band), so the probe
   (``lookup_keys`` on the batch's bucket values) reads ONLY the standing
   rows in those buckets: an epoch never scans the full standing band
   table;
2. merges the resulting candidate pairs into the STANDING component
   assignment via ``cc.connected_components_incremental_delta`` —
   O(churn) END-TO-END: untouched components never enter a CC round,
   never enter the changed-row anti join, and are never materialized or
   localCheckpoint'ed. The touched-component labels come from a
   partition-pruned point read of the groups table
   (``lookup_keys`` on the pair endpoints), so the assignment pays ONE
   broadcast-semi scan per epoch and zero shuffles of the corpus;
3. commits the new bands and the CHANGED assignment rows to two
   ``CdcTable``s under the exactly-once commit ledger (epoch-scoped
   batch keys — re-delivered epochs no-op per table, and a crash BETWEEN
   the two commits heals on replay: the band commit skips via its ledger
   entry and the pair probe is idempotent against a standing table that
   already contains the batch's bands).

State lives in tables, so the dedup assignment survives restarts, is
time-travelable, and is readable by any downstream consumer while the
stream runs. The embedding family additionally maintains a standing
VECTORS table (vec_id -> embedding, key_hash layout) committed first each
epoch; exact-cosine confirmation reads candidate endpoints back from it
with partition-pruned point reads — never a corpus scan.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc.cc import (connected_components,
                    connected_components_incremental_delta)
from cdc.merge import as_cdc_batch as _as_batch
from cdc.table.table import CdcTable

GROUPS_SCHEMA = "id long, grp long"


class DedupFamily:
    """One dedup family's pluggable pieces. ``docs`` frames carry
    (id_col, <payload>): (doc_id, text) for the text families,
    (vec_id, embedding) for vectors. Band signatures must be a PURE
    per-document function of the payload — that is what makes the
    O(batch) probe sound AND what lets ``apply_doc_changes`` retire a
    changed document's old rows from its PRE-image without any reverse
    index (the old (band, bucket) values recompute deterministically)."""

    name: str
    id_col: str
    payload_col: str        # the content column ('text' / 'embedding')
    bands_key: tuple        # band-table key columns (LWW identity)
    bands_parts: tuple      # band-table part_cols (the probe's join key)
    bands_schema: str       # empty-table DDL
    pair_cols: tuple        # candidate-pair output columns (a, b)

    def bands(self, docs: DataFrame) -> DataFrame:
        raise NotImplementedError

    def pairs(self, spark: SparkSession, new_bands: DataFrame,
              all_bands: DataFrame, docs: DataFrame) -> DataFrame:
        raise NotImplementedError

    # optional per-epoch side state (the embedding family's vectors table)
    def prepare(self, spark: SparkSession, docs: DataFrame, lsn: int,
                key: str) -> None:
        return None

    def prepare_changes(self, spark: SparkSession, changes: DataFrame,
                        lsn: int, key: str) -> None:
        """Op-typed twin of ``prepare`` for U/D epochs (the embedding
        family upserts post-images and tombstones deletes in its standing
        vectors table)."""
        return None

    def is_prepared(self, key: str) -> bool:
        return True

    def state_lsn_high(self) -> int:
        return -1

    # corpus point-read seam for the touched-component rebuild: current
    # (id, payload) rows for the given ids, or None when the family has
    # no side state (text families take fetch_docs from the caller)
    def fetch_docs(self, spark: SparkSession,
                   ids: DataFrame) -> DataFrame | None:
        return None


class MinhashFamily(DedupFamily):
    name = "minhash"
    id_col = "doc_id"
    payload_col = "text"
    bands_key = ("doc_id", "band")
    bands_parts = ("band", "bucket")
    bands_schema = "doc_id long, band int, bucket string"
    pair_cols = ("doc_a", "doc_b")

    def bands(self, docs):
        from cdc.lsh import minhash_bands
        return minhash_bands(docs.select("doc_id", "text"))

    def pairs(self, spark, new_bands, all_bands, docs):
        from cdc.lsh import pairs_from_bands
        return pairs_from_bands(new_bands, all_bands)


class SimhashFamily(DedupFamily):
    name = "simhash"
    id_col = "doc_id"
    payload_col = "text"
    bands_key = ("doc_id", "band")
    bands_parts = ("band", "bval")
    bands_schema = "doc_id long, simhash long, band int, bval long"
    pair_cols = ("doc_a", "doc_b")

    def bands(self, docs):
        from cdc.simhash import simhash_bands
        return simhash_bands(docs.select("doc_id", "text"))

    def pairs(self, spark, new_bands, all_bands, docs):
        from cdc.simhash import sim_pairs
        return sim_pairs(new_bands, all_bands).select("doc_a", "doc_b")


class EmbedFamily(DedupFamily):
    """Embedding near-dup via random-hyperplane LSH + exact-cosine
    confirmation. Maintains a standing VECTORS table (committed FIRST
    each epoch, under the same epoch key) so confirmation can read the
    candidate endpoints' embeddings back with partition-pruned point
    reads — the batch never needs the corpus' embeddings resident."""

    name = "embed"
    id_col = "vec_id"
    payload_col = "embedding"
    bands_key = ("vec_id", "band")
    bands_parts = ("band", "bval")
    bands_schema = "vec_id long, band int, bval int"
    pair_cols = ("id_a", "id_b")

    def __init__(self, vectors: CdcTable, threshold: float = 0.9,
                 dim: int = 64):
        self.vectors = vectors
        self.threshold = threshold
        self.dim = dim

    def bands(self, docs):
        from cdc.vectors import rh_bands
        return rh_bands(docs.select("vec_id", "embedding"), dim=self.dim)

    def prepare(self, spark, docs, lsn, key):
        if not self.vectors.is_committed(key):
            self.vectors.commit_merge(
                spark, _as_batch(docs.select("vec_id", "embedding"),
                                 lsn, key), key)

    def prepare_changes(self, spark, changes, lsn, key):
        """Post-images upsert, deletes tombstone — the vectors table IS
        the corpus for this family, so the rebuild's fetch_docs reads the
        very state this commit establishes (exactly-once per key)."""
        if self.vectors.is_committed(key):
            return
        batch = changes.select(
            "vec_id",
            F.coalesce("embedding", "embedding_pre").alias("embedding"),
            F.when(F.col("op") == "D", F.lit("D"))
            .otherwise(F.lit("U")).alias("_op"))
        batch = (_as_batch(batch, lsn, key)
                 .withColumn("op", F.col("_op")).drop("_op"))
        self.vectors.commit_merge(spark, batch, key)

    def is_prepared(self, key):
        return self.vectors.is_committed(key)

    def fetch_docs(self, spark, ids):
        got = self.vectors.lookup_keys(spark, ids.select("vec_id"))
        return None if got is None else got.select("vec_id", "embedding")

    def state_lsn_high(self):
        return self.vectors.lsn_high()

    def pairs(self, spark, new_bands, all_bands, docs):
        from cdc.vectors import _confirm_cosine, _rh_candidates
        cand = (_rh_candidates(new_bands, all_bands)
                # consumed twice (endpoint lookup + confirmation join)
                .localCheckpoint(eager=True))
        ends = (cand.select(F.col("id_a").alias("vec_id"))
                .unionAll(cand.select(F.col("id_b").alias("vec_id"))))
        # partition-pruned point read: endpoints hash to O(batch-buckets)
        # partitions of the standing vectors table (the batch itself was
        # committed by prepare(), so one read covers both sides)
        vecs = self.vectors.lookup_keys(spark, ends)
        return (_confirm_cosine(cand, vecs.select("vec_id", "embedding"),
                                self.threshold)
                .select("id_a", "id_b"))


MINHASH = MinhashFamily()
SIMHASH = SimhashFamily()


def dedup_tables(bands_root: str, groups_root: str,
                 n_partitions: int = 16,
                 family: DedupFamily = MINHASH) -> tuple[CdcTable, CdcTable]:
    """The two standing-state tables of a continuous dedup pipeline.
    The bands table is keyed per (doc, band) — the LWW upsert unit — but
    PARTITIONED by the bucket columns (``part_cols``), so ingest probes
    prune to the batch's bucket partitions. Bucket values are a pure
    per-doc function and therefore immutable per key, satisfying the
    part_cols contract. The groups table is keyed (id) with key_hash
    layout, so the O(churn) upsert commits with zero extra repartition
    and touched-label probes are partition-pruned point reads.

    An EXISTING table at either root is opened with its RECORDED layout;
    a bands table not partitioned by ``family.bands_parts`` is refused."""
    from cdc.meta import store

    def make(root, key_cols, part_cols):
        if store.read_current(root) is not None:
            return CdcTable.open(root)
        return CdcTable(root, key_cols=key_cols,
                        n_partitions=n_partitions, layout="key_hash",
                        part_cols=part_cols)

    bands = make(bands_root, family.bands_key, family.bands_parts)
    if bands.part_cols != tuple(family.bands_parts):
        raise ValueError(
            f"band table at {bands_root} is partitioned by "
            f"{bands.part_cols}, not the bucket columns "
            f"{tuple(family.bands_parts)}; rebuild it under a new root")
    groups = make(groups_root, (family.id_col,), None)
    return bands, groups


def plan_epoch(spark: SparkSession, bands: CdcTable, groups: CdcTable,
               docs: DataFrame, key: str,
               family: DedupFamily = MINHASH
               ) -> tuple[DataFrame, DataFrame, int]:
    """Compute one epoch's (new_bands, changed_assignment_rows, lsn)
    WITHOUT committing the two dedup tables (the embedding family's
    vectors side-table IS committed — idempotent per key). Exposed so
    tests can pin the epoch's plan/IO shape; ``ingest_dedup_batch`` is
    this + the two commits."""
    # the batch lsn must beat every STANDING row's lsn or the LWW merge
    # silently drops the update — derive it from the tables, NOT from the
    # stream's epoch counter (a fresh checkpoint restarts epochs at 0).
    # Crash between the commits: the replayed earlier commits no-op via
    # their ledger entries and the later ones land with a higher lsn than
    # originally planned — still monotone, same rows.
    lsn = max(bands.lsn_high(), groups.lsn_high(),
              family.state_lsn_high()) + 1
    family.prepare(spark, docs, lsn, key)

    nb = (family.bands(docs)
          # consumed several times (probe collect, union, commit) — don't
          # run the signature pipeline per consumer
          .localCheckpoint(eager=True))
    # bucket-local probe: every family pairs on equality of the bucket
    # columns, which are the band table's part_cols, so only standing rows
    # in the batch's buckets can pair — read O(batch buckets), not the
    # corpus
    st = bands.lookup_keys(spark, nb.select(*family.bands_parts))
    cols = [f.split()[0] for f in family.bands_schema.split(",")]
    standing_b = (st.select(*cols) if st is not None
                  else spark.createDataFrame([], family.bands_schema))
    pairs = (family.pairs(spark, nb, standing_b.unionByName(nb), docs)
             # O(batch) rows; consumed by the endpoint probe and the CC
             # merge — cut the probe-join plan once
             .localCheckpoint(eager=True))

    a, b = family.pair_cols
    prior_t = groups.read(spark)
    touched = None
    if prior_t is not None:
        prior = prior_t.select(F.col(family.id_col).alias("id"), "grp")
        # touched-component labels via a partition-pruned point read of
        # the groups table (pair endpoints -> their key partitions) —
        # the epoch's only other access to the standing assignment is
        # ONE broadcast-semi scan inside the delta merge
        ends = (pairs.select(F.col(a).alias(family.id_col))
                .unionAll(pairs.select(F.col(b).alias(family.id_col))))
        probe = groups.lookup_keys(spark, ends)
        if probe is not None:
            touched = probe.select("grp")
    else:
        prior = spark.createDataFrame([], GROUPS_SCHEMA)
    changed = connected_components_incremental_delta(
        prior, pairs, src=a, dst=b, touched=touched)
    changed = changed.select(F.col("id").alias(family.id_col), "grp")
    return nb, changed, lsn


def ingest_dedup_batch(spark: SparkSession, bands: CdcTable,
                       groups: CdcTable, docs: DataFrame,
                       key: str, family: DedupFamily = MINHASH,
                       mode: str = "cow",
                       members: CdcTable | None = None) -> None:
    """One continuous-dedup ingest step (the foreachBatch body, callable
    directly for batch-mode backfills). ``docs`` — (doc_id, text) /
    (vec_id, embedding) for the NEW documents only. Idempotent per
    (table, key).

    ``mode='mor'`` — commit both tables as merge-on-read DELTA layers:
    write cost drops from O(touched partitions) to O(batch) per epoch
    (band rows are pure appends; changed assignment rows reconcile by
    max-lsn at read), the right trade for high-frequency micro-batches.
    Reads stay exact either way; run ``maintenance.compact`` on the
    cadence that keeps the probe's reconcile bounded.

    ``members`` — optional inverted membership index (``members_index``):
    kept in lock-step so ``apply_doc_changes`` can resolve a touched
    component's members with a partition-pruned probe instead of a
    groups scan. The refresh is exactly-once under the index's own
    ledger (change-feed netting — ``cdc.index.refresh``)."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"unknown mode {mode!r}")
    if (bands.is_committed(key) and groups.is_committed(key)
            and family.is_prepared(key)):
        if members is not None:
            from cdc import index
            index.refresh(spark, groups, members)   # self-healing catch-up
        return   # fully re-delivered epoch: skip the probe + merge work
    nb, changed, lsn = plan_epoch(spark, bands, groups, docs, key, family)
    for table, frame in ((bands, nb), (groups, changed)):
        if not table.is_committed(key):
            commit = (table.commit_delta if mode == "mor"
                      else table.commit_merge)
            commit(spark, _as_batch(frame, lsn, key), key)
    if members is not None:
        from cdc import index
        index.refresh(spark, groups, members)


def members_index(root: str, groups: CdcTable,
                  n_partitions: int = 16) -> CdcTable:
    """The inverted component-membership index: a feed-maintained
    secondary index on the groups table's ``grp`` column (key_cols =
    (grp, id), partition = hash(grp)), so members-of-component is ONE
    pruned partition read — the lookup ``apply_doc_changes`` needs to
    rebuild a touched component without scanning the corpus assignment.
    Maintenance is ``cdc.index.refresh`` over the groups change feed
    (retire+insert netting of pre/post images, exactly-once per snapshot
    range); pass it to ``ingest_dedup_batch``/``apply_doc_changes`` and
    it advances in lock-step with the groups commits."""
    from cdc import index
    from cdc.meta import store
    if store.read_current(root) is not None:
        return CdcTable.open(root)
    return index.create_index(root, groups, "grp",
                              n_partitions=n_partitions)


def _members_of(spark: SparkSession, groups: CdcTable,
                grps: DataFrame, members: CdcTable | None,
                id_col: str) -> DataFrame:
    """ids of every row whose grp is in ``grps`` (one column, distinct).
    With a ``members`` index: ``members.lookup_keys`` on the grp values
    (O(touched components)). Without: a full scan of the (narrow) groups
    table — correct, but O(corpus) per U/D epoch; supply the index at
    scale."""
    if members is not None:
        rows = members.lookup_keys(spark, grps)
        if rows is None:
            return spark.createDataFrame([], f"{id_col} long")
        return (rows.select(F.col(members.key_cols[1]).alias(id_col))
                .distinct())
    full = groups.read(spark)
    if full is None:
        return spark.createDataFrame([], f"{id_col} long")
    return (full.join(F.broadcast(grps), "grp", "left_semi")
            .select(F.col(id_col)).distinct())


def apply_doc_changes(spark: SparkSession, bands: CdcTable,
                      groups: CdcTable, changes: DataFrame, key: str,
                      family: DedupFamily = MINHASH,
                      fetch_docs=None, members: CdcTable | None = None,
                      mode: str = "cow") -> None:
    """CDC-complete one epoch of OP-TYPED document events through the
    standing dedup state — the update/delete half ``ingest_dedup_batch``
    (insert-only) doesn't cover. ``changes`` carries
    ``(id, op, <payload>, <payload>_pre)``: op ∈ {I,U,D}; ``payload`` is
    the POST image (NULL for D), ``payload_pre`` the PRE image (NULL for
    a first-time insert). Pre/post images are exactly what
    ``timetravel.change_feed(images='both')`` emits for a documents
    table, so a feed drives this directly.

    Plan (every step O(changed docs + affected components), commits
    exactly-once under sub-keys of ``key``):

    1. retire+insert band netting: old bands recompute deterministically
       from the PRE image (signatures are pure per-doc functions — no
       reverse index needed); rows whose bucket moved (or whose doc was
       deleted) are tombstoned WITH their old bucket values, so each
       tombstone routes to the partition its live row occupies
       (merge_apply's ``keep_on_delete``), then the new bands land in a
       SECOND commit at lsn+1 — the sanctioned retire-then-insert key
       move of the part_cols contract (``CdcTable.__init__``).
    2. affected components: changed doc ids ∪ new candidate-pair
       endpoints -> their standing grp (pruned point read) -> every
       member id (``members`` index probe, or a groups scan without it).
    3. rebuild the CLOSED affected subgraph from CURRENT payloads
       (``family.fetch_docs`` for self-stated families, else the
       ``fetch_docs(spark, ids_df)`` callable): recompute bands + pairs
       within the member∪changed node set (minus deletes), run plain CC
       over it, and commit ONLY rows that differ from prior, plus D
       tombstones for deleted docs. Edge REMOVAL (the thing grow-only
       incremental CC cannot do) is handled by construction: the
       affected components are relabeled from scratch, so splits fall
       out naturally, while untouched components are never read.

    Closure argument (why the subgraph is closed): any standing edge
    between a member and a non-member would have merged their components
    at discovery time — contradiction; pairs created by the NEW content
    are probed against the standing band table first, and their
    endpoints' components are pulled into the member set before the
    rebuild."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"unknown mode {mode!r}")
    idc, pay = family.id_col, family.payload_col
    pre = f"{pay}_pre"
    gkey = f"{key}-groups"
    # '-retire' is NOT part of the fast path: it only commits when the
    # epoch retired rows, and it commits strictly BEFORE '-bands' — so a
    # committed '-bands' already implies the retire half is durable.
    if (bands.is_committed(f"{key}-bands")
            and groups.is_committed(gkey) and family.is_prepared(key)):
        if members is not None:
            from cdc import index
            index.refresh(spark, groups, members)
        return
    lsn = max(bands.lsn_high(), groups.lsn_high(),
              family.state_lsn_high()) + 1
    # consumed by band diffing, node-set building and the side-state
    # commit — cut whatever feed plan produced it
    changes = changes.localCheckpoint(eager=True)
    family.prepare_changes(spark, changes, lsn, key)

    def commit(table, frame, sub_key, at_lsn, op=None):
        if table.is_committed(sub_key):
            return
        batch = _as_batch(frame, at_lsn, sub_key)
        if op is not None:
            batch = batch.withColumn("op", F.lit(op))
        do = table.commit_delta if mode == "mor" else table.commit_merge
        do(spark, batch, sub_key)

    # -- 1. band netting -------------------------------------------------------
    band_cols = [f.split()[0] for f in family.bands_schema.split(",")]
    old_docs = (changes.filter(F.col(pre).isNotNull())
                .select(F.col(idc), F.col(pre).alias(pay)))
    new_docs = (changes.filter((F.col("op") != "D")
                               & F.col(pay).isNotNull())
                .select(idc, pay))
    ob = family.bands(old_docs).localCheckpoint(eager=True)
    nb = family.bands(new_docs).localCheckpoint(eager=True)
    # rows that moved bucket / died vs rows that are genuinely new — the
    # anti joins run on ALL band columns, so an unchanged (key, bucket)
    # row is neither retired nor rewritten
    retire = ob.join(nb, band_cols, "left_anti")
    insert = nb.join(ob, band_cols, "left_anti").localCheckpoint(eager=True)
    if retire.limit(1).count():
        commit(bands, retire, f"{key}-retire", lsn, op="D")
    commit(bands, insert, f"{key}-bands", lsn + 1)

    # -- 2. affected components ------------------------------------------------
    # new-content pairs vs the standing table (post-commit: the standing
    # read already contains `insert` and no longer contains `retire`) —
    # used ONLY to pull the endpoints' components into the rebuild set;
    # the rebuild recomputes every edge it needs from current payloads.
    st = bands.lookup_keys(spark, insert.select(*family.bands_parts))
    standing_b = (st.select(*band_cols) if st is not None
                  else spark.createDataFrame([], family.bands_schema))
    a, b = family.pair_cols
    pairs_new = family.pairs(spark, insert, standing_b, new_docs)
    touched_ids = (changes.select(F.col(idc))
                   .unionAll(pairs_new.select(F.col(a).alias(idc)))
                   .unionAll(pairs_new.select(F.col(b).alias(idc)))
                   .distinct().localCheckpoint(eager=True))
    probe = groups.lookup_keys(spark, touched_ids)
    if probe is not None:
        grps = probe.select("grp").distinct().localCheckpoint(eager=True)
        member_ids = _members_of(spark, groups, grps, members, idc)
    else:
        member_ids = spark.createDataFrame([], f"{idc} long")

    # -- 3. rebuild the closed subgraph from current payloads -------------------
    dele = changes.filter(F.col("op") == "D").select(idc)
    nodes = (member_ids.unionByName(touched_ids)
             .join(dele, idc, "left_anti").distinct()
             .localCheckpoint(eager=True))
    docs_n = family.fetch_docs(spark, nodes)
    if docs_n is None:
        if fetch_docs is None:
            raise ValueError(
                f"family {family.name!r} keeps no payload state — pass "
                f"fetch_docs(spark, ids_df) returning current "
                f"({idc}, {pay}) rows for the given ids")
        docs_n = fetch_docs(spark, nodes)
    docs_n = docs_n.select(idc, pay).localCheckpoint(eager=True)
    bands_n = family.bands(docs_n).localCheckpoint(eager=True)
    pairs_n = family.pairs(spark, bands_n, bands_n, docs_n)
    comp = connected_components(
        pairs_n.select(F.col(a).alias("src"), F.col(b).alias("dst")))
    labels = (comp.select(F.col("id").alias(idc), "grp")
              .unionByName(
                  nodes.join(comp.select(F.col("id").alias(idc)),
                             idc, "left_anti")
                  .select(F.col(idc), F.col(idc).alias("grp")))
              .localCheckpoint(eager=True))
    prior_n = groups.lookup_keys(spark,
                                 labels.select(idc).unionByName(dele))
    if prior_n is not None:
        prior_n = (prior_n.select(F.col(idc), "grp")
                   .localCheckpoint(eager=True))
        changed = labels.join(prior_n, [idc, "grp"], "left_anti")
        dead = (prior_n.join(dele, idc, "left_semi")
                .select(idc, "grp").withColumn("_op", F.lit("D")))
    else:
        changed = labels
        dead = None
    batch = changed.withColumn("_op", F.lit("U"))
    if dead is not None:
        batch = batch.unionByName(dead)
    if not groups.is_committed(gkey):
        gb = (_as_batch(batch, lsn + 2, gkey)
              .withColumn("op", F.col("_op")).drop("_op"))
        do = groups.commit_delta if mode == "mor" else groups.commit_merge
        do(spark, gb, gkey)
    if members is not None:
        from cdc import index
        index.refresh(spark, groups, members)


def _run_epochs(spark: SparkSession, stream: DataFrame, checkpoint: str,
                prefix: str, body, tables: tuple[CdcTable, ...],
                compact_every: int | None, available_now: bool,
                processing_time: str | None, await_termination: bool):
    """The foreachBatch loop both stream entry points share. Epoch k runs
    ``body(batch_df, key)`` under ledger key
    ``<prefix>-<token>-epoch-<k>``: epoch_id is stable per checkpoint but
    not globally unique, so the key is scoped by a token of the
    checkpoint location (same convention as stream_to_table). After every
    ``compact_every``-th epoch the ``tables`` are compacted, folding a MOR
    stream's delta layers. Returns the StreamingQuery."""
    token = hashlib.sha256(
        os.path.abspath(checkpoint).encode()).hexdigest()[:10]

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        body(batch_df, f"{prefix}-{token}-epoch-{epoch_id:010d}")
        if compact_every and epoch_id % compact_every == compact_every - 1:
            from cdc.table.maintenance import compact
            for t in tables:
                compact(spark, t)

    w = (stream.writeStream.foreachBatch(handle)
         .option("checkpointLocation", checkpoint)
         .outputMode("update"))
    if available_now:
        w = w.trigger(availableNow=True)
    elif processing_time:
        w = w.trigger(processingTime=processing_time)
    q = w.start()
    if await_termination and available_now:
        q.awaitTermination()
    return q


def continuous_dedup_changes(spark: SparkSession, changes_stream: DataFrame,
                             bands: CdcTable, groups: CdcTable,
                             checkpoint_dir: str | None = None,
                             available_now: bool = True,
                             processing_time: str | None = None,
                             await_termination: bool = True,
                             family: DedupFamily = MINHASH,
                             fetch_docs=None,
                             members: CdcTable | None = None,
                             mode: str = "cow",
                             compact_every: int | None = None):
    """``continuous_dedup`` for an OP-TYPED change stream
    ``(id, op, payload, payload_pre)`` — inserts, updates AND deletes
    flow through the standing dedup state (``apply_doc_changes`` is the
    foreachBatch body; same exactly-once ledger keys, same checkpoint
    conventions, same ``compact_every`` cadence)."""
    checkpoint = checkpoint_dir or os.path.join(groups.root,
                                                "_checkpoints", "dedup_cdc")
    return _run_epochs(
        spark, changes_stream, checkpoint, "dedupc",
        lambda df, key: apply_doc_changes(
            spark, bands, groups, df, key, family, fetch_docs=fetch_docs,
            members=members, mode=mode),
        (bands, groups), compact_every, available_now, processing_time,
        await_termination)


def continuous_dedup(spark: SparkSession, docs_stream: DataFrame,
                     bands: CdcTable, groups: CdcTable,
                     checkpoint_dir: str | None = None,
                     available_now: bool = True,
                     processing_time: str | None = None,
                     await_termination: bool = True,
                     family: DedupFamily = MINHASH,
                     mode: str = "cow",
                     compact_every: int | None = None):
    """Run continuous dedup over a streaming (doc_id, text) — or
    (vec_id, embedding) — source. ``available_now=True`` drains the
    source and stops (bounded backfill); otherwise a live tail.
    ``compact_every=k`` compacts the bands and groups tables after every
    k-th epoch (a MOR stream's delta layers otherwise grow without
    bound). Returns the StreamingQuery."""
    checkpoint = checkpoint_dir or os.path.join(groups.root,
                                                "_checkpoints", "dedup")
    return _run_epochs(
        spark, docs_stream, checkpoint, "dedup",
        lambda df, key: ingest_dedup_batch(spark, bands, groups, df, key,
                                           family, mode),
        (bands, groups), compact_every, available_now, processing_time,
        await_termination)
