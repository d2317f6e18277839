"""Incremental ANN ingest: the IVF assignment as STANDING ENGINE STATE.

``cdc.vectors`` gives IVF its one-shot form (train / assign / search over
DataFrames). This module gives it the same treatment the dedup families
got: a ``CdcTable`` holds (vec_id, embedding, centroid) as transactional,
time-travelable state; each ingest batch is assigned O(batch) against the
broadcast centroid set and committed under the exactly-once epoch ledger;
search reads the STANDING table pruned to the probed centroids'
partitions — never a corpus scan, never a re-assignment.

Layout: key = (vec_id,) — the LWW upsert unit — but ``part_cols`` =
(centroid,), so partition id = pmod(hash(centroid), P): a search with
``nprobe`` probes reads at most nprobe×|queries| partitions' files
(manifest pruning), and all vectors of one coarse cluster are physically
co-located. The part_cols contract (partition columns immutable per key)
holds because assignment against a FIXED quantizer is deterministic:
re-ingesting a vector lands the same centroid.

Drift / re-train seam: the quantizer is frozen at ``train_on`` time and
stored IN the table (a ``properties`` entry — versioned with the
snapshots, so time travel reads the centroids that produced that
snapshot's assignment). When ingest drift degrades recall (monitor
``assignment_stats``: falling mean cos-to-centroid), REBUILD into a fresh
root with ``retrain_into`` — re-assigning in place would move keys across
partitions mid-table, which the layout contract forbids; an atomic
catalog/pointer swap to the new root is the production cutover, exactly
Iceberg's rewrite-then-swap shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc.merge import as_cdc_batch as _as_batch
from cdc.table.table import CdcTable
from cdc.vectors import (cosine_topk, ivf_assign, ivf_query_probes,
                         ivf_train, pq_adc_search, pq_codes_col, pq_train)

CENTROIDS_PROP = "ivf.centroids"
PQ_PROP = "ivf.pq_codebooks"


class IvfIndex:
    """Standing IVF index over a (vec_id, embedding) stream."""

    def __init__(self, root: str, n_partitions: int = 16):
        self.table = CdcTable(root, key_cols=("vec_id",),
                              n_partitions=n_partitions, layout="key_hash",
                              part_cols=("centroid",))

    # -- quantizer lifecycle ---------------------------------------------------
    def _prop_payload(self, prop: str):
        """A training product from the table's properties, held as an
        ``artifact:`` side-file reference (written once, O(1) bytes per
        snapshot — see ``store.write_artifact``)."""
        from cdc.meta import store
        snap = self.table.current_snapshot()
        raw = ((snap or {}).get("properties") or {}).get(prop)
        if raw is None:
            return None
        return store.read_artifact_ref(self.table.root, prop, raw)

    def centroids(self, spark: SparkSession) -> DataFrame | None:
        """The frozen quantizer as a (cid, cemb) frame, from the table's
        own properties (None before training)."""
        payload = self._prop_payload(CENTROIDS_PROP)
        if payload is None:
            return None
        rows = [(int(c["cid"]), [float(x) for x in c["cemb"]])
                for c in payload]
        return spark.createDataFrame(rows, "cid int, cemb array<double>")

    def pq_codebooks(self, spark: SparkSession) -> list | None:
        """The frozen PQ codebooks CB[m][k][dim/m] (None when the index
        was trained without PQ)."""
        return self._prop_payload(PQ_PROP)

    def train_on(self, spark: SparkSession, vecs: DataFrame, key: str,
                 n_centroids: int = 8, iters: int = 0,
                 pq_m: int | None = None, pq_k: int = 16,
                 dim: int = 64) -> None:
        """Train the quantizer(s) on the FIRST batch and commit both the
        batch's assignment and the quantizer properties (idempotent
        commits; a crash between them re-trains deterministically from
        the committed assignment's embeddings on replay — bit-exact for
        ``iters=0``; Lloyd refinement sums floats in shuffle order, so
        ``iters>0`` heals to an equivalent-but-not-bit-identical
        quantizer: see ``cdc.vectors.pq_train``).

        ``pq_m`` — also train per-subspace PQ codebooks (IVF-PQ): every
        ingested vector additionally stores its M sub-space codes, and
        ``search(adc=True)`` ranks candidates by quantized distance
        WITHOUT reading the float embedding column at all."""
        done_cent = self.centroids(spark) is not None
        done_pq = pq_m is None or self.pq_codebooks(spark) is not None
        if done_cent and done_pq:
            return
        src = (vecs.select("vec_id", "embedding")
               if not self.table.is_committed(key)
               # crash-heal: re-derive the same quantizers from committed
               # state (same vector set, deterministic seeding/Lloyd) —
               # this covers a crash between ANY pair of the assignment /
               # centroid-property / pq-property commits
               else self.table.read(spark).select("vec_id", "embedding"))
        cent = ivf_train(src, n_centroids, iters)
        cb = pq_train(src, m=pq_m, k=pq_k, iters=iters,
                      dim=dim) if pq_m else None
        if not self.table.is_committed(key):
            self._commit_assigned(spark, vecs, cent, key, cb=cb)
        from cdc.meta import store
        from cdc.table import alter
        # training products are IMMUTABLE side files; the property holds
        # only the artifact path, so snapshot size stays independent of
        # C·dim across every later per-epoch commit
        if not done_cent:
            payload = [{"cid": r["cid"], "cemb": list(r["cemb"])}
                       for r in sorted(cent.collect(),
                                       key=lambda r: r["cid"])]
            ref = store.write_artifact(self.table.root, "ivf-centroids",
                                       payload)
            alter.set_property(self.table, CENTROIDS_PROP, ref)
        if cb is not None and not done_pq:
            ref = store.write_artifact(self.table.root, "pq-codebooks", cb)
            alter.set_property(self.table, PQ_PROP, ref)

    # -- ingest ------------------------------------------------------------------
    def ingest(self, spark: SparkSession, vecs: DataFrame,
               key: str) -> None:
        """Assign ONE ingest batch against the broadcast quantizer and
        MERGE it into the standing table — O(batch) compute, O(touched
        centroid partitions) write, exactly-once per ``key``."""
        if self.table.is_committed(key):
            return
        cent = self.centroids(spark)
        if cent is None:
            raise ValueError("index has no trained quantizer — call "
                             "train_on with the first batch")
        cb = self._codebooks_checked(spark)
        self._commit_assigned(spark, vecs, cent, key, cb=cb)

    def _codebooks_checked(self, spark):
        cb = self.pq_codebooks(spark)
        snap = self.table.current_snapshot()
        if cb is None and snap is not None and \
                "codes" in (snap.get("schema_ddl") or ""):
            # the table carries PQ codes but the codebook property is gone
            # (crash window / hand-edited properties): committing NULL-code
            # rows would silently rank wrong in every ADC search
            raise ValueError(
                "table schema has a 'codes' column but no PQ codebooks are "
                "stored — re-run train_on(pq_m=...) (crash-heal) before "
                "ingesting, or rebuild via retrain_into")
        return cb

    def ingest_changes(self, spark: SparkSession, changes: DataFrame,
                       key: str) -> None:
        """CDC-complete one OP-TYPED batch through the standing index —
        the update/delete half ``ingest`` (insert-only) doesn't cover.
        ``changes``: (vec_id, op, embedding, embedding_pre); op ∈
        {I,U,D}; ``embedding`` is the POST image (NULL for D),
        ``embedding_pre`` the PRE image (NULL for a first insert) —
        exactly what ``timetravel.change_feed(images='both')`` emits.

        The frozen quantizer makes U/D routable WITHOUT any reverse
        lookup: a row's centroid partition recomputes deterministically
        from its pre-image embedding. Deletes tombstone the assignment
        row IN its old centroid partition; updates whose embedding
        crossed a centroid boundary are the sanctioned part_cols key
        move — a retire commit (tombstones at lsn, old partitions)
        followed by the live commit (lsn+1, new partitions); same-
        centroid updates are plain LWW upserts. ``search`` can never
        return a deleted or moved-away row: tombstones retire it at
        read. Exactly-once per ``key`` (the retire commit under
        ``<key>-retire``); a crash between the two commits heals on
        replay via the ledger."""
        if self.table.is_committed(key):
            return
        cent = self.centroids(spark)
        if cent is None:
            raise ValueError("index has no trained quantizer — call "
                             "train_on with the first batch")
        cb = self._codebooks_checked(spark)
        changes = changes.localCheckpoint(eager=True)
        if changes.filter((F.col("op") == "D")
                          & F.col("embedding_pre").isNull()) \
                .limit(1).count():
            raise ValueError(
                "a DELETE must carry embedding_pre — the frozen quantizer "
                "recomputes the row's centroid partition from it (key-only "
                "lookups cannot route on a part-override table)")
        lsn = self.table.lsn_high() + 1
        old = (ivf_assign(
            changes.filter(F.col("embedding_pre").isNotNull())
            .select("vec_id", F.col("embedding_pre").alias("embedding")),
            cent)
            .select("vec_id", "embedding",
                    F.col("centroid").alias("_old"))
            .localCheckpoint(eager=True))
        live = (changes.filter(F.col("op") != "D")
                .select("vec_id", "embedding"))
        assigned = (ivf_assign(live, cent)
                    .select("vec_id", "embedding", "centroid",
                            F.round("cos", 6).alias("cos6")))
        if cb is not None:
            assigned = assigned.withColumn("codes", pq_codes_col(cb))
        assigned = assigned.localCheckpoint(eager=True)
        moved = (assigned.select("vec_id",
                                 F.col("centroid").alias("_new"))
                 .join(old.select("vec_id", "_old"), "vec_id")
                 .filter(F.col("_old") != F.col("_new"))
                 .select("vec_id"))
        gone = changes.filter(F.col("op") == "D").select("vec_id")
        retire = (old.join(gone.unionByName(moved).distinct(),
                           "vec_id", "left_semi")
                  .select("vec_id", "embedding",
                          F.col("_old").alias("centroid"),
                          F.lit(None).cast("double").alias("cos6")))
        if cb is not None:
            retire = retire.withColumn(
                "codes", F.lit(None).cast("array<int>"))
        rkey = f"{key}-retire"
        if not self.table.is_committed(rkey) and retire.limit(1).count():
            rb = (_as_batch(retire, lsn, rkey)
                  .withColumn("op", F.lit("D")))
            self.table.commit_merge(spark, rb, rkey)
        self.table.commit_merge(spark, _as_batch(assigned, lsn + 1, key),
                                key)

    def _commit_assigned(self, spark, vecs, cent, key, cb=None):
        assigned = (ivf_assign(vecs.select("vec_id", "embedding"), cent)
                    .select("vec_id", "embedding", "centroid",
                            F.round("cos", 6).alias("cos6")))
        if cb is not None:
            # PQ codes ride the assignment rows: computed map-side at
            # ingest, immutable per key (pure function of the frozen
            # codebooks, whose geometry the codes column derives from —
            # a non-default training dim can't silently mis-slice), so
            # ADC search never touches the float column
            assigned = assigned.withColumn("codes", pq_codes_col(cb))
        lsn = self.table.lsn_high() + 1
        self.table.commit_merge(spark, _as_batch(assigned, lsn, key), key)

    # -- read side ----------------------------------------------------------------
    def assignment(self, spark: SparkSession,
                   centroids: list[int] | None = None) -> DataFrame | None:
        """The standing assignment; ``centroids`` reads only those
        clusters' rows: ``lookup_keys`` on a centroid probe (``centroid``
        is the table's partition column)."""
        if centroids is None:
            return self.table.read(spark)
        return self.table.lookup_keys(spark, spark.createDataFrame(
            [(int(c),) for c in centroids], "centroid int"))

    def search(self, spark: SparkSession, queries: DataFrame, k: int,
               nprobe: int = 1, adc: bool = False) -> DataFrame:
        """IVF top-k over the STANDING table: score the broadcast
        centroids per query (one map-side pass), manifest-prune the table
        to the probed clusters' partitions, equi-join on the centroid id,
        rank top-k. Cost: O(|queries| × C) scoring + O(probed partitions)
        scan — at 10^9 vectors and C=4096 a query touches ~nprobe/4096 of
        the corpus, and the partition pruning means Spark never even
        LISTS the rest.

        ``adc=True`` (IVF-PQ, needs ``train_on(pq_m=…)``): rank the
        probed clusters' candidates by quantized distance over their
        stored codes — the scan projects (vec_id, centroid, codes) ONLY,
        so the wide float embedding column is column-pruned away and a
        probe reads ~M bytes per candidate instead of dim×4. Returns
        (qid, vec_id, adc6, rnk) [quantized distances, ascending];
        exact-cosine form returns (qid, vec_id, cosine, rnk)."""
        cent = self.centroids(spark)
        if cent is None:
            raise ValueError("index has no trained quantizer")
        q = queries.select("vec_id", "embedding")
        aq = (ivf_assign(q, cent).select("vec_id", "embedding", "centroid")
              if nprobe <= 1 else ivf_query_probes(q, cent, nprobe))
        probed = [r["centroid"] for r in
                  aq.select("centroid").distinct().collect()]
        cand = self.assignment(spark, centroids=probed)
        if cand is None:
            # trained-but-empty index (or every probed partition pruned
            # away): an empty result, not an AttributeError
            return spark.createDataFrame(
                [], ("qid long, vec_id long, "
                     + ("adc6 string" if adc else "cosine double")
                     + ", rnk int"))
        if not adc:
            return cosine_topk(
                aq, cand.select("vec_id", "embedding", "centroid"),
                k=k, partition_col="centroid")
        cb = self.pq_codebooks(spark)
        if cb is None:
            raise ValueError("index has no PQ codebooks — train_on with "
                             "pq_m to enable ADC search")
        return pq_adc_search(aq, cand.select("vec_id", "centroid", "codes"),
                             cb, topk=k, partition_col="centroid")

    def assignment_stats(self, spark: SparkSession) -> DataFrame:
        """Per-centroid drift monitor: member count + mean/min cosine to
        the centroid. A falling mean is the retrain signal."""
        df = self.table.read(spark)
        if df is None:
            return spark.createDataFrame(
                [], "centroid int, n_vectors long, mean_cos double, "
                    "min_cos double")
        return (df.groupBy("centroid")
                .agg(F.count(F.lit(1)).alias("n_vectors"),
                     F.round(F.avg("cos6"), 6).alias("mean_cos"),
                     F.round(F.min("cos6"), 6).alias("min_cos")))


def retrain_into(spark: SparkSession, old: IvfIndex, new_root: str,
                 key: str = "retrain-0", n_centroids: int = 8,
                 iters: int = 0, n_partitions: int | None = None,
                 pq_m: int | None = None, pq_k: int | None = None
                 ) -> IvfIndex:
    """The re-train seam: REBUILD the index into a fresh root from the
    standing embeddings (new quantizer -> full re-assignment -> one
    commit), leaving the old index readable throughout; the caller swaps
    a catalog pointer when done. In-place re-assignment is deliberately
    not offered — it would move keys across partitions, violating the
    part_cols layout contract.

    PQ carries over: when the old index stored codebooks, the rebuild
    re-trains them too (same subspace geometry unless ``pq_m``/``pq_k``
    override it) — otherwise the cutover would silently break every
    ``search(adc=True)`` caller."""
    new = IvfIndex(new_root,
                   n_partitions=n_partitions or old.table.n_partitions)
    vecs = old.table.read(spark)   # None before the first commit
    if vecs is not None:
        vecs = vecs.select("vec_id", "embedding")
    old_cb = old.pq_codebooks(spark)
    if old_cb is not None and pq_m is None:
        pq_m, pq_k = len(old_cb), len(old_cb[0])
    if old_cb is not None:
        dim = len(old_cb) * len(old_cb[0][0])
    else:
        # no codebooks to derive geometry from — measure the standing
        # embeddings (a hardcoded default would mis-slice PQ subspaces
        # when the caller ADDS pq_m at retrain time on non-default dims)
        first = None if vecs is None else vecs.select("embedding").first()
        if first is None:
            raise ValueError(
                f"retrain_into: cannot infer the embedding dim of "
                f"{old.table.root} — the index is empty and stores no PQ "
                f"codebooks; ingest vectors before retraining")
        dim = len(first["embedding"])
    new.train_on(spark, vecs, key, n_centroids=n_centroids, iters=iters,
                 pq_m=pq_m, pq_k=pq_k if pq_k is not None else 16, dim=dim)
    return new
