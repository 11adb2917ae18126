"""Streaming k-means assignment maintenance — the clustering-side
member of the incremental-index family (MinHash signatures, sign-LSH
vectors, and now cluster assignments).

The production SemDeDup shape: the k-means FIT runs once over a
bootstrap sample (``operators/clustering.kmeans_fit`` — centroids are
k·dim longs, trivially persistable), then the full corpus streams
through ASSIGNMENT only. Each micro-batch is quantized and assigned
with the map-only Arrow kernel (centroids frozen in the closure; no
shuffle, no state reads), and the (id, cluster, dist) rows are
appended to a maintained assignment table. After any number of drains
the table equals ``kmeans_assign`` over every vector seen — assignment
is write-once per vector because the centroids are frozen, which is
what makes the operator embarrassingly streamable.

At 100 TB: the assignment table is the partition key for every
downstream within-cluster operation (dd15's pair join, per-cluster
survivor selection), so maintaining it incrementally means a corpus
append never recomputes the clustering of the existing mass — the
exact scale argument the incremental-silver path makes for dedup.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import quantize_vec
from ..operators.clustering import kmeans_assign
from .store import BatchStore

__all__ = ["IncrementalD4", "IncrementalKmeansAssign", "IncrementalSemDeDup"]


class IncrementalKmeansAssign(BatchStore):
    """Maintains an (id, cluster, dist) assignment table from a stream
    of (id, vector) rows against FROZEN centroids, one micro-batch at
    a time."""

    def __init__(
        self,
        store_path: str,
        centroids: list[list[int]],
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        self.store_path = store_path
        self.centroids = [[int(v) for v in cv] for cv in centroids]
        self.id_col = id_col
        self.vec_col = vec_col
        self._assign_path = self._path("assignments")
        # Centroids are part of the store: every invariant assumes the
        # SAME frozen centroids across drains.
        self._pin(
            "centroids.json",
            self.centroids,
            "assignment is write-once only under frozen centroids, so "
            "different centroids (a re-fit) require a full rebuild into a "
            "fresh store_path",
        )

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        q = batch.select(
            F.col(self.id_col).alias("_id"),
            quantize_vec(F.col(self.vec_col)).alias("_qv"),
        )
        assigned = kmeans_assign(q, "_qv", self.centroids).select(
            "_id", "cluster", "dist"
        )
        self._write(assigned, self._assign_path, batch_id)

    # -- reads -------------------------------------------------------------

    def assignments(self, spark: SparkSession) -> DataFrame:
        """All maintained (id, cluster, dist) rows. Gated on FILE
        presence rather than a fixed read schema, so the id column
        keeps its caller-chosen type on non-empty stores."""
        from pyspark.sql import types as T

        if self._has_files(self._assign_path):
            return (
                self._read_batches(spark, self._assign_path)
                .select(F.col("_id").alias(self.id_col), "cluster", "dist")
            )
        # Never-written (or only-empty-batches) store: the documented
        # empty default uses the engine's bigint id convention.
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(self.id_col, T.LongType()),
                    T.StructField("cluster", T.LongType()),
                    T.StructField("dist", T.LongType()),
                ]
            ),
        )

    def cluster_stats(self, spark: SparkSession) -> DataFrame:
        """Per-cluster (n_vecs, inertia) over the maintained table —
        the ss13 stats shape, kept current without any recompute of
        the assigned mass."""
        return (
            self.assignments(spark)
            .groupBy("cluster")
            .agg(
                F.count(F.lit(1)).alias("n_vecs"),
                F.sum("dist").alias("inertia"),
            )
        )


class IncrementalSemDeDup(IncrementalKmeansAssign):
    """Streaming SemDeDup maintenance: a growing embedding corpus
    never re-pairs itself. Each micro-batch is assigned to its frozen
    cluster (write-once, inherited machinery), joined against ONLY the
    stored same-cluster vectors, and exactly the removal marks
    TOUCHING the batch (new×existing and new×new) are appended. After
    any number of drains the marked set equals batch
    ``operators/clustering.semdedup`` over every vector seen with the
    same frozen centroids — a pair is examined exactly once, in the
    batch where its LATER member arrives (the IncrementalSignLsh
    contract, applied to semantic dedup).

    The removal rule is per-pair local (mark the higher
    centroid-similarity member; exact ties mark the larger id), which
    is what makes incremental emission equal to the batch operator:
    no mark depends on pairs outside the one being examined.

    Store layout adds a ``vectors`` table (quantized array + squared
    norm + centroid cosine, paid once at ingest) and a ``marks`` table
    beside the inherited assignments.
    """

    def __init__(
        self,
        store_path: str,
        centroids: list[list[int]],
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        threshold: float = 0.3,
        broadcast_max_rows: int = 2_000_000,
    ) -> None:
        pre_existing = os.path.exists(
            os.path.join(store_path, "centroids.json")
        )
        super().__init__(store_path, centroids, id_col, vec_col)
        self.threshold = threshold
        self.broadcast_max_rows = broadcast_max_rows
        self._vec_path = self._path("vectors")
        self._marks_path = self._path("marks")
        # The threshold is store state for the same reason centroids
        # are: pairs are examined exactly once, so marks accumulated
        # under a different threshold equal batch semdedup at NEITHER
        # value. A PRE-EXISTING store with no recorded threshold is
        # refused too: silently adopting the caller's value would
        # legitimize whatever mixing already happened.
        if pre_existing and not os.path.exists(self._path("params.json")):
            raise ValueError(
                "existing store has no recorded threshold (params.json); "
                "refusing to adopt a value silently — write "
                '{"threshold": <original>} to params.json if it is known, '
                "or rebuild into a fresh store_path"
            )
        self._pin(
            "params.json",
            {"threshold": threshold},
            "marks are emitted once per pair, so mixing thresholds "
            "silently corrupts the maintained set — rebuild into a fresh "
            "store_path",
        )

    def _prepare(self, batch: DataFrame) -> DataFrame:
        """(id, vec) → (_id, cluster, dist, _qv, _n, _cs): per-row
        ingest work paid once — kernel assignment, squared norm,
        centroid cosine via the SHARED ``with_centroid_cosine`` helper
        (the marks-equality contract with batch semdedup depends on
        bit-identical ``_cs``, so there is exactly one implementation)."""
        from ..operators.clustering import with_centroid_cosine

        q = batch.select(
            F.col(self.id_col).alias("_id"),
            quantize_vec(F.col(self.vec_col)).alias("_qv"),
        )
        assigned = kmeans_assign(q, "_qv", self.centroids)
        return with_centroid_cosine(assigned, "_qv", self.centroids).select(
            "_id", "cluster", "dist", "_qv", "_n", "_cs"
        )

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        from ..functions import cosine_prequantized_hof

        spark = batch.sparkSession
        new_v = self._prepare(batch).localCheckpoint(eager=True)
        n_new = new_v.count()
        if n_new == 0:
            return
        existing = self._read_prior(spark, self._vec_path, batch_id, new_v.schema)
        all_v = existing.unionByName(new_v)

        # Probe-side broadcast gated on the batch count already in hand
        # (the IncrementalSignLsh discipline): a normal micro-batch
        # broadcasts against the big stored corpus, a backfill degrades
        # to a shuffle join instead of OOMing executors.
        probe = (
            F.broadcast(new_v) if n_new <= self.broadcast_max_rows else new_v
        )
        a = probe.alias("a")
        b = all_v.alias("b")
        # Zero-norm rows are stored/assigned but excluded from pairing
        # (NaN cosine would pass >= threshold) — mirrors batch semdedup.
        pairs = a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a._id") != F.col("b._id"))
            & (F.col("a._n") > 0)
            & (F.col("b._n") > 0),
        ).where(
            cosine_prequantized_hof(
                F.col("a._qv"), F.col("b._qv"), F.col("a._n"), F.col("b._n")
            )
            >= F.lit(self.threshold)
        )
        # Same rule as the batch operator; new×new pairs appear in both
        # orientations and resolve to the same mark → distinct dedups.
        marks = pairs.select(
            F.col("a.cluster").alias("cluster"),
            F.when(F.col("a._cs") > F.col("b._cs"), F.col("a._id"))
            .when(F.col("b._cs") > F.col("a._cs"), F.col("b._id"))
            .otherwise(F.greatest("a._id", "b._id"))
            .alias("vec_id"),
        ).distinct()

        self._write(marks, self._marks_path, batch_id)
        self._write(new_v, self._vec_path, batch_id)
        # Maintain the inherited assignment table too, from the SAME
        # prepared rows — no second kernel pass over the batch.
        self._write(
            new_v.select("_id", "cluster", "dist"), self._assign_path, batch_id
        )
        # Subclass hook (IncrementalD4): derived per-cluster state is
        # recomputed from the store AFTER this batch's writes but
        # BEFORE the commit marker, so a crash anywhere in the window
        # replays the whole batch idempotently.
        self._post_batch(spark, batch_id, new_v)

    def _post_batch(
        self, spark: SparkSession, batch_id: int, new_v: DataFrame
    ) -> None:
        """Default: no derived state beyond marks/vectors/assignments."""

    def marks(self, spark: SparkSession) -> DataFrame:
        """All maintained (cluster, vec_id) removal marks, distinct
        across batches. FILE-presence gated: a batch with ZERO
        qualifying pairs legitimately writes an empty marks partition,
        and on non-empty stores inference keeps the id column's
        caller-chosen type."""
        from pyspark.sql import types as T

        if self._has_files(self._marks_path):
            return (
                self._read_batches(spark, self._marks_path)
                .select("cluster", "vec_id")
                .distinct()
            )
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("cluster", T.LongType()),
                    T.StructField("vec_id", T.LongType()),
                ]
            ),
        )


class IncrementalD4(IncrementalSemDeDup):
    """Streaming D4 maintenance — the sixth incremental-index family:
    SemDeDup marks stream exactly-once-per-pair (inherited), and the
    SSL-prototype marks — which are per-cluster GLOBAL ranks, not
    pair-local decisions — are re-derived per batch for the TOUCHED
    clusters only and stored partitioned BY CLUSTER, so a corpus
    append rewrites exactly the cluster partitions it changed (the
    incremental-silver bucket-rewrite shape applied to curation
    marks). After any number of drains ``d4_marks`` equals batch
    ``operators/clustering.d4_prune`` over every vector seen with the
    same frozen centroids.

    Why re-derive instead of emit-once: a cluster's prototype set is
    a function of its CURRENT survivor ranking — later arrivals can
    sem-mark existing members (shrinking the survivors) or grow the
    quota floor((n·pct)/100), so previously-emitted prototype marks
    can become wrong. A cluster's survivors change only when the
    cluster receives vectors, so re-ranking touched clusters is
    sufficient for exact equality.

    Stale-partition discipline: a touched cluster can legitimately
    re-rank to ZERO prototype marks (quota 0, or survivors shrank);
    dynamic partition overwrite skips partitions absent from the
    written frame, which would leave the old marks standing. Every
    touched cluster therefore writes a NULL-id sentinel row, filtered
    on read — the partition is always rewritten.

    ``proto_pct`` is store state like the threshold: prototype marks
    for untouched clusters were derived under the recorded value, so
    a maintainer re-created with a different pct would silently mix
    regimes — refused loudly (pinned in d4_params.json).
    """

    def __init__(
        self,
        store_path: str,
        centroids: list[list[int]],
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        threshold: float = 0.3,
        proto_pct: int = 20,
        broadcast_max_rows: int = 2_000_000,
    ) -> None:
        super().__init__(
            store_path, centroids, id_col, vec_col, threshold,
            broadcast_max_rows,
        )
        self.proto_pct = int(proto_pct)
        self._proto_path = self._path("proto_marks")
        self._pin(
            "d4_params.json",
            {"proto_pct": self.proto_pct},
            "untouched clusters keep marks derived under the recorded "
            "value — rebuild into a fresh store_path",
        )

    def _post_batch(
        self, spark: SparkSession, batch_id: int, new_v: DataFrame
    ) -> None:
        from pyspark.sql import Window

        # Coordination-only collect: ≤ k cluster ids.
        touched = [
            int(r["cluster"])
            for r in new_v.select("cluster").distinct().collect()
        ]
        if not touched:
            return
        vecs = self._read_batches(spark, self._vec_path).where(
            F.col("cluster").isin(touched)
        )
        sem = self.marks(spark).where(F.col("cluster").isin(touched))
        surv = (
            vecs.where(F.col("_n") > 0)
            .select("cluster", F.col("_id").alias("vec_id"), "_cs")
            .join(sem, on=["cluster", "vec_id"], how="left_anti")
        )
        w = Window.partitionBy("cluster").orderBy(
            F.col("_cs").desc(), F.col("vec_id").asc()
        )
        wc = Window.partitionBy("cluster")
        proto = (
            surv.select(
                "cluster",
                "vec_id",
                F.row_number().over(w).alias("_r"),
                F.count(F.lit(1)).over(wc).alias("_nc"),
            )
            .where(F.col("_r") <= F.expr(f"(_nc * {self.proto_pct}) div 100"))
            .select("cluster", "vec_id")
        )
        sentinels = spark.createDataFrame(
            [(c, None) for c in touched], "cluster long, vec_id long"
        )
        proto.unionByName(sentinels).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("cluster").parquet(self._proto_path)

    def proto_marks(self, spark: SparkSession) -> DataFrame:
        """Current (cluster, vec_id) prototype marks — sentinel rows
        filtered, the partition-column type pinned back to long (Spark
        infers small numeric partition values as int)."""
        from pyspark.sql import types as T

        if self._has_files(self._proto_path):
            return (
                spark.read.parquet(self._proto_path)
                .where(F.col("vec_id").isNotNull())
                .select(F.col("cluster").cast("long").alias("cluster"), "vec_id")
            )
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("cluster", T.LongType()),
                    T.StructField("vec_id", T.LongType()),
                ]
            ),
        )

    def d4_marks(self, spark: SparkSession) -> DataFrame:
        """(cluster, vec_id, reason) — the batch ``d4_prune`` output
        shape, kept current incrementally."""
        return self.marks(spark).withColumn(
            "reason", F.lit("semdedup")
        ).unionByName(
            self.proto_marks(spark).withColumn("reason", F.lit("prototype"))
        )
