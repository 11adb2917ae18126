"""Streaming k-means assignment maintenance — the clustering-side
member of the incremental-index family (MinHash signatures and cluster
assignments).

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

__all__ = ["IncrementalKmeansAssign", "IncrementalSemDeDup"]


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
    batch where its LATER member arrives (the IncrementalLsh
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

        # Probe-side broadcast gated on the batch count already in hand:
        # a normal micro-batch broadcasts against the big stored corpus,
        # a backfill degrades to a shuffle join instead of OOMing
        # executors.
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
