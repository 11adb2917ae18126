"""Streaming sign-LSH maintenance for EMBEDDINGS — the vector-side
sibling of ``streaming/lsh.py`` (MinHash signatures): the
bucketed-vector index behind multi-table ANN
(``operators/similarity.lsh_multi_table_pairs``).

A growing embedding corpus never re-pairs itself: each micro-batch of
new vectors is quantized and bucketed ONCE (buckets are write-once per
vector — the same deterministic plane schedule every run), probed
against the stored vector table on each table's bucket equi-key, and
exactly the cosine-verified pairs TOUCHING the batch (new×existing and
new×new) are appended to the maintained pair table. After any number
of drains the maintained pairs equal the full-corpus
``lsh_multi_table_pairs`` over every vector seen — a pair (a, b) is
emitted exactly once, in the batch where its LATER member arrives.

As in ``streaming/lsh.py``, the "existing" read excludes the current
batch id so a crash-after-write replay never sees its own rows as
corpus.

Store layout: the vector table holds the QUANTIZED array + squared
norm + one bucket column per table — the per-row work
(``quantize_vec`` / ``norm_sq_prequantized`` / ``lsh_bucket``) is paid
once at ingest, so every later probe join scores pre-quantized arrays
with the flat codegen-resident dot (the ss01-family fast path). At
100 TB the vector store is a real table bucketed by (table, bucket)
for the probe; here it is a parquet directory with identical
semantics. The probe broadcast is size-gated per batch exactly like
the MinHash maintainer: the batch count (needed anyway for the empty
skip) pins the strategy, so a backfill degrades to a shuffle join
instead of OOMing executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cosine_prequantized, norm_sq_prequantized, quantize_vec
from ..operators.similarity import lsh_bucket_prequantized
from .store import BatchStore

__all__ = ["IncrementalSignLsh"]


class IncrementalSignLsh(BatchStore):
    """Maintains a bucketed-vector table + cosine-verified candidate
    pair table from a stream of (id, embedding) rows, one micro-batch
    at a time."""

    def __init__(
        self,
        store_path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        threshold: float = 0.3,
        n_planes: int = 8,
        n_tables: int = 2,
        dim: int = 64,
        broadcast_max_rows: int = 2_000_000,
    ) -> None:
        self.store_path = store_path
        self.id_col = id_col
        self.vec_col = vec_col
        self.threshold = threshold
        self.n_planes = n_planes
        self.n_tables = n_tables
        self.dim = dim
        self.broadcast_max_rows = broadcast_max_rows
        self._vec_path = self._path("vectors")
        self._pairs_path = self._path("pairs")

    # -- per-row ingest work (write-once per vector) -------------------------

    def _prepare(self, df: DataFrame) -> DataFrame:
        """(id, vec) → (id, _qv, _n, _b0.._bL-1): quantized array,
        squared norm, one sign-LSH bucket per table (disjoint plane
        slices — same schedule as lsh_multi_table_pairs)."""
        out = df.select(
            F.col(self.id_col).alias("_id"),
            quantize_vec(F.col(self.vec_col)).alias("_qv"),
        ).withColumn("_n", norm_sq_prequantized(F.col("_qv")))
        for t in range(self.n_tables):
            out = out.withColumn(
                f"_b{t}",
                lsh_bucket_prequantized(
                    F.col("_qv"),
                    n_planes=self.n_planes,
                    dim=self.dim,
                    plane_offset=t * self.n_planes,
                ),
            )
        return out

    # -- foreachBatch body ---------------------------------------------------

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        """Bucket the batch, probe it against the stored corpus per
        table, land its vectors and the cosine-verified pairs touching
        it."""
        # Eager materialization: the prepared rows feed every table's
        # probe join (both sides), the size gate, and the store write.
        new_v = self._prepare(batch).localCheckpoint(eager=True)
        n_new = new_v.count()
        if n_new == 0:
            return
        existing = self._read_prior(
            batch.sparkSession, self._vec_path, batch_id, new_v.schema
        )
        all_v = existing.unionByName(new_v)
        do_broadcast = n_new <= self.broadcast_max_rows

        pairs = None
        for t in range(self.n_tables):
            a = (F.broadcast(new_v) if do_broadcast else new_v).alias("a")
            joined = a.join(
                all_v.alias("b"),
                (F.col(f"a._b{t}") == F.col(f"b._b{t}"))
                & (F.col("a._id") != F.col("b._id")),
            ).select(
                F.least("a._id", "b._id").alias("id_a"),
                F.greatest("a._id", "b._id").alias("id_b"),
                cosine_prequantized(
                    F.col("a._qv"), F.col("b._qv"),
                    F.col("a._n"), F.col("b._n"), self.dim,
                ).alias("cosine"),
            )
            pairs = joined if pairs is None else pairs.unionByName(joined)
        # The cosine is deterministic per pair (exact-int dot), so the
        # distinct over (ids, score) dedups across tables AND across
        # the new×new double emission (a,b)+(b,a)→least/greatest.
        pairs = pairs.where(F.col("cosine") >= F.lit(self.threshold)).distinct()

        self._write(pairs, self._pairs_path, batch_id)
        self._write(new_v, self._vec_path, batch_id)

    # -- reads ----------------------------------------------------------------

    def vectors(self, spark: SparkSession) -> DataFrame:
        """All maintained (id, _qv, _n, buckets) rows."""
        return self._read_batches(spark, self._vec_path)

    def pairs(self, spark: SparkSession) -> DataFrame:
        """All maintained cosine-verified pairs (id_a < id_b),
        distinct across batches by the exactly-once emission
        contract. Ids are typed like the vector store's; with the
        store entirely empty the documented default is ``bigint``
        (the engine's id convention)."""
        from .compaction import dataset_present

        idt = (
            self.vectors(spark).schema["_id"].dataType
            if dataset_present(self._vec_path)
            else T.LongType()
        )
        return self._read_batches(
            spark,
            self._pairs_path,
            T.StructType([T.StructField("id_a", idt), T.StructField("id_b", idt)]),
        )
