"""Streaming IVF-PQ index maintenance — the ninth incremental family.

The retrieval index ss21 builds (coarse cell + m PQ codes per vector,
``operators/clustering.py`` ``ivf_pq_adc_topk``) has the same
write-once property the assignment families exploit: under FROZEN
coarse centroids and FROZEN codebooks, a vector's cell and codes never
change, so a growing corpus never re-encodes anything — each
micro-batch encodes only its own rows and appends them to the
maintained index. Searches then run against the maintained table with
zero recompute of the indexed mass: exactly how a production ANN
index ingests (FAISS `add()` after `train()`).

Contract (the dd09 equivalence discipline shared by all nine
families):

- ``index(spark)`` == batch ``pq_encode`` + ``kmeans_assign`` over
  every vector drained so far (equivalence test in
  tests/test_streaming.py).
- ``search(...)`` over the maintained index == ``ivf_pq_adc_topk``
  over the batch-built index — the retrieval the index exists for.
- A maintainer re-created with different frozen artifacts refuses
  the store loudly.

Reference parity: the reference pipeline has no ANN surface; this is
the LLM-training-data extension stack (similarity-search maintenance
for a continuously ingested corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import quantize_vec
from ..operators.clustering import ivf_pq_adc_topk, kmeans_assign, pq_encode
from .store import BatchStore

__all__ = ["IncrementalIvfPq"]


class IncrementalIvfPq(BatchStore):
    """Maintains the IVF-PQ index table (id, cluster, c0..c{m-1}) from
    a stream of (id, vector) rows against FROZEN coarse centroids and
    PQ codebooks, one micro-batch at a time."""

    def __init__(
        self,
        store_path: str,
        coarse_centroids: list[list[int]],
        codebooks: list[list[list[int]]],
        sub_dim: int = 8,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        self.store_path = store_path
        self.coarse = [[int(v) for v in cv] for cv in coarse_centroids]
        self.codebooks = [
            [[int(v) for v in cv] for cv in cb] for cb in codebooks
        ]
        self.sub_dim = int(sub_dim)
        self.id_col = id_col
        self.vec_col = vec_col
        self._index_path = self._path("index")
        # Frozen artifacts are part of the store: encoding is write-once
        # ONLY under the same quantizers.
        self._pin(
            "artifacts.json",
            {
                "coarse": self.coarse,
                "codebooks": self.codebooks,
                "sub_dim": self.sub_dim,
            },
            "the PQ encoding is write-once only under identical quantizers, "
            "so different frozen artifacts (coarse centroids / codebooks / "
            "sub_dim) require a full rebuild into a fresh store_path",
        )

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        m = len(self.codebooks)
        cells = kmeans_assign(
            batch.select(
                F.col(self.id_col).alias("vec_id"),
                quantize_vec(F.col(self.vec_col)).alias("_cq"),
            ),
            "_cq",
            self.coarse,
        ).select("vec_id", "cluster")
        codes = pq_encode(
            batch, self.id_col, self.vec_col, self.codebooks, self.sub_dim
        )
        row = codes.join(cells, "vec_id").select(
            "vec_id", "cluster", *[f"c{j}" for j in range(m)]
        )
        self._write(row, self._index_path, batch_id)

    # -- reads -------------------------------------------------------------

    def _read_index(self, spark: SparkSession) -> DataFrame:
        """Internal read with the store's own column names (vec_id +
        cluster + codes), typed from the stored files when any exist."""
        from pyspark.sql import types as T

        m = len(self.codebooks)
        cols = ["vec_id", "cluster", *[f"c{j}" for j in range(m)]]
        if self._has_files(self._index_path):
            return self._read_batches(spark, self._index_path).select(*cols)
        return spark.createDataFrame(
            [], T.StructType([T.StructField(c, T.LongType()) for c in cols])
        )

    def index(self, spark: SparkSession) -> DataFrame:
        """All maintained (id, cluster, c0..c{m-1}) rows, with the id
        column under the caller's ``id_col`` name."""
        out = self._read_index(spark)
        if self.id_col != "vec_id":
            out = out.withColumnRenamed("vec_id", self.id_col)
        return out

    def search(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 5,
        n_probe: int = 2,
    ) -> DataFrame:
        """ADC top-k retrieval over the maintained index — the read
        the index exists for, with zero recompute of the indexed mass.
        ``queries`` carries (id_col, vec_col) rows; the routed
        candidate join and scoring are exactly ``ivf_pq_adc_topk``."""
        return ivf_pq_adc_topk(
            self._read_index(spark),
            queries,
            self.id_col,
            self.vec_col,
            self.coarse,
            self.codebooks,
            sub_dim=self.sub_dim,
            k=k,
            n_probe=n_probe,
        )
