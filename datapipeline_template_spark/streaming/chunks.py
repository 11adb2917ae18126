"""Streaming sub-document (chunk) dedup maintenance — the end-to-end
form of ``operators/dedup.chunk_dedup``.

A growing corpus keeps one registry of every chunk value ever seen;
each micro-batch of new documents drops (a) chunks whose value is
already registered by a PRIOR batch and (b) later within-batch
occurrences, then appends exactly its NEW chunk values to the
registry and its cleaned documents to the output table. First
occurrence is ARRIVAL order (batch order, then (id, chunk_no) within
a batch): when documents arrive in ascending id order this equals the
batch operator's global min-(id, chunk_no) rule, which is the
equivalence contract the tests pin.

The registry read excludes the current batch id so a
crash-after-write replay never sees its own half-committed rows as
"prior corpus".

Scale: the registry probe is an anti join of the batch's chunks
(small) against the registry on the chunk value — hash-shuffled on
the value, exactly the narrow-key join the batch operator documents;
the within-batch first-occurrence window runs on batch-sized data
only. At 100 TB the registry is a real table bucketed by chunk hash;
here it is a parquet directory with the identical layout semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import chunk_split
from .store import BatchStore

__all__ = ["IncrementalChunkDedup"]


class IncrementalChunkDedup(BatchStore):
    """Maintains a seen-chunk registry + cleaned-document table from a
    stream of (id, text) documents, one micro-batch at a time."""

    def __init__(
        self,
        store_path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        chunk_tokens: int = 12,
    ) -> None:
        self.store_path = store_path
        self.id_col = id_col
        self.text_col = text_col
        self.chunk_tokens = chunk_tokens
        self._registry_path = self._path("chunks_seen")
        self._docs_path = self._path("clean_docs")

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        """Drop already-seen chunks from the batch's docs, register the
        batch's new chunk values, land cleaned docs."""
        from pyspark.sql import Window

        if batch.isEmpty():
            return
        # Sever lineage once: chunks feed the registry probe, the
        # rebuild drop-lists, and the registry append.
        chunks = (
            batch.select(
                F.col(self.id_col),
                F.posexplode(chunk_split(self.text_col, self.chunk_tokens)).alias(
                    "chunk_no", "chunk"
                ),
            )
            .localCheckpoint(eager=True)
        )
        seen = self._read_prior(
            batch.sparkSession,
            self._registry_path,
            batch_id,
            T.StructType([T.StructField("chunk", T.StringType())]),
        )
        # Within-batch first occurrence; prior-batch membership.
        w = Window.partitionBy("chunk").orderBy(
            F.col(self.id_col).asc(), F.col("chunk_no").asc()
        )
        fresh = chunks.join(seen, "chunk", "left_anti")
        keepers = fresh.withColumn("rn", F.row_number().over(w)).where(
            F.col("rn") == 1
        )
        # Losers = every batch chunk that is not a surviving keeper.
        losers = chunks.join(
            keepers.select(self.id_col, "chunk_no"),
            [self.id_col, "chunk_no"],
            "left_anti",
        )
        drops = losers.groupBy(self.id_col).agg(
            F.sort_array(F.collect_list("chunk_no")).alias("_drop_nos"),
            F.count(F.lit(1)).alias("_n_dropped"),
        )
        chunk_arr = chunk_split(self.text_col, self.chunk_tokens)
        kept = F.filter(
            chunk_arr,
            lambda _ch, i: F.col("_drop_nos").isNull()
            | ~F.array_contains(F.col("_drop_nos"), i),
        )
        cleaned = batch.join(drops, self.id_col, "left").select(
            F.col(self.id_col),
            F.array_join(kept, " ").alias("clean_text"),
            F.size(chunk_arr).cast("long").alias("n_chunks"),
            F.coalesce(F.col("_n_dropped"), F.lit(0)).cast("long").alias("n_dropped"),
        )
        self._write(cleaned, self._docs_path, batch_id)
        self._write(keepers.select("chunk"), self._registry_path, batch_id)

    # -- reads -------------------------------------------------------------

    def clean_docs(self, spark: SparkSession) -> DataFrame:
        return self._read_batches(spark, self._docs_path).select(
            self.id_col, "clean_text", "n_chunks", "n_dropped"
        )

    def seen_chunks(self, spark: SparkSession) -> DataFrame:
        return self._read_batches(spark, self._registry_path).select("chunk")
