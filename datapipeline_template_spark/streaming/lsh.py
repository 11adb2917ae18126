"""Streaming MinHash-LSH maintenance — the end-to-end form of
``operators/dedup.lsh_candidate_pairs_incremental``.

A growing corpus never re-pairs itself: each micro-batch of new
documents is signed ONCE (signatures are write-once per doc), probed
against the stored signature table on the (band, bucket) equi-key,
and exactly the candidate pairs TOUCHING the batch (new×existing and
new×new) are appended to the maintained pair table. After any number
of drains, the maintained pairs equal the full-corpus
``lsh_candidate_pairs`` over every document seen — the dd09
equivalence contract, kept end-to-end by construction: a pair (a, b)
is emitted exactly once, in the batch where its LATER member arrives.

A batch's pairs depend on the stored corpus, so the reading of
"existing" signatures excludes the current batch id: a
crash-after-sig-write replay must not see its own rows as corpus.

Contract: document ids are unique across batches (write-once docs —
re-delivery of a batch is handled by the marker/overwrite, but the
same doc_id arriving in two DIFFERENT batches would sign twice; CDC
feeds should keep-latest upstream). At 100 TB the signature store is
a real table (bucketed by id or band for the probe join); here it is
a parquet directory with the identical layout semantics.

Scale: the probe broadcast is size-gated per batch — the maintainer
counts the batch (a count it needs anyway to skip empty batches) and
pins ``broadcast`` explicitly, so a backfill-sized batch degrades to
the shuffle join instead of OOMing executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators.dedup import (
    lsh_candidate_pairs_incremental,
    minhash_signatures_kernel,
)
from .store import BatchStore

__all__ = ["IncrementalLsh"]


class IncrementalLsh(BatchStore):
    """Maintains a signature table + candidate-pair table from a
    stream of (id, text) documents, one micro-batch at a time."""

    def __init__(
        self,
        store_path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        num_hashes: int = 32,
        bands: int = 8,
        rows_per_band: int = 4,
        k: int = 3,
        broadcast_max_rows: int = 2_000_000,
    ) -> None:
        if bands * rows_per_band != num_hashes:
            raise ValueError(
                f"bands*rows_per_band must equal num_hashes "
                f"({bands}*{rows_per_band} != {num_hashes})"
            )
        self.store_path = store_path
        self.id_col = id_col
        self.text_col = text_col
        self.num_hashes = num_hashes
        self.bands = bands
        self.rows_per_band = rows_per_band
        self.k = k
        self.broadcast_max_rows = broadcast_max_rows
        self._sig_path = self._path("signatures")
        self._pairs_path = self._path("pairs")

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        """Sign the batch, probe it against the stored corpus, land
        its signatures and touching pairs."""
        spark = batch.sparkSession
        # Eager materialization: the signatures feed the probe join
        # (both sides), the size gate, and the store write — signing
        # three times would triple the kernel cost, and severing
        # lineage here also lets the pair plan read the signature
        # store without overlapping the paths being written.
        sigs_new = minhash_signatures_kernel(
            batch,
            self.id_col,
            self.text_col,
            num_hashes=self.num_hashes,
            k=self.k,
        ).localCheckpoint(eager=True)
        n_new = sigs_new.count()
        if n_new == 0:
            return
        existing = self._read_prior(
            spark, self._sig_path, batch_id, sigs_new.schema
        )
        pairs = lsh_candidate_pairs_incremental(
            existing,
            sigs_new,
            self.id_col,
            "sig",
            bands=self.bands,
            rows_per_band=self.rows_per_band,
            broadcast=n_new <= self.broadcast_max_rows // max(self.bands, 1),
        )
        self._write(pairs, self._pairs_path, batch_id)
        self._write(sigs_new, self._sig_path, batch_id)

    # -- reads -------------------------------------------------------------

    def signatures(self, spark: SparkSession) -> DataFrame:
        """All maintained (id, sig) rows."""
        return self._read_batches(spark, self._sig_path).select(
            self.id_col, "sig"
        )

    def pairs(self, spark: SparkSession) -> DataFrame:
        """All maintained candidate pairs (id_a < id_b), distinct
        across batches by the exactly-once emission contract. A store
        with no pair-bearing batch yet (e.g. every batch so far was
        bucket-disjoint) reads as an empty frame typed like the stored
        ids; with no signatures either, the documented default is
        ``bigint`` (the engine's id convention)."""
        from .compaction import dataset_present

        idt = (
            self.signatures(spark).schema[self.id_col].dataType
            if dataset_present(self._sig_path)
            else T.LongType()
        )
        return self._read_batches(
            spark,
            self._pairs_path,
            T.StructType([T.StructField("id_a", idt), T.StructField("id_b", idt)]),
        )
