"""Streaming BPE-vocabulary maintenance — the tokenizer-side member
of the incremental-index family (MinHash signatures, sign-LSH vectors,
cluster assignments, D4 marks, and now the word-frequency vocabulary
BPE learning runs on).

The split that makes tokenizer training incremental: learning merges
(``operators/text.bpe_train``) needs only the DISTINCT-WORD frequency
table — thousands of times smaller than the corpus — while building
that table is the one full-corpus scan. So the corpus streams through
word counting (map-only pre-tokenize + one map-side-combined partial
aggregate per micro-batch), per-batch count partitions accumulate, and
``learn()`` re-runs the deterministic merge loop on the compact
maintained vocabulary whenever a fresh tokenizer is wanted. A corpus
append never re-scans the existing mass; only the merge learning
(cheap, vocab-sized) re-runs — and MUST re-run, because a single count
change can reorder every argmax after it (merge tables are not
incrementally patchable; prefix stability holds only for unchanged
counts, see the tx20 property test).

Counts are ADDITIVE across batches, so the maintained table needs no
read-modify-write: reads aggregate the partitions (at 100 TB the
periodic compaction of batch partitions is ordinary parquet
maintenance, not a correctness concern).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import BatchStore

__all__ = ["IncrementalBpeVocab"]


class IncrementalBpeVocab(BatchStore):
    """Maintains the lowercase-alpha word-frequency table from a
    stream of (id, text) rows, one micro-batch at a time, and learns
    BPE merges from the maintained vocabulary on demand."""

    def __init__(self, store_path: str, text_col: str = "text") -> None:
        self.store_path = store_path
        self.text_col = text_col
        self._counts_path = self._path("word_counts")
        os.makedirs(store_path, exist_ok=True)

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        counts = (
            batch.select(
                F.explode(
                    F.expr(
                        f"regexp_extract_all({self.text_col}, "
                        "'[a-zA-Z]+', 0)"
                    )
                ).alias("t")
            )
            .select(F.lower(F.col("t")).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        )
        self._write(counts, self._counts_path, batch_id)

    # -- reads -------------------------------------------------------------

    def word_counts(self, spark: SparkSession) -> DataFrame:
        """(word, freq) over everything drained — per-batch partial
        counts are additive, so the read is one aggregate, no
        read-modify-write ever happened."""
        return (
            self._read_batches(spark, self._counts_path, "word string, freq bigint")
            .groupBy("word")
            .agg(F.sum("freq").alias("freq"))
        )

    def vocab(self, spark: SparkSession) -> DataFrame:
        """The maintained vocabulary in ``bpe_train``'s input shape:
        sentinel-spaced character rep + frequency (tx20's exact
        construction, so learned merges are comparable)."""
        return self.word_counts(spark).select(
            F.concat(
                F.lit(" "),
                F.array_join(
                    F.expr("regexp_extract_all(word, '[a-z]', 0)"), " "
                ),
                F.lit(" "),
            ).alias("rep"),
            "freq",
        )

    def learn(
        self, spark: SparkSession, n_merges: int = 8
    ) -> list[tuple[str, str, int]]:
        """Deterministic merge learning over the MAINTAINED vocabulary
        — equals ``bpe_train`` over a batch-built vocab of every text
        seen (tested). Re-runs in full by design: one count change can
        reorder every later argmax, so merge tables are re-derived,
        never patched; the saving is the corpus scan, which never
        repeats."""
        from ..operators.text import bpe_train

        merges, _ = bpe_train(
            self.vocab(spark), "rep", "freq", n_merges=n_merges
        )
        return merges
