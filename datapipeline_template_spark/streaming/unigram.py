"""Streaming unigram-LM vocabulary maintenance — the 18th incremental
family, the tokenizer split of streaming/bpe.py applied to Kudo's
model: WORD COUNTS are pure additive functions of each micro-batch
(disjoint docs each contribute their own token occurrences), while the
trained model is NOT patchable — one count change can reroute every
Viterbi path and with it every downstream recount, exactly as a BPE
count change can reorder every later merge argmax. So the maintainer
accumulates per-batch word-count partitions, and ``train()`` re-runs the deterministic
hard-EM loop (operators/text.unigram_train) on the COMPACT merged
vocabulary on demand — the saving is the corpus scan, which never
repeats; the re-run touches only the distinct-word table.

Training hyperparameters (lmax / rounds / vocab_size) are
pinned in store metadata so a store trained at one configuration can
never silently serve another (the IncrementalBm25 prune-ratio lesson).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import BatchStore

__all__ = ["IncrementalUnigramLm"]


class IncrementalUnigramLm(BatchStore):
    """Maintains the lowercase-alpha word-frequency table from a
    stream of (id, text) rows and trains the unigram-LM tokenizer
    from the maintained vocabulary on demand."""

    def __init__(
        self,
        store_path: str,
        text_col: str = "text",
        lmax: int | None = None,
        rounds: int | None = None,
        vocab_size: int | None = None,
    ) -> None:
        from ..operators.text import (
            UNIGRAM_LMAX,
            UNIGRAM_ROUNDS,
            UNIGRAM_VOCAB,
        )

        self.store_path = store_path
        self.text_col = text_col
        self.lmax = UNIGRAM_LMAX if lmax is None else int(lmax)
        self.rounds = UNIGRAM_ROUNDS if rounds is None else int(rounds)
        self.vocab_size = UNIGRAM_VOCAB if vocab_size is None else int(vocab_size)
        self._counts_path = self._path("word_counts")
        self._pin(
            "unigram_meta.json",
            {
                "text_col": text_col,
                "lmax": self.lmax,
                "rounds": self.rounds,
                "vocab_size": self.vocab_size,
            },
            "vocabularies under different tokenizer configurations must "
            "never merge (rebuild a fresh store)",
        )

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        """Reduce the batch to its (word, freq) delta — a pure function
        of the batch, so crash-window replays rewrite identical bytes."""
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
        """(word, freq) over everything drained — per-batch partials
        are additive, so the read is one aggregate, never a
        read-modify-write."""
        return (
            self._read_batches(spark, self._counts_path, "word string, freq bigint")
            .groupBy("word")
            .agg(F.sum("freq").cast("long").alias("freq"))
        )

    def train(
        self, spark: SparkSession, max_word_len: int | None = None
    ) -> DataFrame:
        """The trained model (piece, cnt, cost_mb) over the MAINTAINED
        vocabulary — equals ``unigram_train`` over a batch-built vocab
        of every text drained so far at ANY drain point (tested),
        because the hard-EM loop is a pure function of the merged
        (word, freq) table and that table is additive."""
        from ..operators.text import unigram_train

        return unigram_train(
            self.word_counts(spark),
            lmax=self.lmax,
            rounds=self.rounds,
            vocab_size=self.vocab_size,
            max_word_len=max_word_len,
        )
