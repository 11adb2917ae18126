"""Streaming perplexity-filter maintenance — the incremental form of
tx23's unigram-surprisal banding (queries/text.py).

CCNet-style perplexity filtering is normally a batch recompute: the
LM's unigram counts depend on the WHOLE corpus, so a naive pipeline
re-tokenizes everything whenever the corpus grows. But every piece of
the score is additive or joinable:

- ``counts``: per-batch (w, c) token-count deltas — additive, the LM
  is just their sum (the IncrementalBpeVocab insight applied to the
  scoring LM instead of the merge table).
- ``tot``: per-batch total-token delta — additive.
- ``doctok``: per-batch (doc_id, w, n) token PROFILES — a pure
  function of each document, written once; re-scoring a document
  against a grown LM is then ONE equi-join on w, never a re-parse.

``scores()`` therefore equals the batch ``unigram_surprisal`` over
every document seen, at any drain point (equivalence-tested) — the
honest contract for a score that by definition shifts as the corpus
grows: maintained state makes the refresh a join, not a recompute.
``bands()`` applies tx23's pinned thresholds on top.

Every per-batch artifact is a pure function of the batch alone (no
store reads), so a crash-after-write replay rewrites identical
partitions.

Scale: counts state is the vocabulary (bounded, Zipf); doctok state is
the corpus's per-doc token multiset — the same cardinality the batch
pipeline's first shuffle produces, bucketable by w at 100 TB. The
score refresh is two w-keyed equi-joins + one doc-keyed aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import BatchStore

__all__ = ["IncrementalSurprisal"]


class IncrementalSurprisal(BatchStore):
    """Maintains the unigram LM and per-doc token profiles for a
    growing (id, text) document stream; scores/bands on demand."""

    def __init__(
        self,
        store_path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        self.store_path = store_path
        self.id_col = id_col
        self.text_col = text_col
        self._counts_path = self._path("counts")
        self._tot_path = self._path("tot")
        self._doctok_path = self._path("doctok")

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        """Tokenize the batch ONCE and land its three additive
        artifacts. Pure function of the batch — replay-idempotent."""
        from ..operators.text import tokenize

        tok = batch.select(
            F.col(self.id_col).alias("doc_id"),
            F.explode(tokenize(self.text_col)).alias("w"),
        )
        doctok = tok.groupBy("doc_id", "w").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        # counts/tot derive from doctok so the batch tokenizes once.
        counts = doctok.groupBy("w").agg(F.sum("n").cast("long").alias("c"))
        tot = doctok.agg(F.sum("n").cast("long").alias("t"))
        self._write(doctok, self._doctok_path, batch_id)
        self._write(counts, self._counts_path, batch_id)
        self._write(tot, self._tot_path, batch_id)

    # -- reads -------------------------------------------------------------

    def lm(self, spark: SparkSession) -> DataFrame:
        """The current unigram LM: summed (w, c) deltas."""
        return (
            self._read_batches(spark, self._counts_path, "w string, c long")
            .groupBy("w")
            .agg(F.sum("c").cast("long").alias("c"))
        )

    def scores(self, spark: SparkSession) -> DataFrame:
        """Per-document (doc_id, n_tokens, sum_mb) over EVERY document
        seen, scored against the CURRENT maintained LM — equals batch
        ``unigram_surprisal`` over the union of all drained batches.
        Two w-keyed equi-joins + one doc-keyed aggregate; no document
        is ever re-tokenized."""
        from ..functions import milli_log2

        doctok = self._read_batches(
            spark, self._doctok_path, "doc_id long, w string, n long"
        )
        tot = (
            self._read_batches(spark, self._tot_path, "t long")
            .agg(F.sum("t").cast("long").alias("t"))
        )
        surp = self.lm(spark).crossJoin(F.broadcast(tot)).select(
            "w", (milli_log2("t") - milli_log2("c")).alias("surp")
        )
        return (
            doctok.join(surp, "w")
            .groupBy("doc_id")
            .agg(
                F.sum("n").cast("long").alias("n_tokens"),
                F.sum(F.col("n") * F.col("surp")).cast("long").alias("sum_mb"),
            )
        )

    def bands(self, spark: SparkSession) -> DataFrame:
        """tx23's banding over the maintained scores (pinned
        thresholds — see queries/text.py for the measurement
        discipline)."""
        from ..queries.text import TX23_HEAD_MB, TX23_TAIL_MB

        mean_mb = F.expr("sum_mb DIV n_tokens")
        return self.scores(spark).select(
            "doc_id",
            "n_tokens",
            "sum_mb",
            mean_mb.alias("mean_mb"),
            F.when(mean_mb < TX23_HEAD_MB, "head")
            .when(mean_mb < TX23_TAIL_MB, "middle")
            .otherwise("tail")
            .alias("band"),
        )
