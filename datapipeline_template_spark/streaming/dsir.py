"""Streaming DSIR maintenance — the incremental form of tx25's
importance-ratio data selection (queries/text.py, operators/text.py
dsir_logratio).

DSIR (Xie et al. 2023) scores documents by log p_target − log p_raw
under two unigram LMs. Both LMs depend on the WHOLE corpus seen so
far (the raw counts, the target-slice counts, the shared vocabulary),
so a naive pipeline re-tokenizes everything whenever the corpus
grows. As with IncrementalSurprisal, every piece is additive or
joinable:

- ``counts``: per-batch (w, c, ct) token-count deltas — c counts all
  occurrences, ct only those from target-source documents. Both
  additive; the two LMs are just their sums, and the smoothing
  denominators (T, T_t + V) derive from the merged counts at read
  time (V — the vocabulary size — is NOT additive, which is exactly
  why it must be derived, never stored).
- ``doctok``: per-batch (doc_id, w, n) token PROFILES — a pure
  function of each document, written once; re-scoring against grown
  LMs is ONE equi-join on w, never a re-parse.

``scores()`` therefore equals batch ``dsir_logratio`` over every
document seen, at any drain point (equivalence-tested): the honest
contract for a score that shifts as BOTH distributions grow.
``selection()`` applies tx25's adaptive top-third cut on top — the
cut is an order statistic of the current corpus, so it moves with
every drain by design.

Every per-batch artifact is a pure function of the batch alone (no
store reads), so a crash-after-write replay rewrites identical
partitions. The target source name is pinned in store metadata —
scores from different targets must never merge.

Scale: counts state is the vocabulary (bounded, Zipf) with one extra
long per entry over IncrementalSurprisal's; doctok is the same per-doc
token multiset that family stores (share the store at deployment if
both run). The refresh is two w-keyed equi-joins + one doc-keyed
aggregate; the selection cut windows over DISTINCT integer means only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import BatchStore

__all__ = ["IncrementalDsir"]


class IncrementalDsir(BatchStore):
    """Maintains raw+target unigram LMs and per-doc token profiles for
    a growing (id, text, source) document stream; DSIR scores and the
    top-third selection on demand."""

    def __init__(
        self,
        store_path: str,
        target_source: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        source_col: str = "source",
    ) -> None:
        self.store_path = store_path
        self.target_source = target_source
        self.id_col = id_col
        self.text_col = text_col
        self.source_col = source_col
        self._counts_path = self._path("counts")
        self._doctok_path = self._path("doctok")
        self._pin(
            "dsir_meta.json",
            {
                "target_source": target_source,
                "id_col": id_col,
                "text_col": text_col,
                "source_col": source_col,
            },
            "ratio scores against different targets must never merge "
            "(rebuild into a fresh store instead)",
        )

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        """Tokenize the batch ONCE and land its two additive artifacts.
        Pure function of the batch — replay-idempotent."""
        from ..operators.text import tokenize

        tok = batch.select(
            F.col(self.id_col).alias("doc_id"),
            (F.col(self.source_col) == self.target_source).alias("_is_t"),
            F.explode(tokenize(self.text_col)).alias("w"),
        )
        doctok = tok.groupBy("doc_id", "w").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        counts = tok.groupBy("w").agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.sum(F.when(F.col("_is_t"), 1).otherwise(0))
            .cast("long")
            .alias("ct"),
        )
        self._write(doctok, self._doctok_path, batch_id)
        self._write(counts, self._counts_path, batch_id)

    def _after_commit(self, spark: SparkSession) -> None:
        from .compaction import maybe_auto_compact

        maybe_auto_compact(self.store_path, lambda: self.compact(spark))

    # -- reads -------------------------------------------------------------

    def compact(self, spark: SparkSession) -> None:
        """Fold committed per-batch partitions into the ``_batch=-1``
        base (streaming/compaction.py). counts folds to one summed
        (w, c, ct) row per word — the lms() read-side merge verbatim;
        doctok folds to one summed (doc_id, w, n) row — invariant for
        every read because doc-token profiles only ever enter LINEAR
        reductions (Σ n·logratio). Markers survive; replays of folded
        batches stay no-ops."""
        from .compaction import compact_store

        compact_store(
            spark,
            self.store_path,
            folds={
                "counts": lambda d: d.groupBy("w").agg(
                    F.sum("c").cast("long").alias("c"),
                    F.sum("ct").cast("long").alias("ct"),
                ),
                "doctok": lambda d: d.groupBy("doc_id", "w").agg(
                    F.sum("n").cast("long").alias("n")
                ),
            },
        )

    def lms(self, spark: SparkSession) -> DataFrame:
        """The current merged counts (w, c, ct) — both unigram LMs in
        one frame."""
        return (
            self._read_batches(spark, self._counts_path, "w string, c long, ct long")
            .groupBy("w")
            .agg(
                F.sum("c").cast("long").alias("c"),
                F.sum("ct").cast("long").alias("ct"),
            )
        )

    def scores(self, spark: SparkSession) -> DataFrame:
        """Per-document (doc_id, n_tokens, sum_mb) DSIR millibit
        ratios over EVERY document seen, scored against the CURRENT
        maintained LMs — equals batch ``dsir_logratio`` over the union
        of all drained batches (the totals T, T_t and vocabulary V are
        derived from the merged counts, reproducing the operator's
        exact smoothing). Two w-keyed equi-joins + one doc-keyed
        aggregate; no document is ever re-tokenized."""
        from ..functions import milli_log2

        doctok = self._read_batches(
            spark, self._doctok_path, "doc_id long, w string, n long"
        )
        cnt = self.lms(spark)
        tot = cnt.agg(
            F.sum("c").cast("long").alias("t"),
            F.sum("ct").cast("long").alias("tt"),
            F.count(F.lit(1)).cast("long").alias("v"),
        )
        wsc = cnt.crossJoin(F.broadcast(tot)).select(
            "w",
            (
                (
                    milli_log2(F.col("ct") + 1)
                    - milli_log2(F.col("tt") + F.col("v"))
                )
                - (milli_log2("c") - milli_log2("t"))
            ).alias("g"),
        )
        return (
            doctok.join(wsc, "w")
            .groupBy("doc_id")
            .agg(
                F.sum("n").cast("long").alias("n_tokens"),
                F.sum(F.col("n") * F.col("g")).cast("long").alias("sum_mb"),
            )
        )

    def selection(self, spark: SparkSession) -> DataFrame:
        """tx25's adaptive top-third selection over the maintained
        scores (doc_id, n_tokens, sum_mb, mean_mb, kept) via the
        shared operators.text.dsir_select cut spec — the cut is an
        order statistic of the CURRENT corpus, recomputed per call
        over distinct integer means (bounded domain)."""
        from ..operators.text import dsir_select

        return dsir_select(self.scores(spark))
