"""Streaming quantile-sketch maintenance — the incremental form of
q45's mergeable log-histogram (operators/sketch.py log_hist_bins /
hist_quantiles).

Bin counts are ADDITIVE: each batch reduces to its own (group, bin,
cnt) delta — a pure function of the batch, like the KMV partials —
and the current sketch is just their sum. Quantile reads run
hist_quantiles over the merged counts, so ``quantiles()`` equals the
batch operator over the union of all drained batches at ANY drain
point (equivalence-tested), with the same guaranteed-overestimate
edge math. That additivity is the entire reason to keep a histogram
instead of the values: per-day/per-source sketches persist in
O(bins ≤ ~540) and answer any later quantile question by addition,
never a rescan — the same argument as streaming/kmv.py, applied to
quantiles instead of cardinality.

Group/value column names are pinned in store metadata: histograms of
different value columns must never merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import BatchStore

__all__ = ["IncrementalHistogram"]


class IncrementalHistogram(BatchStore):
    """Maintains per-group log-histogram bin counts for a growing
    stream of (group, positive long value) rows; quantile estimates
    on demand."""

    def __init__(
        self,
        store_path: str,
        group_col: str = "source",
        value_col: str = "v",
    ) -> None:
        self.store_path = store_path
        self.group_col = group_col
        self.value_col = value_col
        self._bins_path = self._path("bins")
        self._pin(
            "hist_meta.json",
            {"group_col": group_col, "value_col": value_col},
            "histograms of different columns must never merge (rebuild "
            "into a fresh store instead)",
        )

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        """Reduce the batch to its (group, bin, cnt) delta. Pure
        function of the batch — replay-idempotent."""
        from ..operators.sketch import log_hist_bins

        delta = log_hist_bins(
            batch.select(
                F.col(self.group_col).alias("g"),
                F.col(self.value_col).alias("v"),
            ),
            "g",
            "v",
        )
        self._write(delta, self._bins_path, batch_id)

    def _after_commit(self, spark: SparkSession) -> None:
        from .compaction import maybe_auto_compact

        maybe_auto_compact(self.store_path, lambda: self.compact(spark))

    def compact(self, spark: SparkSession) -> None:
        """Fold committed per-batch deltas into one SUMMED row per
        (group, bin) in the ``_batch=-1`` base partition
        (streaming/compaction.py) — state drops to O(groups · bins).
        Bin counts are additive, so the fold IS the read-side sum;
        markers survive, so replays of folded batches stay no-ops."""
        from .compaction import compact_store

        def fold(df: DataFrame) -> DataFrame:
            return df.groupBy("g", "bin").agg(
                F.sum("cnt").cast("long").alias("cnt")
            )

        compact_store(spark, self.store_path, folds={"bins": fold})

    # -- reads -------------------------------------------------------------

    def counts(self, spark: SparkSession) -> DataFrame:
        """The current merged sketch: summed (g, bin, cnt) deltas."""
        return (
            self._read_batches(spark, self._bins_path, "g string, bin long, cnt long")
            .groupBy("g", "bin")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )

    def quantiles(self, spark: SparkSession, qs) -> DataFrame:
        """(g, q, est) over the maintained sketch via the shared
        hist_quantiles spec — equals the batch operator over every
        value seen."""
        from ..operators.sketch import hist_quantiles

        return hist_quantiles(self.counts(spark), "g", qs)
