"""Streaming Count-Min maintenance — the incremental form of q47's
mergeable frequency grid (operators/sketch.py cm_sketch / cm_fold /
cm_estimate).

Counter cells are ADDITIVE: each batch reduces to its own (r, b, cnt)
delta — a pure function of the batch, like the KMV partials and the
histogram bins — and the current grid is just their cell-wise sum.
Point-frequency reads run cm_estimate over the merged grid, so
``estimate()`` equals the batch operator over the union of all
drained batches at ANY drain point (equivalence-tested), with the
same guaranteed-overestimate contract. That additivity is the entire
reason to keep a grid instead of the keys: per-day/per-source
O(depth·width) grids persist and answer later frequency questions —
for keys chosen AFTER the data was seen — by addition, never a
rescan; the streaming/kmv.py argument applied to frequencies instead
of cardinality.

Key column, depth and width are pinned in store metadata: grids built
with different hash geometries must never merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import BatchStore

__all__ = ["IncrementalCountMin"]


class IncrementalCountMin(BatchStore):
    """Maintains a Count-Min counter grid for a growing stream of
    LONG keys; point-frequency estimates on demand."""

    def __init__(
        self,
        store_path: str,
        key_col: str = "k",
        depth: int = 4,
        width: int = 2048,
    ) -> None:
        self.store_path = store_path
        self.key_col = key_col
        self.depth = depth
        self.width = width
        self._cells_path = self._path("cells")
        self._pin(
            "cm_meta.json",
            {"key_col": key_col, "depth": depth, "width": width},
            "grids of different key columns or geometries must never "
            "merge (rebuild into a fresh store instead)",
        )

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        """Reduce the batch to its (r, b, cnt) delta. Pure function of
        the batch — replay-idempotent."""
        from ..operators.sketch import cm_sketch

        delta = cm_sketch(batch, self.key_col, self.depth, self.width)
        self._write(delta, self._cells_path, batch_id)

    def _after_commit(self, spark: SparkSession) -> None:
        from .compaction import maybe_auto_compact

        maybe_auto_compact(self.store_path, lambda: self.compact(spark))

    def compact(self, spark: SparkSession) -> None:
        """Fold committed per-batch deltas into one SUMMED grid row
        per cell in the ``_batch=-1`` base partition
        (streaming/compaction.py) — state drops to ≤ depth·width rows
        total. Cells are additive, so the fold IS the read-side sum;
        markers survive, so replays of folded batches stay no-ops."""
        from .compaction import compact_store

        def fold(df: DataFrame) -> DataFrame:
            return df.groupBy("r", "b").agg(
                F.sum("cnt").cast("long").alias("cnt")
            )

        compact_store(spark, self.store_path, folds={"cells": fold})

    # -- reads -------------------------------------------------------------

    def cells(self, spark: SparkSession) -> DataFrame:
        """The current merged grid: summed (r, b, cnt) deltas."""
        return (
            self._read_batches(spark, self._cells_path, "r int, b long, cnt long")
            .groupBy("r", "b")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )

    def estimate(self, items: DataFrame, out_col: str = "est") -> DataFrame:
        """Point-frequency estimates for ``items`` (carrying its
        columns) over the maintained grid via the shared cm_estimate
        spec — equals the batch operator over every key seen, with the
        same est ≥ truth guarantee."""
        from ..operators.sketch import cm_estimate

        grid = self.cells(items.sparkSession)
        return cm_estimate(
            grid, items, self.key_col, self.depth, self.width, out_col=out_col
        )
