"""Streaming cardinality maintenance — the incremental form of q43's
KMV distinct-count sketch (operators/sketch.py).

A growing corpus never re-scans history to refresh per-group distinct
counts: each micro-batch reduces to one O(k) KMV partial sketch per
group it touches, written to a ``_batch=<id>`` partition; the
read-side merge (k smallest of the distinct union of partials) equals
the batch sketch over every row seen — EXACTLY, by the
k-min-of-union identity, not approximately (equivalence-tested).
This is the property HLL is normally deployed for, with plain integer
arrays instead of engine-private registers, so the maintained state
is portable (any engine can merge or estimate from it) and
oracle-checkable.

This is the SIMPLEST member of the incremental-family contract: a
batch's partial sketch is a pure function of the batch alone (like
streaming/decon.py, unlike the prior-state deltas of
streaming/lsh.py), so a crash-after-write replay rewrites the
identical partition — idempotent even before the marker lands.

Parameter guard: a maintainer pointed at an existing store must
present the SAME (k, group_col, value_col) — merged sketches of
different k or different key columns are meaningless; mixing them is
refused, not detected downstream (the streaming/decon.py frozen-meta
pattern).

Scale: state is ≤ k longs per (group, batch) before compaction and
≤ k longs per group after the merge; the merge shuffles partial
sketches (groups × batches rows), never data rows. At 100 TB the
partials of old batches can be periodically compacted into one row
per group with the same ``kmv_merge`` — the read path is already that
aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import BatchStore

__all__ = ["IncrementalKmv"]


class IncrementalKmv(BatchStore):
    """Maintains per-group KMV distinct-count sketches for a growing
    stream of (group: string, value: long) rows."""

    def __init__(
        self,
        store_path: str,
        group_col: str = "source",
        value_col: str = "user_id",
        k: int = 64,
    ) -> None:
        if k <= 0:
            raise ValueError("need k > 0")
        self.store_path = store_path
        self.group_col = group_col
        self.value_col = value_col
        self.k = k
        self._parts_path = self._path("partials")
        self._pin(
            "kmv_meta.json",
            {"k": k, "group_col": group_col, "value_col": value_col},
            "sketches of different parameters must never merge (rebuild "
            "into a fresh store instead)",
        )

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        """Reduce the batch to one partial sketch per touched group.
        Pure function of the batch — no store read, so replays are
        idempotent by construction."""
        from pyspark.sql import types as T

        from ..operators.sketch import kmv_sketch

        gtype = batch.schema[self.group_col].dataType
        if not isinstance(gtype, T.StringType):
            # The read side pins `group string` in its schema; a
            # non-string group would land fine and fail obscurely on
            # read — refuse at the write instead.
            raise TypeError(
                f"IncrementalKmv stores string group keys; "
                f"{self.group_col} is {gtype.simpleString()} — cast it "
                "before the sink"
            )
        sk = kmv_sketch(batch, self.group_col, self.value_col, k=self.k)
        self._write(sk, self._parts_path, batch_id)

    def _after_commit(self, spark: SparkSession) -> None:
        from .compaction import maybe_auto_compact

        maybe_auto_compact(self.store_path, lambda: self.compact(spark))

    # -- reads -------------------------------------------------------------

    def _read_partials(self, spark: SparkSession) -> DataFrame:
        return self._read_batches(
            spark, self._parts_path, f"{self.group_col} string, kmv array<bigint>"
        )

    def sketches(self, spark: SparkSession) -> DataFrame:
        """Current per-group sketch: k smallest of the distinct union
        of every committed partial — a bounded aggregation over
        O(groups × batches) k-long arrays, never a re-scan. Equals the
        batch kmv_sketch over all rows seen (the k-min-of-union
        identity; equivalence-tested). Before any drain the result is
        legitimately EMPTY."""
        return (
            self._read_partials(spark)
            .groupBy(self.group_col)
            .agg(
                F.slice(
                    F.array_sort(
                        F.array_distinct(F.flatten(F.collect_list("kmv")))
                    ),
                    1,
                    self.k,
                ).alias("kmv")
            )
        )

    def compact(self, spark: SparkSession) -> None:
        """Fold all committed per-batch partials into ONE merged
        sketch row per group in the ``_batch=-1`` base partition
        (streaming/compaction.py) — state drops from O(groups ×
        batches) to O(groups) and the read-side listing stops growing
        with history. The fold IS the read-side k-min-of-union, so
        compaction is exact by the same identity the reads rely on;
        markers are kept, so replays of folded batches stay no-ops."""
        from .compaction import compact_store

        def fold(df: DataFrame) -> DataFrame:
            return df.groupBy(self.group_col).agg(
                F.slice(
                    F.array_sort(
                        F.array_distinct(F.flatten(F.collect_list("kmv")))
                    ),
                    1,
                    self.k,
                ).alias("kmv")
            )

        compact_store(spark, self.store_path, folds={"partials": fold})

    def estimates(self, spark: SparkSession) -> DataFrame:
        """Per-group distinct-count estimates from the maintained
        sketches — the q43 estimator over streaming state."""
        from ..operators.sketch import kmv_estimate

        return self.sketches(spark).select(
            self.group_col,
            kmv_estimate("kmv", self.k).alias("distinct_estimate"),
        )
