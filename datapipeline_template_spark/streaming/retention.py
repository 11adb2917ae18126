"""Streaming cohort-retention maintenance — the incremental form of
w11's retention triangle.

Both state objects are trivially mergeable, which is why retention
dashboards CAN be streaming: a user's cohort day is the MIN of
per-batch first-seen days (min is associative — partials are pure
functions of each batch), and the activity matrix is the DISTINCT
union of per-batch (user, day) pairs (set union — additive). The
read-side ``triangle()`` recomputes the (cohort × age) rollup from
merged state only — cohort assignment is corpus-relative (a user's
cohort day can MOVE EARLIER when an older batch arrives late, which
re-ages every row of that user's activity), so like survivor
election and the DSIR cut it is a read-time decision, never stored.
Equals the batch w11 operator over the union of drained batches at
ANY drain point (equivalence-tested, including an out-of-order drain
that moves cohort days).

Column names are pinned in store metadata.

Scale: state is one (user, first_day) row per (user, batch) before
compaction — compactable to one per user by the same min — plus the
(user, day) distinct activity set, which is the IRREDUCIBLE content
of a retention triangle (age buckets re-derive from it when cohorts
move). The read-side rollup shuffles state rows, never the stream's
history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import BatchStore

__all__ = ["IncrementalRetention"]


class IncrementalRetention(BatchStore):
    """Maintains first-seen days + the distinct (user, day) activity
    set for a growing event stream; the retention triangle on
    demand."""

    def __init__(
        self,
        store_path: str,
        user_col: str = "user_id",
        day_col: str = "d",
    ) -> None:
        self.store_path = store_path
        self.user_col = user_col
        self.day_col = day_col
        self._first_path = self._path("firstseen")
        self._act_path = self._path("activity")
        self._pin(
            "retention_meta.json",
            {"user_col": user_col, "day_col": day_col},
            "rebuild into a fresh store instead",
        )

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        """Reduce the batch to its per-user min-day partial and its
        distinct (user, day) rows. Pure functions of the batch —
        replay-idempotent."""
        rows = batch.where(F.col(self.user_col).isNotNull()).select(
            F.col(self.user_col).cast("long").alias("u"),
            F.col(self.day_col).cast("long").alias("d"),
        )
        first = rows.groupBy("u").agg(F.min("d").alias("first_d"))
        self._write(first, self._first_path, batch_id)
        self._write(rows.distinct(), self._act_path, batch_id)

    def _after_commit(self, spark: SparkSession) -> None:
        # No custom fold: the generic identity re-bag is this family's
        # compaction (reads are bag-merges).
        from .compaction import compact_store, maybe_auto_compact

        maybe_auto_compact(
            self.store_path, lambda: compact_store(spark, self.store_path)
        )

    # -- reads -------------------------------------------------------------

    def triangle(self, spark: SparkSession) -> DataFrame:
        """The current retention triangle (cohort_day, age_days,
        n_active, n_cohort, retention_milli) from merged state —
        min-merge of the first-seen partials, distinct union of the
        activity rows, then w11's rollup. Cohorts are RE-DERIVED here
        because a late old batch legitimately moves a user's cohort
        earlier and re-ages their whole activity row set. Before any
        drain the result is legitimately EMPTY."""
        first = (
            self._read_batches(spark, self._first_path, "u bigint, first_d bigint")
            .groupBy("u")
            .agg(F.min("first_d").alias("cohort_day"))
        )
        act = (
            self._read_batches(spark, self._act_path, "u bigint, d bigint")
            .distinct()
            .join(first, "u")
            .select(
                "u",
                "cohort_day",
                (F.col("d") - F.col("cohort_day")).alias("age_days"),
            )
            .distinct()
        )
        size = first.groupBy("cohort_day").agg(
            F.count(F.lit(1)).cast("long").alias("n_cohort")
        )
        return (
            act.groupBy("cohort_day", "age_days")
            .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
            .join(F.broadcast(size), "cohort_day")
            .select(
                "cohort_day",
                "age_days",
                "n_active",
                "n_cohort",
                F.expr(
                    "CAST((n_active * 1000) DIV n_cohort AS BIGINT)"
                ).alias("retention_milli"),
            )
        )
