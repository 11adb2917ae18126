"""Incremental continuous-aggregate maintenance — the streaming scale
path for `operators/rollup.py`'s cascade.

At 100 TB you never recompute the hourly rollup from raw: each
micro-batch's rows touch a handful of (bucket, key) cells, so the
maintained table is updated by merging the batch's PARTIAL aggregates
into only the affected time partitions. This is TimescaleDB's
continuous-aggregate refresh / Druid's incremental segment build,
expressed with stock Structured Streaming pieces:

- ``foreachBatch`` receives each micro-batch as a plain DataFrame;
- the batch is aggregated to the finest level (map-side partials —
  the shuffle is per-batch-sized, never table-sized);
- decomposable measures merge old state with the new partials
  (count folds as sum — the same ``REAGG`` table the batch cascade
  uses, so the two paths cannot drift);
- the store is a date-partitioned parquet table written with DYNAMIC
  partition overwrite: only partitions the batch touched are
  rewritten, the rest of the table is untouched bytes.

Exactly-once: the streaming checkpoint makes batch delivery
at-least-once into ``foreachBatch``; a MERGE into live state is not
naturally idempotent (the replayed batch would fold in twice), so the
store records every committed ``batch_id`` and replays are skipped —
the txnAppId/txnVersion pattern Delta sinks use. The residual window
(partition write landed, marker write lost) is the part only a
transactional commit closes; `plans/snapshots.py`'s manifest commit is
the in-repo answer where that matters.

Coarser levels (day/month) are derived from the maintained finest
table via ``operators.rollup.cascade_rollup`` seeded at read time —
they cost |hourly| not |raw|.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.rollup import _FIRST_AGG, REAGG
from .store import BatchStore

__all__ = ["IncrementalRollup"]

_PART = "_bucket_date"


class IncrementalRollup(BatchStore):
    """Maintains the finest rollup level incrementally from a stream.

    ``measures``: out_name -> (kind, source Column) with kind one of
    sum|count|min|max (the decomposable set — same contract as
    ``cascade_rollup``). The store keeps its own date-partitioned
    layout, so only the marker and the drive come from ``BatchStore``.
    """

    def __init__(
        self,
        store_path: str,
        ts_col: str,
        keys: list[str],
        measures: dict,
        level: str = "hour",
    ) -> None:
        bad = [k for k, (kind, _) in measures.items() if kind not in _FIRST_AGG]
        if bad:
            raise ValueError(
                f"non-decomposable measure kind for {bad}; allowed {list(_FIRST_AGG)}"
            )
        self.store_path = store_path
        self.ts_col = ts_col
        self.keys = keys
        self.measures = measures
        self.level = level

    # -- pieces ------------------------------------------------------------

    def _partials(self, batch: DataFrame) -> DataFrame:
        """Aggregate one micro-batch to (bucket, keys) partials."""
        return batch.groupBy(
            F.date_trunc(self.level, F.col(self.ts_col)).alias("bucket"),
            *[F.col(k) for k in self.keys],
        ).agg(
            *[
                _FIRST_AGG[kind](col).alias(name)
                for name, (kind, col) in self.measures.items()
            ]
        )

    def _merge(self, state: DataFrame, partials: DataFrame) -> DataFrame:
        """Fold new partials into existing state — kind-aware re-agg,
        bit-identical to how the batch cascade folds levels."""
        return (
            state.unionByName(partials)
            .groupBy("bucket", *self.keys)
            .agg(
                *[
                    REAGG[kind](F.col(name)).alias(name)
                    for name, (kind, _) in self.measures.items()
                ]
            )
        )

    def process_batch(self, batch: DataFrame, batch_id: int = 0) -> None:
        """The foreachBatch body. Reads ONLY the store partitions the
        batch touches, merges, and dynamically overwrites just those.
        A batch_id already marked committed is skipped — replays under
        at-least-once delivery must not fold the same rows in twice.
        An empty batch lands nothing and stays unmarked: the markers
        live inside the parquet root, and a root holding only markers
        would not read as a table."""
        if self._committed(batch_id):
            return
        spark = batch.sparkSession
        partials = self._partials(batch).withColumn(_PART, F.to_date("bucket"))
        if partials.isEmpty():
            return
        if os.path.isdir(self.store_path):
            store = spark.read.parquet(self.store_path)
            # Partition pruning: the IN-list of touched dates reaches
            # the store scan, so unaffected partitions are never read.
            touched = [r[0] for r in partials.select(_PART).distinct().collect()]
            state = store.where(F.col(_PART).isin(touched)).drop(_PART)
            merged = self._merge(state, partials.drop(_PART))
        else:
            merged = partials.drop(_PART)
        # The merged state reads from store_path and must be written
        # back to it; Spark (rightly) refuses to overwrite a path still
        # in the plan's lineage. The merged rows are aggregate-sized
        # (cells, not events), so an eager localCheckpoint materializes
        # them cheaply and severs the lineage. At cluster scale the
        # equivalent is staging the merged partitions to a new snapshot
        # dir and committing via manifest (plans/snapshots.py).
        with_part = merged.withColumn(_PART, F.to_date("bucket")).localCheckpoint(eager=True)
        (
            with_part.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(_PART)
            .parquet(self.store_path)
        )
        self._commit(batch_id)

    def read(self, spark: SparkSession) -> DataFrame:
        """The maintained finest-level table."""
        return spark.read.parquet(self.store_path).drop(_PART)

    def read_cascade(self, spark: SparkSession, levels: tuple[str, ...]) -> dict:
        """Derive coarser levels from the maintained store — cost is
        O(|finest table|), raw is never rescanned. ``levels`` must start
        at this rollup's own level."""
        if not levels or levels[0] != self.level:
            raise ValueError(f"levels must start at {self.level!r}, got {levels!r}")
        cur = self.read(spark)
        out = {self.level: cur}
        for lvl in levels[1:]:
            cur = cur.groupBy(
                F.date_trunc(lvl, F.col("bucket")).alias("bucket"),
                *[F.col(k) for k in self.keys],
            ).agg(
                *[
                    REAGG[kind](F.col(name)).alias(name)
                    for name, (kind, _) in self.measures.items()
                ]
            )
            out[lvl] = cur
        return out
