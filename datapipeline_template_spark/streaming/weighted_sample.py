"""Streaming weighted-sample maintenance — the incremental form of
pk10's Efraimidis–Spirakis token-weighted sample
(operators/sampling.py weighted_race_key / weighted_sample_topk).

The race key is a PURE FUNCTION of (key, weight), so a maintained
weighted sample needs no global state at all: each micro-batch
reduces to its own per-stratum top-k winner set (rows + race, ≤ k per
stratum), and the current sample is the top-k of the UNION of the
partials — exactly the batch operator over every row seen, by the
same top-k-of-top-k's identity the KMV family rests on
(equivalence-tested at every drain point). This is the property that
makes weighted reservoir sampling streamable in the literature
(Efraimidis & Spirakis 2006 §3), realized here in the engine's exact
integer millibit arithmetic, so the maintained winner set is
portable and oracle-checkable rather than seed-and-state-bound.

Like streaming/kmv.py, a batch's partial is a pure function of the
batch alone — a crash-after-write replay rewrites the identical
partition, idempotent even before the marker lands. The read-side
merge additionally applies DISTINCT over the bounded partial rows: a
key re-sent with the same weight (at-least-once delivery upstream of
the marker discipline) collapses to its identical race row instead of
occupying two of the k slots. A key re-sent with a DIFFERENT weight is
a caller contract violation — the race is a pure function, there is no
last-write-wins; fix the upstream key.

Parameter guard: (k, key_col, weight_col, stratum_col) are pinned in
store metadata — winner sets raced under different weights or strata
must never merge (the streaming/decon.py frozen-meta pattern).

Scale: state is ≤ k rows per (stratum, batch) before compaction and
≤ k per stratum after; the merge shuffles winner rows, never data
rows. Old partials can be periodically compacted into one winner set
per stratum with the same merge — the read path is already that
aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import BatchStore

__all__ = ["IncrementalWeightedSample"]


class IncrementalWeightedSample(BatchStore):
    """Maintains per-stratum Efraimidis–Spirakis weighted samples for
    a growing stream of (stratum: string, key: long, weight: long)
    rows."""

    def __init__(
        self,
        store_path: str,
        key_col: str = "doc_id",
        weight_col: str = "n_tok",
        stratum_col: str = "source",
        k: int = 15,
    ) -> None:
        if k <= 0:
            raise ValueError("need k > 0")
        self.store_path = store_path
        self.key_col = key_col
        self.weight_col = weight_col
        self.stratum_col = stratum_col
        self.k = k
        self._parts_path = self._path("partials")
        self._pin(
            "wsample_meta.json",
            {
                "k": k,
                "key_col": key_col,
                "weight_col": weight_col,
                "stratum_col": stratum_col,
            },
            "winner sets raced under different weights or strata must never "
            "merge (rebuild into a fresh store instead)",
        )

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        """Reduce the batch to ≤ k winner rows per touched stratum.
        Pure function of the batch — replay-idempotent by
        construction."""
        from pyspark.sql import types as T

        from ..operators.sampling import weighted_sample_topk

        stype = batch.schema[self.stratum_col].dataType
        if not isinstance(stype, T.StringType):
            # The read side pins `stratum string`; refuse at the write
            # instead of failing obscurely on read (IncrementalKmv's
            # guard).
            raise TypeError(
                f"IncrementalWeightedSample stores string strata; "
                f"{self.stratum_col} is {stype.simpleString()} — cast it "
                "before the sink"
            )
        part = weighted_sample_topk(
            batch.select(self.stratum_col, self.key_col, self.weight_col),
            key=self.key_col,
            weight_col=self.weight_col,
            k=self.k,
            stratum_cols=self.stratum_col,
        ).drop("rk")
        self._write(part, self._parts_path, batch_id)

    # -- reads -------------------------------------------------------------

    def _read_partials(self, spark: SparkSession) -> DataFrame:
        return self._read_batches(
            spark,
            self._parts_path,
            f"{self.stratum_col} string, {self.key_col} bigint, "
            f"{self.weight_col} bigint, race bigint",
        )

    def sample(self, spark: SparkSession) -> DataFrame:
        """The current winner set: per-stratum k smallest race keys
        over the DISTINCT union of every committed partial — a bounded
        rank over O(strata × batches × k) rows, never a re-scan.
        Equals the batch weighted_sample_topk over all rows seen (the
        top-k-of-top-k's identity; equivalence-tested). Before any
        drain the result is legitimately EMPTY."""
        from pyspark.sql import Window

        w = Window.partitionBy(self.stratum_col).orderBy("race", self.key_col)
        return (
            self._read_partials(spark)
            .distinct()
            .withColumn("rk", F.row_number().over(w).cast("long"))
            .where(F.col("rk") <= self.k)
        )
