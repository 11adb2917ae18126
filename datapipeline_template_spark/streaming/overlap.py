"""Streaming source-overlap maintenance — the incremental form of the
tx22 contamination audit (queries/text.py).

A growing corpus never recomputes its source × source shingle-overlap
matrix from scratch: each micro-batch of new documents is shingled
ONCE, reduced to its distinct (source, shingle) rows, and anti-joined
against the stored distinct set — only rows the store has never seen
produce deltas. Two delta tables make the audit additive:

- ``tot_deltas``: per batch, how many NEW distinct shingles each
  source gained.
- ``pair_deltas``: per batch, for each unordered source pair, how many
  shingles became NEWLY SHARED — a (pair, shingle) contribution is
  emitted exactly once, in the batch where the LATER of the two
  (source, shingle) memberships arrives (the IncrementalLsh emission
  contract, applied to set intersections): against the stored set for
  cross-batch sharing, within the batch's own new rows for same-batch
  sharing.

``overlap()`` then just SUMs the deltas and divides — after any number
of drains it equals the batch tx22 matrix over every document seen
(equivalence-tested), because |A|, |B| and |A ∩ B| are all additive
over never-seen-before elements.

The stored-set read excludes the current batch id, so a
crash-after-write replay computes the identical deltas.

Scale: the store is distinct (source, shingle) — the same cardinality
tx22's first shuffle produces; the anti-join and the cross probe are
equi-joins on the shingle hash (bucket the store by ``g`` at 100 TB).
A shingle carried by all S sources costs S rows per probe, never a
corpus-sized blowup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import BatchStore

__all__ = ["IncrementalSourceOverlap"]


class IncrementalSourceOverlap(BatchStore):
    """Maintains distinct (source, shingle) rows plus additive overlap
    deltas from a stream of (id, source, text) documents."""

    def __init__(
        self,
        store_path: str,
        source_col: str = "source",
        text_col: str = "text",
        k: int = 3,
    ) -> None:
        self.store_path = store_path
        self.source_col = source_col
        self.text_col = text_col
        self.k = k
        self._sg_path = self._path("sg")
        self._tot_path = self._path("tot_deltas")
        self._pairs_path = self._path("pair_deltas")

    def _batch_sg(self, batch: DataFrame) -> DataFrame:
        """Distinct (source, g) over the batch — the tx22 shingle spec
        (tokenize → k-gram poly shingles → explode → distinct)."""
        from ..operators.dedup import shingle_tokens
        from ..operators.text import tokenize

        return (
            batch.select(
                F.col(self.source_col).alias("source"),
                F.explode(
                    shingle_tokens(tokenize(self.text_col), k=self.k)
                ).alias("g"),
            )
            .distinct()
        )

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        """Shingle the batch, derive never-seen (source, g) rows, and
        land them plus the additive total/pair deltas."""
        sg_b = self._batch_sg(batch)
        stored = self._read_prior(
            batch.sparkSession, self._sg_path, batch_id, sg_b.schema
        )
        # Eager: `new` feeds the store write, the tot delta, and BOTH
        # sides of two joins — and severs lineage from the store paths
        # being overwritten below.
        new = sg_b.join(
            stored, ["source", "g"], "left_anti"
        ).localCheckpoint(eager=True)

        tot = new.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("d")
        )
        cross = (
            new.alias("n")
            .join(stored.alias("s"), "g")
            .where(F.col("n.source") != F.col("s.source"))
            .select(
                F.least("n.source", "s.source").alias("src_a"),
                F.greatest("n.source", "s.source").alias("src_b"),
            )
        )
        within = (
            new.alias("a")
            .join(new.alias("b"), "g")
            .where(F.col("a.source") < F.col("b.source"))
            .select(
                F.col("a.source").alias("src_a"),
                F.col("b.source").alias("src_b"),
            )
        )
        pair_delta = (
            cross.unionByName(within)
            .groupBy("src_a", "src_b")
            .agg(F.count(F.lit(1)).cast("long").alias("d"))
        )

        self._write(new, self._sg_path, batch_id)
        self._write(tot, self._tot_path, batch_id)
        self._write(pair_delta, self._pairs_path, batch_id)

    # -- reads -------------------------------------------------------------

    def overlap(self, spark: SparkSession) -> DataFrame:
        """The tx22 matrix over every document seen: per source pair
        (src_a < src_b) with any sharing, distinct-shingle sizes,
        shared count, exact Jaccard — a SUM over the maintained deltas,
        never a recomputation. Before any drain (or after only
        zero-shingle batches) the matrix is legitimately EMPTY."""
        tot = (
            self._read_batches(spark, self._tot_path, "source string, d long")
            .groupBy("source")
            .agg(F.sum("d").cast("long").alias("n"))
        )
        shared = (
            self._read_batches(
                spark, self._pairs_path,
                "src_a string, src_b string, d long",
            )
            .groupBy("src_a", "src_b")
            .agg(F.sum("d").cast("long").alias("n_shared"))
        )
        ta = tot.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
        tb = tot.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
        jac = F.col("n_shared").cast("double") / (
            F.col("n_a") + F.col("n_b") - F.col("n_shared")
        ).cast("double")
        return (
            shared.join(F.broadcast(ta), "src_a")
            .join(F.broadcast(tb), "src_b")
            .select(
                "src_a", "src_b", "n_a", "n_b", "n_shared",
                jac.alias("jaccard"),
            )
        )
