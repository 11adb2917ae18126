"""Streaming PageRank maintenance — the incremental form of ss36's
integer walk (operators/graph.py pagerank_integer), the 22nd
incremental family.

What is maintainable vs what is not: the EDGE LIST and the OUT-DEGREES
are additive — a batch contributes its own (src, dst) rows and its own
(src, deg_delta) partials, both pure functions of the batch. The RANKS
are NOT additive — every round's send is rank div deg, and a single
new edge changes its source's degree and therefore every send that
source makes, so rank mass re-routes globally. The honest streamable
split (the IncrementalKmv/Bm25 pattern): maintain the
additive graph state per batch, RE-RUN the fixed-depth walk on the
maintained graph at read time. ``ranks()`` therefore equals the batch
operator over the union of drained batches at ANY drain point —
bit-identical, because the walk is exact-integer and the merged
degrees equal recomputed degrees by construction (sum of per-batch
counts == count over the union).

What the maintenance SAVES is the graph derivation, not the walk: the
edges of ss36's mutual-kNN graph cost a kNN self-join over the whole
corpus (the expensive object the operator checkpoints); here each
batch pays only its own edge derivation, and the walk's per-round
|E| join + keyed aggregation reads the parquet store. The walk itself
is O(iters · |E|) either way — at 100 TB that is the read cost a
caller prices with the ss36 bench row, not a maintenance cost.

Batch contract: batches are DISJOINT edge sets (the bm25-family
contract — edges are bag semantics, a re-sent edge under a NEW
batch_id would double its multiplicity AND its source's degree,
consistently with what the batch operator would do on the doubled
edge list; the param-guard section of the test pins the disjointness
contract instead of silently deduping, because multi-edges are
legitimate in weighted-graph readings).

Parameter guard: (iters, damping_milli, r0, src, dst) are pinned in
store metadata — ranks computed under different walk parameters must
never be compared across one store.

Reference anchor: the reference template maintains no graph state
(`/root/reference` has no query layer); this family extends the
engine's streaming-maintenance story (SURVEY §2 X8) to the graph
operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import BatchStore

__all__ = ["IncrementalPageRank"]


class IncrementalPageRank(BatchStore):
    """Maintains an edge store + additive degree partials for a
    growing directed graph; fixed-depth integer PageRank on demand."""

    def __init__(
        self,
        store_path: str,
        src: str = "src",
        dst: str = "dst",
        iters: int = 5,
        damping_milli: int = 850,
        r0: int = 1_000_000,
    ) -> None:
        if iters < 1:
            raise ValueError("need iters >= 1")
        if not 0 <= damping_milli <= 1000:
            raise ValueError("damping_milli must be in [0, 1000]")
        self.store_path = store_path
        self.src = src
        self.dst = dst
        self.iters = iters
        self.damping_milli = damping_milli
        self.r0 = r0
        self._edges_path = self._path("edges")
        self._deg_path = self._path("deg")
        self._pin(
            "pagerank_meta.json",
            {
                "src": src,
                "dst": dst,
                "iters": iters,
                "damping_milli": damping_milli,
                "r0": r0,
            },
            "ranks walked under different parameters must never meet in "
            "one store",
        )

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        """Land the batch's own edges and its own degree partials. Pure
        function of the batch — replay-idempotent. NULL endpoints raise
        (the operator's phantom-node rule, enforced at WRITE time so a
        poisoned batch never lands)."""

        def _nn(c):
            return F.when(F.col(c).isNotNull(), F.col(c)).otherwise(
                F.raise_error(
                    F.lit("IncrementalPageRank needs non-null edge endpoints")
                ).cast("long")
            )

        e = batch.select(
            _nn(self.src).alias("_src"), _nn(self.dst).alias("_dst")
        )
        self._write(e, self._edges_path, batch_id)
        deg = e.groupBy("_src").agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        )
        self._write(deg, self._deg_path, batch_id)

    # -- reads -------------------------------------------------------------

    def degrees(self, spark: SparkSession) -> DataFrame:
        """Merged out-degrees ``(_src, deg)`` — the additive partials
        summed per key; equals a degree recount over every drained
        edge by construction."""
        return (
            self._read_batches(spark, self._deg_path, "_src bigint, deg bigint")
            .groupBy("_src")
            .agg(F.sum("deg").cast("long").alias("deg"))
        )

    def ranks(self, spark: SparkSession) -> DataFrame:
        """``(node, deg, rank_micro)`` over every drained edge — the
        fixed-depth exact-integer walk on the maintained graph, fed
        the MERGED degree partials; bit-equal to the batch
        pagerank_integer over the union of drained batches at any
        drain point (equivalence-tested, including out-of-order and
        crash-window drains)."""
        from ..operators.graph import pagerank_integer

        edges = self._read_batches(
            spark, self._edges_path, "_src bigint, _dst bigint"
        )
        if edges.isEmpty():
            from pyspark.sql import types as T

            return spark.createDataFrame(
                [],
                T._parse_datatype_string(
                    "node bigint, deg bigint, rank_micro bigint"
                ),
            )
        return pagerank_integer(
            edges,
            src="_src",
            dst="_dst",
            iters=self.iters,
            damping_milli=self.damping_milli,
            r0=self.r0,
            deg=self.degrees(spark).localCheckpoint(eager=True),
        )
