"""Streaming curation-funnel maintenance — the EIGHTH incremental
family, and the one that composes the others: a maintained curated
set with pipe12's full seven-stage semantics (language → Gopher →
prefix dedup → classifier → MinHash near-dup survivors → SemDeDup),
kept current one micro-batch at a time instead of recomputing the
extended flag pass over the whole corpus per run.

Design: split the work by WHERE its cost lives.

* The EXPENSIVE, corpus-touching artifacts are maintained
  incrementally by the existing family members, composed as
  sub-maintainers sharing this store: ``IncrementalLsh`` keeps the
  MinHash signature + candidate-pair tables (a pair is examined once,
  in the batch where its later member arrives), ``IncrementalSemDeDup``
  keeps the within-cluster removal marks against FROZEN centroids.
  A corpus append therefore never re-signs, re-pairs, or re-scores
  the existing mass — the incremental-silver scale argument, applied
  to curation.
* The map-only per-doc state (language/Gopher gates, 10-token prefix,
  classifier score against a FROZEN weight table) is paid once at
  ingest and appended to a ``docs`` table.
* The CHEAP corpus-level decisions (connected components over the
  maintained pair set, the per-component max-n_chars survivor window,
  the per-(prefix, surv2) min-id keeper) are DERIVED at read time in
  ``survivors()``: they run over pair-participating docs only (a few
  % of the corpus), and deriving them fresh is what makes the
  maintained set EXACT — survivor election is not per-pair local (a
  new arrival can merge two components and re-elect a keeper), so
  marking survivors at ingest could never equal the batch operator.

Frozen artifacts: centroids (the ``IncrementalKmeansAssign``
contract) and the classifier's (tok, w) table
(``operators/text.logodds_weights``) are training state, derived once
from a bootstrap/reference corpus. The equivalence contract is
therefore regime-conditional, exactly like the other families:

    after any drains, ``survivors()`` == the batch seven-stage
    survivor set over every document seen, computed with the SAME
    frozen centroids and weights (``batch_survivors`` below) —

and at the drain where the seen corpus IS the corpus the artifacts
were derived from, that equals pipe12's ``f_sem`` survivor set
verbatim (pipe12 derives both artifacts deterministically from its
input corpus — same corpus, same artifacts). Both equalities, plus
replay/crash-window idempotence, are pinned in
tests/test_streaming.py.

Composition: each sub-maintainer keeps its own markers (a replay
after a crash mid-composition re-runs only the uncommitted members),
and the composer's own marker gates the whole batch.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.dedup import connected_components
from ..operators.text import (
    CURATION_GOPHER_KEYS,
    gopher_rules,
    language_id,
    score_with_weights,
)
from .kmeans import IncrementalSemDeDup
from .lsh import IncrementalLsh
from .store import BatchStore

__all__ = [
    "StreamingCuration",
    "batch_survivors",
]

_PREFIX_LEN = 10


def _doc_prefix(text_col: str = "text"):
    """The 10-token boilerplate-head key the prefix-dedup stage groups
    on — one expression shared with the batch flag pass."""
    return F.array_join(F.slice(F.split(F.col(text_col), " "), 1, _PREFIX_LEN), " ")


def _gate_flags(docs: DataFrame) -> DataFrame:
    """Map-only per-doc gate columns: f_lang, f_gopher, surv2, prefix.
    Shared by the ingest path and the batch reference."""
    rules = gopher_rules("text")
    gopher_ok = reduce(lambda a, b: a & b, [rules[k] for k in CURATION_GOPHER_KEYS])
    return docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        (language_id("text") == "en").alias("f_lang"),
        gopher_ok.alias("f_gopher"),
        _doc_prefix("text").alias("prefix"),
    ).withColumn("surv2", F.col("f_lang") & F.col("f_gopher"))


class StreamingCuration(BatchStore):
    """Maintains the seven-stage curated set from a stream of
    (doc_id, text, source, n_chars, embedding) rows — documents and
    their embeddings arrive together under the aligned-id convention.
    A NULL embedding is legitimate (at sf0.1 only 40% of documents
    carry one, and real multimodal corpora are never fully embedded):
    such documents pass through every text stage normally and are
    simply never SemDeDup-marked — exactly the batch pass's left-join
    semantics, where a doc absent from the embeddings table keeps
    ``sem_keep``.
    """

    def __init__(
        self,
        store_path: str,
        centroids: list[list[int]],
        weights: DataFrame,
        threshold: float = 0.3,
        num_hashes: int = 32,
        bands: int = 8,
        rows_per_band: int = 4,
        shingle_k: int = 3,
    ) -> None:
        self.store_path = store_path
        self.lsh = IncrementalLsh(
            os.path.join(store_path, "lsh"),
            id_col="doc_id",
            text_col="text",
            num_hashes=num_hashes,
            bands=bands,
            rows_per_band=rows_per_band,
            k=shingle_k,
        )
        self.sem = IncrementalSemDeDup(
            os.path.join(store_path, "sem"),
            centroids,
            id_col="doc_id",
            vec_col="embedding",
            threshold=threshold,
        )
        self._docs_path = self._path("docs")
        self._weights_path = self._path("weights")
        self._persist_weights(weights)

    def _persist_weights(self, weights: DataFrame) -> None:
        """Weights are mark-determining store state exactly like the
        sem threshold: scores are written once per doc, so a store fed
        under different weights equals the batch reference under
        NEITHER table. First construction persists the table; later
        constructions verify the caller's table matches via an exact
        commutative checksum (Σ xxhash64(tok)·w — order-free, any
        sign flip or vocab change moves it) and refuse loudly on
        drift."""

        def _checksum(df: DataFrame) -> tuple[int, int]:
            # xxhash64 spans the full int64 range; summing vocab-many
            # of them overflows long under ANSI — accumulate in
            # DECIMAL(38,0) (exact to 1e38, enough for 1e19-range
            # terms over any realistic vocab).
            term = (F.xxhash64("tok") * F.col("w")).cast("decimal(38,0)")
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(term), F.lit(0).cast("decimal(38,0)")).alias("c"),
            ).collect()[0]
            return int(row["n"]), int(row["c"])

        n, c = _checksum(weights)
        if not os.path.exists(self._path("weights.json")):
            # The table lands before the pin: the pin is the commit.
            weights.select("tok", F.col("w").cast("long")).write.mode(
                "overwrite"
            ).parquet(self._weights_path)
        self._pin(
            "weights.json",
            {"n": n, "checksum": c},
            "a different classifier weight table (vocab size / checksum): "
            "scores are written once per doc, so mixing weight regimes "
            "silently corrupts the maintained set — rebuild into a fresh "
            "store_path",
        )

    # -- foreachBatch body -------------------------------------------------

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        """Gate + score the batch's docs (map-only + one broadcast
        token join against the frozen weights), land the per-doc
        state, then delegate the pair/mark maintenance to the
        sub-maintainers. Idempotent under replay at every level."""
        spark = batch.sparkSession
        docs = batch.select(
            "doc_id", "text", "source", "n_chars"
        ).localCheckpoint(eager=True)
        if docs.count() > 0:
            weights = spark.read.parquet(self._weights_path)
            scores = score_with_weights(
                docs, "doc_id", "text", F.broadcast(weights)
            )
            state = _gate_flags(docs).join(scores, on="doc_id", how="left")
            self._write(state, self._docs_path, batch_id)
        self.lsh.process_batch(batch.select("doc_id", "text"), batch_id)
        self.sem.process_batch(
            batch.where(F.col("embedding").isNotNull()).select(
                "doc_id", "embedding"
            ),
            batch_id,
        )

    # -- reads -------------------------------------------------------------

    def survivors(self, spark: SparkSession) -> DataFrame:
        """The curated set: every seen document passing all seven
        stages, derived from the maintained state. CC + both windows
        run over pair-participating / stored-doc state only — no text
        or embedding is rescanned."""
        if not self._has_files(self._docs_path):
            return spark.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField("doc_id", T.LongType()),
                        T.StructField("source", T.StringType()),
                    ]
                ),
            )
        docs = self._read_batches(spark, self._docs_path)
        pairs = self.lsh.pairs(spark)
        comp = connected_components(pairs, "id_a", "id_b")
        w = Window.partitionBy("component").orderBy(
            F.col("n_chars").desc(), F.col("doc_id").asc()
        )
        mh_drop = (
            docs.select("doc_id", "n_chars")
            .join(comp.select(F.col("node").alias("doc_id"), "component"), "doc_id")
            .select("doc_id", F.row_number().over(w).alias("_r"))
            .where(F.col("_r") > 1)
            .select("doc_id")
        )
        sem_drop = self.sem.marks(spark).select(
            F.col("vec_id").alias("doc_id")
        ).distinct()
        keeper = Window.partitionBy("prefix", "surv2")
        flagged = docs.withColumn("_min_id", F.min("doc_id").over(keeper))
        return (
            flagged.where(
                F.col("surv2")
                & (F.col("doc_id") == F.col("_min_id"))
                & (F.col("score") > 0)
            )
            .join(mh_drop, on="doc_id", how="left_anti")
            .join(sem_drop, on="doc_id", how="left_anti")
            .select("doc_id", "source")
        )


def batch_survivors(
    docs: DataFrame,
    emb: DataFrame,
    centroids: list[list[int]],
    weights: DataFrame,
    threshold: float = 0.3,
    num_hashes: int = 32,
    bands: int = 8,
    rows_per_band: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """The BATCH seven-stage survivor set under FROZEN artifacts — the
    equivalence oracle for ``StreamingCuration`` (what
    ``queries/pipeline._curation_flags_extended`` computes, with the
    fit and the classifier training replaced by the given frozen
    centroids/weights; on the artifact-deriving corpus the two are
    identical, which the streaming test asserts against pipe12).
    ``docs`` needs (doc_id, text, source, n_chars); ``emb`` needs
    (doc_id, embedding)."""
    from ..operators.clustering import semdedup
    from ..operators.dedup import lsh_candidate_pairs, minhash_signatures_kernel

    flags = _gate_flags(docs).join(
        score_with_weights(docs, "doc_id", "text", weights), "doc_id", "left"
    )
    sigs = minhash_signatures_kernel(
        docs, "doc_id", "text", num_hashes=num_hashes, k=shingle_k
    )
    pairs = lsh_candidate_pairs(
        sigs, "doc_id", "sig", bands=bands, rows_per_band=rows_per_band
    )
    comp = connected_components(pairs, "id_a", "id_b")
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    mh_drop = (
        docs.select("doc_id", "n_chars")
        .join(comp.select(F.col("node").alias("doc_id"), "component"), "doc_id")
        .select("doc_id", F.row_number().over(w).alias("_r"))
        .where(F.col("_r") > 1)
        .select("doc_id")
    )
    sem_drop = (
        semdedup(
            emb, "doc_id", "embedding", centroids=centroids, threshold=threshold
        )
        .select(F.col("vec_id").alias("doc_id"))
        .distinct()
    )
    keeper = Window.partitionBy("prefix", "surv2")
    flagged = flags.withColumn("_min_id", F.min("doc_id").over(keeper))
    return (
        flagged.where(
            F.col("surv2")
            & (F.col("doc_id") == F.col("_min_id"))
            & (F.col("score") > 0)
        )
        .join(mh_drop, on="doc_id", how="left_anti")
        .join(sem_drop, on="doc_id", how="left_anti")
        .select("doc_id", "source")
    )
