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
    "StreamingManifest",
    "batch_survivors",
    "batch_manifest_keep",
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


class StreamingManifest(BatchStore):
    """The COMPOSED-manifest maintainer: StreamingCuration's
    seven-stage survivors + ``IncrementalDecon``'s frozen-benchmark
    overlap gate + ``IncrementalDsir``'s target-ratio gate, maintained
    together so the training manifests pipe15 (decontaminated) and
    pipe17 (DSIR-targeted) stay current one micro-batch at a time —
    the r9-verdict composition of three existing families, not a new
    one.

    The same cost split as StreamingCuration: every corpus-touching
    artifact (gate flags, LSH pairs, SemDeDup marks, eval-shingle
    probes, DSIR token profiles) is paid once per batch by the
    sub-maintainers; the cheap corpus-level decisions (CC + survivor
    windows, the contamination anti-join, the adaptive DSIR cut —
    which is an order statistic of the CURRENT corpus and so must be
    re-derived, exactly like survivor election) happen at read time
    over maintained state only. ``manifest()`` then runs the SHARED
    consumer stage (queries/packing.manifest_from_flags: tokenizer
    fit + encode + pack) over the maintained keep set, reading doc
    text from the lake BY ID — at 100 TB the manifest stage reads the
    kept few percent, never the stream's full history.

    Frozen artifacts: centroids + classifier weights (the
    StreamingCuration contract), the eval shingle set (the
    IncrementalDecon contract — fingerprint-guarded), and the eval
    SOURCE label + DSIR target (pinned in manifest_meta.json,
    refuse-to-merge). Equivalence (pinned in tests/test_streaming.py):
    after any drains, ``decon_keep()`` / ``dsir_keep()`` equal the
    batch compositions under the same frozen artifacts
    (``batch_manifest_keep``), and at the drain where the seen corpus
    IS the artifact-deriving corpus, ``manifest()`` equals the
    registry pipe15 / pipe17 rows verbatim. Exactly-once at every
    level: each sub-maintainer keeps its own markers; the composer's
    marker gates the whole batch."""

    def __init__(
        self,
        store_path: str,
        centroids: list[list[int]],
        weights: DataFrame,
        eval_docs: DataFrame | None = None,
        eval_source: str = "src0",
        target_source: str = "src1",
        decon_k: int = 5,
        **curation_kwargs,
    ) -> None:
        from .decon import IncrementalDecon
        from .dsir import IncrementalDsir

        self.store_path = store_path
        self._pin(
            "manifest_meta.json",
            {
                "eval_source": eval_source,
                "target_source": target_source,
                "decon_k": decon_k,
            },
            "manifests gated against different eval sources or targets "
            "must never merge (rebuild a fresh store)",
        )
        self.eval_source = eval_source
        self.cur = StreamingCuration(
            os.path.join(store_path, "cur"), centroids, weights,
            **curation_kwargs,
        )
        self.decon = IncrementalDecon(
            os.path.join(store_path, "decon"), eval_docs, k=decon_k
        )
        self.dsir = IncrementalDsir(
            os.path.join(store_path, "dsir"), target_source
        )

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        """Delegate to the three sub-maintainers (each replay-safe
        behind its own marker — a crash mid-composition re-runs only
        the uncommitted members)."""
        batch = batch.localCheckpoint(eager=True)
        self.cur.process_batch(batch, batch_id)
        self.decon.process_batch(
            batch.where(F.col("source") != self.eval_source).select(
                "doc_id", "text"
            ),
            batch_id,
        )
        self.dsir.process_batch(
            batch.select("doc_id", "text", "source"), batch_id
        )

    # -- reads -------------------------------------------------------------

    def decon_keep(self, spark: SparkSession) -> DataFrame:
        """pipe15's keep set from maintained state: seven-stage
        survivors ∧ non-eval-source ∧ no shared eval shingle."""
        surv = self.cur.survivors(spark)
        contam = self.decon.flags(spark).select("doc_id")
        return (
            surv.where(F.col("source") != self.eval_source)
            .join(contam, "doc_id", "left_anti")
            .select("doc_id")
        )

    def dsir_keep(self, spark: SparkSession) -> DataFrame:
        """pipe17's keep set: decon_keep ∧ the maintained DSIR
        selection (tx25's adaptive cut over the CURRENT corpus — an
        order statistic, re-derived per read like survivor election)."""
        kept = (
            self.dsir.selection(spark)
            .where(F.col("kept") == 1)
            .select("doc_id")
        )
        return self.decon_keep(spark).join(kept, "doc_id", "left_semi")

    def budget_keep(
        self, spark: SparkSession, sf_dir: str, k: int | None = None
    ) -> DataFrame:
        """pipe18's keep set: decon_keep raced per source by token
        mass, ≤ k winners each. The race is a PURE FUNCTION of
        (doc_id, n_tok), so the budget needs NO new maintained state
        — like survivor election and the DSIR cut it is a read-time
        decision over the maintained keep set, with token counts read
        from the lake BY ID (the same bounded access manifest()'s
        consumer stage already performs)."""
        from ..catalog import table
        from ..operators.packing import whitespace_token_count
        from ..operators.sampling import weighted_sample_topk
        from ..queries.packing import _PIPE18_K

        pool = (
            self.decon_keep(spark)
            .join(
                table(spark, sf_dir, "documents").select(
                    "doc_id",
                    "source",
                    whitespace_token_count(F.col("text")).alias("n_tok"),
                ),
                "doc_id",
            )
            .where(F.col("n_tok") > 0)
        )
        return weighted_sample_topk(
            pool,
            key="doc_id",
            weight_col="n_tok",
            k=k if k is not None else _PIPE18_K,
            stratum_cols="source",
        ).select("doc_id")

    def manifest(
        self, spark: SparkSession, sf_dir: str, gate: str = "decon"
    ) -> DataFrame:
        """The maintained training manifest — the shared consumer
        stage (tokenizer fit + encode + packing) over the maintained
        keep set, reading kept documents' text from the lake by id.
        ``gate='decon'`` is pipe15's composition, ``gate='dsir'``
        pipe17's, ``gate='budget'`` pipe18's."""
        from ..queries.packing import manifest_from_flags

        if gate not in ("decon", "dsir", "budget"):
            raise ValueError(f"unknown gate {gate!r} (decon|dsir|budget)")
        keep = {
            "decon": self.decon_keep,
            "dsir": self.dsir_keep,
        }.get(gate)
        keep = (
            keep(spark)
            if keep is not None
            else self.budget_keep(spark, sf_dir)
        )
        return manifest_from_flags(
            spark, sf_dir, keep.withColumn("f_sem", F.lit(True))
        )


def batch_manifest_keep(
    docs: DataFrame,
    emb: DataFrame,
    centroids: list[list[int]],
    weights: DataFrame,
    eval_docs: DataFrame,
    eval_source: str = "src0",
    target_source: str = "src1",
    decon_k: int = 5,
    gate: str = "decon",
    **survivor_kwargs,
) -> DataFrame:
    """The BATCH composed keep set under FROZEN artifacts — the
    equivalence oracle for ``StreamingManifest`` (what pipe15/pipe17's
    `_decon_keep_ids` compute, with the curation artifacts and the
    eval shingle set replaced by the given frozen ones; on the
    artifact-deriving corpus the two are identical, which the
    streaming test asserts against the registry rows). ``eval_docs``
    is the frozen benchmark (doc_id, text); DSIR scores over the SEEN
    corpus (the maintainer's corpus-relative semantics)."""
    from ..operators.dedup import decontaminate_flags, shingle_tokens
    from ..operators.text import dsir_logratio, dsir_select, tokenize

    surv = batch_survivors(docs, emb, centroids, weights, **survivor_kwargs)
    cand = docs.where(F.col("source") != eval_source).select(
        "doc_id", shingle_tokens(tokenize("text"), k=decon_k).alias("sh")
    )
    ev = eval_docs.select(
        shingle_tokens(tokenize("text"), k=decon_k).alias("sh")
    )
    contam = decontaminate_flags(cand, ev, "doc_id", "sh").select("doc_id")
    keep = (
        surv.where(F.col("source") != eval_source)
        .join(contam, "doc_id", "left_anti")
        .select("doc_id")
    )
    if gate == "dsir":
        kept = (
            dsir_select(dsir_logratio(docs, target_source))
            .where(F.col("kept") == 1)
            .select("doc_id")
        )
        keep = keep.join(kept, "doc_id", "left_semi")
    elif gate == "budget":
        from ..operators.packing import whitespace_token_count
        from ..operators.sampling import weighted_sample_topk
        from ..queries.packing import _PIPE18_K

        pool = (
            keep.join(
                docs.select(
                    "doc_id",
                    "source",
                    whitespace_token_count(F.col("text")).alias("n_tok"),
                ),
                "doc_id",
            )
            .where(F.col("n_tok") > 0)
        )
        keep = weighted_sample_topk(
            pool, key="doc_id", weight_col="n_tok", k=_PIPE18_K,
            stratum_cols="source",
        ).select("doc_id")
    return keep
