"""Streaming BM25 index maintenance — the incremental form of tx27's
integer lexical retrieval (operators/text.py bm25_topk).

Every index component is a pure, ADDITIVE function of each batch's
(new, disjoint) documents: per-doc term frequencies and lengths are
rows that only ever append; document frequency is additive by token
(disjoint docs each contribute 0/1 per token); the (n_docs, n_toks)
stats row sums. So the maintained index is just the union/sum of
per-batch deltas, and ``topk()`` — which derives idf from the merged
df/stats and runs the SHARED scoring spec
(operators/text.py bm25_rank_from_index) — equals the batch operator
over the union of all drained batches at ANY drain point
(equivalence-tested). This is the IncrementalSurprisal argument
applied to retrieval: growing the corpus shifts every idf, but
re-scoring is ONE derivation over O(vocab) merged counts plus the
query join — never a re-tokenize of the corpus.

Contract: document ids are LONGs (the store's typed reads pin it)
and batches carry NEW documents only (ids disjoint across batches) —
re-sending a doc in a LATER batch would double-count it, exactly as
re-inserting a row into any count. Column names and k1/b constants
are pinned in store metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import BatchStore

__all__ = ["IncrementalBm25"]


class IncrementalBm25(BatchStore):
    """Maintains the BM25 index (tf / dl / df / stats) for a growing
    document stream; ranked lexical top-k on demand."""

    def __init__(
        self,
        store_path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        k1_m: int | None = None,
        b_m: int | None = None,
        max_df_num: int = 1,
        max_df_den: int = 2,
    ) -> None:
        from ..operators.text import BM25_B_M, BM25_K1_M

        self.store_path = store_path
        self.id_col = id_col
        self.text_col = text_col
        self.k1_m = BM25_K1_M if k1_m is None else k1_m
        self.b_m = BM25_B_M if b_m is None else b_m
        # The stopword-prune operating point (df·den > num·N drops a
        # term) is part of the RANKING spec, not a query-time knob: an
        # index meant to mirror tx27b's 9/10 point must reproduce it
        # from streaming state alone, so it is pinned in metadata and
        # guarded against drift like the k1/b constants.
        self.max_df_num = max_df_num
        self.max_df_den = max_df_den
        self._pin(
            "bm25_meta.json",
            {
                "id_col": id_col,
                "text_col": text_col,
                "k1_m": self.k1_m,
                "b_m": self.b_m,
                "max_df_num": max_df_num,
                "max_df_den": max_df_den,
            },
            "indexes of different columns or BM25 constants must never "
            "merge (rebuild a fresh store)",
        )

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        """Reduce the batch's documents to their index deltas (tf rows,
        dl rows, per-token df counts, one stats row). Pure function of
        the batch — replay-idempotent."""
        from ..operators.text import tokenize

        toks = batch.select(
            F.col(self.id_col).alias("_d"),
            F.explode(tokenize(self.text_col)).alias("_t"),
        )
        tf = toks.groupBy("_d", "_t").agg(
            F.count(F.lit(1)).cast("long").alias("_tf")
        )
        dl = toks.groupBy("_d").agg(F.count(F.lit(1)).cast("long").alias("_dl"))
        dfreq = tf.groupBy("_t").agg(
            F.count(F.lit(1)).cast("long").alias("_df")
        )
        stats = dl.agg(
            F.count(F.lit(1)).cast("long").alias("_nd"),
            F.sum("_dl").cast("long").alias("_nt"),
        )
        for name, df in (("tf", tf), ("dl", dl), ("df", dfreq), ("stats", stats)):
            self._write(df, self._path(name), batch_id)

    def _after_commit(self, spark: SparkSession) -> None:
        from .compaction import maybe_auto_compact

        maybe_auto_compact(self.store_path, lambda: self.compact(spark))

    # -- reads -------------------------------------------------------------

    def compact(self, spark: SparkSession) -> None:
        """Fold committed per-batch index deltas into the ``_batch=-1``
        base (streaming/compaction.py). tf/dl re-bag identically (they
        are doc-keyed rows the reads consume raw); df folds to one
        summed row per token and stats to one global row — exactly the
        read-side merges, so topk() is invariant (test-pinned).
        Markers survive; replays of folded batches stay no-ops."""
        from .compaction import compact_store

        compact_store(
            spark,
            self.store_path,
            folds={
                "df": lambda d: d.groupBy("_t").agg(
                    F.sum("_df").cast("long").alias("_df")
                ),
                "stats": lambda d: d.agg(
                    F.sum("_nd").cast("long").alias("_nd"),
                    F.sum("_nt").cast("long").alias("_nt"),
                ),
            },
        )

    def topk(self, queries: DataFrame, k: int = 5) -> DataFrame:
        """Ranked lexical top-k of ``queries`` (id_col, text_col rows)
        against every document drained so far, via the SHARED scoring
        spec — equals the batch operator over the union of drained
        batches, including the global idf shift each new batch causes."""
        from ..operators.text import bm25_rank_from_index, tokenize

        spark = queries.sparkSession
        def read(name: str, schema: str) -> DataFrame:
            return self._read_batches(spark, self._path(name), schema)

        tf = read("tf", "_d long, _t string, _tf long")
        dl = read("dl", "_d long, _dl long")
        dfreq = (
            read("df", "_t string, _df long")
            .groupBy("_t")
            .agg(F.sum("_df").cast("long").alias("_df"))
        )
        stats = read("stats", "_nd long, _nt long").agg(
            F.sum("_nd").cast("long").alias("_nd"),
            F.sum("_nt").cast("long").alias("_nt"),
        )
        qt = queries.select(
            F.col(self.id_col).alias("query_id"),
            F.explode(tokenize(self.text_col)).alias("_t"),
        ).distinct()
        return bm25_rank_from_index(
            tf, dl, stats, dfreq, qt, k,
            self.k1_m, self.b_m, self.max_df_num, self.max_df_den,
        )
