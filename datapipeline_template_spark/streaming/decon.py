"""Streaming decontamination maintenance — the incremental form of
dd07/dd10's eval-overlap gate (queries/dedup.py).

Contract mirrors the FAISS-style frozen-artifact split the other
maintainers use (streaming/ivfpq.py, streaming/curation.py): the EVAL
shingle set is FROZEN at construction (benchmarks change rarely, and a
changed benchmark invalidates every prior flag — that is a rebuild,
not an increment), while the corpus GROWS. Each micro-batch of new
documents is shingled once and probed against the frozen eval set;
its (doc_id, n_shared) flags land in a ``_batch=<id>`` partition.
Documents sharing nothing are absent — the dd07 convention. After any
number of drains the maintained flags equal the batch
``decontaminate_flags`` over every document seen (equivalence-tested),
because per-document overlap counts depend only on the document and
the frozen eval set — no cross-batch state at all, which is what makes
decontamination the EASIEST stage to maintain and the one no growing
corpus has an excuse to skip.

The frozen eval set is written once at construction: a maintainer
pointed at an existing store must present the SAME eval fingerprint
or refuse — flags computed against two different eval sets must
never mix.

Scale: the eval set collapses to its distinct shingle hashes and
BROADCASTS (benchmarks are tiny against a 100 TB corpus — the dd07
story); each batch is map-only explode + hash probe + one per-doc
count. k is a constructor parameter (default 5, dd10's GPT-3-style
width — see pipe15 for why 3-gram gates false-positive on real text).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import BatchStore

__all__ = ["IncrementalDecon"]


class IncrementalDecon(BatchStore):
    """Maintains per-document eval-overlap flags for a growing corpus
    against a FROZEN eval set, one micro-batch at a time."""

    def __init__(
        self,
        store_path: str,
        eval_docs: DataFrame | None = None,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 5,
    ) -> None:
        self.store_path = store_path
        self.id_col = id_col
        self.text_col = text_col
        self.k = k
        self._eval_path = self._path("eval_shingles")
        self._flags_path = self._path("flags")
        pinned = os.path.exists(self._path("eval_meta.json"))
        if eval_docs is None:
            if not pinned:
                raise ValueError(
                    "new IncrementalDecon store needs eval_docs — the "
                    "frozen benchmark the gate protects"
                )
            return
        ev = self._shingle(eval_docs).select(
            F.explode(F.col("_sh")).alias("g")
        ).distinct()
        if not pinned:
            # The eval set lands before the pin: the pin is the commit.
            ev.write.mode("overwrite").parquet(self._eval_path)
        self._pin(
            "eval_meta.json",
            {"k": k, "fingerprint": self._fingerprint(ev)},
            "decontamination flags from different eval sets or shingle "
            "widths must never mix; use a fresh store to re-gate against "
            "a new benchmark",
        )

    # -- shingles ------------------------------------------------------------

    def _shingle(self, docs: DataFrame) -> DataFrame:
        """(id, _sh): the dd03/dd10 shingle spec at width k."""
        from ..operators.dedup import shingle_tokens
        from ..operators.text import tokenize

        return docs.select(
            F.col(self.id_col),
            shingle_tokens(tokenize(self.text_col), k=self.k).alias("_sh"),
        )

    @staticmethod
    def _fingerprint(ev: DataFrame) -> str:
        """Order-insensitive fingerprint of the eval shingle set
        (count + sum of hashes — collisions would need a crafted
        adversary, fine for a config-mismatch guard)."""
        row = ev.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("g").alias("s"),
        ).collect()[0]
        return f"{row['n']}:{row['s']}"

    def _land(self, batch: DataFrame, batch_id: int) -> None:
        """Shingle the batch, probe the frozen eval set, land the
        touching documents' flags."""
        from ..operators.dedup import decontaminate_flags

        ev = batch.sparkSession.read.parquet(self._eval_path).select(
            F.array(F.col("g")).alias("_sh")
        )
        flags = decontaminate_flags(
            self._shingle(batch), ev, self.id_col, "_sh"
        )
        self._write(flags, self._flags_path, batch_id)

    # -- reads -------------------------------------------------------------

    def flags(self, spark: SparkSession) -> DataFrame:
        """All maintained (id, n_shared) rows — every drained document
        sharing ≥ 1 eval shingle, exactly the batch
        ``decontaminate_flags`` output over all documents seen. Ids
        read as ``bigint``, the engine's id convention."""
        return self._read_batches(
            spark, self._flags_path, f"{self.id_col} bigint, n_shared bigint"
        )
