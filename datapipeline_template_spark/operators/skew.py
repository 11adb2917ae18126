"""Skew-mitigation operators (SURVEY.md §7.3 "hard parts").

The reference delegates every physical concern to the Databricks
runtime (`/root/reference/resources/sdp_pipeline.pipeline.yml:34`
`photon: true`; no skew handling anywhere in `src/`). This engine's
first line of defense is the same delegation — AQE skew-join splitting
is on by default (session.DEFAULT_CONFS) and covers sort-merge joins.

What AQE does NOT cover, this operator does:

* ``two_phase_distinct`` — exact COUNT(DISTINCT v) per key when a few
  keys own most of the distinct values. The single-key shuffle routes
  every (hot key) row to one reducer; the two-phase form first
  deduplicates on (key, v) — hash partitioning on BOTH columns spreads
  the hot key across the cluster — then counts per key, so no reducer
  ever sees more than the deduplicated row set. This is the classic
  rewrite Catalyst itself applies for a single COUNT(DISTINCT); the
  operator exists for pipelines that need the intermediate (e.g. to
  cache the deduplicated pair set across several downstream aggs).

It is a pure DataFrame rewrite — the optimizer still sees everything,
and results are bit-identical to the single-phase form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["two_phase_distinct"]


def two_phase_distinct(
    df: DataFrame, keys: list[str], value_col: str, out_col: str = "n_distinct"
) -> DataFrame:
    """Exact per-key distinct count that survives hot keys.

    Phase 1 shuffles on (keys..., value) — the hot key's rows spread
    over the full cluster and collapse to unique pairs with map-side
    combine. Phase 2 counts pairs per key; its input is at most one
    row per distinct value, already skew-bounded.

    NULL semantics match COUNT(DISTINCT) exactly: phase 2 counts the
    value column itself (count(col) skips NULLs), so a key's lone NULL
    pair contributes 0 — but the key row itself survives, including
    keys whose values are ALL null (count 0), just like SQL GROUP BY.
    A count(lit(1)) here would be off by one per key with any NULL
    value; a pre-filter on non-null would drop all-null keys entirely.
    """
    pairs = df.select(*keys, value_col).dropDuplicates([*keys, value_col])
    return pairs.groupBy(*keys).agg(F.count(F.col(value_col)).alias(out_col))
