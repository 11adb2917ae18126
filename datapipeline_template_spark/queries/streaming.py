"""Streaming-operator queries (X8), validated in batch mode.

`F.window` / `F.session_window` evaluate identically over batch and
streaming DataFrames, so each query here runs the exact expression the
streaming module ships, on the static `events` table, where the DuckDB
oracle can replay it (tumbling = time_bucket; session = gap logic).
The genuinely-streaming execution paths (watermarks, AvailableNow)
are exercised in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..streaming.windows import session_stats, sliding_counts, tumbling_counts
from . import register

# ---------------------------------------------------------------------------
# st01 — tumbling windows
# ---------------------------------------------------------------------------

_ST01_ORACLE = """
SELECT CAST(time_bucket(INTERVAL 10 MINUTE, ts) AS TIMESTAMP) AS window_start,
       CAST(time_bucket(INTERVAL 10 MINUTE, ts) + INTERVAL 10 MINUTE AS TIMESTAMP) AS window_end,
       event_type,
       COUNT(*) AS n
FROM events
GROUP BY 1, 2, 3
"""


@register("st01_tumbling_counts", oracle=_ST01_ORACLE)
def st01_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling windows per event type — same expression the
    stream runs with a watermark."""
    ev = table(spark, sf_dir, "events")
    return tumbling_counts(ev, "ts", "event_type", width="10 minutes")


# ---------------------------------------------------------------------------
# st02 — sliding (hopping) windows
# ---------------------------------------------------------------------------

_ST02_ORACLE = """
WITH hops AS (
  SELECT event_type, ts,
         CAST(time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE * h AS TIMESTAMP)
           AS window_start
  FROM events, unnest(range(0, 2)) AS u(h)
)
SELECT window_start,
       CAST(window_start + INTERVAL 10 MINUTE AS TIMESTAMP) AS window_end,
       event_type, COUNT(*) AS n
FROM hops
WHERE ts >= window_start AND ts < window_start + INTERVAL 10 MINUTE
GROUP BY 1, 2, 3
"""


@register("st02_sliding_counts", oracle=_ST02_ORACLE)
def st02_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-min windows hopping every 5 min: each event lands in 2
    windows (Spark expands internally — no self-join)."""
    ev = table(spark, sf_dir, "events")
    return sliding_counts(ev, "ts", "event_type", width="10 minutes", slide="5 minutes")


# ---------------------------------------------------------------------------
# st03 — session windows (30-min gap)
# ---------------------------------------------------------------------------

_ST03_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts >= COALESCE(
                LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                ts - INTERVAL 100 HOUR) + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)
SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start, COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
"""


@register("st03_session_windows", oracle=_ST03_ORACLE)
def st03_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`F.session_window` gap-merge semantics (events < 30 min apart
    merge). Oracle replays it as LAG-gap + running-sum session ids —
    the classic SQL equivalent. NOTE Spark closes a session when the
    next event is >= gap after the PREVIOUS event; the oracle flags a
    new session with the same >= comparison."""
    ev = table(spark, sf_dir, "events")
    return session_stats(ev, "ts", "user_id", gap="30 minutes")


# ---------------------------------------------------------------------------
# st04 — streaming-store COMPACTION under the oracle gate: the answer
# flows through a twice-compacted IncrementalKmv store, so the DuckDB
# hash match proves compaction is read-invariant, not just test-pinned.
# Registered in OVERFLOW.
# ---------------------------------------------------------------------------

_ST04_K = 64


def _st04_oracle() -> str:
    """GENERATED from the operator constants (q43's fragments on the
    events feed): the maintained store's estimates equal the batch
    kmv_sketch/kmv_estimate over every row seen — drains, merges and
    BOTH compactions included — by the k-min-of-union identity."""
    from ..operators.sketch import KMV_A, KMV_B, KMV_C, KMV_P

    k, p = _ST04_K, KMV_P
    num = (k - 1) * p
    return f"""
WITH x AS (
  SELECT event_type,
         ((user_id % {p}) + {p}) % {p} AS x0
  FROM events WHERE user_id IS NOT NULL
), h AS (
  SELECT DISTINCT event_type,
    ( ((x0*x0) % {p}) * {KMV_A} % {p}
      + (x0 * {KMV_B}) % {p}
      + {KMV_C} ) % {p} AS h
  FROM x
), r AS (
  SELECT event_type, h,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         COUNT(*)    OVER (PARTITION BY event_type) AS nd
  FROM h
), s AS (
  SELECT event_type,
         MAX(nd) AS nd,
         MAX(CASE WHEN rn = {k} THEN h END) AS m_k
  FROM r WHERE rn <= {k} GROUP BY event_type
)
SELECT event_type,
       CAST(CASE WHEN nd < {k} THEN nd ELSE {num} // m_k END AS BIGINT)
         AS distinct_estimate
FROM s
ORDER BY event_type
"""


@register("st04_compacted_sketch_state", oracle=_st04_oracle())
def st04_compacted_sketch_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-state maintenance WITH COMPACTION, hash-checked end
    to end: three drains land per-batch KMV partials, the store is
    compacted (k-min-of-union merge fold into the base partition), a
    FOURTH drain lands beside the base, and the store is compacted
    AGAIN (base + new batch fold — the steady-state cadence a
    long-lived deployment runs). The returned per-event_type distinct
    estimates are read from the final compacted state; the oracle
    replays the BATCH sketch over all events — so the hash match is
    the driver-checked proof that compaction is invisible to readers
    (equivalence is otherwise only pytest-pinned). The store lives in
    a transient temp dir; the result is checkpointed off it before
    cleanup.

    Scale shape: each drain is one map-side-combined partial-sketch
    pass over its batch; each compaction is one bounded aggregation
    over O(groups × batches) k-long arrays — the raw feed is never
    rescanned. See streaming/compaction.py for the crash-safety
    contract (journaled two-phase swap, markers preserved)."""
    import os
    import shutil
    import tempfile

    from ..streaming.kmv import IncrementalKmv

    ev = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    root = tempfile.mkdtemp(prefix="st04_")
    try:
        inc = IncrementalKmv(
            os.path.join(root, "kmv"),
            group_col="event_type",
            value_col="user_id",
            k=_ST04_K,
        )
        for i in range(3):
            inc.process_batch(ev.where(F.col("event_id") % 4 == i), i)
        inc.compact(spark)
        inc.process_batch(ev.where(F.col("event_id") % 4 == 3), 3)
        inc.compact(spark)
        out = inc.estimates(spark).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out.orderBy("event_type")
