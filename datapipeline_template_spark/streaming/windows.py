"""Event-time window operators for streams and batches (X8).

These builders return transformed (streaming or batch) DataFrames —
`F.window` / `F.session_window` work identically on both, which is how
the batch oracle queries validate the same expressions the streams run.

Watermark guidance at scale: the watermark bounds state size — without
it a streaming agg's state grows forever. `delay` should cover the
P99.9 event lateness of the feed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "tumbling_counts",
    "sliding_counts",
    "session_stats",
]


def tumbling_counts(
    df: DataFrame, ts_col: str, key_col: str, width: str = "10 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling-window counts per key. On a stream, pass a watermark
    to bound state and enable append-mode emission."""
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), width).alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n",
        )
    )


def sliding_counts(
    df: DataFrame, ts_col: str, key_col: str,
    width: str = "10 minutes", slide: str = "5 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Sliding (hopping) windows: each event lands in width/slide
    windows; Spark expands via an internal generate — no self-join."""
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(F.col(ts_col), width, slide).alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n",
        )
    )


def session_stats(
    df: DataFrame, ts_col: str, key_col: str, gap: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Session windows (gap-merged). Streaming requires a watermark;
    batch runs as-is — the same gap semantics as the batch
    sessionization query (w08), letting the oracle validate it."""
    if watermark and df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap).alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            key_col,
            "n_events",
        )
    )
