"""Test-table catalog: lazy access to the driver-generated parquet.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table under
``{sf_dir}/{name}.parquet``.

All access is via ``spark.read.parquet`` so Catalyst sees a plain file
relation: predicate pushdown, column pruning and partition pruning all
apply (verify with ``df.explain()`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

__all__ = ["TABLES", "table", "register_views"]

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table as a DataFrame (plain parquet scan).

    ``events.ts`` is physically TIMESTAMP(NANOS). How Spark surfaces it
    depends on the version, so we branch on the ACTUAL dtype rather than
    a version string or a conf:

    - Spark 3.x honors ``spark.sql.legacy.parquet.nanosAsLong`` → ``ts``
      arrives as ``LongType`` nanos; truncate to micros with exact
      integer division (no double rounding — ns values exceed 2^53).
    - Spark 4.x ignores that conf and reads nanos natively as
      ``TIMESTAMP_NTZ``, already truncated to micros with values
      byte-identical to DuckDB's ns→µs truncation; convert by pure
      wall-clock arithmetic (micros since the NTZ epoch →
      ``timestamp_micros``), NOT a bare ``cast("timestamp")`` — the
      cast's meaning depends on the session timezone at analysis
      time, so a caller flipping the tz after ``table()`` returns
      would silently shift every timestamp.
    - A plain ``TimestampType`` passes through untouched.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Defensive: queries may run in a caller-owned SparkSession (the
    # round driver builds its own); pin the confs correctness depends
    # on. Session timezone decides the wall-clock of collected
    # timestamps — anything but UTC breaks oracle comparison.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        # Keep setting the legacy conf: on Spark 3 it is what makes the
        # nanos file readable at all; on Spark 4 it is a no-op.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        if isinstance(ts_type, TimestampNTZType):
            return df.withColumn(
                "ts",
                F.expr(
                    "timestamp_micros(timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts))"
                ),
            )
        return df
    return spark.read.parquet(path)


def register_views(
    spark: SparkSession, sf_dir: str, only: tuple[str, ...] | None = None
) -> None:
    """Register catalog tables as temp views for spark.sql use.

    ``only`` restricts registration to the tables a query actually
    references. Without it, a per-table failure is downgraded to a loud
    warning so one unreadable table cannot poison unrelated queries
    (round-3 lesson: a broken ``events`` read killed a GROUPING SETS
    query over ``orders``).
    """
    names = TABLES if only is None else only
    for name in names:
        try:
            table(spark, sf_dir, name).createOrReplaceTempView(name)
        except Exception as exc:  # noqa: BLE001 - isolate per-table failures
            if only is not None:
                raise
            import sys

            # Drop any stale view of the same name: a leftover view
            # from an earlier sf_dir would otherwise keep resolving
            # and silently serve the WRONG data after this skip.
            try:
                spark.catalog.dropTempView(name)
            except Exception:  # noqa: BLE001
                pass
            print(
                f"register_views: skipping table {name!r}: {exc}",
                file=sys.stderr,
            )
