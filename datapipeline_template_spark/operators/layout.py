"""Physical layout operators (reference R23/R24 analogs).

The reference relies on Databricks Liquid Clustering + Delta
data-skipping stats (`02_silver_processing.py:82-92`, `02:148`). On
OSS Spark with parquet tables, the equivalent levers are:

- **range-cluster the files** on the configured clustering columns:
  ``repartitionByRange(cols).sortWithinPartitions(cols)`` before the
  write. Each output file then covers a narrow range of the cluster
  key, so parquet row-group min/max stats (always collected) give the
  same file/row-group skipping Liquid Clustering buys — any engine
  reading the table prunes on the footer stats.
- **file sizing**: range partitioning also fixes the small-file
  problem the reference addresses with optimizeWrite/autoCompact.

At 100 TB: repartitionByRange samples the key distribution, so skewed
keys still yield balanced files; the shuffle it introduces replaces —
not adds to — the write's round-robin shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "cluster_for_layout",
    "zorder_for_layout",
    "clear_stale_managed_location",
    "write_bucketed",
    "bucketed_fact_join",
]


def clear_stale_managed_location(
    spark, name: str, database: bool = False
) -> None:
    """Drop a managed table (or database) AND remove its orphaned
    warehouse directory — the cross-process hygiene every managed-table
    writer needs before ``saveAsTable``.

    A managed table written by ANOTHER process leaves its warehouse
    directory on the local filesystem while this process's (fresh,
    Derby) catalog has never heard of it; ``DROP TABLE IF EXISTS``
    then no-ops and the subsequent write dies LOCATION_ALREADY_EXISTS.
    This is the ONE implementation of that cleanup (write_bucketed and
    pipe21's fixture databases route here) so the path derivation —
    default-database tables at ``<warehouse>/<tbl>``, qualified ones at
    ``<warehouse>/<db>.db/<tbl>``, databases at ``<warehouse>/<db>.db``
    — lives in exactly one place.

    The cleanup removes a directory on disk, so anything path-like in
    ``name`` would delete the wrong directory: every dot-separated part
    must be non-empty alphanumeric/underscore or the call refuses.
    """
    import os
    import shutil

    parts = name.split(".")
    max_parts = 1 if database else 2
    if not (1 <= len(parts) <= max_parts) or not all(
        p and p.replace("_", "").isalnum() for p in parts
    ):
        raise ValueError(
            f"unsafe {'database' if database else 'table'} name {name!r} — "
            "managed-location cleanup handles simple alnum/underscore "
            f"names only ({'db' if database else 'tbl or db.tbl'})"
        )
    if database:
        spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")
        rel = f"{parts[0].lower()}.db"
    else:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        rel = (
            parts[0].lower()
            if len(parts) == 1
            else os.path.join(f"{parts[0].lower()}.db", parts[1].lower())
        )
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    stale = os.path.join(wh.removeprefix("file:"), rel)
    if os.path.isdir(stale):
        shutil.rmtree(stale)


def cluster_for_layout(
    df: DataFrame, cluster_cols: list[str] | None, num_files: int | None = None
) -> DataFrame:
    """Range-partition + sort so data files are clustered on
    ``cluster_cols`` (data-skipping layout). No-op without columns."""
    if not cluster_cols:
        return df
    cols = [c for c in cluster_cols if c in df.columns]
    if not cols:
        return df
    if num_files:
        out = df.repartitionByRange(num_files, *cols)
    else:
        out = df.repartitionByRange(*cols)
    return out.sortWithinPartitions(*cols)


def zorder_for_layout(
    df: DataFrame,
    cols: list[str],
    bits: int = 8,
    num_files: int | None = None,
) -> DataFrame:
    """Z-order (Morton-curve) clustering across MULTIPLE numeric
    columns — the true Liquid-Clustering analog when queries filter on
    more than one dimension.

    Lexicographic range clustering (``cluster_for_layout``) makes file
    min/max stats tight on the FIRST column only; a filter on the
    second column still touches every file. Z-ordering interleaves the
    bit patterns of per-column quantile buckets, so every file covers
    a small hyper-rectangle: filters on ANY of the z-columns prune
    files (verified in tests: per-file range width shrinks on the
    second column vs lexicographic layout).

    Mechanics: each column is min-max scaled to a ``bits``-bit bucket
    (driver fetches 2·|cols| aggregates — one tiny job), buckets are
    bit-interleaved into the Morton code with shiftleft/or (pure
    codegen), and files are range-partitioned + sorted on the code.
    Scale: the only data movement is the same single range shuffle the
    lexicographic layout pays.
    """
    unknown = [c for c in cols if c not in df.columns]
    if unknown:
        # A typo must not silently degrade the layout to fewer-column
        # clustering — files would look fine and skip nothing.
        raise ValueError(f"zorder_for_layout: unknown column(s) {unknown}; have {df.columns}")
    if len(cols) < 2:
        return cluster_for_layout(df, cols, num_files)
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
    stats = df.agg(*aggs).collect()[0]
    n_buckets = 1 << bits

    def bucket(c: str) -> Column:
        # Empty input or an all-NULL column has no range: every row
        # (there may be none) lands in bucket 0 instead of a TypeError
        # on float(None).
        if stats[f"_min_{c}"] is None or stats[f"_max_{c}"] is None:
            return F.lit(0).cast("long")
        lo, hi = float(stats[f"_min_{c}"]), float(stats[f"_max_{c}"])
        span = (hi - lo) or 1.0
        scaled = (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * F.lit(n_buckets)
        return F.least(F.floor(scaled).cast("long"), F.lit(n_buckets - 1))

    z: Column = F.lit(0).cast("long")
    bucketed = [bucket(c) for c in cols]
    for j in range(bits):
        for i, b in enumerate(bucketed):
            bit = F.shiftright(b, j).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, j * len(cols) + i))
    out = df.withColumn("_zorder", z)
    out = (
        out.repartitionByRange(num_files, "_zorder")
        if num_files
        else out.repartitionByRange("_zorder")
    )
    return out.sortWithinPartitions("_zorder").drop("_zorder")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist a table hash-bucketed (and optionally sorted) on its
    join key — the co-located-join layout for repeated big joins.

    Two tables bucketed on the same key with the same bucket count
    join WITHOUT any Exchange: every bucket pair is already
    co-partitioned, so a 100 TB fact-fact join skips its dominant
    shuffle entirely (verified by plan inspection in tests). This is
    the OSS equivalent of pre-clustering both sides of a recurring
    join — pay one shuffle at write time, amortized over every
    subsequent join.

    The write repartitions to exactly ``n_buckets`` partitions on the
    bucket columns first: Spark's bucket id uses the same Murmur3 hash
    as ``repartition(n, col)``, so every task holds exactly its own
    bucket's rows and writes ONE file per bucket. One sorted file per
    bucket is what lets the subsequent sort-merge join skip the Sort
    as well as the Exchange — many files per bucket would force a
    per-task merge sort at read time.
    """
    spark = df.sparkSession
    # Name validation + catalog drop + orphaned-location cleanup —
    # the shared implementation (also guards against path-like names).
    clear_stale_managed_location(spark, table_name)
    df = df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def bucketed_fact_join(
    spark,
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    table_prefix: str,
    n_buckets: int = 8,
) -> DataFrame:
    """Fact-fact equi-join through pre-bucketed storage: land both
    sides as hash-bucketed, per-bucket-sorted tables on their join
    keys, then sort-merge join the TABLES — ZERO Exchange on either
    side (plan-guarded in tests/test_plans.py and test_scale.py).
    The residual per-bucket Sort is partition-local, touches no
    network, and is itself elidable via the legacy bucketed-table-scan
    output-ordering conf (Spark 3+ stopped propagating sorted-bucket
    ordering by default — and tools/audit_confs.py is exactly why this
    engine does NOT set that version-fragile conf); the shuffle — the
    cost that dominates a 100 TB join — is gone either way. The ``merge`` hint pins the strategy the layout
    exists for; at toy scale the planner would otherwise broadcast
    the small side, and at 100 TB neither side broadcasts.

    This is the OSS analog of the reference's layout story
    (`02_silver_processing.py:148` Liquid Clustering) applied to JOIN
    locality rather than scan pruning: one shuffle paid at silver
    write time is amortized over every downstream join on the same
    key. Overwrite is idempotent, so replaying a silver refresh
    yields the same co-located layout.
    """
    lt, rt = f"{table_prefix}_l", f"{table_prefix}_r"
    write_bucketed(left, lt, [left_key], n_buckets=n_buckets, sort_cols=[left_key])
    write_bucketed(right, rt, [right_key], n_buckets=n_buckets, sort_cols=[right_key])
    # Qualified key references: the natural co-bucketed case joins two
    # tables bucketed on the SAME column name (e.g. user_id == user_id),
    # where unqualified F.col(key) on both sides is ambiguous.
    return (
        spark.table(lt)
        .alias("l")
        .hint("merge")
        .join(
            spark.table(rt).alias("r"),
            F.col(f"l.{left_key}") == F.col(f"r.{right_key}"),
        )
    )
