"""Incremental silver maintenance — the 100 TB scale path (SURVEY §7.3).

The reference's silver is a full recompute per run
(`/root/reference/src/sdp_etl/transformations/02_silver_processing.py:115-150`):
every update re-shuffles the ENTIRE bronze table through the dedup
window. At 100 TB with a <1% daily delta that's ~100× wasted work.

This module maintains silver **partitioned by a stable hash bucket of
the primary key** and rewrites only buckets containing changed keys —
a MERGE INTO equivalent built from parquet + dynamic partition
overwrite (no Delta required):

1. delta   = bronze rows with ingest watermark ≥ last high-water mark
2. buckets = distinct pmod(hash(pk), n_buckets) among delta rows
3. cand    = delta ∪ (current silver ∩ those buckets)
4. rebuilt = keep-latest dedup → CDC delete filter → expectations
5. dynamic-partition-overwrite of just those buckets

Correctness: silver rows are already the per-key latest, so
keep-latest over (silver ∪ delta) equals keep-latest over the full
bronze history — verified against the full recompute in tests,
including late deletes and expectation-failing updates. The watermark
is strictly-greater: ``_ingested_at`` is stamped per ingestion run
(`F.current_timestamp()` is a per-query constant), so every row at the
stored boundary was processed by the run that produced it; and even if
a boundary row were reprocessed, dedup idempotence makes it harmless.
CONTRACT: rows must enter bronze through the engine (which stamps
``_ingested_at``); out-of-band bronze writes with back-dated
timestamps are invisible to the watermark — run a full refresh after
any manual backfill.

Scale properties: the shuffle touches |delta| + |silver ∩ affected
buckets| rows ≈ delta × (table/bucket density), not the full table;
bucket count trades rewrite granularity against small files (pick
buckets ≈ table_size / target_partition_size). The bucket column also
co-locates every future per-key operation (joins against silver on the
pk can pre-partition on the same bucket function).

Granularity caveat (measured in bench.py's incremental-silver
scenario): the rewrite unit is the BUCKET, and uniform hashing maps k
distinct delta keys onto ~n_buckets·(1-exp(-k/n_buckets)) buckets —
a key-UNIFORM delta with k ≳ n_buckets touches nearly every bucket
and the incremental path degrades to a slower full recompute. The
win case is few-key deltas (hot entities, late corrections); for
key-uniform bulk backfills either raise n_buckets (more, smaller
rewrite units) or run a full refresh.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import EntityConfig, PipelineParams
from ..operators.cdc import drop_soft_deleted
from ..operators.dedup import keep_latest
from ..operators.expectations import expect_all_or_drop
from ..operators.projection import apply_renames
from ..streaming.store import read_json, write_json

__all__ = ["IncrementalSilver", "BUCKET_COL"]

BUCKET_COL = "_pk_bucket"


class IncrementalSilver:
    def __init__(
        self,
        spark: SparkSession,
        params: PipelineParams,
        entity: EntityConfig,
        n_buckets: int = 64,
        state_dir: str | None = None,
    ) -> None:
        self.spark = spark
        self.params = params
        self.entity = entity
        self.n_buckets = n_buckets
        self.state_dir = state_dir or os.path.join(
            params.source_location, "_incremental", entity.name
        )
        self.bronze_fqn = f"{params.bronze_db}.bronze_{entity.name}"
        self.silver_fqn = f"{params.silver_db}.silver_{entity.name}"

    # -- watermark state --------------------------------------------------
    def _hwm_path(self) -> str:
        return os.path.join(self.state_dir, "high_water_mark.json")

    def _load_hwm(self) -> str | None:
        try:
            return read_json(self._hwm_path())["high_water_mark"]
        except (OSError, KeyError, ValueError):
            return None

    def _store_hwm(self, value: str) -> None:
        os.makedirs(self.state_dir, exist_ok=True)
        write_json(self._hwm_path(), {"high_water_mark": value})

    # -- key plumbing ------------------------------------------------------
    def _renamed(self, names: list[str]) -> list[str]:
        r = self.entity.renamed_columns or {}
        return [r.get(n, n) for n in names]

    def _bucket_expr(self, pk_cols: list[str]):
        return F.pmod(F.hash(*[F.col(c) for c in pk_cols]), F.lit(self.n_buckets)).cast("int")

    def _curate(self, cand: DataFrame, pk_cols: list[str], order_cols: list[str]) -> DataFrame:
        out = keep_latest(cand, pk_cols, order_cols)
        if self.params.soft_deletes.upper() != "Y":
            out = drop_soft_deleted(out)
        return expect_all_or_drop(out, self.entity.expect_all_or_drop)

    def _drop_buckets(self, buckets: list[int]) -> None:
        """Remove now-empty bucket partitions: catalog-level DROP
        PARTITION where supported, plus the partition directory itself
        (parquet tables discover partitions from files)."""
        import shutil

        for b in buckets:
            try:
                self.spark.sql(
                    f"ALTER TABLE {self.silver_fqn} DROP IF EXISTS "
                    f"PARTITION ({BUCKET_COL}={b})"
                )
            except Exception:
                pass
        try:
            desc = self.spark.sql(f"DESCRIBE TABLE EXTENDED {self.silver_fqn}")
            loc = desc.where("col_name = 'Location'").collect()[0]["data_type"]
            base = loc.removeprefix("file:")
            for b in buckets:
                shutil.rmtree(os.path.join(base, f"{BUCKET_COL}={b}"), ignore_errors=True)
        except Exception:
            pass
        self.spark.sql(f"REFRESH TABLE {self.silver_fqn}")

    # -- update ------------------------------------------------------------
    def run(self, watermark_col: str = "_ingested_at") -> dict:
        """One incremental update. Returns stats:
        {new_rows, buckets_rewritten, mode}."""
        spark = self.spark
        bronze = spark.read.table(self.bronze_fqn)
        # Rename early so silver, delta and keys live in one namespace
        # (the reference's renamed_columns contract; pk/order columns
        # are mapped through the rename).
        bronze = apply_renames(bronze, self.entity.renamed_columns)
        pk_cols = self._renamed(self.entity.unique_primary_key)
        wm_col = self._renamed([watermark_col])[0]
        order_cols = self._renamed(list(self.entity.dedup_order_columns))
        for tb in ("_file_modification_time", "_source_file"):
            if tb in bronze.columns and tb not in order_cols:
                order_cols.append(tb)

        hwm = self._load_hwm()
        table_exists = spark.catalog.tableExists(self.silver_fqn)

        if hwm is None or not table_exists:
            # Bootstrap: full build, bucket-partitioned.
            full = bronze.withColumn(BUCKET_COL, self._bucket_expr(pk_cols))
            rebuilt = self._curate(full, pk_cols, order_cols)
            (
                rebuilt.write.mode("overwrite")
                .format("parquet")
                .partitionBy(BUCKET_COL)
                .saveAsTable(self.silver_fqn)
            )
            stats = {"new_rows": bronze.count(), "buckets_rewritten": self.n_buckets,
                     "mode": "bootstrap"}
        else:
            delta = bronze.where(F.col(wm_col) > F.lit(hwm).cast("timestamp"))
            delta = delta.withColumn(BUCKET_COL, self._bucket_expr(pk_cols))
            # ONE job for both the row count and the affected-bucket
            # list (a separate count() + distinct().collect() doubled
            # the delta scan — job-launch overhead dominates small
            # deltas, the common case this path exists for).
            bucket_counts = delta.groupBy(BUCKET_COL).count().collect()
            n_new = int(sum(r["count"] for r in bucket_counts))
            if n_new == 0:
                return {"new_rows": 0, "buckets_rewritten": 0, "mode": "noop"}
            buckets = [r[BUCKET_COL] for r in bucket_counts]
            silver = spark.read.table(self.silver_fqn)
            cand = silver.where(F.col(BUCKET_COL).isin(buckets)).unionByName(
                delta, allowMissingColumns=True
            )
            rebuilt = self._curate(cand, pk_cols, order_cols)
            # insertInto (NOT saveAsTable): with dynamic partition
            # overwrite, only the partitions present in `rebuilt` are
            # replaced; saveAsTable(overwrite) would drop the whole
            # table, untouched buckets included. insertInto is
            # positional — align to the table's column order.
            table_cols = spark.read.table(self.silver_fqn).columns
            # Dynamic overwrite only touches partitions PRESENT in the
            # written data — a delete that empties a bucket leaves the
            # stale partition behind. The present-bucket probe costs a
            # SECOND pass through curation, so it runs only when
            # curation can actually drop rows (soft-delete filter
            # active on a CDC source, or expectations configured);
            # keep-latest alone can never empty a bucket that delta
            # rows land in.
            curation_can_drop = bool(self.entity.expect_all_or_drop) or (
                self.params.soft_deletes.upper() != "Y" and "op" in cand.columns
            )
            if curation_can_drop:
                rebuilt = rebuilt.localCheckpoint(eager=True)
                present = {
                    r[0] for r in rebuilt.select(BUCKET_COL).distinct().collect()
                }
            # Dynamic overwrite as a TABLE setting, not a session conf:
            # flows share the session (and run concurrently), and
            # insertInto ignores the writer option of the same name.
            # Set on every run, so tables bootstrapped without it (or
            # rebuilt by a bootstrap) are covered.
            spark.sql(
                f"ALTER TABLE {self.silver_fqn} "
                "SET SERDEPROPERTIES ('partitionOverwriteMode'='dynamic')"
            )
            (
                rebuilt.select(*table_cols)
                .write.mode("overwrite")
                .insertInto(self.silver_fqn)
            )
            if curation_can_drop:
                emptied = [b for b in buckets if b not in present]
                if emptied:
                    self._drop_buckets(emptied)
            stats = {"new_rows": n_new, "buckets_rewritten": len(buckets),
                     "mode": "incremental"}

        new_hwm = bronze.agg(F.max(F.col(wm_col)).alias("m")).collect()[0]["m"]
        if new_hwm is not None:
            self._store_hwm(str(new_hwm))
        return stats
