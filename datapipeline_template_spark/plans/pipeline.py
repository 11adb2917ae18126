"""The medallion pipeline: config → bronze → silver → active views.

End-to-end rebuild of the reference's dataflow
(SURVEY.md §3): per entity,

bronze  = stream-or-batch file scan → int widening → audit columns
          (`01_bronze_ingestion.py:100-121`)
silver  = bronze scan → keep-latest dedup on the configured pk →
          optional soft-delete drop → renames → expectations →
          clustered write (`02_silver_processing.py:115-150`)
views   = `_active` view per entity filtering op != 'D' when
          soft_deletes == 'Y' (`03_active_views.py:39-64`)

Storage: managed parquet tables in `{catalog}_{bronze|silver}`
databases (2-level namespace; Delta-specific knobs from the reference
— optimizeWrite, autoCompact, retention — are replaced by the layout
operator + table properties recorded for parity).

Scale notes:
- bronze is a narrow per-file map pipeline — no shuffle.
- silver's only shuffle is the dedup aggregate; `keep_latest` uses
  max_by partial aggregation so CDC duplicates collapse map-side.
- full_refresh drops checkpoints + tables and rebuilds (R22,
  `sdp_job.job.yml:10`).
- each entity's bronze → silver chain is independent of the others',
  so `run` schedules the flows on up to `defaultParallelism` driver
  threads (`Dag.run`): silver starts once its own bronze returns, and
  the `_active` views run last. Flows share one session, so none may
  set a session conf. One run still owns each checkpoint: two
  concurrent `run`s over the same checkpoint root are not supported.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..config import EntityConfig, PipelineParams
from ..operators.cdc import create_active_view, drop_soft_deleted
from ..operators.dedup import keep_latest
from ..operators.expectations import expect_all_or_drop
from ..operators.layout import cluster_for_layout
from ..operators.projection import add_audit_columns, apply_renames, upcast_int_to_bigint
from ..sources.batch import read_batch
from ..sources.stream import load_or_infer_schema, read_stream, run_available_now
from .dag import Dag, Dataset

__all__ = ["Pipeline"]


class Pipeline:
    """Config-driven multi-entity medallion pipeline."""

    def __init__(
        self,
        spark: SparkSession,
        params: PipelineParams,
        entities: list[EntityConfig],
        checkpoint_root: str | None = None,
        streaming: bool = True,
        silver_mode: str = "full",
        n_buckets: int = 64,
        snapshot_root: str | None = None,
    ) -> None:
        if silver_mode not in ("full", "incremental"):
            raise ValueError(f"silver_mode must be 'full' or 'incremental', got {silver_mode!r}")
        self.spark = spark
        self.params = params
        self.entities = entities
        self.streaming = streaming
        # "full" = the reference's materialized-view recompute (R8);
        # "incremental" = bucketed delta maintenance (plans/incremental,
        # the 100 TB path). Same observable silver contents.
        self.silver_mode = silver_mode
        self.n_buckets = n_buckets
        self.checkpoint_root = checkpoint_root or os.path.join(
            params.source_location, "_checkpoints"
        )
        # Optional Delta-runtime parity (reference: every table is a
        # versioned Delta table with retention-gated VACUUM,
        # `databricks.yml:19-21`): when set, each full silver run ALSO
        # commits its result to a snapshot table under
        # `{snapshot_root}/{entity}`, giving run-over-run time travel,
        # history, and retention VACUUM. Local-mode trade: the data is
        # written twice (catalog table + snapshot); at cluster scale
        # the snapshot would be the primary and the catalog table a
        # pointer to its current version.
        self.snapshot_root = snapshot_root

    # -- naming (reference: bronze_{entity} / silver_{entity}) -----------
    def bronze_table(self, entity: str) -> str:
        return f"{self.params.bronze_db}.bronze_{entity}"

    def silver_table(self, entity: str) -> str:
        return f"{self.params.silver_db}.silver_{entity}"

    def _entity_source(self, entity: EntityConfig) -> str:
        return os.path.join(self.params.source_location, entity.name)

    def _checkpoint(self, entity: EntityConfig) -> str:
        return os.path.join(self.checkpoint_root, entity.name)

    def _external_path(self, layer: str, entity: str) -> str | None:
        """R9: external-table placement — data at
        `{external_location}/{bronze|silver}/{entity}/` when the
        parameter is set, managed otherwise
        (`01_bronze_ingestion.py:85-90`, `02_silver_processing.py:104-108`)."""
        if not self.params.external_location:
            return None
        return os.path.join(self.params.external_location, layer, entity)

    # -- bronze -----------------------------------------------------------
    def bronze_transform(self, df: DataFrame, has_file_metadata: bool = True) -> DataFrame:
        """Widening + audit columns — the reference's whole bronze
        transformation (`01:110-121`)."""
        return add_audit_columns(upcast_int_to_bigint(df), has_file_metadata)

    def build_bronze(self, entity: EntityConfig) -> None:
        src = self._entity_source(entity)
        fqn = self.bronze_table(entity.name)
        if self.streaming:
            ckpt = self._checkpoint(entity)
            schema = load_or_infer_schema(self.spark, entity.raw_file_format, src, ckpt)
            raw = read_stream(self.spark, entity.raw_file_format, src, schema)
            df = self.bronze_transform(raw)
            self._evolve_table_schema(fqn, df.schema)
            if self.spark.catalog.tableExists(fqn):
                # Align column order with the (possibly evolved) table
                # schema — appends must not rely on positional luck.
                df = df.select(*self.spark.read.table(fqn).columns)
            query = run_available_now(df, ckpt, table_name=fqn)
            query.awaitTermination()
        else:
            raw = read_batch(self.spark, entity.raw_file_format, src)
            df = self.bronze_transform(raw)
            writer = df.write.mode("overwrite").format("parquet")
            ext = self._external_path("bronze", entity.name)
            if ext:
                writer = writer.option("path", ext)
            writer.saveAsTable(fqn)
        self._set_table_comment(
            fqn, f"Bronze raw ingestion for {entity.name} from {src}"
        )

    def _set_table_comment(self, fqn: str, comment: str) -> None:
        """Carry the reference's human-readable table comment onto the
        created table (01_bronze_ingestion.py:94,
        02_silver_processing.py:146) — Spark surfaces the ``comment``
        table property as the Comment row of DESCRIBE TABLE EXTENDED."""
        escaped = comment.replace("'", "''")
        self.spark.sql(
            f"ALTER TABLE {fqn} SET TBLPROPERTIES ('comment'='{escaped}')"
        )

    def _evolve_table_schema(self, fqn: str, stream_schema) -> None:
        """addNewColumns evolution on the SINK (R4): a parquet table's
        catalog schema is fixed at creation, so when the inferred
        source schema gains columns we ALTER TABLE ADD COLUMNS before
        the run; old files read NULL for the new fields (the same
        observable behavior as Auto Loader + Delta mergeSchema)."""
        if not self.spark.catalog.tableExists(fqn):
            return
        existing = {f.name for f in self.spark.read.table(fqn).schema.fields}
        new_fields = [f for f in stream_schema.fields if f.name not in existing]
        if new_fields:
            cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in new_fields)
            self.spark.sql(f"ALTER TABLE {fqn} ADD COLUMNS ({cols})")

    # -- silver -----------------------------------------------------------
    def silver_transform(self, bronze: DataFrame, entity: EntityConfig) -> DataFrame:
        """Dedup → CDC delete filter → renames → expectations; exactly
        the reference's silver flow order (`02:115-141`), with renames
        (declared-but-unimplemented there) actually applied."""
        order_cols = list(entity.dedup_order_columns)
        # Deterministic tie-break the reference lacks (SURVEY §7.3):
        # rows ingested in the same run share _ingested_at (it's a
        # per-query constant), so "latest" falls back to the source
        # file's modification time, then its path.
        for tiebreak in ("_file_modification_time", "_source_file"):
            if tiebreak in bronze.columns and tiebreak not in order_cols:
                order_cols.append(tiebreak)
        if entity.skew_hardened:
            # Config-requested hot-key hardening (r11 verdict #2): the
            # two-phase salted form bounds the largest dedup task at
            # ~|hot key| / n_salts; observably identical silver
            # (E2E parity test).
            from ..operators.dedup import keep_latest_salted

            df = keep_latest_salted(bronze, entity.unique_primary_key, order_cols)
        else:
            df = keep_latest(bronze, entity.unique_primary_key, order_cols)
        if self.params.soft_deletes.upper() != "Y":
            df = drop_soft_deleted(df)
        df = apply_renames(df, entity.renamed_columns)
        df = expect_all_or_drop(df, entity.expect_all_or_drop)
        return df

    def build_silver(self, entity: EntityConfig) -> None:
        if self.silver_mode == "incremental":
            from .incremental import IncrementalSilver

            IncrementalSilver(
                self.spark,
                self.params,
                entity,
                n_buckets=self.n_buckets,
                state_dir=os.path.join(self.checkpoint_root, entity.name, "_incremental"),
            ).run()
            self._set_table_comment(
                self.silver_table(entity.name),
                f"Silver deduplicated table for {entity.name}",
            )
            return
        bronze = self.spark.read.table(self.bronze_table(entity.name))
        df = self.silver_transform(bronze, entity)
        fqn = self.silver_table(entity.name)
        ext = self._external_path("silver", entity.name)
        if entity.bucket_by:
            # Config-requested join locality (r11 verdict #2): silver
            # lands hash-bucketed + per-bucket-sorted on the declared
            # key, so every equi-join between co-bucketed silvers skips
            # its Exchange (plan-pinned E2E test). Bucketing IS the
            # physical layout — clustering_cols would be overridden by
            # the bucket shuffle, so declaring both is refused rather
            # than silently half-applied.
            if entity.clustering_cols:
                raise ValueError(
                    f"{entity.name}: bucket_by and clustering_cols are "
                    "mutually exclusive layouts — pick one"
                )
            if ext:
                raise ValueError(
                    f"{entity.name}: bucket_by requires a managed table "
                    "(bucket metadata lives in the catalog); unset "
                    "external_location for this entity"
                )
            from ..operators.layout import write_bucketed

            write_bucketed(
                df,
                fqn,
                entity.bucket_by,
                n_buckets=entity.n_buckets or self.n_buckets,
                sort_cols=entity.bucket_by,
            )
        else:
            df = cluster_for_layout(df, entity.clustering_cols)
            writer = df.write.mode("overwrite").format("parquet")
            if ext:
                writer = writer.option("path", ext)
            writer.saveAsTable(fqn)
        # Parity with the reference's table properties (retention,
        # skipping columns) — recorded as TBLPROPERTIES for engines
        # that act on them; parquet footers already carry min/max.
        props = {
            "engine.dataSkippingStatsColumns": ",".join(entity.skipping_indexes),
            "engine.deletedFileRetentionDuration": self.params.deleted_file_retention_duration,
            # Reference comment parity (02_silver_processing.py:146).
            "comment": f"Silver deduplicated table for {entity.name}",
        }
        kv = ", ".join(f"'{k}'='{v}'" for k, v in props.items())
        self.spark.sql(f"ALTER TABLE {fqn} SET TBLPROPERTIES ({kv})")
        if self.snapshot_root:
            self.silver_snapshot(entity.name).write(
                self.spark.read.table(fqn), mode="overwrite"
            )

    # -- snapshot history (Delta-runtime parity) ----------------------------
    def silver_snapshot(self, entity: str):
        """The versioned snapshot table tracking this entity's silver
        runs (only with ``snapshot_root`` set)."""
        if not self.snapshot_root:
            raise ValueError("Pipeline was built without snapshot_root")
        from .snapshots import SnapshotTable

        return SnapshotTable(self.spark, os.path.join(self.snapshot_root, entity))

    def silver_as_of(self, entity: str, version: int) -> DataFrame:
        """Time travel: the silver contents as committed by run ``version``."""
        return self.silver_snapshot(entity).read(version=version)

    def vacuum_silver_history(self, entity: str, now_ms: int | None = None) -> list[str]:
        """Retention-gated VACUUM over the entity's silver history using
        the configured ``deleted_file_retention_duration`` — the
        reference's `delta.deletedFileRetentionDuration` behavior."""
        return self.silver_snapshot(entity).vacuum(
            self.params.deleted_file_retention_duration, now_ms=now_ms
        )

    # -- views --------------------------------------------------------------
    def build_views(self) -> list[str]:
        if self.params.soft_deletes.upper() != "Y":
            # Conditional no-op, like 03_active_views.py:15,39.
            return []
        return [
            create_active_view(self.spark, self.params.silver_db, e.name)
            for e in self.entities
        ]

    # -- orchestration ------------------------------------------------------
    def dag(self) -> Dag:
        dag = Dag()
        for e in self.entities:
            dag.add(
                Dataset(
                    name=self.bronze_table(e.name),
                    build=lambda e=e: self.build_bronze(e),
                    kind="stream" if self.streaming else "batch",
                )
            )
            dag.add(
                Dataset(
                    name=self.silver_table(e.name),
                    build=lambda e=e: self.build_silver(e),
                    deps=(self.bronze_table(e.name),),
                )
            )
        dag.add(
            Dataset(
                name=f"{self.params.silver_db}_active.views",
                build=self.build_views,
                deps=tuple(self.silver_table(e.name) for e in self.entities),
                kind="view",
            )
        )
        return dag

    def run(self, full_refresh: bool = False) -> None:
        for db in (self.params.bronze_db, self.params.silver_db):
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        if full_refresh:
            self._full_refresh()
        self.dag().run(workers=self.spark.sparkContext.defaultParallelism)

    def _full_refresh(self) -> None:
        """R22: drop checkpoints + tables, reprocess from scratch.

        External tables keep their data dir after DROP TABLE — delete
        it too, or the rebuilt streaming sink would append next to the
        stale files (duplicates)."""
        for e in self.entities:
            ckpt = self._checkpoint(e)
            if os.path.isdir(ckpt):
                shutil.rmtree(ckpt)
            for layer, fqn in (
                ("bronze", self.bronze_table(e.name)),
                ("silver", self.silver_table(e.name)),
            ):
                self.spark.sql(f"DROP TABLE IF EXISTS {fqn}")
                ext = self._external_path(layer, e.name)
                if ext and os.path.isdir(ext):
                    shutil.rmtree(ext)
