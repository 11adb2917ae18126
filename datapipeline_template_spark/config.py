"""Pipeline configuration (reference parity).

One JSON document declares N entities; per entity the reference
recognizes (`/root/reference/README.md:92-101`):

- ``raw_file_format``   — parquet|json|csv|avro, default parquet
  (`01_bronze_ingestion.py:75`)
- ``clustering_cols``   — physical clustering columns (`02:82`)
- ``skipping_indexes``  — data-skipping stats columns (`02:85-92`)
- ``unique_primary_key``— dedup key, default ["id"] (`02:98`)
- ``renamed_columns``   — declared but unimplemented in the reference
  (`README.md:100`); implemented here as {old: new}
- ``expect_all_or_drop``— {rule_name: SQL bool expr} (`02:94-95`)

Pipeline-level parameters (source_location, catalog, bronze_database,
silver_database, soft_deletes, deleted_file_retention_duration,
external_location) are the fields of ``PipelineParams``. The reference
reads the same keys from ``spark.conf`` (`00_config_loader.py:25-31`,
`sdp_pipeline.pipeline.yml:22-29`); here the CLI fills them from its
``run`` flags (``__main__``; a field without a flag keeps its default)
or a caller builds a ``PipelineParams`` in Python — the "params
dataclass" mapping of SURVEY.md's pipeline parameters.

The config file itself is read THROUGH Spark (``spark.read.text`` →
driver-side json.loads, `00_config_loader.py:36-40`) so the same code
path works for s3://, hdfs://, or local paths.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

__all__ = ["EntityConfig", "PipelineParams", "load_config"]


@dataclass
class EntityConfig:
    name: str
    raw_file_format: str = "parquet"
    clustering_cols: list[str] = field(default_factory=list)
    skipping_indexes: list[str] = field(default_factory=list)
    unique_primary_key: list[str] = field(default_factory=lambda: ["id"])
    renamed_columns: dict[str, str] = field(default_factory=dict)
    expect_all_or_drop: dict[str, str] = field(default_factory=dict)
    # Engine extension: dedup ordering (the reference hard-codes
    # _ingested_at DESC at 02_silver_processing.py:120-126); a unique
    # tiebreaker can be appended for deterministic ties.
    dedup_order_columns: list[str] = field(default_factory=lambda: ["_ingested_at"])
    # Engine extensions (r11 verdict #2): the round-11 scale patterns,
    # askable from config rather than code.
    # bucket_by: silver lands as a hash-bucketed, per-bucket-sorted
    # table on these columns (operators/layout.py write_bucketed) —
    # every downstream equi-join between co-bucketed silvers runs with
    # ZERO Exchange. n_buckets=0 means "use the Pipeline default".
    bucket_by: list[str] = field(default_factory=list)
    n_buckets: int = 0
    # skew_hardened: silver dedup via the two-phase salted keep-latest
    # (operators/dedup.py keep_latest_salted) for feeds with degenerate
    # hot keys; observably identical silver (E2E-tested).
    skew_hardened: bool = False

    @classmethod
    def from_dict(cls, name: str, raw: dict) -> "EntityConfig":
        return cls(
            name=name,
            raw_file_format=raw.get("raw_file_format", "parquet"),
            clustering_cols=list(raw.get("clustering_cols", [])),
            skipping_indexes=list(raw.get("skipping_indexes", [])),
            unique_primary_key=list(raw.get("unique_primary_key", ["id"])),
            renamed_columns=dict(raw.get("renamed_columns", {}) or {}),
            expect_all_or_drop=dict(raw.get("expect_all_or_drop", {}) or {}),
            dedup_order_columns=list(raw.get("dedup_order_columns", ["_ingested_at"])),
            bucket_by=list(raw.get("bucket_by") or []),
            n_buckets=int(raw.get("n_buckets") or 0),
            skew_hardened=bool(raw.get("skew_hardened") or False),
        )


@dataclass
class PipelineParams:
    source_location: str
    catalog: str = "engine"
    bronze_database: str = "bronze"
    silver_database: str = "silver"
    soft_deletes: str = "N"
    deleted_file_retention_duration: str = "interval 14 days"
    external_location: str = ""
    config_file_name: str = "dp_config_template.json"

    @property
    def bronze_db(self) -> str:
        # Flatten the reference's 3-level {catalog}.{db} namespace to
        # Spark's 2-level one (SURVEY.md §1.4).
        return f"{self.catalog}_{self.bronze_database}"

    @property
    def silver_db(self) -> str:
        return f"{self.catalog}_{self.silver_database}"


def load_config(spark: SparkSession, config_path: str) -> list[EntityConfig]:
    """Load the entity config JSON through Spark (works on any Hadoop
    FS — the reference's S3 trick, `00_config_loader.py:36-40`)."""
    lines = spark.read.text(config_path).collect()
    doc = json.loads("".join(row[0] for row in lines))
    return [EntityConfig.from_dict(name, raw or {}) for name, raw in doc.items()]
