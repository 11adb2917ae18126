"""Streaming file source — the OSS replacement for Auto Loader.

Reference behavior (`01_bronze_ingestion.py:100-107`): incremental
discovery of new files under ``{source_location}/{entity}/``, format
per entity, inferred types, schema evolution ``addNewColumns``
(`01:104-105`), exactly-once via managed checkpoints (`01:17-20`).

OSS mapping:
- ``spark.readStream.format(fmt).schema(s).load(path)`` — the file
  source tracks processed files in the checkpoint (exactly-once).
- Schema inference: batch-infer from current files (sources.batch).
- Schema evolution: before each run, re-infer and diff against the
  stored schema; new columns widen the stream schema (existing rows
  read NULL) and the parquet sink merges schemas. This is the
  restart-on-evolution workaround for Auto Loader's
  ``addNewColumns`` (which also restarts the stream on new columns).
- Triggered execution: ``Trigger.AvailableNow`` processes all new
  files then stops — the reference's ``continuous: false``
  (`sdp_pipeline.pipeline.yml:32`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..streaming.store import read_json, write_json
from .batch import SUPPORTED_FORMATS, format_available, infer_schema

__all__ = ["read_stream", "evolve_schema", "run_available_now", "load_or_infer_schema"]


def _schema_store_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "_engine_schema.json")


def load_or_infer_schema(
    spark: SparkSession, fmt: str, path: str, checkpoint_dir: str
) -> T.StructType:
    """Load the entity's stream schema from the checkpoint's schema
    store, evolving it with newly appeared columns (addNewColumns);
    infer fresh on first run. Mirrors Auto Loader's schema tracking
    under ``_schemas`` in the checkpoint."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    store = _schema_store_path(checkpoint_dir)
    current = infer_schema(spark, fmt, path)
    if os.path.exists(store):
        stored = T.StructType.fromJson(read_json(store))
        evolved = evolve_schema(stored, current)
    else:
        evolved = current
    write_json(store, evolved.jsonValue())
    return evolved


def evolve_schema(stored: T.StructType, current: T.StructType) -> T.StructType:
    """addNewColumns evolution: keep every stored field (stable order
    and types), append fields that newly appeared in the source."""
    known = {f.name for f in stored.fields}
    evolved = list(stored.fields)
    evolved.extend(f for f in current.fields if f.name not in known)
    return T.StructType(evolved)


def read_stream(
    spark: SparkSession, fmt: str, path: str, schema: T.StructType
) -> DataFrame:
    """Open the incremental file stream (schema mandatory on OSS)."""
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported raw_file_format {fmt!r}; one of {SUPPORTED_FORMATS}")
    if not format_available(spark, fmt):
        raise RuntimeError(
            f"raw_file_format {fmt!r} needs an external Spark package that is "
            "not on this session's classpath — see sources.batch.format_available"
        )
    reader = spark.readStream.format(fmt).schema(schema)
    if fmt == "csv":
        reader = reader.option("header", "true")
    return reader.load(path)


def run_available_now(
    df: DataFrame,
    checkpoint_dir: str,
    table_name: str | None = None,
    path: str | None = None,
    output_format: str = "parquet",
) -> StreamingQuery:
    """Materialize the stream with Trigger.AvailableNow: process every
    file not yet recorded in the checkpoint, then stop (the
    reference's triggered, non-continuous pipeline update). Appends
    with mergeSchema so evolved columns land in the sink."""
    writer = (
        df.writeStream.format(output_format)
        .option("checkpointLocation", checkpoint_dir)
        .option("mergeSchema", "true")
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if table_name:
        query = writer.toTable(table_name)
    elif path:
        query = writer.option("path", path).start()
    else:
        raise ValueError("either table_name or path is required")
    return query
