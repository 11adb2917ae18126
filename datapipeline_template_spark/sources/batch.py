"""Batch file sources.

The reference ingests raw files per entity in one of
parquet/json/csv/avro (format list `/root/reference/README.md:96`,
default parquet `01_bronze_ingestion.py:75`) with inferred column
types (`cloudFiles.inferColumnTypes=true`, `01:104`). Batch reads map
directly onto ``spark.read`` with per-format inference options.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = ["SUPPORTED_FORMATS", "check_format", "format_available", "read_batch", "infer_schema"]

SUPPORTED_FORMATS = ("parquet", "json", "csv", "avro", "orc", "text")

# Formats that need an external Spark package on the classpath.
_PACKAGED_FORMATS = {"avro": "org.apache.spark:spark-avro_2.13:<spark-version>"}
_format_ok_cache: dict[str, bool] = {}


def format_available(spark: SparkSession, fmt: str) -> bool:
    """True when ``fmt`` is actually loadable in THIS session. Built-in
    formats are always available; packaged ones (avro) are probed once
    per process by resolving the format against a sentinel path —
    driver-only, no job. (A bare Class.forName is NOT a valid probe:
    the class can resolve while Spark's data-source registry lookup
    still fails.)"""
    if fmt not in _PACKAGED_FORMATS:
        return True
    if fmt not in _format_ok_cache:
        try:
            spark.read.format(fmt).schema("_probe INT").load("/__format_probe_nonexistent__")
            _format_ok_cache[fmt] = True
        except Exception as e:  # source resolved but path missing → available
            msg = str(e)
            _format_ok_cache[fmt] = not (
                "Failed to find data source" in msg or "FAILED_FIND_DATA_SOURCE" in msg
            )
    return _format_ok_cache[fmt]


def check_format(spark: SparkSession, fmt: str) -> None:
    """Raise unless ``fmt`` is a supported raw format that this session
    can load. Called at reader construction (batch and stream), so a
    missing package fails loudly with an actionable message instead of
    an opaque ClassNotFoundException mid-load."""
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported raw_file_format {fmt!r}; one of {SUPPORTED_FORMATS}")
    if not format_available(spark, fmt):
        raise RuntimeError(
            f"raw_file_format {fmt!r} requires the external package "
            f"{_PACKAGED_FORMATS[fmt]!r}, which is not on this session's "
            "classpath (add it via spark.jars.packages). Formats available "
            f"here: {[f for f in SUPPORTED_FORMATS if format_available(spark, f)]}"
        )


def _reader(spark: SparkSession, fmt: str, infer: bool = True):
    check_format(spark, fmt)
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", "true").option("inferSchema", str(infer).lower())
    if fmt in ("parquet", "orc") and infer:
        # Union the schema across ALL files: a single footer would miss
        # columns that only newer files carry (schema evolution, R4).
        reader = reader.option("mergeSchema", "true")
    # json/avro infer types natively across the file set.
    return reader


def read_batch(
    spark: SparkSession, fmt: str, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Read raw entity files as a batch DataFrame with type inference
    (or an explicit schema when the caller already inferred one)."""
    reader = _reader(spark, fmt, infer=schema is None)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def infer_schema(spark: SparkSession, fmt: str, path: str) -> T.StructType:
    """Infer a schema from the files currently at ``path``.

    This is the Auto-Loader-gap shim (SURVEY.md §7.4): OSS streaming
    file sources require an explicit schema, so we batch-infer from
    the current file set and hand the result to ``readStream``. On a
    100 TB feed, point this at a bounded sample directory or rely on
    parquet/orc footer-only inference (no data scan).
    """
    return read_batch(spark, fmt, path).schema
