"""Multi-format source ingestion tests (R2: parquet/json/csv/avro) —
each format through the full streaming bronze path."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from datapipeline_template_spark.config import EntityConfig, PipelineParams
from datapipeline_template_spark.plans.pipeline import Pipeline
from datapipeline_template_spark.sources.batch import infer_schema, read_batch

ROWS = [
    {"id": 1, "op": "I", "amount": 10.5, "note": "a"},
    {"id": 2, "op": "I", "amount": 20.0, "note": "b"},
    {"id": 2, "op": "U", "amount": 22.5, "note": "b2"},
]


def _write_raw(spark, fmt: str, path: str) -> None:
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField("note", T.StringType()),
        ]
    )
    df = spark.createDataFrame([Row(**r) for r in ROWS], schema).coalesce(1)
    if fmt == "json":
        df.write.mode("append").json(path)
    elif fmt == "csv":
        df.write.mode("append").option("header", "true").csv(path)
    elif fmt == "parquet":
        df.write.mode("append").parquet(path)
    elif fmt == "orc":
        df.write.mode("append").orc(path)
    elif fmt == "avro":
        df.write.mode("append").format("avro").save(path)


def _avro_available(spark) -> bool:
    try:
        spark.range(1).write.mode("overwrite").format("avro").save("/tmp/_avro_probe")
        return True
    except Exception:
        return False


def test_missing_avro_package_fails_loudly(spark, tmp_path):
    """When spark-avro is absent, the reader must raise an actionable
    RuntimeError at construction (naming the package to add) instead
    of an opaque ClassNotFoundException mid-load — and the probe must
    agree with reality (format_available)."""
    from datapipeline_template_spark.sources.batch import format_available, read_batch

    if _avro_available(spark):
        assert format_available(spark, "avro")
        pytest.skip("spark-avro present here; the roundtrip test covers it")
    assert not format_available(spark, "avro")
    with pytest.raises(RuntimeError, match="spark-avro"):
        read_batch(spark, "avro", str(tmp_path))


@pytest.mark.parametrize("fmt", ["parquet", "json", "csv", "orc", "avro"])
def test_format_roundtrip_through_pipeline(spark, tmp_path, fmt):
    if fmt == "avro" and not _avro_available(spark):
        pytest.skip("spark-avro jar not on classpath in this environment")
    src = tmp_path / "raw"
    entity_dir = src / "sales"
    entity_dir.mkdir(parents=True)
    _write_raw(spark, fmt, str(entity_dir))

    catalog = f"f{fmt[:3]}"
    spark.sql(f"DROP DATABASE IF EXISTS {catalog}_bronze CASCADE")
    spark.sql(f"DROP DATABASE IF EXISTS {catalog}_silver CASCADE")
    params = PipelineParams(source_location=str(src), catalog=catalog)
    entity = EntityConfig(name="sales", raw_file_format=fmt, unique_primary_key=["id"])
    pipe = Pipeline(
        spark, params, [entity], checkpoint_root=str(tmp_path / "ckpt"), streaming=True
    )
    pipe.run()

    silver = spark.read.table(f"{catalog}_silver.silver_sales")
    rows = {r["id"]: r for r in silver.collect()}
    assert set(rows) == {1, 2}
    assert float(rows[2]["amount"]) == 22.5  # latest wins across formats


def test_csv_schema_inference_types(spark, tmp_path):
    path = str(tmp_path / "csv")
    _write_raw(spark, "csv", path)
    schema = infer_schema(spark, "csv", path)
    kinds = {f.name: f.dataType.typeName() for f in schema.fields}
    assert kinds["id"] in ("integer", "long")  # inferred numeric, not string
    assert kinds["amount"] == "double"


def test_json_read_batch(spark, tmp_path):
    path = tmp_path / "j"
    path.mkdir()
    with open(path / "part.json", "w") as f:
        for r in ROWS:
            f.write(json.dumps(r) + "\n")
    df = read_batch(spark, "json", str(path))
    assert df.count() == 3
    assert "amount" in df.columns


def test_torn_schema_store_write_recovers(spark, tmp_path, torn_json_dump):
    """A crash while the schema store is being rewritten must leave the
    previous schema readable: the next call evolves it as if the torn
    run never happened, instead of failing on truncated JSON."""
    from datapipeline_template_spark.sources.stream import load_or_infer_schema

    src, ckpt = str(tmp_path / "raw"), str(tmp_path / "ckpt")
    spark.createDataFrame([(1, "a")], "id long, name string").write.mode(
        "append"
    ).parquet(src)
    first = load_or_infer_schema(spark, "parquet", src, ckpt)
    assert first.fieldNames() == ["id", "name"]

    spark.createDataFrame([(2, "b", "US")], "id long, name string, country string").write.mode(
        "append"
    ).parquet(src)
    with torn_json_dump(), pytest.raises(OSError, match="mid-dump"):
        load_or_infer_schema(spark, "parquet", src, ckpt)
    evolved = load_or_infer_schema(spark, "parquet", src, ckpt)
    assert evolved.fieldNames() == ["id", "name", "country"]
