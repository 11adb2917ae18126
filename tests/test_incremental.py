"""Incremental silver maintenance vs full recompute (SURVEY §7.3):
the bucketed MERGE-equivalent must produce byte-identical silver while
rewriting only affected buckets."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datapipeline_template_spark.config import EntityConfig, PipelineParams
from datapipeline_template_spark.plans.incremental import BUCKET_COL, IncrementalSilver

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("v", T.LongType()),
        T.StructField("_ingested_at", T.TimestampType()),
    ]
)

T0 = dt.datetime(2024, 1, 1)
T1 = dt.datetime(2024, 2, 1)


def _bronze_v1():
    return [Row(id=i, op="I", v=i * 10, _ingested_at=T0) for i in range(1, 21)]


def _bronze_v2():
    return [
        Row(id=1, op="U", v=111, _ingested_at=T1),   # update
        Row(id=2, op="D", v=20, _ingested_at=T1),    # late delete
        Row(id=3, op="U", v=None, _ingested_at=T1),  # expectation-failing update
        Row(id=99, op="I", v=990, _ingested_at=T1),  # brand-new key
    ]


@pytest.fixture()
def env(spark, tmp_path):
    for db in ("inc_bronze", "inc_silver", "ref_silver"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql("CREATE DATABASE inc_bronze")
    spark.sql("CREATE DATABASE inc_silver")
    params = PipelineParams(source_location=str(tmp_path), catalog="inc")
    entity = EntityConfig(
        name="items",
        unique_primary_key=["id"],
        expect_all_or_drop={"has_v": "v IS NOT NULL"},
    )
    return params, entity


def _write_bronze(spark, rows, mode="append"):
    spark.createDataFrame(rows, SCHEMA).write.mode(mode).format("parquet").saveAsTable(
        "inc_bronze.bronze_items"
    )


def _full_recompute(spark, entity):
    """Ground truth: the reference's full silver semantics."""
    from datapipeline_template_spark.operators.cdc import drop_soft_deleted
    from datapipeline_template_spark.operators.dedup import keep_latest
    from datapipeline_template_spark.operators.expectations import expect_all_or_drop

    bronze = spark.read.table("inc_bronze.bronze_items")
    df = keep_latest(bronze, entity.unique_primary_key, ["_ingested_at"])
    df = drop_soft_deleted(df)
    return expect_all_or_drop(df, entity.expect_all_or_drop)


def test_incremental_equals_full_recompute(spark, tmp_path, env):
    params, entity = env
    _write_bronze(spark, _bronze_v1(), mode="overwrite")
    inc = IncrementalSilver(spark, params, entity, n_buckets=8, state_dir=str(tmp_path / "st"))

    stats = inc.run()
    assert stats["mode"] == "bootstrap"
    assert spark.read.table("inc_silver.silver_items").count() == 20

    # Delta batch: update + late delete + failing update + new key.
    _write_bronze(spark, _bronze_v2())
    stats = inc.run()
    assert stats["mode"] == "incremental"
    assert stats["new_rows"] == 4
    assert 0 < stats["buckets_rewritten"] < 8  # only affected buckets

    got = {
        r["id"]: r["v"]
        for r in spark.read.table("inc_silver.silver_items").collect()
    }
    want = {r["id"]: r["v"] for r in _full_recompute(spark, entity).collect()}
    assert got == want
    assert got[1] == 111      # update applied
    assert 2 not in got       # late delete removed the key
    assert 3 not in got       # failing update removed the key (matches full recompute)
    assert got[99] == 990     # new key inserted


def test_torn_watermark_write_keeps_previous_value(
    spark, tmp_path, env, torn_json_dump
):
    """A crash while the second run stores its watermark must leave
    the first run's watermark readable, not a truncated file that
    forces a full bootstrap rebuild."""
    params, entity = env
    _write_bronze(spark, _bronze_v1(), mode="overwrite")
    inc = IncrementalSilver(spark, params, entity, n_buckets=8, state_dir=str(tmp_path / "st"))
    inc.run()
    first = inc._load_hwm()
    assert first is not None

    _write_bronze(spark, _bronze_v2())
    with torn_json_dump(), pytest.raises(OSError, match="mid-dump"):
        inc.run()
    assert inc._load_hwm() == first


def test_incremental_noop_and_idempotent(spark, tmp_path, env):
    params, entity = env
    _write_bronze(spark, _bronze_v1(), mode="overwrite")
    inc = IncrementalSilver(spark, params, entity, n_buckets=8, state_dir=str(tmp_path / "st"))
    inc.run()
    before = sorted(
        map(tuple, spark.read.table("inc_silver.silver_items").drop(BUCKET_COL).collect())
    )
    # Re-run with no new rows: watermark-boundary rows reprocess
    # harmlessly (dedup idempotence), content unchanged.
    stats = inc.run()
    assert stats["mode"] in ("noop", "incremental")
    after = sorted(
        map(tuple, spark.read.table("inc_silver.silver_items").drop(BUCKET_COL).collect())
    )
    assert before == after


def test_incremental_with_renames(spark, tmp_path, env):
    params, entity = env
    entity.renamed_columns = {"v": "value"}
    # Expectations see the post-rename schema (same ordering as
    # Pipeline.silver_transform: renames before expectations).
    entity.expect_all_or_drop = {"has_value": "value IS NOT NULL"}
    _write_bronze(spark, _bronze_v1(), mode="overwrite")
    inc = IncrementalSilver(spark, params, entity, n_buckets=8, state_dir=str(tmp_path / "st"))
    inc.run()
    _write_bronze(spark, _bronze_v2())
    inc.run()
    silver = spark.read.table("inc_silver.silver_items")
    assert "value" in silver.columns and "v" not in silver.columns
    got = {r["id"]: r["value"] for r in silver.collect()}
    assert got[1] == 111 and 2 not in got
