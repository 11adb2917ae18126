"""End-to-end medallion pipeline tests (SURVEY.md §5 items 2 & 5).

Synthetic CDC fixture mirrors FIXTURES.md A.1 (app_downloads): dup pks
with distinct ingest order (latest wins), a pk whose latest op='D', a
null-op row, an expectation-violating row, an int column to widen.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datapipeline_template_spark.config import EntityConfig, PipelineParams, load_config
from datapipeline_template_spark.plans.pipeline import Pipeline

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("business_id", T.LongType()),
        T.StructField("created_at", T.TimestampType()),
        T.StructField("platform", T.StringType()),
        T.StructField("downloads", T.IntegerType()),  # exercises widening
    ]
)


def _write_batch(spark, path: str, rows: list[Row]) -> None:
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _fixture_rows_v1():
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    return [
        Row(id=1, op="I", business_id=10, created_at=t, platform="ios", downloads=5),
        Row(id=2, op="I", business_id=10, created_at=t, platform="android", downloads=7),
        Row(id=3, op="I", business_id=11, created_at=t, platform="ios", downloads=1),
        Row(id=4, op="I", business_id=11, created_at=None, platform="web", downloads=2),  # violates expectation
        Row(id=5, op=None, business_id=12, created_at=t, platform="ios", downloads=3),  # null op → dropped
    ]


def _fixture_rows_v2():
    import datetime as dt

    t = dt.datetime(2024, 2, 1)
    return [
        Row(id=1, op="U", business_id=10, created_at=t, platform="ios16", downloads=50),  # update wins
        Row(id=2, op="D", business_id=10, created_at=t, platform="android", downloads=7),  # delete
        Row(id=6, op="I", business_id=13, created_at=t, platform="web", downloads=9),
    ]


@pytest.fixture()
def pipeline_env(spark, tmp_path):
    src = tmp_path / "raw"
    entity_dir = src / "app_downloads"
    entity_dir.mkdir(parents=True)
    warehouse = tmp_path / "wh"
    spark.sql(f"DROP DATABASE IF EXISTS t_bronze CASCADE")
    spark.sql(f"DROP DATABASE IF EXISTS t_silver CASCADE")
    spark.sql(f"DROP DATABASE IF EXISTS t_silver_active CASCADE")
    params = PipelineParams(
        source_location=str(src),
        catalog="t",
        bronze_database="bronze",
        silver_database="silver",
    )
    entity = EntityConfig(
        name="app_downloads",
        unique_primary_key=["id"],
        clustering_cols=["id", "op"],
        skipping_indexes=["id", "op", "business_id"],
        renamed_columns={"platform": "client_platform"},
        expect_all_or_drop={"has_timestamp": "created_at IS NOT NULL"},
    )
    return params, entity, str(entity_dir), warehouse


def test_batch_pipeline_semantics(spark, pipeline_env):
    params, entity, entity_dir, _ = pipeline_env
    _write_batch(spark, entity_dir, _fixture_rows_v1())
    _write_batch(spark, entity_dir, _fixture_rows_v2())

    pipe = Pipeline(spark, params, [entity], streaming=False)
    pipe.run()

    bronze = spark.read.table("t_bronze.bronze_app_downloads")
    # int → bigint widening
    assert dict(bronze.dtypes)["downloads"] == "bigint"
    # audit columns
    for c in ("_ingested_at", "_source_file", "_file_modification_time"):
        assert c in bronze.columns
    assert bronze.count() == 8

    silver = spark.read.table("t_silver.silver_app_downloads")
    rows = {r["id"]: r for r in silver.collect()}
    # id=1: latest (v2) version wins
    assert rows[1]["downloads"] == 50 and rows[1]["client_platform"] == "ios16"
    # id=2: latest op='D' → dropped (soft_deletes=N)
    assert 2 not in rows
    # id=4: expectation violation dropped
    assert 4 not in rows
    # id=5: null op dropped by op != 'D' (null-rejecting — R17 semantics)
    assert 5 not in rows
    assert set(rows) == {1, 3, 6}
    # rename applied
    assert "client_platform" in silver.columns and "platform" not in silver.columns

    # table comment parity (01_bronze_ingestion.py:94,
    # 02_silver_processing.py:146): DESCRIBE TABLE EXTENDED surfaces
    # the 'comment' property as the Comment row.
    def _comment(fqn: str) -> str:
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {fqn}").collect()
        return next(r["data_type"] for r in rows if r["col_name"] == "Comment")

    assert _comment("t_bronze.bronze_app_downloads") == (
        f"Bronze raw ingestion for app_downloads from {entity_dir}"
    )
    assert _comment("t_silver.silver_app_downloads") == (
        "Silver deduplicated table for app_downloads"
    )


def test_batch_pipeline_soft_deletes_view(spark, pipeline_env):
    params, entity, entity_dir, _ = pipeline_env
    params.soft_deletes = "Y"
    _write_batch(spark, entity_dir, _fixture_rows_v1())
    _write_batch(spark, entity_dir, _fixture_rows_v2())

    pipe = Pipeline(spark, params, [entity], streaming=False)
    pipe.run()

    silver = spark.read.table("t_silver.silver_app_downloads")
    ids = {r["id"] for r in silver.collect()}
    assert 2 in ids  # deleted row retained in silver
    active = spark.read.table("t_silver_active.silver_app_downloads_active")
    active_ids = {r["id"] for r in active.collect()}
    assert 2 not in active_ids  # filtered by the _active view
    assert active_ids == {1, 3, 6}


@pytest.mark.slow
def test_streaming_incremental_and_evolution(spark, pipeline_env, tmp_path):
    params, entity, entity_dir, _ = pipeline_env
    ckpt_root = str(tmp_path / "ckpt")
    pipe = Pipeline(spark, params, [entity], checkpoint_root=ckpt_root, streaming=True)

    _write_batch(spark, entity_dir, _fixture_rows_v1())
    pipe.run()
    bronze = spark.read.table("t_bronze.bronze_app_downloads")
    assert bronze.count() == 5

    # Incremental: new files only (no reprocess of the first batch).
    _write_batch(spark, entity_dir, _fixture_rows_v2())
    pipe.run()
    bronze = spark.read.table("t_bronze.bronze_app_downloads")
    assert bronze.count() == 8  # 5 + 3, not 5 + 8

    silver = spark.read.table("t_silver.silver_app_downloads")
    assert {r["id"] for r in silver.collect()} == {1, 3, 6}

    # Schema evolution: a brand-new column appears in the source.
    import datetime as dt

    evolved = spark.createDataFrame(
        [Row(id=7, op="I", business_id=14, created_at=dt.datetime(2024, 3, 1),
             platform="web", downloads=1, country="US")],
        T.StructType(list(SCHEMA.fields) + [T.StructField("country", T.StringType())]),
    )
    evolved.coalesce(1).write.mode("append").parquet(entity_dir)
    pipe.run()
    bronze = spark.read.table("t_bronze.bronze_app_downloads")
    assert "country" in bronze.columns
    assert bronze.count() == 9
    new_row = bronze.where(F.col("id") == 7).collect()[0]
    assert new_row["country"] == "US"


def test_full_refresh_reprocesses(spark, pipeline_env, tmp_path):
    params, entity, entity_dir, _ = pipeline_env
    ckpt_root = str(tmp_path / "ckpt")
    pipe = Pipeline(spark, params, [entity], checkpoint_root=ckpt_root, streaming=True)
    _write_batch(spark, entity_dir, _fixture_rows_v1())
    pipe.run()
    pipe.run(full_refresh=True)  # drop + rebuild, same result
    bronze = spark.read.table("t_bronze.bronze_app_downloads")
    assert bronze.count() == 5


def test_pipeline_incremental_silver_mode(spark, pipeline_env, tmp_path):
    """silver_mode='incremental' through the Pipeline front door must
    produce the same silver contents as the full recompute."""
    params, entity, entity_dir, _ = pipeline_env
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, entity_dir, _fixture_rows_v1())
    pipe = Pipeline(
        spark, params, [entity], checkpoint_root=ckpt, streaming=True,
        silver_mode="incremental", n_buckets=4,
    )
    pipe.run()
    _write_batch(spark, entity_dir, _fixture_rows_v2())
    pipe.run()
    silver = spark.read.table("t_silver.silver_app_downloads")
    rows = {r["id"]: r for r in silver.collect()}
    assert set(rows) == {1, 3, 6}
    assert rows[1]["downloads"] == 50 and rows[1]["client_platform"] == "ios16"
    assert "_pk_bucket" in silver.columns  # bucket partitioning visible


def test_incremental_silver_leaves_session_conf_alone(spark, pipeline_env, tmp_path):
    """Incremental silver asks for dynamic partition overwrite on its
    own table, so the shared session's conf is the same after two runs
    and untouched buckets survive the second run's overwrite."""
    key = "spark.sql.sources.partitionOverwriteMode"
    params, entity, entity_dir, _ = pipeline_env
    spark.conf.unset(key)
    before = spark.conf.get(key)
    pipe = Pipeline(
        spark, params, [entity], checkpoint_root=str(tmp_path / "ckpt"),
        silver_mode="incremental", n_buckets=4,
    )
    _write_batch(spark, entity_dir, _fixture_rows_v1())
    pipe.run()
    _write_batch(spark, entity_dir, _fixture_rows_v2())
    pipe.run()
    assert spark.conf.get(key) == before
    silver = spark.read.table("t_silver.silver_app_downloads")
    assert {r["id"] for r in silver.collect()} == {1, 3, 6}


def test_full_refresh_cleans_external_location(spark, tmp_path):
    from pyspark.sql import types as T

    spark.sql("DROP DATABASE IF EXISTS xr_bronze CASCADE")
    spark.sql("DROP DATABASE IF EXISTS xr_silver CASCADE")
    src = tmp_path / "raw" / "things"
    src.mkdir(parents=True)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("op", T.StringType())]
    )
    spark.createDataFrame([Row(id=1, op="I")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    ext = tmp_path / "ext"
    params = PipelineParams(
        source_location=str(tmp_path / "raw"), catalog="xr", external_location=str(ext)
    )
    pipe = Pipeline(
        spark, params, [EntityConfig(name="things")],
        checkpoint_root=str(tmp_path / "ckpt"), streaming=True,
    )
    pipe.run()
    assert spark.read.table("xr_bronze.bronze_things").count() == 1
    # Full refresh must not double-count rows left in the external dir.
    pipe.run(full_refresh=True)
    assert spark.read.table("xr_bronze.bronze_things").count() == 1


def test_config_loading_via_spark(spark, tmp_path):
    cfg = {
        "app_downloads": {
            "raw_file_format": "parquet",
            "clustering_cols": ["id", "op"],
            "skipping_indexes": ["id", "op", "business_id"],
            "unique_primary_key": ["id"],
            "renamed_columns": {},
            "expect_all_or_drop": {"has_timestamp": "created_at IS NOT NULL"},
        },
        "users": {"raw_file_format": "json"},
    }
    path = tmp_path / "dp_config_template.json"
    path.write_text(json.dumps(cfg, indent=2))
    entities = load_config(spark, str(path))
    by_name = {e.name: e for e in entities}
    assert by_name["app_downloads"].clustering_cols == ["id", "op"]
    assert by_name["users"].raw_file_format == "json"
    assert by_name["users"].unique_primary_key == ["id"]  # default


@pytest.mark.slow
def test_cli_end_to_end_subprocess(tmp_path):
    """Drive the real CLI surface in a fresh process: raw files +
    config JSON in, silver table out (exit 0, warehouse populated).
    cwd is the tmp dir so the derby metastore / warehouse are isolated."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    repo = str(Path(__file__).resolve().parents[1])
    raw = tmp_path / "raw" / "gadgets"
    raw.mkdir(parents=True)
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1, 2, 2], pa.int64()),
                "op": pa.array(["I", "I", "U"]),
                "qty": pa.array([10, 20, 25], pa.int32()),
            }
        ),
        raw / "part-0.parquet",
    )
    cfg = {"gadgets": {"raw_file_format": "parquet", "unique_primary_key": ["id"]}}
    (tmp_path / "raw" / "dp_config_template.json").write_text(json.dumps(cfg))

    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "datapipeline_template_spark",
            "run",
            "--source-location",
            str(tmp_path / "raw"),
            "--batch",
        ],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": repo, "SPARK_GRAFT_CPUS": "4"},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, f"CLI failed:\n{proc.stderr[-2000:]}"
    silver_dir = tmp_path / "spark-warehouse" / "engine_silver.db" / "silver_gadgets"
    assert silver_dir.exists(), f"no silver table dir; warehouse: {list((tmp_path / 'spark-warehouse').rglob('*'))[:20]}"


@pytest.mark.slow
def test_cli_query_and_list(tmp_path):
    """`query`/`list`/`explain` subcommands expose the catalog from
    the CLI (fresh process)."""
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parents[1])
    env = {**os.environ, "PYTHONPATH": repo, "SPARK_GRAFT_CPUS": "4"}
    ls = subprocess.run(
        [sys.executable, "-m", "datapipeline_template_spark", "list"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert ls.returncode == 0 and "q01_pricing_summary" in ls.stdout
    ex = subprocess.run(
        [sys.executable, "-m", "datapipeline_template_spark", "explain",
         "q01_pricing_summary", "--sf-dir", "/root/testdata/sf0.001"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert ex.returncode == 0 and "HashAggregate" in ex.stdout
    bad = subprocess.run(
        [sys.executable, "-m", "datapipeline_template_spark", "query", "nope"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert bad.returncode == 2


def test_multi_entity_pipeline(spark, tmp_path):
    """C1/C2: one config, several entities — the factory loop builds
    every bronze+silver pair in one run, each with its own pk/dedup
    config, and the DAG orders silver after its own bronze."""
    import datetime as dt

    src = tmp_path / "raw"
    for name in ("users", "items"):
        (src / name).mkdir(parents=True)
    t = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [Row(id=1, op="I", business_id=1, created_at=t, platform="x", downloads=1),
         Row(id=1, op="U", business_id=1, created_at=t, platform="y", downloads=2)],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(str(src / "users"))
    spark.createDataFrame(
        [Row(id=9, op="I", business_id=2, created_at=t, platform="z", downloads=3)],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(str(src / "items"))

    spark.sql("DROP DATABASE IF EXISTS m_bronze CASCADE")
    spark.sql("DROP DATABASE IF EXISTS m_silver CASCADE")
    params = PipelineParams(source_location=str(src), catalog="m")
    entities = [
        EntityConfig(name="users", unique_primary_key=["id"]),
        EntityConfig(name="items", unique_primary_key=["id"]),
    ]
    Pipeline(spark, params, entities, streaming=False).run()

    users = spark.read.table("m_silver.silver_users").collect()
    assert len(users) == 1 and users[0]["platform"] == "y"  # latest wins
    items = spark.read.table("m_silver.silver_items").collect()
    assert len(items) == 1 and items[0]["id"] == 9


ORDERS_SCHEMA = T.StructType(
    [
        T.StructField("store", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("amount", T.IntegerType()),
    ]
)


def test_concurrent_streaming_pipeline_matches_sequential(spark, tmp_path):
    """``Pipeline.run()`` overlaps every entity's streaming bronze →
    silver chain in one session. Over two triggered runs, with one CDC
    file landed per entity in between, its silver tables and
    ``_active`` views hold the same rows as the same pipeline run one
    node at a time (``dag().run(workers=1)``) in its own databases and
    checkpoints."""
    src = tmp_path / "raw"
    for name in ("users", "clicks", "orders"):
        (src / name).mkdir(parents=True)

    def land(users, clicks, orders):
        _write_batch(spark, str(src / "users"), users)
        spark.createDataFrame(clicks, SCHEMA).coalesce(1).write.mode("append").json(
            str(src / "clicks"))
        spark.createDataFrame(orders, ORDERS_SCHEMA).coalesce(1).write.mode("append").parquet(
            str(src / "orders"))

    entities = [
        EntityConfig(
            name="users",
            unique_primary_key=["id"],
            renamed_columns={"platform": "client_platform"},
            expect_all_or_drop={"has_timestamp": "created_at IS NOT NULL"},
        ),
        EntityConfig(name="clicks", raw_file_format="json", unique_primary_key=["id"]),
        EntityConfig(name="orders", unique_primary_key=["store", "id"]),
    ]
    pipes = {}
    for catalog in ("cc", "cs"):
        for layer in ("bronze", "silver", "silver_active"):
            spark.sql(f"DROP DATABASE IF EXISTS {catalog}_{layer} CASCADE")
        params = PipelineParams(source_location=str(src), catalog=catalog, soft_deletes="Y")
        pipes[catalog] = Pipeline(
            spark, params, entities, checkpoint_root=str(tmp_path / f"ckpt_{catalog}"))
    for db in ("cs_bronze", "cs_silver"):
        spark.sql(f"CREATE DATABASE {db}")

    def run_both():
        pipes["cc"].run()
        pipes["cs"].dag().run(workers=1)

    land(
        _fixture_rows_v1(),
        _fixture_rows_v1(),
        [Row(store="s1", id=1, op="I", amount=10), Row(store="s2", id=1, op="I", amount=20),
         Row(store="s1", id=2, op="I", amount=30)],
    )
    run_both()
    land(
        _fixture_rows_v2(),
        _fixture_rows_v2(),
        [Row(store="s1", id=1, op="U", amount=11), Row(store="s2", id=1, op="D", amount=20),
         Row(store="s2", id=2, op="I", amount=40)],
    )
    run_both()

    def rows(table):
        df = spark.read.table(table).drop("_ingested_at")
        return sorted(df.collect(), key=repr)

    for e in ("users", "clicks", "orders"):
        silver = rows(f"cc_silver.silver_{e}")
        assert silver and silver == rows(f"cs_silver.silver_{e}"), e
        active = rows(f"cc_silver_active.silver_{e}_active")
        assert active and active == rows(f"cs_silver_active.silver_{e}_active"), e
    orders = {(r["store"], r["id"]): r["amount"] for r in rows("cc_silver.silver_orders")}
    assert orders == {("s1", 1): 11, ("s2", 1): 20, ("s1", 2): 30, ("s2", 2): 40}
    assert len(rows("cc_silver_active.silver_orders_active")) == 3


@pytest.mark.slow
def test_config_bucketed_silver_joins_without_exchange(spark, tmp_path):
    """r11 verdict #2 E2E: entities declaring ``bucket_by`` land their
    silvers as hash-bucketed sorted tables, and an equi-join between
    the two co-bucketed silvers runs with ZERO Exchange below the SMJ
    — the q52 join-locality pattern asked for from CONFIG, not code."""
    src = tmp_path / "raw"
    for name in ("ent_a", "ent_b"):
        d = src / name
        d.mkdir(parents=True)
        _write_batch(spark, str(d), _fixture_rows_v1())
        _write_batch(spark, str(d), _fixture_rows_v2())
    spark.sql("DROP DATABASE IF EXISTS bk_bronze CASCADE")
    spark.sql("DROP DATABASE IF EXISTS bk_silver CASCADE")
    params = PipelineParams(source_location=str(src), catalog="bk")
    ents = [
        EntityConfig(
            name=n,
            unique_primary_key=["id"],
            expect_all_or_drop={"has_timestamp": "created_at IS NOT NULL"},
            bucket_by=["id"],
            n_buckets=4,
        )
        for n in ("ent_a", "ent_b")
    ]
    Pipeline(spark, params, ents, streaming=False).run()

    a = spark.table("bk_silver.silver_ent_a").alias("a")
    b = spark.table("bk_silver.silver_ent_b").alias("b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = a.hint("merge").join(b, F.col("a.id") == F.col("b.id"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan.split("SortMergeJoin", 1)[1], plan[:800]
        assert j.count() == 3  # surviving ids {1, 3, 6} on both sides
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # Guard rails: conflicting or unsupported layout asks refuse loudly.
    with pytest.raises(ValueError, match="mutually exclusive"):
        Pipeline(
            spark,
            params,
            [
                EntityConfig(
                    name="ent_a",
                    bucket_by=["id"],
                    clustering_cols=["id"],
                )
            ],
            streaming=False,
        ).build_silver(
            EntityConfig(name="ent_a", bucket_by=["id"], clustering_cols=["id"])
        )


def test_config_skew_hardened_silver_matches_plain(spark, tmp_path):
    """r11 verdict #2 E2E: ``skew_hardened`` swaps the silver dedup to
    the two-phase salted keep-latest; the silver must be row-for-row
    identical to the plain pipeline over the same feed (the order is
    total thanks to the source-file tiebreaks, so salting can only
    change the shuffle shape, never the winners)."""
    src = tmp_path / "raw"
    d = src / "app_downloads"
    d.mkdir(parents=True)
    _write_batch(spark, str(d), _fixture_rows_v1())
    _write_batch(spark, str(d), _fixture_rows_v2())
    rows = {}
    for catalog, hardened in (("shp", False), ("shs", True)):
        spark.sql(f"DROP DATABASE IF EXISTS {catalog}_bronze CASCADE")
        spark.sql(f"DROP DATABASE IF EXISTS {catalog}_silver CASCADE")
        params = PipelineParams(source_location=str(src), catalog=catalog)
        entity = EntityConfig(
            name="app_downloads",
            unique_primary_key=["id"],
            expect_all_or_drop={"has_timestamp": "created_at IS NOT NULL"},
            skew_hardened=hardened,
        )
        Pipeline(spark, params, [entity], streaming=False).run()
        silver = spark.read.table(f"{catalog}_silver.silver_app_downloads")
        rows[catalog] = sorted(
            map(tuple, silver.drop("_ingested_at").collect())
        )
    assert rows["shp"] == rows["shs"] and len(rows["shp"]) == 3


def test_config_keys_round_trip_through_loader(spark, tmp_path):
    """bucket_by / n_buckets / skew_hardened survive the JSON config
    loader (the reference's config transport, 00_config_loader.py)."""
    cfg = {
        "clicks": {
            "unique_primary_key": ["id"],
            "bucket_by": ["id"],
            "n_buckets": 8,
            "skew_hardened": True,
        },
        "plain": {},
        "nulled": {"bucket_by": None, "n_buckets": None, "skew_hardened": None},
    }
    path = tmp_path / "dp_config_template.json"
    path.write_text(json.dumps(cfg))
    by_name = {e.name: e for e in load_config(spark, str(path))}
    assert by_name["clicks"].bucket_by == ["id"]
    assert by_name["clicks"].n_buckets == 8
    assert by_name["clicks"].skew_hardened is True
    assert by_name["plain"].bucket_by == []
    assert by_name["plain"].n_buckets == 0
    assert by_name["plain"].skew_hardened is False
    # Explicit JSON nulls are tolerated like the sibling keys
    # (renamed_columns-style `or` defaults).
    assert by_name["nulled"].bucket_by == []
    assert by_name["nulled"].n_buckets == 0
    assert by_name["nulled"].skew_hardened is False


def test_silver_snapshot_history_time_travel_and_vacuum(spark, pipeline_env, tmp_path):
    """Delta-runtime parity E2E: with snapshot_root set, every full
    silver run commits a version — run 2 can time-travel to run 1's
    contents, history lists both runs, and VACUUM with the configured
    retention ('interval 14 days') deletes run-1 files only once the
    window has elapsed."""
    params, entity, entity_dir, _ = pipeline_env
    snap_root = str(tmp_path / "snaps")

    _write_batch(spark, entity_dir, _fixture_rows_v1())
    pipe = Pipeline(spark, params, [entity], streaming=False, snapshot_root=snap_root)
    pipe.run()
    run1 = {r["id"]: r["downloads"] for r in pipe.silver_as_of("app_downloads", 0).collect()}
    # v1 only: id=1 original value, id=2 not yet deleted, 4/5 dropped.
    assert run1 == {1: 5, 2: 7, 3: 1}

    _write_batch(spark, entity_dir, _fixture_rows_v2())
    pipe.run()
    snap = pipe.silver_snapshot("app_downloads")
    assert snap.latest_version() == 1
    # Current = run 2's silver; version 0 still = run 1's.
    cur = {r["id"]: r["downloads"] for r in snap.read().collect()}
    assert cur == {1: 50, 3: 1, 6: 9}
    assert {r["id"]: r["downloads"] for r in snap.read(version=0).collect()} == run1
    assert [h["version"] for h in snap.history()] == [1, 0]

    # Inside the 14-day retention: nothing vacuumed.
    assert pipe.vacuum_silver_history("app_downloads") == []
    assert snap.read(version=0).count() == 3
    # 15 days later: run-1 files go; current version intact.
    now = snap._read_manifest(1)["timestamp_ms"] + 15 * 86400 * 1000
    deleted = pipe.vacuum_silver_history("app_downloads", now_ms=now)
    assert deleted
    assert {r["id"] for r in snap.read().collect()} == {1, 3, 6}
    with pytest.raises(FileNotFoundError):
        snap.read(version=0)
    with pytest.raises(ValueError, match="snapshot_root"):
        Pipeline(spark, params, [entity], streaming=False).silver_snapshot("app_downloads")
