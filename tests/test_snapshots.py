"""Snapshot-versioned parquet tables (plans/snapshots.py) — the
Delta-runtime analog: time travel, OPTIMIZE, VACUUM, CDF-lite.

Reference parity: Delta tables with autoOptimize + retention
(`01_bronze_ingestion.py:79-83`, `02_silver_processing.py:85-92`,
`databricks.yml:19-21`) — behaviors previously only recorded as
TBLPROPERTIES, now executed."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datapipeline_template_spark.plans.snapshots import (
    SnapshotConflict,
    SnapshotTable,
    changes_between,
    parse_retention_interval,
)


def _df(spark, lo, hi, extra=None):
    df = spark.range(lo, hi).withColumn("v", F.col("id") * 10)
    if extra is not None:
        df = df.withColumn("tag", F.lit(extra))
    return df


def test_write_read_versions_and_history(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    v0 = t.write(_df(spark, 0, 5), mode="append")
    v1 = t.write(_df(spark, 5, 8), mode="append")
    v2 = t.write(_df(spark, 100, 102), mode="overwrite")
    assert (v0, v1, v2) == (0, 1, 2)
    assert t.read().count() == 2
    assert t.read(version=0).count() == 5
    assert t.read(version=1).count() == 8
    assert sorted(r["id"] for r in t.read().collect()) == [100, 101]
    hist = t.history()
    assert [h["version"] for h in hist] == [2, 1, 0]
    assert hist[0]["operation"] == "overwrite"
    assert hist[0]["num_removed"] > 0
    assert hist[-1]["operation"] == "create"
    with pytest.raises(ValueError, match="version 9"):
        t.read(version=9)


def test_time_travel_by_timestamp(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 0, 3))
    ts0 = t._read_manifest(0)["timestamp_ms"]
    # Force distinct timestamps without sleeping: rewrite manifest ts.
    import json

    m = t._read_manifest(0)
    m["timestamp_ms"] = ts0 - 10_000
    with open(t._version_path(0), "w") as f:
        json.dump(m, f)
    t.write(_df(spark, 3, 10))
    assert t.read(as_of_timestamp_ms=ts0 - 10_000).count() == 3
    assert t.read(as_of_timestamp_ms=ts0 + 10_000_000).count() == 10
    with pytest.raises(ValueError, match="at or before"):
        t.read(as_of_timestamp_ms=ts0 - 999_999)
    with pytest.raises(ValueError, match="not both"):
        t.read(version=0, as_of_timestamp_ms=ts0)


def test_append_schema_evolution_old_files_read_null(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 0, 4))
    t.write(_df(spark, 4, 6, extra="new"), mode="append")
    cur = t.read()
    assert set(cur.columns) == {"id", "v", "tag"}
    by_tag = {r["id"]: r["tag"] for r in cur.collect()}
    assert by_tag[0] is None and by_tag[5] == "new"
    # Time travel to v0 shows the pre-evolution schema.
    assert set(t.read(version=0).columns) == {"id", "v"}


def test_optimize_compacts_preserving_rows(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    # Many small files: 6 appends, each repartitioned to 4 files.
    for i in range(6):
        t.write(_df(spark, i * 10, i * 10 + 10).repartition(4), mode="append")
    before = t._state_at(t.latest_version())["files"]
    assert len(before) >= 20
    rows_before = sorted(map(tuple, t.read().collect()))
    v = t.optimize(target_file_bytes=512 * 1024 * 1024)
    assert v == t.latest_version()
    after = t._state_at(v)["files"]
    assert len(after) < len(before)
    assert sorted(map(tuple, t.read().collect())) == rows_before
    # Idempotent: nothing further to compact.
    assert t.optimize(target_file_bytes=512 * 1024 * 1024) is None


def test_vacuum_retention_and_time_travel_boundary(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 0, 5))
    t.write(_df(spark, 5, 7), mode="overwrite")
    old_files = t._state_at(0)["files"]
    assert all(os.path.exists(os.path.join(t.path, f)) for f in old_files)
    # Inside the retention window: nothing deleted.
    assert t.vacuum("interval 14 days") == []
    assert t.read(version=0).count() == 5
    # Window elapsed (simulate by advancing 'now' 15 days).
    now = t._read_manifest(1)["timestamp_ms"] + 15 * 86400 * 1000
    deleted = t.vacuum("interval 14 days", now_ms=now)
    assert sorted(deleted) == sorted(old_files)
    # Current version unaffected; old version now unreachable.
    assert t.read().count() == 2
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.read(version=0)
    assert t.row_count_by_version() == {1: 2}


def test_vacuum_never_deletes_live_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 0, 5))
    for i in range(3):
        t.write(_df(spark, 5 + i, 6 + i), mode="append")
    now = t._read_manifest(t.latest_version())["timestamp_ms"] + 10**9
    # Appends never tombstone: vacuum finds nothing even far in future.
    assert t.vacuum("interval 1 second", now_ms=now) == []
    assert t.read().count() == 8


def test_concurrent_commit_conflict(spark, tmp_path):
    """The lost-update race: both writers read v0, the racer commits v1
    first; the loser's commit must conflict loudly, not shift to v2."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 0, 3))
    files, schema = t._write_files(_df(spark, 3, 6))  # loser: read done, files staged
    racer = SnapshotTable(spark, t.path)
    racer.write(_df(spark, 100, 101), mode="append")  # racer wins v1
    with pytest.raises(SnapshotConflict, match="version 1"):
        t._commit(
            {"operation": "append", "add": files, "remove": [], "schema": schema},
            version=1,
        )
    # The winner's commit is intact.
    assert t.read().count() == 4


def test_torn_manifest_write_keeps_previous_version(
    spark, tmp_path, torn_json_dump
):
    """A crash while the manifest is being dumped must leave no version
    file behind: the table still reads the previous version, and a
    retried write commits the next one."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 0, 3))
    with torn_json_dump(), pytest.raises(OSError, match="mid-dump"):
        t.write(_df(spark, 3, 6), mode="append")
    assert t.versions() == [0]
    assert sorted(r["id"] for r in t.read().collect()) == [0, 1, 2]
    assert t.write(_df(spark, 3, 6), mode="append") == 1
    assert sorted(r["id"] for r in t.read().collect()) == list(range(6))


def test_checkpoint_bounds_log_replay(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"), checkpoint_interval=3)
    for i in range(7):
        t.write(_df(spark, i, i + 1), mode="append")
    ckpts = [f for f in os.listdir(t.log_dir) if f.endswith(".checkpoint.json")]
    assert len(ckpts) == 2  # versions 3 and 6
    # State replayed through the checkpoint equals the full-log result.
    assert t.read().count() == 7
    assert t.read(version=4).count() == 5


def test_changes_between_versions(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 0, 5))
    t.write(_df(spark, 5, 8), mode="append")
    t.write(_df(spark, 8, 9), mode="append")
    cdf = changes_between(t, 0, 2)
    rows = {(r["id"], r["_commit_version"]) for r in cdf.collect()}
    assert rows == {(5, 1), (6, 1), (7, 1), (8, 2)}
    # Compaction is not a logical change.
    for i in range(3):
        t.write(_df(spark, 20 + i, 21 + i).repartition(2), mode="append")
    v_before = t.latest_version()
    if t.optimize(target_file_bytes=512 * 1024 * 1024) is not None:
        assert changes_between(t, v_before, t.latest_version()).count() == 0
    with pytest.raises(ValueError):
        changes_between(t, 2, 2)


def test_parse_retention_interval():
    assert parse_retention_interval("interval 14 days") == 14 * 86400
    assert parse_retention_interval("7 days") == 7 * 86400
    assert parse_retention_interval("interval 1 hour") == 3600
    assert parse_retention_interval("interval 30 seconds") == 30
    for bad in ("fortnight", "interval 14", "interval x days", "interval 1 eon"):
        with pytest.raises(ValueError):
            parse_retention_interval(bad)


def test_empty_overwrite_and_empty_read(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.write(_df(spark, 0, 3))
    t.write(_df(spark, 0, 3).where(F.lit(False)), mode="overwrite")
    assert t.read().count() == 0
    assert set(t.read().columns) == {"id", "v"}
    assert t.read(version=0).count() == 3


def test_optimize_zorder_reclusters_all_files(spark, tmp_path):
    """OPTIMIZE ZORDER BY analog: rewrites ALL live files Morton-
    clustered — rows preserved exactly, several output files, and the
    per-file span of the SECOND z-column visibly tighter than the
    unclustered layout's."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    # Appends land rows in insertion order — no clustering at all.
    for i in range(4):
        t.write(
            spark.range(i * 2000, (i + 1) * 2000)
            .withColumn("a", (F.col("id") * 37) % 500)
            .withColumn("b", (F.col("id") * 91) % 500)
            .repartition(3),
            mode="append",
        )
    rows_before = sorted(map(tuple, t.read().collect()))
    files_before = t._state_at(t.latest_version())["files"]

    v = t.optimize(target_file_bytes=40_000, zorder_by=["a", "b"])
    assert v == t.latest_version()
    state = t._state_at(v)
    assert set(state["files"]).isdisjoint(files_before)  # global rewrite
    assert len(state["files"]) >= 2
    assert sorted(map(tuple, t.read().collect())) == rows_before

    def avg_span(paths, col):
        import statistics

        spans = []
        for p in paths:
            agg = spark.read.parquet(p).agg(
                (F.max(col) - F.min(col)).alias("s")
            ).collect()[0]["s"]
            spans.append(float(agg))
        return statistics.mean(spans)

    new_paths = [str(tmp_path / "t" / f) for f in state["files"]]
    old_paths = [str(tmp_path / "t" / f) for f in files_before]
    # b cycles through its domain within every append file (span ~500);
    # after z-ordering each file covers a narrow b-rectangle.
    assert avg_span(new_paths, "b") < 0.7 * avg_span(old_paths, "b")
