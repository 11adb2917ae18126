"""Streaming-store compaction (streaming/compaction.py): folding the
per-drain ``_batch`` partitions into one base partition must be
invisible to every read (equivalence), keep replays no-ops (markers
survive), preserve crash remnants (uncommitted partitions carry over),
and recover from a crash at EVERY phase of the two-phase swap."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from datapipeline_template_spark.streaming.compaction import (
    BASE_BATCH,
    compact_dataset,
    compact_store,
    recover_store,
)


def _batch_parts(ds: str) -> set[int]:
    return {
        int(n.split("=", 1)[1])
        for n in os.listdir(ds)
        if n.startswith("_batch=")
    }


def _kmv_store(spark, tmp_path, sf_dir, name="kmv_store", n_batches=4):
    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.streaming.kmv import IncrementalKmv

    ev = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    store = str(tmp_path / name)
    inc = IncrementalKmv(store, group_col="event_type", value_col="user_id", k=8)
    for i in range(n_batches):
        inc.process_batch(ev.where(F.col("event_id") % n_batches == i), i)
    return inc, ev, store


def _est(inc, spark) -> dict:
    return {
        r["event_type"]: r["distinct_estimate"]
        for r in inc.estimates(spark).collect()
    }


def test_kmv_compaction_equivalence_and_merge_fold(spark, tmp_path, sf_dir):
    """Four drains -> compact with the k-min-of-union merge fold: the
    partials collapse to ONE base partition with one row per group,
    estimates are unchanged, replays of folded batches stay no-ops,
    and later drains + a SECOND compaction keep the equivalence."""
    inc, ev, store = _kmv_store(spark, tmp_path, sf_dir, n_batches=3)
    ds = os.path.join(store, "partials")
    before = _est(inc, spark)
    assert before and _batch_parts(ds) == {0, 1, 2}

    inc.compact(spark)
    assert _batch_parts(ds) == {BASE_BATCH}
    groups = inc.sketches(spark).count()
    rows = spark.read.parquet(ds).count()
    assert rows == groups  # merge fold: one sketch row per group
    assert _est(inc, spark) == before

    # Replay of a folded batch: marker survived compaction -> no-op.
    inc.process_batch(ev.where(F.col("event_id") % 3 == 0), 0)
    assert _batch_parts(ds) == {BASE_BATCH}
    assert _est(inc, spark) == before

    # Drains continue landing beside the base; re-compaction folds
    # base + new batch and stays exact vs the all-rows batch sketch.
    from datapipeline_template_spark.operators.sketch import (
        kmv_estimate,
        kmv_sketch,
    )

    inc.process_batch(ev, 7)  # full overlap: distinct union unchanged
    assert _batch_parts(ds) == {BASE_BATCH, 7}
    inc.compact(spark)
    assert _batch_parts(ds) == {BASE_BATCH}
    want = {
        r["event_type"]: r["e"]
        for r in kmv_sketch(ev, "event_type", "user_id", k=8)
        .select("event_type", kmv_estimate("kmv", 8).alias("e"))
        .collect()
    }
    assert _est(inc, spark) == want


def test_generic_identity_compaction_lsh(spark, tmp_path):
    """A family with NO custom fold (IncrementalLsh, two datasets:
    ``signatures`` and ``pairs``) compacts through the generic
    identity path: reads are bag-merges, so pure re-bagging into the
    base partition leaves the maintained pairs untouched."""
    from datapipeline_template_spark.streaming.lsh import IncrementalLsh

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i % 4} " * 3) for i in range(24)],
        "doc_id long, text string",
    )
    store = str(tmp_path / "lsh_store")
    inc = IncrementalLsh(store)
    for i in range(3):
        inc.process_batch(docs.where(F.col("doc_id") % 3 == i), i)

    def pairs():
        return sorted(map(tuple, inc.pairs(spark).collect()))

    before = pairs()
    assert before
    report = compact_store(spark, store)
    assert {os.path.basename(ds) for ds in report} == {"signatures", "pairs"}
    assert all(report.values())
    for ds in report:
        assert _batch_parts(ds) == {BASE_BATCH}
    assert pairs() == before


def _file_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = f.read()
    return out


def test_discovery_skips_dataset_without_batch_partitions(
    spark, tmp_path, sf_dir
):
    """A store root holding one maintained dataset plus one plain
    (not ``_batch``-partitioned) parquet directory: compaction
    discovery reports and folds only the maintained dataset and leaves
    every file of the plain one byte-identical."""
    _, ev, store = _kmv_store(spark, tmp_path, sf_dir, n_batches=2)
    plain = os.path.join(store, "plain")
    ev.select("event_id", "event_type").coalesce(1).write.parquet(plain)
    plain_before = _file_bytes(plain)
    assert any(name.endswith(".parquet") for name in plain_before)

    report = compact_store(spark, store)
    assert report == {os.path.join(store, "partials"): True}
    assert _batch_parts(os.path.join(store, "partials")) == {BASE_BATCH}
    assert _file_bytes(plain) == plain_before


def test_uncommitted_partition_survives_compaction(spark, tmp_path, sf_dir):
    """A crash-after-write-before-marker remnant must NOT be folded
    (its replay will re-land it); compaction carries the partition
    over unchanged and the later replay converges exactly as it would
    have without compaction."""
    inc, ev, store = _kmv_store(spark, tmp_path, sf_dir, n_batches=3)
    ds = os.path.join(store, "partials")
    # Simulate the crash window: batch 2's marker is lost.
    os.remove(os.path.join(store, "_commits", "2"))

    inc.compact(spark)
    assert _batch_parts(ds) == {BASE_BATCH, 2}

    # Replay re-lands the identical partition, then everything merges.
    inc.process_batch(ev.where(F.col("event_id") % 3 == 2), 2)
    from datapipeline_template_spark.operators.sketch import (
        kmv_estimate,
        kmv_sketch,
    )

    want = {
        r["event_type"]: r["e"]
        for r in kmv_sketch(ev, "event_type", "user_id", k=8)
        .select("event_type", kmv_estimate("kmv", 8).alias("e"))
        .collect()
    }
    assert _est(inc, spark) == want


@pytest.mark.parametrize(
    "phase", ["stage", "journal", "moved", "renamed_old"]
)
def test_crash_at_every_phase_recovers(spark, tmp_path, sf_dir, phase):
    """Fault-inject a crash after each phase of the two-phase swap;
    recover_store + a fresh compaction must land the exact same state
    as an uninterrupted run. Pre-journal crashes roll BACK (stage
    discarded), post-journal crashes roll FORWARD (swap finished)."""
    inc, ev, store = _kmv_store(
        spark, tmp_path, sf_dir, name=f"kmv_{phase}", n_batches=3
    )
    ds = os.path.join(store, "partials")
    before = _est(inc, spark)

    committed = {0, 1, 2}
    compact_dataset(spark, ds, committed, crash_after=phase)
    # Whatever the wreckage looks like, recovery + compaction restores
    # the invariant state.
    recover_store(store)
    assert _est(inc, spark) == before
    compact_store(spark, store)
    assert _batch_parts(ds) == {BASE_BATCH}
    assert _est(inc, spark) == before


def test_nested_store_discovery(spark, tmp_path, sf_dir):
    """compact_store on a PARENT directory recurses into every nested
    maintainer (the composite-store shape: StreamingCuration and
    friends nest members under one root)."""
    parent = tmp_path / "composite"
    parent.mkdir()
    inc_a, _, _ = _kmv_store(spark, parent, sf_dir, name="a", n_batches=2)
    inc_b, _, _ = _kmv_store(spark, parent, sf_dir, name="b", n_batches=3)
    ea, eb = _est(inc_a, spark), _est(inc_b, spark)

    report = compact_store(spark, str(parent))
    assert len(report) == 2 and all(report.values())
    assert _est(inc_a, spark) == ea and _est(inc_b, spark) == eb


@pytest.mark.parametrize("phase", ["journal", "moved", "renamed_old"])
def test_read_side_recovery_without_explicit_recover(
    spark, tmp_path, sf_dir, phase
):
    """THE silent-empty crash window (round-13 advice): between swap
    phases D and E the dataset dir does not exist, and during phase C
    it is missing already-moved partitions — a read helper that only
    checks isdir would serve an EMPTY or partial store. The read path
    itself must finish the pending swap (dataset_present), with NO
    explicit recover_store call, and return the full state."""
    inc, ev, store = _kmv_store(
        spark, tmp_path, sf_dir, name=f"kmv_read_{phase}", n_batches=3
    )
    ds = os.path.join(store, "partials")
    before = _est(inc, spark)
    assert before

    compact_dataset(spark, ds, {0, 1, 2}, crash_after=phase)
    if phase == "renamed_old":
        # The wreckage really is the missing-dir window.
        assert not os.path.isdir(ds)
    # Plain read — no recovery call. Must auto-heal, not read empty.
    assert _est(inc, spark) == before
    # The heal is real: journal gone, dataset back in a clean state.
    assert not os.path.exists(ds + ".__compact_journal.json")
    assert os.path.isdir(ds)


def test_fold_schema_mismatch_refused(spark, tmp_path, sf_dir):
    """A fold must preserve the dataset schema (it only merges rows):
    a mis-keyed folds= mapping — the basename-collision hazard from
    the round-13 advice — fails loudly BEFORE anything is staged, and
    the store stays readable and uncompacted."""
    inc, ev, store = _kmv_store(
        spark, tmp_path, sf_dir, name="kmv_badfold", n_batches=2
    )
    ds = os.path.join(store, "partials")
    before = _est(inc, spark)

    def bad_fold(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")  # wrong shape entirely
        )

    with pytest.raises(ValueError, match="changed the schema"):
        compact_dataset(spark, ds, {0, 1}, fold=bad_fold)
    assert _batch_parts(ds) == {0, 1}  # nothing staged or swapped
    assert _est(inc, spark) == before


def test_auto_compaction_policy_equivalence_and_replay(
    spark, tmp_path, sf_dir
):
    """r12 verdict #3: with a policy installed, compaction fires by
    itself from the process_batch tail. Property: state == the batch
    sketch over everything seen at EVERY drain, with auto-compaction
    interleaving wherever the policy triggers; replays of auto-folded
    batches stay no-ops (the crash case); the policy file counts the
    compactions and the partition count stays bounded."""
    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.sketch import (
        kmv_estimate,
        kmv_sketch,
    )
    from datapipeline_template_spark.streaming.compaction import (
        set_auto_compact_policy,
    )
    from datapipeline_template_spark.streaming.kmv import IncrementalKmv

    ev = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    store = str(tmp_path / "auto_kmv")
    inc = IncrementalKmv(store, group_col="event_type", value_col="user_id", k=8)
    set_auto_compact_policy(store, max_batches=2)
    ds = os.path.join(store, "partials")

    n = 6
    seen = None
    for i in range(n):
        part = ev.where(F.col("event_id") % n == i)
        seen = part if seen is None else seen.unionAll(part)
        inc.process_batch(part, i)
        want = {
            r["event_type"]: r["e"]
            for r in kmv_sketch(seen, "event_type", "user_id", k=8)
            .select("event_type", kmv_estimate("kmv", 8).alias("e"))
            .collect()
        }
        assert _est(inc, spark) == want, f"diverged after drain {i}"
        # Bounded state: the policy folds whenever 2 committed batch
        # partitions exist, so at most base + 1 pending survive a
        # drain (the drain that lands the 2nd partition compacts).
        assert len(_batch_parts(ds)) <= 2

    pol = json.load(open(os.path.join(store, "auto_compact.json")))
    assert pol["n_compactions"] >= 2

    # Replay of an auto-folded batch: marker survived -> no-op, and
    # the replay cannot re-trigger compaction (it returns before the
    # hook).
    before_parts = _batch_parts(ds)
    before_est = _est(inc, spark)
    before_n = pol["n_compactions"]
    inc.process_batch(ev.where(F.col("event_id") % n == 0), 0)
    assert _batch_parts(ds) == before_parts
    assert _est(inc, spark) == before_est
    pol2 = json.load(open(os.path.join(store, "auto_compact.json")))
    assert pol2["n_compactions"] == before_n


def test_auto_compaction_ratio_knob_and_validation(spark, tmp_path, sf_dir):
    """The size-ratio knob alone: with no base, two committed
    partitions trip it; with a base much larger than the pending
    batches (ratio 10x), small batches accumulate until the bytes
    cross. Plus the knob validation guards."""
    from datapipeline_template_spark.streaming.compaction import (
        auto_compact_due,
        set_auto_compact_policy,
    )

    inc, ev, store = _kmv_store(
        spark, tmp_path, sf_dir, name="auto_ratio", n_batches=2
    )
    ds = os.path.join(store, "partials")
    # No base yet + 2 committed partitions: ratio knob is due.
    set_auto_compact_policy(store, max_ratio_milli=10_000)
    assert auto_compact_due(store) is True
    inc.compact(spark)
    assert _batch_parts(ds) == {BASE_BATCH}
    assert auto_compact_due(store) is False
    # One small pending batch against the base at 10x: not due.
    inc.process_batch(ev.where(F.col("event_id") % 17 == 0), 7)
    assert auto_compact_due(store) is False

    with pytest.raises(ValueError, match="max_batches"):
        set_auto_compact_policy(store, max_batches=1)
    with pytest.raises(ValueError, match="max_ratio_milli"):
        set_auto_compact_policy(store, max_ratio_milli=0)
    # Removing the policy disables the hook entirely.
    set_auto_compact_policy(store)
    assert not os.path.exists(os.path.join(store, "auto_compact.json"))
    assert auto_compact_due(store) is False


def test_clear_stale_managed_location_guard():
    """Path-like names must refuse: the cleanup rmtree's a warehouse
    directory derived from the name."""
    from datapipeline_template_spark.operators.layout import (
        clear_stale_managed_location,
    )

    for bad in ("../evil", "a.b.c", "", "x;drop", "db.", ".tbl"):
        with pytest.raises(ValueError, match="unsafe"):
            clear_stale_managed_location(None, bad)
    with pytest.raises(ValueError, match="unsafe"):
        clear_stale_managed_location(None, "db.tbl", database=True)
