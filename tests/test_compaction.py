"""Streaming-store compaction (streaming/compaction.py): folding the
per-drain ``_batch`` partitions into one base partition must be
invisible to every read (equivalence), keep replays no-ops (markers
survive), preserve crash remnants (uncommitted partitions carry over),
recover from a crash at EVERY phase of the two-phase swap, and — for
the bucketed silver — keep the shuffle-free-join bucket spec."""

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


def test_generic_identity_compaction_pagerank(spark, tmp_path, sf_dir):
    """A family with NO custom fold (IncrementalPageRank, two
    datasets: ``edges`` and ``deg``) compacts through the generic
    identity path: reads are bag-merges, so pure re-bagging into the
    base partition leaves the ranks untouched."""
    from datapipeline_template_spark.streaming.pagerank import (
        IncrementalPageRank,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("src"), F.col("l_suppkey").alias("dst")
    )
    store = str(tmp_path / "pr_store")
    inc = IncrementalPageRank(store, iters=2)
    for i in range(3):
        inc.process_batch(li.where(F.col("src") % 3 == i), i)

    def ranks():
        return sorted(map(tuple, inc.ranks(spark).collect()))

    before = ranks()
    assert before
    report = compact_store(spark, store)
    assert {os.path.basename(ds) for ds in report} == {"edges", "deg"}
    assert all(report.values())
    for ds in report:
        assert _batch_parts(ds) == {BASE_BATCH}
    assert ranks() == before


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


def test_bucketed_silver_compaction_keeps_join_free(spark, tmp_path, sf_dir):
    """The catalog-table path: folding batch partitions into the base
    via INSERT OVERWRITE + partition drops preserves the table-level
    bucket spec — the SMJ over two compacted silvers still has ZERO
    Exchange below it — and rows, replays, and the journal-resume
    crash window all hold."""
    from datapipeline_template_spark.streaming.bucketed import (
        IncrementalBucketedSilver,
    )

    for t in ("cmp_li", "cmp_od"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    sl = IncrementalBucketedSilver(
        str(tmp_path / "li_store"), "cmp_li", "l_orderkey", n_buckets=4
    )
    so = IncrementalBucketedSilver(
        str(tmp_path / "od_store"), "cmp_od", "o_orderkey", n_buckets=4
    )
    for i in range(3):
        sl.process_batch(li.where(F.col("l_orderkey") % 3 == i), i)
    so.process_batch(od, 0)
    so.process_batch(od.limit(0), 1)

    def rows(s):
        return sorted(map(tuple, s.table(spark).collect()))

    want = rows(sl)
    assert sl.compact(spark) is True
    parts = [r[0] for r in spark.sql("SHOW PARTITIONS cmp_li").collect()]
    assert parts == [f"_batch={BASE_BATCH}"]
    assert rows(sl) == want
    # Idempotence: nothing left to fold.
    assert sl.compact(spark) is False

    # Replay of a folded batch: marker survived -> no-op.
    sl.process_batch(li.where(F.col("l_orderkey") % 3 == 0), 0)
    assert rows(sl) == want

    # The property the table path exists for: Exchange-free SMJ after
    # compaction on BOTH sides (so joins one compacted, one not, too).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = sl.join(spark, so)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan.split("SortMergeJoin", 1)[1]
        assert j.count() == li.count()
        so.compact(spark)
        j2 = sl.join(spark, so)
        plan2 = j2._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan2.split("SortMergeJoin", 1)[1]
        assert j2.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # Crash window: journal landed (commit point) but the insert never
    # ran — resuming from the journal completes the fold exactly.
    sl.process_batch(li.where(F.col("l_orderkey") % 3 == 1), 9)
    journal = os.path.join(str(tmp_path / "li_store"), "table_compact_journal.json")
    with open(journal, "w") as f:
        json.dump({"fold": [BASE_BATCH, 9], "phase": "staged"}, f)
    assert sl.compact(spark) is True
    parts = [r[0] for r in spark.sql("SHOW PARTITIONS cmp_li").collect()]
    assert parts == [f"_batch={BASE_BATCH}"]
    # Bag semantics: the base already held every row; batch 9 re-adds
    # the %3==1 slice, so the folded table carries that slice twice.
    want9 = sorted(
        map(
            tuple,
            li.unionAll(li.where(F.col("l_orderkey") % 3 == 1)).collect(),
        )
    )
    assert rows(sl) == want9
    for t in ("cmp_li", "cmp_od"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_silver_insert_crash_window_no_duplication(
    spark, tmp_path, sf_dir
):
    """THE regression window the stage table exists for: a
    re-compaction whose fold includes the existing base crashes AFTER
    the INSERT OVERWRITE commits but BEFORE the journal advances. The
    resume must re-insert from the immutable stage table — the
    original single-phase design re-read the already-folded base plus
    the still-present batch partitions and duplicated every folded
    row permanently."""
    from datapipeline_template_spark.streaming.bucketed import (
        IncrementalBucketedSilver,
    )

    spark.sql("DROP TABLE IF EXISTS cmp_cw")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    s = IncrementalBucketedSilver(
        str(tmp_path / "cw_store"), "cmp_cw", "l_orderkey", n_buckets=4
    )
    for i in range(2):
        s.process_batch(li.where(F.col("l_orderkey") % 2 == i), i)
    assert s.compact(spark) is True  # base now holds all of li

    s.process_batch(li.where(F.col("l_orderkey") % 2 == 1), 9)
    want = sorted(
        map(
            tuple,
            li.unionAll(li.where(F.col("l_orderkey") % 2 == 1)).collect(),
        )
    )

    from datapipeline_template_spark.streaming.compaction import (
        compact_bucketed_silver,
    )

    # Crash exactly between the committed insert and the journal
    # advance, then resume.
    assert compact_bucketed_silver(spark, s, crash_after="insert") is True
    assert compact_bucketed_silver(spark, s) is True
    parts = [r[0] for r in spark.sql("SHOW PARTITIONS cmp_cw").collect()]
    assert parts == [f"_batch={BASE_BATCH}"]
    got = sorted(map(tuple, s.table(spark).collect()))
    assert got == want  # exactly once — no duplicated fold
    # Stage table cleaned up, journal gone.
    assert not spark.catalog.tableExists("cmp_cw__compact_stage")
    assert not os.path.exists(
        os.path.join(str(tmp_path / "cw_store"), "table_compact_journal.json")
    )
    spark.sql("DROP TABLE IF EXISTS cmp_cw")


@pytest.mark.slow
def test_pagerank_and_weighted_sample_identity_compaction(spark, tmp_path, sf_dir):
    """Generic identity compaction across two further read semantics:
    PageRank (re-walk over merged edge/degree partials) and weighted
    sampling (top-k-of-top-k's over winner partials). Reads bit-equal
    pre/post; every _batch dataset folds to the base."""
    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.streaming.pagerank import (
        IncrementalPageRank,
    )
    from datapipeline_template_spark.streaming.weighted_sample import (
        IncrementalWeightedSample,
    )

    # -- PageRank: maintained graph, re-walked at read time.
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("src"), F.col("l_suppkey").alias("dst")
    )
    edges = li.unionAll(
        li.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = IncrementalPageRank(str(tmp_path / "pr"), iters=3)
    for i in range(2):
        pr.process_batch(edges.where(F.col("src") % 2 == i), i)

    def pr_ranks():
        return sorted(map(tuple, pr.ranks(spark).collect()))

    before = pr_ranks()
    report = compact_store(spark, str(tmp_path / "pr"))
    assert report and all(report.values())
    for ds in report:
        assert _batch_parts(ds) == {BASE_BATCH}
    assert pr_ranks() == before

    # -- Weighted sample: winner sets merge as top-k-of-top-k's.
    docs = table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.col("n_chars").alias("n_tok")
    )
    ws = IncrementalWeightedSample(
        str(tmp_path / "ws"), key_col="doc_id", weight_col="n_tok",
        stratum_col="source", k=5,
    )
    for i in range(3):
        ws.process_batch(docs.where(F.col("doc_id") % 3 == i), i)

    def ws_sample():
        return sorted(map(tuple, ws.sample(spark).collect()))

    before = ws_sample()
    report = compact_store(spark, str(tmp_path / "ws"))
    assert report and all(report.values())
    assert ws_sample() == before


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


def test_bucketed_silver_read_resumes_pending_compaction(
    spark, tmp_path, sf_dir
):
    """A crash after the INSERT OVERWRITE commits but before the
    folded partitions drop leaves the catalog table readable with
    every folded row duplicated. table()/join() must detect the
    pending journal and finish the compaction BEFORE serving rows
    (round-13 advice) — no explicit compact() call."""
    from datapipeline_template_spark.streaming.bucketed import (
        IncrementalBucketedSilver,
    )
    from datapipeline_template_spark.streaming.compaction import (
        compact_bucketed_silver,
    )

    spark.sql("DROP TABLE IF EXISTS cmp_rr")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    s = IncrementalBucketedSilver(
        str(tmp_path / "rr_store"), "cmp_rr", "l_orderkey", n_buckets=4
    )
    for i in range(2):
        s.process_batch(li.where(F.col("l_orderkey") % 2 == i), i)
    want = sorted(map(tuple, li.collect()))

    # Crash in the duplicated-rows window: insert committed, journal
    # not advanced, folded _batch partitions still present.
    assert compact_bucketed_silver(spark, s, crash_after="insert") is True
    # The raw table IS duplicated right now — that's the hazard.
    assert spark.table("cmp_rr").count() == 2 * len(want)
    # The maintained read path heals before serving.
    got = sorted(map(tuple, s.table(spark).collect()))
    assert got == want
    assert not os.path.exists(
        os.path.join(str(tmp_path / "rr_store"), "table_compact_journal.json")
    )
    spark.sql("DROP TABLE IF EXISTS cmp_rr")


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


def test_auto_compaction_bucketed_silver(spark, tmp_path, sf_dir):
    """The catalog-table family's policy path: partition-count knob
    via SHOW PARTITIONS, rows invariant, partitions bounded."""
    from datapipeline_template_spark.streaming.bucketed import (
        IncrementalBucketedSilver,
    )
    from datapipeline_template_spark.streaming.compaction import (
        set_auto_compact_policy,
    )

    spark.sql("DROP TABLE IF EXISTS cmp_auto")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    s = IncrementalBucketedSilver(
        str(tmp_path / "auto_bkt"), "cmp_auto", "l_orderkey", n_buckets=4
    )
    set_auto_compact_policy(str(tmp_path / "auto_bkt"), max_batches=2)
    for i in range(4):
        s.process_batch(li.where(F.col("l_orderkey") % 4 == i), i)
        parts = [
            r[0] for r in spark.sql("SHOW PARTITIONS cmp_auto").collect()
        ]
        assert len(parts) <= 2  # base + at most one pending
    want = sorted(map(tuple, li.collect()))
    assert sorted(map(tuple, s.table(spark).collect())) == want
    pol = json.load(
        open(os.path.join(str(tmp_path / "auto_bkt"), "auto_compact.json"))
    )
    assert pol["n_compactions"] >= 1
    spark.sql("DROP TABLE IF EXISTS cmp_auto")


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


def test_bm25_and_dsir_merge_folds(spark, tmp_path, sf_dir):
    """The linear-read families' compact() folds: BM25's df/stats sum
    per token/globally (tf/dl re-bag identically — the reads consume
    them raw), DSIR's counts and doc-token profiles sum per key (every
    read is a linear reduction). topk() and scores() are bit-identical
    pre/post; every dataset folds to the base partition."""
    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.streaming.bm25 import IncrementalBm25
    from datapipeline_template_spark.streaming.dsir import IncrementalDsir

    docs = table(spark, sf_dir, "documents")

    bm = IncrementalBm25(str(tmp_path / "bm25"))
    for i in range(3):
        bm.process_batch(docs.where(F.col("doc_id") % 3 == i), i)
    queries = docs.where(F.col("doc_id") < 5).select("doc_id", "text")

    def ranked():
        return sorted(map(tuple, bm.topk(queries, k=3).collect()))

    before = ranked()
    assert before
    bm.compact(spark)
    for name in ("tf", "dl", "df", "stats"):
        assert _batch_parts(str(tmp_path / "bm25" / name)) == {BASE_BATCH}
    # stats folded to ONE global row; df to one row per token.
    assert spark.read.parquet(str(tmp_path / "bm25" / "stats")).count() == 1
    dfreq = spark.read.parquet(str(tmp_path / "bm25" / "df"))
    assert dfreq.count() == dfreq.select("_t").distinct().count()
    assert ranked() == before

    ds = IncrementalDsir(str(tmp_path / "dsir"), target_source="src1")
    for i in range(3):
        ds.process_batch(
            docs.where(F.col("doc_id") % 3 == i).select(
                "doc_id", "text", "source"
            ),
            i,
        )

    def scores():
        return sorted(map(tuple, ds.scores(spark).collect()))

    before = scores()
    assert before
    ds.compact(spark)
    for name in ("counts", "doctok"):
        assert _batch_parts(str(tmp_path / "dsir" / name)) == {BASE_BATCH}
    cnt = spark.read.parquet(str(tmp_path / "dsir" / "counts"))
    assert cnt.count() == cnt.select("w").distinct().count()
    assert scores() == before
