"""Skew-mitigation operators: two-phase distinct must be bit-identical
to the single-phase count (it is a pure physical rewrite), including
on pathologically skewed inputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from datapipeline_template_spark.operators.skew import two_phase_distinct


def _skewed_facts(spark, n_hot=5000, n_tail=500):
    # One key owns 90% of rows, tail keys one row each.
    hot = spark.range(n_hot).select(
        F.lit(7).alias("k"), (F.col("id") * 3).alias("v"), F.col("id").alias("rowid")
    )
    tail = spark.range(n_tail).select(
        (F.col("id") + 100).alias("k"),
        (F.col("id") * 5).alias("v"),
        (F.col("id") + n_hot).alias("rowid"),
    )
    return hot.unionByName(tail)


def test_two_phase_distinct_matches_count_distinct(spark):
    facts = _skewed_facts(spark).withColumn("v", F.pmod(F.col("v"), F.lit(97)))
    plain = facts.groupBy("k").agg(F.countDistinct("v").alias("n_distinct"))
    two = two_phase_distinct(facts, ["k"], "v")
    assert sorted(map(tuple, two.collect())) == sorted(map(tuple, plain.collect()))


def test_two_phase_distinct_null_semantics_match_count_distinct(spark):
    """COUNT(DISTINCT) skips NULLs but keeps the key row — including a
    key whose values are ALL null (count 0). Round-2 advice: the old
    count(lit(1)) was off by one per key with any NULL value."""
    rows = [
        ("a", 1), ("a", 1), ("a", None), ("a", 2),  # nulls skipped → 2
        ("b", None), ("b", None),                    # all-null key → 0
        ("c", 7),
    ]
    df = spark.createDataFrame(rows, "k string, v int")
    plain = df.groupBy("k").agg(F.countDistinct("v").alias("n_distinct"))
    two = two_phase_distinct(df, ["k"], "v")
    got = sorted(map(tuple, two.collect()))
    assert got == sorted(map(tuple, plain.collect()))
    assert got == [("a", 2), ("b", 0), ("c", 1)]


def test_aqe_skew_join_splits_hot_partition(spark):
    """The session's AQE skew-join config must actually fire: a
    sort-merge join with one pathological key gets its hot partition
    split at runtime (plan shows the skew marker). Thresholds are
    lowered to make toy data look skewed; at 100 TB the defaults
    (256 MB partitions) trigger the same re-plan."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        from pyspark.sql import functions as F

        # One key owns 1M of 1.0002M rows — its COMPRESSED shuffle
        # partition (~114 KB; lit-padding compresses ~60×) must clear
        # the byte threshold, which is what AQE actually measures.
        # Only the LEFT side is hot: a partition skewed on BOTH sides
        # is exactly the case OptimizeSkewedJoin refuses to split.
        hot = spark.range(1_000_000).select(F.lit(7).alias("k"), F.col("id").alias("rowid"))
        tail = spark.range(200).select(
            (F.col("id") + 100).alias("k"), F.col("id").alias("rowid")
        )
        left = hot.unionByName(tail).withColumn(
            "pad", F.concat(F.lit("x" * 64), F.col("rowid"))
        )
        right = spark.range(300).select(
            F.pmod(F.col("id"), F.lit(150)).alias("k2"), F.col("id").alias("rv")
        )
        # Inspect the SAME QueryExecution that ran: a fresh .count()
        # builds its own, so assert on the aggregate DataFrame itself.
        cnt_df = left.join(right, left.k == right.k2).groupBy().count()
        # hot key matches right ids {7, 157}; tail keys 100..149 match 2 each.
        assert cnt_df.collect()[0][0] == 1_000_000 * 2 + 100
        plan = cnt_df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, f"AQE did not split the hot partition:\n{plan[:1200]}"
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_deterministic_sample_stable_under_repartition(spark):
    from datapipeline_template_spark.operators.sampling import deterministic_sample

    df = spark.range(20000).select(F.col("id").alias("k"))
    a = sorted(r["k"] for r in deterministic_sample(df, "k", 0.2).collect())
    b = sorted(
        r["k"] for r in deterministic_sample(df.repartition(17), "k", 0.2).collect()
    )
    assert a == b and 0.15 < len(a) / 20000 < 0.25


def test_scd2_history_hot_key_stays_bounded(spark):
    """Adversarial SCD2 skew: ONE key carries 1e5 versions (a CDC feed
    gone pathological — e.g. a heartbeat row updated every second).
    The per-key lead window partition is change-cardinality sized, so
    the run must stay bounded (seconds, not a spilled mega-partition)
    and every interval must close exactly onto the next change."""
    import time

    from datapipeline_template_spark.operators.cdc import scd2_history

    n = 100_000
    hot = spark.range(n).select(
        F.lit("hot").alias("k"),
        F.col("id").alias("seq"),
        (F.col("id") * 2).alias("value"),
        F.when(F.col("id") % 997 == 0, "D").otherwise("U").alias("op"),
    )
    cold = spark.range(50).select(
        F.concat(F.lit("c"), F.col("id")).alias("k"),
        F.col("id").alias("seq"),
        F.col("id").alias("value"),
        F.lit("U").alias("op"),
    )
    feed = hot.unionByName(cold).repartition(16)
    t0 = time.monotonic()
    out = scd2_history(feed, ["k"], ["seq"], op_col="op")
    rows = out.where(F.col("k") == "hot").select("seq", "seq_end").collect()
    elapsed = time.monotonic() - t0
    assert elapsed < 60, f"hot-key SCD2 took {elapsed:.1f}s"
    # Exactness under the pile-up: every non-delete version's interval
    # closes onto seq+1 (the next change), the last row stays open.
    n_deletes = len([s for s in range(n) if s % 997 == 0])
    assert len(rows) == n - n_deletes
    for r in rows:
        if r["seq"] == n - 1:
            assert r["seq_end"] is None
        else:
            assert r["seq_end"] == r["seq"] + 1, r


def test_chunk_dedup_hot_value_stays_bounded(spark):
    """Adversarial chunk skew: ONE 12-token chunk value appears 1e5
    times corpus-wide (boilerplate — the RefinedWeb reality). The
    contested window partitions by chunk value, so the hot value lands
    in one partition; the run must stay bounded and keep EXACTLY the
    first occurrence."""
    import time

    from datapipeline_template_spark.operators.dedup import chunk_dedup

    boiler = "the quick brown fox jumps over a lazy dog near the riverbank today"
    docs = spark.range(100_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(boiler + " unique-"), F.col("id").cast("string")).alias(
            "text"
        ),
    ).repartition(16)
    t0 = time.monotonic()
    out = chunk_dedup(docs, "doc_id", "text", chunk_tokens=12)
    agg = out.agg(
        F.sum("n_dropped").alias("dropped"),
        F.sum(F.when(F.col("clean_text").startswith("the quick"), 1).otherwise(0))
        .alias("kept_boiler"),
    ).collect()[0]
    elapsed = time.monotonic() - t0
    assert elapsed < 120, f"hot-value chunk dedup took {elapsed:.1f}s"
    # 100k boilerplate chunks -> 1 survivor; every doc keeps its unique
    # tail chunk ("unique-<id>" second chunk).
    assert agg["dropped"] == 100_000 - 1
    assert agg["kept_boiler"] == 1
    first = out.where(F.col("doc_id") == 0).collect()[0]
    assert first["clean_text"].startswith(boiler)
