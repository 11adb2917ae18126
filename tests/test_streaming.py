"""Genuinely-streaming execution tests (X8): watermarked windows,
streaming dedup, and custom stateful ops on real file streams with
AvailableNow triggers."""

from __future__ import annotations

import datetime as dt
import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datapipeline_template_spark.streaming.windows import (
    dedup_within_watermark,
    running_totals_stateful,
    tumbling_counts,
)

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("key", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _rows():
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    return [
        Row(ts=base + dt.timedelta(minutes=m), key=k, value=float(v))
        for m, k, v in [
            (0, "a", 1), (1, "a", 2), (11, "a", 3),
            (0, "b", 5), (22, "b", 7), (1, "a", 2),  # duplicate (ts,key,value)
        ]
    ]


def _start_stream(spark, tmp_path, df_transform, output_mode="append"):
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    return src, ckpt, out


def test_streaming_tumbling_with_watermark(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(_rows(), SCHEMA).coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    agg = tumbling_counts(stream, "ts", "key", width="10 minutes", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"].minute, r["key"]): r["n"]
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    assert got[(0, "a")] == 3  # minutes 0,1,1
    assert got[(10, "a")] == 1
    assert got[(0, "b")] == 1
    assert got[(20, "b")] == 1


def test_streaming_dedup_within_watermark(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(_rows(), SCHEMA).coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    deduped = dedup_within_watermark(stream, ["key", "ts"], "ts", "2 hours")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM dedup_test").collect()
    assert len(rows) == 5  # 6 input rows, one exact (key, ts) duplicate


def test_stateful_running_totals(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(_rows(), SCHEMA).coalesce(1).write.mode("append").parquet(str(src))
    collected: list[tuple[str, float]] = []

    def sink(batch_df, _batch_id):
        collected.extend((r["key"], r["total"]) for r in batch_df.collect())

    def run_once():
        q = (
            running_totals_stateful(
                spark.readStream.schema(SCHEMA).parquet(str(src)), "key", "value", "ts"
            )
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination()

    run_once()
    got = dict(collected)
    assert got["a"] == 8.0  # 1+2+3+2
    assert got["b"] == 12.0  # 5+7

    # Second run over new files only: keyed state survives via checkpoint.
    more = [Row(ts=dt.datetime(2024, 1, 1, 0, 40), key="a", value=10.0)]
    spark.createDataFrame(more, SCHEMA).coalesce(1).write.mode("append").parquet(str(src))
    collected.clear()
    run_once()
    got2 = dict(collected)
    assert got2["a"] == 18.0  # state carried: 8 + 10


def test_stream_static_enrich(spark, tmp_path):
    from datapipeline_template_spark.streaming.joins import stream_static_enrich

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(_rows(), SCHEMA).coalesce(1).write.mode("append").parquet(str(src))
    dim = spark.createDataFrame([("a", "alpha"), ("b", "beta")], ["key", "label"])
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    q = (
        stream_static_enrich(stream, dim, ["key"])
        .writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM enrich_test").collect()
    assert len(rows) == 6
    assert {r["label"] for r in rows} == {"alpha", "beta"}


def test_stream_stream_interval_join(spark, tmp_path):
    """Two file streams: clicks join impressions on key within a
     10-minute band after the impression; watermarks on both sides."""
    import datetime as dt

    from datapipeline_template_spark.streaming.joins import interval_join

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    imp_dir.mkdir(), clk_dir.mkdir()
    imps = [
        Row(ts=base + dt.timedelta(minutes=m), key=k, value=1.0)
        for m, k in [(0, "a"), (0, "b"), (30, "a")]
    ]
    clks = [
        Row(ts=base + dt.timedelta(minutes=m), key=k, value=2.0)
        for m, k in [(5, "a"), (9, "b"), (31, "a"), (50, "a")]
    ]
    spark.createDataFrame(imps, SCHEMA).coalesce(1).write.mode("append").parquet(str(imp_dir))
    spark.createDataFrame(clks, SCHEMA).coalesce(1).write.mode("append").parquet(str(clk_dir))

    imp_s = spark.readStream.schema(SCHEMA).parquet(str(imp_dir)).withColumnRenamed("ts", "imp_ts")
    clk_s = spark.readStream.schema(SCHEMA).parquet(str(clk_dir)).withColumnRenamed("ts", "clk_ts")
    joined = interval_join(
        imp_s.select("imp_ts", "key"),
        clk_s.select("clk_ts", "key"),
        keys=["key"],
        left_ts="imp_ts",
        right_ts="clk_ts",
        watermark="1 hour",
        lower="0 seconds",
        upper="10 minutes",
    ).select(imp_s["key"].alias("key"), "imp_ts", "clk_ts")
    q = (
        joined.writeStream.format("memory")
        .queryName("interval_join_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["key"], r["imp_ts"].minute, r["clk_ts"].minute)
        for r in spark.sql("SELECT * FROM interval_join_test").collect()
    )
    # (a,0) matches clk@5; (b,0) matches clk@9; (a,30) matches clk@31;
    # clk@50 matches nothing (band is 10 min).
    assert got == [("a", 0, 5), ("a", 30, 31), ("b", 0, 9)]


def test_interval_join_rejects_streaming_dim(spark, tmp_path):
    from datapipeline_template_spark.streaming.joins import stream_static_enrich

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(_rows(), SCHEMA).coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    try:
        stream_static_enrich(stream, stream, ["key"])
    except ValueError:
        pass
    else:
        raise AssertionError("streaming dim must be rejected")


@pytest.mark.slow
def test_incremental_lsh_stream_matches_full_corpus(spark, tmp_path):
    """End-to-end streaming LSH maintenance: drain a document stream
    in TWO AvailableNow passes, then the maintained candidate pairs
    must equal the full-corpus lsh_candidate_pairs over every document
    seen — the dd09 equivalence contract held across micro-batches —
    and a replayed batch_id must change nothing."""
    from datapipeline_template_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures_kernel,
    )
    from datapipeline_template_spark.streaming.lsh import IncrementalLsh

    doc_schema = "doc_id long, text string"
    src = tmp_path / "docs"
    src.mkdir()
    store = str(tmp_path / "lsh_store")
    ckpt = str(tmp_path / "ckpt")

    def mk(ids):
        # near-dup families keyed by i%5 -> plenty of cross-batch pairs
        return [
            (i, f"alpha beta gamma delta epsilon zeta eta theta {i % 5} " * 4)
            for i in ids
        ]

    lsh = IncrementalLsh(store, "doc_id", "text")

    batch1 = mk(range(0, 25))
    spark.createDataFrame(batch1, doc_schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    lsh.run_available_now(
        spark.readStream.schema(doc_schema).parquet(str(src)), ckpt
    )
    batch2 = mk(range(25, 40))
    spark.createDataFrame(batch2, doc_schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    lsh.run_available_now(
        spark.readStream.schema(doc_schema).parquet(str(src)), ckpt
    )

    all_docs = spark.createDataFrame(batch1 + batch2, doc_schema)
    sigs = minhash_signatures_kernel(all_docs, "doc_id", "text")
    want = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, "doc_id", "sig", eager=False).collect()
    }
    assert want, "fixture must produce pairs"
    got = {(r["id_a"], r["id_b"]) for r in lsh.pairs(spark).collect()}
    assert got == want
    # Signatures store holds every doc exactly once.
    assert lsh.signatures(spark).count() == 40

    # Replay safety: re-delivering batch 0's docs under its batch_id is
    # a marker-skip no-op; under a NEW batch_id the contract is broken
    # by the caller (write-once ids), so only the former is exercised.
    lsh.process_batch(spark.createDataFrame(batch1, doc_schema), batch_id=0)
    assert {(r["id_a"], r["id_b"]) for r in lsh.pairs(spark).collect()} == want
    assert lsh.signatures(spark).count() == 40

    # Crash-window repair: marker for batch 1 lost after data landed ->
    # reprocessing batch 1 overwrites the same bytes, no duplicates.
    import os

    os.remove(os.path.join(store, "_commits", "1"))
    lsh.process_batch(spark.createDataFrame(batch2, doc_schema), batch_id=1)
    assert {(r["id_a"], r["id_b"]) for r in lsh.pairs(spark).collect()} == want
    assert lsh.signatures(spark).count() == 40


@pytest.mark.slow
def test_incremental_sign_lsh_matches_multi_table_pairs(spark, tmp_path, sf_dir):
    """Embedding-side maintenance (the third instance of the dd09
    equivalence contract): drain an embedding stream in TWO
    AvailableNow passes, then the maintained cosine-verified pairs
    must equal lsh_multi_table_pairs over every vector seen, replays
    must be no-ops, and a crash window must self-repair."""
    import os

    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.similarity import (
        lsh_multi_table_pairs,
    )
    from datapipeline_template_spark.streaming.sign_lsh import IncrementalSignLsh

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    schema_str = "vec_id long, embedding array<float>"
    src = tmp_path / "vecs"
    src.mkdir()
    store = str(tmp_path / "sign_store")
    ckpt = str(tmp_path / "ckpt")

    batch1 = emb.where("vec_id < 120")
    batch2 = emb.where("vec_id >= 120 AND vec_id < 200")
    inc = IncrementalSignLsh(store, threshold=0.3, n_planes=4, n_tables=2)

    batch1.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )
    batch2.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )

    seen = emb.where("vec_id < 200")
    want = {
        (r["id_a"], r["id_b"])
        for r in lsh_multi_table_pairs(
            seen, "vec_id", "embedding", threshold=0.3, n_planes=4, n_tables=2
        ).collect()
    }
    assert want, "fixture must produce pairs"
    got = {(r["id_a"], r["id_b"]) for r in inc.pairs(spark).collect()}
    assert got == want
    assert inc.vectors(spark).count() == 200

    # Replay safety: re-delivering batch 0 under its batch_id no-ops.
    inc.process_batch(batch1, batch_id=0)
    assert {(r["id_a"], r["id_b"]) for r in inc.pairs(spark).collect()} == want
    assert inc.vectors(spark).count() == 200

    # Crash-window repair: marker for batch 1 lost after data landed →
    # reprocessing overwrites identical bytes, no duplicates.
    os.remove(os.path.join(store, "_commits", "1"))
    inc.process_batch(batch2, batch_id=1)
    assert {(r["id_a"], r["id_b"]) for r in inc.pairs(spark).collect()} == want
    assert inc.vectors(spark).count() == 200


def test_pinned_broadcast_skips_sizing_count(spark, monkeypatch):
    """A pinned ``broadcast=`` must skip the operator's sizing count()
    — the maintainer already counted the micro-batch, so paying a
    second narrow job per batch would be waste (r05 verdict item).
    Default (None) still runs exactly one sizing count."""
    from datapipeline_template_spark.operators.dedup import (
        lsh_candidate_pairs_incremental,
        minhash_signatures_kernel,
    )

    docs = spark.createDataFrame(
        [(i, f"one two three four five six {i % 3}") for i in range(12)],
        "doc_id long, text string",
    )
    sigs = minhash_signatures_kernel(docs, "doc_id", "text")
    existing = sigs.where("doc_id < 8")
    new = sigs.where("doc_id >= 8")

    counts = []
    # Patch the CONCRETE DataFrame class (Spark 4: instances are
    # pyspark.sql.classic.dataframe.DataFrame, not the abstract base).
    DataFrame = type(sigs)
    orig_count = DataFrame.count

    def tracked(self):
        counts.append(1)
        return orig_count(self)

    monkeypatch.setattr(DataFrame, "count", tracked)
    pinned = lsh_candidate_pairs_incremental(
        existing, new, "doc_id", "sig", broadcast=True
    )
    assert counts == [], "pinned broadcast must not run a sizing count"
    defaulted = lsh_candidate_pairs_incremental(existing, new, "doc_id", "sig")
    assert len(counts) == 1, "default None sizes the batch with ONE count"
    monkeypatch.setattr(DataFrame, "count", orig_count)
    # Both strategies return identical pairs.
    assert sorted((r["id_a"], r["id_b"]) for r in pinned.collect()) == sorted(
        (r["id_a"], r["id_b"]) for r in defaulted.collect()
    )


def test_running_totals_tws_gate_or_parity(spark, tmp_path):
    """transformWithStateInPandas twin: when the environment lacks
    protobuf (this container), the operator must fail LOUDLY at build
    with the remedy — not crash the streaming query at runtime. When
    protobuf IS present, it must produce the same per-key totals as
    the applyInPandasWithState form."""
    import pytest

    from datapipeline_template_spark.streaming.windows import (
        running_totals_tws,
        tws_available,
    )

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [("a", 1.0, "2024-01-01 00:00:00"), ("a", 2.0, "2024-01-01 00:01:00"),
         ("b", 5.0, "2024-01-01 00:02:00")],
        "k string, v double, ts_s string",
    ).selectExpr("k", "v", "CAST(ts_s AS TIMESTAMP) AS ts").coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    stream = spark.readStream.schema("k string, v double, ts timestamp").parquet(
        str(src)
    )

    if not tws_available():
        with pytest.raises(RuntimeError, match="protobuf"):
            running_totals_tws(stream, "k", "v", "ts")
        return

    q = (
        running_totals_tws(stream, "k", "v", "ts")
        .writeStream.format("memory")
        .queryName("tws_parity")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["key"]: r["total"] for r in spark.sql("SELECT * FROM tws_parity").collect()}
    assert got == {"a": 3.0, "b": 5.0}


def test_sign_lsh_pairs_empty_store_typed(spark, tmp_path):
    """pairs() on a store no batch ever touched: typed empty frame
    (bigint ids — the engine convention), no exception, and no broad
    except masking real read failures (the path is gated on directory
    existence, like process_batch's vector-store probe)."""
    from pyspark.sql import types as T

    from datapipeline_template_spark.streaming.sign_lsh import (
        IncrementalSignLsh,
    )

    idx = IncrementalSignLsh(str(tmp_path / "empty_store"))
    out = idx.pairs(spark)
    assert out.count() == 0
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        ("id_a", T.LongType()),
        ("id_b", T.LongType()),
    ]


def test_incremental_kmeans_assignment_matches_batch(spark, tmp_path, sf_dir):
    """Clustering-side maintenance (fourth instance of the dd09
    equivalence contract): freeze centroids from a bootstrap fit,
    drain the corpus in TWO AvailableNow passes, and the maintained
    assignment table must equal batch kmeans_assign over every vector
    seen; replays are no-ops, a crash window self-repairs, and a
    maintainer re-created with DIFFERENT centroids refuses the store."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.functions import quantize_vec
    from datapipeline_template_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit,
    )
    from datapipeline_template_spark.streaming.kmeans import (
        IncrementalKmeansAssign,
    )

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    boot = emb.where("vec_id < 100")
    cent = kmeans_fit(boot, "vec_id", "embedding", k=4, n_iter=2)

    schema_str = "vec_id long, embedding array<float>"
    src = tmp_path / "vecs"
    src.mkdir()
    store = str(tmp_path / "km_store")
    ckpt = str(tmp_path / "ckpt")
    inc = IncrementalKmeansAssign(store, cent)

    batch1 = emb.where("vec_id < 150")
    batch2 = emb.where("vec_id >= 150 AND vec_id < 250")
    batch1.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )
    batch2.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )

    seen = emb.where("vec_id < 250")
    q = seen.select("vec_id", quantize_vec("embedding").alias("_qv"))
    want = {
        (r["vec_id"], r["cluster"], r["dist"])
        for r in kmeans_assign(q, "_qv", cent)
        .select("vec_id", "cluster", "dist")
        .collect()
    }
    got = {
        (r["vec_id"], r["cluster"], r["dist"])
        for r in inc.assignments(spark).collect()
    }
    assert got == want and len(got) == 250

    # Replay safety: re-delivering batch 0 under its batch_id no-ops.
    inc.process_batch(batch1, batch_id=0)
    assert inc.assignments(spark).count() == 250

    # Crash-window repair: marker lost after data landed → identical
    # overwrite, no duplicates.
    os.remove(os.path.join(store, "_commits", "1"))
    inc.process_batch(batch2, batch_id=1)
    got2 = {
        (r["vec_id"], r["cluster"], r["dist"])
        for r in inc.assignments(spark).collect()
    }
    assert got2 == want

    # Frozen-centroid guard: different centroids on an existing store
    # must refuse instead of silently mixing assignment regimes.
    other = [[v + 1 for v in cv] for cv in cent]
    with pytest.raises(ValueError, match="different centroids"):
        IncrementalKmeansAssign(store, other)

    # cluster_stats equals the batch aggregate.
    stats = {
        (r["cluster"], r["n_vecs"], r["inertia"])
        for r in inc.cluster_stats(spark).collect()
    }
    want_stats = {
        (r["cluster"], r["n_vecs"], r["inertia"])
        for r in kmeans_assign(q, "_qv", cent)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.sum("dist").alias("inertia"))
        .collect()
    }
    assert stats == want_stats


def test_incremental_semdedup_matches_batch(spark, tmp_path, sf_dir):
    """Fifth instance of the dd09 equivalence contract — semantic
    dedup: drain embeddings in TWO AvailableNow passes against frozen
    centroids; the maintained removal marks must equal batch semdedup
    over every vector seen, replays no-op, a crash window
    self-repairs, and the assignment table stays current from the
    same prepared rows."""
    import os

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.clustering import (
        kmeans_fit,
        semdedup,
    )
    from datapipeline_template_spark.streaming.kmeans import IncrementalSemDeDup

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = kmeans_fit(
        emb.where("vec_id < 100"), "vec_id", "embedding", k=4, n_iter=2
    )

    schema_str = "vec_id long, embedding array<float>"
    src = tmp_path / "vecs"
    src.mkdir()
    store = str(tmp_path / "sd_store")
    ckpt = str(tmp_path / "ckpt")
    inc = IncrementalSemDeDup(store, cent, threshold=0.3)

    batch1 = emb.where("vec_id < 150")
    batch2 = emb.where("vec_id >= 150 AND vec_id < 250")
    batch1.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )
    batch2.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )

    seen = emb.where("vec_id < 250")
    want = {
        (r["cluster"], r["vec_id"])
        for r in semdedup(
            seen, "vec_id", "embedding", centroids=cent, threshold=0.3
        ).collect()
    }
    assert want, "fixture must produce marks"
    got = {(r["cluster"], r["vec_id"]) for r in inc.marks(spark).collect()}
    assert got == want
    assert inc.assignments(spark).count() == 250

    # Replay safety + crash-window repair.
    inc.process_batch(batch1, batch_id=0)
    assert {(r["cluster"], r["vec_id"]) for r in inc.marks(spark).collect()} == want
    os.remove(os.path.join(store, "_commits", "1"))
    inc.process_batch(batch2, batch_id=1)
    assert {(r["cluster"], r["vec_id"]) for r in inc.marks(spark).collect()} == want
    assert inc.assignments(spark).count() == 250


def test_incremental_semdedup_empty_marks_and_threshold_guard(spark, tmp_path):
    """A drained batch with ZERO qualifying pairs writes an empty
    marks partition — marks() must return the empty typed frame, not
    an UNABLE_TO_INFER_SCHEMA error (explicit-schema read); and a
    maintainer re-created with a different THRESHOLD must refuse the
    store (marks are emitted once per pair — mixing thresholds
    silently corrupts the maintained set)."""
    import pytest

    from datapipeline_template_spark.streaming.kmeans import IncrementalSemDeDup

    # Orthogonal vectors: assigned, stored, but no pair >= 0.9.
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    batch = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    store = str(tmp_path / "empty_store")
    inc = IncrementalSemDeDup(store, [[10000, 0]], threshold=0.9)
    inc.process_batch(batch, batch_id=0)

    assert inc.marks(spark).count() == 0
    assert inc.marks(spark).columns == ["cluster", "vec_id"]
    assert inc.assignments(spark).count() == 2

    with pytest.raises(ValueError, match="threshold"):
        IncrementalSemDeDup(store, [[10000, 0]], threshold=0.5)


def test_incremental_d4_matches_batch(spark, tmp_path, sf_dir):
    """Sixth incremental family — D4: SemDeDup marks stream
    once-per-pair (inherited) while prototype marks are re-derived
    per batch for touched clusters only, partitioned by cluster. The
    maintained (cluster, vec_id, reason) set must equal batch d4_prune
    over every vector seen after each drain — including the case
    where a later batch REMOVES a previously-valid prototype mark
    (survivor set shrinks / quota shifts), which exercises the
    sentinel-row partition rewrite. Replays no-op; a crash window
    self-repairs."""
    import os

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.clustering import (
        d4_prune,
        kmeans_fit,
    )
    from datapipeline_template_spark.streaming.kmeans import IncrementalD4

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = kmeans_fit(
        emb.where("vec_id < 100"), "vec_id", "embedding", k=4, n_iter=2
    )

    def batch_want(upper):
        seen = emb.where(f"vec_id < {upper}")
        return {
            (r["cluster"], r["vec_id"], r["reason"])
            for r in d4_prune(
                seen, "vec_id", "embedding", cent, threshold=0.3, proto_pct=20
            ).collect()
        }

    schema_str = "vec_id long, embedding array<float>"
    src = tmp_path / "vecs"
    src.mkdir()
    store = str(tmp_path / "d4_store")
    ckpt = str(tmp_path / "ckpt")
    inc = IncrementalD4(store, cent, threshold=0.3, proto_pct=20)

    batch1 = emb.where("vec_id < 150")
    batch2 = emb.where("vec_id >= 150 AND vec_id < 250")
    batch1.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )
    got1 = {
        (r["cluster"], r["vec_id"], r["reason"])
        for r in inc.d4_marks(spark).collect()
    }
    want1 = batch_want(150)
    assert want1 and got1 == want1

    batch2.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )
    want2 = batch_want(250)
    got2 = {
        (r["cluster"], r["vec_id"], r["reason"])
        for r in inc.d4_marks(spark).collect()
    }
    assert got2 == want2
    # The shrink/shift property this family exists for: some batch-1
    # prototype mark must NOT survive batch 2 verbatim (ranking moved).
    proto1 = {t for t in want1 if t[2] == "prototype"}
    proto2 = {t for t in want2 if t[2] == "prototype"}
    assert proto1 and proto2

    # Replay safety + crash-window repair (both derived tables).
    inc.process_batch(batch1, batch_id=0)
    assert {
        (r["cluster"], r["vec_id"], r["reason"])
        for r in inc.d4_marks(spark).collect()
    } == want2
    os.remove(os.path.join(store, "_commits", "1"))
    inc.process_batch(batch2, batch_id=1)
    assert {
        (r["cluster"], r["vec_id"], r["reason"])
        for r in inc.d4_marks(spark).collect()
    } == want2

    # proto_pct is store state: a different value must refuse loudly.
    import pytest

    with pytest.raises(ValueError, match="proto_pct"):
        IncrementalD4(store, cent, threshold=0.3, proto_pct=30)


def test_incremental_d4_clears_stale_prototype_partition(spark, tmp_path):
    """The stale-partition case the sentinel rows exist for: batch 1
    leaves 5 survivors in a cluster (quota 1 → one prototype mark);
    batch 2's arrival sem-marks two members, shrinking survivors to 4
    (quota 0) — the cluster's prototype partition must be REWRITTEN
    EMPTY, not left standing with the old mark (dynamic partition
    overwrite skips partitions absent from the written frame)."""
    import math

    from datapipeline_template_spark.operators.clustering import d4_prune
    from datapipeline_template_spark.streaming.kmeans import IncrementalD4

    def vec(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    cent = [[10000, 0]]
    # Pairwise >= 30 degrees apart: every cosine < 0.9 -> no sem marks.
    b1 = spark.createDataFrame(
        [(i, vec(d)) for i, d in enumerate([0, 30, 60, 90, 120])],
        "vec_id long, embedding array<double>",
    )
    # 45 degrees: within 15 of BOTH 30 and 60 (cos 15 ~ .966 >= .9).
    b2 = spark.createDataFrame(
        [(10, vec(45))], "vec_id long, embedding array<double>"
    )

    store = str(tmp_path / "d4s")
    inc = IncrementalD4(store, cent, threshold=0.9, proto_pct=20)
    inc.process_batch(b1, batch_id=0)
    assert inc.marks(spark).count() == 0
    p1 = {r["vec_id"] for r in inc.proto_marks(spark).collect()}
    assert p1 == {0}  # highest centroid cosine among 5 survivors

    inc.process_batch(b2, batch_id=1)
    # Pair (45, 30): 30-deg vec has the higher _cs -> marked.
    # Pair (45, 60): the new vec has the higher _cs -> marked.
    assert {r["vec_id"] for r in inc.marks(spark).collect()} == {1, 10}
    # Survivors 4 -> quota (4*20) div 100 = 0: old mark must be gone.
    assert inc.proto_marks(spark).count() == 0

    # And the maintained state still equals the batch operator.
    all_vecs = b1.unionByName(b2)
    want = {
        (r["cluster"], r["vec_id"], r["reason"])
        for r in d4_prune(
            all_vecs, "vec_id", "embedding", cent,
            threshold=0.9, proto_pct=20,
        ).collect()
    }
    got = {
        (r["cluster"], r["vec_id"], r["reason"])
        for r in inc.d4_marks(spark).collect()
    }
    assert got == want


def test_incremental_bpe_vocab_matches_batch(spark, tmp_path, sf_dir):
    """Seventh incremental family — the BPE word vocabulary: drain
    documents in TWO AvailableNow passes; maintained word counts must
    equal a batch count over every text seen, and merges learned from
    the maintained vocab must equal tx20's bpe_train over the batch
    vocab. Replays no-op; a crash window self-repairs. Also pins WHY
    learning re-runs in full: merges learned after batch 1 alone must
    DIFFER from the final table somewhere (counts changed ⇒ argmax
    order changed), so patching merge tables incrementally would be
    wrong."""
    import os

    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.text import bpe_train
    from datapipeline_template_spark.streaming.bpe import IncrementalBpeVocab

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.where("doc_id < 60")
    b2 = docs.where("doc_id >= 60 AND doc_id < 120")

    src = tmp_path / "docs"
    src.mkdir()
    store = str(tmp_path / "bpe_store")
    ckpt = str(tmp_path / "ckpt")
    inc = IncrementalBpeVocab(store)

    b1.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema("doc_id long, text string").parquet(str(src)),
        ckpt,
    )
    merges_after_1 = inc.learn(spark, n_merges=6)
    b2.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema("doc_id long, text string").parquet(str(src)),
        ckpt,
    )

    def batch_vocab(df):
        return (
            df.select(
                F.explode(
                    F.expr("regexp_extract_all(text, '[a-zA-Z]+', 0)")
                ).alias("t")
            )
            .select(F.lower(F.col("t")).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        )

    seen = docs.where("doc_id < 120")
    want_counts = {
        (r["word"], r["freq"]) for r in batch_vocab(seen).collect()
    }
    got_counts = {
        (r["word"], r["freq"]) for r in inc.word_counts(spark).collect()
    }
    assert want_counts and got_counts == want_counts

    bvocab = batch_vocab(seen).select(
        F.concat(
            F.lit(" "),
            F.array_join(F.expr("regexp_extract_all(word, '[a-z]', 0)"), " "),
            F.lit(" "),
        ).alias("rep"),
        "freq",
    )
    want_merges, _ = bpe_train(bvocab, "rep", "freq", n_merges=6)
    assert inc.learn(spark, n_merges=6) == want_merges
    # Counts changed between drains ⇒ the learned table is not a
    # patchable prefix extension — full re-learn is the contract.
    assert merges_after_1 != want_merges

    # Replay no-op + crash-window repair.
    inc.process_batch(b1, batch_id=0)
    assert {
        (r["word"], r["freq"]) for r in inc.word_counts(spark).collect()
    } == want_counts
    os.remove(os.path.join(store, "_commits", "1"))
    inc.process_batch(b2, batch_id=1)
    assert {
        (r["word"], r["freq"]) for r in inc.word_counts(spark).collect()
    } == want_counts
    assert inc.learn(spark, n_merges=6) == want_merges


@pytest.mark.slow
def test_streaming_curation_matches_batch_pipe12(spark, tmp_path, sf_dir):
    """EIGHTH incremental family — the curation funnel composed from
    the others: drain (doc, embedding) rows in two AvailableNow
    passes; after every drain the maintained survivor set must equal
    the batch seven-stage set under the same frozen artifacts
    (batch_survivors), and at the final drain — where the seen corpus
    IS the artifact-deriving corpus — it must equal pipe12's f_sem
    survivor set verbatim. Replays no-op; a crash window (top marker
    AND a sub-maintainer marker lost) self-repairs."""
    import os

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.clustering import (
        k_for_corpus,
        kmeans_fit,
    )
    from datapipeline_template_spark.operators.text import logodds_weights
    from datapipeline_template_spark.queries.pipeline import (
        _curation_flags_extended,
    )
    from datapipeline_template_spark.streaming.curation import (
        StreamingCuration,
        batch_survivors,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    emb = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    full = docs.join(emb, on="doc_id").localCheckpoint(eager=True)

    # Frozen artifacts, derived from the full corpus exactly as pipe12
    # derives them internally (deterministic fit + sign weights).
    cent = kmeans_fit(
        emb, "doc_id", "embedding", k=k_for_corpus(emb.count()), n_iter=4
    )
    weights = logodds_weights(
        docs, "doc_id", "text", F.col("source").isin("src0", "src1")
    ).localCheckpoint(eager=True)

    schema_str = (
        "doc_id long, text string, source string, n_chars long, "
        "embedding array<float>"
    )
    src = tmp_path / "rows"
    src.mkdir()
    store = str(tmp_path / "cur_store")
    ckpt = str(tmp_path / "ckpt")
    inc = StreamingCuration(store, cent, weights)

    batch1 = full.where("doc_id < 30")
    batch2 = full.where("doc_id >= 30")

    def _ids(df):
        return {(r["doc_id"], r["source"]) for r in df.collect()}

    batch1.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )
    want_mid = _ids(
        batch_survivors(
            batch1.select("doc_id", "text", "source", "n_chars"),
            batch1.select("doc_id", "embedding"),
            cent,
            weights,
        )
    )
    assert want_mid, "mid-drain fixture must produce survivors"
    assert _ids(inc.survivors(spark)) == want_mid

    batch2.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )
    want_full = _ids(
        batch_survivors(
            docs, emb, cent, weights
        )
    )
    got_full = _ids(inc.survivors(spark))
    assert got_full == want_full

    # The seen corpus now IS the artifact-deriving corpus: the
    # maintained set equals the registry pipe12 pass verbatim.
    pipe12 = _ids(
        _curation_flags_extended(spark, sf_dir)
        .where(F.col("f_sem"))
        .select("doc_id", "source")
    )
    assert got_full == pipe12
    # The expensive stages must have actually fired on this fixture.
    assert inc.lsh.pairs(spark).count() > 0
    assert inc.sem.marks(spark).count() > 0
    assert len(got_full) < full.count()

    # Replay no-op, then a crash window: the composer's marker AND one
    # sub-maintainer's marker lost — the replay repairs both.
    inc.process_batch(batch1, batch_id=0)
    assert _ids(inc.survivors(spark)) == want_full
    os.remove(os.path.join(store, "_commits", "1"))
    os.remove(os.path.join(store, "lsh", "_commits", "1"))
    inc.process_batch(batch2, batch_id=1)
    assert _ids(inc.survivors(spark)) == want_full


def test_streaming_curation_weight_regime_guard(spark, tmp_path, sf_dir):
    """A maintainer re-created over an existing store with a DIFFERENT
    classifier weight table must refuse loudly (scores are written
    once per doc — mixing weight regimes corrupts the set)."""
    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.clustering import kmeans_fit
    from datapipeline_template_spark.operators.text import logodds_weights
    from datapipeline_template_spark.streaming.curation import StreamingCuration

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    cent = kmeans_fit(emb, "vec_id", "embedding", k=4, n_iter=2)
    w1 = logodds_weights(
        docs, "doc_id", "text", F.col("source").isin("src0", "src1")
    )
    w2 = logodds_weights(
        docs, "doc_id", "text", F.col("source").isin("src2")
    )
    import pytest

    store = str(tmp_path / "guard_store")
    StreamingCuration(store, cent, w1)
    StreamingCuration(store, cent, w1)  # same regime: fine
    with pytest.raises(ValueError, match="different classifier weight"):
        StreamingCuration(store, cent, w2)


def test_streaming_curation_null_embeddings(spark, tmp_path, sf_dir):
    """Documents without an embedding (at sf0.1 only 40% carry one)
    must stream through the text stages and never be sem-marked —
    the batch pass's left-join semantics. Streamed survivors over a
    half-embedded corpus must equal batch_survivors fed the full doc
    set and the embedded subset."""
    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.clustering import kmeans_fit
    from datapipeline_template_spark.operators.text import logodds_weights
    from datapipeline_template_spark.streaming.curation import (
        StreamingCuration,
        batch_survivors,
    )

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    emb = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    ).where("doc_id % 2 = 0")  # synthetic half-embedded corpus
    full = docs.join(emb, on="doc_id", how="left").localCheckpoint(eager=True)
    cent = kmeans_fit(emb, "doc_id", "embedding", k=8, n_iter=2)
    weights = logodds_weights(
        docs, "doc_id", "text", F.col("source").isin("src0", "src1")
    ).localCheckpoint(eager=True)

    inc = StreamingCuration(str(tmp_path / "null_store"), cent, weights)
    inc.process_batch(full.where("doc_id < 25"), batch_id=0)
    inc.process_batch(full.where("doc_id >= 25"), batch_id=1)

    got = {(r["doc_id"], r["source"]) for r in inc.survivors(spark).collect()}
    want = {
        (r["doc_id"], r["source"])
        for r in batch_survivors(docs, emb, cent, weights).collect()
    }
    assert got == want
    assert want, "fixture must produce survivors"
    # Unembedded docs are never sem-marked.
    marked = {r["vec_id"] for r in inc.sem.marks(spark).collect()}
    assert all(v % 2 == 0 for v in marked)

def test_incremental_ivfpq_matches_batch(spark, tmp_path, sf_dir):
    """Ninth instance of the dd09 equivalence contract — ANN-index
    maintenance: freeze a coarse quantizer + PQ codebooks from a
    bootstrap slice, drain the corpus in TWO AvailableNow passes, and
    the maintained IVF-PQ index must equal the batch-built index over
    every vector seen; SEARCH over the maintained index must equal
    ivf_pq_adc_topk over the batch index (the read the index exists
    for); replays no-op, a crash window self-repairs, and a maintainer
    re-created with different frozen artifacts refuses the store."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.functions import quantize_vec
    from datapipeline_template_spark.operators.clustering import (
        ivf_pq_adc_topk,
        kmeans_assign,
        kmeans_fit,
        pq_codebooks,
        pq_encode,
    )
    from datapipeline_template_spark.streaming.ivfpq import IncrementalIvfPq

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    boot = emb.where("vec_id < 100")
    cent = kmeans_fit(boot, "vec_id", "embedding", k=4, n_iter=2)
    books = pq_codebooks(
        boot, "vec_id", "embedding", m=4, sub_dim=16, k_sub=8, n_iter=1
    )

    schema_str = "vec_id long, embedding array<float>"
    src = tmp_path / "vecs"
    src.mkdir()
    store = str(tmp_path / "pq_store")
    ckpt = str(tmp_path / "ckpt")
    inc = IncrementalIvfPq(store, cent, books, sub_dim=16)

    batch1 = emb.where("vec_id < 150")
    batch2 = emb.where("vec_id >= 150 AND vec_id < 250")
    batch1.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )
    batch2.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )

    seen = emb.where("vec_id < 250")
    cells = kmeans_assign(
        seen.select("vec_id", quantize_vec("embedding").alias("_cq")),
        "_cq",
        cent,
    ).select("vec_id", "cluster")
    batch_index = pq_encode(
        seen, "vec_id", "embedding", books, sub_dim=16
    ).join(cells, "vec_id")
    cols = ["vec_id", "cluster", "c0", "c1", "c2", "c3"]
    want = {tuple(r[c] for c in cols) for r in batch_index.collect()}
    got = {tuple(r[c] for c in cols) for r in inc.index(spark).collect()}
    assert got == want and len(got) == 250

    # Search parity: the maintained index answers retrieval exactly
    # like the batch-built one.
    qs = emb.where("vec_id < 5")
    want_ret = {
        (r["query_id"], r["neighbor_id"], r["adc"])
        for r in ivf_pq_adc_topk(
            batch_index, qs, "vec_id", "embedding", cent, books,
            sub_dim=16, k=3, n_probe=2,
        ).collect()
    }
    got_ret = {
        (r["query_id"], r["neighbor_id"], r["adc"])
        for r in inc.search(spark, qs, k=3, n_probe=2).collect()
    }
    assert got_ret == want_ret and len(got_ret) == 15

    # Replay safety: re-delivering batch 0 under its batch_id no-ops.
    inc.process_batch(batch1, batch_id=0)
    assert inc.index(spark).count() == 250

    # Crash-window repair: marker lost after data landed → identical
    # overwrite, no duplicates.
    os.remove(os.path.join(store, "_commits", "1"))
    inc.process_batch(batch2, batch_id=1)
    got2 = {tuple(r[c] for c in cols) for r in inc.index(spark).collect()}
    assert got2 == want

    # Frozen-artifact guard: different codebooks on an existing store
    # must refuse instead of silently mixing encoding regimes.
    other = [[[v + 1 for v in cv] for cv in cb] for cb in books]
    with pytest.raises(ValueError, match="different frozen artifacts"):
        IncrementalIvfPq(store, cent, other, sub_dim=16)

    # Empty store: typed empty frame, never a schema-inference read.
    empty = IncrementalIvfPq(
        str(tmp_path / "fresh"), cent, books, sub_dim=16
    )
    assert empty.index(spark).count() == 0
    assert empty.index(spark).columns == cols


def test_incremental_decon_matches_batch_flags(spark, tmp_path, sf_dir):
    """Eleventh incremental family: with the eval set FROZEN (src0
    docs) and the corpus drained in TWO AvailableNow passes, the
    maintained flags must equal batch decontaminate_flags over every
    document seen — per-doc overlap counts depend only on the doc and
    the frozen eval set, so flags are purely additive. Replays are
    marker-skip no-ops; a lost marker self-repairs; a maintainer
    opened against a DIFFERENT eval set refuses."""
    import os

    import pytest as _pytest

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.dedup import (
        decontaminate_flags,
        shingle_tokens,
    )
    from datapipeline_template_spark.operators.text import tokenize
    from datapipeline_template_spark.streaming.decon import IncrementalDecon

    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    ev_docs = docs.where(F.col("source") == "src0").select("doc_id", "text")
    corpus = docs.where(F.col("source") != "src0").select("doc_id", "text")

    schema_str = "doc_id long, text string"
    src = tmp_path / "docs"
    src.mkdir()
    store = str(tmp_path / "decon_store")
    ckpt = str(tmp_path / "ckpt")

    inc = IncrementalDecon(store, eval_docs=ev_docs, k=5)

    b1 = corpus.where(F.col("doc_id") % 2 == 0)
    b2 = corpus.where(F.col("doc_id") % 2 == 1)
    b1.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )
    b2.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )

    sh = lambda d: d.select(  # noqa: E731
        "doc_id", shingle_tokens(tokenize("text"), k=5).alias("_sh")
    )
    want = {
        (r["doc_id"], r["n_shared"])
        for r in decontaminate_flags(
            sh(corpus), sh(ev_docs), "doc_id", "_sh"
        ).collect()
    }
    assert want, "fixture must produce contaminated docs at k=5"
    got = {(r["doc_id"], r["n_shared"]) for r in inc.flags(spark).collect()}
    assert got == want

    # Replay: marker-skip no-op.
    inc.process_batch(b1, batch_id=0)
    assert {(r["doc_id"], r["n_shared"]) for r in inc.flags(spark).collect()} == want
    # Crash window: lost marker, data landed -> overwrite repairs.
    os.remove(os.path.join(store, "_commits", "1"))
    inc.process_batch(b2, batch_id=1)
    assert {(r["doc_id"], r["n_shared"]) for r in inc.flags(spark).collect()} == want

    # Frozen-artifact guard: a different eval set (or width) refuses.
    other = docs.where(F.col("source") == "src1").select("doc_id", "text")
    with _pytest.raises(ValueError, match="different"):
        IncrementalDecon(store, eval_docs=other, k=5)
    with _pytest.raises(ValueError, match="different"):
        IncrementalDecon(store, eval_docs=ev_docs, k=3)
    # Reopening WITHOUT eval_docs (the normal resume path) is fine.
    assert IncrementalDecon(store).flags(spark).count() == len(want)


def test_incremental_kmv_matches_batch_sketch(spark, tmp_path, sf_dir):
    """Twelfth incremental family: drain events in TWO AvailableNow
    passes; the maintained per-event_type sketches and estimates must
    equal the batch kmv_sketch/kmv_estimate over every row seen — the
    k-min-of-union identity makes the merge EXACT, not approximate.
    Replays are marker-skip no-ops; a crash-after-write replay rewrites
    the identical partition (partials are pure functions of the batch)."""
    import os

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.sketch import (
        kmv_estimate,
        kmv_sketch,
    )
    from datapipeline_template_spark.streaming.kmv import IncrementalKmv

    k = 8  # sf0.001 has 15 distinct users per type: k=8 exercises the
    # estimator branch (size == k), not the exact small-set branch
    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    src = tmp_path / "ev"
    src.mkdir()
    store = str(tmp_path / "kmv_store")
    ckpt = str(tmp_path / "ckpt")
    inc = IncrementalKmv(store, group_col="event_type", value_col="user_id", k=k)

    b1 = ev.where(F.col("event_id") % 2 == 0)
    b2 = ev.where(F.col("event_id") % 2 == 1)
    schema_str = "event_id long, event_type string, user_id long"
    b1.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )
    b2.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )

    want_sk = {
        r["event_type"]: r["kmv"]
        for r in kmv_sketch(ev, "event_type", "user_id", k=k).collect()
    }
    assert want_sk and all(len(v) == k for v in want_sk.values())
    got_sk = {r["event_type"]: r["kmv"] for r in inc.sketches(spark).collect()}
    assert got_sk == want_sk

    want_est = {
        r["event_type"]: r["e"]
        for r in kmv_sketch(ev, "event_type", "user_id", k=k)
        .select("event_type", kmv_estimate("kmv", k).alias("e"))
        .collect()
    }
    got_est = {
        r["event_type"]: r["distinct_estimate"]
        for r in inc.estimates(spark).collect()
    }
    assert got_est == want_est

    # Replay safety: same batch id is a marker-skip no-op.
    inc.process_batch(b1, batch_id=0)
    assert {r["event_type"]: r["kmv"] for r in inc.sketches(spark).collect()} == want_sk

    # Crash window: marker for batch 1 lost after data landed —
    # reprocessing rewrites the identical partial partition.
    os.remove(os.path.join(store, "_commits", "1"))
    inc.process_batch(b2, batch_id=1)
    assert {r["event_type"]: r["kmv"] for r in inc.sketches(spark).collect()} == want_sk


def test_incremental_kmv_param_guard_and_empty_state(spark, tmp_path):
    """A maintainer pointed at an existing store must present the SAME
    (k, group_col, value_col) or refuse; before any drain the
    sketches/estimates are typed empties."""
    import pytest

    from datapipeline_template_spark.streaming.kmv import IncrementalKmv

    store = str(tmp_path / "kmv_store")
    inc = IncrementalKmv(store, group_col="g", value_col="v", k=8)
    assert inc.sketches(spark).columns == ["g", "kmv"]
    assert inc.estimates(spark).count() == 0

    with pytest.raises(ValueError, match="different parameters|built with"):
        IncrementalKmv(store, group_col="g", value_col="v", k=9)
    with pytest.raises(ValueError, match="built with"):
        IncrementalKmv(store, group_col="other", value_col="v", k=8)
    # Same params re-attach cleanly.
    IncrementalKmv(store, group_col="g", value_col="v", k=8)


def test_incremental_surprisal_matches_batch_tx23(spark, tmp_path, sf_dir):
    """Thirteenth incremental family: drain documents in TWO
    AvailableNow passes; the maintained scores must equal batch
    unigram_surprisal over every document seen, and bands() must equal
    tx23's banding — the LM counts are additive and stored doc-token
    profiles re-score via ONE join (no re-tokenize). Replays are
    marker-skip no-ops; crash-after-write replays rewrite identical
    partitions (pure functions of the batch)."""
    import os

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.text import unigram_surprisal
    from datapipeline_template_spark.streaming.surprisal import (
        IncrementalSurprisal,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    src = tmp_path / "docs"
    src.mkdir()
    store = str(tmp_path / "sp_store")
    ckpt = str(tmp_path / "ckpt")
    inc = IncrementalSurprisal(store)

    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    schema_str = "doc_id long, text string"
    b1.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )
    mid = {r["doc_id"]: (r["n_tokens"], r["sum_mb"]) for r in inc.scores(spark).collect()}
    want_mid = {
        r["doc_id"]: (r["n_tokens"], r["sum_mb"])
        for r in unigram_surprisal(b1).collect()
    }
    assert mid == want_mid  # LM over batch-1 corpus only

    b2.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )
    want = {
        r["doc_id"]: (r["n_tokens"], r["sum_mb"])
        for r in unigram_surprisal(docs).collect()
    }
    got = {r["doc_id"]: (r["n_tokens"], r["sum_mb"]) for r in inc.scores(spark).collect()}
    assert got == want
    # Old docs' scores REFRESHED against the grown LM (not frozen).
    changed = [d for d in mid if mid[d] != got[d]]
    assert changed, "corpus growth must shift at least one stored score"

    # bands() == tx23's spec over the same corpus.
    from datapipeline_template_spark.queries import load_all

    want_bands = {
        r["doc_id"]: r["band"]
        for r in load_all()["tx23_surprisal_bands"].fn(spark, sf_dir).collect()
    }
    got_bands = {r["doc_id"]: r["band"] for r in inc.bands(spark).collect()}
    assert got_bands == want_bands

    # Replay safety + crash window.
    inc.process_batch(b1, batch_id=0)
    os.remove(os.path.join(store, "_commits", "1"))
    inc.process_batch(b2, batch_id=1)
    got2 = {r["doc_id"]: (r["n_tokens"], r["sum_mb"]) for r in inc.scores(spark).collect()}
    assert got2 == want

    # Empty state: typed empties before any drain.
    fresh = IncrementalSurprisal(str(tmp_path / "fresh"))
    assert fresh.scores(spark).columns == ["doc_id", "n_tokens", "sum_mb"]
    assert fresh.bands(spark).count() == 0


@pytest.mark.slow
def test_incremental_dsir_matches_batch_tx25(spark, tmp_path, sf_dir):
    """Fourteenth incremental family: drain documents in TWO
    AvailableNow passes; maintained scores must equal batch
    dsir_logratio over every document seen (BOTH LMs and the
    smoothing denominators derive from merged additive counts), and
    selection() must equal dsir_select over the same scores. Replays
    are marker-skip no-ops; crash-after-write replays rewrite
    identical partitions; mismatched targets refuse to attach."""
    import os

    import pytest

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.text import (
        dsir_logratio,
        dsir_select,
    )
    from datapipeline_template_spark.streaming.dsir import IncrementalDsir

    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    src = tmp_path / "docs"
    src.mkdir()
    store = str(tmp_path / "ir_store")
    ckpt = str(tmp_path / "ckpt")
    inc = IncrementalDsir(store, target_source="src1")

    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    schema_str = "doc_id long, text string, source string"
    b1.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )
    mid = {
        r["doc_id"]: (r["n_tokens"], r["sum_mb"])
        for r in inc.scores(spark).collect()
    }
    want_mid = {
        r["doc_id"]: (r["n_tokens"], r["sum_mb"])
        for r in dsir_logratio(b1, "src1").collect()
    }
    assert mid == want_mid  # LMs over batch-1 corpus only

    b2.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )
    want = {
        r["doc_id"]: (r["n_tokens"], r["sum_mb"])
        for r in dsir_logratio(docs, "src1").collect()
    }
    got = {
        r["doc_id"]: (r["n_tokens"], r["sum_mb"])
        for r in inc.scores(spark).collect()
    }
    assert got == want
    # Old docs' scores REFRESHED against the grown LMs (not frozen).
    changed = [d for d in mid if mid[d] != got[d]]
    assert changed, "corpus growth must shift at least one stored score"

    # selection() == the shared dsir_select spec (and tx25 at sf0.01).
    want_sel = {
        r["doc_id"]: r["kept"]
        for r in dsir_select(dsir_logratio(docs, "src1")).collect()
    }
    got_sel = {r["doc_id"]: r["kept"] for r in inc.selection(spark).collect()}
    assert got_sel == want_sel
    assert 0 < sum(got_sel.values()) < len(got_sel)

    # Replay safety + crash window.
    inc.process_batch(b1, batch_id=0)
    os.remove(os.path.join(store, "_commits", "1"))
    inc.process_batch(b2, batch_id=1)
    got2 = {
        r["doc_id"]: (r["n_tokens"], r["sum_mb"])
        for r in inc.scores(spark).collect()
    }
    assert got2 == want

    # Param guard: a different target must never merge into this store.
    with pytest.raises(ValueError, match="built with"):
        IncrementalDsir(store, target_source="src2")
    IncrementalDsir(store, target_source="src1")  # same params re-attach

    # Empty state: typed empties before any drain.
    fresh = IncrementalDsir(str(tmp_path / "fresh"), target_source="src1")
    assert fresh.scores(spark).columns == ["doc_id", "n_tokens", "sum_mb"]
    assert fresh.selection(spark).count() == 0


@pytest.mark.slow
def test_incremental_bm25_matches_batch(spark, tmp_path, sf_dir):
    """17th incremental family: every BM25 index component is an
    additive pure function of each (disjoint-doc) batch, so topk()
    over the maintained index equals the batch operator over the
    union of drained batches at ANY drain point — INCLUDING the
    global idf shift each new batch causes (df and N both move);
    replays are no-ops; a crash window rewrites identical partitions;
    constant/column mismatches refuse to merge."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.text import bm25_topk
    from datapipeline_template_spark.streaming.bm25 import IncrementalBm25

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    queries = docs.where(F.col("doc_id") < 5)
    src = tmp_path / "rows"
    src.mkdir()
    store = str(tmp_path / "bm25_store")
    ckpt = str(tmp_path / "ckpt")
    inc = IncrementalBm25(store)

    def ranked(df):
        return {
            (r["query_id"], r["rk"]): (r["neighbor_id"], r["score"])
            for r in df.collect()
        }

    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    b1.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema("doc_id long, text string").parquet(str(src)),
        ckpt,
    )
    mid = ranked(inc.topk(queries, k=3))
    want_mid = ranked(bm25_topk(b1, queries, "doc_id", "text", k=3))
    assert mid == want_mid and len(mid) > 0

    b2.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema("doc_id long, text string").parquet(str(src)),
        ckpt,
    )
    want = ranked(bm25_topk(docs, queries, "doc_id", "text", k=3))
    got = ranked(inc.topk(queries, k=3))
    assert got == want
    # The idf shift is real: the grown corpus changes the mid ranking.
    assert got != mid

    # Replay safety + crash window.
    inc.process_batch(b1, batch_id=0)
    os.remove(os.path.join(store, "_commits", "1"))
    inc.process_batch(b2, batch_id=1)
    assert ranked(inc.topk(queries, k=3)) == want

    # Param guard + empty state. The stopword-prune operating point is
    # part of the pinned spec — a store built at the default 1/2 ratio
    # must refuse to serve as a 9/10 (tx27b-point) index.
    with pytest.raises(ValueError, match="built with"):
        IncrementalBm25(store, k1_m=1500)
    with pytest.raises(ValueError, match="built with"):
        IncrementalBm25(store, max_df_num=9, max_df_den=10)
    IncrementalBm25(store)
    fresh = IncrementalBm25(str(tmp_path / "fresh"))
    assert fresh.topk(queries, k=3).count() == 0

    # A store PINNED at tx27b's 9/10 prune point reproduces the batch
    # operator at that point from streaming state alone (the ADVICE-r09
    # gap: topk() used to hardwire 1/2 regardless of intent).
    dense = IncrementalBm25(
        str(tmp_path / "dense"), max_df_num=9, max_df_den=10
    )
    dense.process_batch(b1, batch_id=0)
    dense.process_batch(b2, batch_id=1)
    want_dense = ranked(
        bm25_topk(docs, queries, "doc_id", "text", k=3,
                  max_df_num=9, max_df_den=10)
    )
    got_dense = ranked(dense.topk(queries, k=3))
    assert got_dense == want_dense and len(got_dense) > 0
    # The operating point is live: 9/10 keeps terms 1/2 prunes.
    assert got_dense != got


def test_incremental_kmv_answers_rolling_windows_by_merge(spark, tmp_path, sf_dir):
    """The q48 composition off STREAMING state: per-hour KMV sketches
    maintained by IncrementalKmv answer trailing-window distinct
    questions by merge alone — the rolling estimates computed from the
    maintained store equal q48's batch answer over the same events,
    with the raw stream never rescanned at read time."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.queries import load_all
    from datapipeline_template_spark.streaming.kmv import IncrementalKmv

    k, hours = 64, 24
    ev = table(spark, sf_dir, "events").select(
        F.expr("CAST(unix_micros(ts) DIV 3600000000 AS STRING)").alias("hb"),
        "user_id",
    )
    inc = IncrementalKmv(
        str(tmp_path / "store"), group_col="hb", value_col="user_id", k=k
    )
    inc.process_batch(ev.where(F.col("user_id") % 2 == 0), batch_id=0)
    inc.process_batch(ev.where(F.col("user_id") % 2 == 1), batch_id=1)

    sk = inc.sketches(spark).select(F.col("hb").cast("long").alias("hb"), "kmv")
    tgt = sk.select(F.col("hb").alias("t")).distinct()
    merged = (
        sk.select(
            F.explode(F.sequence(F.col("hb"), F.col("hb") + hours - 1)).alias("t"),
            "kmv",
        )
        .join(tgt, "t", "left_semi")
        .groupBy("t")
        .agg(
            F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("kmv")))),
                1,
                k,
            ).alias("kmv")
        )
    )
    from datapipeline_template_spark.operators.sketch import kmv_estimate

    got = {
        r["t"]: r["est"]
        for r in merged.select("t", kmv_estimate("kmv", k).alias("est")).collect()
    }
    want = {
        r["hour_idx"]: r["kmv_users"]
        for r in load_all()["q48_kmv_rolling_distinct"].fn(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_streaming_manifest_matches_batch_pipe15_pipe17(spark, tmp_path, sf_dir):
    """The composed-manifest maintainer (StreamingManifest — the r9
    verdict's composition of StreamingCuration + IncrementalDecon +
    IncrementalDsir): drain (doc, embedding) rows in two AvailableNow
    passes; after EVERY drain the maintained decon/DSIR keep sets
    equal the batch compositions under the same frozen artifacts
    (batch_manifest_keep), and at the final drain — where the seen
    corpus IS the artifact-deriving corpus — manifest() equals the
    registry pipe15 / pipe17 rows VERBATIM. Replays no-op; a crash
    window (composer marker + one sub-maintainer marker lost)
    self-repairs; eval/target config mismatches refuse to merge."""
    import os

    import pytest

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.clustering import (
        k_for_corpus,
        kmeans_fit,
    )
    from datapipeline_template_spark.operators.text import logodds_weights
    from datapipeline_template_spark.queries import load_all
    from datapipeline_template_spark.streaming.curation import (
        StreamingManifest,
        batch_manifest_keep,
    )

    registry = load_all()
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    emb = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    full = docs.join(emb, on="doc_id").localCheckpoint(eager=True)
    cent = kmeans_fit(
        emb, "doc_id", "embedding", k=k_for_corpus(emb.count()), n_iter=4
    )
    weights = logodds_weights(
        docs, "doc_id", "text", F.col("source").isin("src0", "src1")
    ).localCheckpoint(eager=True)
    eval_docs = docs.where(F.col("source") == "src0").select(
        "doc_id", "text"
    ).localCheckpoint(eager=True)

    schema_str = (
        "doc_id long, text string, source string, n_chars long, "
        "embedding array<float>"
    )
    src = tmp_path / "rows"
    src.mkdir()
    store = str(tmp_path / "mf_store")
    ckpt = str(tmp_path / "ckpt")
    inc = StreamingManifest(store, cent, weights, eval_docs)

    def _ids(df):
        return {r["doc_id"] for r in df.select("doc_id").collect()}

    batch1 = full.where("doc_id < 30")
    batch2 = full.where("doc_id >= 30")
    batch1.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )
    b1docs = batch1.select("doc_id", "text", "source", "n_chars")
    b1emb = batch1.select("doc_id", "embedding")
    for gate in ("decon", "dsir", "budget"):
        want = _ids(
            batch_manifest_keep(
                b1docs, b1emb, cent, weights, eval_docs, gate=gate
            )
        )
        got = _ids(
            {
                "decon": inc.decon_keep,
                "dsir": inc.dsir_keep,
            }[gate](spark)
            if gate != "budget"
            else inc.budget_keep(spark, sf_dir)
        )
        assert got == want, gate
    assert _ids(inc.decon_keep(spark)), "mid-drain fixture must keep docs"

    batch2.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema_str).parquet(str(src)), ckpt
    )

    def _rows(df):
        return sorted(tuple(r) for r in df.collect())

    # The seen corpus IS the artifact-deriving corpus: the maintained
    # manifests equal the registry compositions verbatim.
    want15 = _rows(registry["pipe15_decontaminated_manifest"].fn(spark, sf_dir))
    got15 = _rows(inc.manifest(spark, sf_dir, gate="decon"))
    assert got15 == want15 and len(got15) > 0
    want17 = _rows(registry["pipe17_dsir_manifest"].fn(spark, sf_dir))
    got17 = _rows(inc.manifest(spark, sf_dir, gate="dsir"))
    assert got17 == want17 and len(got17) > 0
    # The DSIR gate is live: it must strictly tighten the decon set.
    assert len(got17) < len(got15)
    # pipe18's budget gate: maintained manifest == the registry row
    # verbatim (same frozen artifacts at the deriving corpus).
    want18 = _rows(registry["pipe18_budget_manifest"].fn(spark, sf_dir))
    got18 = _rows(inc.manifest(spark, sf_dir, gate="budget"))
    assert got18 == want18 and len(got18) > 0

    # Replay no-op + crash window (composer + one sub-maintainer).
    keep_before = _ids(inc.dsir_keep(spark))
    inc.process_batch(batch1, batch_id=0)
    os.remove(os.path.join(store, "_commits", "1"))
    os.remove(os.path.join(store, "decon", "_commits", "1"))
    inc.process_batch(batch2, batch_id=1)
    assert _ids(inc.dsir_keep(spark)) == keep_before

    # Config guard: a different eval source or target refuses to merge.
    with pytest.raises(ValueError, match="built with"):
        StreamingManifest(store, cent, weights, eval_docs, eval_source="src1")


def test_incremental_weighted_sample_matches_batch(spark, tmp_path, sf_dir):
    """19th incremental family: the race key is a pure function of
    (key, weight), so per-batch top-k winner sets merge to EXACTLY the
    batch weighted sample over the union of drained batches at any
    drain point (top-k-of-top-k's); replays are no-ops; a crash window
    rewrites an identical partition; a key re-sent with the same
    weight collapses via DISTINCT instead of double-occupying the
    winner set; parameter mismatches refuse to merge."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.packing import (
        whitespace_token_count,
    )
    from datapipeline_template_spark.operators.sampling import (
        weighted_sample_topk,
    )
    from datapipeline_template_spark.streaming.weighted_sample import (
        IncrementalWeightedSample,
    )

    docs = (
        table(spark, sf_dir, "documents")
        .select(
            "source",
            "doc_id",
            whitespace_token_count(F.col("text")).alias("n_tok"),
        )
        .where(F.col("n_tok") > 0)
    )
    src = tmp_path / "rows"
    src.mkdir()
    store = str(tmp_path / "ws_store")
    ckpt = str(tmp_path / "ckpt")
    k = 9
    inc = IncrementalWeightedSample(
        store, key_col="doc_id", weight_col="n_tok", stratum_col="source", k=k
    )

    def winners(df):
        return sorted(
            (r["source"], r["rk"], r["doc_id"], r["race"])
            for r in df.collect()
        )

    def batch_want(rows):
        return winners(
            weighted_sample_topk(
                rows, key="doc_id", weight_col="n_tok", k=k,
                stratum_cols="source",
            ).select("source", "rk", "doc_id", "race")
        )

    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    schema = "source string, doc_id bigint, n_tok bigint"

    b1.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema).parquet(str(src)), ckpt
    )
    assert winners(
        inc.sample(spark).select("source", "rk", "doc_id", "race")
    ) == batch_want(b1)

    b2.coalesce(1).write.mode("append").parquet(str(src))
    inc.run_available_now(
        spark.readStream.schema(schema).parquet(str(src)), ckpt
    )
    want = batch_want(docs)
    assert winners(
        inc.sample(spark).select("source", "rk", "doc_id", "race")
    ) == want

    # Replay no-op + crash window (marker lost after write).
    inc.process_batch(b1, batch_id=0)
    os.remove(os.path.join(store, "_commits", "1"))
    inc.process_batch(b2, batch_id=1)
    assert winners(
        inc.sample(spark).select("source", "rk", "doc_id", "race")
    ) == want

    # A re-sent key (same weight) in a LATER batch must not occupy two
    # winner slots: the merged sample is unchanged.
    inc.process_batch(b1.limit(50), batch_id=2)
    assert winners(
        inc.sample(spark).select("source", "rk", "doc_id", "race")
    ) == want

    # Param guard + empty state.
    with pytest.raises(ValueError, match="built with"):
        IncrementalWeightedSample(store, key_col="doc_id",
                                  weight_col="n_tok",
                                  stratum_col="source", k=k + 1)
    IncrementalWeightedSample(store, key_col="doc_id", weight_col="n_tok",
                              stratum_col="source", k=k)
    fresh = IncrementalWeightedSample(str(tmp_path / "fresh"))
    assert fresh.sample(spark).count() == 0

    # Non-string stratum refused at the write (read side pins string).
    bad = spark.createDataFrame([(1, 2, 3)], "source long, doc_id long, n_tok long")
    with pytest.raises(TypeError, match="string strata"):
        IncrementalWeightedSample(
            str(tmp_path / "badtype")
        ).process_batch(bad, batch_id=0)


@pytest.mark.slow
def test_incremental_pagerank_matches_batch(spark, tmp_path):
    """22nd incremental family: the edge list and out-degrees are
    additive per batch (pure functions of the batch, marker-guarded);
    the ranks are NOT additive (one new edge re-routes rank mass
    globally), so ranks() re-runs the exact-integer walk on the
    maintained graph fed the MERGED degree partials — bit-equal to
    the batch pagerank_integer over the union of drained batches at
    any drain point, including after a crash-window replay. Param
    mismatches refuse; NULL endpoints refuse at write time."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from datapipeline_template_spark.operators.graph import pagerank_integer
    from datapipeline_template_spark.streaming.pagerank import (
        IncrementalPageRank,
    )

    # Undirected ring of 12 + a hub node 99 wired to the even ring
    # nodes — enough asymmetry that ranks are degree- AND walk-driven.
    ring = [(i, (i + 1) % 12) for i in range(12)]
    hub = [(99, i) for i in range(0, 12, 2)]
    directed = ring + hub
    undirected = directed + [(b, a) for (a, b) in directed]
    edges = spark.createDataFrame(undirected, "src long, dst long")
    b1 = edges.where(F.col("src") % 2 == 0)
    b2 = edges.where(F.col("src") % 2 == 1)

    store = str(tmp_path / "pr_store")
    inc = IncrementalPageRank(store, iters=4)

    def rset(df):
        return sorted(map(tuple, df.collect()))

    # Empty state reads empty with the right schema.
    assert inc.ranks(spark).count() == 0

    inc.process_batch(b1, batch_id=0)
    assert rset(inc.ranks(spark)) == rset(pagerank_integer(b1, iters=4))

    inc.process_batch(b2, batch_id=1)
    want = rset(pagerank_integer(edges, iters=4))
    assert rset(inc.ranks(spark)) == want

    # Merged degree partials == recomputed degrees over the union.
    got_deg = sorted(map(tuple, inc.degrees(spark).collect()))
    want_deg = sorted(
        map(
            tuple,
            edges.groupBy(F.col("src").alias("_src"))
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
            .collect(),
        )
    )
    assert got_deg == want_deg

    # Replay no-op + crash window (marker removed → partitions
    # rewritten identically).
    inc.process_batch(b1, batch_id=0)
    os.remove(os.path.join(store, "_commits", "1"))
    inc.process_batch(b2, batch_id=1)
    assert rset(inc.ranks(spark)) == want

    # Param guard: a different walk must refuse the store.
    with pytest.raises(ValueError, match="never meet"):
        IncrementalPageRank(store, iters=3)
    IncrementalPageRank(store, iters=4)  # identical params re-open fine
    with pytest.raises(ValueError, match="iters"):
        IncrementalPageRank(str(tmp_path / "bad"), iters=0)

    # NULL endpoints refuse at write time (nothing lands).
    withnull = spark.createDataFrame([(1, None)], "src long, dst long")
    bad = IncrementalPageRank(str(tmp_path / "null_store"), iters=4)
    with pytest.raises(Exception, match="non-null"):
        bad.process_batch(withnull, batch_id=0)


def test_incremental_bucketed_silver_matches_batch(spark, tmp_path, sf_dir):
    """23rd incremental family: q52's shuffle-free-join layout
    maintained under appends. Each batch lands in its own _batch
    partition of ONE bucketed catalog table; content equals the union
    of drained batches at any drain point; the sort-merge join of two
    maintained tables stays Exchange-free after every drain (the
    layout property the family exists to preserve); replays are
    no-ops; a crash window rewrites an identical partition; bucket/
    key/schema drift refuses."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.streaming.bucketed import (
        IncrementalBucketedSilver,
    )

    for t in ("ibs_li", "ibs_od"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    od = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    sl = IncrementalBucketedSilver(
        str(tmp_path / "li_store"), "ibs_li", "l_orderkey", n_buckets=8
    )
    so = IncrementalBucketedSilver(
        str(tmp_path / "od_store"), "ibs_od", "o_orderkey", n_buckets=8
    )
    li1 = li.where(F.col("l_orderkey") % 2 == 0)
    li2 = li.where(F.col("l_orderkey") % 2 == 1)
    sl.process_batch(li1, batch_id=0)
    so.process_batch(od, batch_id=0)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(sl.table(spark)) == rows(li1)

    sl.process_batch(li2, batch_id=1)
    assert rows(sl.table(spark)) == rows(li)

    # The layout property after two drains: join with zero Exchange
    # below the SMJ, answering identically to the plain join.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = sl.join(spark, so)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan.split("SortMergeJoin", 1)[1]
        want = li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        assert j.count() == want.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # Replay no-op + crash window (marker removed → identical rewrite).
    sl.process_batch(li1, batch_id=0)
    os.remove(os.path.join(str(tmp_path / "li_store"), "_commits", "1"))
    sl.process_batch(li2, batch_id=1)
    assert rows(sl.table(spark)) == rows(li)

    # Guards: layout params pinned; schema drift refuses; mismatched
    # bucket grids refuse to join.
    with pytest.raises(ValueError, match="fixed at creation"):
        IncrementalBucketedSilver(
            str(tmp_path / "li_store"), "ibs_li", "l_orderkey", n_buckets=16
        )
    with pytest.raises(ValueError, match="schema drift"):
        sl.process_batch(li.withColumn("extra", F.lit(1)), batch_id=2)
    other = IncrementalBucketedSilver(
        str(tmp_path / "od16_store"), "ibs_od16", "o_orderkey", n_buckets=16
    )
    with pytest.raises(ValueError, match="re-shuffle"):
        sl.join(spark, other)
    for t in ("ibs_li", "ibs_od"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_incremental_bucketed_silver_join_same_key_name(spark, sf_dir, tmp_path):
    """Two maintained silvers bucketed on the SAME key column name —
    the natural co-bucketed case (e.g. both keyed user_id) — join
    without ambiguity and stay Exchange-free below the SMJ."""
    from pyspark.sql import functions as F

    from datapipeline_template_spark.streaming.bucketed import (
        IncrementalBucketedSilver,
    )

    for t in ("ibs_same_a", "ibs_same_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("user_id"), "o_totalprice"
    )
    cu = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    sa = IncrementalBucketedSilver(
        str(tmp_path / "a_store"), "ibs_same_a", "user_id", n_buckets=4
    )
    sb = IncrementalBucketedSilver(
        str(tmp_path / "b_store"), "ibs_same_b", "user_id", n_buckets=4
    )
    sa.process_batch(od, batch_id=0)
    sb.process_batch(cu, batch_id=0)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = sa.join(spark, sb)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan.split("SortMergeJoin", 1)[1]
        assert j.count() == od.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in ("ibs_same_a", "ibs_same_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
