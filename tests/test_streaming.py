"""Genuinely-streaming execution tests (X8): watermarked windows on
real file streams with AvailableNow triggers, and the incremental
maintainers against their batch operators."""

from __future__ import annotations

import datetime as dt
import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datapipeline_template_spark.streaming.windows import tumbling_counts

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
