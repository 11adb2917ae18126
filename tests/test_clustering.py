"""k-means + SemDeDup operator tests (operators/clustering.py).

Query-level oracle parity for ss13/dd15 is covered by the generic
sf0.001 sweep in test_parity.py; these tests pin the operator
contracts the oracle can't see: kernel↔Catalyst bit-parity, the
trunc-div convention, empty-cluster behavior, determinism, and the
SemDeDup removal rule on a hand-built fixture.
"""

from __future__ import annotations

import pytest

from datapipeline_template_spark.functions import quantize_vec
from datapipeline_template_spark.operators.clustering import (
    MAX_CENTROID_CELLS,
    _trunc_div,
    kmeans_assign,
    kmeans_assign_catalyst,
    kmeans_fit,
    semdedup,
)

SF = "/root/testdata/sf0.001"


def _emb(spark):
    from datapipeline_template_spark.catalog import table

    return table(spark, SF, "embeddings")


def test_trunc_div_matches_spark_and_duckdb_semantics():
    import duckdb

    cases = [(-7, 2), (7, 2), (-9, 4), (9, 4), (0, 3), (-1, 5)]
    con = duckdb.connect()
    for s, c in cases:
        duck = con.execute(f"SELECT CAST({s} AS BIGINT) // {c}").fetchone()[0]
        assert _trunc_div(s, c) == duck, (s, c)


def test_kernel_catalyst_assignment_parity(spark):
    emb = _emb(spark)
    cent = kmeans_fit(emb, "vec_id", "embedding", k=4, n_iter=2)
    q = emb.select("vec_id", quantize_vec("embedding").alias("_qv"))
    a = kmeans_assign(q, "_qv", cent).select("vec_id", "cluster", "dist")
    b = kmeans_assign_catalyst(q, "_qv", cent).select("vec_id", "cluster", "dist")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_kmeans_fit_is_deterministic(spark):
    emb = _emb(spark)
    c1 = kmeans_fit(emb, "vec_id", "embedding", k=4, n_iter=3)
    c2 = kmeans_fit(emb, "vec_id", "embedding", k=4, n_iter=3)
    assert c1 == c2


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # Two tight groups far apart + k=3 with lowest-id init: the two
    # seed centroids inside group A tie-split group A, and the third
    # seed (first member of group B) captures all of B; after one
    # update the duplicate-seed cluster empties and must keep its
    # previous centroid instead of crashing or NaN-ing.
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.99, 0.0]),
            (3, [-1.0, 0.0]), (4, [-1.0, 0.0]), (5, [-0.99, 0.0])]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    cent = kmeans_fit(df, "id", "vec", k=3, n_iter=3, dim=2)
    assert len(cent) == 3 and all(len(c) == 2 for c in cent)
    # cluster 1's seed was vec_id=1 (identical to seed 0): it loses
    # every argmin tie to cluster 0 and keeps its initial centroid.
    assert cent[1] == [10000, 0]


def test_kmeans_k_exceeds_corpus_raises(spark):
    df = spark.createDataFrame([(0, [1.0]), (1, [2.0])], "id long, vec array<double>")
    with pytest.raises(ValueError, match="exceeds corpus size"):
        kmeans_fit(df, "id", "vec", k=5, n_iter=1, dim=1)


@pytest.mark.slow
def test_assign_centroid_size_guard(spark):
    df = spark.createDataFrame([(0, [1.0])], "id long, vec array<double>")
    q = df.select("id", quantize_vec("vec").alias("_qv"))
    dim = 1000
    k = MAX_CENTROID_CELLS // dim + 1
    with pytest.raises(ValueError, match="centroid matrix"):
        kmeans_assign(q, "_qv", [[0] * dim] * k)


def test_semdedup_removes_higher_centroid_sim_member(spark):
    # One cluster (k=1 ⇒ centroid = mean of all). a and b are a
    # near-dup pair; b sits closer to the centroid direction, so b is
    # the removed member. c is orthogonal-ish and survives untouched.
    rows = [
        (0, [1.0, 0.0, 0.0]),     # a — near-dup with b
        (1, [0.98, 0.2, 0.0]),    # b — tilted toward centroid
        (2, [0.0, 1.0, 0.0]),     # c — not a near-dup of anything
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    out = semdedup(df, "id", "vec", k=1, n_iter=1, threshold=0.9)
    got = {(r["cluster"], r["vec_id"]) for r in out.collect()}
    assert got == {(0, 1)}


def test_semdedup_is_a_set_no_duplicate_marks(spark):
    emb = _emb(spark)
    out = semdedup(emb, "vec_id", "embedding", k=4, n_iter=2, threshold=0.3)
    n = out.count()
    assert n == out.select("vec_id").distinct().count()
    assert 0 < n < emb.count()


def test_ivf_full_probe_equals_brute_force(spark):
    """Probing ALL cells must recover the exact brute-force top-k —
    pins that cell routing only ever PRUNES candidates and the
    scoring/ranking path is the exact one."""
    from datapipeline_template_spark.operators.clustering import (
        ivf_topk_kmeans,
        kmeans_fit,
    )
    from datapipeline_template_spark.operators.similarity import cosine_topk

    emb = _emb(spark)
    cent = kmeans_fit(emb, "vec_id", "embedding", k=4, n_iter=2)
    queries = emb.where("vec_id < 5")
    ivf = ivf_topk_kmeans(
        emb, queries, "vec_id", "embedding", cent, k=5, n_probe=4
    )
    exact = cosine_topk(emb, queries, "vec_id", "embedding", k=5)
    got = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    want = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    assert got == want


def test_ivf_partial_probe_recall_floor(spark):
    """n_probe=2 of 4 cells must keep a sane recall vs brute force at
    these params (deterministic fixture — exact expected overlap is
    stable, floor pinned loosely for robustness to testdata regen)."""
    from datapipeline_template_spark.operators.clustering import (
        ivf_topk_kmeans,
        kmeans_fit,
    )
    from datapipeline_template_spark.operators.similarity import cosine_topk

    emb = _emb(spark)
    cent = kmeans_fit(emb, "vec_id", "embedding", k=4, n_iter=2)
    queries = emb.where("vec_id < 20")
    ivf = ivf_topk_kmeans(
        emb, queries, "vec_id", "embedding", cent, k=5, n_probe=2
    )
    exact = cosine_topk(emb, queries, "vec_id", "embedding", k=5)
    got = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    want = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    recall = len(got & want) / len(want)
    assert recall >= 0.5, f"recall {recall:.2f} under floor"


def test_semdedup_hot_cluster_guard(spark):
    """max_cluster_size must refuse a quadratic hot cluster loudly
    (the k∝N contract enforced, not assumed) and pass when sized."""
    emb = _emb(spark)
    with pytest.raises(ValueError, match="max_cluster_size"):
        semdedup(
            emb, "vec_id", "embedding", k=2, n_iter=1,
            threshold=0.3, max_cluster_size=3,
        )
    out = semdedup(
        emb, "vec_id", "embedding", k=2, n_iter=1,
        threshold=0.3, max_cluster_size=10_000,
    )
    assert out.count() > 0


@pytest.mark.slow
def test_zero_norm_vector_does_not_poison_pairs_or_rankings(spark):
    """A quantized all-zero vector has NaN cosine, and Spark sorts NaN
    ABOVE every number — unguarded, one degenerate row passes every
    `cosine >= tau` filter and tops every ranking. The operators must
    exclude zero-norm rows from pair/ranking stages (review finding)."""
    from datapipeline_template_spark.operators.clustering import (
        ivf_topk_kmeans,
        kmeans_fit,
        semdedup,
    )
    from datapipeline_template_spark.operators.similarity import mutual_knn_edges

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.98, 0.2, 0.0]),      # near-dup of 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.00001, 0.0, 0.0]),   # quantizes to the zero vector
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>")

    marks = semdedup(df, "id", "vec", k=1, n_iter=1, threshold=0.9)
    got = {r["vec_id"] for r in marks.collect()}
    assert 3 not in got and 0 not in got and 2 not in got
    assert got == {1}

    edges = mutual_knn_edges(df, "id", "vec", k=1)
    ids = {r["id_a"] for r in edges.collect()} | {
        r["id_b"] for r in edges.collect()
    }
    assert 3 not in ids

    cent = kmeans_fit(df, "id", "vec", k=1, n_iter=1)
    topk = ivf_topk_kmeans(df, df, "id", "vec", cent, k=3, n_probe=1)
    res = topk.collect()
    assert all(r["neighbor_id"] != 3 for r in res)
    assert all(r["query_id"] != 3 for r in res)
    assert all(r["score"] == r["score"] for r in res)  # no NaN survives


def test_kmeans_init_offset_selects_shifted_window(spark):
    """init_offset must pick the id-ranked rows [offset, offset+k) —
    distinct offsets give genuinely different deterministic inits (the
    ss18 OR-union contract) — and an offset window past the corpus
    raises like a too-large k does."""
    rows = [(i, [float(i), float(-i)]) for i in range(6)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    c0 = kmeans_fit(df, "id", "vec", k=2, n_iter=0, dim=2)
    c2 = kmeans_fit(df, "id", "vec", k=2, n_iter=0, dim=2, init_offset=2)
    assert c0 == [[0, 0], [10000, -10000]]
    assert c2 == [[20000, -20000], [30000, -30000]]
    with pytest.raises(ValueError, match="exceeds corpus size"):
        kmeans_fit(df, "id", "vec", k=2, n_iter=0, dim=2, init_offset=5)


@pytest.mark.slow
def test_pq_adc_exact_on_codebook_vectors(spark):
    """PQ identity property: when every corpus vector IS a
    concatenation of sub-centroids, encoding is lossless and the ADC
    distance equals the exact squared L2 distance — so the ADC top-k
    equals the brute-force top-k exactly. Built with 4 vectors over 2
    subspaces of 2 dims, k_sub=2 (each subspace sees exactly its own
    two distinct subvectors as clusters after the deterministic
    fit)."""
    from datapipeline_template_spark.operators.clustering import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    # Subspace 0 values: [0,0] or [8,8]; subspace 1: [0,4] or [6,0].
    rows = [
        (0, [0.0, 0.0, 0.0, 4.0]),
        (1, [0.0, 0.0, 6.0, 0.0]),
        (2, [8.0, 8.0, 0.0, 4.0]),
        (3, [8.0, 8.0, 6.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    books = pq_codebooks(
        df, "vec_id", "emb", m=2, sub_dim=2, k_sub=2, n_iter=2
    )
    codes = pq_encode(df, "vec_id", "emb", books, sub_dim=2)
    got_codes = {r["vec_id"]: (r["c0"], r["c1"]) for r in codes.collect()}
    # Lossless: the 4 vectors are the 4 code combinations.
    assert len(set(got_codes.values())) == 4

    ret = pq_adc_topk(
        codes, df, "vec_id", "emb", books, sub_dim=2, k=3
    ).collect()
    # ADC == exact L2 here; verify every returned distance against the
    # Python-exact quantized distance and the full ranking order.
    import itertools

    qv = {i: [round(x * 10000) for x in v] for i, v in rows}
    want = {}
    for qid, nid in itertools.permutations(qv, 2):
        want[(qid, nid)] = sum(
            (a - b) ** 2 for a, b in zip(qv[qid], qv[nid])
        )
    assert len(ret) == 4 * 3
    for r in ret:
        assert r["adc"] == want[(r["query_id"], r["neighbor_id"])]


def test_ivfpq_full_probe_equals_full_adc(spark):
    """IVF-PQ identity property (the ss15 full-probe == brute-force
    convention): with n_probe == the number of coarse cells, every
    query scores the ENTIRE corpus, so cell routing must change
    nothing — ivf_pq_adc_topk equals pq_adc_topk row-for-row on the
    same codes. Pins the composition's only new moving part (the
    routed candidate join) against the already-pinned pure-ADC form."""
    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.functions import quantize_vec
    from datapipeline_template_spark.operators.clustering import (
        ivf_pq_adc_topk,
        kmeans_assign,
        kmeans_fit,
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    emb = (
        table(spark, "/root/testdata/sf0.001", "embeddings")
        .select("vec_id", "embedding")
        .where("vec_id < 200")
    )
    cent = kmeans_fit(emb, "vec_id", "embedding", k=4, n_iter=1)
    books = pq_codebooks(
        emb, "vec_id", "embedding", m=4, sub_dim=16, k_sub=8, n_iter=1
    )
    codes = pq_encode(emb, "vec_id", "embedding", books, sub_dim=16)
    cells = kmeans_assign(
        emb.select("vec_id", quantize_vec("embedding").alias("_cq")),
        "_cq",
        cent,
    ).select("vec_id", "cluster")
    qs = emb.where("vec_id < 5")

    want = {
        (r["query_id"], r["neighbor_id"], r["adc"])
        for r in pq_adc_topk(
            codes, qs, "vec_id", "embedding", books, sub_dim=16, k=5
        ).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"], r["adc"])
        for r in ivf_pq_adc_topk(
            codes.join(cells, "vec_id"), qs, "vec_id", "embedding",
            cent, books, sub_dim=16, k=5, n_probe=4,
        ).collect()
    }
    assert got == want and len(got) == 25


def test_semdedup_kernel_marks_bit_equal_reference(spark, sf_dir):
    """The per-cluster Arrow mark kernel must produce EXACTLY the
    Catalyst pair join's marks — same (cluster, vec_id) set — on the
    real embeddings at two thresholds (0.3 = the pipeline's, 0.9 =
    sparse-marks regime)."""
    from datapipeline_template_spark.catalog import table
    from datapipeline_template_spark.operators.clustering import semdedup

    emb = table(spark, sf_dir, "embeddings")
    for thr in (0.3, 0.9):
        ref = sorted(
            (r.cluster, r.vec_id)
            for r in semdedup(
                emb, "vec_id", "embedding", k=4, n_iter=2,
                threshold=thr, kernel=False,
            ).collect()
        )
        ker = sorted(
            (r.cluster, r.vec_id)
            for r in semdedup(
                emb, "vec_id", "embedding", k=4, n_iter=2,
                threshold=thr, kernel=True,
            ).collect()
        )
        assert ref == ker
        if thr == 0.3:
            assert len(ref) > 0
