"""Deterministic k-means over quantized embeddings + SemDeDup (X10).

Semantic dedup for training corpora (Abbas et al. 2023, "SemDeDup"):
cluster document embeddings with k-means, then drop near-duplicate
members *within* each cluster — pairwise cosine never crosses cluster
boundaries, so the quadratic all-pairs join becomes a per-cluster
equi-join whose cost is Σ|cluster|², bounded because k scales with the
corpus (the paper runs k=50k on LAION-440M; cluster size stays ~1e4).

Determinism contract (required for DuckDB oracle hash-parity):

- Vectors quantized to exact int64 (scale 1e4, the repo convention in
  ``functions.quantize_vec``); every distance/dot is integer math —
  associative, order-independent, identical in any engine.
- Init: centroids = the k vectors with the LOWEST ids (k-means|| and
  random init are RNG-dependent; lowest-id init is replayable in SQL).
- Assignment argmin tie-break: smallest cluster id.
- Centroid update: per-dim integer division of sums, truncated toward
  zero (Spark ``div`` == DuckDB ``//`` == ``_trunc_div`` here — all
  three verified trunc-toward-zero on negatives).
- Empty cluster: keeps its previous centroid.

Scale shape (the 100-TB story):

- Assignment is MAP-ONLY: centroids live on the driver (k·dim int64 —
  8·64 here, 50k·768 = 300 MB worst case at paper scale, still a
  broadcast) and ship to executors inside a pandas_udf closure; one
  Arrow-batched numpy pass computes all k distances per batch
  ((rows×dim) ⊖ (k×dim) squared-sum matmul-shaped kernel). No shuffle.
- The update is ONE partial-agg shuffle per iteration: posexplode to
  (cluster, dim, qv) — narrow ×dim — then groupBy(cluster, dim) with
  map-side combine collapses to k·dim rows before the exchange (the
  ss07 centroid-sum shape). The driver collects k·dim longs per
  iteration — coordination only, never data (the q26b multipass
  convention).
- The Catalyst assignment twin (``kmeans_assign_catalyst``) is the
  DuckDB-replayable reference form; the kernel is the corpus-scale
  path — bit-equal by parity test (the dd03/dd05 and
  lsh_buckets_kernel convention).

Reference parity: the reference pipeline has no clustering operator
(its silver layer stops at CDC dedup, 02_silver_processing.py); this
family is part of the mandated LLM-training-data extension surface.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import lit_long_array, lit_long_matrix, quantize_vec

__all__ = [
    "coarse_probe_expr",
    "d4_prune",
    "ivf_assign_corpus",
    "ivf_pq_adc_topk",
    "ivf_topk_kmeans",
    "k_for_corpus",
    "kmeans_fit",
    "kmeans_assign",
    "kmeans_assign_catalyst",
    "pq_adc_topk",
    "pq_codebooks",
    "pq_encode",
    "semdedup",
    "with_centroid_cosine",
]

# Assignment caps: k·dim int64 centroids are shipped in the UDF
# closure; keep the product bounded so a misuse (huge k on a huge dim)
# fails loudly instead of serializing gigabytes per task.
MAX_CENTROID_CELLS = 50_000_000


def k_for_corpus(
    n: int, target_cluster_size: int = 64, k_min: int = 8
) -> int:
    """SemDeDup/D4 cluster-count policy: ``max(k_min, n div
    target_cluster_size)``. The paper contract (Abbas et al. 2023 §3)
    scales k WITH the corpus — clusters stay ~``target_cluster_size``
    members, so the within-cluster pair stage does
    Σ|cluster|² ≈ (N/64)·64² = 64·N work: LINEAR in N, which is what
    makes SemDeDup/D4 viable at 100 TB (a fixed k=8 would make it
    quadratic, N²/8). ``semdedup``'s ``max_cluster_size`` guard only
    DETECTS violations; this policy prevents them. Used by
    dd15/dd16/the extended curation pass; the DuckDB oracles are
    generated at ``k_for_corpus(SF001_EMBEDDINGS_ROWS)`` (== k_min at
    the sf0.01 gate — the policy changes nothing there, by design, and
    the sf0.01 pins stay valid), and the policy values themselves are
    pinned in tests/test_parity.py. The fit cost grows with k (n·k
    kernel distances per iteration — one Arrow matmul), the pair join
    shrinks quadratically: net win for any corpus past ~k_min·64."""
    if n < 0:
        raise ValueError(f"corpus size must be >= 0, got {n}")
    return max(k_min, n // target_cluster_size)


def _trunc_div(s: int, c: int) -> int:
    """Integer division truncated toward zero — matches Spark's `div`
    and DuckDB's `//` (both verified: -7 div 2 == -3)."""
    q = abs(s) // c
    return q if s >= 0 else -q


def _assign_struct(qv: Column, centroids: list[list[int]]) -> Column:
    """Catalyst argmin: array<struct<dist,cluster>> → array_min picks
    (smallest dist, then smallest cluster id) by lexicographic struct
    ordering — the documented tie-break, identical in DuckDB's
    ROW_NUMBER(ORDER BY dist, cid) replay."""
    structs = []
    for cid, cv in enumerate(centroids):
        arr = lit_long_array(cv)
        d = F.aggregate(
            F.zip_with(qv, arr, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        structs.append(
            F.struct(d.alias("dist"), F.lit(cid).cast("long").alias("cluster"))
        )
    return F.array_min(F.array(*structs))


def kmeans_assign_catalyst(
    df: DataFrame, qv_col: str, centroids: list[list[int]]
) -> DataFrame:
    """Reference-form assignment: adds ``cluster`` + ``dist`` columns
    via pure Catalyst HOFs. k·dim interpreted lambda evaluations per
    row — the DuckDB-replayable twin, not the hot path."""
    best = _assign_struct(F.col(qv_col), centroids)
    return df.withColumn("_best", best).select(
        *df.columns, F.col("_best.cluster").alias("cluster"),
        F.col("_best.dist").alias("dist"),
    )


def _assign_kernel_udf(get_C):
    """The shared Arrow assignment kernel, parameterized over how each
    executor obtains the centroid matrix: a captured array (the
    closure form) or a Spark broadcast handle (the huge-k form)."""

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("cluster", T.LongType()),
                T.StructField("dist", T.LongType()),
            ]
        )
    )
    def _assign(v: pd.Series) -> pd.DataFrame:
        if len(v) == 0:
            # np.stack raises on an empty batch; current Spark doesn't
            # emit zero-row batches for scalar pandas_udfs — defensive.
            return pd.DataFrame(
                {
                    "cluster": pd.Series([], dtype="int64"),
                    "dist": pd.Series([], dtype="int64"),
                }
            )
        C = get_C()
        X = np.stack(v.to_numpy()).astype(np.int64)  # rows × dim
        # rows × k exact int64: ‖x‖² − 2x·c + ‖c‖² stays integer.
        d = (
            (X * X).sum(axis=1, keepdims=True)
            - 2 * (X @ C.T)
            + (C * C).sum(axis=1)[None, :]
        )
        cl = d.argmin(axis=1)
        return pd.DataFrame(
            {"cluster": cl.astype(np.int64), "dist": d[np.arange(len(X)), cl]}
        )

    return _assign


def kmeans_assign(
    df: DataFrame, qv_col: str, centroids: list[list[int]]
) -> DataFrame:
    """Scale-form assignment: one Arrow-batched numpy kernel computes
    all k exact-int64 squared distances per row and the argmin
    (np.argmin returns the FIRST minimum — smallest cluster id, the
    same tie-break as the Catalyst/SQL forms; parity-tested).

    Overflow bound: |q| ≤ 1e4 ⇒ per-dim diff² ≤ 4e8, ×dim(64) ≤
    2.6e10 ≪ 2^63 — exact in int64 for any realistic dim/scale."""
    C = np.asarray(centroids, dtype=np.int64)
    if C.size > MAX_CENTROID_CELLS:
        raise ValueError(
            f"centroid matrix has {C.size} cells > {MAX_CENTROID_CELLS}; "
            "a closure this large would be re-shipped per task."
        )

    out = df.withColumn("_best", _assign_kernel_udf(lambda: C)(F.col(qv_col)))
    return out.select(
        *df.columns, F.col("_best.cluster").alias("cluster"),
        F.col("_best.dist").alias("dist"),
    )


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 4,
    dim: int | None = None,
    init_offset: int = 0,
) -> list[list[int]]:
    """Lloyd's iterations over quantized vectors; returns the final
    centroids as driver-side ``list[list[int]]`` (k·dim longs).

    Each iteration: map-only kernel assignment → posexplode →
    groupBy(cluster, dim) partial-agg → collect k·dim (sum, count)
    rows → exact trunc-div centroid update in Python. Driver traffic
    is k·dim longs per iteration regardless of corpus size.

    ``init_offset`` shifts the deterministic init window to the
    id-ranked rows [offset, offset+k) — offset 0 is the documented
    lowest-id init; distinct offsets yield the INDEPENDENT
    deterministic clusterings the ss18 OR-union composes (the
    replayable stand-in for random restarts).
    """
    q = df.select(
        F.col(id_col).alias("_id"), quantize_vec(vec_col).alias("_qv")
    )
    init_rows = q.orderBy("_id").offset(init_offset).limit(k).collect()
    if len(init_rows) < k:
        raise ValueError(
            f"k={k} at init_offset={init_offset} exceeds corpus size"
        )
    centroids = [[int(v) for v in r["_qv"]] for r in init_rows]
    if dim is None:
        dim = len(centroids[0])

    for _ in range(n_iter):
        assigned = kmeans_assign(q, "_qv", centroids)
        per_dim = (
            assigned.select("cluster", F.posexplode("_qv").alias("dim", "qv"))
            .groupBy("cluster", "dim")
            .agg(F.sum("qv").alias("s"), F.count(F.lit(1)).alias("c"))
            .collect()
        )
        sums: dict[int, list[int]] = {}
        counts: dict[int, int] = {}
        for r in per_dim:
            cid = int(r["cluster"])
            sums.setdefault(cid, [0] * dim)[int(r["dim"])] = int(r["s"])
            counts[cid] = int(r["c"])
        centroids = [
            [_trunc_div(s, counts[cid]) for s in sums[cid]]
            if cid in counts
            else centroids[cid]  # empty cluster keeps its centroid
            for cid in range(k)
        ]
    return centroids


def with_centroid_cosine(
    assigned: DataFrame, qv_col: str, centroids: list[list[int]]
) -> DataFrame:
    """Adds ``_n`` (squared norm, once per row) and ``_cs`` (cosine to
    the row's cluster centroid) to an assigned frame. Centroid arrays
    AND their norms are Python-computed literals, so the per-row cost
    is one zip_with dot — the ss01-family precompute convention.

    Shared by batch ``semdedup`` and the streaming
    ``IncrementalSemDeDup._prepare``: their marks-equality contract
    depends on bit-identical ``_cs``, so there is exactly one
    implementation (a zero-norm row gets ``_cs = NaN``; pair-stage
    consumers must exclude ``_n == 0`` rows — see ``semdedup``)."""
    from ..functions import cosine_prequantized_hof, norm_sq_prequantized

    cent_arr = lit_long_matrix(centroids)
    cent_norms = lit_long_array([sum(v * v for v in cv) for cv in centroids])
    cidx = (F.col("cluster") + 1).cast("int")
    with_n = assigned.withColumn("_n", norm_sq_prequantized(F.col(qv_col)))
    return with_n.withColumn(
        "_cs",
        cosine_prequantized_hof(
            F.col(qv_col),
            F.element_at(cent_arr, cidx),
            F.col("_n"),
            F.element_at(cent_norms, cidx),
        ),
    )


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 4,
    threshold: float = 0.3,
    centroids: list[list[int]] | None = None,
    max_cluster_size: int | None = None,
    assigned: DataFrame | None = None,
    kernel: bool = True,
) -> DataFrame:
    """SemDeDup: within-cluster cosine near-dup removal.

    Returns (cluster, vec_id) rows — the members to REMOVE, one row
    per unique removed id, deterministically: for every within-cluster
    pair with cosine ≥ ``threshold``, the member with the HIGHER
    cosine to its cluster centroid is marked (the paper keeps the
    lowest-centroid-similarity example to preserve diversity,
    SemDeDup §3); exact-equal centroid similarity falls back to
    removing the larger id.

    Plan shape: centroid cosine is computed per ROW before the pair
    join (element_at over a k-literal centroid array — map-only), so
    the join condition is one zip_with dot per pair; the pair join is
    an equi-join on cluster (hash-partitions across executors, never
    all-pairs); the final dedup of marked ids is one distinct on
    (cluster, id). Σ|cluster|² stays bounded when k grows with N —
    that scaling is the CALLER's contract (the paper's k∝N rule);
    ``max_cluster_size`` makes it enforced instead of assumed: when
    set, the assignment is localCheckpointed (so the guard's size agg
    and the pair join share one kernel pass instead of recomputing
    the most expensive map stage) and a per-cluster size agg raises
    before a quadratic hot-cluster join can run away, naming the
    cluster and the recommended fix (re-fit with larger k).

    Zero-quantized vectors (every |x| < 1/(2·scale)) have no
    direction — cosine against them is 0/0 = NaN, and Spark orders
    NaN ABOVE every number, so one degenerate row would otherwise
    pass the ``>= threshold`` filter against its whole cluster. They
    are excluded from the pair stage (``_n > 0``); none exist in any
    real embedding corpus, so oracles are unaffected, but the guard
    makes the operator safe on adversarial input (tested).

    Pass ``assigned`` (a ``kmeans_assign`` result over the quantized
    corpus, columns (vec_id, _qv, cluster, ...), ideally
    localCheckpointed) to reuse one quantize+assign kernel pass across
    consumers — ``d4_prune`` shares a single pass between the SemDeDup
    and prototype stages this way (the ivf_topk_kmeans convention).

    ``kernel=True`` (default, r14) runs the pair stage as the
    per-cluster Arrow kernel (``_semdedup_marks_kernel``) — ONE
    cluster-keyed shuffle, no per-pair interpreted HOF; bit-identical
    marks by parity test. ``kernel=False`` keeps the Catalyst cluster
    equi-join: the DuckDB-replayable reference form (the
    mutual_knn_edges convention).
    """
    from ..functions import cosine_prequantized_hof

    if centroids is None:
        if assigned is not None:
            raise ValueError("assigned= requires explicit centroids=")
        centroids = kmeans_fit(df, id_col, vec_col, k=k, n_iter=n_iter)
    caller_assigned = assigned is not None
    if assigned is None:
        q = df.select(
            F.col(id_col).alias("vec_id"), quantize_vec(vec_col).alias("_qv")
        )
        assigned = kmeans_assign(q, "_qv", centroids)
    if max_cluster_size is not None:
        if not caller_assigned:
            # A caller-provided assignment is expected to be
            # checkpointed already (the documented contract) — don't
            # re-materialize it for the guard's size aggregate.
            assigned = assigned.localCheckpoint(eager=True)
        hot = (
            assigned.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > max_cluster_size)
            .orderBy("cluster")
            .limit(1)
            .collect()
        )
        if hot:
            raise ValueError(
                f"cluster {hot[0]['cluster']} has {hot[0]['n']} members "
                f"> max_cluster_size={max_cluster_size}; the within-cluster "
                "pair join would go quadratic on it — re-fit with a larger "
                "k (SemDeDup scales k with the corpus) or raise the cap "
                "explicitly."
            )

    with_cs = with_centroid_cosine(assigned, "_qv", centroids).where(
        F.col("_n") > 0
    ).select("vec_id", "cluster", "_qv", "_n", "_cs")
    if kernel:
        return _semdedup_marks_kernel(with_cs, threshold)

    a = with_cs.select(
        F.col("cluster"),
        F.col("vec_id").alias("id_a"),
        F.col("_qv").alias("_qa"),
        F.col("_n").alias("_na"),
        F.col("_cs").alias("_csa"),
    )
    b = with_cs.select(
        F.col("cluster"),
        F.col("vec_id").alias("id_b"),
        F.col("_qv").alias("_qb"),
        F.col("_n").alias("_nb"),
        F.col("_cs").alias("_csb"),
    )
    pairs = a.join(b, on="cluster").where(F.col("id_a") < F.col("id_b"))
    pairs = pairs.where(
        cosine_prequantized_hof(
            F.col("_qa"), F.col("_qb"), F.col("_na"), F.col("_nb")
        )
        >= F.lit(threshold)
    )
    marked = pairs.select(
        "cluster",
        F.when(F.col("_csa") > F.col("_csb"), F.col("id_a"))
        .when(F.col("_csb") > F.col("_csa"), F.col("id_b"))
        .otherwise(F.greatest("id_a", "id_b"))
        .alias("vec_id"),
    )
    return marked.distinct()


def _semdedup_marks_kernel(with_cs: DataFrame, threshold: float) -> DataFrame:
    """The SemDeDup within-cluster pair stage as ONE per-cluster numpy
    kernel (the mutual_knn_edges_kernel shape, r14): pairwise dots as
    an exact-int64 matmul, the same IEEE cosine
    (double(dot) / (sqrt·sqrt)), the same mark rule (higher centroid
    cosine loses, exact-tie → larger id), deduplicated in-batch —
    bit-identical marks to the Catalyst cluster equi-join (parity
    test-pinned via ``kernel=False``). ONE cluster-keyed shuffle
    replaces the pair join + the (cluster, id) distinct; the bounded-
    cluster contract is the caller's, same as the join form
    (max_cluster_size enforces it)."""
    cl_type = with_cs.schema["cluster"].dataType.simpleString()
    id_type = with_cs.schema["vec_id"].dataType.simpleString()
    out_schema = f"cluster {cl_type}, vec_id {id_type}"

    def _marks(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pdf.iloc[0:0][["cluster", "vec_id"]]
        if n < 2:
            return empty
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        M = np.stack(pdf["_qv"].to_numpy()[order]).astype(np.int64)
        nrm = pdf["_n"].to_numpy()[order].astype(np.int64)
        cs = pdf["_cs"].to_numpy()[order].astype(np.float64)
        G = M @ M.T
        s = np.sqrt(nrm.astype(np.float64))
        cos = G.astype(np.float64) / (s[:, None] * s[None, :])
        ia, ja = np.triu_indices(n, 1)  # ids sorted: id_a=ids[ia] < ids[ja]
        hit = cos[ia, ja] >= threshold
        ia, ja = ia[hit], ja[hit]
        csa, csb = cs[ia], cs[ja]
        # higher centroid cosine loses; exact tie -> larger id (= ja's)
        marked = np.where(csa > csb, ids[ia], ids[ja])
        out = pdf.iloc[0:0][["cluster", "vec_id"]]
        if len(marked):
            out = pd.DataFrame(
                {
                    "cluster": np.repeat(
                        pdf["cluster"].to_numpy()[:1], len(marked)
                    ),
                    "vec_id": marked,
                }
            ).drop_duplicates()
        return out

    return with_cs.groupBy("cluster").applyInPandas(_marks, out_schema)


def d4_prune(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[int]],
    threshold: float = 0.3,
    proto_pct: int = 20,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """D4 document pruning (Tirumala et al. 2023, "D4: Improving LLM
    Pretraining via Document De-Duplication and Diversification"):
    SemDeDup first, then SSL-prototype pruning of the survivors —
    per cluster, the members MOST similar to their centroid are the
    least informative ("prototypical") and the top ``proto_pct``
    percent of them are dropped to diversify the corpus.

    Returns (cluster, vec_id, reason) — the full removal set, reason
    'semdedup' for near-duplicate marks and 'prototype' for the
    diversification marks (disjoint by construction: prototype ranking
    runs on the SemDeDup survivors only). Deterministic end to end:
    centroid cosines are exact-int dots with IEEE-identical division,
    rank ties break on vec_id, and the per-cluster quota is the exact
    integer floor ``(n_survivors · proto_pct) div 100``.

    Plan shape: ONE quantize+assign kernel pass, localCheckpointed and
    shared by both stages (``semdedup(assigned=...)``); the SemDeDup
    stage is the cluster equi-join, the prototype stage adds one
    cluster-partitioned window (row_number + count over the same
    partitioning — a single shuffle) and one left-anti join against
    the (small) mark set. Zero-norm rows are excluded from both stages
    (no direction ⇒ neither near-dup nor prototypical)."""
    q = df.select(
        F.col(id_col).alias("vec_id"), quantize_vec(vec_col).alias("_qv")
    )
    assigned = kmeans_assign(q, "_qv", centroids).localCheckpoint(eager=True)
    # The hot-cluster guard composes through: semdedup's size check
    # runs on the SAME checkpointed assignment, so enabling it here
    # costs one extra aggregate, not a second kernel pass.
    sem = semdedup(
        df, id_col, vec_col, threshold=threshold,
        centroids=centroids, assigned=assigned,
        max_cluster_size=max_cluster_size,
    )

    from pyspark.sql import Window

    with_cs = with_centroid_cosine(assigned, "_qv", centroids).where(
        F.col("_n") > 0
    )
    survivors = with_cs.select("cluster", "vec_id", "_cs").join(
        sem.select("cluster", "vec_id"), on=["cluster", "vec_id"], how="left_anti"
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("_cs").desc(), F.col("vec_id").asc()
    )
    wc = Window.partitionBy("cluster")
    proto = (
        survivors.select(
            "cluster",
            "vec_id",
            F.row_number().over(w).alias("_r"),
            F.count(F.lit(1)).over(wc).alias("_nc"),
        )
        .where(F.col("_r") <= F.expr(f"(_nc * {int(proto_pct)}) div 100"))
        .select("cluster", "vec_id")
    )
    return sem.withColumn("reason", F.lit("semdedup")).unionByName(
        proto.withColumn("reason", F.lit("prototype"))
    )


def ivf_assign_corpus(
    corpus: DataFrame, id_col: str, vec_col: str, centroids: list[list[int]]
) -> DataFrame:
    """The corpus side of the IVF index: quantized vector, squared
    norm, and kernel cell assignment — one map-only pass, reusable
    across probe settings via ``ivf_topk_kmeans(assigned=...)``."""
    from ..functions import norm_sq_prequantized

    q_corp = corpus.select(
        F.col(id_col).alias("neighbor_id"), quantize_vec(vec_col).alias("_cv")
    ).withColumn("_cn", norm_sq_prequantized(F.col("_cv")))
    return kmeans_assign(q_corp, "_cv", centroids).select(
        "neighbor_id", "_cv", "_cn", "cluster"
    )


def coarse_probe_expr(qv: Column, centroids: list[list[int]]) -> Column:
    """The IVF routing primitive: an ``array_sort`` over k
    (exact-int L2 dist, cell) structs against a quantized query
    vector — ``slice(..., 1, n_probe)`` of the result is the probe
    set. Per-row Catalyst, k small by construction; shared by
    ``ivf_topk_kmeans`` (raw-vector rerank) and ``ivf_pq_adc_topk``
    (PQ-code rerank)."""
    structs = []
    for cid, cv in enumerate(centroids):
        arr = lit_long_array(cv)
        d = F.aggregate(
            F.zip_with(qv, arr, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        structs.append(
            F.struct(d.alias("dist"), F.lit(cid).cast("long").alias("cluster"))
        )
    return F.array_sort(F.array(*structs))


def ivf_topk_kmeans(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[int]],
    k: int = 5,
    n_probe: int = 2,
    query_id_col: str | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate nearest neighbors over the DETERMINISTIC
    k-means coarse quantizer — the oracle-replayable twin of
    ``operators/similarity.ivf_topk`` (which trains Spark-ML k-means:
    float, seeded, engine-local, hence rows-only). With integer
    centroids from ``kmeans_fit`` every step — cell assignment, probe
    selection, candidate scoring, ranking — is exact and identical in
    DuckDB, so the full IVF answer is hash-pinnable.

    Returns (query_id, neighbor_id, score): top-k per query by cosine
    among vectors in the query's ``n_probe`` nearest cells (self-match
    excluded), totally ordered (score DESC, neighbor ASC).

    Plan shape: corpus cell assignment is the map-only Arrow kernel;
    probe-cell selection is per-row Catalyst (array_sort over k
    (dist, cell) structs — k is small by construction) followed by a
    ×n_probe explode; candidates form on a cell equi-join that
    hash-partitions across the cluster, each query touching
    ~|corpus|·n_probe/k vectors — the FAISS-IVF recall/cost dial.

    Pass ``assigned`` (the return of ``ivf_assign_corpus``, ideally
    localCheckpointed) to reuse one quantize+assign pass across many
    calls — an n_probe sweep (ss16) would otherwise re-run the
    corpus-wide kernel per setting.
    """
    from ..functions import cosine_prequantized_hof, norm_sq_prequantized

    qid = query_id_col or id_col
    if assigned is None:
        assigned = ivf_assign_corpus(corpus, id_col, vec_col, centroids)

    probes = (
        queries.select(
            F.col(qid).alias("query_id"), quantize_vec(vec_col).alias("_qv")
        )
        .withColumn(
            "_probe",
            F.slice(coarse_probe_expr(F.col("_qv"), centroids), 1, n_probe),
        )
        .withColumn("_qn", norm_sq_prequantized(F.col("_qv")))
        .select(
            "query_id", "_qv", "_qn",
            F.explode("_probe.cluster").alias("cluster"),
        )
    )

    from pyspark.sql import Window

    # Zero-norm rows have NaN cosine and Spark ranks NaN above every
    # number — exclude them from scoring on both sides (see semdedup).
    cand = probes.where(F.col("_qn") > 0).join(
        assigned.where(F.col("_cn") > 0), on="cluster"
    ).where(F.col("query_id") != F.col("neighbor_id"))
    # Norms precomputed per row pre-join — the candidate scoring pays
    # one zip_with dot per pair (the ss01-family fast form).
    score = cosine_prequantized_hof(
        F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select("query_id", "neighbor_id", score.alias("score"))
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= F.lit(k))
        .select("query_id", "neighbor_id", "score")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): memory-compressed ANN. Jégou et al. 2011.
# ---------------------------------------------------------------------------


def pq_codebooks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    sub_dim: int = 8,
    k_sub: int = 16,
    n_iter: int = 2,
) -> list[list[list[int]]]:
    """Train the ``m`` per-subspace codebooks of a product quantizer
    (Jégou et al. 2011 §II): the vector splits into ``m`` contiguous
    ``sub_dim``-dim subvectors and each subspace gets its own
    deterministic k-means fit (``kmeans_fit`` — lowest-id init, exact
    int64 arithmetic, total tie-breaks, so DuckDB replays every fit).
    Returns ``m`` codebooks of ``k_sub`` centroids each.

    Why PQ is the 100 TB memory story: a 64-dim float32 embedding is
    256 bytes; its PQ code is ``m`` small integers (m=8, k_sub=16 →
    8 codes ≤ 1 byte each: 32× compression), so a corpus whose raw
    embeddings need a cluster's aggregate RAM fits per-executor as
    codes — the standard FAISS IVF-PQ layout (IVF routes, PQ scores).
    Driver traffic: m·k_sub·sub_dim longs of codebook — constants."""
    if m * sub_dim <= 0:
        raise ValueError("m and sub_dim must be positive")
    # Fail fast BEFORE fanning out: the common misuse (corpus smaller
    # than k_sub) would otherwise surface from inside a thread only
    # after all m concurrent fit chains ran to completion — one tiny
    # limit-count job restores the sequential form's early error.
    if df.select(id_col).limit(k_sub).count() < k_sub:
        raise ValueError(
            f"k_sub={k_sub} exceeds corpus size; every subspace "
            "codebook needs at least k_sub vectors"
        )

    # The m fits are INDEPENDENT (disjoint subvector views, no shared
    # state) but each is a chain of small driver-blocking jobs
    # (assignment + update per iteration); run them on concurrent
    # driver threads so the jobs interleave on the executor pool —
    # Spark job submission is thread-safe, and determinism is
    # unaffected because no fit reads another's output (A/B at sf0.1,
    # best-of-2: ss20 12.0 → 8.5 s, ss21 20.6 → 17.6 s).
    from concurrent.futures import ThreadPoolExecutor

    def _fit(j: int) -> list[list[int]]:
        sub = df.select(
            F.col(id_col).alias("vec_id"),
            F.slice(F.col(vec_col), j * sub_dim + 1, sub_dim).alias("_sv"),
        )
        return kmeans_fit(sub, "vec_id", "_sv", k=k_sub, n_iter=n_iter)

    with ThreadPoolExecutor(max_workers=min(m, 8)) as pool:
        return list(pool.map(_fit, range(m)))


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[int]]],
    sub_dim: int = 8,
) -> DataFrame:
    """Encode the corpus against trained codebooks: (id, c0..c{m-1})
    — each code the exact-int nearest sub-centroid (``kmeans_assign``
    kernel, tie → lower code). ``m`` chained map-only Arrow passes in
    ONE stage (no shuffle anywhere); the encode is write-once per
    vector because codebooks are frozen — the same property that
    makes assignment streamable (streaming/kmeans.py)."""
    m = len(codebooks)
    out = df.select(
        F.col(id_col).alias("vec_id"),
        *[
            quantize_vec(
                F.slice(F.col(vec_col), j * sub_dim + 1, sub_dim)
            ).alias(f"_q{j}")
            for j in range(m)
        ],
    )
    for j, cb in enumerate(codebooks):
        out = (
            kmeans_assign(out, f"_q{j}", cb)
            .withColumnRenamed("cluster", f"c{j}")
            .drop("dist")
        )
    return out.select("vec_id", *[f"c{j}" for j in range(m)])


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[int]]],
    sub_dim: int = 8,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query,
    precompute the k_sub-entry distance TABLE to every sub-centroid
    (exact int squared L2 — m·k_sub zip_with folds per QUERY row,
    interpreted HOFs but query-side-bounded), then score each corpus
    code with m array lookups + adds — no per-pair vector math at
    all, the PQ trade. Returns (query_id, neighbor_id, adc) rows,
    k per query, self-matches excluded, totally ordered (adc ASC,
    neighbor_id ASC ties).

    The candidate join here is query × codes — BOUNDED-EVAL usage
    (recall harnesses); at corpus scale compose with IVF routing
    (``ivf_topk_kmeans``'s probe-cell join) so ADC scores only the
    probed cells' codes: IVF bounds candidates, PQ bounds bytes."""
    from functools import reduce as _reduce

    m = len(codebooks)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        *_pq_distance_tables(quantize_vec(vec_col), codebooks, sub_dim),
    )
    joined = q.join(codes, F.col("query_id") != F.col("vec_id"))
    adc = _reduce(
        lambda a, b: a + b,
        [
            F.element_at(F.col(f"_dt{j}"), F.col(f"c{j}").cast("int") + 1)
            for j in range(m)
        ],
    )
    from pyspark.sql import Window

    scored = joined.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), adc.alias("adc")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("_r", F.row_number().over(w)).where(
        F.col("_r") <= k
    ).drop("_r")


def _pq_distance_tables(
    qv: Column, codebooks: list[list[list[int]]], sub_dim: int
) -> list[Column]:
    """Per-query ADC distance tables: for each subspace j, the
    k_sub-entry array of exact-int squared L2 distances from the
    query's j-th subvector to every sub-centroid. Interpreted HOFs,
    but QUERY-side-bounded — computed once per query row, before any
    candidate join."""
    dtabs = []
    for j, cb in enumerate(codebooks):
        qs = F.slice(qv, j * sub_dim + 1, sub_dim)
        entries = [
            F.aggregate(
                F.zip_with(
                    qs,
                    lit_long_array(cv),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            for cv in cb
        ]
        dtabs.append(F.array(*entries).alias(f"_dt{j}"))
    return dtabs


def ivf_pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    coarse_centroids: list[list[int]],
    codebooks: list[list[list[int]]],
    sub_dim: int = 8,
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-PQ: the full FAISS-style corpus-scale ANN composition —
    IVF routing bounds CANDIDATES, PQ codes bound BYTES (Jégou et al.
    2011 §IV). ``codes`` must carry the coarse cell (``cluster``)
    alongside the m PQ codes (``c0..c{m-1}``): join ``pq_encode``'s
    output with a ``kmeans_assign`` cell column once, checkpoint, and
    reuse across probe settings (the ``ivf_assign_corpus`` pattern).

    Per query: pick the ``n_probe`` nearest coarse cells
    (``coarse_probe_expr`` — per-row Catalyst over k structs),
    precompute the m ADC distance tables (query-side, before any
    join), then candidates form on a CLUSTER EQUI-JOIN — each query
    scores only the probed cells' codes, ~|corpus|·n_probe/k rows,
    each costing m array lookups + adds. Unlike ``pq_adc_topk``'s
    bounded-eval theta join, this shape hash-partitions across the
    cluster and survives a corpus that only fits as codes. Returns
    (query_id, neighbor_id, adc), top-k per query, self-matches
    excluded, totally ordered (adc ASC, neighbor_id ASC)."""
    from functools import reduce as _reduce

    m = len(codebooks)
    q0 = queries.select(
        F.col(id_col).alias("query_id"), quantize_vec(vec_col).alias("_qv")
    )
    probes = (
        q0.select(
            "query_id",
            *_pq_distance_tables(F.col("_qv"), codebooks, sub_dim),
            F.slice(
                coarse_probe_expr(F.col("_qv"), coarse_centroids), 1, n_probe
            ).alias("_probe"),
        )
        .select(
            "query_id",
            *[f"_dt{j}" for j in range(m)],
            F.explode("_probe.cluster").alias("cluster"),
        )
    )
    joined = probes.join(codes, on="cluster").where(
        F.col("query_id") != F.col("vec_id")
    )
    adc = _reduce(
        lambda a, b: a + b,
        [
            F.element_at(F.col(f"_dt{j}"), F.col(f"c{j}").cast("int") + 1)
            for j in range(m)
        ],
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        joined.select(
            "query_id", F.col("vec_id").alias("neighbor_id"), adc.alias("adc")
        )
        .withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= k)
        .drop("_r")
    )
