"""Similarity search over embedding columns (X10/X12).

- ``cosine_topk``: brute-force exact top-k — the baseline. Cross-join
  of queries × corpus; correct at any scale when the query set is
  small (broadcast it), O(|Q|·|N|) otherwise.
- ``lsh_bucket``: sign-random-projection bucketing — the scale path.
  Deterministic pseudo-random hyperplanes (no RNG: weights derived
  from a fixed integer formula) map each vector to a small bucket id;
  ANN search joins only within buckets, turning the quadratic
  cross-join into an equi-join that hash-partitions across the
  cluster. Recall/cost is tuned by n_planes (and multi-probe by
  re-running with plane offsets).

Vectors are quantized to exact int64 at scale 1e4 before any
arithmetic (functions.quantized_dot) so scores are bit-identical
across engines — required for the DuckDB oracle, and also makes the
math immune to summation-order nondeterminism under AQE re-partitioning.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401 — module scope so pandas_udf type
# hints ('pd.Series') resolve at decoration time (same pattern as
# queries/text.py).
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import (
    cosine_prequantized,
    cosine_prequantized_hof,
    cosine_quantized,
    lit_long_array,
    norm_sq_prequantized,
    quantize_vec,
)

__all__ = [
    "cosine_topk",
    "cosine_topk_blas",
    "ivf_topk",
    "lsh_bucket",
    "lsh_bucket_prequantized",
    "lsh_buckets_kernel",
    "lsh_multi_probe_pairs",
    "lsh_multi_table_pairs",
    "lsh_pairs_for_recall",
    "mutual_knn_edges",
    "mutual_knn_edges_kernel",
    "near_dup_pairs",
    "probe_masks",
    "rademacher_signs",
    "signed_permutation",
    "rademacher_project",
    "sq_dim_stats",
    "sq_encode",
    "tables_for_recall",
]

# The BLAS and IVF paths hold the QUERY side on the driver (a q×dim
# matrix / a probe list) — correct only under the documented
# small-query-set contract. The cap makes that contract enforced
# instead of assumed: a caller passing a huge query side gets a clean
# ValueError instead of an OOMed driver.
DEFAULT_MAX_QUERY_ROWS = 100_000


def _collect_query_side(queries: DataFrame, cols: list, max_query_rows: int) -> list:
    """collect() the query side, raising if it exceeds the cap.

    Uses limit(cap+1) so the job never materializes more than cap+1
    rows on the driver regardless of the input's true size."""
    rows = queries.select(*cols).limit(max_query_rows + 1).collect()
    if len(rows) > max_query_rows:
        raise ValueError(
            f"query side exceeds max_query_rows={max_query_rows}; "
            "the driver-side matmul/probe path is for small query sets — "
            "raise the cap explicitly, or use the distributed exact form "
            "(cosine_topk) / bucketed ANN (lsh_bucket) for large query sides."
        )
    return rows


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    query_id_col: str | None = None,
    dim: int | None = 64,
) -> DataFrame:
    """Exact top-k neighbors per query vector by cosine similarity.

    Returns (query_id, neighbor_id, score), k rows per query, with a
    total deterministic ordering (score desc, neighbor id asc). The
    query side is broadcast — the corpus never shuffles. With a
    statically-known ``dim``, both sides are quantized and normed ONCE
    PER ROW before the join, so the per-pair work inside the join is a
    single flat int64 dot product that stays inside whole-stage
    codegen (the old inline quantize+norms form generated >64 KB of
    bytecode per pair and fell back to interpreted eval). Pass
    ``dim=None`` for dynamic-length vectors (slower HOF form).
    """
    qid = query_id_col or id_col
    q = queries.select(F.col(qid).alias("query_id"), F.col(vec_col).alias("_qvec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec"))
    if dim:
        q = q.select(
            "query_id", quantize_vec("_qvec").alias("_qq")
        ).withColumn("_qn", norm_sq_prequantized(F.col("_qq")))
        c = c.select(
            "neighbor_id", quantize_vec("_cvec").alias("_cq")
        ).withColumn("_cn", norm_sq_prequantized(F.col("_cq")))
        score = cosine_prequantized(
            F.col("_qq"), F.col("_cq"), F.col("_qn"), F.col("_cn"), dim
        )
    else:
        score = cosine_quantized(F.col("_qvec"), F.col("_cvec"))
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).withColumn(
        "score", score
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "score")
    )


def cosine_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    query_id_col: str | None = None,
    max_query_rows: int = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmul — the
    throughput path for dense scoring.

    Pure-SQL expression forms of a 64-dim dot product exceed the JVM's
    8KB JIT method limit, so whole-stage codegen bails out to
    interpreted evaluation (measured ~4 s for 5×50k pairs). Dense
    linear algebra is the textbook case for Arrow + numpy: each
    mapInPandas batch quantizes its corpus slice to int64 and computes
    ONE (batch × dim) @ (dim × |Q|) integer matmul, then emits only
    its local top-k per query; a final tiny window reduces local
    winners to the global top-k. Per-batch candidate output is
    k×|Q| rows, so the shuffle is negligible regardless of corpus
    size, and the numpy kernel is SIMD-vectorized.

    Scores are IDENTICAL to the SQL form (and its DuckDB oracle):
    quantization uses the same round-half-away-from-zero, the int64
    dot is exact, and the final float64 expression matches — so the
    two implementations are interchangeable under the value-hash gate.
    """
    qid = query_id_col or id_col
    q_rows = _collect_query_side(queries, [F.col(qid), F.col(vec_col)], max_query_rows)
    q_ids = [r[0] for r in q_rows]

    def _quant(mat):
        import numpy as np

        scaled = np.abs(mat.astype(np.float64)) * 10000.0
        return (np.copysign(np.floor(scaled + 0.5), mat) ).astype(np.int64)

    import numpy as np

    Q = _quant(np.array([r[1] for r in q_rows], dtype=np.float64))  # |Q| × dim
    q_norm = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))

    src = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v"))
    out_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[qid].dataType),
            T.StructField("neighbor_id", corpus.schema[id_col].dataType),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def score_batches(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            C = _quant(np.stack(pdf["_v"].to_numpy()))
            ids = pdf["neighbor_id"].to_numpy()
            dots = C @ Q.T  # int64, exact
            c_norm = np.sqrt((C * C).sum(axis=1).astype(np.float64))
            scores = dots.astype(np.float64) / (c_norm[:, None] * q_norm[None, :])
            frames = []
            for j, qid_val in enumerate(q_ids):
                col = scores[:, j]
                mask = ids != qid_val
                cand_ids, cand_scores = ids[mask], col[mask]
                if not len(cand_ids):
                    continue
                # Local top-k under the GLOBAL total order
                # (score desc, neighbor_id asc) so ties can't change
                # the final result across batch boundaries.
                order = np.lexsort((cand_ids, -cand_scores))[:k]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qid_val,
                            "neighbor_id": cand_ids[order],
                            "score": cand_scores[order],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    candidates = src.mapInPandas(score_batches, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        candidates.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "score")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    query_id_col: str | None = None,
    seed: int = 42,
    max_query_rows: int = DEFAULT_MAX_QUERY_ROWS,
) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors.

    Train k-means centroids on (a sample of) the corpus, assign every
    corpus vector to its nearest cell, then answer each query by
    exactly scoring ONLY the ``n_probe`` cells nearest to the query —
    the classic FAISS-IVF recall/cost dial.

    Scale shape: centroid training samples the corpus (k-means on a
    bounded sample, constant cost); cell assignment is a narrow map;
    the probe search is an equi-join on cell_id, so candidates
    hash-partition across the cluster and each query touches
    |corpus|·(n_probe/n_cells) vectors. Recall is tested against the
    exact brute-force result (tests/test_operators.py).

    Approximate + trained → no SQL oracle; the exact twins (ss01/ss04)
    are the value-checked reference.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    qid = query_id_col or id_col
    corpus_v = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v")
    ).withColumn("_features", array_to_vector(F.col("_v").cast("array<double>")))
    km = KMeans(k=n_cells, seed=seed, featuresCol="_features", predictionCol="_cell")
    model = km.fit(corpus_v.select("_features"))
    assigned = model.transform(corpus_v).select("neighbor_id", "_v", "_cell")

    # Driver-side centroid matrix (n_cells × dim — tiny) to pick the
    # n_probe nearest cells per query without another Spark job.
    import numpy as np

    centers = np.array([np.asarray(c) for c in model.clusterCenters()])
    q_rows = _collect_query_side(
        queries,
        [F.col(qid).alias("query_id"), F.col(vec_col).alias("_qv")],
        max_query_rows,
    )
    probe_rows = []
    for r in q_rows:
        qv = np.array(r["_qv"], dtype=np.float64)
        d = ((centers - qv) ** 2).sum(axis=1)
        for cell in np.argsort(d)[:n_probe]:
            probe_rows.append((r["query_id"], int(cell), list(r["_qv"])))
    probes = queries.sparkSession.createDataFrame(
        probe_rows, ["query_id", "_cell", "_qv"]
    )

    dim = len(q_rows[0]["_qv"]) if q_rows else 1
    probes = probes.select(
        "query_id", "_cell", quantize_vec("_qv").alias("_pq")
    ).withColumn("_pn", norm_sq_prequantized(F.col("_pq")))
    assigned = assigned.withColumn("_aq", quantize_vec("_v")).withColumn(
        "_an", norm_sq_prequantized(F.col("_aq"))
    )
    cand = assigned.join(F.broadcast(probes), "_cell").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    score = cosine_prequantized(
        F.col("_pq"), F.col("_aq"), F.col("_pn"), F.col("_an"), dim
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("score", score)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "score")
    )


def _plane_weight(plane: int, dim: int) -> int:
    """Deterministic pseudo-random weight in [-504, 504]: a fixed
    integer mixing formula — reproducible in any engine, no RNG."""
    return ((plane * 7919 + dim * 104729 + 12345) % 1009) - 504


def lsh_bucket(
    vec: Column, n_planes: int = 8, dim: int = 64, plane_offset: int = 0
) -> Column:
    """Sign-LSH bucket id: bit i = [dot(plane_{offset+i}, vec) >= 0].

    Each plane's dot product is an exact int64 sum over the quantized
    vector — fully deterministic. Bucket ids land in [0, 2^n_planes).
    ``plane_offset`` selects a disjoint plane slice so table t of an
    OR-construction uses planes [t·n_planes, (t+1)·n_planes) — same
    weight schedule, independent hash tables.
    """
    qvec = F.transform(vec, lambda x: F.round(x.cast("double") * F.lit(10000.0)).cast("long"))
    return lsh_bucket_prequantized(
        qvec, n_planes=n_planes, dim=dim, plane_offset=plane_offset
    )


def lsh_buckets_kernel(
    qvec: Column,
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 1,
    plane_offset: int = 0,
) -> Column:
    """ALL ``n_tables`` sign-LSH buckets of a pre-quantized vector in
    one Arrow-batched numpy matmul — returns array<long> of length
    ``n_tables`` (table t's bucket at index t+1, planes
    [offset + t·n_planes, offset + (t+1)·n_planes)).

    Bit-identical to ``lsh_bucket_prequantized`` (same integer plane
    weights, exact int64 dots — parity-tested), but ~three orders of
    magnitude cheaper per row: the Catalyst form is n_planes
    interpreted zip_with+aggregate folds (~ms per row at 8×64), and
    join pipelines evaluate it more than once per row (scan null
    filter + projection, per table, both sides) — profiled at sf0.1
    the bucket HOFs dominated the multi-probe build (~20 s of a 22 s
    run). One (rows × dim) @ (dim × planes) int64 matmul per Arrow
    batch replaces all of it; weights ≤ 504 and |q| ≤ 1e4·|x| keep the
    dot far inside int64, so the sign bits are exact in any engine.
    The dd03/dd05 convention: Catalyst form = the DuckDB-replayable
    reference, kernel = the corpus-scale path, hash-equal by test."""
    from pyspark.sql.functions import pandas_udf

    total = n_planes * n_tables
    W = np.array(
        [
            [_plane_weight(plane_offset + i, j) for i in range(total)]
            for j in range(dim)
        ],
        dtype=np.int64,
    )

    @pandas_udf(T.ArrayType(T.LongType()))
    def _buckets(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy()).astype(np.int64)  # rows × dim
        signs = (M @ W) >= 0  # rows × (n_planes·n_tables), exact int64
        buckets = np.zeros((len(M), n_tables), dtype=np.int64)
        for t in range(n_tables):
            for i in range(n_planes):
                buckets[:, t] |= signs[:, t * n_planes + i].astype(np.int64) << i
        return pd.Series(list(buckets))

    return _buckets(qvec)


def lsh_bucket_prequantized(
    qvec: Column, n_planes: int = 8, dim: int = 64, plane_offset: int = 0
) -> Column:
    """``lsh_bucket`` over an ALREADY-quantized int64 array (the
    stored form incremental maintenance keeps) — same plane schedule,
    bit-identical buckets, no re-quantization per probe.

    This is the Catalyst/DuckDB-replayable REFERENCE form; per-row it
    is n_planes interpreted HOF folds — use ``lsh_buckets_kernel``
    (bit-equal, parity-tested) anywhere the bucket is computed over a
    corpus rather than a bounded eval slice."""
    bucket = F.lit(0).cast("long")
    for i in range(n_planes):
        weights = F.array(
            *[F.lit(_plane_weight(plane_offset + i, j)).cast("long") for j in range(dim)]
        )
        dot = F.aggregate(
            F.zip_with(qvec, weights, lambda x, w: x * w),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot >= 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def lsh_multi_table_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_planes: int = 8,
    n_tables: int = 2,
    dim: int = 64,
) -> DataFrame:
    """OR-construction sign-LSH: candidate pairs that share a bucket in
    ANY of ``n_tables`` independent tables (disjoint plane slices),
    deduplicated, then verified by exact cosine ≥ threshold — the
    standard recall amplifier when a single table's collision
    probability is low (recall ≈ 1-(1-p)^L). Each table is its own
    bucket equi-join; the union dedups on the (id_a, id_b) pair key.
    At 100 TB that is L bucket joins + one pair-key distinct — still
    never an all-pairs stage. Buckets for all L tables come from one
    Arrow matmul per row (``lsh_buckets_kernel``); the per-plane
    Catalyst fold is the bounded-eval-slice form.
    """
    quantized = df.select(
        F.col(id_col), quantize_vec(F.col(vec_col)).alias("_qv")
    ).withColumn(
        "_bkts",
        lsh_buckets_kernel(
            F.col("_qv"), n_planes=n_planes, dim=dim, n_tables=n_tables
        ),
    )
    # The quantize+bucket pass feeds BOTH sides of every table's join
    # (2·L subtree references); checkpoint it ONCE so the scan, the
    # quantize HOF and the Arrow bucket matmul run a single time (the
    # prefix_filter_pairs rule, r13 class 4 / guide §5).
    if n_tables > 1:
        quantized = quantized.localCheckpoint(eager=True)
    out = None
    for t in range(n_tables):
        bucketed = quantized.withColumn("_blk", F.element_at("_bkts", t + 1))
        pairs = near_dup_pairs(
            bucketed, id_col=id_col, vec_col="_qv", threshold=threshold,
            block_col="_blk", dim=dim, prequantized=True,
        ).select("id_a", "id_b")
        out = pairs if out is None else out.unionByName(pairs)
    return out.distinct()


def tables_for_recall(
    target_recall: float, p_single: float, max_tables: int = 64
) -> int:
    """Smallest table count L with 1-(1-p)^L >= target — the number a
    recall-targeted 100-TB ANN/dedup run needs BEFORE it commits to a
    bucket layout. ``p_single`` is the MEASURED single-table recall
    (ss08/ss09's accounting), not a theoretical collision probability.

    The formula assumes tables are independent; measured OR-curves on
    the eval slice undershoot it slightly (sf0.001: L=4 measured
    0.0847 vs 0.0923 predicted from p=0.0239), so treat the result as
    the floor, re-measure with ss09's harness, and bump L if the
    target is tight. Raises when the target is unreachable within
    ``max_tables`` — an unreachable target should fail loudly at plan
    time, not silently return low-recall pairs.
    """
    import math

    if not (0.0 < target_recall < 1.0):
        raise ValueError(f"target_recall must be in (0, 1), got {target_recall}")
    if not (0.0 < p_single <= 1.0):
        raise ValueError(f"p_single must be in (0, 1], got {p_single}")
    if p_single >= target_recall:
        return 1
    tables = math.ceil(math.log1p(-target_recall) / math.log1p(-p_single))
    if tables > max_tables:
        raise ValueError(
            f"recall {target_recall} needs {tables} tables at measured "
            f"p={p_single} (> max_tables={max_tables}); raise the per-table "
            "recall (fewer planes / multi-probe) instead of the table count"
        )
    return tables


def lsh_pairs_for_recall(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    target_recall: float,
    p_single: float,
    n_planes: int = 8,
    dim: int = 64,
    max_tables: int = 64,
) -> DataFrame:
    """Recall-targeted OR-construction: choose L from the measured
    single-table recall via ``tables_for_recall`` and run
    ``lsh_multi_table_pairs`` with that many independent tables — the
    operator form of the ss08/ss09 measurement loop (measure p once on
    the eval slice, then size the production build from it). Same
    scale shape as the underlying multi-table operator: L bucket
    equi-joins + one pair-key distinct, never all-pairs.
    """
    tables = tables_for_recall(target_recall, p_single, max_tables=max_tables)
    return lsh_multi_table_pairs(
        df,
        id_col,
        vec_col,
        threshold=threshold,
        n_planes=n_planes,
        n_tables=tables,
        dim=dim,
    )


def probe_masks(n_planes: int, probe_bits: int) -> list[int]:
    """All XOR masks of popcount <= probe_bits over n_planes bits,
    ascending (0 first) — the Hamming ball a multi-probe query visits.
    len = sum_{d<=probe_bits} C(n_planes, d): 8 planes → 1 / 9 / 37 /
    93 buckets at probe_bits 0/1/2/3."""
    from itertools import combinations

    if not (0 <= probe_bits <= n_planes):
        raise ValueError(
            f"probe_bits must be in [0, {n_planes}], got {probe_bits}"
        )
    masks = []
    for d in range(probe_bits + 1):
        for bits in combinations(range(n_planes), d):
            masks.append(sum(1 << b for b in bits))
    return sorted(masks)


def lsh_multi_probe_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_planes: int = 8,
    probe_bits: int = 1,
    dim: int = 64,
    plane_offset: int = 0,
    n_tables: int = 1,
) -> DataFrame:
    """Multi-probe sign-LSH: candidate pairs whose buckets differ in at
    most ``probe_bits`` plane signs, verified by exact cosine >=
    threshold — the OTHER recall amplifier (Lv et al., 'Multi-Probe
    LSH', VLDB'07). Where OR-construction adds L independent hash
    TABLES (L× index storage, L bucket joins + a pair-key distinct),
    multi-probe keeps ONE table and visits the Hamming-ball buckets at
    query time: the probe side explodes ×|masks| rows, the index side
    stays one bucket per vector — the trade a 100-TB ANN build chooses
    when index storage (or streaming maintenance of L bucket columns)
    is the binding cost.

    Exactly one emission per pair, NO distinct stage: a pair at
    Hamming distance d matches exactly the single mask m = bucket_a
    XOR bucket_b (popcount d), and the ``id_a < id_b`` predicate keeps
    one direction — so unlike the OR-construction there is no
    dedup shuffle at all; the only shuffle is the bucket equi-join
    itself (never all-pairs).

    ``n_tables > 1`` composes BOTH amplifiers (probes within each
    table, OR across tables on disjoint plane slices — then the
    pair-key distinct the OR-construction needs): measured at the
    sf0.01 eval slice, 2 tables × 3-bit probes reach the recall a lone
    amplifier can't affordably buy (see ss12 / README).

    Quantize + norm once per row; the join scores pre-quantized arrays
    with the flat codegen-resident dot (the ss01-family fast path).
    """
    masks = probe_masks(n_planes, probe_bits)
    base = (
        df.select(
            F.col(id_col).alias("_id"), quantize_vec(F.col(vec_col)).alias("_qv")
        )
        .withColumn("_n", norm_sq_prequantized(F.col("_qv")))
        # ALL tables' buckets in one Arrow matmul per row (the
        # interpreted per-plane HOF fold dominated this operator —
        # see lsh_buckets_kernel).
        .withColumn(
            "_bkts",
            lsh_buckets_kernel(
                F.col("_qv"),
                n_planes=n_planes,
                dim=dim,
                n_tables=n_tables,
                plane_offset=plane_offset,
            ),
        )
    )
    # The quantize+norm+bucket pass feeds the probe AND index side of
    # every table's join (2·n_tables subtree references); checkpoint
    # it ONCE (the prefix_filter_pairs rule, r13 class 4 / guide §5).
    # The single-table form keeps the lazy plan — the ss11 plan guard
    # inspects the bucket fold below the join, and one table is only
    # two references of a map-only subtree.
    if n_tables > 1:
        base = base.localCheckpoint(eager=True)
    out = None
    for t in range(n_tables):
        bucketed = base.withColumn("_bkt", F.element_at("_bkts", t + 1))
        # Explode the LITERAL mask array and XOR after the Generate:
        # fanning out pre-xored buckets (explode(array(_bkt^m1, ...,
        # _bkt^m93))) lets projection collapse inline the bucket's
        # 8-plane HOF expression into every array element — the bucket
        # fold ran 93× per row, interpreted (measured 43 s → 2.2 s at
        # sf0.1 for the 3-bit × 3-table build). The Generate boundary
        # pins _bkt to one evaluation per row.
        probe = bucketed.withColumn(
            "_m", F.explode(lit_long_array(masks))
        ).select(
            "_id",
            "_qv",
            "_n",
            F.col("_bkt").bitwiseXOR(F.col("_m")).alias("_pb"),
        )
        # shuffle_hash on the INDEX side: Catalyst's size estimate does
        # not model the ×|masks| explode, so it happily picks the probe
        # side as a broadcast build — ~100 MB per table at a 2k-vector
        # sf0.1 (driver OOM in the bench), unbounded at scale. The
        # shuffled hash join on the bucket key is the plan that holds
        # at 100 TB: both sides hash-partition on bucket, the build is
        # the one-bucket-per-vector index partition. Plan-guarded.
        a = probe.alias("a")
        b = bucketed.hint("shuffle_hash").alias("b")
        # HOF dot, not the flat expanded form: 9× measured in this
        # join's condition codegen (functions.cosine_prequantized_hof
        # docstring carries the A/B).
        sim = cosine_prequantized_hof(
            F.col("a._qv"), F.col("b._qv"), F.col("a._n"), F.col("b._n")
        )
        pairs = (
            a.join(
                b,
                (F.col("a._pb") == F.col("b._bkt"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .select(
                F.col("a._id").alias("id_a"),
                F.col("b._id").alias("id_b"),
                sim.alias("cosine"),
            )
            .where(F.col("cosine") >= F.lit(threshold))
        )
        out = pairs if out is None else out.unionByName(pairs)
    # Within one table each pair surfaces exactly once (unique mask +
    # id_a < id_b); only the cross-table OR needs the dedup.
    return out if n_tables == 1 else out.distinct()


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_col: str | None = None,
    dim: int | None = 64,
    prequantized: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs ≥ threshold, blocked by
    ``block_col`` (or LSH bucket) so the self-join is an equi-join.
    ``prequantized=True`` declares ``vec_col`` already int64-quantized
    (the stored-index form) and skips the per-row quantization."""
    cols = [F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")]
    if block_col:
        cols.append(F.col(block_col).alias("_blk"))
    base = df.select(*cols)
    if dim:
        # Quantize + norm once per ROW; the self-join then scores
        # pre-quantized arrays. The per-pair dot is the zip_with/
        # aggregate form — on Spark 4.1 it beat the flat expanded
        # chain in every re-measured join context (2.5 s vs 3.7–10 s
        # at sf0.1 here; see functions.cosine_prequantized_hof).
        qv = F.col("_v") if prequantized else quantize_vec("_v")
        base = base.withColumn("_qv", qv).withColumn(
            "_n", norm_sq_prequantized(F.col("_qv"))
        )
    a, b = base.alias("a"), base.alias("b")
    cond = F.col("a._id") < F.col("b._id")
    if block_col:
        cond = cond & (F.col("a._blk") == F.col("b._blk"))
    sim = (
        cosine_prequantized_hof(
            F.col("a._qv"), F.col("b._qv"), F.col("a._n"), F.col("b._n")
        )
        if dim
        else cosine_quantized(F.col("a._v"), F.col("b._v"))
    )
    return (
        a.join(b, cond)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            sim.alias("cosine"),
        )
        .where(F.col("cosine") >= F.lit(threshold))
    )


def mutual_knn_edges(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    block_col: str | None = None,
) -> DataFrame:
    """Mutual k-nearest-neighbor graph edges by cosine similarity —
    the symmetric kNN graph that feeds graph-based semantic
    clustering (NN-descent refinement, HDBSCAN-style density, or the
    repo's connected-components family on embedding space).

    An edge (a, b) survives only when b is in a's top-k AND a is in
    b's top-k — the standard mutuality filter that strips hub nodes'
    asymmetric fan-in. Ranking is totally ordered (cosine DESC,
    neighbor id ASC — exact-int dots make the scores engine-stable),
    so the edge set is deterministic.

    Plan: ONE blocked candidate self-join (equi-join on ``block_col``
    — at corpus scale pass an LSH bucket or cluster assignment as the
    block; an unblocked call is the bounded-eval-slice form), with the
    cosine computed once per join row and BOTH edge orientations
    exploded from it — a naive union of the reversed projection would
    make Catalyst evaluate the join subtree twice. Per-node top-k is
    one src-partition window (WindowGroupLimit prunes to k per
    partition map-side before the exchange), and mutuality is a
    pair-key groupBy counting orientations (an edge is mutual iff both
    survive ranking — count == 2), which avoids the self-semi-join
    that would re-derive the whole ranked subtree a second time.
    Returns (id_a, id_b, cosine) with id_a < id_b.
    """
    cols = [F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")]
    if block_col:
        cols.append(F.col(block_col).alias("_blk"))
    base = (
        df.select(*cols)
        .withColumn("_qv", quantize_vec("_v"))
        .withColumn("_n", norm_sq_prequantized(F.col("_qv")))
        # Zero-norm vectors have NaN cosine, and Spark ranks NaN above
        # every number — one degenerate row would top every ranking.
        .where(F.col("_n") > 0)
    )
    a, b = base.alias("a"), base.alias("b")
    cond = F.col("a._id") < F.col("b._id")
    if block_col:
        cond = cond & (F.col("a._blk") == F.col("b._blk"))
    sim = cosine_prequantized_hof(
        F.col("a._qv"), F.col("b._qv"), F.col("a._n"), F.col("b._n")
    )
    directed = (
        a.join(b, cond)
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("a._id").alias("src"),
                        F.col("b._id").alias("dst"),
                        sim.alias("cosine"),
                    ),
                    F.struct(
                        F.col("b._id").alias("src"),
                        F.col("a._id").alias("dst"),
                        sim.alias("cosine"),
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst", "e.cosine")
    )
    w = Window.partitionBy("src").orderBy(F.col("cosine").desc(), F.col("dst").asc())
    topk = directed.withColumn("_rk", F.row_number().over(w)).where(
        F.col("_rk") <= F.lit(k)
    )
    # Both orientations carry the identical double (computed once per
    # join row), so the pair-key groupBy may carry cosine as a key.
    return (
        topk.select(
            F.least("src", "dst").alias("id_a"),
            F.greatest("src", "dst").alias("id_b"),
            "cosine",
        )
        .groupBy("id_a", "id_b", "cosine")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") == 2)
        .select("id_a", "id_b", "cosine")
    )


def mutual_knn_edges_kernel(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    block_col: str | None = None,
) -> DataFrame:
    """``mutual_knn_edges`` as ONE Arrow-batched per-block numpy kernel
    — bit-identical edges (parity test-pinned), the corpus-scale path
    (the lsh_buckets_kernel / dd03-dd05 convention: Catalyst form = the
    DuckDB-replayable reference, kernel = the fast path).

    The Catalyst form pays an interpreted zip_with+aggregate cosine per
    CANDIDATE PAIR (n_block² HOF folds), then a src-window shuffle and
    a pair-key groupBy shuffle. Here the whole per-block computation —
    pairwise dots as one (n×dim)@(dim×n) exact-int64 matmul, the
    (cos DESC, id ASC) top-k rank, and the mutuality filter — runs in
    numpy inside one ``applyInPandas`` over the block key: ONE shuffle
    total, no per-pair Python or HOF cost. Bit-equality holds because
    every step matches the reference op-for-op: quantization and the
    zero-norm filter stay in the same JVM projections, the dot is exact
    int64 either way, and the one float expression is the same IEEE
    ``double(dot) / (sqrt(double(n_a)) · sqrt(double(n_b)))`` —
    correctly-rounded sqrt and one multiply/divide are bit-identical in
    numpy and the JVM. The ranking tie-break (cosine DESC, id ASC)
    falls out of a STABLE argsort over id-sorted columns.

    Same bounded-block contract as the join form: a group must fit one
    task (blocks are k-means cells / labels / LSH buckets whose size
    the caller already bounds to keep the join subquadratic; an
    unblocked call is the bounded-eval-slice form and runs as a single
    group). Returns (id_a, id_b, cosine) with id_a < id_b; ids must be
    integral (they ride through int64)."""
    cols = [F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")]
    if block_col:
        cols.append(F.col(block_col).alias("_blk"))
    base = (
        df.select(*cols)
        .withColumn("_qv", quantize_vec("_v"))
        .withColumn("_n", norm_sq_prequantized(F.col("_qv")))
        .where(F.col("_n") > 0)
        .select(
            *(["_blk"] if block_col else []),
            F.col("_id").cast("long").alias("_id"),
            "_qv",
            "_n",
        )
    )
    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def _block_edges(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"id_a": pd.Series(dtype="int64"),
                 "id_b": pd.Series(dtype="int64"),
                 "cosine": pd.Series(dtype="float64")}
            )
        order = np.argsort(pdf["_id"].to_numpy(), kind="stable")
        ids = pdf["_id"].to_numpy()[order].astype(np.int64)
        M = np.stack(pdf["_qv"].to_numpy()[order]).astype(np.int64)
        nrm = pdf["_n"].to_numpy()[order].astype(np.int64)
        G = M @ M.T  # exact int64 pairwise dots
        s = np.sqrt(nrm.astype(np.float64))
        cos = G.astype(np.float64) / (s[:, None] * s[None, :])
        # Per-row top-k by (cos DESC, id ASC): columns are id-ascending,
        # so a STABLE descending sort breaks ties exactly like the
        # reference window's (cosine DESC, dst ASC). Self is excluded
        # by a -inf diagonal (the a._id != b._id join condition); a
        # block smaller than k+1 keeps only real neighbors via the
        # -inf validity mask.
        C = cos.copy()
        np.fill_diagonal(C, -np.inf)
        kk = min(k, n - 1)
        idx = np.argsort(-C, axis=1, kind="stable")[:, :kk]
        rows = np.repeat(np.arange(n), kk)
        valid = np.isfinite(C[rows, idx.ravel()])
        top = np.zeros((n, n), dtype=bool)
        top[rows[valid], idx.ravel()[valid]] = True
        mutual = top & top.T
        ia, ja = np.triu_indices(n, 1)
        keep = mutual[ia, ja]
        ia, ja = ia[keep], ja[keep]
        return pd.DataFrame(
            {"id_a": ids[ia], "id_b": ids[ja], "cosine": cos[ia, ja]}
        )

    grouped = (
        base.groupBy("_blk")
        if block_col
        else base.groupBy(F.lit(0).alias("_g"))
    )
    return grouped.applyInPandas(_block_edges, out_schema)


# ---------------------------------------------------------------------------
# Scalar quantization (SQ) — per-dimension int codes
# ---------------------------------------------------------------------------


def sq_dim_stats(qv_df: DataFrame, vec_col: str = "_qv") -> DataFrame:
    """Per-dimension (lo, range) over a PRE-QUANTIZED int64 vector
    column, gathered into one row of two dim-long arrays (lo_l, rng_l)
    ordered by dimension — the training artifact of scalar
    quantization. One posexplode + one 64-group aggregate (partial
    map-side combine), then a 64-row gather: tiny at any corpus size.
    range is clamped to ≥1 so constant dimensions encode to 0 instead
    of dividing by zero (both engines would fault loudly otherwise).
    """
    dims = (
        qv_df.select(F.posexplode(vec_col).alias("i", "v"))
        .groupBy("i")
        .agg(
            F.min("v").alias("lo"),
            F.greatest(F.max("v") - F.min("v"), F.lit(1).cast("long")).alias("rng"),
        )
    )
    return dims.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "lo"))), lambda s: s["lo"]
        ).alias("lo_l"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "rng"))), lambda s: s["rng"]
        ).alias("rng_l"),
    )


def sq_encode(
    qv_df: DataFrame, stats: DataFrame, levels: int, vec_col: str = "_qv"
) -> DataFrame:
    """Affine-encode pre-quantized vectors to per-dimension integer
    codes in [0, levels]: code_d = (x_d − lo_d)·levels div rng_d.

    Map-only: the 1-row stats frame broadcasts onto the scan, the two
    zip_with passes stay per-row (the quantize_vec precedent — HOF
    per-element interpretation is fine in a per-ROW encode; only
    per-PAIR join math needs codegen care). Integer division uses the
    exact (n − n % d) / d form: every intermediate ≤ 2·10⁴·levels per
    element, deep inside int64, and the double quotient is an exact
    small integer. 8-bit codes (levels=255) cut vector memory 4× vs
    float32 at near-exact recall; 4-bit (levels=15) 8× — the gentle
    end of the compression ladder PQ (pq_encode) anchors at 64×.
    Output replaces ``vec_col`` with ``cv`` (array<long> codes).
    """
    num = lambda x, lo: (x - lo) * F.lit(levels)  # noqa: E731
    return (
        qv_df.crossJoin(F.broadcast(stats))
        .withColumn(
            "_shift", F.zip_with(vec_col, "lo_l", lambda x, lo: num(x, lo))
        )
        .withColumn(
            "cv",
            F.zip_with(
                "_shift", "rng_l", lambda n, r: ((n - (n % r)) / r).cast("long")
            ),
        )
        .drop("_shift", "lo_l", "rng_l", vec_col)
    )


# ---------------------------------------------------------------------------
# Rademacher random projection — the dense zero-training compression
# basis (Johnson-Lindenstrauss with a deterministic ±1 matrix)
# ---------------------------------------------------------------------------


def rademacher_signs(in_dim: int, out_dim: int) -> list[list[int]]:
    """Deterministic ±1 projection matrix, row j = output dimension:
    sign(i, j) = 1 − 2·(kmv_hash(i·101 + j) mod 2) — the sketch
    family's quadratic mixer (operators/sketch.py kmv_hash) replicated
    in pure Python, so the SAME literal matrix is inlined into both
    the Spark plan and the generated DuckDB oracle (the q47 pattern:
    constants single-sourced, engines replay them verbatim). Keys
    i·101 + j are collision-free for out_dim ≤ 101.

    Unnormalized entries: E‖Pv‖² = out_dim·‖v‖², a constant factor
    that cancels in ranking, so the projected space stays EXACT int64
    (|coord| ≤ in_dim·10⁴ after quantize_vec — squared-distance terms
    stay far inside 2^53)."""
    if out_dim > 101:
        raise ValueError("out_dim must be <= 101 (key collision bound)")
    return [
        [1 - 2 * (_kmv_hash_py(i * 101 + j) % 2) for i in range(in_dim)]
        for j in range(out_dim)
    ]


def _kmv_hash_py(x: int) -> int:
    """Pure-Python replica of operators/sketch.kmv_hash — the driver-
    side source of the deterministic sign/permutation constants that
    get inlined as literals into BOTH the Spark plan and the generated
    oracle (the single-sourcing that makes these transforms
    hash-verifiable)."""
    from .sketch import KMV_A, KMV_B, KMV_C, KMV_P

    x0 = ((x % KMV_P) + KMV_P) % KMV_P
    t1 = ((x0 * x0) % KMV_P * KMV_A) % KMV_P
    t2 = (x0 * KMV_B) % KMV_P
    return (t1 + t2 + KMV_C) % KMV_P


def signed_permutation(dim: int) -> tuple[list[int], list[int]]:
    """Deterministic signed permutation of ``dim`` coordinates — an
    EXACT isometry (out[j] = sign[j] · v[perm[j]]): L2 distances are
    preserved bit-for-bit in both float and quantized-int space
    (negation and reordering are exact; round is half-away-from-zero
    on both engines, so quantize∘rotate == rotate∘quantize). The
    cheapest member of the random-rotation family PQ preprocessing
    uses (OPQ's "RR" baseline): it redistributes per-SUBSPACE energy
    without mixing coordinates. perm = argsort of kmv_hash(i+1);
    sign[j] from the Rademacher row — all driver-side literals."""
    h = [_kmv_hash_py(i + 1) for i in range(dim)]
    perm = sorted(range(dim), key=lambda i: (h[i], i))
    signs = rademacher_signs(dim, 1)[0]
    return perm, signs


def rademacher_project(
    qv_df: DataFrame, out_dim: int, in_dim: int, vec_col: str = "_qv"
) -> DataFrame:
    """Project pre-quantized int vectors to ``out_dim`` exact int64
    coordinates: pv[j] = Σ_i sign(i,j)·qv[i], signs from
    rademacher_signs.

    Map-only (the sq_encode contract): the constant matrix is inlined
    as literal arrays and each output coordinate is one zip_with/
    aggregate pass per row — no join, no shuffle, one scan at any
    corpus size. HOF per-element interpretation is fine in a per-ROW
    encode; the per-PAIR distance math downstream runs on the
    materialized projected vectors. Output replaces ``vec_col`` with
    ``pv`` (array<long>, length out_dim)."""
    signs = rademacher_signs(in_dim, out_dim)
    coords = [
        F.aggregate(
            F.zip_with(
                vec_col,
                lit_long_array(row),
                lambda x, s: x * s,
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        for row in signs
    ]
    return qv_df.withColumn("pv", F.array(*coords)).drop(vec_col)
