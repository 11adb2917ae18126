"""Deterministic sampling operators for training-data pipelines.

`df.sample()` is seed-dependent *per partition layout* — the same seed
on a different file split yields a different sample, which breaks
reproducibility the moment a 100 TB corpus is re-compacted. These
operators hash a stable key instead: membership depends only on the
row's key, so the sample is identical across runs, partitionings,
engines — and oracle-replayable in plain SQL (the driver checks q35).

The hash is a Knuth multiplicative step mod the engine's poly prime:
(key * 2654435761) % p — key magnitudes up to ~3.4e3 * p stay inside
int64, and both Spark and DuckDB evaluate it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import POLY_P

__all__ = [
    "sample_hash_bucket",
    "deterministic_sample",
    "quota_sample",
    "weighted_race_key",
    "weighted_sample_topk",
]

_KNUTH = 2_654_435_761


def sample_hash_bucket(key: Column | str, p: int = POLY_P) -> Column:
    """Stable pseudo-uniform bucket in [0, p) from an integer key."""
    c = F.col(key) if isinstance(key, str) else key
    return (c.cast("long") * F.lit(_KNUTH)) % F.lit(p)


def deterministic_sample(df: DataFrame, key: str, rate: float) -> DataFrame:
    """Keep rows whose key-hash falls below rate·p — a reproducible
    ~rate sample, stable under repartitioning/compaction and pure
    filter pushdown (no shuffle, no RNG state)."""
    return df.where(sample_hash_bucket(key) < F.lit(int(rate * POLY_P)))


def _stratum_case(stratum_col: str, values: dict[str, int], default: int) -> Column:
    """CASE WHEN stratum = s THEN v ... ELSE default — one scalar expr."""
    expr = None
    for stratum, v in values.items():
        cond = F.col(stratum_col) == F.lit(stratum)
        expr = F.when(cond, F.lit(int(v))) if expr is None else expr.when(
            cond, F.lit(int(v))
        )
    return expr.otherwise(F.lit(int(default))) if expr is not None else F.lit(
        int(default)
    )


def _quota_window(
    df: DataFrame, key: str, stratum_col: str, quota: Column
) -> DataFrame:
    """Exact rank filter: first `quota` rows per stratum in (key-hash,
    key) order. One hash shuffle on the stratum; every row of each
    stratum sorts on a single task."""
    from pyspark.sql import Window

    bucket = sample_hash_bucket(key)
    w = Window.partitionBy(stratum_col).orderBy(bucket.asc(), F.col(key).asc())
    # Collision-safe rank name: never clobber a caller's column.
    rank_col = "_rank"
    while rank_col in df.columns:
        rank_col += "_"
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= quota)
        .drop(rank_col)
    )


def quota_sample(
    df: DataFrame,
    key: str,
    stratum_col: str,
    quotas: dict[str, int],
    default_quota: int = 0,
    prefilter: bool = True,
    slack: float = 4.0,
    margin: int = 64,
) -> DataFrame:
    """EXACT-size per-stratum sample: the first ``quotas[stratum]``
    rows of each stratum in stable key-hash order — how a fixed-size
    eval set is drawn (\"exactly 500 docs per source\") when a rate
    can't guarantee the count.

    Ordering is (key-hash, key): pseudo-random but fully deterministic
    across runs, partitionings, and engines — and because it's a total
    order, the chosen set is too. Strata smaller than their quota keep
    every row.

    Scale shape: the naive form windows the WHOLE stratum — every row
    of a stratum lands on one task for the row_number sort, a multi-TB
    single-task sort when 100 TB splits over a handful of sources.
    Instead (``prefilter=True``, the default):

    1. one map-side-combined ``groupBy(stratum).count()`` gives exact
       stratum sizes n_s (|strata| is source-cardinality small — the
       result is collected);
    2. because the key-hash is pseudo-uniform on [0, p), the quota-th
       order statistic of n_s draws concentrates at q/n_s·p; keep only
       rows with ``bucket < p·(slack·q + margin)/n_s`` — a scalar
       CASE-WHEN predicate evaluated at the scan, no shuffle;
    3. verify: count survivors per stratum; any stratum with fewer
       than min(q, n_s) survivors gets its threshold widened 8× and
       the filter re-runs (geometric, terminates at p — in practice
       the Chernoff tail at slack=4, margin=64 makes widening a
       never-event);
    4. the exact rank window then runs on the ~slack·q-row survivor
       set per stratum.

    Survivors are all rows with bucket strictly below the stratum's
    threshold, so they form a PREFIX of the stratum's (bucket, key)
    total order — whenever the verified survivor count reaches
    min(q, n_s), the top-q of the survivors is exactly the top-q of
    the stratum. The result is therefore bit-identical to the window
    form (``prefilter=False``), which is kept for A/B and testing.
    Cost: two map-only scans + a tiny window vs one scan + a
    full-stratum sort; at scale the former wins by orders of
    magnitude. Strata with quota 0 are dropped map-side.
    """
    if any(q < 0 for q in quotas.values()) or default_quota < 0:
        raise ValueError("quotas must be non-negative")
    quota = _stratum_case(stratum_col, quotas, default_quota)
    if not prefilter:
        return _quota_window(df, key, stratum_col, quota)

    sizes = {
        r[stratum_col]: r["_n"]
        for r in df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("_n")).collect()
    }
    thresholds: dict[str, int] = {}
    needed: dict[str, int] = {}
    for stratum, n in sizes.items():
        q = quotas.get(stratum, default_quota)
        if q <= 0 or n == 0:
            continue
        needed[stratum] = min(q, n)
        if q >= n:
            thresholds[stratum] = POLY_P
        else:
            thresholds[stratum] = min(
                POLY_P, int(POLY_P * (slack * q + margin) / n) + 1
            )
    if not thresholds:
        return df.where(F.lit(False))

    bucket = sample_hash_bucket(key)
    while True:
        t_expr = _stratum_case(stratum_col, thresholds, 0)
        survivors = df.where(bucket < t_expr)
        got = {
            r[stratum_col]: r["_n"]
            for r in survivors.groupBy(stratum_col)
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        }
        deficient = [
            s
            for s, need in needed.items()
            if got.get(s, 0) < need and thresholds[s] < POLY_P
        ]
        if not deficient:
            return _quota_window(survivors, key, stratum_col, quota)
        for s in deficient:
            thresholds[s] = min(POLY_P, thresholds[s] * 8)


def temperature_allocation(
    counts: dict[str, int], total: int, scale: int = 1_000_000
) -> dict[str, int]:
    """Exact integer largest-remainder allocation of a ``total`` budget
    across strata with sqrt-temperature weights (the α = 0.5 of
    XLM-R-style multilingual sampling p_s ∝ n_s^α — upsample
    low-resource strata, downsample the head).

    Every step is engine-replayable bit-for-bit, which is why α is
    FIXED at 0.5: IEEE sqrt is correctly rounded in every engine
    (pow(x, α) is not), so ``w_s = floor(sqrt(n_s)·scale)`` is the
    identical int64 in Python, Spark, and DuckDB, and everything after
    is pure integer arithmetic:

        S  = Σ w_s                     (order-free int sum)
        q0 = (total · w_s) div S       (floor division)
        leftover = total - Σ q0        (< #strata)

    with the leftover distributed to the largest remainders
    ``(total · w_s) mod S``, ties broken by stratum name ASC. Strata
    smaller than their quota under-deliver (quota_sample keeps the
    whole stratum); redistribution of that shortfall is a policy
    choice left to the caller.
    """
    import math

    if total < 0:
        raise ValueError(f"total must be >= 0, got {total}")
    w = {
        s: int(math.floor(math.sqrt(n) * scale)) for s, n in counts.items() if n > 0
    }
    if not w:
        return {}
    S = sum(w.values())
    q0 = {s: (total * ws) // S for s, ws in w.items()}
    rem = {s: (total * ws) % S for s, ws in w.items()}
    leftover = total - sum(q0.values())
    bump = sorted(w, key=lambda s: (-rem[s], s))[:leftover]
    return {s: q0[s] + (1 if s in bump else 0) for s in w}


def temperature_sample(
    df: DataFrame,
    key: str,
    stratum_col: str,
    total: int,
    **quota_kwargs,
) -> DataFrame:
    """Temperature-mixed exact-size sample: count strata (one
    map-side-combined aggregate over a 2-column projection; the result
    is stratum-cardinality small and collected), allocate the budget
    with ``temperature_allocation``, then draw each stratum's quota in
    stable key-hash order via ``quota_sample`` (prefiltered — no
    single-reducer stratum sort). Fully deterministic: same corpus →
    same sample, regardless of partitioning or engine."""
    counts = {
        r[stratum_col]: r["n"]
        for r in df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    quotas = temperature_allocation(counts, total)
    return quota_sample(
        df, key=key, stratum_col=stratum_col, quotas=quotas, **quota_kwargs
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement: the Efraimidis–Spirakis
# exponential race in exact integer millibits (pk10's primitive).
# ---------------------------------------------------------------------------

# milli_log2(KMV_P) — derived from the constants, not a magic number.
def _ml2(x: int) -> int:
    f = x.bit_length() - 1
    return 1000 * f + ((x - (1 << f)) * 1000) // (1 << f)


def weighted_race_key(key: Column | str, weight: Column | str) -> Column:
    """Integer Efraimidis–Spirakis race key: smaller wins.

    A-ES (Efraimidis & Spirakis 2006) draws u_i ~ U(0,1) per item and
    keeps the k LARGEST u_i^(1/w_i) — equivalently the k SMALLEST
    exponential variates e_i = -ln(u_i)/w_i, which is the form that
    survives integer arithmetic: u_i comes from the engine's
    deterministic quadratic hash (kmv_hash(key)+1)/P, -log2(u_i) is
    the millibit difference milli_log2(P) - milli_log2(h+1) (both
    sides of the SAME under-approximating spec, so the difference is
    a consistent quantized exponential), and the weight divides it in
    exact integer microbit units: race = e_mb * 1_000_000 div w.

    P(item wins the race) tracks w_i / sum(w) up to the millibit
    quantization (±87 mb on ~31,000 mb of range — a <0.6% rank
    distortion, identical across engines and runs). Weights must be
    POSITIVE integers — NULL/zero/negative raise loudly (a zero
    weight would divide-by-zero as an 'always wins' sentinel; make
    exclusion explicit upstream instead). Ties (same race value)
    break on the key for a total order. Deterministic: membership
    depends only on (key, weight), never partitioning — and replays
    in DuckDB via the same hash + _milli_log2_sql fragments."""
    from ..functions import milli_log2
    from .sketch import KMV_P, kmv_hash

    kc = F.col(key) if isinstance(key, str) else key
    # A NULL key would hash to a NULL race, and NULLs sort FIRST in an
    # ascending window order — a null-keyed row would silently WIN
    # every race. Raise instead (the cm_sketch guard culture).
    kc = F.when(kc.isNotNull(), kc).otherwise(
        F.raise_error(
            F.lit("weighted_race_key needs non-null keys")
        ).cast("long")
    )
    wc = (F.col(weight) if isinstance(weight, str) else weight).cast("long")
    w = F.when(wc > 0, wc).otherwise(
        F.raise_error(
            F.lit("weighted_race_key needs positive integer weights")
        ).cast("long")
    )
    e_mb = F.lit(_ml2(KMV_P)).cast("long") - milli_log2(kmv_hash(kc) + F.lit(1))
    num = e_mb * F.lit(1_000_000)
    return ((num - (num % w)) / w).cast("long")


def weighted_sample_topk(
    df: DataFrame,
    key: str,
    weight_col: str,
    k: int,
    stratum_cols=None,
    race_col: str = "race",
    rank_col: str = "rk",
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement: the k
    smallest race keys per stratum (ascending ``race``, key
    tie-break), carrying every input column plus ``race``/``rk``.

    This is one per-stratum window over a race key that is a PURE
    FUNCTION of (key, weight) — which buys the two properties that
    matter at 100 TB: (1) no global shuffle beyond the stratum
    partition (the same shape every top-k-per-group query pays), and
    (2) MERGEABILITY — the top-k of a union is the top-k of the
    per-part top-k's, so per-batch/per-day winner sets of size k are
    the only state a maintained sample needs (streaming/
    weighted_sample.py; the KMV argument applied to sampling).
    Re-compaction, engine swap, replay: same sample."""
    if k <= 0:
        raise ValueError("need k > 0")
    from pyspark.sql import Window

    gs = (
        [stratum_cols]
        if isinstance(stratum_cols, str)
        else list(stratum_cols or [])
    )
    raced = df.withColumn(race_col, weighted_race_key(key, weight_col))
    w = (
        Window.partitionBy(*gs).orderBy(race_col, key)
        if gs
        else Window.partitionBy().orderBy(race_col, key)
    )
    return raced.withColumn(
        rank_col, F.row_number().over(w).cast("long")
    ).where(F.col(rank_col) <= k)
