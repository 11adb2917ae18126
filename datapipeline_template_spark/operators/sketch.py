"""Certified heavy hitters — exact top-k at 100 TB without shuffling
the full distinct-item set.

A plain ``groupBy(item).count()`` top-k shuffles one row per DISTINCT
item; on a web-scale n-gram column that shuffle (billions of distinct
keys) dwarfs the answer. The classic two-pass alternative:

1. **Local top-k'** per partition (Arrow ``mapInPandas``): each
   partition emits its k' most frequent items with their LOCAL counts,
   plus the partition's k'-th count t_i (the cap on anything it
   dropped). Output is k'·partitions rows — tiny.
2. **Exact recount** of the candidate union: broadcast-semi-join the
   candidates against the item stream, one small groupBy, exact global
   counts, total-order top-k.

**Certification** makes the result provably exact rather than
approximate: an item absent from EVERY partition's local top-k' has
global count ≤ Σ t_i (it was below the local threshold everywhere).
If the k-th exact candidate count exceeds that bound, no non-candidate
can displace it — the top-k is certified exact, and the operator
raises otherwise (raise k'). On Zipf-distributed text the bound is
loose by orders of magnitude, so modest k' certifies easily.

This is the SpaceSaving/Misra-Gries shape with per-partition exact
counting. When per-partition distinct counts outgrow executor memory
(a truly web-scale n-gram column), ``local_phase="mg"`` swaps step 1
for a STRICT-memory Misra-Gries summary of ``mg_capacity`` counters:
batches merge into the summary and, whenever it exceeds capacity, the
(overflow)-th smallest count d is subtracted from every counter and
non-positive ones drop — the classic all-decrement step, batched. MG
guarantees every item's true local count ≤ its summary count + D
(D = total decremented), so for items a partition did NOT report,
``t_i = D_i + (k'-th retained count when the summary was truncated)``
is a valid upper bound and the SAME merge/certify contract holds —
the recount is exact either way, only the certification bound loosens
(Zipf columns still certify easily at modest capacity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "certified_topk",
    "KMV_P",
    "kmv_hash",
    "kmv_sketch",
    "kmv_sketch_partial",
    "kmv_merge",
    "kmv_estimate",
    "cm_mix",
    "cm_sketch",
    "cm_fold",
    "cm_estimate",
]


def certified_topk(
    items: DataFrame,
    item_col: str,
    k: int,
    local_k: int = 1024,
    local_phase: str = "exact",
    mg_capacity: int | None = None,
) -> DataFrame:
    """Exact, certified top-``k`` (count DESC, item ASC) of a
    one-column item stream. Raises if exactness cannot be certified at
    this ``local_k``.

    ``local_phase="exact"`` (default) counts every distinct item per
    partition — unbounded in per-partition distinct items.
    ``local_phase="mg"`` holds at most ``mg_capacity`` counters
    (default ``8 * local_k``) per partition via Misra-Gries decrements
    — strict memory, same certified-exact output, looser bound.
    """
    if k <= 0 or local_k < k:
        raise ValueError("need 0 < k <= local_k")
    if local_phase not in ("exact", "mg"):
        raise ValueError("local_phase must be 'exact' or 'mg'")
    capacity = mg_capacity if mg_capacity is not None else 8 * local_k
    if local_phase == "mg" and capacity < local_k:
        raise ValueError("need mg_capacity >= local_k")
    import pandas as pd

    def local_counts(batches):
        acc: dict[str, int] = {}
        for pdf in batches:
            for item, n in pdf[item_col].value_counts().items():
                acc[item] = acc.get(item, 0) + int(n)
        if not acc:
            return
        s = pd.Series(acc).sort_values(ascending=False)
        top = s.iloc[:local_k]
        # t = the partition's k'-th count: an upper bound on every item
        # this partition did NOT report. 0 when nothing was dropped.
        t = int(top.iloc[-1]) if len(s) > local_k else 0
        yield pd.DataFrame(
            {item_col: top.index, "cnt": top.to_numpy(), "t": t}
        )

    def local_counts_mg(batches):
        # Misra-Gries with `capacity` counters: memory is O(capacity)
        # regardless of the partition's distinct-item count. After each
        # batch merge, overflow past capacity subtracts the overflow-th
        # smallest count from EVERY counter (the batched all-decrement)
        # and drops the non-positive ones; `dropped` accumulates the
        # total subtracted, the classic MG undercount bound.
        acc: dict[str, int] = {}
        dropped = 0
        for pdf in batches:
            for item, n in pdf[item_col].value_counts().items():
                acc[item] = acc.get(item, 0) + int(n)
            over = len(acc) - capacity
            if over > 0:
                counts = sorted(acc.values())
                d = counts[over - 1]
                dropped += d
                acc = {i: c - d for i, c in acc.items() if c > d}
        if not acc and dropped == 0:
            return
        s = pd.Series(acc).sort_values(ascending=False) if acc else pd.Series(
            [], dtype="int64"
        )
        top = s.iloc[:local_k]
        # Any UNREPORTED item's true local count <= its MG count + the
        # total decremented. Items evicted or never retained have MG
        # count 0 -> bound `dropped`; items retained but cut by the
        # local_k truncation have MG count <= the k'-th retained count.
        t = dropped + (int(top.iloc[-1]) if len(s) > local_k else 0)
        if len(top) == 0:
            # Everything decremented away (adversarially flat input):
            # emit one null-item row so the partition's bound still
            # reaches the certifier (a null candidate semi-joins to
            # nothing, so it can't pollute the recount).
            yield pd.DataFrame(
                {item_col: [None], "cnt": [0], "t": [t]}
            )
            return
        yield pd.DataFrame(
            {item_col: top.index, "cnt": top.to_numpy(), "t": t}
        )

    fn = local_counts if local_phase == "exact" else local_counts_mg
    local = items.mapInPandas(
        fn, schema=f"{item_col} string, cnt long, t long"
    ).persist()
    try:
        # Σ t_i over partitions. mapInPandas is narrow, so each output
        # partition holds exactly one local_counts emission (its input
        # partition's rows, all carrying the same t) — one t per
        # partition id is that partition's dropped-item cap.
        total_bound = (
            local.select(F.spark_partition_id().alias("_pid"), "t")
            .groupBy("_pid")
            .agg(F.max("t").alias("t"))
            .agg(F.sum("t").alias("bound"))
        )

        candidates = local.select(item_col).distinct()
        exact = (
            items.join(F.broadcast(candidates), item_col, "left_semi")
            .groupBy(item_col)
            .agg(F.count(F.lit(1)).alias("n"))
        )
        topk = exact.orderBy(F.col("n").desc(), F.col(item_col)).limit(k)

        # k rows + one scalar — driver-side metadata, not a data collect.
        rows = topk.collect()
        b = total_bound.first()["bound"] or 0
        kth = rows[-1]["n"] if len(rows) == k else 0
        if b > 0 and kth <= b:
            raise ValueError(
                f"top-{k} not certifiable: k-th count {kth} <= missed-item "
                f"bound {b}; raise local_k (was {local_k})"
            )
    finally:
        local.unpersist()
    spark = items.sparkSession
    return spark.createDataFrame(rows, schema=f"{item_col} string, n long")


def _quantile_pass_counts(df, group_col: str, value_col: str, tasks_df):
    """ONE refinement pass's counting aggregate — the plan that runs
    per pass at 100 TB: broadcast the tiny task frame onto the scan,
    bucket with integer floor division (the double quotient loses
    exactness past 2^53), partial-agg count per (task, bucket). Shared
    with the plan guard in tests so the map-side-combined shape is
    pinned, not assumed."""
    from pyspark.sql import functions as F

    return (
        df.select(F.col(group_col), F.col(value_col).cast("long").alias("_v"))
        .join(F.broadcast(tasks_df), group_col)
        .where((F.col("_v") >= F.col("_lo")) & (F.col("_v") <= F.col("_hi")))
        .groupBy("_task", F.expr("(_v - _lo) DIV _w").alias("_b"))
        .count()
    )


def exact_grouped_quantiles(
    df,
    group_col: str,
    value_col: str,
    probs: list[float],
    branch: int = 1024,
    max_passes: int | None = None,
) -> dict:
    """EXACT interpolating quantiles per group, computed by multipass
    histogram refinement — the quantile plan that survives 100 TB.

    Spark's exact ``percentile`` is a typed aggregate that buffers
    every value of a group in executor memory; on a 100-TB single
    group that is an OOM, and a global sort-based rank is a full
    shuffle. This operator instead binary-searches the VALUE DOMAIN
    with counting passes: each pass histograms the candidate range
    into ``branch`` integer-width buckets per open rank (one tiny
    map-side-combined aggregate over the scan — nothing wide ever
    shuffles), narrows each target rank to its bucket, and repeats.
    ceil(log_branch(range)) + 1 passes resolve every rank exactly —
    for an int64 domain at branch=1024 that is ≤ 7 scans, each
    cheaper than one shuffle of the values.

    Values must be integers (scale doubles first — the cents
    convention). Interpolation follows quantile_cont / Spark
    `percentile`: h = (n-1)·p, v = v_⌊h⌋ + (h-⌊h⌋)·(v_⌈h⌉-v_⌊h⌋) —
    computed driver-side in the same IEEE order, and exact in binary
    floating point for dyadic p on integer values, so results are
    bit-identical to the single-pass aggregate (q26's twin proves it
    against the same oracle).

    Returns {group_value: [quantile per prob]}. Driver coordination
    is O(groups · passes) tiny collects — the legitimate iterative
    shape (cf. connected_components), not a data collect.
    """
    import math

    from pyspark.sql import functions as F

    stats = {
        r[0]: (r[1], r[2], r[3])
        for r in df.groupBy(group_col)
        .agg(
            F.count(value_col).alias("n"),
            F.min(value_col).alias("lo"),
            F.max(value_col).alias("hi"),
        )
        .collect()
    }
    # 0-based ranks needed per group (floor and ceil of each h).
    needs: dict = {}
    for g, (n, lo, hi) in stats.items():
        if n == 0:
            continue
        # The in-plan bucket index computes (_v - _lo) in int64; it is
        # exact only while the group's whole range fits — a domain
        # spanning more than 2^63-1 (lo << 0 << hi) would wrap the
        # subtraction and misassign buckets silently.
        if hi - lo > (1 << 63) - 1:
            raise ValueError(
                f"group {g!r} value range [{lo}, {hi}] exceeds int64 width; "
                "rescale or split the domain before exact_grouped_quantiles"
            )
        s = set()
        for p in probs:
            h = (n - 1) * p
            s.add(math.floor(h))
            s.add(math.ceil(h))
        needs[g] = sorted(s)
    # Open searches: (group, rank) -> [lo, hi, offset-within-range].
    state = {
        (g, r): [stats[g][1], stats[g][2], r] for g in needs for r in needs[g]
    }
    resolved: dict = {}
    spark = df.sparkSession
    if max_passes is None:
        # Each pass shrinks a range by ~branch; size the budget from
        # the widest initial range (+2: resolve pass + slack for the
        # ceil-width rounding).
        widest = max(
            (hi - lo + 1 for (_g, _r), (lo, hi, _o) in state.items()), default=1
        )
        max_passes = 2 + math.ceil(math.log(max(widest, 2)) / math.log(branch))
    for _ in range(max_passes):
        for key, (lo, hi, _off) in list(state.items()):
            if lo == hi:
                resolved[key] = lo
                del state[key]
        if not state:
            break
        tasks = sorted({(g, lo, hi) for (g, _r), (lo, hi, _o) in state.items()})
        # The group field keeps the input column's actual type — a
        # string-only schema would mis-join long/int group keys.
        from pyspark.sql import types as T

        tasks_schema = T.StructType(
            [
                T.StructField("_task", T.IntegerType()),
                T.StructField(group_col, df.schema[group_col].dataType),
                T.StructField("_lo", T.LongType()),
                T.StructField("_hi", T.LongType()),
                T.StructField("_w", T.LongType()),
            ]
        )
        tasks_df = spark.createDataFrame(
            [(i, g, lo, hi, max(1, (hi - lo + 1 + branch - 1) // branch))
             for i, (g, lo, hi) in enumerate(tasks)],
            tasks_schema,
        )
        counts = _quantile_pass_counts(df, group_col, value_col, tasks_df).collect()
        by_task: dict = {}
        for r in counts:
            by_task.setdefault(r["_task"], {})[r["_b"]] = r["count"]
        task_id = {t: i for i, t in enumerate(tasks)}
        for (g, rank), (lo, hi, off) in list(state.items()):
            tid = task_id[(g, lo, hi)]
            w = max(1, (hi - lo + 1 + branch - 1) // branch)
            cum = 0
            for b in sorted(by_task.get(tid, {})):
                c = by_task[tid][b]
                if off < cum + c:
                    state[(g, rank)] = [
                        lo + b * w, min(hi, lo + (b + 1) * w - 1), off - cum
                    ]
                    break
                cum += c
            else:
                raise RuntimeError(
                    f"rank {rank} not found in range for group {g!r} — "
                    "concurrent mutation of the input?"
                )
    if state:
        raise RuntimeError(f"quantile refinement did not converge: {state}")
    out = {}
    for g, (n, _lo, _hi) in stats.items():
        if n == 0:
            continue
        vals = []
        for p in probs:
            h = (n - 1) * p
            f, c = math.floor(h), math.ceil(h)
            vf, vc = resolved[(g, f)], resolved[(g, c)]
            vals.append(float(vf) + (h - f) * (float(vc) - float(vf)))
        out[g] = vals
    return out


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-count sketch — deterministic,
# mergeable, DuckDB-replayable
# ---------------------------------------------------------------------------
#
# HyperLogLog (q19) is the classic constant-memory cardinality sketch,
# but its register values are engine-internal, so the repo can only
# rows-only-check it. KMV (Bar-Yossef et al. 2002, "Counting distinct
# elements in a data stream") gives the same O(k)-memory mergeable
# estimate from plain integer math: keep the k smallest values of a
# uniform hash over the distinct items; with m = k-th minimum over a
# hash range of P, distinct ≈ (k-1) * P / m. Every piece — the hash,
# the k-minimum set, the integer-division estimator — is exact integer
# arithmetic that DuckDB replays verbatim, so the sketch itself is
# hash-green against the oracle (q43), the shadowing pattern that gave
# ss05/tx07 their verified twins.
#
# Hash: a quadratic map mod the Mersenne prime P = 2^31 - 1,
#   h(x) = (A * x0^2 + B * x0 + C) mod P  with x0 = ((x mod P)+P) mod P,
# computed stepwise so every int64 intermediate stays in range in BOTH
# engines (x0^2 < 2^62; each product < 2^62 after reduction; Spark longs
# and DuckDB BIGINTs never overflow — DuckDB would raise, Spark under
# ANSI too). A quadratic residue map mixes far better than an affine
# one (affine maps sequential keys to an arithmetic progression).
#
# Mergeability is exact, not approximate: the k smallest of a union is
# the k smallest of the union of per-part k-smallest sets, so partial
# sketches combine associatively/commutatively/idempotently — the
# property the streaming maintainer (streaming/kmv.py) and the
# map-side-combined batch form both rest on.

KMV_P = 2_147_483_647  # 2^31 - 1
KMV_A = 1_000_003
KMV_B = 998_244_353
KMV_C = 12_345


def kmv_hash(col):
    """Deterministic quadratic hash of a LONG column into [0, KMV_P).

    Mirrors the oracle SQL exactly (same stepwise reductions); string
    keys should go through functions.poly_hash first.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = c.cast("long")
    p = F.lit(KMV_P).cast("long")
    x0 = ((c % p) + p) % p
    t1 = ((x0 * x0) % p * F.lit(KMV_A)) % p
    t2 = (x0 * F.lit(KMV_B)) % p
    return (t1 + t2 + F.lit(KMV_C)) % p


def kmv_sketch(
    df: DataFrame, group_cols, value_col: str, k: int = 64
) -> DataFrame:
    """Per-group KMV sketch — Catalyst form.

    dedup the (group, hash) pairs (one shuffle, the same cardinality a
    COUNT(DISTINCT) pays), rank hashes per group, keep the k smallest.
    Output: group cols + ``kmv array<long>`` (sorted ascending,
    size = min(k, distinct hashes)). NULL values are ignored, matching
    COUNT(DISTINCT) semantics. The value of the sketch over the exact
    count is what you KEEP: an O(k) mergeable summary you can persist
    per partition/day/source and combine later without re-scanning —
    see kmv_merge / streaming/kmv.py.
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError("need k > 0")
    gs = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    dist = (
        df.where(F.col(value_col).isNotNull())
        .select(*gs, kmv_hash(value_col).alias("_h"))
        .distinct()
    )
    w = Window.partitionBy(*gs).orderBy("_h")
    return (
        dist.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .groupBy(*gs)
        .agg(F.sort_array(F.collect_list("_h")).alias("kmv"))
    )


def kmv_sketch_partial(
    df: DataFrame, group_cols, value_col: str, k: int = 64
) -> DataFrame:
    """Per-group KMV sketch — map-side-combined scale form.

    The Catalyst form's dedup shuffles one row per DISTINCT value; at
    100 TB that shuffle dwarfs the k-value answer. Here each Arrow
    batch reduces locally to its k smallest distinct hashes per group
    (``mapInPandas``, narrow), so the shuffle carries at most
    k·batches rows per group; the final merge flattens the partial
    sketches and re-takes the k minimum — EXACT by the k-min-of-union
    identity, verified equal to kmv_sketch by test. This is the
    certified_topk local/merge shape applied to cardinality.
    """
    from pyspark.sql import types as T

    if k <= 0:
        raise ValueError("need k > 0")
    gs = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    pre = df.where(F.col(value_col).isNotNull()).select(
        *gs, kmv_hash(value_col).alias("_h")
    )
    fields = [pre.schema[g] for g in gs]
    out_schema = T.StructType(
        fields + [T.StructField("_kmv_part", T.ArrayType(T.LongType()))]
    )

    def partials(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for key, s in pdf.groupby(gs, sort=False, dropna=False)["_h"]:
                u = np.unique(s.to_numpy(dtype="int64"))  # sorted unique
                key_t = key if isinstance(key, tuple) else (key,)
                rows.append((*key_t, u[:k].tolist()))
            yield pd.DataFrame(rows, columns=[*gs, "_kmv_part"])

    part = pre.mapInPandas(partials, schema=out_schema)
    return part.groupBy(*gs).agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("_kmv_part")))),
            1,
            k,
        ).alias("kmv")
    )


def kmv_merge(a, b, k: int):
    """Column expression merging two KMV sketch arrays: k smallest of
    the distinct union — exact, associative, commutative, idempotent."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.slice(F.array_sort(F.array_distinct(F.concat(ca, cb))), 1, k)


def kmv_estimate(sketch_col, k: int):
    """Distinct-count estimate from a KMV sketch array (long).

    size < k ⇒ the sketch holds EVERY distinct hash: return the exact
    size. Otherwise (k-1)·P div m_k via the overflow-safe exact form
    (num - num % m) / m — the double quotient is exact because it is
    an integer ≤ (k-1)·P < 2^53. F.get is 0-indexed and null-safe, so
    the untaken branch never faults under ANSI.
    """
    c = F.col(sketch_col) if isinstance(sketch_col, str) else sketch_col
    num = F.lit((k - 1) * KMV_P).cast("long")
    m = F.get(c, k - 1)
    est = ((num - (num % m)) / m).cast("long")
    return F.when(F.size(c) < k, F.size(c).cast("long")).otherwise(est)


def kmv_intersect_estimate(a, b, k: int):
    """Theta-style intersection estimate from two KMV sketches.

    The merged sketch's k-th smallest hash m_k (kmv_merge) defines the
    sampling threshold θ: every distinct union hash < m_k is a uniform
    sample of the union at rate m_k/P. Hashes below θ present in BOTH
    sketches are therefore a uniform sample of the INTERSECTION at the
    same rate, so |A∩B| ≈ count_both · P div m_k — the same exact
    integer estimator family as kmv_estimate (count_both ≤ k−1 keeps
    count_both·P < 2^53, so the double quotient is exact). When the
    merged sketch holds fewer than k hashes both input sketches are
    complete and the intersection count is EXACT. This is the
    Datasketches theta-sketch set-operation shape on KMV's k-min
    sample; the estimate itself is deterministic integer math, hence
    DuckDB-hash-verifiable (q44), unlike HLL set ops.
    """
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    merged = kmv_merge(ca, cb, k)
    m_k = F.get(merged, k - 1)
    inter = F.array_intersect(ca, cb)
    below = F.size(F.filter(inter, lambda h: h < m_k)).cast("long")
    num = below * F.lit(KMV_P).cast("long")
    est = ((num - (num % m_k)) / m_k).cast("long")
    return F.when(F.size(merged) < k, F.size(inter).cast("long")).otherwise(est)


def kmv_jaccard_estimate(a, b, k: int):
    """Jaccard estimate from two KMV sketches (double).

    In the estimating regime the k−1 union hashes below θ are the
    uniform union sample, so J ≈ count_both/(k−1); in the exact regime
    (merged size < k ⇒ both sketches complete) it is the exact ratio.
    Both branches divide identical integers, so the double is
    IEEE-identical across engines (the q09 avg discipline).
    """
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    merged = kmv_merge(ca, cb, k)
    m_k = F.get(merged, k - 1)
    inter = F.array_intersect(ca, cb)
    below = F.size(F.filter(inter, lambda h: h < m_k)).cast("double")
    return F.when(
        F.size(merged) < k,
        F.size(inter).cast("double") / F.size(merged).cast("double"),
    ).otherwise(below / F.lit(float(k - 1)))


# ---------------------------------------------------------------------------
# Mergeable log-histogram quantile sketch: integer 0.1-log2 bins via
# functions.milli_log2 — additive bin counts (the KMV/Misra-Gries
# mergeability story applied to quantiles), deterministic upper-edge
# estimator with a ~7.2% design bound on positive int64 values.
# ---------------------------------------------------------------------------

HIST_MILLIBIN = 100  # bin width in millibits → upper/lower ≈ 2^0.1


def log_hist_bins(df: DataFrame, group_cols, value_col: str) -> DataFrame:
    """Per-group log-histogram: bin = milli_log2(v) div 100 over
    POSITIVE int64 values (callers pre-scale money through
    functions.cents). Output (group cols, bin long, cnt long) —
    additive across batches/partitions by construction, ≤ ~540 bins
    per group for any int64-ranged value, which is the whole point:
    an O(bins) mergeable summary where exact quantiles need the data.
    NULL and non-positive values are rejected loudly (a silent drop
    would skew every quantile downstream)."""
    from ..functions import milli_log2

    gs = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    v = F.col(value_col)
    # Guard INSIDE the binning pass (raise_error fires on the first bad
    # row at executor time) — a separate validation scan would double
    # the corpus reads for a check that almost never fires.
    mb = F.when(v.isNotNull() & (v > 0), milli_log2(v)).otherwise(
        F.raise_error(
            F.lit(f"log_hist_bins needs positive non-null {value_col!r} values")
        ).cast("long")
    )
    return (
        df.select(*gs, mb.alias("_mb"))
        .select(*gs, F.expr(f"_mb DIV {HIST_MILLIBIN}").alias("bin"))
        .groupBy(*gs, "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def log_hist_upper(bin_col) -> "Column":
    """Integer upper edge of a 0.1-log2 bin: the smallest x with
    milli_log2(x) ≥ 100·(bin+1), computed exactly in int64 —
    f = t div 1000, p = 1<<f, edge = p + ceil((t mod 1000)·p / 1000).
    Safe for bins from values < 2^40 (rem·p stays far inside int64);
    money-in-cents is < 2^40 by ~17 orders of magnitude."""
    b = F.col(bin_col) if isinstance(bin_col, str) else bin_col
    t = (b + 1) * F.lit(HIST_MILLIBIN).cast("long")
    f = ((t - t % 1000) / 1000).cast("long")
    rem = t % 1000
    # 2^f via pow: exactly representable in double for f ≤ 52, and the
    # domain bound (values < 2^40) keeps f far below that.
    p = F.pow(F.lit(2.0), f.cast("double")).cast("long")
    num = rem * p
    return p + ((num + 999 - ((num + 999) % 1000)) / 1000).cast("long")


def hist_quantiles(counts: DataFrame, group_cols, qs) -> DataFrame:
    """Quantile estimates from merged log-histogram counts: for each
    (qnum, qden) pick the smallest bin whose cumulative count reaches
    ceil(q·n), report its integer upper edge — estimate ≥ true value
    with est/true ≤ ~2^0.1 by the bin geometry. The cumulative window
    runs over BINS per group (≤ ~540 rows), never over values.
    Output: (group cols, q string, est long)."""
    from pyspark.sql import Window

    gs = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    w_cum = (
        Window.partitionBy(*gs)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*gs)
    cum = counts.select(
        *gs,
        "bin",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    out = None
    for qnum, qden in qs:
        target = F.expr(f"(n * {qnum} + {qden} - 1) DIV {qden}")
        row = (
            cum.where(F.col("cum") >= target)
            .groupBy(*gs)
            .agg(F.min("bin").alias("bin"))
            .select(
                *gs,
                F.lit(f"p{qnum * 100 // qden}").alias("q"),
                log_hist_upper("bin").alias("est"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Count-Min sketch — mergeable per-key FREQUENCY estimates, completing
# the sketch family: certified_topk (exact top-k), KMV (cardinality +
# set ops), log-histogram (quantiles), and now point frequencies.
# ---------------------------------------------------------------------------
#
# A Count-Min sketch (Cormode & Muthukrishnan 2005) is a depth×width
# grid of counters: each key increments one counter per depth row
# (row-specific hash), and a key's estimate is the MIN of its depth
# counters. Counters only ever add, so the estimate is a GUARANTEED
# overestimate (est ≥ true count, colliding keys only inflate), with
# est ≤ true + e/width · N at probability 1 − e^(−depth). Counter
# grids are ADDITIVE — sketches of disjoint batches merge by summing
# matching (r, b) cells — which is the whole point at 100 TB: per-
# day/per-source O(depth·width) grids persist and answer any later
# frequency question by addition, never a rescan (the KMV/log-
# histogram mergeability story applied to frequencies; tx13's
# certified_topk is the exact-answer counterpart when you need the
# top-k itself, CM is what you keep when the QUERY KEYS arrive later).
#
# Determinism: the per-row hash reuses kmv_hash's quadratic mix over
# the Mersenne prime P = 2^31 − 1 with row-stepped constants —
# stepwise int64 arithmetic that DuckDB replays verbatim, so sketch
# cells AND estimates are oracle-hash-verifiable (q47), unlike
# engine-internal CMS registers. String keys go through
# functions.poly_hash first (its output < 2^30 keeps x0 = key).
#
# Width folding: for widths w' | w, g mod w' == (g mod w) mod w', so
# a width-w grid EXACTLY contains every narrower power-of-two grid —
# cm_fold derives the coarser sketch from the finer by one bounded
# groupBy instead of re-scanning the corpus (test-pinned equal to a
# direct build).

CM_A_STEP = 10_007
CM_B_STEP = 20_011
CM_C_STEP = 30_013


def cm_mix(col, r: int):
    """Depth-row-``r`` quadratic mix of a LONG key into [0, KMV_P).

    Same stepwise reductions as kmv_hash (every intermediate < 2^62 in
    both engines) with constants stepped per depth row; mirrored by
    the q47 oracle SQL integer-for-integer.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = c.cast("long")
    p = F.lit(KMV_P).cast("long")
    a = (KMV_A + CM_A_STEP * r) % KMV_P
    b = (KMV_B + CM_B_STEP * r) % KMV_P
    cc = (KMV_C + CM_C_STEP * r) % KMV_P
    x0 = ((c % p) + p) % p
    t1 = ((x0 * x0) % p * F.lit(a)) % p
    t2 = (x0 * F.lit(b)) % p
    return (t1 + t2 + F.lit(cc)) % p


def cm_sketch(df: DataFrame, key_col: str, depth: int = 4, width: int = 2048) -> DataFrame:
    """Count-Min counter grid of a LONG key stream: one row per
    non-empty cell, ``(r int, b long, cnt long)``.

    Plan shape: the depth mixes explode narrowly per input row, then
    ONE partial-aggregated count groups them — the shuffle carries at
    most depth·width rows per map task regardless of input size (the
    map-side combine is what lets this run on 100 TB; a plan guard
    pins it). NULL keys are rejected loudly — a silent drop would
    undercount and break the overestimate guarantee downstream.
    """
    if depth <= 0 or width <= 0:
        raise ValueError("need depth > 0 and width > 0")
    key = F.when(F.col(key_col).isNotNull(), F.col(key_col)).otherwise(
        F.raise_error(F.lit(f"cm_sketch needs non-null {key_col!r} keys")).cast("long")
    )
    mixes = F.array(*[cm_mix(key, r) for r in range(depth)])
    return (
        df.select(F.posexplode(mixes).alias("r", "_g"))
        .groupBy("r", (F.col("_g") % width).alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cm_fold(sketch: DataFrame, from_width: int, to_width: int) -> DataFrame:
    """Fold a width-``from_width`` grid down to ``to_width`` (which
    must divide it): cell (r, b) lands in (r, b mod to_width), counts
    summing — EXACTLY the grid a direct width-``to_width`` build
    produces, because g mod to_width == (g mod from_width) mod
    to_width. One bounded aggregate over ≤ depth·from_width rows."""
    if from_width % to_width != 0:
        raise ValueError(
            f"to_width {to_width} must divide from_width {from_width}"
        )
    return (
        sketch.groupBy("r", (F.col("b") % to_width).alias("b"))
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def cm_estimate(
    sketch: DataFrame,
    items: DataFrame,
    key_col: str,
    depth: int,
    width: int,
    out_col: str = "est",
) -> DataFrame:
    """Point-frequency estimates: every ``items`` row gains ``out_col``
    = min over the depth rows of its counter (0 when the cell is
    empty — a key the sketch never saw estimates 0, still ≥ truth).

    ``depth``/``width`` must match the sketch's build parameters —
    and the failure modes are asymmetric: a wrong WIDTH mis-addresses
    cells (estimates become noise, still ≥ 0), but a LARGER depth
    than the build's is the one way to silently break the
    overestimate guarantee (the phantom rows have no cells, coalesce
    to 0, and the min returns 0 for every key). That hazard is
    detectable from the grid itself, so it is GUARDED here: one
    bounded aggregate over the ≤ depth·width sketch rows checks
    ``depth <= 1 + max(r)`` and raises on mismatch (an EMPTY sketch —
    empty build stream — is exempt: every true count is 0 and the 0
    estimates are exact). The streaming maintainer additionally pins
    both parameters in store metadata; batch callers must thread the
    build constants (the q47 pattern: module-level constants used by
    build and estimate alike). NULL item keys raise loudly, mirroring
    cm_sketch's build-time guard — a NULL key was never hashable into
    the grid, so coalescing its missing cells to 0 would quietly
    report 0 for a question the sketch cannot answer. The grid
    broadcasts onto the items, so the only wide operation is the
    final per-item min — items of any size stream through. Carries
    every ``items`` column."""
    max_r = sketch.agg(F.max("r").alias("r")).first()["r"]
    if max_r is not None and depth > max_r + 1:
        raise ValueError(
            f"cm_estimate depth {depth} exceeds the sketch's build depth "
            f"{max_r + 1}: phantom rows would floor every estimate to 0 "
            "and break the overestimate guarantee"
        )
    carried = list(items.columns)
    key = F.when(F.col(key_col).isNotNull(), F.col(key_col)).otherwise(
        F.raise_error(
            F.lit(f"cm_estimate needs non-null {key_col!r} item keys")
        ).cast("long")
    )
    mixes = F.array(*[cm_mix(key, r) for r in range(depth)])
    eb = items.select("*", F.posexplode(mixes).alias("r", "_g")).withColumn(
        "b", F.col("_g") % width
    )
    return (
        eb.join(F.broadcast(sketch), ["r", "b"], "left")
        .groupBy(*carried)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias(out_col))
    )


def cm_inner_product(a: DataFrame, b: DataFrame, out_col: str = "est") -> DataFrame:
    """Equi-join CARDINALITY estimate from two Count-Min grids: a
    one-row frame ``(out_col long)`` holding min over depth rows r of
    sum_b a[r][b] * b[r][b] — the AMS/CM inner-product estimator of
    |A JOIN B| = sum_k f_A(k) * f_B(k) (Cormode & Muthukrishnan 2005,
    section 4.2; Alon-Matias-Szegedy's F2 idea applied to two
    streams).

    Every depth row is independently a GUARANTEED overestimate: row r
    of the product expands to sum over cells of (sum of f_A over keys
    in the cell) * (sum of f_B over keys in the cell), which contains
    every true f_A(k)*f_B(k) term plus non-negative cross-key
    collision mass — so the min over rows is still >= truth, with
    expected slack |A|*|B|/width per row. This is the sketch-driven
    JOIN PLANNER primitive: two O(depth*width) grids built on
    independent scans (or merged by addition from per-day/per-source
    grids — cells are additive, the q47 mergeability story) price a
    join's output size BEFORE running it — pick broadcast vs shuffle,
    or veto a runaway key, without touching the other table.

    Both grids must be built at the SAME width (mis-matched widths
    mis-address cells — not detectable from the grids themselves,
    same documented hazard as cm_estimate's width argument). Depth
    rows are matched by r; a row present in only one grid is dropped
    by the equi-join, which stays a valid overestimate (each common
    row already covers BOTH full streams). An empty grid means an
    empty build stream, so the empty-join result coalesces to the
    exact answer 0. The join is grid-sized (<= depth*width rows per
    side), never data-sized."""
    pr = (
        a.select("r", "b", F.col("cnt").alias("_ca"))
        .join(b.select("r", "b", F.col("cnt").alias("_cb")), ["r", "b"])
        .groupBy("r")
        .agg(F.sum(F.col("_ca") * F.col("_cb")).cast("long").alias("_ip"))
    )
    return pr.agg(
        F.coalesce(F.min("_ip"), F.lit(0).cast("long")).alias(out_col)
    )
