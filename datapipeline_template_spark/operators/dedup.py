"""Deduplication operators — the engine's core semantic (reference
R19) plus the LLM-pipeline fuzzy-dedup family (X9/X10).

Reference parity: the silver layer keeps the newest version of each
primary key — ``ROW_NUMBER() OVER (PARTITION BY pk ORDER BY
_ingested_at DESC)`` then ``_row_num == 1``
(`/root/reference/src/sdp_etl/transformations/02_silver_processing.py:120-129`).

Scale design (100 TB): the window form sorts every partition's full
row set. ``keep_latest`` instead uses ``max_by(struct(*), order_key)``
— an aggregate with a map-side partial combine, so each input
partition first reduces to ≤ |distinct keys in partition| rows before
the shuffle. Same result, typically far less shuffle I/O on
high-duplication CDC feeds. The window variant is kept for parity and
for when callers need the rank itself. Ties: the reference's ordering
is nondeterministic on equal ``_ingested_at``; we append tiebreaker
columns to make results reproducible (documented divergence,
SURVEY.md §7.3).

Fuzzy dedup lives here as composable candidate-pair generators:
MinHash-LSH, SimHash, n-gram Jaccard; embedding-cosine near-dup is in
``similarity``. Signature generation has two interchangeable forms —
pure Catalyst expressions (shingle → hash → single-pass min
aggregate) and an Arrow-batched vectorized numpy kernel
(``minhash_signatures_kernel``) — both driven by the same fixed
polynomial mod-p hash schedule (functions.poly_hash), so results are
bit-identical, engine-portable, and replayable by the DuckDB oracle.
Candidate pairing is a band-bucket equi-join; clusters come from
``connected_components`` (iterative min-label propagation).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import POLY_BASE, POLY_P, token_poly_hash

__all__ = [
    "keep_latest",
    "keep_latest_salted",
    "keep_latest_window",
    "exact_dedup",
    "shingle_arrays_kernel",
    "shingle_rows_kernel",
    "shingle_tokens",
    "minhash_signature",
    "minhash_signatures_kernel",
    "lsh_candidate_pairs",
    "lsh_candidate_pairs_incremental",
    "simhash64",
    "ngram_jaccard_pairs",
    "decontaminate_flags",
    "connected_components",
    "connected_components_star",
    "select_survivors",
    "duplicate_discount_weights",
    "remove_dup_spans",
    "content_defined_chunks",
    "prefix_filter_candidates",
    "prefix_filter_pairs",
    "prefix_rows",
    "verify_jaccard_candidates",
]


# ---------------------------------------------------------------------------
# Keep-latest CDC dedup (R19)
# ---------------------------------------------------------------------------


def keep_latest(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """One row per key — the one with the greatest ``order_cols`` tuple.

    Aggregate form: ``max_by(struct(all_cols), struct(order_cols))``.
    Partial aggregation collapses duplicates map-side before the
    shuffle; with heavy CDC duplication this is the scalable plan
    (the window form shuffles every row). Include a unique column at
    the end of ``order_cols`` for deterministic ties.

    Skew note: hot keys need NO salting here — the map-side combine
    caps what reaches any reducer at one row per (key, map partition),
    so a key with 10^9 duplicates arrives as ≤ num_map_partitions
    rows. Salting is only ever needed for the window variant (which
    sorts the full row set per key) — prefer this form instead.
    """
    payload = F.struct(*[F.col(c) for c in df.columns])
    order_key = F.struct(*[F.col(c) for c in order_cols])
    latest = df.groupBy(*[F.col(k) for k in keys]).agg(
        F.max_by(payload, order_key).alias("_latest")
    )
    return latest.select("_latest.*")


def keep_latest_window(
    df: DataFrame, keys: list[str], order_cols: list[str], keep_rank: bool = False
) -> DataFrame:
    """Reference-shaped variant: row_number window, keep rank 1
    (`02_silver_processing.py:120-129`); ``_row_num`` dropped before
    returning unless requested (reference drops it too, `02:129`)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_cols])
    out = df.withColumn("_row_num", F.row_number().over(w)).where(F.col("_row_num") == 1)
    return out if keep_rank else out.drop("_row_num")


def keep_latest_salted(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase SALTED keep-latest — the hot-key-hardened form SURVEY
    §7.3 prescribes for the CDC dedup shuffle, the 100 TB hot path.

    Phase 1 groups by ``(keys…, salt)``: a key with 10⁹ duplicates
    splits across ``n_salts`` independent reducers, each emitting one
    partial winner. Phase 2 reduces the ≤ ``n_salts`` survivors per
    key to the final row. Salt = ``pmod(xxhash64(order_cols), n)`` —
    data-derived and deterministic, so replays produce identical
    partials (identical-order-key duplicates share a salt, which is
    harmless: max_by over equal order keys within one salt group can
    only ever surface rows that tie under the total order).

    When to use which form: ``keep_latest`` (single max_by) already
    map-side combines — each reducer sees ≤ one row per (key, map
    partition), so ORDINARY skew needs no salting there. The salted
    form exists for the shapes where that protection is defeated:
    (a) the reference-shaped WINDOW dedup (`02_silver_processing.py:
    120-129`) sorts every duplicate of a key inside ONE task — a
    degenerate key is a straggler no matter how many executors exist;
    (b) inputs already hash-partitioned on the key upstream (e.g. a
    bucketed bronze), where every duplicate of the hot key sits in
    ONE map partition and the partial aggregate collapses nothing
    until that single task has scanned all of it. Two-phase salting
    bounds the largest task at ~|hot key| / n_salts in both cases.

    Equal to ``keep_latest`` / the row_number window whenever
    ``order_cols`` is a TOTAL order per key (include a unique column;
    property-tested on a 90 %-hot-key feed in tests/test_operators).
    """
    if n_salts < 1:
        raise ValueError("n_salts must be >= 1")
    payload = F.struct(*[F.col(c) for c in df.columns])
    order_key = F.struct(*[F.col(c) for c in order_cols])
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in order_cols]), F.lit(n_salts)
    )
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*[F.col(k) for k in keys], F.col("_salt"))
        .agg(F.max_by(payload, order_key).alias("_latest"))
    )
    final_order = F.struct(*[F.col(f"_latest.{c}") for c in order_cols])
    return (
        partial.groupBy(*[F.col(k) for k in keys])
        .agg(F.max_by("_latest", final_order).alias("_latest"))
        .select("_latest.*")
    )


def exact_dedup(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Exact duplicate removal — hash-aggregate distinct on the subset
    (or all columns). Map-side combine makes this shuffle-light."""
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


# ---------------------------------------------------------------------------
# Shingling + MinHash-LSH (X10)
# ---------------------------------------------------------------------------


# Shingle combination coefficients (base^2, base, 1 for base=131):
# shingle_hash(i) = (th[i]*17161 + th[i+1]*131 + th[i+2]) % p.
_SHINGLE_C1 = 17_161
_SHINGLE_C2 = 131


def shingle_tokens(tokens: Column, k: int = 3, p: int = POLY_P, base: int = POLY_BASE) -> Column:
    """k-word shingles of an array<string>, each hashed to int64.

    Two-level hashing: each token is polynomial-hashed ONCE (char
    fold), then each shingle combines k consecutive token hashes as a
    degree-(k-1) polynomial in base ``_SHINGLE_C2`` = 131 mod p —
    Horner-evaluated with a mod per step, so intermediates stay below
    p·131 + p < 2^38 and any k (GPT-3-style 13-gram decontamination
    included) is exact in int64. For k=3 the value is bit-identical to
    the historical expanded form th0·17161 + th1·131 + th2 mod p
    (17161 = 131², same residue, same [0, p) range — pinned by the
    dd02/dd03/dd07/dd08 oracles). Every character is processed once
    per document instead of k times per shingle (the joined-text form
    re-folded the whole document k× and allocated shingle strings).

    Built with zip_with over shifted slices — array arguments are
    evaluated once per row, never per element (a lambda that captures
    a heavy expression re-evaluates it per element: measured blow-up).
    Shorter-than-k docs yield one shingle with missing positions as 0
    (same on the SQL side via COALESCE(th[i], 0)).
    """
    if k < 1:
        raise ValueError("shingle width k must be >= 1")
    th = token_poly_hash(tokens, p, base)
    n = F.size(th)
    acc = th
    for j in range(1, k):
        sj = F.slice(th, j + 1, n)
        acc = F.zip_with(
            acc,
            sj,
            lambda a, x: (
                a * F.lit(_SHINGLE_C2) + F.coalesce(x, F.lit(0).cast("long"))
            )
            % F.lit(p),
        )
    # k=1: acc is th itself, already reduced mod p by token_poly_hash.
    return F.slice(acc, 1, F.greatest(n - F.lit(k - 1), F.lit(1)))


def minhash_signature(shingle_hashes: Column, num_hashes: int = 32, p: int = POLY_P) -> Column:
    """MinHash signature: h_i(x) = (a_i*x + b_i) mod p, minimized over
    the shingle set, for i in [0, num_hashes).

    (a_i, b_i) are fixed odd/offset constants derived from i — no RNG,
    so signatures are deterministic and replayable in SQL. Max
    intermediate: a_i < 2^21, x < p ≈ 2^30 → product < 2^51 < int64.

    Single-pass form: ONE aggregate over the shingle array maintains
    all `num_hashes` running minima (element-wise least against the
    per-shingle hash vector). The naive per-hash `array_min(transform)`
    form re-evaluates the shingle expression num_hashes times after
    Catalyst collapses projections — measured 32× slower.
    """
    params = F.array(
        *[
            F.struct(
                F.lit(2 * i + 1_234_567).cast("long").alias("a"),  # odd multipliers
                F.lit(9_876_543 + 31 * i).cast("long").alias("b"),
            )
            for i in range(num_hashes)
        ]
    )
    init = F.array_repeat(F.lit(p).cast("long"), num_hashes)

    def merge(acc: Column, x: Column) -> Column:
        return F.zip_with(
            acc,
            params,
            lambda m, pr: F.least(
                m, (x * pr.getField("a") + pr.getField("b")) % F.lit(p)
            ),
        )

    return F.aggregate(shingle_hashes, init, merge)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    num_hashes: int = 32,
    p: int = POLY_P,
) -> DataFrame:
    """DataFrame-level MinHash: one single-pass aggregate expression
    per document row (``minhash_signature``), evaluated in the scan's
    own stage — NO explode, NO shuffle; per-doc work is embarrassingly
    parallel, which is exactly what a 100 TB corpus needs.

    The alternative explode → 32 columnar MINs → repack plan was
    measured 7× SLOWER here despite running in codegen'd hash
    aggregation: the Generate (explode) over the shingle expression
    dominates, and the groupBy adds the only shuffle in the pipeline.
    (Earlier measurements that favored it predate the two-level
    shingle hash; kept as a git-history note, not as code.)

    Rows whose shingle array is empty get no signature row (matching
    what the explode form produced).
    """
    return df.where(F.size(F.col(shingles_col)) > 0).select(
        F.col(id_col),
        minhash_signature(F.col(shingles_col), num_hashes=num_hashes, p=p).alias("sig"),
    )


def minhash_signatures_kernel(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    p: int = POLY_P,
    base: int = POLY_BASE,
    k: int = 3,
) -> DataFrame:
    """Arrow-batched numpy MinHash kernel — bit-identical to
    ``minhash_signatures`` over ``shingle_tokens(tokenize(text))``
    (integer math is associative; the hash schedule is shared), but
    the tokenize → char-fold → shingle → 32-way min runs as a fully
    vectorized numpy program over each Arrow batch instead of
    interpreted per-element HOF lambdas. Measured ~4× on the corpus
    scoring path; use when the input column is raw text and the corpus
    is large (the Catalyst form stays for arbitrary-array inputs).

    Vectorization shape (no per-token Python loop): one byte buffer
    per batch, token boundaries from space positions, the polynomial
    char fold as a masked column sweep over a (tokens × max_len)
    matrix, shingles by shifted slices zeroed at doc boundaries
    (COALESCE semantics), and the 32 minima via minimum.reduceat on
    doc offsets. Per-row work is embarrassingly parallel — at cluster
    scale each task crunches its own partition; nothing shuffles.

    Unicode: the JVM form hashes code points (`F.ascii` =
    codePointAt); the kernel decodes each batch to UTF-32-LE so the
    buffer is exactly one uint32 code point per character — bit-equal
    beyond ASCII (property-tested against the Catalyst form on
    non-ASCII corpora). Code points < 2^21, so the char fold stays
    exact in float64 (th*base + cp < 2^38).

    NULL text rows are DROPPED, matching the Catalyst form (null
    tokens → null shingles → size(null)>0 filters the row); previously
    a single null doc crashed the whole job in `" ".join`.
    """
    import pandas as pd  # local: keep module import light

    if k < 1:
        raise ValueError("shingle width k must be >= 1")
    out_schema = f"{id_col} long, sig array<long>"
    a_coef = np.arange(num_hashes, dtype=np.float64) * 2 + 1_234_567
    b_coef = np.arange(num_hashes, dtype=np.float64) * 31 + 9_876_543

    def fmod_p(v: "np.ndarray") -> "np.ndarray":
        # Exact v % p for 0 <= v < 2^51 via float64: every quantity
        # (v, the quotient, q*p, the remainder) is below 2^53 so all
        # products/sums are exact; only floor(v/p) can misround by ±1
        # and the two correction selects repair that. ~6 SIMD float
        # ops instead of scalar int64 division — measured 8× faster.
        q = np.floor(v * (1.0 / p))
        r = v - q * p
        r = np.where(r < 0, r + p, r)
        return np.where(r >= p, r - p, r)

    def crunch(batches):
        for pdf in batches:
            pdf = pdf[pdf[text_col].notna()]
            texts = pdf[text_col].tolist()
            ids = pdf[id_col].to_numpy()
            if not texts:
                continue
            sh, sh_per_doc = _batch_shingle_hashes(texts, k, base, fmod_p)
            offsets = np.concatenate(([0], np.cumsum(sh_per_doc)[:-1]))
            # 32 minima per doc in one reduceat sweep. sh*a + b < 2^51.
            hashed = fmod_p(sh[:, None] * a_coef[None, :] + b_coef[None, :])
            sigs = np.minimum.reduceat(hashed, offsets, axis=0).astype(np.int64)
            yield pd.DataFrame({id_col: ids, "sig": list(sigs)})

    return df.select(id_col, text_col).mapInPandas(crunch, schema=out_schema)


def _batch_shingle_hashes(texts, k, base, fmod_p):
    """The shared vectorized tokenize → char-fold → k-Horner shingle
    pipeline of ``minhash_signatures_kernel`` (see its docstring for
    the exactness argument), factored so ``shingle_rows_kernel`` emits
    the identical shingle values. Returns ``(sh, sh_per_doc)``: the
    concatenated per-doc shingle hashes (float64 holding exact ints)
    and each doc's shingle count."""
    # UTF-32-LE: one uint32 CODE POINT per element (the JVM
    # form hashes code points, not UTF-8 bytes).
    joined = " ".join(texts).encode("utf-32-le")
    buf = np.frombuffer(joined, dtype="<u4")
    # Token boundaries: split at every space (empty tokens keep
    # hash 0, matching filter(split(t,''), ch != '') semantics).
    spaces = np.flatnonzero(buf == 0x20)
    starts = np.concatenate(([0], spaces + 1))
    ends = np.concatenate((spaces, [len(buf)]))
    lens = ends - starts
    max_len = int(lens.max(initial=0))
    # Polynomial char fold as a masked column sweep. th stays
    # < p < 2^30, so th*base + byte < 2^38: exact in float64.
    th = np.zeros(len(starts), dtype=np.float64)
    if max_len:
        idx = starts[:, None] + np.arange(max_len)[None, :]
        np.clip(idx, 0, len(buf) - 1, out=idx)
        mat = buf[idx]
        mask = np.arange(max_len)[None, :] < lens[:, None]
        for j in range(max_len):
            m = mask[:, j]
            th[m] = fmod_p(th[m] * base + mat[m, j])
    # Tokens per doc = spaces within the doc + 1.
    n_tok = np.array([t.count(" ") + 1 for t in texts], dtype=np.int64)
    doc_start = np.cumsum(n_tok) - n_tok
    pos = np.arange(len(th)) - np.repeat(doc_start, n_tok)
    n_rep = np.repeat(n_tok, n_tok)
    # Horner over k shifted token-hash columns, zero beyond
    # the doc (COALESCE). Per step acc*131 + th_j < p*131 + p
    # < 2^38 — exact in float64 — so ANY k stays exact; for
    # k=3 the residue equals the historical expanded
    # th*17161 + th1*131 + th2 form bit-for-bit.
    sh = th
    for j in range(1, k):
        thj = np.where(pos + j < n_rep, np.roll(th, -j), 0.0)
        sh = fmod_p(sh * 131 + thj)
    # Keep the first max(n-(k-1), 1) shingles of each doc.
    keep = pos < np.maximum(n_rep - (k - 1), 1)
    return sh[keep], np.maximum(n_tok - (k - 1), 1)


def shingle_arrays_kernel(
    df: DataFrame,
    text_col: str,
    k: int = 3,
    p: int = POLY_P,
    base: int = POLY_BASE,
    out_col: str = "sh",
) -> DataFrame:
    """Per-row shingle-hash ARRAYS as one Arrow kernel pass — bit-equal
    to ``shingle_tokens(tokenize(text), k)`` (parity test-pinned; the
    same ``_batch_shingle_hashes`` pipeline as the dd05 kernel and
    ``shingle_rows_kernel``), keeping every other input column. For
    consumers that need the array column itself (decon gates join on
    exploded shingles of BOTH sides — dd19 computes the corpus fold
    once through this instead of twice through the per-char HOF).
    NULL text rows get a NULL array (matching tokenize(NULL) → NULL
    shingles)."""
    import pandas as pd  # local: keep module import light

    def fmod_p(v):
        q = np.floor(v * (1.0 / p))
        r = v - q * p
        r = np.where(r < 0, r + p, r)
        return np.where(r >= p, r - p, r)

    keep = [c for c in df.columns if c != text_col]
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != text_col
    )
    out_schema = f"{out_fields}, {out_col} array<bigint>"

    def crunch(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            notna = pdf[text_col].notna().to_numpy()
            texts = pdf[text_col].to_numpy()[notna].tolist()
            arrays: list = [None] * len(pdf)
            if texts:
                sh, sh_per_doc = _batch_shingle_hashes(texts, k, base, fmod_p)
                sh = sh.astype(np.int64)
                pieces = np.split(sh, np.cumsum(sh_per_doc)[:-1])
                for pos, piece in zip(np.flatnonzero(notna), pieces):
                    arrays[pos] = piece
            out = pdf[keep].copy()
            out[out_col] = arrays
            yield out

    return df.mapInPandas(crunch, schema=out_schema)


def shingle_rows_kernel(
    df: DataFrame,
    key_col: str,
    text_col: str,
    k: int = 3,
    p: int = POLY_P,
    base: int = POLY_BASE,
    out_col: str = "g",
) -> DataFrame:
    """EXPLODED (key, shingle-hash) rows as one Arrow kernel pass —
    bit-equal to ``explode(shingle_tokens(tokenize(text), k))`` (parity
    test-pinned) but the tokenize → per-char HOF fold → shingle Horner
    runs vectorized per batch (``_batch_shingle_hashes``, the dd05
    kernel's pipeline) and the explode happens by numpy repeat, so no
    interpreted per-character work survives anywhere. For the
    per-occurrence volume consumers (tx22's source×shingle audit);
    the Catalyst ``shingle_tokens`` stays the DuckDB-replayable
    reference and the arbitrary-array form. NULL text rows drop
    (explode-of-NULL semantics); key column must be string-typed."""
    import pandas as pd  # local: keep module import light

    def fmod_p(v):
        q = np.floor(v * (1.0 / p))
        r = v - q * p
        r = np.where(r < 0, r + p, r)
        return np.where(r >= p, r - p, r)

    out_schema = f"{key_col} string, {out_col} long"

    def crunch(batches):
        for pdf in batches:
            pdf = pdf[pdf[text_col].notna()]
            texts = pdf[text_col].tolist()
            keys = pdf[key_col].to_numpy()
            if not texts:
                continue
            sh, sh_per_doc = _batch_shingle_hashes(texts, k, base, fmod_p)
            yield pd.DataFrame(
                {
                    key_col: np.repeat(keys, sh_per_doc),
                    out_col: sh.astype(np.int64),
                }
            )

    return df.select(key_col, text_col).mapInPandas(crunch, schema=out_schema)


def _banded(
    df: DataFrame, id_col: str, signature_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """Explode signatures to (_id, _band, _bucket) rows — THE bucket
    encoding. One definition shared by the full and incremental pair
    generators: their equivalence contract (incremental ≡ full
    restricted to the batch) requires bit-identical bucket keys."""
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    return df.select(
        F.col(id_col).alias("_id"),
        F.explode(band_idx).alias("_band"),
        F.col(signature_col).alias("_sig"),
    ).select(
        "_id",
        "_band",
        F.concat_ws(
            "_",
            F.transform(
                F.slice("_sig", F.col("_band") * rows_per_band + 1, rows_per_band),
                lambda v: v.cast("string"),
            ),
        ).alias("_bucket"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    signature_col: str,
    bands: int = 8,
    rows_per_band: int = 4,
    eager: bool = True,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` bands of
    ``rows_per_band`` values; docs sharing ANY band land in the same
    bucket. Returns distinct candidate pairs (id_a < id_b).

    Scale: explode to (band_idx, band_hash) — the self-join is an
    equi-join on the bucket key, so Spark hash-partitions buckets
    across executors; no all-pairs blowup. Giant buckets (degenerate
    near-identical corpora) are the skew case — AQE skew-join splits
    them.

    ``eager=True`` persists + materializes the signature input before
    the self-join: both join sides then read the cache instead of
    racing to recompute the (expensive) signatures — measured 2×
    end-to-end. On a cluster-scale corpus, write the signature table
    out instead and join on that.
    """
    if eager:
        df = df.persist()
        df.count()
    banded = _banded(df, id_col, signature_col, bands, rows_per_band)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._bucket") == F.col("b._bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def lsh_candidate_pairs_incremental(
    sigs_existing: DataFrame,
    sigs_new: DataFrame,
    id_col: str,
    signature_col: str,
    bands: int = 8,
    rows_per_band: int = 4,
    broadcast: bool | None = None,
    broadcast_max_rows: int = 2_000_000,
) -> DataFrame:
    """Incremental LSH maintenance — the shape a growing corpus runs
    daily: candidate pairs TOUCHING today's batch only (new×existing
    and new×new), without re-pairing the existing corpus against
    itself.

    Returns distinct (id_a < id_b) pairs, exactly the subset of the
    full-corpus ``lsh_candidate_pairs`` output where at least one side
    is a new document.

    Scale: the existing side is a STORED signature table in production
    (signatures are write-once per doc — never recomputed); only the
    batch is signed per run. The join probes banded-new (small: one
    day's crawl) against banded-all on the (band, bucket) equi-key;
    broadcasting the batch side means the corpus never shuffles. But
    the broadcast is |batch| × bands rows — a daily increment fits, an
    operator-level BACKFILL (re-signing a month) does not, and a
    forced broadcast would OOM executors. So the hint is gated:
    ``broadcast=None`` (default) broadcasts only when the batch is
    known to be bounded — ``sigs_new.isStreaming`` is False and a
    cheap count of the batch side stays under
    ``broadcast_max_rows / bands``; pass ``broadcast=True/False`` to
    pin the strategy when the caller already knows the batch size
    (e.g. a foreachBatch maintainer that just counted the
    micro-batch). The non-broadcast path is a plain (band, bucket)
    equi-shuffle join — both sides partition by bucket, AQE handles
    bucket skew — and returns identical pairs.
    """

    new_b = _banded(sigs_new, id_col, signature_col, bands, rows_per_band)
    all_b = _banded(
        sigs_existing.select(id_col, signature_col).unionByName(
            sigs_new.select(id_col, signature_col)
        ),
        id_col,
        signature_col,
        bands,
        rows_per_band,
    )
    if broadcast is None:
        # The count is one narrow job over the (small) batch side —
        # cheap relative to the join it sizes, and the only way to
        # know the broadcast is safe without trusting the caller.
        broadcast = (not sigs_new.isStreaming) and (
            sigs_new.count() <= broadcast_max_rows // max(bands, 1)
        )
    left = F.broadcast(new_b.alias("a")) if broadcast else new_b.alias("a")
    joined = left.join(
        all_b.alias("b"),
        (F.col("a._band") == F.col("b._band"))
        & (F.col("a._bucket") == F.col("b._bucket"))
        & (F.col("a._id") != F.col("b._id")),
    )
    return (
        joined.select(
            F.least("a._id", "b._id").alias("id_a"),
            F.greatest("a._id", "b._id").alias("id_b"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash (X10)
# ---------------------------------------------------------------------------


def simhash64(token_hashes: Column, bits: int = 30) -> Column:
    """SimHash from per-token int64 hashes.

    For each bit position j, count tokens whose hash has bit j set;
    the simhash has bit j set iff that count exceeds half the tokens.
    Default 30 bits: the polynomial token hashes are < 2^30, so higher
    bits are always zero (a wider setting only adds zero bits — values
    are unchanged, which keeps existing oracles valid).

    Single-pass form: ONE aggregate maintains all bit-counters as an
    array (element-wise update per token); the per-bit-aggregate form
    re-evaluates the token-hash expression `bits` times. Bit j is
    extracted as floor(h / 2^j) & 1 — exact for h < 2^30 (quotients
    are exact doubles far below 2^52), and matching (h >> j) & 1 in
    the SQL oracle.
    """
    n = F.size(token_hashes)
    from ..functions import lit_long_array

    pows = lit_long_array([2**j for j in range(bits)])
    counts = F.aggregate(
        token_hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc, pows, lambda c, pw: c + F.floor(h / pw).cast("long").bitwiseAND(F.lit(1))
        ),
    )
    return F.aggregate(
        F.zip_with(
            counts, pows, lambda c, pw: F.when(c * 2 > n, pw).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard pairs (X10) — the verification step after LSH
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    threshold: float,
    block_cols: list[str] | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over shingle sets for pairs within the
    same block (blocking keeps the join from going quadratic; pass the
    LSH candidate pairs or a cheap key like (lang, length-bucket)).

    Jaccard computed set-wise: |A∩B| / |A∪B| with distinct shingle
    arrays. Returns (id_a, id_b, jaccard) for pairs ≥ threshold.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(F.col(shingles_col)).alias("_sh"),
        *[F.col(c).alias(f"_blk_{i}") for i, c in enumerate(block_cols or [])],
    )
    a = base.alias("a")
    b = base.alias("b")
    cond = F.col("a._id") < F.col("b._id")
    for i in range(len(block_cols or [])):
        cond = cond & (F.col(f"a._blk_{i}") == F.col(f"b._blk_{i}"))
    inter = F.size(F.array_intersect(F.col("a._sh"), F.col("b._sh")))
    union = F.size(F.array_union(F.col("a._sh"), F.col("b._sh")))
    jac = inter.cast("double") / union.cast("double")
    return (
        a.join(b, cond)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            jac.alias("jaccard"),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
    )


def decontaminate_flags(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    shingles_col: str,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing ANY
    shingle with the evaluation set, with the count of distinct shared
    shingles — the overlap check run before training so eval data
    cannot leak into the corpus (the n-gram method of GPT-3 appendix C
    / The Pile; k is fixed by the shingle column the caller built).

    Scale shape: the eval side collapses to its DISTINCT shingle
    hashes — benchmarks are tiny relative to a 100 TB corpus, so that
    set broadcasts and the corpus side is a map-only explode + hash
    probe; the only shuffle is the final per-doc count. Never all-pairs
    (contrast `ngram_jaccard_pairs`, which answers the pairwise
    question).
    """
    ev = (
        eval_set.select(F.explode(F.array_distinct(F.col(shingles_col))).alias("_g"))
        .distinct()
    )
    ce = corpus.select(
        F.col(id_col), F.explode(F.array_distinct(F.col(shingles_col))).alias("_g")
    )
    return (
        ce.join(F.broadcast(ev), "_g")
        .groupBy(id_col)
        .agg(F.count_distinct("_g").alias("n_shared"))
    )


# ---------------------------------------------------------------------------
# Connected components (X10) — candidate pairs → duplicate clusters
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame, src: str, dst: str, max_iter: int = 25
) -> DataFrame:
    """Connected components of the undirected candidate-pair graph:
    returns (node, component) where component = the minimum node id
    reachable from the node. This is the clustering step after
    MinHash/SimHash candidate generation — every cluster keeps one
    canonical doc.

    Algorithm: iterative min-label propagation as pure DataFrame ops —
    each round, every node takes min(own label, neighbors' labels);
    fixpoint when no label changes. Rounds = distance from each
    component's min node; near-dup graphs are shallow (tight
    clusters), so this converges in a few rounds. For adversarial
    long-chain graphs use ``connected_components_star`` (O(log n)
    rounds). Each round local-checkpoints its labels — BOTH to keep
    the recompute lineage O(1) and to keep the logical plan itself
    from nesting one join deeper per round (persist alone caches data
    but the plan still grows until plan stringification/analysis
    dominates). Superseded checkpoint blocks are freed by the
    ContextCleaner once the round's DataFrame is garbage-collected.

    Non-convergence is an ERROR, not a silent wrong answer: if the
    loop exhausts ``max_iter`` with labels still changing, the
    components would be split at arbitrary boundaries, so we raise
    (pointing at the star variant) instead of returning.

    The returned DataFrame is local-checkpointed (O(1) lineage, blocks
    freed when it is garbage-collected); every intermediate cache is
    unpersisted before returning, so repeated invocations do not leak
    executor storage. At cluster scale, write the labels out as a
    table instead of relying on checkpoint blocks.

    Deterministic: min-labels are order-independent.
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    ).persist()
    labels = (
        sym.select(F.col("a").alias("node")).distinct().withColumn("label", F.col("node"))
    ).localCheckpoint(eager=True)
    changed = -1
    for _ in range(max_iter):
        # The previous label rides INSIDE the checkpointed frame so the
        # convergence count is a map-only filter over cached blocks —
        # the old form re-joined new labels against old labels, paying
        # a second node-keyed Exchange per round for a number the frame
        # already knows (guide §2.4: remove shuffles outright). The
        # same trick folds the nodes-left-join away (r14): each node
        # contributes one SELF row carrying its own label twice — once
        # as a min() candidate (min over own ∪ neighbors ==
        # least(own, nbr_min)) and once as an `_old` marker only the
        # self row carries (max over one non-null) — so one node-keyed
        # aggregate replaces the old groupBy + left-join pair.
        nbr = sym.join(labels, sym.b == labels.node).select(
            F.col("a").alias("node"),
            "label",
            F.lit(None).cast(labels.schema["label"].dataType).alias("_self"),
        )
        own = labels.select("node", "label", F.col("label").alias("_self"))
        new_labels = (
            nbr.unionByName(own)
            .groupBy("node")
            .agg(
                F.min("label").alias("_new"),
                F.max("_self").alias("_old"),
            )
        ).localCheckpoint(eager=True)
        changed = new_labels.where(F.col("_new") != F.col("_old")).count()
        labels = new_labels.select("node", F.col("_new").alias("label"))
        if changed == 0:
            break
    sym.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — the graph has a chain longer "
            "than max_iter hops from its component's min node; raise max_iter "
            "or use connected_components_star (O(log n) rounds)."
        )
    return labels.select(F.col("node"), F.col("label").alias("component"))


def connected_components_star(
    edges: DataFrame, src: str, dst: str, max_iter: int = 50
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14) — O(log n) rounds instead of the label
    propagation form's O(distance-to-min), so million-hop chains
    converge in ~20 rounds. Same output contract as
    ``connected_components``: (node, component=min reachable node id),
    one row per node appearing in ``edges``.

    Per round, both operations are a groupBy-min plus an equi-join —
    the same shuffle shape as one propagation round, and every emitted
    edge keeps the canonical (larger, smaller) orientation:

    - large-star: each node u connects its strictly LARGER neighbors
      to m(u) = min(N(u) ∪ {u}).
    - small-star: each node u connects its smaller-or-self
      neighborhood to its minimum.

    Fixpoint: the edge set is a union of stars (every edge points
    directly at its component's min node), detected as input==output
    over a full round. Like the propagation form, non-convergence
    raises rather than returning split components, and each round
    local-checkpoints its edge set so neither the recompute lineage
    nor the logical plan grows with the round count.
    """
    raw = edges.select(F.col(src).alias("x"), F.col(dst).alias("y")).where(
        F.col("x") != F.col("y")
    )
    # Canonical orientation: u (larger) -> v (smaller).
    e = (
        raw.select(F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    all_nodes = (
        raw.select(F.col("x").alias("node"))
        .union(raw.select(F.col("y").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    converged = False
    n_e = e.count()
    for _ in range(max_iter):
        # --- large-star over the symmetric neighborhood ---
        sym = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("u", "_mn").alias("m"))
        )
        large = (
            sym.where(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # --- small-star over the canonical (u > v) edges ---
        mn = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mn, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mn.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # Fixpoint when the FULL round left the edge set unchanged.
        # (Comparing small vs large instead is wrong: on a plain chain
        # the round-1 small-star output equals its large-star input
        # while both are still far from a star union. A non-star edge
        # set strictly decreases the paper's potential each round, so
        # input==output ⟺ union of stars.) The previous round's
        # cardinality is tracked driver-side (one count job per round,
        # not two), and the set-equality anti-join only runs in the
        # rounds where the counts agree — both sides are distinct by
        # construction, so count-equal ∧ empty-anti-join ⟺ equal.
        n_small = small.count()
        same = n_small == n_e and small.join(
            e, ["u", "v"], "left_anti"
        ).isEmpty()
        e, n_e = small, n_small
        if same:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds "
            "— raise max_iter (rounds needed are O(log n))."
        )
    # Fixpoint edge set is a union of stars: each non-root points at its
    # component min; roots (and isolated-after-contraction nodes) map to
    # themselves.
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = all_nodes.join(labels.select("node"), "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    return labels.union(roots)


def chunk_split(text: Column | str, chunk_tokens: int = 12) -> Column:
    """Split a whitespace-tokenized document into fixed-size token
    chunks ("paragraphs" for a corpus whose text carries no newline
    structure): array<string> of ``ceil(n_tokens / chunk_tokens)``
    chunks, each the space-joined slice of ``chunk_tokens`` tokens
    (the last chunk may be shorter).

    Pure Catalyst (split/sequence/transform/slice/array_join); the
    DuckDB twin is ``ts[(i*L+1):(i*L+L)]`` over ``range(0, n_chunks)``.
    The per-doc HOF transform runs once per chunk per ROW (not per
    pair), so interpreted HOF cost is negligible next to the scan.
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(c, " ")
    n = F.size(toks)
    n_chunks = F.floor((n + F.lit(chunk_tokens - 1)) / F.lit(chunk_tokens)).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_chunks - F.lit(1)),
        lambda i: F.array_join(
            F.slice(toks, i * F.lit(chunk_tokens) + F.lit(1), F.lit(chunk_tokens)), " "
        ),
    )


def chunk_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 12,
) -> DataFrame:
    """Corpus-wide chunk-level exact dedup (the paragraph/line dedup of
    RefinedWeb/CCNet-style pipelines): every chunk value is kept only
    at its FIRST occurrence — smallest (``id_col``, chunk_no) — and
    every later occurrence anywhere in the corpus is dropped; each
    document is then reassembled from its surviving chunks in order.

    Returns (id_col, clean_text, n_chunks, n_dropped) — one row per
    input document, ``clean_text = ''`` when every chunk was dropped.

    Scale shape (100 TB): duplicated chunks are a small fraction of the
    corpus, so the full corpus never shuffles —
    1. a narrow (chunk, id, chunk_no) projection feeds a partial-agg
       ``groupBy(chunk).count()`` to find contested values;
    2. only chunks of contested values (joined to that small set; AQE
       broadcasts it when it fits) enter the first-occurrence window;
    3. the loser set (duplicate occurrences, tiny) is rolled up to one
       row per affected document and LEFT-joined back to the ORIGINAL
       docs scan — the rebuild filters each doc's chunk array in place
       by position, map-only, no reassembly shuffle.
    At web scale the contested-value set can itself be large: group on
    a 128-bit fingerprint instead of the raw chunk string and let the
    contested join stay a shuffle join (step 2 already is one unless
    AQE proves it small). Here we group on the chunk string so the
    DuckDB oracle replays the identical algorithm with zero collision
    caveats.
    """
    from pyspark.sql import Window

    chunks = docs.select(
        F.col(id_col),
        F.posexplode(chunk_split(text_col, chunk_tokens)).alias("chunk_no", "chunk"),
    )
    contested_values = (
        chunks.groupBy("chunk").count().where(F.col("count") > 1).select("chunk")
    )
    contested = chunks.join(contested_values, "chunk")
    w = Window.partitionBy("chunk").orderBy(F.col(id_col).asc(), F.col("chunk_no").asc())
    losers = (
        contested.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") > 1)
        .select(id_col, "chunk_no")
    )
    drops_per_doc = losers.groupBy(id_col).agg(
        F.sort_array(F.collect_list("chunk_no")).alias("_drop_nos"),
        F.count(F.lit(1)).alias("_n_dropped"),
    )
    rebuilt = docs.join(drops_per_doc, id_col, "left")
    chunk_arr = chunk_split(text_col, chunk_tokens)
    kept = F.filter(
        chunk_arr,
        lambda _ch, i: F.col("_drop_nos").isNull()
        | ~F.array_contains(F.col("_drop_nos"), i),
    )
    return rebuilt.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        F.size(chunk_arr).cast("long").alias("n_chunks"),
        F.coalesce(F.col("_n_dropped"), F.lit(0)).cast("long").alias("n_dropped"),
    )


def select_survivors(
    docs: DataFrame,
    components: DataFrame,
    id_col: str,
    quality_col: str,
    min_cluster_size: int = 2,
) -> DataFrame:
    """Survivor selection — the step AFTER clustering that decides
    which document each near-dup cluster keeps: the highest-quality
    member (``quality_col`` DESC), tie-broken by id ASC so the choice
    is a deterministic total order, not partition luck.

    ``components`` is a (node, component) labeling (output of
    ``connected_components``/``_star``); documents absent from it are
    singleton clusters (component = own id). Emits one row per cluster
    with >= ``min_cluster_size`` members: (component, survivor_id,
    cluster_size, survivor_quality).

    Scale shape: the component map only contains nodes that appeared
    in at least one candidate pair — a few percent of a deduplicated
    corpus; the overwhelming mass is singletons that can never reach
    ``min_cluster_size >= 2``. So for the common ``min_cluster_size >=
    2`` case we INNER-join docs to the map FIRST: only
    pair-participating documents survive the join, and only those are
    hash-shuffled on ``component`` for the window pair (count +
    row_number share the partitioning). At 100 TB that turns a
    full-corpus shuffle into a shuffle of the few-% clustered subset.
    Only when the caller asks for ``min_cluster_size <= 1`` (singleton
    clusters must be emitted too) do we fall back to the left-join +
    coalesce form over the whole corpus. No driver involvement either
    way.
    """
    from pyspark.sql import Window

    lab = components.select(
        F.col("node").alias(id_col), F.col("component").alias("_comp")
    )
    if min_cluster_size >= 2:
        # Singletons are absent from the component map and can never
        # pass the size filter — drop them before the shuffle.
        labeled = (
            docs.select(F.col(id_col), F.col(quality_col))
            .join(lab, id_col, "inner")
            .select(
                id_col,
                F.col("_comp").alias("component"),
                quality_col,
            )
        )
    else:
        labeled = (
            docs.select(F.col(id_col), F.col(quality_col))
            .join(lab, id_col, "left")
            .select(
                id_col,
                F.coalesce(F.col("_comp"), F.col(id_col)).alias("component"),
                quality_col,
            )
        )
    w = Window.partitionBy("component")
    ranked = labeled.withColumn(
        "cluster_size", F.count(F.lit(1)).over(w)
    ).withColumn(
        "rn",
        F.row_number().over(
            w.orderBy(F.col(quality_col).desc(), F.col(id_col).asc())
        ),
    )
    return (
        ranked.where(
            (F.col("rn") == 1) & (F.col("cluster_size") >= min_cluster_size)
        )
        .select(
            "component",
            F.col(id_col).alias("survivor_id"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.col(quality_col).alias("survivor_quality"),
        )
    )


def remove_dup_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    min_span_len: int | None = None,
) -> DataFrame:
    """Exact-substring deduplication — the ACTING step of Lee et al.'s
    'Deduplicating Training Data Makes Language Models Better'
    (ExactSubstr): token positions covered by at least one
    corpus-duplicated k-token window are REMOVED from the document
    (dd12 measures this coverage; this operator edits it out).

    ``min_span_len=None`` (position grain): every covered position is
    dropped — the same coverage definition dd12 measures, so
    n_removed == dd12's n_dup_positions per doc.

    ``min_span_len=L`` (span grain — the paper's actual semantics,
    Lee et al. §3.1 remove merged duplicate spans of >= 50 tokens):
    adjacent covered positions are merged into maximal contiguous
    spans via gap-and-islands IN-PLAN (per-doc row_number over tokpos;
    island key = tokpos - rn, so one window shuffle on the doc id),
    and only spans of at least L tokens are removed. Output gains a
    ``n_spans_removed`` column.

    Returns (id_col, clean_text, n_tokens, n_removed[,
    n_spans_removed]) — one row per input document, ``clean_text =
    ''`` when every position was covered.

    Scale shape (the dd12 pipeline + chunk_dedup's map-only rebuild):
    1. narrow (doc_id, pos, window-hash) projection → partial-agg
       count finds corpus-duplicated window VALUES (small);
    2. only duplicated windows join back and explode ×k into covered
       token positions (span grain: merged to islands, length-filtered),
       rolled up to one int-set row per AFFECTED doc;
    3. the rebuild LEFT-joins that small set to the original docs scan
       and rebuilds each affected doc as ``array_except(positions,
       removed)`` + an ``element_at`` gather — hash-set semantics, so
       O(n_tokens + n_removed) PER DOC. The previous
       ``array_contains``-per-token form was O(n_tokens × n_removed);
       measured A/B on ~fully-covered docs (best-of-2, local[32]):
       5k tokens 1.14 s → 0.71 s, 20k tokens 9.77 s → 0.87 s (11×,
       growing quadratically — a 100k-token doc did not finish in 9
       minutes under the old form, vs sub-second here). Map-only,
       no corpus shuffle — the overwhelming unaffected mass streams
       through untouched.
    Group on a 128-bit fingerprint at web scale (here the poly hash so
    DuckDB replays it exactly).
    """
    from pyspark.sql import Window

    from ..operators.text import tokenize

    toks = tokenize(text_col)
    sh = docs.select(
        F.col(id_col),
        F.posexplode(shingle_tokens(toks, k=k)).alias("pos", "h"),
    )
    dup = sh.groupBy("h").count().where(F.col("count") > 1).select("h")
    cov = sh.join(dup, "h").select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))).alias(
            "tokpos"
        ),
    )
    if min_span_len is None:
        removed = cov.groupBy(id_col).agg(
            F.collect_set("tokpos").alias("_rm"),
            F.countDistinct("tokpos").cast("long").alias("_n_removed"),
        )
    else:
        # Gap-and-islands WITHOUT a pre-distinct: dense_rank gives
        # duplicate tokpos values the same rank, so (tokpos -
        # dense_rank) is still constant exactly within one contiguous
        # run — one shuffle on the doc id for the window, and the
        # island groupBy reuses that partitioning (doc_id ⊂ grouping
        # key); a cov.distinct() first would cost a second exchange on
        # (doc_id, tokpos). Contiguity makes the span length
        # (_e - _s + 1) — no countDistinct needed.
        w = Window.partitionBy(id_col).orderBy("tokpos")
        spans = (
            cov.withColumn("_isl", F.col("tokpos") - F.dense_rank().over(w))
            .groupBy(id_col, "_isl")
            .agg(F.min("tokpos").alias("_s"), F.max("tokpos").alias("_e"))
            .withColumn("_len", F.col("_e") - F.col("_s") + F.lit(1))
            .where(F.col("_len") >= F.lit(min_span_len))
        )
        removed = spans.groupBy(id_col).agg(
            F.flatten(F.collect_list(F.sequence("_s", "_e"))).alias("_rm"),
            F.sum("_len").cast("long").alias("_n_removed"),
            F.count(F.lit(1)).cast("long").alias("_n_spans"),
        )
    rebuilt = docs.join(removed, id_col, "left")
    kept_pos = F.array_except(
        F.sequence(F.lit(0), F.size(toks) - F.lit(1)),
        F.coalesce(F.col("_rm"), F.array().cast("array<int>")),
    )
    kept = F.transform(kept_pos, lambda p: F.element_at(toks, p + F.lit(1)))
    out_cols = [
        F.col(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.coalesce(F.col("_n_removed"), F.lit(0)).cast("long").alias("n_removed"),
    ]
    if min_span_len is not None:
        out_cols.append(
            F.coalesce(F.col("_n_spans"), F.lit(0)).cast("long").alias(
                "n_spans_removed"
            )
        )
    return rebuilt.select(*out_cols)


def content_defined_chunks(
    text: Column | str, divisor: int = 8
) -> Column:
    """Content-defined chunking (the FastCDC/gear-hash idea at token
    grain): a chunk boundary falls AFTER every token whose polynomial
    hash ≡ 0 (mod ``divisor``) — so boundaries are a function of LOCAL
    content only, and inserting or deleting tokens early in a document
    re-chunks only the neighborhood of the edit (fixed-size chunking
    like ``chunk_split`` shifts every later chunk, defeating sub-doc
    dedup on insert-heavy corpora; the property test pins this
    resynchronization). Expected chunk length ≈ ``divisor`` tokens.

    One O(n) fold per document (``F.aggregate`` carrying
    (done_chunks, current_chunk)) — map-only, no shuffle; the HOF is
    interpreted per element, which is acceptable for a per-row
    restructuring pass (same trade as ``chunk_split``; at 100 TB the
    byte-grain kernel form would be an Arrow ``mapInPandas``).
    Deterministic (poly hash, no RNG), so DuckDB replays boundaries
    positionally with a window sum.
    """
    from ..operators.text import tokenize

    toks = tokenize(text) if isinstance(text, str) else F.split(text, " ")
    th = token_poly_hash(toks)
    pairs = F.zip_with(toks, th, lambda t, h: F.struct(t.alias("t"), h.alias("h")))
    zero = F.struct(
        F.array().cast("array<string>").alias("done"),
        F.lit("").alias("cur"),
        F.lit(True).alias("empty"),
    )

    def step(acc: Column, x: Column) -> Column:
        cur2 = F.when(acc["empty"], x["t"]).otherwise(
            F.concat(acc["cur"], F.lit(" "), x["t"])
        )
        is_boundary = (x["h"] % F.lit(divisor)) == F.lit(0)
        return F.when(
            is_boundary,
            F.struct(
                F.concat(acc["done"], F.array(cur2)).alias("done"),
                F.lit("").alias("cur"),
                F.lit(True).alias("empty"),
            ),
        ).otherwise(
            F.struct(acc["done"].alias("done"), cur2.alias("cur"), F.lit(False).alias("empty"))
        )

    return F.aggregate(
        pairs,
        zero,
        step,
        lambda acc: F.when(acc["empty"], acc["done"]).otherwise(
            F.concat(acc["done"], F.array(acc["cur"]))
        ),
    )


def duplicate_discount_weights(
    docs: DataFrame, components: DataFrame, id_col: str
) -> DataFrame:
    """SOFT dedup: instead of dropping near-duplicates (the
    ``select_survivors`` policy), keep every copy but down-weight it
    to ``1 / cluster_size`` so each duplicate cluster contributes one
    document's worth of sampling mass — the duplicate-discounting
    used when curators want dedup's distributional effect without
    losing any rephrasing/formatting diversity the copies carry
    (cf. the soft-dedup variants studied around SemDeDup/D4; the
    weights feed straight into epoch mixing, pk02/pipe13).

    ``components`` is a (node, component) labeling over candidate-pair
    participants (``connected_components``/``_star`` output); absent
    documents are singletons. INVARIANT: component labels must be
    member node ids (CC output guarantees label = min member id) —
    a relabeled map whose labels collide with ABSENT doc_ids would
    make a singleton's (component = own id) row ambiguous against a
    cluster's, where the oracle's single COALESCE window would merge
    them. Emits one row per document:
    (id, component, cluster_size, weight) with weight = 1.0 /
    cluster_size as IEEE double (bit-identical across engines) —
    sum(weight) == number of clusters, the "effective corpus size".

    Scale shape (the ``select_survivors`` split): only documents in
    the component map — the few-% that appeared in any candidate pair
    — are shuffled on ``component`` for the size window; the singleton
    mass never enters that exchange, exiting through an id anti-join
    with literal (size 1, weight 1.0) columns instead. The anti-join
    itself is left to Catalyst/AQE: the component map is the clustered
    few-% of the corpus — broadcastable at test scale, a plain id
    shuffle when it isn't. No driver involvement."""
    from pyspark.sql import Window

    lab = components.select(
        F.col("node").alias(id_col), F.col("component").alias("_comp")
    )
    clustered = (
        docs.select(id_col)
        .join(lab, id_col, "inner")
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("_comp")),
        )
        .select(
            id_col,
            F.col("_comp").alias("component"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
            (F.lit(1.0) / F.col("cluster_size")).alias("weight"),
        )
    )
    singletons = (
        docs.select(id_col)
        .join(lab.select(id_col), id_col, "left_anti")
        .select(
            id_col,
            F.col(id_col).alias("component"),
            F.lit(1).cast("long").alias("cluster_size"),
            F.lit(1.0).alias("weight"),
        )
    )
    return clustered.unionByName(singletons)


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join (SSJoin/PPJoin family) — exact
# Jaccard join WITHOUT all-pairs and WITHOUT LSH's false negatives.
# ---------------------------------------------------------------------------


def prefix_rows(
    df: DataFrame,
    id_col: str,
    set_col: str,
    t_milli: int,
    order: DataFrame | None = None,
) -> DataFrame:
    """Each set's PREFIX under the rarity order, as ``(_id, _s)``
    rows: elements ranked by (document frequency asc, value asc), the
    first |x| − ceil(t·|x|) + 1 kept. This is the per-set half of the
    prefix filter — a pure function of the set and the ORDER, so under
    a frozen order a set's prefix never changes as more sets arrive.

    ``order`` (columns ``_s``, ``_df``) pins a FROZEN frequency
    frame; elements absent from it default to df 0 (rarest). The
    prefix LEMMA needs only a total order COMMON to all sets — any
    frozen order preserves recall 1.0 exactly; the true frequencies
    affect only candidate VOLUME (a drifted order blocks on
    now-common elements and generates more candidates, never misses
    a qualifying pair). With ``order=None`` the frequencies are
    computed from ``df`` itself (the batch form).

    SET semantics: arrays are deduped up front (a repeat would
    inflate |x| and mis-place the prefix boundary — caught by dd21's
    first sweep). ceil(t·s) runs as (t_milli·s + 999) div 1000."""
    if not 0 < t_milli <= 1000:
        raise ValueError("t_milli must be in (0, 1000]")
    df = df.withColumn(set_col, F.array_distinct(F.col(set_col)))
    e = df.select(F.col(id_col).alias("_id"), F.explode(set_col).alias("_s"))
    sz = df.select(
        F.col(id_col).alias("_id"), F.size(set_col).cast("long").alias("_sz")
    )
    if order is None:
        ed = e.join(
            e.groupBy("_s").agg(F.count(F.lit(1)).cast("long").alias("_df")),
            "_s",
        )
    else:
        ed = e.join(order.select("_s", "_df"), "_s", "left").withColumn(
            "_df", F.coalesce(F.col("_df"), F.lit(0).cast("long"))
        )
    from pyspark.sql import Window

    w = Window.partitionBy("_id").orderBy("_df", "_s")
    ceil_ts = F.lit(t_milli) * F.col("_sz") + F.lit(999)
    ceil_ts = ((ceil_ts - (ceil_ts % 1000)) / 1000).cast("long")
    return (
        ed.withColumn("_rn", F.row_number().over(w).cast("long"))
        .join(sz, "_id")
        .where(F.col("_rn") <= F.col("_sz") - ceil_ts + 1)
        .select("_id", "_s")
    )


def prefix_filter_candidates(
    df: DataFrame,
    id_col: str,
    set_col: str,
    t_milli: int,
    order: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs ``(id_a, id_b)`` under the prefix filter
    (Chaudhuri et al. SSJoin 2006; Xiao et al. PPJoin 2008): order
    every set by GLOBAL rarity (document frequency asc, value asc —
    one total order shared by all sets), keep each set's first
    |x| − ceil(t·|x|) + 1 elements, and emit pairs sharing ANY prefix
    element. The lemma: if J(A,B) ≥ t and prefix(A) ∩ prefix(B) = ∅
    under a common total order, then A∩B fits inside the suffixes,
    |A∩B| ≤ ceil(t·|A|) − 1 < t·|A| ≤ t·|A∪B| — contradiction. So
    recall is 1.0 BY CONSTRUCTION (test-pinned against brute force),
    unlike MinHash-LSH's probabilistic recall (dd03/dd18); the price
    is candidates from common elements that LSH's banding would have
    suppressed. Rarity ordering is what makes the filter bite: the
    prefix holds each set's RAREST elements, so frequent elements
    (which would pair everything with everything) never block.

    ceil(t·s) runs in exact integers as (t_milli·s + 999) div 1000.
    Plan shape: one exploded groupBy for document frequencies, one
    per-set rank window, one equi-join on the prefix element — never
    an all-pairs product; the join key is rare by construction, so
    the candidate blow-up is bounded by rare-element co-occurrence
    (measured at sf0.01: 965 candidates of 124,750 possible pairs)."""
    pref = prefix_rows(
        df, id_col, set_col, t_milli, order=order
    ).localCheckpoint(eager=True)
    # The prefix frame feeds BOTH sides of the candidate self-join;
    # without materialization Catalyst evaluates the whole
    # explode → df-count → rank derivation TWICE (plan-guard caught
    # the duplicated window subtree).
    return (
        pref.alias("a")
        .join(pref.alias("b"), "_s")
        .where(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .distinct()
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    set_col: str,
    t_milli: int,
    order: DataFrame | None = None,
) -> DataFrame:
    """Exact set-similarity join: all pairs with Jaccard ≥ t_milli/1000,
    as ``(id_a, id_b, inter_n, union_n, jac_milli)`` — prefix-filtered
    candidates (recall 1.0 by the prefix lemma), then EXACT integer
    verification (inter·1000 ≥ t_milli·union; jac_milli = inter·1000
    div union). Equals the all-pairs brute force exactly
    (test-pinned), at candidate-join cost: the 100 TB shape is
    explode → df-count → rank window → rare-key equi-join → verify
    on candidates only. Arrays travel to the verify join only for
    candidate ids — never for the full cross product. ``order`` is
    the frozen-frequency frame passthrough (see prefix_rows)."""
    # The caller's set derivation (for mm07 a per-char gear-hash +
    # poly-hash fold over the full corpus) used to re-run in FOUR
    # subtrees: prefix_rows' explode, its frequency groupBy, its size
    # frame, and once per verify-join side. One eager checkpoint of
    # the deduped set frame up front pays a single pass and every
    # downstream subtree reads cached blocks (guide §5: cache when
    # reused AND recomputation is the expensive part). prefix_rows'
    # own array_distinct is a no-op on the already-deduped arrays, so
    # candidates and verification are unchanged.
    sets = df.select(
        F.col(id_col).alias("_vid"),
        F.array_distinct(F.col(set_col)).alias("_vset"),
    ).localCheckpoint(eager=True)
    cand = prefix_filter_candidates(sets, "_vid", "_vset", t_milli, order=order)
    return verify_jaccard_candidates(cand, sets, t_milli)


def verify_jaccard_candidates(
    cand: DataFrame, sets: DataFrame, t_milli: int
) -> DataFrame:
    """EXACT integer Jaccard verification of candidate pairs
    ``(id_a, id_b)`` against a ``(_vid, _vset)`` set frame (arrays
    assumed distinct): keeps pairs with inter·1000 ≥ t_milli·union,
    carrying ``inter_n``/``union_n``/``jac_milli``. Shared by the
    batch join and the streaming maintainer so the verification spec
    is single-sourced.

    Empty sets are EXCLUDED from the join (union_n > 0 required):
    J(∅,∅) is undefined (0/0 — jac_milli would divide by zero, null
    in non-ANSI Spark, an error in DuckDB), and the prefix filter can
    never produce such a candidate anyway (an empty set has no prefix
    element to block on), so the guard keeps the verify predicate
    consistent with the filter's reachable space."""
    inter = F.size(F.array_intersect("_aset", "_bset")).cast("long")
    return (
        cand.join(
            sets.select(
                F.col("_vid").alias("id_a"), F.col("_vset").alias("_aset")
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("_vid").alias("id_b"), F.col("_vset").alias("_bset")
            ),
            "id_b",
        )
        .withColumn("inter_n", inter)
        .withColumn(
            "union_n",
            (
                F.size("_aset").cast("long")
                + F.size("_bset").cast("long")
                - F.col("inter_n")
            ),
        )
        .where(
            (F.col("union_n") > 0)
            & (F.col("inter_n") * 1000 >= F.lit(t_milli) * F.col("union_n"))
        )
        .select(
            "id_a",
            "id_b",
            "inter_n",
            "union_n",
            (
                (
                    F.col("inter_n") * 1000
                    - (F.col("inter_n") * 1000) % F.col("union_n")
                )
                / F.col("union_n")
            )
            .cast("long")
            .alias("jac_milli"),
        )
    )
