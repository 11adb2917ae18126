"""Deduplication queries over `documents` (X9/X10): exact,
MinHash-LSH, SimHash, exact n-gram Jaccard.

The fuzzy pipelines use NO randomness — polynomial shingle hashes and
fixed hash schedules (operators.dedup) — so even MinHash-LSH candidate
generation is bit-reproducible and validated against a full DuckDB
replay of the same algorithm (lambdas over lists).

Scale story (100 TB corpus):
- exact: hash-aggregate on content hash — one shuffle of (hash, id).
- MinHash-LSH: per-doc signature is a narrow map; banding explodes
  ×bands; the candidate join is an equi-join on (band, bucket) that
  hash-partitions across the cluster. No quadratic stage anywhere.
- SimHash: 62 aggregate bits per doc, then pairs within blocking keys.
- Jaccard verify runs only on candidate pairs, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    minhash_signatures_kernel,
    ngram_jaccard_pairs,
    shingle_tokens,
    simhash64,
)
from ..operators.text import tokenize
from ..functions import token_poly_hash
from . import register

# ---------------------------------------------------------------------------
# dd01 — exact dedup by content (keep lowest doc_id per distinct text)
# ---------------------------------------------------------------------------

_DD01_ORACLE = """
SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY text
"""


@register("dd01_exact_dedup_documents", oracle=_DD01_ORACLE)
def dd01_exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups: one row per distinct content, keeping
    the smallest doc_id. At scale, group on fingerprint(text) instead
    of raw text to shuffle 8 bytes per row, not the document."""
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("keep_doc_id", "n_copies")


# ---------------------------------------------------------------------------
# dd02 — exact n-gram Jaccard near-dup pairs (blocked by lang)
# ---------------------------------------------------------------------------

_TOKHASH_CTE_SQL = """
  list_transform(string_split(text,' '),
    t -> list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(t, ''), ch -> CAST(ascii(ch) AS BIGINT))),
           (acc, x) -> (acc * 131 + x) % 1000000007))
"""

# Two-level shingle hash over a precomputed token-hash list column th
# (matches operators.dedup.shingle_tokens coefficients).
_SHINGLES_FROM_TH_SQL = """
  list_distinct(list_transform(
    range(1, greatest(len(th) - 2, 1) + 1),
    i -> (COALESCE(th[i], 0) * 17161 + COALESCE(th[i+1], 0) * 131 + COALESCE(th[i+2], 0))
         % 1000000007
  ))
"""

_DD02_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, lang, {_TOKHASH_CTE_SQL} AS th FROM documents
), sh AS (
  SELECT doc_id, lang, {_SHINGLES_FROM_TH_SQL} AS shingles FROM tk
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_filter(a.shingles, s -> list_contains(b.shingles, s))) AS DOUBLE)
       / CAST(len(a.shingles) + len(b.shingles)
              - len(list_filter(a.shingles, s -> list_contains(b.shingles, s))) AS DOUBLE)
         AS jaccard
FROM sh a JOIN sh b
  ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE CAST(len(list_filter(a.shingles, s -> list_contains(b.shingles, s))) AS DOUBLE)
      / CAST(len(a.shingles) + len(b.shingles)
             - len(list_filter(a.shingles, s -> list_contains(b.shingles, s))) AS DOUBLE)
      >= 0.5
"""


@register("dd02_ngram_jaccard_pairs", oracle=_DD02_ORACLE)
def dd02_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard ≥ 0.5, blocked by lang (blocking
    is part of the operator contract; swap in LSH buckets at scale)."""
    docs = table(spark, sf_dir, "documents")
    with_shingles = docs.select(
        "doc_id", "lang", shingle_tokens(tokenize("text"), k=3).alias("shingles")
    )
    return ngram_jaccard_pairs(
        with_shingles, "doc_id", "shingles", threshold=0.5, block_cols=["lang"]
    )


# ---------------------------------------------------------------------------
# dd03 — MinHash-LSH candidate pairs (full deterministic replay)
# ---------------------------------------------------------------------------

_DD03_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, {_TOKHASH_CTE_SQL} AS th FROM documents
), sh AS (
  SELECT doc_id, {_SHINGLES_FROM_TH_SQL} AS shingles FROM tk
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 32),
           i -> list_min(list_transform(shingles,
                  x -> (x * (2*i + 1234567) + (9876543 + 31*i)) % 1000000007))) AS sig
  FROM sh
), bands AS (
  SELECT doc_id, CAST(b AS BIGINT) AS band,
         array_to_string(list_slice(sig, b*4 + 1, b*4 + 4), '_') AS bucket
  FROM sig, unnest(range(0, 8)) AS u(b)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


@register("dd03_minhash_lsh_candidates", oracle=_DD03_ORACLE)
def dd03_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + LSH banding (8 bands × 4 rows): candidate
    near-duplicate pairs. Deterministic hash schedule → the oracle
    replays the identical algorithm in SQL."""
    # Small single-file corpora arrive as ONE scan partition; the
    # per-row hashing is CPU-bound, so spread it across the cluster
    # first (a 5000-row shuffle is free, 32× parallelism is not).
    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    shingled = docs.select("doc_id", shingle_tokens(tokenize("text"), k=3).alias("shingles"))
    sigs = minhash_signatures(shingled, "doc_id", "shingles", num_hashes=32)
    return lsh_candidate_pairs(sigs, "doc_id", "sig", bands=8, rows_per_band=4).select(
        F.col("id_a").cast("long").alias("id_a"), F.col("id_b").cast("long").alias("id_b")
    )


# ---------------------------------------------------------------------------
# dd05 — the same MinHash-LSH via the Arrow/numpy kernel (scale path)
# ---------------------------------------------------------------------------


@register("dd05_minhash_lsh_kernel", oracle=_DD03_ORACLE)
def dd05_minhash_lsh_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd03's exact semantics through the vectorized numpy signature
    kernel (mapInPandas, Arrow batches) — it shares dd03's oracle, so
    the driver's hash compare proves the two pipelines bit-agree. The
    kernel is the 100 TB path: per-partition numpy, no interpreted
    HOF evaluation, nothing shuffled until the LSH band join."""
    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    sigs = minhash_signatures_kernel(docs, "doc_id", "text", num_hashes=32)
    return lsh_candidate_pairs(sigs, "doc_id", "sig", bands=8, rows_per_band=4).select(
        F.col("id_a").cast("long").alias("id_a"), F.col("id_b").cast("long").alias("id_b")
    )


# ---------------------------------------------------------------------------
# dd04 — SimHash near-dup pairs (62-bit, hamming ≤ 8, blocked by lang)
# ---------------------------------------------------------------------------

_TOKHASH_SQL = """
  list_transform(string_split(text,' '),
    t -> list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(t, ''), ch -> CAST(ascii(ch) AS BIGINT))),
           (acc, x) -> (acc * 131 + x) % 1000000007))
"""

_SIMHASH_SQL = f"""
  list_sum(list_transform(range(0, 62),
    j -> CASE WHEN 2 * list_sum(list_transform({_TOKHASH_SQL},
                     h -> (h >> CAST(j AS BIGINT)) & 1)) > len(string_split(text,' '))
              THEN (CAST(1 AS BIGINT) << CAST(j AS BIGINT)) ELSE CAST(0 AS BIGINT) END))
"""

_DD04_ORACLE = f"""
WITH hs AS (
  SELECT doc_id, lang, CAST({_SIMHASH_SQL} AS BIGINT) AS simhash FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM hs a JOIN hs b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
"""


@register("dd04_simhash_pairs", oracle=_DD04_ORACLE)
def dd04_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (62 usable bits; bit j set iff the majority of token
    hashes have bit j) — near-dups are pairs with hamming ≤ 8 within
    a lang block. popcount(XOR) stays in codegen (F.bit_count)."""
    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    hs = docs.select(
        "doc_id", "lang", simhash64(token_poly_hash(tokenize("text"))).alias("simhash")
    )
    a, b = hs.alias("a"), hs.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast("long")
    return (
        a.join(b, (F.col("a.lang") == F.col("b.lang")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .where(F.col("hamming") <= 8)
    )


# ---------------------------------------------------------------------------
# dd06 — duplicate clusters: connected components over LSH candidates
# ---------------------------------------------------------------------------

# MinHash(32) → LSH bands → candidate pairs → recursive transitive
# closure → (node, component = min id) map. ONE definition shared by
# the dd06/dd08 oracles and the pipe12 funnel fragment (the
# _kmeans_sql single-implementation rule): a hash-schedule or banding
# change lands in every composing oracle at once. Requires
# `WITH RECURSIVE` in the consuming statement.
MINHASH_CC_CTES = f"""tk AS (
  SELECT doc_id, {_TOKHASH_CTE_SQL} AS th FROM documents
), sh AS (
  SELECT doc_id, {_SHINGLES_FROM_TH_SQL} AS shingles FROM tk
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 32),
           i -> list_min(list_transform(shingles,
                  x -> (x * (2*i + 1234567) + (9876543 + 31*i)) % 1000000007))) AS sig
  FROM sh
), bands AS (
  SELECT doc_id, CAST(b AS BIGINT) AS band,
         array_to_string(list_slice(sig, b*4 + 1, b*4 + 4), '_') AS bucket
  FROM sig, unnest(range(0, 8)) AS u(b)
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), sym AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
), cc AS (
  SELECT a AS node, a AS label FROM sym
  UNION
  SELECT e.a AS node, cc.label
  FROM cc JOIN sym e ON cc.node = e.b
), comp AS (
  SELECT node, MIN(label) AS component FROM cc GROUP BY node
)"""

_DD06_ORACLE = f"""
WITH RECURSIVE {MINHASH_CC_CTES}
SELECT node, component FROM comp
"""


@register("dd06_dedup_components", oracle=_DD06_ORACLE)
def dd06_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs → duplicate CLUSTERS: iterative min-label
    propagation (operators.dedup.connected_components) over the dd03
    LSH graph; component = min doc_id, i.e. the canonical keeper of
    each near-dup cluster. The oracle replays the whole pipeline plus
    a recursive CTE for the transitive closure — a driver-checked
    ITERATIVE DataFrame algorithm."""
    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    from ..operators.dedup import connected_components, minhash_signatures_kernel

    sigs = minhash_signatures_kernel(docs, "doc_id", "text", num_hashes=32)
    pairs = lsh_candidate_pairs(sigs, "doc_id", "sig", bands=8, rows_per_band=4)
    return connected_components(pairs, "id_a", "id_b").select(
        F.col("node").cast("long").alias("node"),
        F.col("component").cast("long").alias("component"),
    )


# ---------------------------------------------------------------------------
# dd09 — incremental LSH maintenance (daily-batch candidates).
# Registered in the registry OVERFLOW section.
# ---------------------------------------------------------------------------

_DD09_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, {_TOKHASH_CTE_SQL} AS th FROM documents
), sh AS (
  SELECT doc_id, {_SHINGLES_FROM_TH_SQL} AS shingles FROM tk
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 32),
           i -> list_min(list_transform(shingles,
                  x -> (x * (2*i + 1234567) + (9876543 + 31*i)) % 1000000007))) AS sig
  FROM sh
), bands AS (
  SELECT doc_id, CAST(b AS BIGINT) AS band,
         array_to_string(list_slice(sig, b*4 + 1, b*4 + 4), '_') AS bucket
  FROM sig, unnest(range(0, 8)) AS u(b)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE a.doc_id % 10 = 0 OR b.doc_id % 10 = 0
"""


@register("dd09_incremental_lsh", oracle=_DD09_ORACLE)
def dd09_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment dedup maintenance: docs with doc_id % 10 == 0
    play today's batch, the rest the stored corpus. Candidates are
    exactly the full-corpus LSH pairs touching the batch — computed by
    probing banded-new (broadcast) against banded-all, never
    re-pairing the existing corpus against itself. The oracle is the
    dd03 pair SQL restricted to pairs with a batch member."""
    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    from ..operators.dedup import (
        lsh_candidate_pairs_incremental,
        minhash_signatures_kernel,
    )

    # Eager persist, same trade as lsh_candidate_pairs(eager=True):
    # both probe sides read the cache instead of racing to recompute
    # signatures; released at session end (the returned DataFrame is
    # lazy, so there is no in-function unpersist point).
    sigs = minhash_signatures_kernel(docs, "doc_id", "text", num_hashes=32).persist()
    sigs.count()
    new = sigs.where(F.col("doc_id") % 10 == 0)
    existing = sigs.where(F.col("doc_id") % 10 != 0)
    # broadcast pinned True: the batch slice is known-small here, and
    # pinning skips the operator's sizing count job in the bench loop.
    return lsh_candidate_pairs_incremental(
        existing, new, "doc_id", "sig", bands=8, rows_per_band=4, broadcast=True
    )


# ---------------------------------------------------------------------------
# dd08 — survivor selection per duplicate cluster. Registered in the
# registry OVERFLOW section (the 50-entry sweep window is full).
# ---------------------------------------------------------------------------

_DD08_ORACLE = f"""
WITH RECURSIVE {MINHASH_CC_CTES}, labeled AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component, d.n_chars
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
), ranked AS (
  SELECT doc_id, component, n_chars,
         ROW_NUMBER() OVER (PARTITION BY component
                            ORDER BY n_chars DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY component) AS cluster_size
  FROM labeled
)
SELECT component, doc_id AS survivor_id,
       CAST(cluster_size AS BIGINT) AS cluster_size,
       n_chars AS survivor_quality
FROM ranked
WHERE rn = 1 AND cluster_size >= 2
"""


@register("dd08_dedup_survivors", oracle=_DD08_ORACLE)
def dd08_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision step AFTER clustering: each near-dup cluster keeps
    its highest-quality member (longest doc, ties broken by min
    doc_id) — the row a real pipeline writes to the deduplicated
    corpus. Replays the dd06 MinHash→LSH→connected-components pipeline
    then selects survivors with one component-partitioned window; the
    oracle replays everything incl. the recursive transitive closure."""
    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    from ..operators.dedup import (
        connected_components,
        minhash_signatures_kernel,
        select_survivors,
    )

    sigs = minhash_signatures_kernel(docs, "doc_id", "text", num_hashes=32)
    pairs = lsh_candidate_pairs(sigs, "doc_id", "sig", bands=8, rows_per_band=4)
    comp = connected_components(pairs, "id_a", "id_b")
    return select_survivors(docs, comp, "doc_id", "n_chars", min_cluster_size=2)


# ---------------------------------------------------------------------------
# dd07 — benchmark decontamination (eval-overlap flags). Registered in
# the registry OVERFLOW section (the 50-entry sweep window is full).
# ---------------------------------------------------------------------------

_DD07_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, source, {_TOKHASH_CTE_SQL} AS th FROM documents
), sh AS (
  SELECT doc_id, source, {_SHINGLES_FROM_TH_SQL} AS shingles FROM tk
), ev AS (
  SELECT DISTINCT g
  FROM (SELECT unnest(shingles) AS g FROM sh WHERE source = 'src0')
), ce AS (
  SELECT doc_id, unnest(shingles) AS g FROM sh WHERE source <> 'src0'
)
SELECT ce.doc_id, CAST(COUNT(DISTINCT ce.g) AS BIGINT) AS n_shared
FROM ce JOIN ev ON ce.g = ev.g
GROUP BY ce.doc_id
"""


@register("dd07_decontamination", oracle=_DD07_ORACLE)
def dd07_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set leakage check: treating source='src0' as the held-out
    benchmark, flag every other document sharing at least one 3-gram
    shingle with it (n_shared = distinct shared shingles). Eval
    shingles broadcast; the corpus is map-only until the per-doc
    count."""
    from ..operators.dedup import decontaminate_flags

    docs = table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", "source", shingle_tokens(tokenize("text"), k=3).alias("sh")
    )
    return decontaminate_flags(
        sh.where(F.col("source") != "src0"),
        sh.where(F.col("source") == "src0"),
        "doc_id",
        "sh",
    )


# ---------------------------------------------------------------------------
# dd10 — GPT-3-style wide-shingle decontamination (k=5). Registered in
# the registry OVERFLOW section.
# ---------------------------------------------------------------------------

# Horner form of the degree-(k-1) shingle polynomial in base 131 with a
# mod per step — the same schedule shingle_tokens(k) generalizes to;
# intermediates stay < p*131 so DuckDB BIGINT arithmetic is exact.
_SHINGLES_K5_FROM_TH_SQL = """
  list_distinct(list_transform(
    range(1, greatest(len(th) - 4, 1) + 1),
    i -> ((((((((COALESCE(th[i], 0) * 131 + COALESCE(th[i+1], 0)) % 1000000007)
               * 131 + COALESCE(th[i+2], 0)) % 1000000007)
               * 131 + COALESCE(th[i+3], 0)) % 1000000007)
               * 131 + COALESCE(th[i+4], 0)) % 1000000007)
  ))
"""

_DD10_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, source, {_TOKHASH_CTE_SQL} AS th FROM documents
), sh AS (
  SELECT doc_id, source, {_SHINGLES_K5_FROM_TH_SQL} AS shingles FROM tk
), ev AS (
  SELECT DISTINCT g
  FROM (SELECT unnest(shingles) AS g FROM sh WHERE source = 'src0')
), ce AS (
  SELECT doc_id, unnest(shingles) AS g FROM sh WHERE source <> 'src0'
)
SELECT ce.doc_id, CAST(COUNT(DISTINCT ce.g) AS BIGINT) AS n_shared
FROM ce JOIN ev ON ce.g = ev.g
GROUP BY ce.doc_id
"""


@register("dd10_decontamination_5gram", oracle=_DD10_ORACLE)
def dd10_decontamination_5gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd07's leakage check at the 5-gram width — the shape of GPT-3
    appendix-C-style decontamination, where wider shingles cut false
    positives on common short phrases. Exercises the generalized
    arbitrary-k shingle schedule (Horner in base 131 mod p); same
    broadcast-eval / map-only-corpus scale shape as dd07."""
    from ..operators.dedup import decontaminate_flags

    docs = table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", "source", shingle_tokens(tokenize("text"), k=5).alias("sh")
    )
    return decontaminate_flags(
        sh.where(F.col("source") != "src0"),
        sh.where(F.col("source") == "src0"),
        "doc_id",
        "sh",
    )


# ---------------------------------------------------------------------------
# dd11 — corpus-wide chunk-level dedup (paragraph/line dedup analog)
# ---------------------------------------------------------------------------

_DD11_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), chunks AS (
  SELECT doc_id, i AS chunk_no,
         array_to_string(ts[(i*12+1):(i*12+12)], ' ') AS chunk
  FROM toks, LATERAL (SELECT unnest(range(0, CAST(ceil(len(ts)/12.0) AS BIGINT))) AS i) g
), ranked AS (
  SELECT doc_id, chunk_no, chunk,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_no) AS rn
  FROM chunks
)
SELECT doc_id,
       COALESCE(string_agg(chunk, ' ' ORDER BY chunk_no) FILTER (WHERE rn = 1), '') AS clean_text,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM ranked
GROUP BY doc_id
"""


@register("dd11_chunk_dedup", oracle=_DD11_ORACLE)
def dd11_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/CCNet-style sub-document dedup: 12-token chunks are
    kept only at their first corpus-wide occurrence (min (doc_id,
    chunk_no)); each document is rebuilt from its surviving chunks.
    The full corpus never shuffles — only the narrow chunk projection
    aggregates, only CONTESTED chunk values enter the first-occurrence
    window, and the rebuild filters each doc's chunk array in place
    (see operators.dedup.chunk_dedup). At sf0.01 this drops 110
    duplicate chunks across 38 documents — non-trivial by
    construction."""
    from ..operators.dedup import chunk_dedup

    docs = table(spark, sf_dir, "documents")
    return chunk_dedup(docs, "doc_id", "text", chunk_tokens=12)


# ---------------------------------------------------------------------------
# dd12 — duplicated-span coverage (memorization-risk analytics)
# ---------------------------------------------------------------------------

# Positional (non-distinct) 10-token window hashes from the token-hash
# list th — Horner base 131 mod p, the same schedule as shingle_tokens.
_WINDOWS_K10_FROM_TH_SQL = """
  list_transform(range(1, greatest(len(th) - 9, 1) + 1),
    i -> list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(range(0, 10), j -> COALESCE(th[i + j], CAST(0 AS BIGINT)))),
           (acc, x) -> (acc * 131 + x) % 1000000007))
"""

_DD12_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, {_TOKHASH_CTE_SQL} AS th FROM documents
), sh AS (
  SELECT doc_id, {_WINDOWS_K10_FROM_TH_SQL} AS wins FROM tk
), w AS (
  SELECT doc_id, i - 1 AS pos, wins[i] AS h
  FROM sh, LATERAL (SELECT unnest(range(1, len(wins) + 1)) AS i) g
), dup AS (
  SELECT h FROM w GROUP BY h HAVING count(*) > 1
), dw AS (
  SELECT w.doc_id, w.pos FROM w JOIN dup ON w.h = dup.h
), cov AS (
  SELECT doc_id, pos, pos + j AS tokpos
  FROM dw, LATERAL (SELECT unnest(range(0, 10)) AS j) gg
), stats AS (
  SELECT doc_id,
         CAST(count(DISTINCT pos) AS BIGINT) AS n_dup_windows,
         CAST(count(DISTINCT tokpos) AS BIGINT) AS n_dup_positions
  FROM cov GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       CAST(greatest(len(string_split(d.text, ' ')) - 9, 1) AS BIGINT) AS n_windows,
       COALESCE(s.n_dup_windows, 0) AS n_dup_windows,
       COALESCE(s.n_dup_positions, 0) AS n_dup_positions,
       CAST(COALESCE(s.n_dup_positions, 0) AS DOUBLE)
         / CAST(len(string_split(d.text, ' ')) AS DOUBLE) AS dup_ratio
FROM documents d LEFT JOIN stats s ON d.doc_id = s.doc_id
"""


@register("dd12_dup_span_stats", oracle=_DD12_ORACLE)
def dd12_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication analytics (the Lee-et-al.
    'Deduplicating Training Data' measurement step): every OVERLAPPING
    10-token window is hashed positionally; a window value occurring
    more than once corpus-wide is a duplicated span, and each doc
    reports how many of its token positions are covered by at least
    one duplicated span — the memorization-risk surface dd11's aligned
    chunks can't see (spans straddling chunk boundaries).

    Scale shape: the window stream is a narrow (doc_id, pos, h)
    projection; duplicate values come from one partial-agg count; only
    DUP windows (a small fraction) are joined back and exploded ×10
    for the exact interval-union coverage count. Group on a 128-bit
    fingerprint at web scale (here the poly hash, so DuckDB replays
    the identical algorithm)."""
    docs = table(spark, sf_dir, "documents")
    toks = tokenize("text")
    # Both the duplicate-value count and the dup-window join read this
    # stream. NOT persisted: the projection is rehashed once per
    # consumer (two corpus scans) — recomputing a narrow map-only
    # stage is cheaper than leaking a corpus-sized cache in a
    # long-lived session (a round-5 `.persist()` here had no
    # unpersist point, since the returned DataFrame is lazy). At
    # cluster scale materialize the (id, pos, h) stream to a table
    # once and point both consumers at it.
    sh = docs.select(
        "doc_id",
        F.posexplode(shingle_tokens(toks, k=10)).alias("pos", "h"),
    )
    dup = sh.groupBy("h").count().where(F.col("count") > 1).select("h")
    dw = sh.join(dup, "h").select("doc_id", "pos")
    cov = dw.select(
        "doc_id",
        "pos",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(9))).alias("tokpos"),
    )
    stats = cov.groupBy("doc_id").agg(
        F.countDistinct("pos").cast("bigint").alias("n_dup_windows"),
        F.countDistinct("tokpos").cast("bigint").alias("n_dup_positions"),
    )
    n_tokens = F.size(toks).cast("long")
    base = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.greatest(n_tokens - F.lit(9), F.lit(1)).cast("long").alias("n_windows"),
    )
    return base.join(stats, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_windows",
        F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
        F.coalesce("n_dup_positions", F.lit(0)).cast("long").alias("n_dup_positions"),
        (
            F.coalesce("n_dup_positions", F.lit(0)).cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("dup_ratio"),
    )


# ---------------------------------------------------------------------------
# dd13 — MinHash estimate vs exact Jaccard (sketch-error accounting)
# ---------------------------------------------------------------------------

_DD13_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, {_TOKHASH_CTE_SQL} AS th FROM documents
), sh AS (
  SELECT doc_id, {_SHINGLES_FROM_TH_SQL} AS shingles FROM tk
), sig AS (
  SELECT doc_id, shingles,
         list_transform(range(0, 32),
           i -> list_min(list_transform(shingles,
                  x -> (x * (2*i + 1234567) + (9876543 + 31*i)) % 1000000007))) AS sig
  FROM sh
), bands AS (
  SELECT doc_id, CAST(b AS BIGINT) AS band,
         array_to_string(list_slice(sig, b*4 + 1, b*4 + 4), '_') AS bucket
  FROM sig, unnest(range(0, 8)) AS u(b)
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), scored AS (
  SELECT p.id_a, p.id_b,
         CAST(len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE)
           / 32.0 AS est_jaccard,
         CAST(len(list_filter(sa.shingles, s -> list_contains(sb.shingles, s))) AS DOUBLE)
           / CAST(len(sa.shingles) + len(sb.shingles)
                  - len(list_filter(sa.shingles, s -> list_contains(sb.shingles, s)))
              AS DOUBLE) AS jaccard
  FROM pairs p
  JOIN sig sa ON sa.doc_id = p.id_a
  JOIN sig sb ON sb.doc_id = p.id_b
)
SELECT id_a, id_b, est_jaccard, jaccard,
       abs(est_jaccard - jaccard) AS abs_err
FROM scored
"""


# Session-keyed result cache: dd13's plan persists two frames (its
# enrichment frame + lsh_candidate_pairs' eager banded input). Without
# keying, every invocation in a long-lived session would stack +2
# persisted RDDs — the same leak class the round-6 dd12 fix removed.
# Re-invoking with the same (application, sf_dir) returns the SAME lazy
# DataFrame, so reruns re-read the existing caches and storage growth
# is exactly zero (pinned by tests/test_cache_hygiene.py).
_DD13_CACHE: dict[tuple[str, str], DataFrame] = {}


@register("dd13_jaccard_estimate", oracle=_DD13_ORACLE)
def dd13_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-error accounting: for every LSH candidate pair, the
    MinHash ESTIMATE (matching signature positions / 32) next to the
    EXACT shingle-set Jaccard and the absolute error — the number that
    justifies (or indicts) a chosen signature width before a 100-TB
    dedup run commits to it. The fixed hash schedule makes even the
    estimate bit-deterministic, so the whole accounting is
    oracle-replayable. Scale: the exact score runs only on candidate
    pairs (LSH output), never all pairs; both per-doc columns come
    from one projection."""
    cache_key = (spark.sparkContext.applicationId, sf_dir)
    if cache_key in _DD13_CACHE:
        return _DD13_CACHE[cache_key]
    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    base = docs.select(
        "doc_id", shingle_tokens(tokenize("text"), k=3).alias("shingles")
    )
    from ..operators.dedup import minhash_signature

    # Jaccard is a SET measure: distinct the positional shingle array
    # (MinHash is dup-insensitive — min over multiset == min over set —
    # but |A|, |B| and the union are not).
    # Persisted because THREE consumers read it (the LSH pair join's
    # two banded sides inside lsh_candidate_pairs read their own
    # persisted copy; here the a/b enrichment joins would otherwise
    # re-hash the corpus twice more). Session-lifetime cache, same
    # documented trade as dd09; at cluster scale write it to a table.
    enriched = base.where(F.size("shingles") > 0).select(
        "doc_id",
        F.array_distinct("shingles").alias("shingles"),
        minhash_signature(F.col("shingles"), num_hashes=32).alias("sig"),
    ).persist()
    pairs = lsh_candidate_pairs(enriched.select("doc_id", "sig"), "doc_id", "sig",
                                bands=8, rows_per_band=4)
    a = enriched.select(
        F.col("doc_id").alias("id_a"),
        F.col("shingles").alias("_sh_a"),
        F.col("sig").alias("_sig_a"),
    )
    b = enriched.select(
        F.col("doc_id").alias("id_b"),
        F.col("shingles").alias("_sh_b"),
        F.col("sig").alias("_sig_b"),
    )
    j = pairs.join(a, "id_a").join(b, "id_b")
    matches = F.size(
        F.filter(F.zip_with("_sig_a", "_sig_b", lambda x, y: x == y), lambda eq: eq)
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    uni = F.size("_sh_a") + F.size("_sh_b") - inter
    est = matches.cast("double") / F.lit(32.0)
    jac = inter.cast("double") / uni.cast("double")
    out = j.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        est.alias("est_jaccard"),
        jac.alias("jaccard"),
        F.abs(est - jac).alias("abs_err"),
    )
    _DD13_CACHE[cache_key] = out
    return out


# ---------------------------------------------------------------------------
# dd14 — exact-substring span REMOVAL (Lee et al. ExactSubstr acting
# step; dd12 measures, dd14 edits). Registered in the registry OVERFLOW
# section.
# ---------------------------------------------------------------------------

_DD14_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, {_TOKHASH_CTE_SQL} AS th FROM documents
), sh AS (
  SELECT doc_id, {_WINDOWS_K10_FROM_TH_SQL} AS wins FROM tk
), w AS (
  SELECT doc_id, i - 1 AS pos, wins[i] AS h
  FROM sh, LATERAL (SELECT unnest(range(1, len(wins) + 1)) AS i) g
), dup AS (
  SELECT h FROM w GROUP BY h HAVING count(*) > 1
), dw AS (
  SELECT w.doc_id, w.pos FROM w JOIN dup ON w.h = dup.h
), cov AS (
  SELECT DISTINCT doc_id, pos + j AS tokpos
  FROM dw, LATERAL (SELECT unnest(range(0, 10)) AS j) gg
), toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), tok AS (
  SELECT doc_id, i - 1 AS p, ts[i] AS tok
  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i) g
), kept AS (
  SELECT t.doc_id, array_to_string(list(t.tok ORDER BY t.p), ' ') AS clean_text
  FROM tok t ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.tokpos
  GROUP BY t.doc_id
), rm AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed FROM cov GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(k.clean_text, '') AS clean_text,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       COALESCE(r.n_removed, 0) AS n_removed
FROM documents d
LEFT JOIN kept k ON d.doc_id = k.doc_id
LEFT JOIN rm r ON d.doc_id = r.doc_id
"""


@register("dd14_exact_substring_removal", oracle=_DD14_ORACLE)
def dd14_exact_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, acting step (Lee et al. ExactSubstr):
    every token position covered by a corpus-duplicated 10-token
    window is removed and the document rebuilt — dd12's coverage
    measurement turned into the edit a training pipeline actually
    applies (n_removed per doc == dd12's n_dup_positions by shared
    definition). Scale shape: duplicated-window detection is the dd12
    partial-agg pipeline; the rebuild is chunk_dedup's map-only
    array-filter — the unaffected corpus mass never shuffles."""
    from ..operators.dedup import remove_dup_spans

    docs = table(spark, sf_dir, "documents")
    return remove_dup_spans(docs, "doc_id", "text", k=10)


# ---------------------------------------------------------------------------
# dd14b — span-grain ExactSubstr removal (Lee et al. §3.1: merged
# duplicate spans of >= 50 tokens). Registered in the registry OVERFLOW
# section.
# ---------------------------------------------------------------------------

_DD14B_MIN_SPAN = 50

_DD14B_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, {_TOKHASH_CTE_SQL} AS th FROM documents
), sh AS (
  SELECT doc_id, {_WINDOWS_K10_FROM_TH_SQL} AS wins FROM tk
), w AS (
  SELECT doc_id, i - 1 AS pos, wins[i] AS h
  FROM sh, LATERAL (SELECT unnest(range(1, len(wins) + 1)) AS i) g
), dup AS (
  SELECT h FROM w GROUP BY h HAVING count(*) > 1
), dw AS (
  SELECT w.doc_id, w.pos FROM w JOIN dup ON w.h = dup.h
), cov AS (
  SELECT DISTINCT doc_id, pos + j AS tokpos
  FROM dw, LATERAL (SELECT unnest(range(0, 10)) AS j) gg
), isl AS (
  SELECT doc_id, tokpos,
         tokpos - row_number() OVER (PARTITION BY doc_id ORDER BY tokpos) AS k
  FROM cov
), spans AS (
  SELECT doc_id, k, min(tokpos) AS s, max(tokpos) AS e,
         count(*) AS len
  FROM isl GROUP BY doc_id, k
  HAVING count(*) >= {_DD14B_MIN_SPAN}
), rmpos AS (
  SELECT doc_id, s + j AS tokpos
  FROM spans, LATERAL (SELECT unnest(range(0, e - s + 1)) AS j) g
), toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), tok AS (
  SELECT doc_id, i - 1 AS p, ts[i] AS tok
  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i) g
), kept AS (
  SELECT t.doc_id, array_to_string(list(t.tok ORDER BY t.p), ' ') AS clean_text
  FROM tok t ANTI JOIN rmpos c ON t.doc_id = c.doc_id AND t.p = c.tokpos
  GROUP BY t.doc_id
), rm AS (
  SELECT doc_id, CAST(SUM(len) AS BIGINT) AS n_removed,
         CAST(count(*) AS BIGINT) AS n_spans_removed
  FROM spans GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(k.clean_text, '') AS clean_text,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       COALESCE(r.n_removed, 0) AS n_removed,
       COALESCE(r.n_spans_removed, 0) AS n_spans_removed
FROM documents d
LEFT JOIN kept k ON d.doc_id = k.doc_id
LEFT JOIN rm r ON d.doc_id = r.doc_id
"""


@register("dd14b_exact_substring_spans", oracle=_DD14B_ORACLE)
def dd14b_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr at the PAPER's grain (Lee et al. §3.1): covered
    positions are merged into maximal contiguous spans (in-plan
    gap-and-islands — per-doc row_number; island key = tokpos - rn)
    and only spans of >= 50 tokens are removed, so a boilerplate
    sentence dup that covers 11 positions survives while a lifted
    paragraph is excised. At sf0.01 this is non-trivial in BOTH
    directions: 21 spans (len 58–93) removed, 22 shorter spans (len
    11–43) retained vs dd14's drop-everything grain. Shares dd12/dd14's
    duplicated-window pipeline and the O(n_tokens + n_removed)
    array_except rebuild; the extra cost over dd14 is one window +
    groupBy pair that reuses the doc-id shuffle partitioning."""
    from ..operators.dedup import remove_dup_spans

    docs = table(spark, sf_dir, "documents")
    return remove_dup_spans(
        docs, "doc_id", "text", k=10, min_span_len=_DD14B_MIN_SPAN
    )


# ---------------------------------------------------------------------------
# dd15 — SemDeDup: within-cluster embedding near-dup removal.
# Registered in the registry OVERFLOW section.
# ---------------------------------------------------------------------------

_DD15_TAU = 0.3

# The driver's correctness gate runs at sf0.01, where embeddings has
# exactly this many rows (asserted against the live parquet in
# tests/test_parity.py so drift is loud). Oracles are static SQL, so
# the k∝N policy is materialized at THIS corpus size — which the
# policy maps to k_min=8, keeping every sf0.01 pin valid while the
# Spark side scales k at larger corpora.
SF001_EMBEDDINGS_ROWS = 500


def _semdedup_k() -> int:
    from ..operators.clustering import k_for_corpus

    return k_for_corpus(SF001_EMBEDDINGS_ROWS)


def _semdedup_ctes() -> str:
    """Shared dd15/dd16 oracle fragment: kmeans replay → per-row
    centroid cosine (``cs``, zero-norm rows excluded) → within-cluster
    near-dup pairs (``prs``) → the DISTINCT marked set (``sem``). Both
    oracles build on the same chain so the SemDeDup decision they
    verify cannot drift. k comes from the same ``k_for_corpus`` policy
    the Spark queries apply (at the sf0.01 gate size)."""
    from ._kmeans_sql import cos_sql, kmeans_ctes

    n = 4
    return f"""{kmeans_ctes(_semdedup_k(), n, 64)}
, cs AS (
  SELECT a.vec_id, a.cid, a.qv, {cos_sql('a.qv', 'c.cv')} AS csim
  FROM a{n} a JOIN c{n} c USING (cid)
  WHERE list_sum(list_transform(a.qv, x -> x * x)) > 0
), prs AS (
  SELECT x.cid, x.vec_id AS id_a, y.vec_id AS id_b,
         x.csim AS csa, y.csim AS csb
  FROM cs x JOIN cs y ON x.cid = y.cid AND x.vec_id < y.vec_id
  WHERE {cos_sql('x.qv', 'y.qv')} >= {_DD15_TAU}
), sem AS (
  SELECT DISTINCT cid AS cluster,
    CASE WHEN csa > csb THEN id_a WHEN csb > csa THEN id_b
         ELSE GREATEST(id_a, id_b) END AS vec_id
  FROM prs
)"""


def _dd15_oracle() -> str:
    return f"""WITH {_semdedup_ctes()}
SELECT cluster, vec_id FROM sem ORDER BY cluster, vec_id"""


@register("dd15_semdedup", oracle=_dd15_oracle())
def dd15_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embeddings
    (ss13's deterministic fit), then mark within-cluster pairs with
    cosine >= 0.3 and remove the member with the HIGHER cosine to its
    cluster centroid (the paper keeps the low-centroid-similarity
    example to preserve diversity; exact ties remove the larger id).
    At sf0.01: 200 of 500 vectors marked. The oracle replays the full
    4-iteration fit AND the pairwise pass, so the end-to-end semantic
    dedup decision set is hash-pinned. Plan: centroid cosine is
    computed per row BEFORE the pair join; pairs form via an equi-join
    on cluster (hash-partitioned, never all-pairs — Σ|cluster|² stays
    LINEAR in N because k scales with the corpus per the paper:
    ``k_for_corpus`` picks k = max(8, n div 64), the policy the oracle
    replays at the sf0.01 gate size where it resolves to 8)."""
    from ..operators.clustering import k_for_corpus, semdedup

    docs = table(spark, sf_dir, "embeddings")
    k = k_for_corpus(docs.count())
    return semdedup(
        docs, "vec_id", "embedding", k=k, n_iter=4, threshold=_DD15_TAU
    ).orderBy("cluster", "vec_id")


# ---------------------------------------------------------------------------
# dd16 — D4 pruning: SemDeDup + SSL-prototype diversification.
# Registered in the registry OVERFLOW section.
# ---------------------------------------------------------------------------

_DD16_PROTO_PCT = 20


def _dd16_oracle() -> str:
    return f"""WITH {_semdedup_ctes()}
, rem AS (
  SELECT c.cid, c.vec_id, c.csim FROM cs c
  LEFT JOIN sem s ON c.cid = s.cluster AND c.vec_id = s.vec_id
  WHERE s.vec_id IS NULL
), rk AS (
  SELECT cid, vec_id,
         ROW_NUMBER() OVER (PARTITION BY cid
                            ORDER BY csim DESC, vec_id) AS r,
         COUNT(*) OVER (PARTITION BY cid) AS n
  FROM rem
), proto AS (
  SELECT cid AS cluster, vec_id FROM rk
  WHERE r <= (n * {_DD16_PROTO_PCT}) // 100
)
SELECT cluster, vec_id, 'semdedup' AS reason FROM sem
UNION ALL
SELECT cluster, vec_id, 'prototype' AS reason FROM proto
ORDER BY cluster, vec_id"""


@register("dd16_d4_prune", oracle=_dd16_oracle())
def dd16_d4_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 pruning (Tirumala et al. 2023) — the composition that
    completes the semantic-curation family: dd15's SemDeDup marks
    first, then SSL-prototype diversification over the survivors (per
    cluster, drop the top-20% members MOST similar to their centroid —
    the least informative examples; MinHash/SemDeDup only remove
    copies, this removes redundancy-without-duplication). One
    (cluster, vec_id, reason) row per removed member; the oracle
    replays the full 4-iteration k-means fit, the SemDeDup pair
    decision (shared CTE fragment with dd15 — they cannot drift), the
    survivor anti-join, and the exact-integer per-cluster quota
    ``(n · 20) div 100``. Plan: one shared assignment kernel pass
    (localCheckpointed), the dd15 cluster equi-join, plus ONE
    cluster-partitioned window for the prototype ranking. k follows
    the ``k_for_corpus`` policy (shared with dd15's oracle CTE)."""
    from ..operators.clustering import d4_prune, k_for_corpus, kmeans_fit

    emb = table(spark, sf_dir, "embeddings")
    cent = kmeans_fit(
        emb, "vec_id", "embedding", k=k_for_corpus(emb.count()), n_iter=4
    )
    return d4_prune(
        emb, "vec_id", "embedding", cent,
        threshold=_DD15_TAU, proto_pct=_DD16_PROTO_PCT,
    ).orderBy("cluster", "vec_id")


# ---------------------------------------------------------------------------
# dd17 — duplicate-discount weights: SOFT dedup over the MinHash CC
# clusters. Registered in the registry OVERFLOW section.
# ---------------------------------------------------------------------------

_DD17_ORACLE = f"""
WITH RECURSIVE {MINHASH_CC_CTES}, labeled AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
), sized AS (
  SELECT doc_id, component,
         CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT)
           AS cluster_size
  FROM labeled
)
SELECT doc_id, component, cluster_size,
       CAST(1 AS DOUBLE) / cluster_size AS weight
FROM sized
"""


@register("dd17_duplicate_discount", oracle=_DD17_ORACLE)
def dd17_duplicate_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup — the policy BETWEEN keep-everything and dd08's
    drop-all-but-one: every document stays in the corpus but carries
    sampling weight 1/cluster_size over its dd06 near-dup cluster, so
    each cluster contributes exactly one document's worth of training
    mass while keeping whatever formatting/rephrasing diversity the
    copies carry. sum(weight) == cluster count == the effective corpus
    size dd08 would keep; the weights feed epoch mixing (pk02/pipe13)
    as duplicate-discounted sampling rates. The oracle replays
    MinHash → LSH → recursive transitive closure (the shared
    MINHASH_CC_CTES spec) then one size window; weight is a single
    IEEE double divide, bit-identical across engines.

    Scale shape (operators.dedup.duplicate_discount_weights): only
    pair-participating docs shuffle on component for the size window;
    the singleton mass — the overwhelming share of a deduplicated
    corpus — never enters that exchange, exiting through an id
    anti-join with literal (1, 1.0) columns (join strategy left to
    Catalyst/AQE: broadcast when the component map fits, id shuffle
    when it doesn't)."""
    from ..operators.dedup import (
        connected_components,
        duplicate_discount_weights,
    )

    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    sigs = minhash_signatures_kernel(docs, "doc_id", "text", num_hashes=32)
    pairs = lsh_candidate_pairs(sigs, "doc_id", "sig", bands=8, rows_per_band=4)
    comp = connected_components(pairs, "id_a", "id_b")
    return duplicate_discount_weights(docs, comp, "doc_id")


# ---------------------------------------------------------------------------
# dd18 — LSH operating-point accounting: measured precision/recall of
# the band/row trade at fixed signature budget (the S-curve, verified)
# ---------------------------------------------------------------------------

_DD18_SLICE = 500  # truth is exact all-pairs Jaccard — bounded eval slice
_DD18_TAU = 0.5  # dd02's near-dup threshold
_DD18_CONFIGS = ((16, 2), (8, 4), (4, 8))  # (bands, rows) at 32 hashes


def _dd18_oracle() -> str:
    blocks, selects = [], []
    jac = (
        "CAST(len(list_filter(a.shingles, s -> list_contains(b.shingles, s)))"
        " AS DOUBLE) / (len(a.shingles) + len(b.shingles)"
        " - len(list_filter(a.shingles, s -> list_contains(b.shingles, s))))"
    )
    for nb, r in _DD18_CONFIGS:
        blocks.append(f""", bd{nb} AS (
  SELECT doc_id, CAST(bb AS BIGINT) AS band,
         array_to_string(list_slice(sig, bb*{r} + 1, bb*{r} + {r}), '_')
           AS bucket
  FROM sig, unnest(range(0, {nb})) AS u(bb)
), cd{nb} AS (
  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
  FROM bd{nb} a JOIN bd{nb} b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), sc{nb} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cand FROM cd{nb}
), ht{nb} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
  FROM cd{nb} JOIN truth USING (ia, ib)
)""")
        selects.append(
            f"SELECT CAST({nb} AS BIGINT) AS bands, "
            f"CAST({r} AS BIGINT) AS rows_per_band, "
            f"s.n_cand, t.n_truth, h.n_hit, "
            f"CASE WHEN s.n_cand = 0 THEN 0.0 "
            f"ELSE CAST(h.n_hit AS DOUBLE) / s.n_cand END AS precision, "
            f"CAST(h.n_hit AS DOUBLE) / t.n_truth AS recall "
            f"FROM sc{nb} s, tcnt t, ht{nb} h"
        )
    return f"""
WITH tk AS (
  SELECT doc_id, {_TOKHASH_CTE_SQL} AS th FROM documents
  WHERE doc_id < {_DD18_SLICE}
), sh AS (
  SELECT doc_id, {_SHINGLES_FROM_TH_SQL} AS shingles FROM tk
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 32),
           i -> list_min(list_transform(shingles,
                  x -> (x * (2*i + 1234567) + (9876543 + 31*i)) % 1000000007))) AS sig
  FROM sh
), truth AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE {jac} >= {_DD18_TAU}
), tcnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth)
{''.join(blocks)}
SELECT * FROM ({' UNION ALL '.join(selects)}) ORDER BY bands DESC
"""


@register("dd18_lsh_operating_points", oracle=_dd18_oracle())
def dd18_lsh_operating_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH band/row trade MEASURED, not assumed: at a fixed
    32-hash signature budget, every split b×r=32 is a different point
    on the S-curve P(candidate) = 1−(1−J^r)^b — more bands of fewer
    rows catch lower-similarity pairs (recall↑) at the cost of more
    spurious bucket collisions (precision↓, and candidate volume is
    the real cluster cost: every candidate is a verify-join row).
    This harness recall/precision-accounts dd03's production point
    (8×4) against its neighbors (16×2, 4×8) over the exact all-pairs
    Jaccard ≥ 0.5 truth on the bounded eval slice (the ss08
    convention — an unbounded exact truth is the quadratic this
    operator family exists to avoid). Measured at sf0.01 (25 planted
    near-dup pairs): every split reaches recall 100% (the dups sit
    where all three S-curves have saturated), but the candidate bill
    differs exactly as the curve predicts — 16×2 drags in 42
    candidates (precision 59.5%: 17 spurious 2-hash collisions to
    verify), 8×4 27 (92.6%), 4×8 a perfect 25 (100%). At equal recall
    the wide-band split pays 1.7× the verify cost — multiplied by a
    100 TB corpus, that IS the operating-point decision, and this
    harness is the run-it-on-a-sample tool that replaces trusting the
    curve. Signatures/bands/buckets replay dd03's exact hash
    schedule; the whole accounting is DuckDB-hash-verified.

    Scale shape: signatures are computed ONCE (persisted) and each
    config re-bands the same 32 longs — banding is a per-row explode,
    candidates an equi-join on (band, bucket); only the truth is
    slice-bounded."""
    docs = table(spark, sf_dir, "documents").where(
        F.col("doc_id") < _DD18_SLICE
    )
    shingled = docs.select(
        "doc_id", shingle_tokens(tokenize("text"), k=3).alias("shingles")
    ).localCheckpoint(eager=True)

    # Signatures and the exact quadratic truth both derive only from
    # the checkpointed shingles — concurrent driver threads (guide
    # §2.6, the ss16/ss23 pattern) overlap the truth's bounded
    # all-pairs join with the signature fold.
    from concurrent.futures import ThreadPoolExecutor

    def _sigs() -> DataFrame:
        return minhash_signatures(
            shingled, "doc_id", "shingles", num_hashes=32
        ).localCheckpoint(eager=True)

    def _truth() -> DataFrame:
        return (
            ngram_jaccard_pairs(
                shingled, "doc_id", "shingles", threshold=_DD18_TAU
            )
            .select(F.col("id_a").alias("ia"), F.col("id_b").alias("ib"))
            .localCheckpoint(eager=True)
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        sigs_f = pool.submit(_sigs)
        truth_f = pool.submit(_truth)
        sigs = sigs_f.result()
        truth = truth_f.result()
    tcnt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    out = None
    for nb, r in _DD18_CONFIGS:
        cand = lsh_candidate_pairs(
            sigs, "doc_id", "sig", bands=nb, rows_per_band=r, eager=False
        ).select(
            F.col("id_a").cast("long").alias("ia"),
            F.col("id_b").cast("long").alias("ib"),
        )
        sc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
        ht = cand.join(truth, ["ia", "ib"], "left_semi").agg(
            F.count(F.lit(1)).cast("long").alias("n_hit")
        )
        prec = F.when(F.col("n_cand") == 0, F.lit(0.0)).otherwise(
            F.col("n_hit").cast("double") / F.col("n_cand").cast("double")
        )
        row = (
            sc.crossJoin(tcnt)
            .crossJoin(ht)
            .select(
                F.lit(nb).cast("long").alias("bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
                "n_cand",
                "n_truth",
                "n_hit",
                prec.alias("precision"),
                (
                    F.col("n_hit").cast("double")
                    / F.col("n_truth").cast("double")
                ).alias("recall"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy(F.col("bands").desc())


# ---------------------------------------------------------------------------
# dd19 — decontamination-gate agreement audit: exact 5-gram shingle
# overlap (dd10's gate) vs BM25 lexical relevance (tx27's ranker) as
# eval-leak detectors, measured against each other
# ---------------------------------------------------------------------------

_DD19_THRESHOLDS = (4000, 5000, 6000)


def _dd19_oracle() -> str:
    """Composes dd10's shingle chain and tx27's BM25 index chain
    (both imported fragments, nothing forked): per non-eval candidate,
    the 5-gram-overlap flag and the max BM25 score against the src0
    eval queries; one agreement row per pinned threshold."""
    from ._bm25_sql import _bm25_contrib_sql, _bm25_index_sql

    selects = []
    for t in _DD19_THRESHOLDS:
        selects.append(f"""SELECT CAST({t} AS BIGINT) AS threshold,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN f_sh THEN 1 ELSE 0 END) AS BIGINT) AS n_shingle,
       CAST(SUM(CASE WHEN m >= {t} THEN 1 ELSE 0 END) AS BIGINT) AS n_bm25,
       CAST(SUM(CASE WHEN f_sh AND m >= {t} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_both,
       CAST(SUM(CASE WHEN f_sh AND m < {t} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shingle_only,
       CAST(SUM(CASE WHEN NOT f_sh AND m >= {t} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bm25_only
FROM cand""")
    return f"""
WITH {_bm25_index_sql()},
tk5 AS (
  SELECT doc_id, source, {_TOKHASH_CTE_SQL} AS th FROM documents
), sh5 AS (
  SELECT doc_id, source, {_SHINGLES_K5_FROM_TH_SQL} AS shingles FROM tk5
), evg AS (
  SELECT DISTINCT g
  FROM (SELECT unnest(shingles) AS g FROM sh5 WHERE source = 'src0')
), contam AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(shingles) AS g FROM sh5 WHERE source <> 'src0'
  ) JOIN evg USING (g)
), qt AS (
  SELECT DISTINCT t.doc_id AS query_id, t.tok
  FROM tok t JOIN documents dd USING (doc_id) WHERE dd.source = 'src0'
), sc AS (
  SELECT c.doc_id AS neighbor_id,
         CAST(SUM({_bm25_contrib_sql()}) AS BIGINT) AS score
  FROM qt q
  JOIN idf i ON i.tok = q.tok
  JOIN tf c ON c.tok = q.tok AND c.doc_id != q.query_id
  JOIN documents cd ON cd.doc_id = c.doc_id AND cd.source <> 'src0'
  JOIN dl l ON l.doc_id = c.doc_id
  CROSS JOIN stats s
  GROUP BY c.doc_id, q.query_id
), mx AS (
  SELECT neighbor_id AS doc_id, MAX(score) AS m FROM sc GROUP BY 1
), cand AS (
  SELECT d0.doc_id,
         EXISTS (SELECT 1 FROM contam c WHERE c.doc_id = d0.doc_id) AS f_sh,
         COALESCE(mx.m, 0) AS m
  FROM documents d0 LEFT JOIN mx USING (doc_id)
  WHERE d0.source <> 'src0'
)
SELECT * FROM ({' UNION ALL '.join(selects)}) ORDER BY threshold
"""


@register("dd19_bm25_decon_audit", oracle=_dd19_oracle())
def dd19_bm25_decon_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination-GATE agreement audit — before a 100 TB pipeline
    commits to an eval-leak detector, measure how the two available
    lexical gates relate on a sample: dd10's exact 5-gram shingle
    overlap (the GPT-3-style verbatim-leak gate) versus max BM25
    relevance against the eval set (tx27's ranker as a detector —
    what paraphrase-ish leakage would trip when no 5-gram survives
    rewording). Per non-eval candidate: f_sh (any shared 5-gram) and
    m (max integer BM25 score over the 25 src0 eval queries, 0 when
    no kept term matches); one agreement row per pinned threshold
    (4000/5000/6000 — bracketing the scoring candidates' measured
    max-score quartiles). Measured at sf0.01 over 475 candidates, the
    verdict is DISJOINT gates: n_shingle = 2, n_bm25 = 17/10/2 across
    thresholds, n_both = 0 at every threshold. The why is the
    corpus's degenerate lexical profile (tx27's measurement: a
    31-token vocabulary where the N/2 prune leaves one informative
    term), so the relevance gate reduces to "contains 'dup'
    prominently" — a signal uncorrelated with sharing a verbatim
    5-gram window. The production read this audit exists to produce:
    on THIS distribution the relevance gate adds no reliable leak
    signal (its hits are a review queue, never a drop list), and a
    pipeline that deployed BM25 decontamination here on faith would
    silently drop topical neighbors while missing both actual
    verbatim leaks — run the audit on a sample BEFORE wiring either
    gate into the manifest.

    Plan shape: the shingle side is dd10's broadcast-eval-gram gate;
    the BM25 side reuses bm25_index + bm25_scores_from_index (the
    tx27 spec — stopword-pruned postings, bounded broadcast query
    terms) with one extra per-candidate MAX; the agreement rows are
    conditional sums over ONE small per-candidate frame, checkpointed
    so the three threshold rows never recompute the gates. Oracle
    composes dd10's and tx27's fragments verbatim."""
    from ..operators.dedup import decontaminate_flags, shingle_arrays_kernel
    from ..operators.text import bm25_index, bm25_scores_from_index, tokenize

    docs = table(spark, sf_dir, "documents")
    # r14: the 5-gram fold runs ONCE through the Arrow shingle kernel
    # (bit-equal to shingle_tokens(tokenize()) — parity test-pinned)
    # and is checkpointed: the old lazy frame was evaluated once per
    # side of the contamination join, each paying the per-char HOF
    # over the whole corpus. Hash-green re-swept.
    sh = shingle_arrays_kernel(
        docs.select("doc_id", "source", "text"), "text", k=5, out_col="sh"
    ).localCheckpoint(eager=True)
    contam = decontaminate_flags(
        sh.where(F.col("source") != "src0"),
        sh.where(F.col("source") == "src0"),
        "doc_id",
        "sh",
    ).select("doc_id")

    tf, dl, stats, dfreq = bm25_index(docs, "doc_id", "text")
    qt = (
        docs.where(F.col("source") == "src0")
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(tokenize("text")).alias("_t"),
        )
        .distinct()
    )
    non_eval = docs.where(F.col("source") != "src0").select("doc_id")
    mx = (
        bm25_scores_from_index(tf, dl, stats, dfreq, qt)
        .join(non_eval, F.col("neighbor_id") == F.col("doc_id"), "left_semi")
        .groupBy(F.col("neighbor_id").alias("doc_id"))
        .agg(F.max("score").alias("m"))
    )
    cand = (
        non_eval.join(contam.withColumn("_f", F.lit(True)), "doc_id", "left")
        .join(mx, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_f"), F.lit(False)).alias("f_sh"),
            F.coalesce(F.col("m"), F.lit(0).cast("long")).alias("m"),
        )
        .localCheckpoint(eager=True)
    )
    out = None
    for t in _DD19_THRESHOLDS:
        hit = F.col("m") >= t
        row = cand.agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(F.when(F.col("f_sh"), 1).otherwise(0)).cast("long").alias("n_shingle"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_bm25"),
            F.sum(F.when(F.col("f_sh") & hit, 1).otherwise(0)).cast("long").alias("n_both"),
            F.sum(F.when(F.col("f_sh") & ~hit, 1).otherwise(0)).cast("long").alias("n_shingle_only"),
            F.sum(F.when(~F.col("f_sh") & hit, 1).otherwise(0)).cast("long").alias("n_bm25_only"),
        ).select(
            F.lit(t).cast("long").alias("threshold"),
            "n_candidates",
            "n_shingle",
            "n_bm25",
            "n_both",
            "n_shingle_only",
            "n_bm25_only",
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("threshold")


# ---------------------------------------------------------------------------
# dd20 — dedup-method overlap matrix: the measurement the curation
# funnel implies but never states. Registered in OVERFLOW.
# ---------------------------------------------------------------------------

_DD20_METHODS = ("exact", "minhash", "chunk", "substr", "semdedup", "d4")


def _dd20_oracle() -> str:
    # The dd14b span chain over the SHARED tk token hashes, CTE names
    # prefixed w- to coexist with MINHASH_CC_CTES' sh/sig in one WITH.
    substr_ctes = f""", wn AS (
  SELECT doc_id, {_WINDOWS_K10_FROM_TH_SQL} AS wins FROM tk
), wp AS (
  SELECT doc_id, i - 1 AS pos, wins[i] AS h
  FROM wn, LATERAL (SELECT unnest(range(1, len(wins) + 1)) AS i) g
), wdup AS (
  SELECT h FROM wp GROUP BY h HAVING count(*) > 1
), wcov AS (
  SELECT DISTINCT wp.doc_id, wp.pos + j AS tokpos
  FROM wp JOIN wdup ON wp.h = wdup.h,
       LATERAL (SELECT unnest(range(0, 10)) AS j) gg
), wisl AS (
  SELECT doc_id, tokpos,
         tokpos - row_number() OVER (PARTITION BY doc_id ORDER BY tokpos) AS k
  FROM wcov
), wspans AS (
  SELECT doc_id FROM wisl GROUP BY doc_id, k
  HAVING count(*) >= {_DD14B_MIN_SPAN}
)"""
    chunk_ctes = """, ctoks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), cchunks AS (
  SELECT doc_id, i AS chunk_no,
         array_to_string(ts[(i*12+1):(i*12+12)], ' ') AS chunk
  FROM ctoks, LATERAL (SELECT unnest(range(0,
       CAST(ceil(len(ts)/12.0) AS BIGINT))) AS i) g
), cranked AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_no) AS rn
  FROM cchunks
)"""
    marks = """, mex AS (
  SELECT doc_id FROM (
    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS m0
    FROM documents) WHERE doc_id != m0
), mmh AS (
  SELECT doc_id FROM (
    SELECT c.node AS doc_id,
           ROW_NUMBER() OVER (PARTITION BY c.component
                              ORDER BY d.n_chars DESC, c.node) AS rn
    FROM comp c JOIN documents d ON d.doc_id = c.node) WHERE rn > 1
), mch AS (
  SELECT DISTINCT doc_id FROM cranked WHERE rn > 1
), msub AS (
  SELECT DISTINCT doc_id FROM wspans
), rem AS (
  SELECT c.cid, c.vec_id, c.csim FROM cs c
  LEFT JOIN sem s ON c.cid = s.cluster AND c.vec_id = s.vec_id
  WHERE s.vec_id IS NULL
), proto AS (
  SELECT cid AS cluster, vec_id FROM (
    SELECT cid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY cid
                              ORDER BY csim DESC, vec_id) AS r,
           COUNT(*) OVER (PARTITION BY cid) AS n
    FROM rem)
  WHERE r <= (n * 20) // 100
), marks AS (
  SELECT 'exact' AS m, doc_id FROM mex
  UNION ALL SELECT 'minhash', doc_id FROM mmh
  UNION ALL SELECT 'chunk', doc_id FROM mch
  UNION ALL SELECT 'substr', doc_id FROM msub
  UNION ALL SELECT 'semdedup', vec_id FROM sem
  UNION ALL SELECT 'd4', vec_id FROM sem
  UNION ALL SELECT 'd4', vec_id FROM proto
)"""
    mlist = ", ".join(f"('{m}')" for m in _DD20_METHODS)
    return f"""WITH RECURSIVE {MINHASH_CC_CTES}{substr_ctes}{chunk_ctes}
, {_semdedup_ctes()}{marks}
, mlist AS (SELECT m FROM (VALUES {mlist}) t(m))
, sizes AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS n FROM marks GROUP BY m)
, bothc AS (
  SELECT x.m AS ma, y.m AS mb, CAST(COUNT(*) AS BIGINT) AS nb
  FROM marks x JOIN marks y ON x.doc_id = y.doc_id AND x.m < y.m
  GROUP BY x.m, y.m
)
, uniqc AS (
  SELECT m, CAST(COUNT(*) AS BIGINT) AS nu FROM (
    SELECT doc_id, MIN(m) AS m FROM marks GROUP BY doc_id
    HAVING COUNT(*) = 1) GROUP BY m
)
, tot AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS t FROM marks)
SELECT kind, method_a, method_b, n_a, n_b, n_both FROM (
  SELECT 'pair' AS kind, a.m AS method_a, b.m AS method_b,
         COALESCE(sa.n, 0) AS n_a, COALESCE(sb.n, 0) AS n_b,
         COALESCE(bc.nb, 0) AS n_both
  FROM mlist a JOIN mlist b ON a.m < b.m
  LEFT JOIN sizes sa ON sa.m = a.m
  LEFT JOIN sizes sb ON sb.m = b.m
  LEFT JOIN bothc bc ON bc.ma = a.m AND bc.mb = b.m
  UNION ALL
  SELECT 'unique', l.m, '', COALESCE(s.n, 0),
         (SELECT t FROM tot), COALESCE(u.nu, 0)
  FROM mlist l
  LEFT JOIN sizes s ON s.m = l.m
  LEFT JOIN uniqc u ON u.m = l.m
) ORDER BY kind, method_a, method_b"""


@register("dd20_dedup_overlap_matrix", oracle=_dd20_oracle())
def dd20_dedup_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise overlap of the six dedup methods' MARKED sets on the
    same corpus — the measurement every multi-stage funnel (pipe09/
    pipe12) implicitly assumes but never states: which documents ONLY
    one method finds is the basis for ordering stages by marginal
    yield (a stage whose marks are a subset of an earlier stage's is
    free to drop). Marked = what each method would remove: exact =
    non-keeper full-text copies (dd01's groups minus the min-id
    keeper); minhash = non-survivor MinHash-CC members (dd08's
    max-n_chars-then-min-id election); chunk = docs losing ≥1
    duplicate 12-token chunk (dd11); substr = docs losing ≥1 ≥50-token
    duplicated span (dd14b); semdedup = dd15's within-cluster marks;
    d4 = dd16's marks (semdedup ∪ prototype). 'pair' rows give
    (n_a, n_b, n_both) for all 15 method pairs; 'unique' rows give
    (method size, |union of all marks|, marked by THIS method alone).

    Measured at sf0.01 (pinned in tests/test_parity.py): exact marks
    ZERO documents (no byte-identical texts exist — the stage the
    funnel pays first finds nothing here); the lexical near-dup
    family coheres (minhash 26, chunk 38, substr 21, with
    chunk∩minhash 13 and substr∩minhash 11 — substr is 11/21 inside
    minhash's marks); the semantic family is nearly disjoint from it
    (semdedup∩minhash 12 of 200 — embedding similarity ≠ text
    similarity) and dominates the union (283 marked in total, d4
    alone contributes 51 unique, semdedup 0 unique BY CONSTRUCTION —
    it is a subset of d4, which the n_both=200=|semdedup| row states
    structurally). The production read: on this corpus the exact
    stage is droppable, minhash subsumes most of substr, and the
    semantic family is where the marginal yield lives; chunk/substr
    still earn their keep at sub-document grain (they REWRITE docs,
    not just drop them), which doc-level overlap can't see.

    Pure composition: every marked set reuses its method's registered
    operator (Spark) and oracle fragment (MINHASH_CC_CTES, the dd14b
    span chain over the SHARED tk token hashes, dd11's ranked chunks,
    _semdedup_ctes + dd16's prototype window) — nothing re-specified.
    One d4_prune pass serves BOTH semantic sets (sem = its
    reason='semdedup' rows). Scale: each set is its method's
    documented plan; the matrix itself is one (method, doc) frame —
    6N rows — self-joined on doc_id (methods ≤ 6, so the blowup is
    bounded by 15 pairs) plus two grid broadcasts."""
    from ..operators.clustering import d4_prune, k_for_corpus, kmeans_fit
    from ..operators.dedup import (
        chunk_dedup,
        connected_components,
        minhash_signatures_kernel,
        remove_dup_spans,
    )

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")

    keep = docs.groupBy("text").agg(F.min("doc_id").alias("_m"))
    mex = (
        docs.join(keep, "text")
        .where(F.col("doc_id") != F.col("_m"))
        .select("doc_id")
    )
    sigs = minhash_signatures_kernel(docs, "doc_id", "text", num_hashes=32)
    pairs = lsh_candidate_pairs(sigs, "doc_id", "sig", bands=8, rows_per_band=4)
    comp = connected_components(pairs, "id_a", "id_b")
    from pyspark.sql import Window

    wsurv = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    mmh = (
        comp.select(F.col("node").alias("doc_id"), "component")
        .join(docs.select("doc_id", "n_chars"), "doc_id")
        .select("doc_id", F.row_number().over(wsurv).alias("_rn"))
        .where(F.col("_rn") > 1)
        .select("doc_id")
    )
    mch = (
        chunk_dedup(docs, "doc_id", "text", chunk_tokens=12)
        .where(F.col("n_dropped") > 0)
        .select("doc_id")
    )
    msub = (
        remove_dup_spans(docs, "doc_id", "text", k=10, min_span_len=_DD14B_MIN_SPAN)
        .where(F.col("n_spans_removed") > 0)
        .select("doc_id")
    )
    cent = kmeans_fit(
        emb, "vec_id", "embedding", k=k_for_corpus(emb.count()), n_iter=4
    )
    d4 = d4_prune(
        emb, "vec_id", "embedding", cent, threshold=_DD15_TAU, proto_pct=20
    ).localCheckpoint(eager=True)
    msem = d4.where(F.col("reason") == "semdedup").select(
        F.col("vec_id").alias("doc_id")
    )
    md4 = d4.select(F.col("vec_id").alias("doc_id")).distinct()

    marks = None
    for name, df in (
        ("exact", mex),
        ("minhash", mmh),
        ("chunk", mch),
        ("substr", msub),
        ("semdedup", msem),
        ("d4", md4),
    ):
        tagged = df.select(F.lit(name).alias("m"), "doc_id")
        marks = tagged if marks is None else marks.unionByName(tagged)
    marks = marks.localCheckpoint(eager=True)

    mlist = spark.createDataFrame([(m,) for m in _DD20_METHODS], "m string")
    sizes = marks.groupBy("m").agg(F.count(F.lit(1)).cast("long").alias("n"))
    bothc = (
        marks.alias("x")
        .join(
            marks.alias("y"),
            (F.col("x.doc_id") == F.col("y.doc_id"))
            & (F.col("x.m") < F.col("y.m")),
        )
        .groupBy(F.col("x.m").alias("ma"), F.col("y.m").alias("mb"))
        .agg(F.count(F.lit(1)).cast("long").alias("nb"))
    )
    uniqc = (
        marks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_c"), F.min("m").alias("m"))
        .where(F.col("_c") == 1)
        .groupBy("m")
        .agg(F.count(F.lit(1)).cast("long").alias("nu"))
    )
    tot = marks.select("doc_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    z = F.lit(0).cast("long")
    # The 15-method-pair grid is a LITERAL (6 methods, known at plan
    # time) — building it as a non-equi self-join of mlist planned as
    # a CartesianProduct, which the repo's no-cartesian discipline
    # (and test_plans' guard) forbids even at 6×6.
    grid = spark.createDataFrame(
        [
            (a, b)
            for i, a in enumerate(sorted(_DD20_METHODS))
            for b in sorted(_DD20_METHODS)[i + 1:]
        ],
        "ma_g string, mb_g string",
    )
    pair_rows = (
        grid.join(F.broadcast(sizes.alias("sa")), F.col("ma_g") == F.col("sa.m"), "left")
        .join(F.broadcast(sizes.alias("sb")), F.col("mb_g") == F.col("sb.m"), "left")
        .join(
            F.broadcast(bothc),
            (F.col("ma_g") == F.col("ma")) & (F.col("mb_g") == F.col("mb")),
            "left",
        )
        .select(
            F.lit("pair").alias("kind"),
            F.col("ma_g").alias("method_a"),
            F.col("mb_g").alias("method_b"),
            F.coalesce(F.col("sa.n"), z).alias("n_a"),
            F.coalesce(F.col("sb.n"), z).alias("n_b"),
            F.coalesce(F.col("nb"), z).alias("n_both"),
        )
    )
    uniq_rows = (
        mlist.join(F.broadcast(sizes), "m", "left")
        .join(F.broadcast(uniqc.withColumnRenamed("m", "_um")),
              F.col("m") == F.col("_um"), "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.lit("unique").alias("kind"),
            F.col("m").alias("method_a"),
            F.lit("").alias("method_b"),
            F.coalesce(F.col("n"), z).alias("n_a"),
            F.col("t").alias("n_b"),
            F.coalesce(F.col("nu"), z).alias("n_both"),
        )
    )
    return pair_rows.unionByName(uniq_rows).orderBy(
        "kind", "method_a", "method_b"
    )


# ---------------------------------------------------------------------------
# dd21 — prefix-filtered EXACT similarity join (SSJoin/PPJoin family).
# Registered in OVERFLOW.
# ---------------------------------------------------------------------------

_DD21_T_MILLI = 500

_DD21_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, {_TOKHASH_CTE_SQL} AS th FROM documents
), sh AS (
  SELECT doc_id, {_SHINGLES_FROM_TH_SQL} AS shingles FROM tk
), e AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh
), dfq AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS dfn FROM e GROUP BY s
), sz AS (
  SELECT doc_id, CAST(len(shingles) AS BIGINT) AS sz FROM sh
), rk AS (
  SELECT e.doc_id, e.s,
         ROW_NUMBER() OVER (PARTITION BY e.doc_id ORDER BY dfq.dfn, e.s) AS rn
  FROM e JOIN dfq USING (s)
), pref AS (
  SELECT rk.doc_id, rk.s FROM rk JOIN sz USING (doc_id)
  WHERE rn <= sz - (({_DD21_T_MILLI} * sz + 999) // 1000) + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id
), v AS (
  SELECT id_a, id_b,
         CAST(len(list_filter(sa.shingles,
                  x -> list_contains(sb.shingles, x))) AS BIGINT) AS inter_n,
         CAST(len(sa.shingles) + len(sb.shingles)
              - len(list_filter(sa.shingles,
                    x -> list_contains(sb.shingles, x))) AS BIGINT) AS union_n
  FROM cand
  JOIN sh sa ON sa.doc_id = cand.id_a
  JOIN sh sb ON sb.doc_id = cand.id_b
)
SELECT id_a, id_b, inter_n, union_n,
       (inter_n * 1000) // union_n AS jac_milli
FROM v
WHERE inter_n * 1000 >= {_DD21_T_MILLI} * union_n
ORDER BY id_a, id_b
"""


@register("dd21_prefix_filter_join", oracle=_DD21_ORACLE)
def dd21_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard ≥ 0.5 similarity join via the prefix filter
    (SSJoin/PPJoin) — the third blocking strategy in the near-dup
    family, completing the trade-off triangle: dd02 blocks by a
    metadata key (exact within blocks, blind across them), dd03/dd18
    block by MinHash-LSH bands (any-pair reach, probabilistic recall
    — dd18 measured 100% only because the operating points were
    generous), dd21 blocks by each set's RAREST elements under one
    global frequency order — any-pair reach AND recall 1.0 by the
    prefix lemma (a qualifying pair that shares no prefix element
    cannot reach t; test-pinned against the unblocked brute force).
    The price is measured here on the real 3-gram shingle sets:
    965 candidate pairs of 124,750 possible (0.77%) at sf0.01,
    25 verified — precision 2.6% where dd18's tightest LSH point
    bought 100% precision at the same recall, which is exactly the
    documented trade: certainty of recall vs candidate volume.

    Scale shape: one exploded groupBy prices global document
    frequencies, one per-set rank window takes the prefix, ONE
    equi-join on the (rare by construction) prefix element generates
    candidates — never an all-pairs product, and no per-lang fence —
    then exact integer verification touches candidate ids only.
    Every count, the ceil(t·s) prefix bound and jac_milli are exact
    int64, DuckDB-hash-verified."""
    from ..operators.dedup import prefix_filter_pairs

    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    sh = docs.select(
        "doc_id", shingle_tokens(tokenize("text"), k=3).alias("shingles")
    )
    return prefix_filter_pairs(
        sh, "doc_id", "shingles", t_milli=_DD21_T_MILLI
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# dd22 — prefix-order DRIFT cost: the frozen-order index's efficiency
# bill, measured. Registered in OVERFLOW.
# ---------------------------------------------------------------------------


def _dd22_oracle() -> str:
    """dd21's chain run under TWO element orders — the corpus's own
    frequencies and an order frozen from the even-doc half — emitting
    (order_kind, n_cand, n_verified) rows; the verified counts must
    agree (the prefix lemma's recall is order-independent)."""
    t = _DD21_T_MILLI
    head = f"""
WITH tk AS (
  SELECT doc_id, {_TOKHASH_CTE_SQL} AS th FROM documents
), sh AS (
  SELECT doc_id, {_SHINGLES_FROM_TH_SQL} AS shingles FROM tk
), e AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh
), dfq_self AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS dfn FROM e GROUP BY s
), dfq_half AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS dfn FROM e
  WHERE doc_id % 2 = 0 GROUP BY s
), sz AS (
  SELECT doc_id, CAST(len(shingles) AS BIGINT) AS sz FROM sh
)"""
    blocks, selects = [], []
    for kind, dfq, join in (
        ("frozen_half", "dfq_half", "LEFT JOIN"),
        ("self", "dfq_self", "JOIN"),
    ):
        blocks.append(f""", rk_{kind} AS (
  SELECT e.doc_id, e.s,
         ROW_NUMBER() OVER (PARTITION BY e.doc_id
                            ORDER BY COALESCE(d.dfn, 0), e.s) AS rn
  FROM e {join} {dfq} d USING (s)
), pref_{kind} AS (
  SELECT rk_{kind}.doc_id, rk_{kind}.s FROM rk_{kind} JOIN sz USING (doc_id)
  WHERE rn <= sz - (({t} * sz + 999) // 1000) + 1
), cand_{kind} AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pref_{kind} a JOIN pref_{kind} b
    ON a.s = b.s AND a.doc_id < b.doc_id
), v_{kind} AS (
  SELECT COUNT(*) FILTER (
    len(list_filter(sa.shingles, x -> list_contains(sb.shingles, x))) * 1000
    >= {t} * (len(sa.shingles) + len(sb.shingles)
              - len(list_filter(sa.shingles,
                    x -> list_contains(sb.shingles, x))))
  ) AS n_verified,
  COUNT(*) AS n_cand
  FROM cand_{kind}
  JOIN sh sa ON sa.doc_id = cand_{kind}.id_a
  JOIN sh sb ON sb.doc_id = cand_{kind}.id_b
)""")
        selects.append(
            f"SELECT '{kind}' AS order_kind, CAST(n_cand AS BIGINT) AS n_cand,\n"
            f"       CAST(n_verified AS BIGINT) AS n_verified FROM v_{kind}"
        )
    return head + "".join(blocks) + f"""
SELECT * FROM ({' UNION ALL '.join(selects)})
ORDER BY order_kind
"""


@register("dd22_prefix_order_drift", oracle=_dd22_oracle())
def dd22_prefix_order_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen-order prefix index's EFFICIENCY BILL, measured —
    the number a maintained prefix index must watch: dd21's join run
    under the corpus's own frequency order vs an order frozen from
    only the even-doc half.
    MEASURED at sf0.01: self 965 candidates, frozen-half 1454 (+51%)
    — and IDENTICAL verified pairs (25), because the prefix lemma's
    recall needs only a common total order, not the true frequencies.
    Drift costs candidates, never pairs; re-freeze and rebuild when
    this ratio drifts past the verification budget (the dd18
    operating-point discipline applied to a maintained index).

    Both runs share ONE shingle/explode pass; each is dd21's plan
    shape (rank window → rare-key equi-join → verify on candidate
    ids). DuckDB-hash-verified end-to-end."""
    from ..operators.dedup import (
        prefix_filter_candidates,
        verify_jaccard_candidates,
    )

    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    sh = docs.select(
        "doc_id", shingle_tokens(tokenize("text"), k=3).alias("shingles")
    ).localCheckpoint(eager=True)
    half_order = (
        sh.where(F.col("doc_id") % 2 == 0)
        .select(F.explode(F.array_distinct("shingles")).alias("_s"))
        .groupBy("_s")
        .agg(F.count(F.lit(1)).cast("long").alias("_df"))
    )
    sets = sh.select(
        F.col("doc_id").alias("_vid"),
        F.array_distinct(F.col("shingles")).alias("_vset"),
    ).localCheckpoint(eager=True)
    out = None
    for kind, order in (("frozen_half", half_order), ("self", None)):
        cand = prefix_filter_candidates(
            sh, "doc_id", "shingles", _DD21_T_MILLI, order=order
        ).localCheckpoint(eager=True)
        ver = verify_jaccard_candidates(cand, sets, _DD21_T_MILLI)
        row = (
            cand.agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
            .crossJoin(
                ver.agg(F.count(F.lit(1)).cast("long").alias("n_verified"))
            )
            .select(
                F.lit(kind).alias("order_kind"), "n_cand", "n_verified"
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("order_kind")


# ---------------------------------------------------------------------------
# dd23 — LSH-vs-exact GLOBAL recall audit: which blocking strategy this
# corpus actually needs, measured. Registered in OVERFLOW.
# ---------------------------------------------------------------------------

_DD23_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, {_TOKHASH_CTE_SQL} AS th FROM documents
), sh AS (
  SELECT doc_id, {_SHINGLES_FROM_TH_SQL} AS shingles FROM tk
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 32),
           i -> list_min(list_transform(shingles,
                  x -> (x * (2*i + 1234567) + (9876543 + 31*i)) % 1000000007))) AS sig
  FROM sh
), bands AS (
  SELECT doc_id, CAST(b AS BIGINT) AS band,
         array_to_string(list_slice(sig, b*4 + 1, b*4 + 4), '_') AS bucket
  FROM sig, unnest(range(0, 8)) AS u(b)
), lshp AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), e AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh
), dfq AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS dfn FROM e GROUP BY s
), sz AS (
  SELECT doc_id, CAST(len(shingles) AS BIGINT) AS sz FROM sh
), rk AS (
  SELECT e.doc_id, e.s,
         ROW_NUMBER() OVER (PARTITION BY e.doc_id
                            ORDER BY dfq.dfn, e.s) AS rn
  FROM e JOIN dfq USING (s)
), pref AS (
  SELECT rk.doc_id, rk.s FROM rk JOIN sz USING (doc_id)
  WHERE rn <= sz - (({_DD21_T_MILLI} * sz + 999) // 1000) + 1
), pcand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id
), v AS (
  SELECT id_a, id_b,
         CAST(len(list_filter(sa.shingles,
                  x -> list_contains(sb.shingles, x))) AS BIGINT) AS inter_n,
         CAST(len(sa.shingles) + len(sb.shingles)
              - len(list_filter(sa.shingles,
                    x -> list_contains(sb.shingles, x))) AS BIGINT) AS union_n
  FROM pcand
  JOIN sh sa ON sa.doc_id = pcand.id_a
  JOIN sh sb ON sb.doc_id = pcand.id_b
), truth AS (
  SELECT id_a, id_b, (inter_n * 1000) // union_n AS jac_milli
  FROM v WHERE inter_n * 1000 >= {_DD21_T_MILLI} * union_n
)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM truth)           AS n_true,
  (SELECT CAST(MIN(jac_milli) AS BIGINT) FROM truth)     AS j_min_milli,
  (SELECT CAST(MAX(jac_milli) AS BIGINT) FROM truth)     AS j_max_milli,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM lshp)            AS n_lsh_cand,
  (SELECT CAST(COUNT(*) AS BIGINT)
   FROM truth t JOIN lshp l USING (id_a, id_b))          AS n_lsh_found,
  (SELECT CAST(COUNT(*) AS BIGINT)
          * 1000 // (SELECT COUNT(*) FROM truth)
   FROM truth t JOIN lshp l USING (id_a, id_b))          AS lsh_recall_milli,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM pcand)           AS n_prefix_cand
"""


@register("dd23_lsh_global_recall", oracle=_DD23_ORACLE)
def dd23_lsh_global_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL LSH recall against the exact similarity-join truth — the
    audit dd18 could not run (its exact truth was slice-bounded; dd21
    makes the GLOBAL truth affordable): does dd03's production 8×4
    banding find every Jaccard ≥ 0.5 pair in the whole corpus?
    MEASURED at sf0.01: yes, 25/25 (recall 1000 milli) with only 27
    candidates — but the honest reading is the j_min/j_max columns,
    not the recall: every qualifying pair sits at J 0.900–0.989,
    where 8×4 banding catches ≥ 99.99%; the J ≈ 0.5 regime (where
    the same banding drops to P(candidate) = 1−(1−0.5⁴)⁸ ≈ 40%) is
    simply UNPOPULATED on this corpus. So the blocking trade is
    corpus-shaped and this row pins which side you're on: bimodal
    high-J near-dup corpora get LSH's 27 candidates (the prefix
    filter pays 965 for a guarantee it doesn't need here); corpora
    with borderline-J mass need dd21's certainty — dd18's 100%-recall
    findings were a property of THIS similarity profile, not of the
    operating points (the ss33-null-result discipline: measure per
    corpus, never assume).

    Every piece reuses its registered operator/oracle fragment (dd03's
    signature schedule, dd21's truth chain) — the composition adds one
    pair-key join and a handful of 1-row aggregates. All integers,
    DuckDB-hash-verified."""
    from ..operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
        prefix_filter_candidates,
        prefix_filter_pairs,
    )

    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    sh = docs.select(
        "doc_id", shingle_tokens(tokenize("text"), k=3).alias("shingles")
    ).localCheckpoint(eager=True)
    sigs = sh.select(
        "doc_id", minhash_signature(F.col("shingles"), num_hashes=32).alias("sig")
    )
    lshp = (
        lsh_candidate_pairs(sigs, "doc_id", "sig", bands=8, rows_per_band=4)
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
        )
        .localCheckpoint(eager=True)
    )
    truth = prefix_filter_pairs(
        sh, "doc_id", "shingles", t_milli=_DD21_T_MILLI
    ).localCheckpoint(eager=True)
    pcand = prefix_filter_candidates(
        sh, "doc_id", "shingles", t_milli=_DD21_T_MILLI
    )
    found = truth.join(lshp, ["id_a", "id_b"], "left_semi")
    n_true = truth.agg(
        F.count(F.lit(1)).cast("long").alias("n_true"),
        F.min("jac_milli").cast("long").alias("j_min_milli"),
        F.max("jac_milli").cast("long").alias("j_max_milli"),
    )
    return (
        n_true.crossJoin(
            lshp.agg(F.count(F.lit(1)).cast("long").alias("n_lsh_cand"))
        )
        .crossJoin(
            found.agg(F.count(F.lit(1)).cast("long").alias("n_lsh_found"))
        )
        .crossJoin(
            pcand.agg(F.count(F.lit(1)).cast("long").alias("n_prefix_cand"))
        )
        .select(
            "n_true",
            "j_min_milli",
            "j_max_milli",
            "n_lsh_cand",
            "n_lsh_found",
            F.expr(
                "CAST((n_lsh_found * 1000) DIV n_true AS BIGINT)"
            ).alias("lsh_recall_milli"),
            "n_prefix_cand",
        )
    )


# ---------------------------------------------------------------------------
# dd24 — degenerate-bucket skew audit: what LSH banding does when the
# corpus is near-identical, and what AQE does to the resulting join
# ---------------------------------------------------------------------------

# 75 % of docs collapse onto ONE identical text → one giant bucket per
# band; the rest get unique spiced texts → singleton buckets. The
# template is single-sourced into the Spark expression and the oracle.
_DD24_TEMPLATE = (
    "the quick brown fox jumps over the lazy dog again and again today"
)


def degenerate_documents(docs: DataFrame) -> DataFrame:
    """dd24's fixture: doc_id % 4 == 0 keeps a unique spiced text,
    everything else becomes the identical template — the
    near-identical-corpus shape (bulk-exported boilerplate, scraped
    mirror farms) that turns LSH banding's equi-join into a single
    degenerate key."""
    return docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("unique spice row "), F.col("doc_id").cast("string")),
        )
        .otherwise(F.lit(_DD24_TEMPLATE))
        .alias("text"),
    )


_DD24_ORACLE = f"""
WITH docs2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0
              THEN 'unique spice row ' || CAST(doc_id AS VARCHAR)
              ELSE '{_DD24_TEMPLATE}' END AS text
  FROM documents
), tk AS (
  SELECT doc_id, {_TOKHASH_CTE_SQL} AS th FROM docs2
), sh AS (
  SELECT doc_id, {_SHINGLES_FROM_TH_SQL} AS shingles FROM tk
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 32),
           i -> list_min(list_transform(shingles,
                  x -> (x * (2*i + 1234567) + (9876543 + 31*i)) % 1000000007))) AS sig
  FROM sh
), bands AS (
  SELECT doc_id, CAST(b AS BIGINT) AS band,
         array_to_string(list_slice(sig, b*4 + 1, b*4 + 4), '_') AS bucket
  FROM sig, unnest(range(0, 8)) AS u(b)
), bsz AS (
  SELECT band, bucket, COUNT(*) AS sz FROM bands GROUP BY band, bucket
), hist AS (
  SELECT CAST(sz AS BIGINT) AS bucket_size,
         CAST(COUNT(*) AS BIGINT) AS n_buckets
  FROM bsz GROUP BY sz
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs FROM pairs
)
SELECT h.bucket_size, h.n_buckets, t.n_candidate_pairs
FROM hist h CROSS JOIN tot t
ORDER BY h.bucket_size
"""


@register("dd24_degenerate_bucket_skew", oracle=_DD24_ORACLE)
def dd24_degenerate_bucket_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measurement behind lsh_candidate_pairs' skew note
    (operators/dedup.py:436-437 "AQE skew-join splits giant
    buckets"): a near-identical corpus (75 % of docs share ONE text)
    pushed through the exact dd03 MinHash/band pipeline, reporting
    the bucket-size distribution and the candidate-pair bill. At
    sf0.01 the histogram reads two rows — 1,000 singleton buckets and
    8 buckets of size 375 — and the 8 degenerate buckets alone
    generate all 70,125 candidate pairs: quadratic in the bucket, the
    shape AQE's skew-join exists for. The companion test
    (tests/test_plans.py) lowers the AQE skew thresholds to
    toy-scale, runs THIS join, and pins `SortMergeJoin(skew=true)` in
    the post-AQE executed plan — the runtime split actually engages,
    the join completes, and task skew is bounded by the advisory
    partition size rather than the bucket size.

    Two operational preconditions, DISCOVERED by this measurement
    (round 11) and now part of the operator's scale story: (a) AQE
    splits a skewed reducer partition at MAP-OUTPUT granularity — a
    single-partition upstream (one mapper) makes every reducer
    partition atomic and OptimizeSkewedJoin reports ZERO skewed
    partitions regardless of bucket size, so dd03's
    repartition(defaultParallelism) before signature hashing is what
    makes its buckets splittable at all; (b) detection is RELATIVE
    (factor × median partition size) — with shuffle partitions ≈ the
    count of degenerate buckets (8 here, one per band) the giants
    spread one-per-partition and the median IS the giant, so no
    partition reads as skewed; the reducer count must exceed the
    degenerate-key count for byte skew to be visible. At 100 TB both
    hold by default (thousands of mappers and reducers), but a
    pre-coalesced or single-file silver feeding the dedup join
    silently disables the insurance — the deploy note this query
    exists to pin.

    Plan shape: the pair join stays the banded equi-join on
    (_band, _bucket) — no cartesian; the histogram is two keyed
    aggregations over (band, bucket) rows; the 1-row pair count
    attaches via a broadcast cross join."""
    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    from ..operators.dedup import _banded

    deg = degenerate_documents(docs)
    shingled = deg.select(
        "doc_id", shingle_tokens(tokenize("text"), k=3).alias("shingles")
    )
    sigs = minhash_signatures(
        shingled, "doc_id", "shingles", num_hashes=32
    ).localCheckpoint(eager=True)
    hist = (
        _banded(sigs, "doc_id", "sig", bands=8, rows_per_band=4)
        .groupBy("_band", "_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
        .groupBy(F.col("sz").alias("bucket_size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_buckets"))
    )
    tot = lsh_candidate_pairs(
        sigs, "doc_id", "sig", bands=8, rows_per_band=4, eager=False
    ).agg(F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"))
    return hist.crossJoin(F.broadcast(tot)).orderBy("bucket_size")


# ---------------------------------------------------------------------------
# dd25 — CLASSIFIER-quality survivor selection: dd08's decision with the
# trained quality signal, plus the length-vs-classifier disagreement
# audit. Registered in OVERFLOW.
# ---------------------------------------------------------------------------


def _dd25_oracle() -> str:
    from ._classifier_sql import classifier_ctes

    return f"""
WITH RECURSIVE {MINHASH_CC_CTES}, {classifier_ctes()}, labeled AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
         d.n_chars, CAST(COALESCE(s.score, 0) AS BIGINT) AS score
  FROM documents d
  LEFT JOIN comp c ON d.doc_id = c.node
  LEFT JOIN sc s ON d.doc_id = s.doc_id
), ranked AS (
  SELECT component, doc_id, n_chars, score,
         ROW_NUMBER() OVER (PARTITION BY component
                            ORDER BY score DESC, doc_id ASC) AS rs,
         ROW_NUMBER() OVER (PARTITION BY component
                            ORDER BY n_chars DESC, doc_id ASC) AS rl
  FROM labeled
), agg AS (
  SELECT component,
         CAST(COUNT(*) AS BIGINT) AS cluster_size,
         MAX(score) AS survivor_score,
         MAX(CASE WHEN rs = 1 THEN doc_id END) AS survivor_id,
         MAX(CASE WHEN rl = 1 THEN doc_id END) AS length_pick_id
  FROM ranked GROUP BY component
)
SELECT component, survivor_id, survivor_score, cluster_size,
       length_pick_id, survivor_id <> length_pick_id AS picks_differ
FROM agg WHERE cluster_size >= 2
ORDER BY component
"""


@register("dd25_classifier_survivors", oracle=_dd25_oracle())
def dd25_classifier_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection with the TRAINED quality signal — dd08's
    decision upgraded from its length proxy to tx19's log-odds
    classifier score (what production keep-one-per-cluster actually
    ranks on: GPT-3-style classifier quality, not byte count), plus
    the audit column that justifies the upgrade: per near-dup cluster,
    does the classifier's pick DIFFER from the length pick? MEASURED
    at sf0.01: ALL 25 of 25 clusters pick a different survivor — the
    near-dups differ by only a few tokens, yet the classifier scores
    them apart (within-cluster score spread 1–2 points, measured
    distinct in every cluster) and NEVER lands on the longest member
    here. Length and learned quality are not interchangeable even on
    near-identical pairs, which is the number that decides whether
    re-running survivor selection after a classifier upgrade is worth
    a corpus pass.

    Composition: dd06's MinHash→LSH→connected-components clusters ×
    tx19's exact-integer classifier — Spark side reuses both
    operators; the oracle composes the MINHASH_CC_CTES and
    classifier_ctes fragments (no name collisions by construction,
    both single-sourced). Plan shape: the cluster labels and scores
    meet in ONE keyed aggregation (max_by twice over the component —
    partial-aggregated map-side; no window), singletons filtered by
    cluster_size."""
    from ..operators.dedup import (
        connected_components,
        minhash_signatures_kernel,
    )
    from ..operators.text import logodds_classifier

    docs = table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    sigs = minhash_signatures_kernel(docs, "doc_id", "text", num_hashes=32)
    pairs = lsh_candidate_pairs(sigs, "doc_id", "sig", bands=8, rows_per_band=4)
    comp = connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), "component"
    )
    scores = logodds_classifier(
        docs, "doc_id", "text", F.col("source").isin("src0", "src1")
    ).select("doc_id", F.col("score").cast("long").alias("score"))
    labeled = (
        docs.select("doc_id", "n_chars")
        .join(comp, "doc_id", "left")
        .join(scores, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
            "n_chars",
            F.coalesce(F.col("score"), F.lit(0).cast("long")).alias("score"),
        )
    )
    agg = labeled.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
        F.max("score").alias("survivor_score"),
        F.max_by(
            "doc_id", F.struct(F.col("score"), (-F.col("doc_id")).alias("nd"))
        ).alias("survivor_id"),
        F.max_by(
            "doc_id",
            F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nd")),
        ).alias("length_pick_id"),
    )
    return (
        agg.where(F.col("cluster_size") >= 2)
        .select(
            "component",
            "survivor_id",
            "survivor_score",
            "cluster_size",
            "length_pick_id",
            (F.col("survivor_id") != F.col("length_pick_id")).alias(
                "picks_differ"
            ),
        )
        .orderBy("component")
    )
