"""Text-analysis queries over `documents` (X11): token stats, quality
scoring, language-ID, fingerprinting, n-gram frequency.

Everything is exact integer / rational arithmetic replayable in DuckDB
(polynomial hashes, counts, single divisions) — full value-hash parity.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — needed at module scope so pandas_udf
# can evaluate stringified type hints (from __future__ import annotations)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.text import fingerprint, language_id, quality_score, token_count, tokenize
from . import register
from ._bm25_sql import (  # noqa: F401 — re-exported fragment twins
    _bm25_contrib_sql,
    _bm25_index_sql,
    _milli_log2_sql,
)

# ---------------------------------------------------------------------------
# tx07 — vectorized scalar pandas_udf (X12 UDF surface) — rows-only
# ---------------------------------------------------------------------------


@register("tx07_token_entropy_pandas", oracle=None)
def tx07_token_entropy_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution via an
    Arrow-vectorized ``@pandas_udf`` — the sanctioned shape for Python
    logic Spark functions can't express cheaply (a row-at-a-time
    ``F.udf`` would be 10–100× slower). Rows-only check: float
    summation order differs across engines."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def token_entropy(texts: pd.Series) -> pd.Series:
        import numpy as np

        def ent(t: str) -> float:
            counts = pd.Series(t.split(" ")).value_counts().to_numpy(dtype=np.float64)
            p = counts / counts.sum()
            return float(-(p * np.log(p)).sum())

        return texts.map(ent)

    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", token_entropy(F.col("text")).alias("entropy"))


# ---------------------------------------------------------------------------
# tx07b — integer Rényi-2 collision statistics via pandas_udf (the
# oracle-backed twin of tx07's float Shannon entropy)
# ---------------------------------------------------------------------------

_TX07B_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), cnt AS (
  SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(SUM(c * c) AS BIGINT) AS sum_sq,
       CAST(SUM(c * c) AS DOUBLE)
         / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)) AS collision
FROM cnt GROUP BY doc_id ORDER BY doc_id
"""


@register("tx07b_token_collision_pandas", oracle=_TX07B_ORACLE)
def tx07b_token_collision_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rényi-2 (collision) token-distribution statistics through the
    SAME Arrow-vectorized ``@pandas_udf`` surface tx07 demonstrates —
    but hash-pinnable: per document, token count ``n`` and the sum of
    squared per-token counts ``Σc²`` are exact integers (any engine
    agrees), and the collision probability ``Σc²/n²`` is ONE IEEE
    division of exactly-representable integers (the tx01 avg_tokens
    convention). Shannon entropy (tx07) needs a transcendental log and
    a float summation whose order differs across engines — collision
    probability carries the same repetition signal (it is exp(-H₂))
    with full DuckDB value-hash parity. Plan: map-only; the Python
    work is one pandas ``value_counts`` PER DOCUMENT inside each
    Arrow batch (token lists are ragged, so a whole-batch vectorized
    form would need an explode — the per-doc loop over an Arrow batch
    is still batch-amortized, never per-row Python UDF dispatch).
    NULL texts are dropped before the UDF — the oracle's
    ``unnest(string_split(NULL))`` yields no rows, so the doc vanishes
    from its output; the UDF additionally guards ``None`` with (0, 0)
    so it cannot crash if fed an unfiltered column elsewhere."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(
        T.StructType(
            [
                T.StructField("n_tokens", T.LongType()),
                T.StructField("sum_sq", T.LongType()),
            ]
        )
    )
    def collision_stats(texts: pd.Series) -> pd.DataFrame:
        import numpy as np

        n_out = np.empty(len(texts), dtype=np.int64)
        sq_out = np.empty(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            if t is None:
                n_out[i] = 0
                sq_out[i] = 0
                continue
            c = pd.Series(t.split(" ")).value_counts().to_numpy(dtype=np.int64)
            n_out[i] = int(c.sum())
            sq_out[i] = int((c * c).sum())
        return pd.DataFrame({"n_tokens": n_out, "sum_sq": sq_out})

    docs = table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    stats = docs.select(
        "doc_id", collision_stats(F.col("text")).alias("_s")
    ).select(
        "doc_id",
        F.col("_s.n_tokens").alias("n_tokens"),
        F.col("_s.sum_sq").alias("sum_sq"),
    )
    return stats.select(
        "doc_id",
        "n_tokens",
        "sum_sq",
        (
            F.col("sum_sq").cast("double")
            / (F.col("n_tokens").cast("double") * F.col("n_tokens").cast("double"))
        ).alias("collision"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# tx01 — token statistics per language
# ---------------------------------------------------------------------------

_TX01_ORACLE = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens,
       CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS DOUBLE)/COUNT(*) AS avg_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang
"""


@register("tx01_token_stats", oracle=_TX01_ORACLE)
def tx01_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace+BPE-ish token counting rolled up per language."""
    docs = table(spark, sf_dir, "documents")
    n = F.count(F.lit(1))
    toks = token_count("text")
    return docs.groupBy("lang").agg(
        n.alias("n_docs"),
        F.sum(toks).alias("total_tokens"),
        (F.sum(toks).cast("double") / n).alias("avg_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# tx02 — per-document quality score
# ---------------------------------------------------------------------------

_TX02_ORACLE = """
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN
             (least(CAST(len(string_split(text,' ')) AS DOUBLE), 200.0)/200.0)
             * greatest(0.0, 1.0 - abs(CAST(n_chars AS DOUBLE)/CAST(len(string_split(text,' ')) AS DOUBLE) - 5.0)/10.0)
             >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_quality
FROM documents
GROUP BY source
"""


@register("tx02_quality_by_source", oracle=_TX02_ORACLE)
def tx02_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/word-shape quality heuristic; per-source count of docs
    clearing the 0.5 bar. Threshold comparison avoids summing floats —
    the score itself is identical per-row in both engines."""
    docs = table(spark, sf_dir, "documents")
    score = quality_score("text", "n_chars")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(score >= 0.5, 1).otherwise(0)).cast("bigint").alias("n_high_quality"),
    )


# ---------------------------------------------------------------------------
# tx03 — language identification vs labeled lang
# ---------------------------------------------------------------------------

# Generated from operators.text.LANG_MARKERS — single implementation
# shared with the pipe09/pipe10/pipe11 flag fragment (_curation_sql.py).
from ._curation_sql import langid_case_sql as _langid_case_sql

_LANGID_SQL_EXPR = _langid_case_sql()

_TX03_ORACLE = f"""
SELECT pred_lang, lang, COUNT(*) AS n
FROM (SELECT lang, {_LANGID_SQL_EXPR} AS pred_lang FROM documents)
GROUP BY pred_lang, lang
"""


@register("tx03_language_id", oracle=_TX03_ORACLE)
def tx03_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID (priority en>es>de>fr on ties),
    confusion-matrix style rollup against the labeled lang column."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("lang", language_id("text").alias("pred_lang"))
        .groupBy("pred_lang", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# tx04 — document fingerprint (rolling hash)
# ---------------------------------------------------------------------------

_TX04_ORACLE = """
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS BIGINT))),
         (acc, x) -> (acc * 131 + x) % 1000000007
       ) AS fingerprint
FROM documents
"""


@register("tx04_fingerprint", oracle=_TX04_ORACLE)
def tx04_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint per document — the
    engine-portable content hash under exact dedup and MinHash."""
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fingerprint"))


# ---------------------------------------------------------------------------
# tx06 — TF-IDF (classic ln(N/df)), deterministic top terms
# ---------------------------------------------------------------------------

_TX06_ORACLE = """
WITH tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
), n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT doc_id, term,
       ROUND(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 4)
         AS tfidf
FROM tf JOIN df USING (term) CROSS JOIN n
ORDER BY tfidf DESC, doc_id, term
LIMIT 100
"""


@register("tx06_tfidf", oracle=_TX06_ORACLE)
def tx06_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: tf(term,doc) × ln(N/df). The tf⋈df join is left
    UNHINTED on purpose: df is the distinct-term dimension, which on a
    web-scale corpus is billions of terms — a forced broadcast would
    OOM. Unhinted, the term-key equi-join co-partitions both sides
    (df is produced partitioned by term; tf pays one shuffle from
    (doc_id, term) to term), and at small scale Catalyst/AQE still
    picks a broadcast from its own size estimate — the right strategy
    at each scale, chosen by the optimizer, not pinned by us. N is a
    1-row broadcast aggregate INSIDE the plan (no separate driver-side
    count job — one less Spark job and no collect on the hot path).
    ln() is rounded to 4 decimals for cross-engine hash parity (libm
    vs JVM log differ ≤1 ulp)."""
    docs = table(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    terms = docs.select("doc_id", F.explode(tokenize("text")).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    tfidf = F.round(
        F.col("tf").cast("double")
        * F.log(F.col("n_docs") / F.col("df").cast("double")),
        4,
    )
    return (
        tf.join(df, "term")
        .join(F.broadcast(n))
        .select("doc_id", "term", tfidf.alias("tfidf"))
        .orderBy(F.col("tfidf").desc(), F.col("doc_id"), F.col("term"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# tx05 — n-gram (bigram) frequency, deterministic top-20
# ---------------------------------------------------------------------------

_TX05_ORACLE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT concat(t[i], ' ', t[i+1]) AS bigram
  FROM toks, unnest(range(1, greatest(len(t), 1))) AS u(i)
)
SELECT bigram, COUNT(*) AS n
FROM grams
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 20
"""


def _bigram_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One 'bigram' column, exploded per doc — the SHARED input of
    tx05 (exact groupBy) and tx13 (certified heavy hitters). They
    share one oracle, so their streams must be one definition."""
    docs = table(spark, sf_dir, "documents")
    toks = tokenize("text")
    # sequence(1, 0) would generate a DESCENDING range — guard the
    # single-token case with an explicit empty array instead.
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(F.explode(bigrams).alias("bigram"))


@register("tx05_top_bigrams", oracle=_TX05_ORACLE)
def tx05_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency: per-row n-gram explode (narrow), one
    count shuffle, deterministic top-20."""
    return (
        _bigram_stream(spark, sf_dir)
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# tx13 — certified heavy hitters: tx05's answer via the scale path.
# Registered in the registry OVERFLOW section.
# ---------------------------------------------------------------------------


@register("tx13_heavy_hitters_certified", oracle=_TX05_ORACLE)
def tx13_heavy_hitters_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx05's EXACT top-20 bigrams, computed the way a web-scale
    corpus must: per-partition local top-k' (Arrow mapInPandas) →
    broadcast recount of the tiny candidate union → certification that
    no dropped item can reach the top-k (k-th count > Σ per-partition
    thresholds, raises otherwise). The full-distinct-item shuffle that
    tx05's groupBy pays — billions of keys on a real n-gram stream —
    never happens; only k'·partitions candidate rows move. Same oracle
    as tx05 because the certified answer is exact, not approximate."""
    from ..operators.sketch import certified_topk

    return certified_topk(_bigram_stream(spark, sf_dir), "bigram", k=20, local_k=1024)


# ---------------------------------------------------------------------------
# tx08 — BPE-ish regex token counting (subword classes, not whitespace)
# ---------------------------------------------------------------------------

_TX08_ORACLE = """
WITH t AS (
  SELECT doc_id, lang,
         regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0) AS toks
  FROM documents
)
SELECT lang,
       CAST(SUM(len(toks)) AS BIGINT) AS n_subwords,
       CAST(SUM(len(list_filter(toks, x -> regexp_matches(x, '^[0-9]+$')))) AS BIGINT)
         AS n_numeric,
       CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avg_subwords_per_doc
FROM t
GROUP BY lang
"""


@register("tx08_regex_subwords", oracle=_TX08_ORACLE)
def tx08_regex_subwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization: letter runs / digit runs / single
    punctuation via regexp_extract_all (the split shape GPT-2-family
    pre-tokenizers use, minus case folding). The character classes are
    plain ASCII so Java (Spark) and RE2-ish (DuckDB) regex engines
    agree. Narrow per-row map + one aggregate — no UDFs."""
    docs = table(spark, sf_dir, "documents")
    toks = F.expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)")
    n_sub = F.size(toks).cast("long")
    n_num = F.size(F.filter(toks, lambda x: x.rlike("^[0-9]+$"))).cast("long")
    return (
        docs.select("lang", n_sub.alias("_n"), n_num.alias("_d"))
        .groupBy("lang")
        .agg(
            F.sum("_n").alias("n_subwords"),
            F.sum("_d").alias("n_numeric"),
            (F.sum("_n").cast("double") / F.count(F.lit(1))).alias("avg_subwords_per_doc"),
        )
    )


# ---------------------------------------------------------------------------
# tx20 — deterministic BPE tokenizer training (iterative merge learning,
# every round replayed by the oracle). Registered in OVERFLOW.
# ---------------------------------------------------------------------------

_TX20_N_MERGES = 8
_TX20_TOP = 20


def _bpe_round_ctes(n_rounds: int) -> str:
    """The unrolled BPE merge rounds shared by every BPE oracle
    (tx20/tx21 word-level, tx20b/tx21b byte-level): each round is one
    adjacent-pair aggregate ``p{i}``, the deterministic argmax
    ``m{i}`` (cnt DESC, x, y), and the two-pass-replace vocabulary
    rewrite ``v{i+1}`` — replaying ``operators.text.bpe_train``
    exactly, starting from whatever ``v0`` the caller prepends.

    Every ``v{{i+1}}`` is ``AS MATERIALIZED``: each round references
    its predecessor twice (through the pair aggregate and through the
    rewrite), so DuckDB's default CTE inlining makes the plan tree
    grow 2^rounds — 8 rounds (tx20) merely wasted work, 17 rounds
    (tx20b) exhausted the process's file descriptors re-opening the
    corpus parquet ~2^17 times. Materializing pins each round to one
    evaluation, the exact analogue of the Spark side's per-round
    localCheckpoint.

    The rewrite joins ``LEFT JOIN m{{i}} ON TRUE`` with a COALESCE
    fallback, not CROSS JOIN: on a pair-EXHAUSTED round (no adjacent
    pairs anywhere — every word fully merged) ``m{{i}}`` is empty, and
    a cross join would silently EMPTY the vocabulary where the Spark
    loop ``break``s and keeps it; the left join carries the vocab
    forward unchanged, the same fixpoint. Composed oracles over small
    curated subsets (pipe14) sit much closer to exhaustion than the
    full-corpus chains. Mirror-tested against bpe_train on an
    exhausting corpus in tests/test_operators.py."""
    parts = []
    for i in range(n_rounds):
        parts.append(f""", p{i} AS (
  SELECT s[j] AS x, s[j+1] AS y, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (SELECT string_split(trim(rep), ' ') AS s, freq FROM v{i}) r,
       UNNEST(range(1, len(s))) AS t(j)
  GROUP BY x, y
), m{i} AS (
  SELECT x, y, cnt FROM p{i} ORDER BY cnt DESC, x, y LIMIT 1
), v{i + 1} AS MATERIALIZED (
  SELECT COALESCE(
           replace(replace(v.rep,
                           ' ' || m.x || ' ' || m.y || ' ',
                           ' ' || m.x || m.y || ' '),
                   ' ' || m.x || ' ' || m.y || ' ',
                   ' ' || m.x || m.y || ' '),
           v.rep) AS rep, v.freq
  FROM v{i} v LEFT JOIN m{i} m ON TRUE
)""")
    return "".join(parts)


def _tx20_ctes(source: str = "documents") -> str:
    """Shared tx20/tx21 oracle fragment: word vocab + all unrolled BPE
    merge rounds, ending in the final vocabulary ``v{N}`` and the
    per-round argmax CTEs ``m0..m{N-1}`` — train and encode verify the
    same learned merges (the `_kmeans_sql` single-implementation
    rule). ``source`` names the (doc_id, text) relation the word vocab
    reads — a CTE name for composed oracles (pipe14 trains on the
    curated ``kept_docs``), the raw table by default; a PARAMETER, not
    caller-side string surgery on the fragment."""
    head = f"""w AS (
  SELECT lower(t) AS word FROM (
    SELECT unnest(regexp_extract_all(text, '[a-zA-Z]+', 0)) AS t
    FROM {source})
), v0 AS (
  SELECT ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS rep,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM w GROUP BY word
)"""
    return head + _bpe_round_ctes(_TX20_N_MERGES)


def _tx20_oracle() -> str:
    n = _TX20_N_MERGES
    merge_rows = "\nUNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS step, x, y, cnt FROM m{i}"
        for i in range(n)
    )
    return f"""WITH {_tx20_ctes()}
, toks AS (
  SELECT s[j] AS token, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (SELECT string_split(trim(rep), ' ') AS s, freq FROM v{n}) r,
       UNNEST(range(1, len(s) + 1)) AS t(j)
  GROUP BY token
), toprows AS (
  SELECT CAST(-1 AS BIGINT) AS step, token AS x, '' AS y, cnt
  FROM toks ORDER BY cnt DESC, token LIMIT {_TX20_TOP}
)
{merge_rows}
UNION ALL SELECT * FROM toprows
ORDER BY step, cnt DESC, x, y"""


@register("tx20_bpe_train", oracle=_tx20_oracle())
def tx20_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BPE tokenizer training (Sennrich et al. 2016) —
    iterative pair-merge learning as a driver-coordinated DataFrame
    loop, the k-means of text: each of the 8 rounds is one
    (adjacent-pair → summed word frequency) partial aggregation, a
    deterministic argmax (cnt DESC, pair ASC), and a map-only vocab
    rewrite via two-pass literal replace (the PINNED deterministic
    spec shared with the oracle: == canonical left-to-right merge for
    x != y and for x == y runs < 5; longer self-pair runs diverge
    from Sennrich LTR — see operators/text.py bpe_merge_word; train
    and encode share the spec, so the tokenizer is self-consistent).
    The oracle replays ALL unrolled rounds in
    SQL (the queries/_kmeans_sql.py pattern), so the learned merge
    table — not just the end state — is hash-pinned. Output: rows
    (step 0..7, x, y, cnt) = the merge table in learned order, plus
    (step -1, token, '', cnt) = the top-20 final-vocabulary token
    counts. Scale: the corpus is scanned once into a distinct-word
    vocab; per round only k-pair partial-agg rows shuffle and ONE row
    reaches the driver (operators/text.py bpe_train docstring)."""
    from ..operators.text import bpe_train

    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.expr("regexp_extract_all(text, '[a-zA-Z]+', 0)")
        ).alias("t")
    ).select(F.lower(F.col("t")).alias("word"))
    # Words are [a-z]+ post-lower, so '[a-z]' char extraction is the
    # split-to-chars form that agrees with DuckDB's string_split(w, '')
    # (F.split(w, '') keeps a trailing empty token under Java's
    # limit=-1 semantics — not usable here).
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .select(
            F.concat(
                F.lit(" "),
                F.array_join(F.expr("regexp_extract_all(word, '[a-z]', 0)"), " "),
                F.lit(" "),
            ).alias("rep"),
            "freq",
        )
    )
    merges, final_v = bpe_train(vocab, "rep", "freq", n_merges=_TX20_N_MERGES)
    merge_df = spark.createDataFrame(
        [(i, x, y, c) for i, (x, y, c) in enumerate(merges)],
        "step long, x string, y string, cnt long",
    )
    toks = (
        final_v.select(
            F.explode(F.split(F.trim(F.col("rep")), " ")).alias("x"), "freq"
        )
        .groupBy("x")
        .agg(F.sum("freq").alias("cnt"))
    )
    toprows = (
        toks.orderBy(F.col("cnt").desc(), F.col("x").asc())
        .limit(_TX20_TOP)
        .select(
            F.lit(-1).cast("long").alias("step"),
            "x",
            F.lit("").alias("y"),
            "cnt",
        )
    )
    return merge_df.unionByName(toprows).orderBy(
        "step", F.col("cnt").desc(), "x", "y"
    )


# ---------------------------------------------------------------------------
# tx21 — BPE encode: apply tx20's learned merges to the corpus and
# report per-source tokenization statistics. Registered in OVERFLOW.
# ---------------------------------------------------------------------------


def _tx21_oracle() -> str:
    n = _TX20_N_MERGES
    return f"""WITH {_tx20_ctes()}
, wmap AS (
  SELECT replace(rep, ' ', '') AS word,
         CAST(len(string_split(trim(rep), ' ')) AS BIGINT) AS n_sub
  FROM v{n}
), dw AS (
  SELECT source, lower(t) AS word FROM (
    SELECT source, unnest(regexp_extract_all(text, '[a-zA-Z]+', 0)) AS t
    FROM documents)
)
SELECT source,
       COUNT(*) AS n_words,
       CAST(SUM(len(word)) AS BIGINT) AS n_chars,
       CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
       CAST(SUM(n_sub) AS DOUBLE) / COUNT(*) AS subwords_per_word,
       CAST(SUM(len(word)) AS DOUBLE)
         / CAST(SUM(n_sub) AS DOUBLE) AS chars_per_subword
FROM dw JOIN wmap USING (word)
GROUP BY source ORDER BY source"""


@register("tx21_bpe_encode", oracle=_tx21_oracle())
def tx21_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING — the apply half of the tokenizer story: tx20's
    learned merges apply to the corpus and the per-source tokenization
    statistics (subwords/word fertility, chars/subword compression)
    come out hash-pinned, sharing tx20's oracle fragment so train and
    encode verify the same merge table. The encode map derives from
    the final vocabulary itself (word = rep minus spaces — no word
    column threads through the rounds), and encoding is ONE
    word-equi-join + a per-source partial aggregate: at corpus scale
    the vocab map is millions of rows against trillions of word
    occurrences — a broadcast when it fits, a token equi-join
    otherwise, map-side-combined either way. Single IEEE divisions of
    exact integer sums (the tx01 convention) keep the two ratio
    columns hash-eligible."""
    from ..operators.text import bpe_train, bpe_vocab_map

    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.explode(
            F.expr("regexp_extract_all(text, '[a-zA-Z]+', 0)")
        ).alias("t"),
    ).select("source", F.lower(F.col("t")).alias("word"))
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .select(
            F.concat(
                F.lit(" "),
                F.array_join(F.expr("regexp_extract_all(word, '[a-z]', 0)"), " "),
                F.lit(" "),
            ).alias("rep"),
            "freq",
        )
    )
    _, final_v = bpe_train(vocab, "rep", "freq", n_merges=_TX20_N_MERGES)
    wmap = bpe_vocab_map(final_v).select("word", "n_sub")
    return (
        words.join(wmap, on="word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
            F.sum("n_sub").alias("n_subwords"),
            (
                F.sum("n_sub").cast("double") / F.count(F.lit(1))
            ).alias("subwords_per_word"),
            (
                F.sum(F.length("word")).cast("double")
                / F.sum("n_sub").cast("double")
            ).alias("chars_per_subword"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# tx20b — BYTE-level BPE training (GPT-2 style): byte init vocab +
# vocab-size-driven stop. Registered in OVERFLOW.
# ---------------------------------------------------------------------------

# GPT-2-style target alphabet size: init symbols are the DISTINCT
# UTF-8 bytes present in the pre-tokenized corpus (24 at the sf0.01
# gate), training runs until the alphabet reaches 36 symbols.
_TX20B_VOCAB_SIZE = 36
# The MEASURED number of merge rounds the vocab-size stop executes at
# the sf0.01 gate (a merge adds at most one symbol but can also REMOVE
# exhausted symbols, so rounds > vocab_size - init_size: 17 > 36 - 24).
# Both the registered queries AND the unrolled oracle train exactly
# this many rounds — a data-dependent stop cannot be replayed by
# static SQL, and parity checks run at MULTIPLE scale factors where
# the stop would diverge (sf0.001 stops earlier; found by the sf0.001
# pytest parity sweep). tests/test_operators.py re-derives this count
# from the live stop rule at the gate corpus so the pin fails loudly
# when stale.
_TX20B_ROUNDS = 17
_TX20B_CAP = 64  # bpe_train safety cap when the stop rule drives


def _tx20b_ctes() -> str:
    """Shared tx20b/tx21b oracle fragment: GPT-2-style byte-level
    ``v0`` — pre-tokenize with the tx08 word shape (letter runs /
    digit runs / single punctuation, NO lowercasing), then represent
    each word as its UTF-8 bytes, one two-hex-digit symbol per byte
    (both engines emit uppercase hex; merged symbols concatenate to
    4, 6, ... hex digits, unambiguous at fixed width) — plus the
    ``_TX20B_ROUNDS`` unrolled merge rounds."""
    head = """w AS (
  SELECT t AS word FROM (
    SELECT unnest(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)) AS t
    FROM documents)
), v0 AS (
  SELECT ' ' || array_to_string(regexp_extract_all(hex(encode(word)), '..'), ' ') || ' ' AS rep,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM w GROUP BY word
)"""
    return head + _bpe_round_ctes(_TX20B_ROUNDS)


def _sym_count_cte(name: str, v: str) -> str:
    """CTE counting DISTINCT symbols of a vocabulary ``v`` — the
    alphabet-size accounting the vocab-size stop is judged by."""
    return f"""{name} AS (
  SELECT CAST(COUNT(DISTINCT s[j]) AS BIGINT) AS c
  FROM (SELECT string_split(trim(rep), ' ') AS s FROM {v}) r,
       UNNEST(range(1, len(s) + 1)) AS t(j)
)"""


def _tx20b_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The byte-level word vocabulary (sentinel-spaced hex-pair rep +
    frequency) — shared by tx20b, tx21b and the live stop-rule
    cross-check in tests/test_operators.py (one construction, no
    drift)."""
    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.expr(
                "regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)"
            )
        ).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .select(
            F.concat(
                F.lit(" "),
                F.array_join(
                    F.expr(
                        "regexp_extract_all(hex(encode(word, 'UTF-8')), '..', 0)"
                    ),
                    " ",
                ),
                F.lit(" "),
            ).alias("rep"),
            "freq",
        )
    )


def _tx20b_oracle() -> str:
    n = _TX20B_ROUNDS
    merge_rows = "\nUNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS step, x, y, cnt FROM m{i}"
        for i in range(n)
    )
    return f"""WITH {_tx20b_ctes()}
, toks AS (
  SELECT s[j] AS token, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (SELECT string_split(trim(rep), ' ') AS s, freq FROM v{n}) r,
       UNNEST(range(1, len(s) + 1)) AS t(j)
  GROUP BY token
), toprows AS (
  SELECT CAST(-1 AS BIGINT) AS step, token AS x, '' AS y, cnt
  FROM toks ORDER BY cnt DESC, token LIMIT {_TX20_TOP}
), {_sym_count_cte('isym', 'v0')}, {_sym_count_cte('fsym', f'v{n}')}
SELECT CAST(-2 AS BIGINT) AS step, 'init_symbols' AS x, '' AS y, c AS cnt FROM isym
UNION ALL SELECT CAST(-2 AS BIGINT), 'final_symbols', '', c FROM fsym
UNION ALL {merge_rows}
UNION ALL SELECT * FROM toprows
ORDER BY step, cnt DESC, x, y"""


@register("tx20b_bpe_train_bytes", oracle=_tx20b_oracle())
def tx20b_bpe_train_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-level BPE training, GPT-2 style (Radford et al. 2019):
    the init vocabulary is the corpus's distinct UTF-8 BYTES (each a
    two-hex-digit symbol — no unknown-token problem, any input is
    representable), pre-tokenization is tx08's GPT-2-ish word shape
    (letter runs / digit runs / single punctuation, case preserved),
    sized by the vocab-size-driven stop real tokenizers use: at the
    sf0.01 GATE corpus, ``bpe_train(vocab_size=_TX20B_VOCAB_SIZE)``
    stops after exactly ``_TX20B_ROUNDS`` merges (data-dependent —
    merges can also REMOVE exhausted symbols, so 17 rounds for +12
    alphabet growth). The registered query then trains with THAT
    pinned round count — an unrolled-CTE oracle cannot replay a
    data-dependent stop, and the driver/pytest parity checks run at
    different scale factors where the stop would diverge (found the
    hard way: sf0.001 stops earlier, and the round-count mismatch
    broke sf0.001 parity). The stop rule itself is exercised LIVE at
    the gate corpus in tests/test_operators.py, which re-derives the
    round count from vocab_size and fails loudly if the pin goes
    stale. Output adds step -2 alphabet-accounting rows (init/final
    distinct-symbol counts) to tx20's merge-table + top-20 shape.
    Same scale shape as tx20: the corpus is scanned once into a
    distinct-word vocab; per round one pair partial-agg + one argmax
    row to the driver + a map-only rewrite."""
    from ..operators.text import bpe_train

    vocab = _tx20b_vocab(spark, sf_dir)
    merges, final_v = bpe_train(vocab, "rep", "freq", n_merges=_TX20B_ROUNDS)
    merge_df = spark.createDataFrame(
        [(i, x, y, c) for i, (x, y, c) in enumerate(merges)],
        "step long, x string, y string, cnt long",
    )
    toks = (
        final_v.select(
            F.explode(F.split(F.trim(F.col("rep")), " ")).alias("x"), "freq"
        )
        .groupBy("x")
        .agg(F.sum("freq").alias("cnt"))
    )
    toprows = (
        toks.orderBy(F.col("cnt").desc(), F.col("x").asc())
        .limit(_TX20_TOP)
        .select(
            F.lit(-1).cast("long").alias("step"),
            "x",
            F.lit("").alias("y"),
            "cnt",
        )
    )

    def _sym_count(v, label):
        return (
            v.select(F.explode(F.split(F.trim(F.col("rep")), " ")).alias("s"))
            .agg(F.countDistinct("s").cast("long").alias("cnt"))
            .select(
                F.lit(-2).cast("long").alias("step"),
                F.lit(label).alias("x"),
                F.lit("").alias("y"),
                "cnt",
            )
        )

    return (
        _sym_count(vocab, "init_symbols")
        .unionByName(_sym_count(final_v, "final_symbols"))
        .unionByName(merge_df)
        .unionByName(toprows)
        .orderBy("step", F.col("cnt").desc(), "x", "y")
    )


# ---------------------------------------------------------------------------
# tx21b — encode over the byte-level vocabulary. Registered in OVERFLOW.
# ---------------------------------------------------------------------------


def _tx21b_oracle() -> str:
    n = _TX20B_ROUNDS
    return f"""WITH {_tx20b_ctes()}
, wmap AS (
  SELECT replace(rep, ' ', '') AS hword,
         CAST(len(string_split(trim(rep), ' ')) AS BIGINT) AS n_sub
  FROM v{n}
), dw AS (
  SELECT source, hex(encode(t)) AS hword FROM (
    SELECT source,
           unnest(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)) AS t
    FROM documents)
)
SELECT source,
       COUNT(*) AS n_words,
       CAST(SUM(len(hword) // 2) AS BIGINT) AS n_bytes,
       CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
       CAST(SUM(n_sub) AS DOUBLE) / COUNT(*) AS subwords_per_word,
       CAST(SUM(len(hword) // 2) AS DOUBLE)
         / CAST(SUM(n_sub) AS DOUBLE) AS bytes_per_subword
FROM dw JOIN wmap USING (hword)
GROUP BY source ORDER BY source"""


@register("tx21b_bpe_encode_bytes", oracle=_tx21b_oracle())
def tx21b_bpe_encode_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode with tx20b's BYTE-level vocabulary: per-source fertility
    (subwords/word) and compression (bytes/subword), sharing tx20b's
    oracle fragment so train and encode verify the same learned
    merges. The encode map keys on the word's HEX byte string (the
    byte-level rep minus spaces IS hex(word) — bpe_vocab_map's
    word-recovery property, byte flavor), so the corpus side is one
    hex(encode(word)) map + the same word-equi-join + per-source
    partial aggregate as tx21. All ratio columns are single IEEE
    divisions of exact integer sums (the tx01 convention)."""
    from ..operators.text import bpe_train, bpe_vocab_map

    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.explode(
            F.expr(
                "regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)"
            )
        ).alias("word"),
    ).select(
        "source", F.hex(F.encode(F.col("word"), "UTF-8")).alias("hword")
    )
    vocab = (
        words.groupBy("hword")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .select(
            F.concat(
                F.lit(" "),
                F.array_join(F.expr("regexp_extract_all(hword, '..', 0)"), " "),
                F.lit(" "),
            ).alias("rep"),
            "freq",
        )
    )
    _, final_v = bpe_train(vocab, "rep", "freq", n_merges=_TX20B_ROUNDS)
    wmap = bpe_vocab_map(final_v).select(
        F.col("word").alias("hword"), "n_sub"
    )
    n_bytes = (F.length("hword") / 2).cast("long")
    return (
        words.join(wmap, on="hword")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(n_bytes).cast("long").alias("n_bytes"),
            F.sum("n_sub").alias("n_subwords"),
            (
                F.sum("n_sub").cast("double") / F.count(F.lit(1))
            ).alias("subwords_per_word"),
            (
                F.sum(n_bytes).cast("double") / F.sum("n_sub").cast("double")
            ).alias("bytes_per_subword"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# tx09 — posexplode (generator with position): leading-token stats
# ---------------------------------------------------------------------------

_TX09_ORACLE = """
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents)
SELECT CAST(i AS BIGINT) - 1 AS pos, t[i] AS term, COUNT(*) AS n
FROM toks, unnest(range(1, least(len(t), 3) + 1)) AS u(i)
GROUP BY pos, term
ORDER BY n DESC, pos, term
LIMIT 20
"""


@register("tx09_leading_tokens", oracle=_TX09_ORACLE)
def tx09_leading_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator-with-ordinality surface: posexplode emits (position,
    token) pairs — the UDTF shape — and the per-row limit keeps the
    fan-out bounded (3 rows/doc, not |tokens|). Deterministic top-20."""
    docs = table(spark, sf_dir, "documents")
    toks = F.slice(tokenize("text"), 1, 3)
    return (
        docs.select(F.posexplode(toks).alias("_p", "term"))
        .select(F.col("_p").cast("long").alias("pos"), "term")
        .groupBy("pos", "term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pos"), F.col("term"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# tx10 — stopword & punctuation shares per language (exact ratios)
# ---------------------------------------------------------------------------

_TX10_ORACLE = """
SELECT lang,
       CAST(SUM(CAST(len(list_filter(string_split(text, ' '),
             t -> t IN ('the','and','of','to','is'))) AS BIGINT)) AS DOUBLE)
         / SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS stopword_share,
       CAST(SUM(CAST(len(list_filter(string_split(text, ''),
             ch -> ch IN ('.', ',', '!', '?', ';', ':'))) AS BIGINT)) AS DOUBLE)
         / SUM(CAST(n_chars AS BIGINT)) AS punct_share
FROM documents
GROUP BY lang
"""


@register("tx10_stopword_punct_shares", oracle=_TX10_ORACLE)
def tx10_stopword_punct_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-quality ratios the Gopher-style filters use: per-language
    stopword share (English marker set) and punctuation share. Ratios
    are exact-integer sums with ONE final division — no per-row float
    aggregation, so both engines agree bit-for-bit."""
    docs = table(spark, sf_dir, "documents")
    toks = tokenize("text")
    stop = F.size(
        F.filter(toks, lambda t: t.isin("the", "and", "of", "to", "is"))
    ).cast("long")
    punct = F.size(
        F.filter(
            F.split(F.col("text"), ""),
            lambda ch: ch.isin(".", ",", "!", "?", ";", ":"),
        )
    ).cast("long")
    return (
        docs.select("lang", stop.alias("_s"), F.size(toks).cast("long").alias("_t"),
                    punct.alias("_p"), F.col("n_chars").cast("long").alias("_c"))
        .groupBy("lang")
        .agg(
            (F.sum("_s").cast("double") / F.sum("_t")).alias("stopword_share"),
            (F.sum("_p").cast("double") / F.sum("_c")).alias("punct_share"),
        )
    )


# ---------------------------------------------------------------------------
# tx11 — within-document repetition ratio (Gopher repetition signal).
# OVERFLOW-registered: the 50-entry sweep window is full.
# ---------------------------------------------------------------------------

_TX11_ORACLE = """
WITH tk AS (
  SELECT doc_id,
         list_transform(string_split(text,' '),
           t -> list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(t, ''), ch -> CAST(ascii(ch) AS BIGINT))),
                  (acc, x) -> (acc * 131 + x) % 1000000007)) AS th
  FROM documents
), bi AS (
  SELECT doc_id,
         CAST(greatest(len(th) - 1, 0) AS BIGINT) AS n_bigrams,
         CAST(len(list_distinct(
           list_transform(range(1, greatest(len(th) - 1, 0) + 1),
                          i -> (th[i] * 131 + th[i+1]) % 1000000007))) AS BIGINT)
           AS n_distinct
  FROM tk
)
SELECT doc_id, n_bigrams, n_distinct,
       CASE WHEN n_bigrams > 0
            THEN 1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
            ELSE 0.0 END AS dup_ratio
FROM bi
"""


@register("tx11_repetition_ratio", oracle=_TX11_ORACLE)
def tx11_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetitive-text signal: the fraction of duplicated
    token bigrams within each document (1 - distinct/total). Degenerate
    generated text scores high and gets filtered before training. Pure
    per-row expression — map-only at any scale; exact-int counts, one
    final double division for engine parity."""
    from ..functions import POLY_BASE, POLY_P, token_poly_hash
    from ..operators.text import tokenize

    th = token_poly_hash(tokenize("text"))
    n = F.size(th)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: (F.element_at(th, i) * F.lit(POLY_BASE) + F.element_at(th, i + 1))
            % F.lit(POLY_P),
        ),
    ).otherwise(F.array().cast("array<long>"))
    docs = table(spark, sf_dir, "documents")
    out = docs.select(
        "doc_id",
        F.greatest(n - 1, F.lit(0)).cast("long").alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).cast("long").alias("n_distinct"),
    )
    return out.withColumn(
        "dup_ratio",
        F.when(
            F.col("n_bigrams") > 0,
            F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_bigrams").cast("double"),
        ).otherwise(F.lit(0.0)),
    )


# ---------------------------------------------------------------------------
# tx12 — Gopher composite quality gate with per-rule drop metrics.
# OVERFLOW-registered: the 50-entry sweep window is full.
# ---------------------------------------------------------------------------

_TX12_ORACLE = """
WITH w AS (
  SELECT source, string_split(text, ' ') AS w FROM documents
), m AS (
  SELECT source,
         CAST(len(w) AS BIGINT) AS nw,
         CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS wlen,
         CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS nalpha,
         CAST(len(list_filter(w, x -> x IN
           ('the','and','of','to','is','el','la','los','que','de',
            'der','die','das','und','ist','le','les','et','est','une'))) AS BIGINT) AS nstop,
         list_transform(w, t -> list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(t, ''), ch -> CAST(ascii(ch) AS BIGINT))),
           (a, x) -> (a * 131 + x) % 1000000007)) AS th
  FROM w
), b AS (
  SELECT source, nw, wlen, nalpha, nstop,
         CAST(greatest(len(th) - 1, 0) AS BIGINT) AS nb,
         CAST(len(list_distinct(
           list_transform(range(1, greatest(len(th) - 1, 0) + 1),
                          i -> (th[i] * 131 + th[i+1]) % 1000000007))) AS BIGINT) AS nd
  FROM m
), r AS (
  SELECT source,
         (nw >= 30) AS ok_min_words,
         (4 * nw <= wlen AND wlen <= 12 * nw) AS ok_mean_word_len,
         (100 * nalpha >= 80 * nw) AS ok_alpha_words,
         (nstop >= 1) AS ok_stopwords,
         (100 * (nb - nd) <= 8 * nb) AS ok_repetition
  FROM b
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN ok_min_words AND ok_mean_word_len AND ok_alpha_words
                      AND ok_stopwords AND ok_repetition THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass,
       CAST(SUM(CASE WHEN ok_min_words THEN 0 ELSE 1 END) AS BIGINT) AS fail_min_words,
       CAST(SUM(CASE WHEN ok_mean_word_len THEN 0 ELSE 1 END) AS BIGINT) AS fail_mean_word_len,
       CAST(SUM(CASE WHEN ok_alpha_words THEN 0 ELSE 1 END) AS BIGINT) AS fail_alpha_words,
       CAST(SUM(CASE WHEN ok_stopwords THEN 0 ELSE 1 END) AS BIGINT) AS fail_stopwords,
       CAST(SUM(CASE WHEN ok_repetition THEN 0 ELSE 1 END) AS BIGINT) AS fail_repetition
FROM r
GROUP BY source
"""


@register("tx12_gopher_quality_gate", oracle=_TX12_ORACLE)
def tx12_gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality gate (operators.text.gopher_rules)
    rolled up per source: docs passing ALL rules plus per-rule fail
    counts — the expect_all_or_drop metrics shape (reference
    02_silver_processing.py:139-141) applied to corpus curation.
    Integer-exact rule evaluation (cross-multiplied ratios), map-only
    until the final per-source aggregate."""
    from ..operators.text import gopher_rules

    docs = table(spark, sf_dir, "documents")
    rules = gopher_rules("text")
    flagged = docs.select(
        "source", *(cond.alias(name) for name, cond in rules.items())
    )
    all_ok = F.lit(True)
    for name in rules:
        all_ok = all_ok & F.col(name)
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(all_ok, 1).otherwise(0)).cast("bigint").alias("n_pass"),
    ]
    for name in rules:
        aggs.append(
            F.sum(F.when(F.col(name), 0).otherwise(1))
            .cast("bigint")
            .alias(name.replace("ok_", "fail_"))
        )
    return flagged.groupBy("source").agg(*aggs)


# ---------------------------------------------------------------------------
# tx14 — C4-style chunk-level quality filter (line rules, per source)
# ---------------------------------------------------------------------------

_TX14_KEEP_SQL = """
  len(string_split(ch, ' ')) >= 5
  AND 2 * len(list_distinct(string_split(ch, ' '))) >= len(string_split(ch, ' '))
  AND len(list_filter(string_split(ch, ' '), t -> t IN ('the', 'a'))) >= 1
"""

_TX14_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents
), chunked AS (
  SELECT doc_id, source,
         list_transform(range(0, CAST(ceil(len(ts)/12.0) AS BIGINT)),
                        i -> array_to_string(ts[(i*12+1):(i*12+12)], ' ')) AS chunks
  FROM toks
), flags AS (
  SELECT source, len(chunks) AS n_chunks,
         len(list_filter(chunks, ch -> {_TX14_KEEP_SQL})) AS n_kept
  FROM chunked
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
       CAST(sum(n_kept) AS BIGINT) AS n_kept,
       CAST(sum(n_kept) AS DOUBLE) / CAST(sum(n_chunks) AS DOUBLE) AS kept_ratio
FROM flags
GROUP BY source
"""


@register("tx14_chunk_quality", oracle=_TX14_ORACLE)
def tx14_chunk_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style LINE-level cleaning rules, applied to the corpus's
    12-token chunk analog of lines: a chunk survives if it has >= 5
    tokens, >= 50% distinct tokens, and contains a stopword ('the' /
    'a' — the terminal-punctuation analog for a punctuation-free
    corpus). Per-source keep ratios. Entirely per-row array exprs over
    the un-exploded chunk array — map-only until the tiny final
    groupBy; exact integer counts, one final division."""
    from ..operators.dedup import chunk_split

    docs = table(spark, sf_dir, "documents")
    chunks = chunk_split("text", 12)

    def keep(ch):
        toks = F.split(ch, " ")
        return (
            (F.size(toks) >= F.lit(5))
            & (F.size(F.array_distinct(toks)) * 2 >= F.size(toks))
            & F.arrays_overlap(toks, F.array(F.lit("the"), F.lit("a")))
        )

    per_doc = docs.select(
        "source",
        F.size(chunks).cast("long").alias("n_chunks"),
        F.size(F.filter(chunks, keep)).cast("long").alias("n_kept"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chunks").cast("bigint").alias("n_chunks"),
        F.sum("n_kept").cast("bigint").alias("n_kept"),
        (F.sum("n_kept").cast("double") / F.sum("n_chunks").cast("double")).alias(
            "kept_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# tx15 — PII redaction (regex scrub with exact match counts)
# ---------------------------------------------------------------------------

# The synthetic corpus carries no real PII, so both engines append the
# SAME deterministic contact suffix (derived from doc_id) before
# scrubbing — the redaction then does real, verifiable work on every
# row instead of passing vacuously.
_TX15_ORACLE = r"""
WITH contact AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or call +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@example.org' ELSE '' END
           AS raw
  FROM documents
), scrub AS (
  SELECT doc_id, raw,
         CAST(len(regexp_extract_all(raw, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT)
           AS n_emails,
         regexp_replace(raw, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g') AS no_email
  FROM contact
)
SELECT doc_id, n_emails,
       CAST(len(regexp_extract_all(no_email, '\+1-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
       regexp_replace(no_email, '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
FROM scrub
"""


@register("tx15_pii_redaction", oracle=_TX15_ORACLE)
def tx15_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII scrub (emails, then phones) with exact per-row match
    counts, over a deterministically synthesized contact suffix. Pure
    ``regexp_extract_all``/``regexp_replace`` Catalyst — map-only, no
    shuffle, codegen-resident; patterns restricted to the Java/RE2
    common subset so the DuckDB replay is byte-identical."""
    from ..operators.text import pii_redact

    docs = table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(" cc admin@example.org")).otherwise(
            F.lit("")
        ),
    )
    cols = pii_redact(raw)
    return docs.select(
        "doc_id",
        cols["n_emails"].alias("n_emails"),
        cols["n_phones"].alias("n_phones"),
        cols["redacted"].alias("redacted"),
    )


# ---------------------------------------------------------------------------
# tx16 — Python UDTF surface (Spark 4 table function, X12). Registered
# in the registry OVERFLOW section.
# ---------------------------------------------------------------------------

_TX16_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
)
SELECT doc_id, CAST(i AS INTEGER) AS chunk_no,
       array_to_string(ts[(i*12+1):(i*12+12)], ' ') AS chunk
FROM toks, LATERAL (SELECT unnest(range(0, CAST(ceil(len(ts)/12.0) AS BIGINT))) AS i) g
"""


@register("tx16_chunks_udtf", oracle=_TX16_ORACLE)
def tx16_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python UDTF surface (X12): a table function exploding
    each document into (chunk_no, chunk) rows, invoked via LATERAL —
    the sanctioned shape for Python logic that yields a VARIABLE
    number of rows per input. Deliberately the same chunking algorithm
    as operators.dedup.chunk_split, against the same oracle, so the
    hash gate proves the UDTF path value-identical to the Catalyst
    explode path. Positioning unchanged: the pure-Catalyst form (dd11)
    is the hot path — this demonstrates the API surface (and that
    results, not just schemas, line up). Per-row Python generator:
    fine for enrichment fan-outs, not for the 100-TB dedup loop."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_no: int, chunk: string")
    class ChunkUdtf:
        def eval(self, text: str, width: int):
            if text is None:
                # Match chunk_split's Catalyst null semantics: a NULL
                # document yields no chunk rows (split(NULL) is NULL).
                return
            toks = text.split(" ")
            for i in range(0, max(len(toks), 1), width):
                yield i // width, " ".join(toks[i : i + width])

    spark.udtf.register("tx16_chunk_udtf", ChunkUdtf)
    docs = table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_tx16_docs")
    return spark.sql(
        "SELECT d.doc_id, c.chunk_no, c.chunk "
        "FROM _tx16_docs d, LATERAL tx16_chunk_udtf(d.text, 12) c"
    )


# ---------------------------------------------------------------------------
# tx17 — bigram familiarity (count-based CCNet-perplexity stand-in).
# Registered in the registry OVERFLOW section.
# ---------------------------------------------------------------------------

_TX17_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), bg AS (
  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS bg
  FROM toks, LATERAL (SELECT unnest(range(1, len(ts))) AS i) g
), cnt AS (
  SELECT bg, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY bg
), per AS (
  SELECT b.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(c.c) AS BIGINT) AS freq_sum
  FROM bg b JOIN cnt c USING (bg) GROUP BY b.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_bigrams, 0) AS n_bigrams,
       COALESCE(p.freq_sum, 0) AS freq_sum,
       CASE WHEN COALESCE(p.n_bigrams, 0) = 0 THEN 0.0
            ELSE CAST(p.freq_sum AS DOUBLE) / p.n_bigrams END AS familiarity
FROM documents d LEFT JOIN per p USING (doc_id)
"""


@register("tx17_bigram_familiarity", oracle=_TX17_ORACLE)
def tx17_bigram_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fluency scoring without a language model: each doc's mean
    corpus-wide bigram frequency — the exact-integer stand-in for
    CCNet's KenLM perplexity gate (high = templated/boilerplate, ~1 =
    singleton noise; both tails are filter candidates). freq_sum is an
    exact int64 sum so the whole statistic hash-matches the DuckDB
    replay; one explode + one partial-agg count + one bigram
    equi-join."""
    from ..operators.text import bigram_familiarity

    docs = table(spark, sf_dir, "documents")
    return bigram_familiarity(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# tx18 — content-defined chunking stats (FastCDC-style boundaries).
# Registered in the registry OVERFLOW section.
# ---------------------------------------------------------------------------

# Per-token poly hash (the operators.dedup.token_poly_hash schedule),
# boundary after every token whose hash ≡ 0 (mod 8), chunk id = count
# of boundaries strictly before the token, chunks re-joined by ' ' and
# each poly-hashed; the per-doc checksum folds chunk hashes in chunk
# order — a positional replay of content_defined_chunks' fold.
_TX18_ORACLE = """
WITH tk AS (
  SELECT doc_id, string_split(text, ' ') AS ts,
         list_transform(string_split(text, ' '),
           t -> list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(t, ''), ch -> CAST(ascii(ch) AS BIGINT))),
                  (acc, x) -> (acc * 131 + x) % 1000000007)) AS th
  FROM documents
), tok AS (
  SELECT doc_id, i, ts[i] AS tok,
         CASE WHEN th[i] % 8 = 0 THEN 1 ELSE 0 END AS b
  FROM tk, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS i) g
), cid AS (
  SELECT doc_id, i, tok,
         COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cno
  FROM tok
), chunks AS (
  SELECT doc_id, cno,
         array_to_string(list(tok ORDER BY i), ' ') AS chunk
  FROM cid GROUP BY doc_id, cno
), ch AS (
  SELECT doc_id, cno,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(chunk, ''), c -> CAST(ascii(c) AS BIGINT))),
           (acc, x) -> (acc * 131 + x) % 1000000007) AS h
  FROM chunks
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT), list(h ORDER BY cno)),
         (acc, x) -> (acc * 131 + x) % 1000000007) AS checksum
FROM ch GROUP BY doc_id
"""


@register("tx18_content_defined_chunks", oracle=_TX18_ORACLE)
def tx18_content_defined_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (operators.dedup.content_defined_chunks)
    exercised end-to-end: per-doc chunk count plus an order-sensitive
    poly-hash checksum of the chunk STRINGS, so the DuckDB replay pins
    every boundary position and every chunk's exact content — a shifted
    or merged chunk changes the checksum. Boundaries are a function of
    LOCAL content only (gear-hash ≡ 0 mod 8), which is what makes
    sub-document dedup survive insert-heavy edits; the resynchronization
    property itself is pinned in tests/test_operators.py. Map-only
    (one per-doc fold, no shuffle past the scan)."""
    from ..functions import POLY_P, poly_hash
    from ..operators.dedup import content_defined_chunks

    docs = table(spark, sf_dir, "documents")
    chunks = content_defined_chunks("text", divisor=8)
    hashes = F.transform(chunks, lambda c: poly_hash(c))
    checksum = F.aggregate(
        hashes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(131) + x) % F.lit(POLY_P),
    )
    return docs.select(
        "doc_id",
        F.size(chunks).cast("long").alias("n_chunks"),
        checksum.alias("checksum"),
    )


# ---------------------------------------------------------------------------
# tx19 — log-odds quality classifier filter (fastText/GPT-3-style).
# Registered in the registry OVERFLOW section.
# ---------------------------------------------------------------------------

# "Trusted reference" slice for training the classifier — the GPT-3
# setup uses WebText as positive and Common Crawl as negative; here the
# first two synthetic sources stand in as the curated slice.
_TX19_POS_SOURCES = ("src0", "src1")

def _tx19_oracle() -> str:
    from ._classifier_sql import classifier_ctes

    return f"""
WITH {classifier_ctes(_TX19_POS_SOURCES)}
SELECT doc_id, CAST(score AS BIGINT) AS score, score > 0 AS keep
FROM sc ORDER BY doc_id
"""


@register("tx19_classifier_filter", oracle=_tx19_oracle())
def tx19_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-based quality filtering, the GPT-3/LLaMA curation
    step, in exact arithmetic: per-token log-odds SIGN weights trained
    against a trusted source slice, documents scored by the weighted
    token vote, kept when the vote is positive
    (operators/text.py logodds_classifier — DECIMAL(19,0)
    cross-multiplied rate compares stay exact past int64 at web-scale
    token counts). The DuckDB oracle replays train + score end-to-end.
    One explode feeds vocabulary and term counts; score join is a
    token equi-join + per-doc partial agg — no broadcast of the vocab
    required at any scale."""
    from ..operators.text import logodds_classifier

    docs = table(spark, sf_dir, "documents")
    pos = F.col("source").isin(*_TX19_POS_SOURCES)
    return logodds_classifier(docs, "doc_id", "text", pos).orderBy("doc_id")


# ---------------------------------------------------------------------------
# tx22 — cross-source shingle-overlap matrix: the contamination audit
# between corpus sources. Registered in the registry OVERFLOW section.
# ---------------------------------------------------------------------------


def _tx22_oracle() -> str:
    from .dedup import _SHINGLES_FROM_TH_SQL, _TOKHASH_CTE_SQL

    return f"""
WITH tk AS (
  SELECT doc_id, source, {_TOKHASH_CTE_SQL} AS th FROM documents
), sh AS (
  SELECT doc_id, source, {_SHINGLES_FROM_TH_SQL} AS shingles FROM tk
), sg AS (
  SELECT DISTINCT source, g
  FROM (SELECT source, unnest(shingles) AS g FROM sh)
), tot AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sg GROUP BY source
), shared AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT s.src_a, s.src_b, ta.n AS n_a, tb.n AS n_b, s.n_shared,
       CAST(s.n_shared AS DOUBLE) / (ta.n + tb.n - s.n_shared) AS jaccard
FROM shared s
JOIN tot ta ON ta.source = s.src_a
JOIN tot tb ON tb.source = s.src_b
ORDER BY src_a, src_b
"""


@register("tx22_source_overlap", oracle=_tx22_oracle())
def tx22_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source × source 3-gram overlap matrix — the audit a curator
    runs BEFORE choosing mixing weights (pk02/pipe13): if two crawl
    sources share most of their shingles, their combined epoch weight
    double-counts one distribution (and dd07-style decontamination
    against either leaks through the other). Per unordered source
    pair: distinct-shingle sizes, shared count, exact Jaccard.
    Measured hash-pinned at sf0.01: 20 sources → 190 pairs, baseline
    Jaccard ≈ 2–3% with clear contamination spikes the audit exists
    to surface (src1↔src5 8.4%, src10↔src18 6.3%, src13↔src7 5.7%).

    Scale shape: the corpus collapses to DISTINCT (source, shingle)
    rows first (one shuffle, map-side combine). Pairs are then built
    WITHOUT a shingle self-join: per shingle, the sorted set of
    sources that carry it (second shuffle, bounded by |sources| per
    row) explodes into its combinations in-task — with S sources a
    shingle emits ≤ S(S-1)/2 pairs, so a hot shingle appearing
    everywhere costs S², never corpus². The oracle takes the
    equivalent self-join route; counts agree exactly."""
    from ..operators.dedup import shingle_rows_kernel

    docs = table(spark, sf_dir, "documents")
    # r14: the exploded (source, shingle) stream comes from the Arrow
    # shingle kernel (bit-equal to explode(shingle_tokens(tokenize)) —
    # parity test-pinned); the per-char HOF token fold dominated this
    # pass, hash-green re-swept.
    sg = (
        shingle_rows_kernel(docs, "source", "text", k=3)
        .distinct()
        .localCheckpoint(eager=True)
    )
    tot = sg.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    ss = F.sort_array(F.collect_set("source"))
    per_shingle = (
        sg.groupBy("g")
        .agg(ss.alias("_ss"))
        .where(F.size("_ss") >= 2)
    )
    pair_list = F.flatten(
        F.transform(
            F.col("_ss"),
            lambda x, i: F.transform(
                F.slice(F.col("_ss"), i + F.lit(2), F.size(F.col("_ss"))),
                lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
            ),
        )
    )
    shared = (
        per_shingle.select(F.explode(pair_list).alias("_p"))
        .groupBy(F.col("_p.src_a").alias("src_a"), F.col("_p.src_b").alias("src_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    ta = tot.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    tb = tot.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    jac = F.col("n_shared").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_shared")
    ).cast("double")
    return (
        shared.join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .select("src_a", "src_b", "n_a", "n_b", "n_shared", jac.alias("jaccard"))
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# tx23 — CCNet-style perplexity-proxy banding (deterministic unigram
# surprisal, integer millibits)
# ---------------------------------------------------------------------------

# Band thresholds PINNED from the live sf0.01 tercile measurement
# (ntile(3) over mean millibit surprisal; boundaries = min mean of
# terciles 2 and 3) — the ss12/ss19 chooser discipline: measure once,
# pin the constant, cross-check pin-vs-measurement in
# tests/test_parity.py. Absolute thresholds keep the QUERY free of any
# global sort/ntile (a single-partition window over per-doc stats is
# the shape that dies at 100 TB docs); re-derive when the corpus
# changes.
TX23_HEAD_MB = 4886  # mean_mb <  this → 'head'   (most corpus-typical)
TX23_TAIL_MB = 4894  # mean_mb >= this → 'tail'   (rare-token heavy)


def _tx23_ctes(prefix: str = "sp_") -> str:
    """tx23's per-doc surprisal spec as a PREFIXED CTE block
    (…tok/…cnt/…tot/…surp/…doc), shareable into composition oracles
    (pipe16 gates the curated manifest on the band this block
    produces). The LM always trains on the FULL documents table — the
    fixed reference corpus — regardless of what the composer keeps."""
    p = prefix
    surp = f"({_milli_log2_sql('t.t')} - {_milli_log2_sql('c.c')})"
    return f"""{p}tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), {p}cnt AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM {p}tok GROUP BY w
), {p}tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t FROM {p}tok
), {p}surp AS (
  SELECT w, {surp} AS surp FROM {p}cnt c CROSS JOIN {p}tot t
), {p}doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(surp) AS BIGINT) AS sum_mb
  FROM {p}tok JOIN {p}surp USING (w) GROUP BY doc_id
)"""


def _tx23_oracle() -> str:
    return f"""
WITH {_tx23_ctes()}
SELECT doc_id, n_tokens, sum_mb,
       sum_mb // n_tokens AS mean_mb,
       CASE WHEN sum_mb // n_tokens < {TX23_HEAD_MB} THEN 'head'
            WHEN sum_mb // n_tokens < {TX23_TAIL_MB} THEN 'middle'
            ELSE 'tail' END AS band
FROM sp_doc
"""


@register("tx23_surprisal_bands", oracle=_tx23_oracle())
def tx23_surprisal_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality banding, the missing CCNet stage of the
    curation stack (Wenzek et al. 2020: bucket documents by LM
    perplexity into head/middle/tail; training sets keep head+middle).
    The LM here is the corpus's own unigram model and the score is
    exact integer millibit surprisal (operators.text.unigram_surprisal
    over functions.milli_log2) — so unlike float-entropy tx07 the whole
    path is DuckDB-hash-verified. Bands come from ABSOLUTE pinned
    thresholds (live sf0.01 tercile boundaries, cross-checked against
    measurement in tests/test_parity.py), keeping the plan a pure
    map-reduce: no global ntile sort over per-doc stats, the shape
    that would single-task at 100 TB docs."""
    from ..operators.text import unigram_surprisal

    docs = table(spark, sf_dir, "documents")
    d = unigram_surprisal(docs, "doc_id", "text")
    mean_mb = F.expr("sum_mb DIV n_tokens")
    return d.select(
        "doc_id",
        "n_tokens",
        "sum_mb",
        mean_mb.alias("mean_mb"),
        F.when(mean_mb < TX23_HEAD_MB, "head")
        .when(mean_mb < TX23_TAIL_MB, "middle")
        .otherwise("tail")
        .alias("band"),
    )


# ---------------------------------------------------------------------------
# tx24 — per-source domain divergence (integer-millibit KL gap between
# a source's own unigram LM and the global LM)
# ---------------------------------------------------------------------------


def _tx24_oracle() -> str:
    ml = _milli_log2_sql
    return f"""
WITH tok AS (
  SELECT d.source, unnest(string_split(d.text, ' ')) AS w FROM documents d
), cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM tok),
scnt AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cs
         FROM tok GROUP BY source, w),
stot AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS ts
         FROM scnt GROUP BY source),
gap AS (
  SELECT s.source, s.cs,
         ({ml('t.t')} - {ml('c.c')}) - ({ml('st.ts')} - {ml('s.cs')}) AS g
  FROM scnt s JOIN cnt c USING (w) JOIN stot st USING (source)
  CROSS JOIN tot t
)
SELECT source, CAST(SUM(cs) AS BIGINT) AS n_tokens,
       CAST(SUM(cs * g) AS BIGINT) AS sum_gap_mb,
       CAST(SUM(cs * g) AS DOUBLE) / SUM(cs) AS mean_gap_mb
FROM gap GROUP BY source
"""


@register("tx24_source_divergence", oracle=_tx24_oracle())
def tx24_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source domain distinctiveness: the mean per-token surprisal
    GAP between scoring a source's tokens under the GLOBAL unigram LM
    and under the source's OWN LM — exactly KL(source ‖ global) in
    interpolated integer millibits. The domain-weighting diagnostic a
    mixture designer reads before setting pk02/pk06 epoch weights
    (the DoReMi-adjacent question: which sources does the global
    model describe worst?): at sf0.01 the spread runs src8 −18.2 mb
    (corpus-typical) to src1 +21.7 mb (most domain-distinct).

    Honesty note: exact-math KL is ≥ 0; values here can go slightly
    negative because each milli_log2 UNDERestimates log2 by up to
    87.1 mb (chord + integer floor, the measured bound in
    functions.milli_log2), bounding the per-token gap error at
    ±174.2 mb — the
    statistic is the deterministic interpolated form, and both
    engines compute it bit-identically (that is the point; the
    float-exact form would be tx07's rows-only fate). Plan: two
    w-keyed partial aggregates + two equi-joins + one source-keyed
    aggregate; no window, no Python, nothing quadratic — the same
    map-reduce family as tx23 and unbounded-corpus-safe."""
    from ..functions import milli_log2
    from ..operators.text import tokenize

    docs = table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokenize("text")).alias("w"))
    cnt = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = tok.agg(F.count(F.lit(1)).cast("long").alias("t"))
    scnt = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("cs")
    )
    stot = scnt.groupBy("source").agg(F.sum("cs").cast("long").alias("ts"))
    gap = (
        scnt.join(cnt, "w")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "cs",
            (
                (milli_log2("t") - milli_log2("c"))
                - (milli_log2("ts") - milli_log2("cs"))
            ).alias("g"),
        )
    )
    return gap.groupBy("source").agg(
        F.sum("cs").cast("long").alias("n_tokens"),
        F.sum(F.col("cs") * F.col("g")).cast("long").alias("sum_gap_mb"),
        (
            F.sum(F.col("cs") * F.col("g")).cast("double")
            / F.sum("cs").cast("double")
        ).alias("mean_gap_mb"),
    )


def _tx23_cut_ctes(prefix: str = "sp_") -> str:
    """Adaptive band cut as CTEs over ``{prefix}doc``: t2 = the
    ceil(2n/3)-th smallest integer-millibit mean (an ORDER STATISTIC,
    not a pinned constant), and the head+middle keep set mean ≤ t2.
    The cumulative window runs over DISTINCT mean values — bounded by
    the millibit range (≤ ~54k values for any corpus fitting int64
    token counts), never over documents — so the cut transfers across
    corpus sizes where tx23's pinned constants deliberately do not
    (bench at sf0.1 is the regression that motivated this: the sf0.01
    pins classified every sf0.1 survivor as tail)."""
    p = prefix
    return f""", {p}mean AS (
  SELECT doc_id, sum_mb // n_tokens AS mean_mb FROM {p}doc
), {p}vc AS (
  SELECT mean_mb, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM {p}mean GROUP BY mean_mb
), {p}cum AS (
  SELECT mean_mb,
         SUM(cnt) OVER (ORDER BY mean_mb) AS cum,
         SUM(cnt) OVER () AS n
  FROM {p}vc
), {p}cut AS (
  SELECT MIN(mean_mb) AS t2 FROM {p}cum WHERE cum >= (2*n + 2) // 3
), {p}keep AS (
  SELECT doc_id FROM {p}mean CROSS JOIN {p}cut WHERE mean_mb <= t2
)"""


def surprisal_head_middle_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_ids in the head+middle of the corpus surprisal distribution
    — the Spark twin of ``_tx23_cut_ctes``. The cut is the
    ceil(2n/3)-th smallest mean, derived from a cumulative window over
    DISTINCT integer millibit means (≤ ~54k rows by construction —
    the bounded-value-domain trick that keeps the 'global quantile'
    scale-clean; the q26b multipass operator is the general-domain
    version of the same idea)."""
    from pyspark.sql import Window

    from ..operators.text import unigram_surprisal

    docs = table(spark, sf_dir, "documents")
    m = unigram_surprisal(docs, "doc_id", "text").select(
        "doc_id", F.expr("sum_mb DIV n_tokens").alias("mean_mb")
    )
    vc = m.groupBy("mean_mb").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w_cum = Window.orderBy("mean_mb").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cum = vc.select(
        "mean_mb",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    cut = cum.where(
        F.col("cum") >= F.expr("(2 * n + 2) DIV 3")
    ).agg(F.min("mean_mb").alias("t2"))
    return (
        m.crossJoin(F.broadcast(cut))
        .where(F.col("mean_mb") <= F.col("t2"))
        .select("doc_id")
    )


# ---------------------------------------------------------------------------
# tx25 — DSIR importance-ratio data selection (Xie et al. 2023):
# steer the corpus toward a target domain with two unigram LMs
# ---------------------------------------------------------------------------

# Target domain = the most domain-distinct source by tx24's measured
# KL ladder at sf0.01 (src1, +21.7 mb) — the setting where importance
# reweighting has signal to work with. Pinned, not computed in-query:
# the target is an input to DSIR, not a derived quantity.
TX25_TARGET = "src1"


def _tx25_ctes(prefix: str = "ir_") -> str:
    """tx25's per-doc DSIR spec as a PREFIXED CTE block
    (…tok/…cnt/…tot/…wsc/…doc/…mean/…vc/…cum/…cut), GENERATED next to
    the operator it replays (operators/text.py dsir_logratio) and
    shareable into composition oracles the way _tx23_ctes is."""
    p, ml, tgt = prefix, _milli_log2_sql, TX25_TARGET
    g = (
        f"({ml('(c.ct + 1)')} - {ml('(t.tt + t.v)')})"
        f" - ({ml('c.c')} - {ml('t.t')})"
    )
    return f"""{p}tok AS (
  SELECT doc_id, (source = '{tgt}') AS is_t,
         unnest(string_split(text, ' ')) AS w
  FROM documents
), {p}cnt AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct
  FROM {p}tok GROUP BY w
), {p}tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS t, CAST(SUM(ct) AS BIGINT) AS tt,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM {p}cnt
), {p}wsc AS (
  SELECT w, {g} AS g
  FROM {p}cnt c CROSS JOIN {p}tot t
), {p}doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(g) AS BIGINT) AS sum_mb
  FROM {p}tok JOIN {p}wsc USING (w) GROUP BY doc_id
), {p}mean AS (
  SELECT doc_id, n_tokens, sum_mb, sum_mb // n_tokens AS mean_mb
  FROM {p}doc
), {p}vc AS (
  SELECT mean_mb, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM {p}mean GROUP BY mean_mb
), {p}cum AS (
  SELECT mean_mb, SUM(cnt) OVER (ORDER BY mean_mb DESC) AS cum,
         SUM(cnt) OVER () AS n
  FROM {p}vc
), {p}cut AS (
  SELECT MAX(mean_mb) AS tcut FROM {p}cum WHERE cum >= (n + 2) // 3
)"""


def _tx25_oracle() -> str:
    return f"""
WITH {_tx25_ctes()}
SELECT m.doc_id, m.n_tokens, m.sum_mb, m.mean_mb,
       CAST(CASE WHEN m.mean_mb >= c.tcut THEN 1 ELSE 0 END AS BIGINT)
         AS kept
FROM ir_mean m CROSS JOIN ir_cut c
"""


@register("tx25_dsir_selection", oracle=_tx25_oracle())
def tx25_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): score every document by
    its importance ratio log p_target − log p_raw under two unigram
    LMs (target = the src1 slice, add-one smoothed over the raw
    vocabulary; raw = the full corpus) and keep the top third by mean
    per-token millibit ratio — the cheap, classifier-free way to tilt
    a generic 100 TB crawl toward a target domain. All integer
    (operators/text.py dsir_logratio over functions.milli_log2); the
    paper's Gumbel-noise resampling becomes a deterministic rank cut
    so the path stays DuckDB-hash-verified.

    The cut is the same bounded-order-statistic shape as pipe16's
    band gate: a cumulative window over DISTINCT integer mean values
    (domain-bounded, never over documents), descending, keeping
    mean_mb ≥ the ceil(n/3)-th-from-top value — no global sort of the
    corpus anywhere in the plan. Output is one row per document with
    the kept flag (ties at the cut keep slightly over quota,
    deterministically), so selection composes downstream exactly like
    pipe15's decon gate. Measured at sf0.01: 167/500 kept; src1 leads
    the selection 20/25 versus ≤12 for every other source — the
    reweighting pulls hard toward the target, while add-one smoothing
    keeps the 5 shortest/most-generic target docs from riding pure
    self-bias in. That spread (not blanket self-selection) is the
    behavior raw DSIR shows when the target is a subset of the scored
    corpus."""
    from ..operators.text import dsir_logratio, dsir_select

    docs = table(spark, sf_dir, "documents")
    return dsir_select(dsir_logratio(docs, TX25_TARGET))


def _tx25_keep_cte(prefix: str = "ir_") -> str:
    """DSIR keep set as a CTE over ``{prefix}mean``/``{prefix}cut`` —
    the composition hook pipe17 AND-s into the manifest predicate
    (the _tx23_cut_ctes pattern)."""
    p = prefix
    return f""", {p}keep AS (
  SELECT m.doc_id FROM {p}mean m CROSS JOIN {p}cut c
  WHERE m.mean_mb >= c.tcut
)"""


def dsir_keep_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_ids in tx25's DSIR keep set (top third by mean importance
    ratio toward TX25_TARGET; scored and cut over the FULL corpus, the
    fixed reference — the tx23-band convention) — the Spark twin of
    ``_tx25_ctes`` + ``_tx25_keep_cte``, shared by tx25 and pipe17.
    Both read operators.text.dsir_select, the single cut source."""
    from ..operators.text import dsir_logratio, dsir_select

    docs = table(spark, sf_dir, "documents")
    return (
        dsir_select(dsir_logratio(docs, TX25_TARGET))
        .where(F.col("kept") == 1)
        .select("doc_id")
    )


# ---------------------------------------------------------------------------
# tx26 — conditional bigram surprisal + measured context gain (one
# Markov order past tx23, the KenLM direction in exact integers)
# ---------------------------------------------------------------------------


def _tx26_oracle() -> str:
    ml = _milli_log2_sql
    surp = f"({ml('(c.c1 + v.v)')} - {ml('(b.c2 + 1)')})"
    return f"""
WITH bt AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), big AS (
  SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
  FROM bt, LATERAL (SELECT unnest(range(1, len(ts))) AS i) g
), ut AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
), c1 AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM ut GROUP BY w
), voc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS v FROM c1
), c2 AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM big GROUP BY w1, w2
), sc AS (
  SELECT b.w1, b.w2, {surp} AS surp
  FROM c2 b JOIN c1 c ON c.w = b.w1 CROSS JOIN voc v
), bdoc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(surp) AS BIGINT) AS sum_mb
  FROM big JOIN sc USING (w1, w2) GROUP BY doc_id
), {_tx23_ctes(prefix='u_')}
SELECT d.doc_id, d.n_bigrams, d.sum_mb,
       d.sum_mb // d.n_bigrams AS mean_mb,
       u.sum_mb // u.n_tokens AS uni_mean_mb,
       (u.sum_mb // u.n_tokens) - (d.sum_mb // d.n_bigrams)
         AS context_gain_mb
FROM bdoc d JOIN u_doc u USING (doc_id)
"""


@register("tx26_bigram_surprisal", oracle=_tx26_oracle())
def tx26_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram surprisal — one Markov order past tx23's
    unigram band score, the next rung toward CCNet's KenLM gate that
    exact integer math can still hash-verify: each transition w1→w2
    scores −log2 p(w2|w1) under an add-one smoothed corpus bigram LM
    (operators/text.py bigram_surprisal over milli_log2), and the
    per-doc CONTEXT GAIN column measures how much one token of
    context explains — uni_mean_mb − mean_mb, the per-doc mutual-
    information-rate analog. That contrast is the actual diagnostic:
    tx17's raw bigram frequency can't separate 'frequent because
    boilerplate' from 'frequent because the corpus is small'; the
    conditional form can (templated docs show LARGE gain — their
    transitions are predictable given context even when their tokens
    are rare). Measured at sf0.01: gain spans −199..+168 mb and is
    NEGATIVE for 351/500 docs (mean −21) — on a corpus this small
    most contexts are near-unique, so the add-one tax (c1+V in the
    denominator) outweighs what one token of context explains. That
    is the honest smoothed-LM behavior and itself the diagnostic: an
    order upgrade only pays once context counts clear the vocabulary
    size, which is exactly the scale question a 100 TB corpus
    answers differently than a test slice (both engines compute the
    same deterministic integers either way).

    Plan shape: bigrams from a per-ROW array zip (map-only, no
    positional self-join); two vocab-keyed partial aggs; score math
    per DISTINCT bigram; equi-joins back; one doc-keyed agg per LM
    order. Docs with <2 tokens have no transitions and drop from the
    inner join (none at any shipped SF — audit_rowcounts covers
    it)."""
    from ..operators.text import bigram_surprisal, unigram_surprisal

    docs = table(spark, sf_dir, "documents")
    b = bigram_surprisal(docs, "doc_id", "text")
    u = unigram_surprisal(docs, "doc_id", "text").select(
        "doc_id", F.expr("sum_mb DIV n_tokens").alias("uni_mean_mb")
    )
    mean = F.expr("sum_mb DIV n_bigrams")
    return b.join(u, "doc_id").select(
        "doc_id",
        "n_bigrams",
        "sum_mb",
        mean.alias("mean_mb"),
        "uni_mean_mb",
        (F.col("uni_mean_mb") - mean).alias("context_gain_mb"),
    )


# ---------------------------------------------------------------------------
# q47 — Count-Min frequency sketch vs exact counts: the mergeable
# O(depth·width) frequency summary completing the sketch family
# (certified top-k tx13, KMV cardinality q43 / set ops q44 / error law
# q46, log-histogram quantiles q45). Registered in OVERFLOW.
# ---------------------------------------------------------------------------

_Q47_DEPTH = 4
_Q47_WIDTHS = (128, 512, 2048)


def _q47_oracle() -> str:
    """GENERATED from the operator constants: the row-stepped quadratic
    mix, the per-width counter grids (g mod w directly — exactly the
    grid cm_fold derives, by g mod w == (g mod W) mod w for w | W) and
    the min-over-depth point estimates replay operators/sketch.py
    cm_sketch/cm_estimate integer-for-integer on tx05's bigram
    stream."""
    from ..operators.sketch import (
        CM_A_STEP,
        CM_B_STEP,
        CM_C_STEP,
        KMV_A,
        KMV_B,
        KMV_C,
        KMV_P,
    )

    p = KMV_P

    def mix(h: str) -> str:
        x0 = f"((({h}) % {p}) + {p}) % {p}"
        a = f"(({KMV_A} + {CM_A_STEP} * r) % {p})"
        b = f"(({KMV_B} + {CM_B_STEP} * r) % {p})"
        c = f"(({KMV_C} + {CM_C_STEP} * r) % {p})"
        return (
            f"(((((({x0}) * ({x0})) % {p}) * {a}) % {p}"
            f" + ((({x0}) * {b}) % {p}) + {c}) % {p})"
        )

    width_ctes, selects = [], []
    for w in _Q47_WIDTHS:
        width_ctes.append(f"""cnt{w} AS (
  SELECT r, g % {w} AS b, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM mix GROUP BY 1, 2
), e{w} AS (
  SELECT bigram, exact_n, MIN(COALESCE(c.cnt, 0)) AS est_n
  FROM (SELECT bigram, exact_n, r, g % {w} AS b FROM eg) q
  LEFT JOIN cnt{w} c USING (r, b)
  GROUP BY bigram, exact_n
)""")
        selects.append(
            f"SELECT CAST({w} AS BIGINT) AS width, bigram, exact_n, est_n,\n"
            f"       est_n - exact_n AS over_n,\n"
            f"       CAST(est_n - exact_n AS DOUBLE) / exact_n AS rel_over\n"
            f"FROM e{w}"
        )
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT concat(t[i], ' ', t[i+1]) AS bigram
  FROM toks, unnest(range(1, greatest(len(t), 1))) AS u(i)
),
gh AS (
  SELECT bigram,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(bigram, ''),
             ch -> CAST(ascii(ch) AS BIGINT))),
           (acc, x) -> (acc * 131 + x) % 1000000007) AS h
  FROM grams
),
mix AS (
  SELECT r, {mix('h')} AS g
  FROM gh, unnest(range(0, {_Q47_DEPTH})) AS d(r)
),
ex AS (
  SELECT bigram, h, CAST(COUNT(*) AS BIGINT) AS exact_n
  FROM gh GROUP BY bigram, h
  ORDER BY exact_n DESC, bigram LIMIT 20
),
eg AS (
  SELECT bigram, exact_n, r, {mix('h')} AS g
  FROM ex, unnest(range(0, {_Q47_DEPTH})) AS d(r)
),
{', '.join(width_ctes)}
SELECT * FROM ({' UNION ALL '.join(selects)})
ORDER BY width, exact_n DESC, bigram
"""


@register("q47_cm_frequency_sketch", oracle=_q47_oracle())
def q47_cm_frequency_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimates vs exact counts on tx05's
    bigram stream — the ADDITIVE frequency summary the sketch family
    was missing: per-day/per-source depth×width counter grids persist
    in O(depth·width) and answer later frequency questions by cell
    addition, never a rescan (tx13's certified_topk is the
    exact-answer counterpart when the top-k itself is the question;
    CM is what you keep when the query keys arrive AFTER the scan).
    Estimates are GUARANTEED overestimates (counters only add;
    colliding keys inflate, never deflate — test-pinned), bounded by
    e/width · N with probability 1 − e^(−depth).

    Three widths measure the error law on the real bigram
    distribution before sizing production grids: at sf0.01 over the
    exact top-20 bigrams (N = 26,665 occurrences), width 128 → mean
    overestimate +120.2 counts / max +164 (≈ the e·N/width ≈ 566
    bound's typical N/width = 208 collision mass), width 512 → mean
    +20.6, width 2048 → 0 exactly (depth-4 min finds a collision-free
    cell for every key) — a ≳4× error drop per 4× width, ending in
    exactness once cells outnumber hot keys. The
    2048 grid is built ONCE from the corpus; 512/128 are FOLDED from
    it (cm_fold: g mod w == (g mod W) mod w for w | W, test-pinned
    equal to a direct build) — one corpus pass prices every
    resolution, the ss26/sq_shared encode-once rule applied to
    sketches.

    Plan shape: the depth-row mixes explode narrowly per occurrence
    and partial-agg into ≤ depth·width cells before the shuffle (plan-
    guarded map-side combine); the estimate side broadcasts the ≤
    8192-cell grid onto the 20 query keys. Every stage — polynomial
    bigram hash, row-stepped quadratic mix, counter counts, min-over-
    depth — is exact int64 arithmetic, DuckDB-hash-verified."""
    from ..operators.sketch import cm_estimate, cm_fold, cm_sketch

    # The hashed stream feeds BOTH the grid build and the exact
    # top-20; checkpointing it converts two poly_hash corpus passes
    # (an interpreted per-char HOF — the expensive part) into one
    # (A/B at sf0.1, alternating twice each: 7.3–8.0 s recompute vs
    # 4.4–4.7 s checkpointed). r14: the whole (bigram, hash) stream
    # comes from ONE Arrow kernel pass over raw text
    # (operators/text.bigram_hash_rows_kernel, bit-equal by parity
    # test) — noop-profiled, the interpreted transform/concat_ws
    # stream BUILD was 2.3 s of the 2.7 s checkpoint pass, not the
    # hash; hash-green re-swept.
    from ..operators.text import bigram_hash_rows_kernel

    hashed = bigram_hash_rows_kernel(
        table(spark, sf_dir, "documents"), "text"
    ).localCheckpoint(eager=True)
    wmax = max(_Q47_WIDTHS)
    sk = {wmax: cm_sketch(hashed, "h", _Q47_DEPTH, wmax).localCheckpoint(eager=True)}
    for w_from, w_to in zip(sorted(_Q47_WIDTHS, reverse=True), sorted(_Q47_WIDTHS, reverse=True)[1:]):
        sk[w_to] = cm_fold(sk[w_from], w_from, w_to)
    top = (
        hashed.groupBy("bigram", "h")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "bigram")
        .limit(20)
        .localCheckpoint(eager=True)
    )
    out = None
    for w in _Q47_WIDTHS:
        est = cm_estimate(sk[w], top, "h", _Q47_DEPTH, w, out_col="est_n")
        row = est.select(
            F.lit(w).cast("long").alias("width"),
            "bigram",
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).alias("over_n"),
            (
                (F.col("est_n") - F.col("exact_n")).cast("double")
                / F.col("exact_n").cast("double")
            ).alias("rel_over"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("width", F.col("exact_n").desc(), "bigram")


# ---------------------------------------------------------------------------
# tx27 — integer BM25 lexical retrieval: the inverted-index ranking
# surface (the lexical half of hybrid search; ss30 is the fusion half)
# ---------------------------------------------------------------------------

_TX27_NQ = 25  # query docs: doc_id < 25 (the bounded-eval convention)
_TX27_K = 5


def _tx27_oracle() -> str:
    """GENERATED from the operator constants (BM25_K1_M / BM25_B_M and
    the millibit idf via _milli_log2_sql): tf/df/dl counts off one
    token unnest, the df·2 ≤ N stopword prune, the integer BM25
    contribution with every DIV explicit, depth-k total-order ranks —
    operators/text.py bm25_topk replayed integer-for-integer."""
    return f"""
WITH {_bm25_index_sql()},
qt AS (
  SELECT DISTINCT doc_id AS query_id, tok FROM tok WHERE doc_id < {_TX27_NQ}
),
sc AS (
  SELECT q.query_id, c.doc_id AS neighbor_id,
         CAST(SUM({_bm25_contrib_sql()}) AS BIGINT) AS score
  FROM qt q
  JOIN idf i ON i.tok = q.tok
  JOIN tf c ON c.tok = q.tok AND c.doc_id != q.query_id
  JOIN dl l ON l.doc_id = c.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, score FROM (
  SELECT query_id, neighbor_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY score DESC, neighbor_id) AS rk
  FROM sc
) WHERE rk <= {_TX27_K}
ORDER BY query_id, rk
"""


@register("tx27_bm25_lexical_topk", oracle=_tx27_oracle())
def tx27_bm25_lexical_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer BM25 lexical top-5 — the inverted-index retrieval
    surface the engine was missing (near-dup stacks match CONTENT
    overlap via shingles/MinHash; this ranks RELEVANCE via
    tf-saturated, length-normalized, idf-weighted term matching —
    what contamination hunting, eval-leak triage and hybrid serving
    run on the lexical side). operators/text.py bm25_topk in exact
    int64 millibit arithmetic: idf_mb = milli_log2(N) −
    milli_log2(df), k1=1.2 / b=0.75 milli-scaled, every division an
    explicit DIV — so the full ranked lists hash-verify against the
    DuckDB replay, unlike float BM25.

    Stopword pruning (df·2 > N dropped) is part of the pinned spec,
    not a tuning: those terms carry ≈0 idf but own the longest
    posting lists — at 100 TB they ARE the term-join blowup. Plan
    shape: tf/df/dl are partial-aggregated counts off one narrow
    token explode; the pruned idf joins postings BEFORE the
    (bounded, broadcast) query-term side; score sum + per-query top-5
    window are the only wide stages — an inverted-index equi-join,
    never a doc×doc product (plan-guarded: no CartesianProduct, query
    side broadcast). Measured at sf0.01, the spec returns a THIN
    result and that is the honest answer: the synthetic vocabulary is
    31 tokens, 30 of which sit in 75–80% of documents, so the N/2
    prune keeps exactly one informative term ('dup', df=25) and the
    one query doc containing it gets the only ranking (5 rows) — on
    a degenerate lexical distribution idf has one bit to work with,
    and a ranker that pretended otherwise would be scoring
    stopwords. tx27b opens the prune to 9/10 and hash-verifies the
    full multi-term scoring at volume (125 rows); the constructed-
    corpus unit tests pin the semantics either way."""
    from ..operators.text import bm25_topk

    docs = table(spark, sf_dir, "documents")
    return bm25_topk(
        docs, docs.where(F.col("doc_id") < _TX27_NQ), "doc_id", "text", k=_TX27_K
    ).orderBy("query_id", "rk")


# ---------------------------------------------------------------------------
# tx27b — the dense-vocabulary BM25 harness: same ranker, prune ratio
# opened to 9/10 so multi-term scoring is exercised at volume on this
# corpus (the q17/q17b twin pattern)
# ---------------------------------------------------------------------------

_TX27B_RATIO = (9, 10)


def _tx27b_oracle() -> str:
    num, den = _TX27B_RATIO
    return f"""
WITH {_bm25_index_sql(num, den)},
qt AS (
  SELECT DISTINCT doc_id AS query_id, tok FROM tok WHERE doc_id < {_TX27_NQ}
),
sc AS (
  SELECT q.query_id, c.doc_id AS neighbor_id,
         CAST(SUM({_bm25_contrib_sql()}) AS BIGINT) AS score
  FROM qt q
  JOIN idf i ON i.tok = q.tok
  JOIN tf c ON c.tok = q.tok AND c.doc_id != q.query_id
  JOIN dl l ON l.doc_id = c.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, score FROM (
  SELECT query_id, neighbor_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY score DESC, neighbor_id) AS rk
  FROM sc
) WHERE rk <= {_TX27_K}
ORDER BY query_id, rk
"""


@register("tx27b_bm25_dense_vocab", oracle=_tx27b_oracle())
def tx27b_bm25_dense_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tx27's ranker with the stopword prune opened to df·10 ≤ 9N —
    the harness that exercises MULTI-TERM scoring at volume on this
    corpus. The synthetic documents draw from a 31-token vocabulary in
    which 30 tokens sit in 75–80% of all docs, so the production N/2
    prune (tx27) keeps exactly ONE informative term and the web-
    standard spec returns one query's ranking (the honest result on a
    degenerate lexical distribution — idf has one bit to work with).
    Opening the ratio to 9/10 keeps all 31 terms: every query doc
    scores, 125 ranked rows, saturation + length normalization + idf
    summed across ~30 matched terms per pair — the full scoring spec
    hash-verified at volume while tx27 stays the deployment spec (the
    q17/q17b twin pattern: one surface, two pinned operating points).
    Identical plan shape; the prune ratio is the only delta."""
    from ..operators.text import bm25_topk

    num, den = _TX27B_RATIO
    docs = table(spark, sf_dir, "documents")
    return bm25_topk(
        docs,
        docs.where(F.col("doc_id") < _TX27_NQ),
        "doc_id",
        "text",
        k=_TX27_K,
        max_df_num=num,
        max_df_den=den,
    ).orderBy("query_id", "rk")


# ---------------------------------------------------------------------------
# tx28/tx29 — unigram-LM tokenizer (Kudo 2018): deterministic integer
# hard-EM training + Viterbi encode, completing the tokenizer family
# beside BPE (tx20/tx21: pair-merge bottom-up; here: all-substrings
# seed pruned top-down by likelihood). Registered in OVERFLOW.
# ---------------------------------------------------------------------------

# Pinned hard-EM configuration. _TX28_MAXW is the DP unroll bound the
# oracle replays positions to — the measured max word length of the
# corpus (8 at BOTH sf0.01 and sf0.1; cross-checked live in
# tests/test_parity.py, and the engine's segmenter raises past it, the
# q45 raise-in-pass precedent).
_TX28_MAXW = 8


def _tx28_ctes(source: str = "documents") -> str:
    from ..operators.text import UNIGRAM_LMAX, UNIGRAM_ROUNDS, UNIGRAM_VOCAB
    from ._unigram_sql import unigram_ctes

    return unigram_ctes(
        UNIGRAM_LMAX, UNIGRAM_ROUNDS, UNIGRAM_VOCAB, _TX28_MAXW, source
    )


def _tx28_oracle() -> str:
    return f"""WITH {_tx28_ctes()}
SELECT piece, cnt, cost_mb FROM fin ORDER BY cnt DESC, piece"""


@register("tx28_unigram_train", oracle=_tx28_oracle())
def tx28_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic unigram-LM tokenizer training (Kudo 2018 — the
    SentencePiece unigram model) as integer HARD EM: seed counts from
    all substrings ≤ 4 chars of the distinct-word vocabulary, three
    EM rounds of (millibit costs → Viterbi recount with smallest-
    piece tie-break → char-floored counts), a top-24-by-count prune
    (single chars never pruned), and one post-prune recount — every
    intermediate an int64, so the DuckDB oracle replays the ENTIRE
    trajectory unrolled (queries/_unigram_sql.py: per round, the DP
    is unrolled position-by-position to the pinned max word length 8
    and the read-back walk alongside it — the tx20 merge-round
    pattern applied to a dynamic program). Output: the final model
    (piece, cnt, cost_mb), 44 rows at the sf0.01 gate — whole words
    ≤ 4 chars win their own piece ('join' 964, 'hash' 947), longer
    words settle on stable splits ('cust'+'omer', 'colu'+'mn',
    'batc'+'h'), and the char tail survives on the floor rule. Scale:
    the corpus is scanned ONCE into the distinct-word vocab; each
    round is one Arrow-batched segmentation over that vocab plus a
    (piece → count) partial agg, and only the vocab-sized cost table
    touches the driver (operators/text.py unigram_train docstring).
    Soft EM is documented out of scope: forward-backward marginals
    are real-valued, and no integer spec could pin them across
    engines (the tx07-vs-tx07b float-entropy lesson)."""
    from ..operators.text import unigram_train

    docs = table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(
                F.expr("regexp_extract_all(text, '[a-zA-Z]+', 0)")
            ).alias("t")
        )
        .select(F.lower(F.col("t")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    model = unigram_train(words, max_word_len=_TX28_MAXW)
    return model.select("piece", "cnt", "cost_mb").orderBy(
        F.col("cnt").desc(), "piece"
    )


def _tx29_oracle() -> str:
    from ..operators.text import UNIGRAM_LMAX
    from ._unigram_sql import _round_ctes

    # One more Viterbi block under the FINAL model's costs. _round_ctes
    # derives costs from a counts CTE via the shared milli_log2 twin,
    # so handing it cF (the final counts) replays exactly the cost
    # table unigram_encode collects from unigram_train's output.
    enc = _round_ctes("E", "cF", UNIGRAM_LMAX, _TX28_MAXW)
    return f"""WITH {_tx28_ctes()}{enc}
SELECT word, freq, CAST(COUNT(*) AS BIGINT) AS n_pieces,
       STRING_AGG(p, ' ' ORDER BY pos) AS seg
FROM emE GROUP BY word, freq ORDER BY word"""


@register("tx29_unigram_encode", oracle=_tx29_oracle())
def tx29_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi encode under tx28's trained model — the SentencePiece
    encode step sharing the training DP's exact integer spec and
    smallest-piece tie-break (the tx20/tx21 train⇄encode
    relationship, so the tokenizer is self-consistent end-to-end).
    One row per distinct corpus word: (word, freq, n_pieces, seg)
    with ``seg`` the space-joined pieces in position order. The
    oracle chains ONE more unrolled DP block under the final model's
    costs onto the full tx28 trajectory — train and encode verify the
    same learned model, not two derivations that could drift. At the
    sf0.01 gate: 31 words, 8 single-piece ('join', 'hash', 'data'…),
    11 split in two ('cust omer', 'colu mn', 'batc h'), and the
    char-floor tail keeps rare-or-awkward words segmentable ('stream'
    → 6 chars: with 24 pieces the model spends its budget on the
    highest-count 4-grams and lets chars carry the rest — the honest
    small-vocab behavior). Scale: encoding a CORPUS is this same
    mapInPandas over its distinct words followed by an equi-join back
    to the token stream (the unigram_surprisal join shape) — the DP
    never runs per occurrence."""
    from ..operators.text import unigram_encode, unigram_train

    docs = table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(
                F.expr("regexp_extract_all(text, '[a-zA-Z]+', 0)")
            ).alias("t")
        )
        .select(F.lower(F.col("t")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    model = unigram_train(words, max_word_len=_TX28_MAXW)
    return unigram_encode(
        words, model, max_word_len=_TX28_MAXW
    ).orderBy("word")


# ---------------------------------------------------------------------------
# tx30 — tokenizer comparison: BPE (tx20/tx21) vs unigram-LM
# (tx28/tx29) on the SAME corpus, corpus-weighted. Registered in
# OVERFLOW.
# ---------------------------------------------------------------------------


def _tx30_oracle() -> str:
    from ..operators.text import UNIGRAM_LMAX, UNIGRAM_ROUNDS, UNIGRAM_VOCAB
    from ._unigram_sql import _round_ctes, unigram_ctes

    n = _TX20_N_MERGES
    uni = unigram_ctes(
        UNIGRAM_LMAX, UNIGRAM_ROUNDS, UNIGRAM_VOCAB, _TX28_MAXW
    )
    enc = _round_ctes("E", "cF", UNIGRAM_LMAX, _TX28_MAXW)
    return f"""WITH {_tx20_ctes()}, {uni}{enc}
, bmap AS (
  SELECT replace(rep, ' ', '') AS word,
         CAST(len(string_split(trim(rep), ' ')) AS BIGINT) AS n_sub
  FROM v{n}
), bstats AS (
  SELECT CAST(SUM(v.freq) AS BIGINT) AS n_words,
         CAST(SUM(v.freq * b.n_sub) AS BIGINT) AS n_pieces,
         CAST(SUM(v.freq * length(v.word)) AS BIGINT) AS n_chars
  FROM wv v JOIN bmap b USING (word)
), bvocab AS (
  SELECT CAST(COUNT(DISTINCT s) AS BIGINT) AS nv FROM (
    SELECT unnest(string_split(trim(rep), ' ')) AS s FROM v{n})
), umap AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_sub
  FROM emE GROUP BY word
), ustats AS (
  SELECT CAST(SUM(v.freq) AS BIGINT) AS n_words,
         CAST(SUM(v.freq * u.n_sub) AS BIGINT) AS n_pieces,
         CAST(SUM(v.freq * length(v.word)) AS BIGINT) AS n_chars
  FROM wv v JOIN umap u USING (word)
), uvocab AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM fin
)
SELECT * FROM (
  SELECT 'bpe' AS tokenizer, b.n_words, b.n_pieces,
         b.n_pieces * 1000 // b.n_words AS fertility_milli,
         b.n_chars * 1000 // b.n_pieces AS chars_per_piece_milli,
         (SELECT nv FROM bvocab) AS vocab_size
  FROM bstats b
  UNION ALL
  SELECT 'unigram', u.n_words, u.n_pieces,
         u.n_pieces * 1000 // u.n_words,
         u.n_chars * 1000 // u.n_pieces,
         (SELECT nv FROM uvocab)
  FROM ustats u
) ORDER BY tokenizer"""


@register("tx30_tokenizer_comparison", oracle=_tx30_oracle())
def tx30_tokenizer_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vs unigram-LM, trained and measured on the SAME corpus —
    the deployment decision the tokenizer family exists to inform,
    as one hash-pinned row per tokenizer: corpus-weighted word count,
    total pieces, FERTILITY (pieces per word, integer millis — the
    number that multiplies every downstream training FLOP), chars per
    piece (compression), and final vocabulary size. Both chains are
    the registered trainers verbatim (tx20's 8 merge rounds; tx28's
    3 EM rounds + prune), so this row can never drift from what
    tx20/tx28 actually learn; the oracle composes BOTH unrolled
    fragments in one WITH (the unigram head CTE was renamed ``uw``
    for exactly this composability). Measured at sf0.01 (pinned in
    tests/test_parity.py): BPE's 8 merges leave a 32-symbol vocab at
    fertility 3.737 and 1.206 chars/piece; the unigram model's 44
    pieces reach fertility 2.635 and 1.710 chars/piece — 29% fewer
    pieces for the same corpus at a comparable vocab size, because
    the unigram objective buys high-frequency 4-gram pieces and
    whole short words directly where BPE's bottom-up pair merges
    spend early rounds on sub-word fragments (the Bostrom & Durrett
    2020 finding, reproduced in exact integers on synthetic text).
    Weighted by corpus occurrences
    (wv.freq), not distinct words, because fertility bills by
    occurrence. Scale: both trainers are vocab-sized (the corpus
    scans once into wv); the comparison adds two equi-joins and two
    1-row aggregates."""
    from ..operators.text import (
        bpe_train,
        bpe_vocab_map,
        unigram_encode,
        unigram_train,
    )

    docs = table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(
                F.expr("regexp_extract_all(text, '[a-zA-Z]+', 0)")
            ).alias("t")
        )
        .select(F.lower(F.col("t")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .localCheckpoint(eager=True)
    )
    bvocab = words.select(
        F.concat(
            F.lit(" "),
            F.array_join(F.expr("regexp_extract_all(word, '[a-z]', 0)"), " "),
            F.lit(" "),
        ).alias("rep"),
        "freq",
    )
    # The two trainers are independent driver-blocking round loops
    # (BPE merge rounds, unigram EM rounds) over the same checkpointed
    # vocab — run them on concurrent driver threads (guide §2.6 / the
    # pq_codebooks precedent); each learns from `words` only.
    from concurrent.futures import ThreadPoolExecutor

    def _bpe() -> DataFrame:
        _, fv = bpe_train(bvocab, "rep", "freq", n_merges=_TX20_N_MERGES)
        return fv.localCheckpoint(eager=True)

    def _uni() -> DataFrame:
        return unigram_train(words, max_word_len=_TX28_MAXW).localCheckpoint(
            eager=True
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        bpe_f = pool.submit(_bpe)
        uni_f = pool.submit(_uni)
        final_v = bpe_f.result()
        model = uni_f.result()
    bmap = bpe_vocab_map(final_v).select("word", "n_sub")
    bn_vocab = (
        final_v.select(F.explode(F.split(F.trim("rep"), " ")).alias("s"))
        .agg(F.countDistinct("s").cast("long").alias("nv"))
    )
    umap = unigram_encode(words, model, max_word_len=_TX28_MAXW).select(
        "word", F.col("n_pieces").alias("n_sub")
    )
    un_vocab = model.agg(F.count(F.lit(1)).cast("long").alias("nv"))

    def stats(name: str, wmap: DataFrame, nvocab: DataFrame) -> DataFrame:
        return (
            words.join(wmap, "word")
            .agg(
                F.sum("freq").cast("long").alias("n_words"),
                F.sum(F.col("freq") * F.col("n_sub")).cast("long").alias("n_pieces"),
                F.sum(F.col("freq") * F.length("word")).cast("long").alias("_nc"),
            )
            .crossJoin(F.broadcast(nvocab))
            .select(
                F.lit(name).alias("tokenizer"),
                "n_words",
                "n_pieces",
                F.expr("n_pieces * 1000 DIV n_words").alias("fertility_milli"),
                F.expr("_nc * 1000 DIV n_pieces").alias("chars_per_piece_milli"),
                F.col("nv").alias("vocab_size"),
            )
        )

    return (
        stats("bpe", bmap, bn_vocab)
        .unionByName(stats("unigram", umap, un_vocab))
        .orderBy("tokenizer")
    )


# ---------------------------------------------------------------------------
# tx31 — robust length-gate calibration (exact median/MAD operating
# points). Registered in OVERFLOW.
# ---------------------------------------------------------------------------

_TX31_KS = (1500, 2000, 3000, 4448)  # 4448 milli ≈ 3σ / 0.6745


def _tx31_oracle() -> str:
    """GENERATED from the operator spec: lower-median order statistic
    (rank (n+1)//2, value/id total order) for both the value and the
    deviation pass — operators/text.py grouped_median_mad replayed —
    then the four milli-threshold outlier counts."""
    outs = ",\n       ".join(
        f"CAST(SUM(CASE WHEN dv * 1000 > {k} * mad THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS out_k{k}"
        for k in _TX31_KS
    )
    return f"""
WITH d AS (
  SELECT doc_id, source,
         COALESCE(CAST(len(list_filter(string_split(text, ' '),
                                       t -> t != '')) AS BIGINT), 0) AS n_tok
  FROM documents
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY n_tok, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM d
), med AS (
  SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
         MAX(CASE WHEN rn = (n + 1) // 2 THEN n_tok END) AS med
  FROM r GROUP BY source
), dev AS (
  SELECT d.source, d.doc_id, ABS(d.n_tok - m.med) AS dv
  FROM d JOIN med m USING (source)
), r2 AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY dv, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM dev
), mad AS (
  SELECT source, MAX(CASE WHEN rn = (n + 1) // 2 THEN dv END) AS mad
  FROM r2 GROUP BY source
)
SELECT m.source, m.n_docs, m.med AS med_tok, m2.mad AS mad_tok,
       CAST(MAX(dev.dv) AS BIGINT) AS max_dev,
       {outs}
FROM med m
JOIN mad m2 ON m2.source = m.source
JOIN dev ON dev.source = m.source
GROUP BY 1, 2, 3, 4
ORDER BY 1
"""


@register("tx31_mad_length_gate", oracle=_tx31_oracle())
def tx31_mad_length_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust length-gate CALIBRATION: per-source exact lower-median /
    MAD of whitespace token counts, with outlier counts at four
    milli-thresholds (dev·1000 > k·MAD for k = 1500/2000/3000/4448 —
    4448 being the 3σ-equivalent 3/0.6745). Median/MAD are the gate
    statistics that do NOT move with the outliers they hunt (50%
    breakdown vs mean/stddev's 0%), and the operating-point sweep is
    the dd18/dd19 run-the-measurement-first discipline applied to
    length gating: MEASURED HERE, this corpus is short-tailed —
    max_dev/MAD ≈ 2–3 per source, so the textbook 3σ-equivalent gate
    flags ZERO documents everywhere, k=3.0 flags 10 of 500 (confined
    to the three tightest-MAD sources), k=2.0 flags 58, k=1.5 flags
    122. A
    pipeline porting web-corpus length-gate constants onto data like
    this would silently no-op; this row is how you see that before
    shipping the gate.

    Everything is an exact integer ORDER STATISTIC — the lower median
    (rank (n+1) div 2) is always an actual data value, never an
    interpolated .5 — via operators/text.py grouped_median_mad (two
    group-partitioned rank windows with a broadcast between; the q45
    log-histogram sketch is the mergeable 100 TB counterpart, this
    the exact calibration tool). DuckDB-hash-verified."""
    from ..operators.packing import whitespace_token_count
    from ..operators.text import grouped_median_mad

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        whitespace_token_count(F.col("text")).alias("n_tok"),
    )
    stats = grouped_median_mad(docs, "source", "n_tok", "doc_id")
    dev = docs.join(F.broadcast(stats), "source").withColumn(
        "dv", F.abs(F.col("n_tok") - F.col("med"))
    )
    aggs = [
        F.max("dv").cast("long").alias("max_dev"),
    ] + [
        F.sum(
            F.when(F.col("dv") * 1000 > F.lit(k) * F.col("mad"), 1).otherwise(0)
        )
        .cast("long")
        .alias(f"out_k{k}")
        for k in _TX31_KS
    ]
    return (
        dev.groupBy(
            "source",
            F.col("n").alias("n_docs"),
            F.col("med").alias("med_tok"),
            F.col("mad").alias("mad_tok"),
        )
        .agg(*aggs)
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# tx32 — Zipf-exponent fit per source: the corpus-statistics
# diagnostic in exact integer millibits. Registered in OVERFLOW.
# ---------------------------------------------------------------------------


def _tx32_oracle() -> str:
    """GENERATED from the operator constants: token frequencies, the
    per-source (freq desc, token) rank, milli_log2 of rank and freq
    via the shared fragment, q50's five-sums OLS with the sign-split
    truncating division (single multiply — |num|·1e6 fits int64 at
    this point count)."""
    from ._bm25_sql import _milli_log2_sql

    ml = _milli_log2_sql
    return f"""
WITH toks AS (
  SELECT source, unnest(list_filter(string_split(text, ' '),
                                    t -> t != '')) AS tok
  FROM documents
), freq AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS f
  FROM toks GROUP BY 1, 2
), ranked AS (
  SELECT source, f,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY f DESC, tok ASC) AS rk
  FROM freq
), pts AS (
  SELECT source,
         CAST({ml('rk')} AS BIGINT) AS x,
         CAST({ml('f')}  AS BIGINT) AS y
  FROM ranked
), a AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT)     AS n,
         CAST(SUM(x) AS BIGINT)       AS sx,
         CAST(SUM(y) AS BIGINT)       AS sy,
         CAST(SUM(x * y) AS BIGINT)   AS sxy,
         CAST(SUM(x * x) AS BIGINT)   AS sxx
  FROM pts GROUP BY source
), b AS (
  SELECT source, n,
         ABS(n * sxy - sx * sy) AS mag,
         CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END AS sgn,
         n * sxx - sx * sx AS den
  FROM a WHERE n >= 2
)
SELECT source, n AS n_ranks,
       CAST(sgn * ((mag * 1000000) // den) AS BIGINT) AS zipf_micro
FROM b
ORDER BY source
"""


@register("tx32_zipf_exponent", oracle=_tx32_oracle())
def tx32_zipf_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-exponent fit per source — the log-log OLS slope of token
    frequency against frequency rank, in exact integer micro units
    (milli_log2 for both axes, q50's five-sums closed form with the
    sign-split truncating division; |num|·1e6 fits int64 at ≤ 31
    points so no long division is needed). Natural language sits near
    slope −1 (Zipf's law); the diagnostic exists to CHECK that before
    any frequency-calibrated gate (stopword pruning, surprisal bands,
    BM25 idf floors) imports natural-text constants. MEASURED at
    sf0.01: sources fit −0.15…−0.36 (micro −150,513…−364,119 over
    n_ranks 30–31) — this synthetic corpus draws tokens near-uniformly
    and is decisively NOT Zipfian, which is exactly why tx27's BM25
    found a single informative term and tx23's surprisal bands are
    narrow: the flat unigram distribution is now pinned as a number
    rather than inferred from downstream symptoms.

    Plan shape: one token explode + (source, token) count (map-side
    combined), one per-source rank window over the vocab-sized
    frequency table, one five-sums aggregation. The window operates
    on |vocab| rows per source, never on token occurrences."""
    docs = table(spark, sf_dir, "documents")
    from ..functions import milli_log2

    # Explode first, filter with a codegen'd column predicate — an
    # F.filter(...) HOF lambda is interpreted per element, and the
    # token-occurrence stream is the largest frame in this query.
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    freq = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.col("f").desc(), F.col("tok"))
    pts = freq.withColumn("rk", F.row_number().over(w)).select(
        "source",
        milli_log2("rk").alias("x"),
        milli_log2("f").alias("y"),
    )
    a = pts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    mag = F.abs(num) * 1_000_000
    q = ((mag - (mag % den)) / den).cast("long")
    return (
        a.where(F.col("n") >= 2)
        .select(
            "source",
            F.col("n").alias("n_ranks"),
            (F.when(num < 0, -q).otherwise(q)).alias("zipf_micro"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# tx33 — Heaps-law vocabulary-growth exponent per source (tx32's
# companion diagnostic on the other axis). Registered in OVERFLOW.
# ---------------------------------------------------------------------------


def _tx33_oracle() -> str:
    """GENERATED: per-doc token counts + first-occurrence counts,
    per-source cumulative (N_i, V_i) curve in doc_id order, milli_log2
    both axes via the shared fragment, q50's five-sums OLS with the
    3-step ·1000 LONG DIVISION (doc-sized point counts overflow tx32's
    single-multiply form — n²·ml2² · 1e6 passes 2^63 near 500
    points)."""
    from ._bm25_sql import _milli_log2_sql

    ml = _milli_log2_sql
    return f"""
WITH toks AS (
  SELECT source, doc_id,
         unnest(list_filter(string_split(text, ' '), t -> t != '')) AS tok
  FROM documents
), per_doc AS (
  SELECT source, doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
  FROM toks GROUP BY 1, 2
), fo AS (
  SELECT source, tok, MIN(doc_id) AS fdoc
  FROM toks GROUP BY 1, 2
), new_per_doc AS (
  SELECT source, fdoc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_new
  FROM fo GROUP BY 1, 2
), curve AS (
  SELECT p.source, p.doc_id,
         CAST(SUM(p.n_tok) OVER (PARTITION BY p.source ORDER BY p.doc_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cum,
         CAST(SUM(COALESCE(np.n_new, 0)) OVER (PARTITION BY p.source
                            ORDER BY p.doc_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS v_cum
  FROM per_doc p LEFT JOIN new_per_doc np
    ON p.source = np.source AND p.doc_id = np.doc_id
), pts AS (
  SELECT source,
         CAST({ml('n_cum')} AS BIGINT) AS x,
         CAST({ml('v_cum')} AS BIGINT) AS y
  FROM curve WHERE n_cum >= 1 AND v_cum >= 1
), a AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT)     AS n,
         CAST(SUM(x) AS BIGINT)       AS sx,
         CAST(SUM(y) AS BIGINT)       AS sy,
         CAST(SUM(x * y) AS BIGINT)   AS sxy,
         CAST(SUM(x * x) AS BIGINT)   AS sxx
  FROM pts GROUP BY source
), b AS (
  SELECT source, n,
         ABS(n * sxy - sx * sy) AS mag,
         CASE WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 1 END AS sgn,
         n * sxx - sx * sx AS den
  FROM a WHERE n >= 2 AND n * sxx - sx * sx > 0
), ld AS (
  SELECT source, n, sgn, den,
         (mag * 1000) // den AS q1, (mag * 1000) % den AS r1
  FROM b
), ld2 AS (
  SELECT source, n, sgn, den, q1,
         (r1 * 1000) // den AS q2, (r1 * 1000) % den AS r2
  FROM ld
), fit AS (
  SELECT source, n,
         CAST(sgn * (q1 * 1000000 + q2 * 1000 + (r2 * 1000) // den)
              AS BIGINT) AS heaps_nano
  FROM ld2
), tot AS (
  SELECT source,
         CAST(MAX(n_cum) AS BIGINT) AS n_tokens,
         CAST(MAX(v_cum) AS BIGINT) AS vocab
  FROM curve GROUP BY source
)
SELECT f.source, f.n AS n_points, t.n_tokens, t.vocab, f.heaps_nano
FROM fit f JOIN tot t ON f.source = t.source
ORDER BY f.source
"""


@register("tx33_heaps_exponent", oracle=_tx33_oracle())
def tx33_heaps_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth fit per source — the log-log OLS
    slope of cumulative DISTINCT vocabulary V against cumulative token
    count N along the doc_id-ordered corpus, in exact integer NANO
    units (milli_log2 both axes, q50's five-sums + 3-step ·1000 long
    division — tx32's single-multiply form overflows int64 at
    doc-sized point counts). Natural text fits β ≈ 0.4–0.6 (Heaps'
    law: V ≈ K·N^β, vocabulary grows forever); tx32's companion on
    the other axis of the same question — tx32 asks how frequency
    decays across the vocabulary, tx33 asks how the vocabulary GROWS
    with the corpus. The number gates tokenizer sizing and streaming-
    vocab maintenance: a saturating corpus (β → 0) means a fixed
    vocab is safe and a maintained vocab re-learns rarely; a β ≈ 0.5
    corpus means vocab tables grow with √N and every fixed-vocab
    tokenizer sheds coverage at scale. MEASURED at sf0.01: every
    source saturates its 30–31-token vocabulary within the first few
    documents — β fits 0.033–0.092 (heaps_nano 33.2M–92.0M), the
    early-growth points dragging an otherwise-flat curve — the
    growth-side fingerprint of the same synthetic flatness tx32
    pinned (−0.15…−0.36 vs Zipf's −1), now a number instead of an
    inference.

    Plan shape: one token explode feeding two map-side-combined
    aggregations (per-doc counts; per-(source, token) first
    occurrence), two per-source cumulative windows over DOC-sized
    frames (never token occurrences — the tx32 window rule), one
    five-sums aggregation. First-occurrence is itself the streaming-
    novelty primitive: n_new per (source, doc) is exactly what an
    incremental vocab maintainer adds per batch."""
    from pyspark.sql import Window

    from ..functions import milli_log2

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    per_doc = toks.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok")
    )
    new_per_doc = (
        toks.groupBy("source", "tok")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("source", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = (
        per_doc.join(new_per_doc, ["source", "doc_id"], "left")
        .select(
            "source",
            "doc_id",
            F.sum("n_tok").over(w).alias("n_cum"),
            F.sum(F.coalesce(F.col("n_new"), F.lit(0).cast("long")))
            .over(w)
            .alias("v_cum"),
        )
        .localCheckpoint(eager=True)
    )
    pts = curve.where((F.col("n_cum") >= 1) & (F.col("v_cum") >= 1)).select(
        "source",
        milli_log2("n_cum").alias("x"),
        milli_log2("v_cum").alias("y"),
    )
    a = pts.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    ad = a.select(
        "source",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
    )
    # True 64-bit integer division (Spark DIV == DuckDB // for the
    # non-negative operands here; den > 0 filtered, magnitudes via
    # abs).  A double-rounded (x - x%y)/y form is only exact while the
    # dividend stays below 2^53, and mag*1000 scales with doc counts ×
    # milli_log2² — past the sf0.01 verification gate it can cross
    # that bound and truncate one low.  ANSI mode keeps any genuine
    # int64 overflow loud rather than silent.
    q1 = F.expr("(abs(num) * 1000) DIV den")
    q2 = F.expr("(((abs(num) * 1000) % den) * 1000) DIV den")
    q3 = F.expr("((((abs(num) * 1000) % den) * 1000 % den) * 1000) DIV den")
    nano = q1 * 1_000_000 + q2 * 1000 + q3
    fit = (
        ad.where((F.col("n") >= 2) & (F.col("den") > 0))
        .select(
            "source",
            F.col("n").alias("n_points"),
            (F.when(F.col("num") < 0, -nano).otherwise(nano))
            .cast("long")
            .alias("heaps_nano"),
        )
    )
    tot = curve.groupBy("source").agg(
        F.max("n_cum").cast("long").alias("n_tokens"),
        F.max("v_cum").cast("long").alias("vocab"),
    )
    return (
        fit.join(tot, "source")
        .select("source", "n_points", "n_tokens", "vocab", "heaps_nano")
        .orderBy("source")
    )
