"""Engine column-expression library.

Pure ``pyspark.sql.functions`` compositions — everything here stays
JVM-side inside whole-stage codegen (no Python UDFs). Two conventions
make results *bit-deterministic* across engines (required because the
driver hash-compares our results against a DuckDB oracle):

1. **Integer-cents arithmetic** for money aggregates: doubles carry
   float noise and their sums depend on reduction order, so we round
   each value to an exact int64 at a fixed scale (`cents`; scale 10000
   for basis-point columns) and sum integers — associative,
   order-independent, identical in any engine. Divide back to a double
   only once at the end.
2. **Polynomial rolling hash** for text hashing: expressible in plain
   SQL in both Spark and DuckDB, unlike engine-specific hash functions
   (xxhash64 etc. don't line up across engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "cents",
    "poly_hash",
    "token_poly_hash",
    "quantized_dot",
    "quantized_norm_sq",
    "cosine_quantized",
    "quantize_vec",
    "norm_sq_prequantized",
    "dot_expanded",
    "cosine_prequantized",
    "milli_log2",
    "lit_long_array",
    "lit_long_matrix",
]

# Modulus for polynomial hashes: large prime < 2^31 so that
# acc*BASE + term stays well inside int64 ((1e9+7)*131 + 2^31 ~ 1.3e11).
POLY_P = 1_000_000_007
POLY_BASE = 131


def cents(col: Column | str, scale: int = 100) -> Column:
    """Exact integer representation of a ~2-decimal double: round(x*scale)::long."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * F.lit(scale)).cast("long")


def poly_hash(str_col: Column | str, p: int = POLY_P, base: int = POLY_BASE) -> Column:
    """Polynomial rolling hash of a string's UTF-8-ish char codes, mod p.

    h = fold(chars, acc -> (acc*base + ascii(ch)) % p). Deterministic,
    order-sensitive, and expressible in DuckDB SQL with list_reduce for
    oracle parity. Used as the document fingerprint and as the shingle
    hash underlying MinHash / SimHash.
    """
    c = F.col(str_col) if isinstance(str_col, str) else str_col
    # Filter empties: regex-split engines disagree on trailing ''.
    chars = F.filter(F.split(c, ""), lambda ch: ch != F.lit(""))
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * F.lit(base) + F.ascii(ch)) % F.lit(p),
    )


def token_poly_hash(tokens_col: Column, p: int = POLY_P, base: int = POLY_BASE) -> Column:
    """Map array<string> -> array<long> of per-token polynomial hashes."""
    return F.transform(
        tokens_col,
        lambda t: F.aggregate(
            F.filter(F.split(t, ""), lambda ch: ch != F.lit("")),
            F.lit(0).cast("long"),
            lambda acc, ch: (acc * F.lit(base) + F.ascii(ch)) % F.lit(p),
        ),
    )


def lit_long_array(vals) -> Column:
    """A constant ``array<bigint>`` rendered as ONE parsed SQL
    expression instead of one ``F.lit``/``.cast`` py4j round trip per
    element. Each py4j call costs ~2.5 ms of single-threaded DRIVER
    time, so a k=31 × dim=64 centroid matrix built element-wise burned
    ~10 s of pure plan construction per call site (measured, Spark
    4.1) — while the rendered string parses in ~0.1 s. After constant
    folding both forms optimize to the same Literal, so executed plans
    and results are bit-identical; only the driver-side build cost
    changes."""
    vals = [int(v) for v in vals]
    if not vals:
        raise ValueError("lit_long_array: empty literal array")
    return F.expr("array(" + ",".join(f"{v}L" for v in vals) + ")")


def lit_long_matrix(rows) -> Column:
    """A constant ``array<array<bigint>>`` (e.g. a centroid or sign
    matrix) as one parsed expression — see ``lit_long_array``."""
    rows = [[int(v) for v in r] for r in rows]
    if not rows or any(not r for r in rows):
        raise ValueError("lit_long_matrix: empty literal matrix/row")
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{v}L" for v in r) + ")" for r in rows
        )
        + ")"
    )


def _quantize(vec: Column, scale: int) -> Column:
    """array<float> -> array<long> with round(x*scale) per element."""
    return F.transform(vec, lambda x: F.round(x.cast("double") * F.lit(float(scale))).cast("long"))


def quantized_dot(a: Column, b: Column, scale: int = 10_000) -> Column:
    """Exact int64 dot product of two quantized vectors.

    64-dim float vectors in [-1,1] quantized at 1e4: per-term max 1e8,
    sum max ~6.4e9 — far inside int64. Being integer math, the result
    is identical regardless of summation order or engine.
    """
    qa, qb = _quantize(a, scale), _quantize(b, scale)
    return F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def quantized_norm_sq(a: Column, scale: int = 10_000) -> Column:
    return norm_sq_prequantized(_quantize(a, scale))


def cosine_quantized(a: Column, b: Column, scale: int = 10_000) -> Column:
    """Cosine similarity over quantized vectors: exact-int dot & norms,
    one final double division → deterministic across engines."""
    dot = quantized_dot(a, b, scale).cast("double")
    na = F.sqrt(quantized_norm_sq(a, scale).cast("double"))
    nb = F.sqrt(quantized_norm_sq(b, scale).cast("double"))
    return dot / (na * nb)


def quantize_vec(col: Column | str, scale: int = 10_000) -> Column:
    """array<float> → array<long>, quantized ONCE PER ROW.

    The pair-scoring hot path (a join) must not re-quantize per
    candidate pair: compute this in a projection BEFORE the join and
    score pre-quantized arrays with ``dot_expanded``. The HOF transform
    is interpreted per element, but it runs dim ops per row — the join
    runs dim ops per PAIR, which is where codegen matters.
    """
    c = F.col(col) if isinstance(col, str) else col
    return _quantize(c, scale)


def norm_sq_prequantized(qvec: Column) -> Column:
    """Exact int64 squared norm of an already-quantized array — also a
    per-row, pre-join quantity."""
    return F.aggregate(
        F.transform(qvec, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def dot_expanded(a: Column | str, b: Column | str, dim: int) -> Column:
    """Flat ``dim``-term int64 dot product over PRE-QUANTIZED arrays.

    Whole-stage-codegen sizing is the whole point: one multiply and two
    array loads per term keeps a broadcast join's generated doConsume
    method well under the JVM's 64 KB bytecode limit. The previous
    fully-expanded form (quantize + dot + both norms inline = 192
    round/cast terms per pair) exceeded it, and Spark silently dropped
    the entire join stage to interpreted evaluation — the worst of both
    worlds at 100 TB. Norms belong in per-row projections
    (``norm_sq_prequantized``), not here.

    Pass COLUMN NAMES when you have them: the name form renders the
    whole chain as one parsed SQL expression (a py4j call per term
    costs ~2.5 ms of driver time — ~0.8 s of plan construction per
    64-dim call site, the r13 lit_long_array lesson); the parsed tree
    is identical, so codegen and results are unchanged. Column
    arguments keep the py4j path for composed expressions.
    """
    if isinstance(a, str) or isinstance(b, str):
        # Either-str coerces BOTH through the rendered path (a mixed
        # (str, Column) call used to fall through to the slow py4j
        # loop silently — ADVICE r13). Names are backtick-quoted so a
        # dotted/special name parses as one identifier, matching the
        # Column form this mirrors; a name containing a backtick has
        # no SQL-identifier spelling, so refuse it loudly.
        def q(c: Column | str) -> str:
            if not isinstance(c, str):
                raise TypeError(
                    "dot_expanded: mix of str and Column arguments — "
                    "pass both as names or both as Columns"
                )
            if "`" in c:
                raise ValueError(
                    f"dot_expanded: column name {c!r} contains a backtick"
                )
            return f"`{c}`"

        a_s, b_s = q(a), q(b)
        return F.expr(
            " + ".join(
                f"element_at({a_s}, {j + 1}) * element_at({b_s}, {j + 1})"
                for j in range(dim)
            )
        )

    def t(c: Column, j: int) -> Column:
        return F.element_at(c, j + 1)

    acc = t(a, 0) * t(b, 0)
    for j in range(1, dim):
        acc = acc + t(a, j) * t(b, j)
    return acc


def cosine_prequantized(
    qa: Column, qb: Column, na_sq: Column, nb_sq: Column, dim: int
) -> Column:
    """Cosine from pre-quantized arrays + precomputed squared norms:
    bit-identical to ``cosine_quantized`` (same quantization, exact
    integer dot, one final double expression), but the only per-pair
    work is the flat dot product."""
    return dot_expanded(qa, qb, dim).cast("double") / (
        F.sqrt(na_sq.cast("double")) * F.sqrt(nb_sq.cast("double"))
    )


def cosine_prequantized_hof(
    qa: Column, qb: Column, na_sq: Column, nb_sq: Column
) -> Column:
    """``cosine_prequantized`` with the dot as zip_with + aggregate
    instead of the flat ``dim``-term expression — bit-identical values
    (same exact-int sum, same final double expression).

    Measured A/B (Spark 4.1, sf0.1, 777k candidate pairs inside a
    shuffled-hash join CONDITION): HOF 1.55 s vs flat 13.5 s — the
    64-term expanded Add/Multiply chain is pathological in 4.1's
    condition codegen, while zip_with/aggregate over primitive long
    arrays runs a tight specialized loop. The round-4 measurement that
    favored the flat form was a BROADCAST join's doConsume with the
    quantization inlined per pair; with pre-quantized arrays the HOF
    form wins in every context re-measured this round. Prefer this
    for new per-pair scoring; the flat form remains for the
    guard-tested ss01-family call sites pending their own A/B."""
    dot = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return dot.cast("double") / (
        F.sqrt(na_sq.cast("double")) * F.sqrt(nb_sq.cast("double"))
    )





def milli_log2(col: Column | str) -> Column:
    """Deterministic integer log2 in millibits: 1000·log2(x) for a
    POSITIVE long column, linearly interpolated between powers of two.

    f = ⌊log2 x⌋ comes from the binary-string length (length(bin(x))−1
    — exact integer, no libm), the fraction from exact integer
    division: 1000·f + (x − 2^f)·1000 div 2^f. The value always
    UNDER-approximates true log2: the chord-vs-curve gap contributes
    ≤ 86.07 mb and the integer floor ≤ 1000/2^f more — measured sup
    87.08 mb over x < 2^21, 86.77 asymptotically (property-test
    pinned at < 87.2). Plenty for surprisal scoring, and every step
    is integer math DuckDB replays verbatim
    (length(printf('%b',x)), <<, //). 2^f is exact through
    pow(2.0,f)→long (powers of two are exact doubles). Domain:
    0 < x < 2^54 — past that (x−2^f)·1000 would overflow int64, and
    BOTH engines fault loudly (ANSI/OutOfRange) rather than wrap;
    2^54 ≈ 1.8e16 token occurrences is far past a 100 TB corpus.
    """
    x = (F.col(col) if isinstance(col, str) else col).cast("long")
    f = (F.length(F.bin(x)) - F.lit(1)).cast("long")
    p = F.pow(F.lit(2.0), f.cast("double")).cast("long")
    rem = (x - p) * F.lit(1000)
    frac = ((rem - (rem % p)) / p).cast("long")
    return f * F.lit(1000) + frac
