"""Multimodal column plumbing (X12): image/audio/video as opaque
``binary`` columns with typed metadata, processed by Arrow-batched
``mapInPandas`` stages.

Design for 100 TB: media bytes ride in the DataFrame as ``binary``
columns next to their metadata struct. Feature extraction is per-row
CPU work with no cross-row dependency → ``mapInPandas``
(Arrow-batched; zero shuffle; batch size bounded via
``spark.sql.execution.arrow.maxRecordsPerBatch`` so a batch of large
blobs can't OOM an executor). No media decoder (PIL, ffmpeg,
torchcodec) is a dependency, so every operator here works on the raw
bytes: metadata, byte statistics, byte-window frames, chunk features
and byte-level perceptual hashes.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — module scope so pandas_udf type
# hints ('pd.Series') resolve at decoration time (same pattern as
# queries/text.py; TYPE_CHECKING-only broke byte_chunk_features).
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "MEDIA_META_SCHEMA",
    "attach_media_meta",
    "sample_frames",
    "media_byte_stats",
    "byte_chunk_features",
    "byte_simhash",
    "byte_phash64",
    "PHASH_DCT_1024",
]

# Typed metadata carried beside every media blob.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("format", T.StringType()),  # png|jpeg|wav|mp4|...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def attach_media_meta(
    df: DataFrame, binary_col: str, media_type: str, fmt: str
) -> DataFrame:
    """Stamp the typed metadata struct for an opaque binary column
    (sizes from the bytes themselves; dims unknown until decode)."""
    return df.withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(fmt).alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.octet_length(F.col(binary_col)).cast("long").alias("n_bytes"),
        ),
    )


def sample_frames(
    df: DataFrame, id_col: str, binary_col: str, every_n_bytes: int = 1024
) -> DataFrame:
    """'Frame sampling' stub: emits one row per sampled offset of the
    blob (stand-in for video frame extraction). Real shape: explode on
    the executor, no driver involvement — a posexplode over a computed
    offsets array."""
    offsets = F.sequence(
        F.lit(0),
        F.greatest(F.octet_length(F.col(binary_col)).cast("int") - 1, F.lit(0)),
        F.lit(every_n_bytes),
    )
    return df.select(
        F.col(id_col).alias("media_id"),
        F.posexplode(offsets).alias("frame_idx", "byte_offset"),
    )


def media_byte_stats(df: DataFrame, binary_col: str, group_col: str) -> DataFrame:
    """Byte-level stats per group — pure JVM octet arithmetic."""
    n = F.count(F.lit(1))
    return df.groupBy(group_col).agg(
        n.alias("n"),
        F.sum(F.octet_length(binary_col).cast("long")).alias("total_bytes"),
        (F.sum(F.octet_length(binary_col).cast("long")).cast("double") / n).alias("avg_bytes"),
    )


def byte_chunk_features(
    df: DataFrame, binary_col: str, n_chunks: int = 8
) -> DataFrame:
    """Deterministic feature extraction over an opaque binary column —
    the embedding-from-media stage with the Spark plumbing real and
    the featurizer a stand-in: the blob splits into ``n_chunks`` equal
    byte ranges (last ranges may be short/empty) and each chunk's
    exact byte-value sum becomes one int64 feature. A production
    deployment swaps the per-batch numpy body for a real encoder
    (CLIP/CLAP image or audio towers) — batch iteration, Arrow
    transfer, output schema, and downstream consumers are unchanged,
    which is the point of the stub.

    Adds ``_feat`` (array<long>, length ``n_chunks``). Arrow-batched
    scalar pandas_udf; map-only, no shuffle; per-row cost linear in
    blob size with zero cross-row state, so the stage scales with
    executor count exactly like a real featurizer."""
    import numpy as np

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _feats(blobs: "pd.Series") -> "pd.Series":
        out = []
        for b in blobs:
            a = np.frombuffer(b if b is not None else b"", dtype=np.uint8)
            n = len(a)
            step = -(-n // n_chunks) if n else 1
            out.append(
                [int(a[i * step:(i + 1) * step].sum(dtype=np.int64))
                 for i in range(n_chunks)]
            )
        return pd.Series(out)

    return df.withColumn("_feat", _feats(F.col(binary_col)))


# Integer DCT-II basis for the 8×8 pHash grid, scaled by 1024:
# D[u][x] = round(1024 · c_u · cos(π(2x+1)u/16)), c_0 = √(1/8),
# c_u = 1/2 otherwise. Generated ONCE here and single-sourced into
# both the Arrow kernel and the mm06 DuckDB oracle (the ss29
# sign-matrix rule), so any platform's cos rounding cancels — plan
# and oracle always share the identical matrix.
def _phash_dct_matrix() -> list[list[int]]:
    import math

    rows = []
    for u in range(8):
        c = math.sqrt(1.0 / 8.0) if u == 0 else 0.5
        rows.append(
            [
                round(1024 * c * math.cos(math.pi * (2 * x + 1) * u / 16.0))
                for x in range(8)
            ]
        )
    return rows


PHASH_DCT_1024 = _phash_dct_matrix()


def byte_phash64(
    df: DataFrame, binary_col: str, grid: int = 8
) -> DataFrame:
    """Perceptual hash (pHash, DCT-grid family) over an opaque binary
    column, in EXACT integer arithmetic — the media near-dup
    fingerprint for RE-ENCODED copies, which byte-k-gram SimHash
    (``byte_simhash``/mm05) misses: re-encoding rewrites most byte
    k-grams, but preserves the coarse low-frequency structure pHash
    keys on.

    Pipeline (the public pHash recipe with the decode stage standing
    on this module's fake-backend surface): (1) "decode" the blob to
    an 8×8 integer grid — cell i is the exact byte-value sum of the
    i-th of 64 equal stride blocks (the byte_chunk_features chunking,
    2-D); (2) 2-D DCT-II via the fixed integer matrix
    ``PHASH_DCT_1024`` (T = D·G·Dᵀ in int64 — |G| ≤ 2^40-ish byte
    sums × 1024² basis keeps every intermediate far below 2^63);
    (3) drop the DC coefficient, take the LOWER median of the
    remaining 63 (the (n+1) div 2 order statistic — the tx31
    convention), set bit i iff T_i > median. 63-bit hash in an int64.
    A production deployment swaps stage (1) for a real
    decode+grayscale+downsample with the same (blob → 8×8 int grid)
    contract; stages (2)–(3) are the algorithm and stay.

    Adds ``phash`` (long). Arrow-batched pandas_udf, map-only; pair
    generation is the caller's blocked XOR+popcount join (mm06 bands
    the 63 bits so candidate pairs share a 16-bit segment — pigeonhole
    recall 1.0 for hamming ≤ 3 at 4 bands). Empty/NULL blobs hash to
    0 (zero grid ⇒ zero DCT ⇒ no bit exceeds the zero median — the
    byte_simhash convention), so two empty blobs pair at hamming 0:
    filter empties upstream if that reading is unwanted."""
    if grid != 8:
        raise ValueError("byte_phash64 implements the 8x8 DCT grid")
    import numpy as np

    D = np.array(PHASH_DCT_1024, dtype=np.int64)

    @F.pandas_udf(T.LongType())
    def _ph(blobs: "pd.Series") -> "pd.Series":
        out = []
        for b in blobs:
            a = np.frombuffer(b if b is not None else b"", dtype=np.uint8)
            a = a.astype(np.int64)
            n = len(a)
            step = -(-n // 64) if n else 1
            cells = np.zeros(64, dtype=np.int64)
            if n:
                idx = np.arange(0, n, step)
                sums = np.add.reduceat(a, idx)
                cells[: len(sums)] = sums
            G = cells.reshape(8, 8)
            Tm = D @ G @ D.T  # exact int64
            flat = Tm.reshape(-1)[1:]  # drop DC
            med = int(np.partition(flat, 31)[31])  # lower median of 63
            bits = flat > med
            h = 0
            for i, bit in enumerate(bits):
                if bit:
                    h |= 1 << i
            out.append(h)
        return pd.Series(out)

    return df.withColumn("phash", _ph(F.col(binary_col)))


def byte_simhash(
    df: DataFrame,
    binary_col: str,
    k: int = 4,
    bits: int = 30,
    p: int = 1_000_000_007,
) -> DataFrame:
    """SimHash over byte k-grams of an opaque binary column — the
    media near-dup fingerprint (re-encoded/truncated/metadata-tweaked
    copies of a blob share most byte k-grams, so their simhashes sit
    a few bits apart; contrast exact content-hash dedup, which any
    single-byte change defeats). Works on RAW BYTES: no tokenizer, no
    text assumption — the form that applies to real image/audio blobs
    unchanged.

    Per gram the hash is the Horner fold (…((b0·131 + b1) mod p)·131
    … + b{k-1}) mod p — byte-level twin of ``shingle_tokens``'s
    schedule, intermediates < p·131 + 255 so exact in int64; blobs
    shorter than k yield ONE gram with missing positions as 0 (the
    shingle_tokens convention; an empty blob hashes to simhash 0).
    Bit j of the simhash is set iff the majority of grams have bit j
    set (the dd04 rule; default 30 bits because gram hashes are < 2^30
    — wider settings only add zero bits).

    Adds ``simhash`` (long). Arrow-batched pandas_udf, map-only, the
    per-blob numpy body vectorized over the gram axis; cost linear in
    blob bytes with zero cross-row state — scales with executor count
    like any featurizer. Pair generation happens OUTSIDE (blocked
    XOR/popcount join, see mm05)."""
    import numpy as np

    @F.pandas_udf(T.LongType())
    def _sh(blobs: "pd.Series") -> "pd.Series":
        out = []
        for b in blobs:
            a = np.frombuffer(b if b is not None else b"", dtype=np.uint8)
            a = a.astype(np.int64)
            n = len(a)
            m = max(n - k + 1, 1)
            pad = np.concatenate([a, np.zeros(k - 1, dtype=np.int64)])
            h = np.zeros(m, dtype=np.int64)
            for j in range(k):
                h = (h * 131 + pad[j:j + m]) % p
            sh = 0
            for bit in range(bits):
                if 2 * int(((h >> bit) & 1).sum()) > m:
                    sh |= 1 << bit
            out.append(sh)
        return pd.Series(out)

    return df.withColumn("simhash", _sh(F.col(binary_col)))
