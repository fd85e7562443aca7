"""Perceptual image hashing + image near-duplicate pairs.

The image-side analog of the text near-dup stack: decode (any codec in
textops/multimodal), downscale to 32x32 by box/nearest sampling, 2-D
DCT (the 8x8 matrix machinery generalized to 32), keep the 8x8
low-frequency block minus DC, threshold at the median -> a 64-bit
pHash. Hashes that differ by a few bits are perceptually the same
image (re-encoded, resized, slightly cropped).

Candidate pairs use the same pigeonhole block join as SimHash
(textops/dedup.py): split the 64 bits into 4 x 16-bit blocks — any
pair within Hamming distance 3 shares at least one exact block — then
verify the exact distance with bit_count. Never all-pairs; the join
key is a 16-bit block value, bounded like the text path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..pipeline import per_document

PHASH_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("phash", LongType()),
    StructField("error", StringType()),
])


def phash64_pixels(px) -> int:
    """(h, w[, c]) uint8 -> 64-bit perceptual hash (int)."""
    import numpy as np

    a = np.asarray(px, dtype=np.float64)
    if a.ndim == 3:
        a = a.mean(axis=2)
    h, w = a.shape
    if h == 0 or w == 0:
        raise ValueError("empty image")
    # nearest-neighbor resample to 32x32 (deterministic, no deps)
    ys = (np.arange(32) * h) // 32
    xs = (np.arange(32) * w) // 32
    small = a[ys][:, xs]
    n = 32
    k = np.arange(n)
    c = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / (2 * n))
    # einsum with optimize=False keeps a fixed C-loop summation order,
    # so the hash is bit-reproducible across numpy builds/threading —
    # BLAS-threaded matmul reductions are allowed to reorder sums and
    # could flip knife-edge bits near the median
    dct = np.einsum("ij,jk,lk->il", c[:8], small, c[:8],
                    optimize=False)
    low = dct.flatten()[1:]  # 8x8 low-frequency block minus DC
    med = np.median(low)
    bits = low > med
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    return out


def phash_images(df: DataFrame, id_col: str = "media_id",
                 bytes_col: str = "data") -> DataFrame:
    """binary image column -> 64-bit pHash per row (Arrow-batched)."""

    def rows(mid, data):
        from .multimodal import _decode_pixels, image_error

        ph = None
        err = None
        try:
            ph = phash64_pixels(_decode_pixels(bytes(data)))
            # store as signed 64-bit
            if ph >= 1 << 63:
                ph -= 1 << 64
        except Exception as e:  # noqa: BLE001 — never-fatal contract
            err = image_error(e)
        return [(int(mid), ph, err)]

    return per_document(df.select(
        df[id_col].alias("media_id"), df[bytes_col].alias("data")
    ), rows, PHASH_SCHEMA)


def image_near_dups(df: DataFrame, max_distance: int = 3,
                    id_col: str = "media_id",
                    bytes_col: str = "data",
                    max_bucket_size: int | None = None) -> DataFrame:
    """Image near-duplicate pairs: pHash -> 4 x 16-bit pigeonhole
    blocks -> block-equality join -> exact Hamming verify. A pair
    within ``max_distance`` (< 4) bits must agree on at least one
    block, so the join is output-bound, not quadratic.

    ``max_bucket_size`` drops degenerate (block_n, block) keys — e.g.
    monochrome images that all collapse to the same pHash block value
    at corpus scale — same guard as minhash_lsh_pairs /
    embedding_near_dups; the self-join stays output-bound.

    The block table is hash-partitioned once on the join key, and both
    join sides and the cap read that one exchange: the Arrow
    decode+DCT UDF, the dominant cost, runs once per query, and only
    (media_id, phash, block_n, block) rows shuffle."""
    from .partitioning import bucket_rows

    hashed = (phash_images(df, id_col, bytes_col)
              .filter(F.col("error").isNull())
              .select("media_id", "phash"))
    blocks = bucket_rows(hashed.select(
        "media_id", "phash",
        F.posexplode(F.array(*[
            F.shiftrightunsigned("phash", 16 * i).bitwiseAND(F.lit(0xFFFF))
            for i in range(4)])).alias("block_n", "block")),
        ["block_n", "block"], max_bucket_size)
    pairs = (
        blocks.alias("a")
        .join(blocks.alias("b"),
              on=[F.col("a.block_n") == F.col("b.block_n"),
                  F.col("a.block") == F.col("b.block"),
                  F.col("a.media_id") < F.col("b.media_id")])
        .select(F.col("a.media_id").alias("id_a"),
                F.col("b.media_id").alias("id_b"),
                F.col("a.phash").alias("ph_a"),
                F.col("b.phash").alias("ph_b"))
        .distinct())
    dist = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (pairs
            .withColumn("hamming", dist.cast("int"))
            .filter(F.col("hamming") <= max_distance)
            .select("id_a", "id_b", "hamming"))

