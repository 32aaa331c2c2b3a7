"""Image near-duplicate detection: DCT perceptual hash + Hamming banding.

Training-data-pipeline operator over the images table (driver brief —
image axis).  Design for 100 TB:

- signature: decode (first-party codecs) → luminance → 32×32 area-mean
  resample (integral image, exact block means) → 2D DCT-II → top-left
  8×8 low-frequency band minus DC → median threshold → 64-bit pHash.
  One Arrow-batched pandas UDF; decode is per-image by nature but every
  later step runs on the whole batch as stacked numpy.
- pairing: pigeonhole banding (multi-index hashing): any pair within
  Hamming distance d agrees on at least one band of signature blocks, so
  the shared :func:`dedup.banded_pairs` kernel joins on ``(band, key)``
  carrying only (id, 8-byte signature), keeps each pair in its first
  agreeing band, and an exact ``bit_count`` verifies, all inside
  Catalyst.  No all-pairs stage anywhere; bucket sizes bound the only
  quadratic-risk step.  :func:`dedup.simhash_pairs` pairs the same way.

The reference has no image-dedup operator; this is a driver-brief
addition (LLM training-data pipeline family) built on the repo's
raster codecs (``raster/codec.py``, ``raster/jpeg.py``).
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from geowave_spark.operators.dedup import banded_pairs, replace_cache

__all__ = ["phash_from_pixels", "phash_udf", "hamming_pairs", "image_phash_neardup"]


def _dct_mat(n: int) -> np.ndarray:
    """Orthonormal DCT-II matrix (same convention as raster/jpeg.py)."""
    c = np.cos(
        (2 * np.arange(n)[None, :] + 1) * np.arange(n)[:, None] * np.pi / (2.0 * n)
    ) * np.sqrt(2.0 / n)
    c[0] *= 1.0 / np.sqrt(2.0)
    return c


_C32 = _dct_mat(32)


def _area_mean_32(g: np.ndarray) -> np.ndarray:
    """Exact area-mean downsample of a 2-D array to 32×32.

    Integral-image block sums over linspace boundaries; images smaller
    than 32 on a side are integer-upsampled first so every block is
    non-empty."""
    h, w = g.shape
    if h < 32:
        g = np.repeat(g, -(-32 // h), axis=0)
        h = g.shape[0]
    if w < 32:
        g = np.repeat(g, -(-32 // w), axis=1)
        w = g.shape[1]
    s = np.zeros((h + 1, w + 1), dtype=np.float64)
    np.cumsum(np.cumsum(g, axis=0, dtype=np.float64), axis=1, out=s[1:, 1:])
    ys = np.round(np.linspace(0, h, 33)).astype(np.int64)
    xs = np.round(np.linspace(0, w, 33)).astype(np.int64)
    y0, y1 = ys[:-1], ys[1:]
    x0, x1 = xs[:-1], xs[1:]
    block = (
        s[y1[:, None], x1[None, :]]
        - s[y0[:, None], x1[None, :]]
        - s[y1[:, None], x0[None, :]]
        + s[y0[:, None], x0[None, :]]
    )
    area = (y1 - y0)[:, None] * (x1 - x0)[None, :]
    return block / area


_LUMA = np.array([0.299, 0.587, 0.114])


def _luma_grid_32(px: np.ndarray) -> np.ndarray:
    """Decoded pixels → 32×32 luminance grid (the per-image prefix of the
    pHash pipeline; everything after this point batches across Arrow)."""
    if px.ndim == 3:
        g = px.astype(np.float64) @ _LUMA
    else:
        g = px.astype(np.float64)
    return _area_mean_32(g)


def phash_from_grids(grids: np.ndarray) -> np.ndarray:
    """Batched pHash: (B, 32, 32) luminance grids → (B,) int64 hashes.

    One einsum-shaped DCT over the whole stack (``C @ G @ Cᵀ`` broadcast
    across B), one row-wise median, one ``np.packbits`` — zero per-image
    Python after the decode loop.  Bit layout matches
    :func:`phash_from_pixels`: coefficient i (DC dropped) lands at bit
    62−i; bit 63 is the always-zero DC slot."""
    b = len(grids)
    f = np.matmul(np.matmul(_C32, grids), _C32.T)
    coeffs = f[:, :8, :8].reshape(b, 64)[:, 1:]  # drop DC
    med = np.median(coeffs, axis=1, keepdims=True)
    bits = np.zeros((b, 64), dtype=np.uint8)
    bits[:, 1:] = coeffs > med
    be = np.packbits(bits, axis=1).reshape(b, 8).view(">u8").ravel()
    # value-preserving to native uint64, then bit-reinterpret to signed
    return be.astype(np.uint64).view(np.int64)


def phash_from_pixels(px: np.ndarray) -> int:
    """Classic DCT pHash of one decoded image, as a signed 64-bit int.

    Luminance → 32×32 area mean → DCT-II → the 8×8 low-frequency
    corner, DC dropped → each of the remaining 63 coefficients
    thresholded against their median (bit 63 of the packed hash is the
    always-zero DC slot, keeping the layout a stable 64-bit word).

    Scalar loop kept deliberately independent of :func:`phash_from_grids`
    so the tests can cross-check the batched path against it."""
    f = _C32 @ _luma_grid_32(px) @ _C32.T
    low = f[:8, :8].ravel()
    coeffs = low[1:]  # drop DC: overall brightness must not flip bits
    bits = coeffs > np.median(coeffs)
    v = np.uint64(0)
    for bit in bits.tolist():
        v = (v << np.uint64(1)) | np.uint64(bit)
    iv = int(v)
    return iv - (1 << 64) if iv >= (1 << 63) else iv


def phash_udf(bytes_col: str = "bytes", fmt_col: str = "fmt"):
    """Column expression: (image bytes, format) → 64-bit pHash (long)."""

    @F.pandas_udf(LongType())
    def _ph(data: pd.Series, fmt: pd.Series) -> pd.Series:
        from geowave_spark.raster.codec import decode_image

        if not len(data):
            return pd.Series(np.zeros(0, dtype=np.int64))
        # decode is per-image by nature; every later step (DCT, median,
        # bit-pack) runs once on the stacked batch
        grids = np.empty((len(data), 32, 32), dtype=np.float64)
        for k, (raw, f) in enumerate(zip(data, fmt)):
            grids[k] = _luma_grid_32(decode_image(bytes(raw), f))
        return pd.Series(phash_from_grids(grids))

    return _ph(F.col(bytes_col), F.col(fmt_col))


def hamming_pairs(
    sig: DataFrame, max_hamming: int = 3, blocks_per_key: int = 1
) -> DataFrame:
    """All id pairs within ``max_hamming`` of their 64-bit signatures.

    ``sig`` must have columns ``_id`` and ``_sig`` (long).  Multi-index
    hashing (Manku et al. WWW'07 §3; Norouzi et al.): split the word into
    k = d + m blocks; a pair within distance d is clean on at least m
    blocks, so it shares the band keyed on those m blocks → one
    :func:`dedup.banded_pairs` join over the C(k, m) bands, then an exact
    popcount verify.  Recall is 1.0 and the row set is the same for every
    m.

    ``blocks_per_key`` (m) dials candidate volume, ∝ C(k,m)·n²/2^(m·width):
    d=4, m=2 turns 5 bands of 12-bit keys (n²/4096) into 15 bands of
    20-bit keys (n²/10^6).  Leftover bits when k does not divide 64 fold
    into the last block, so every bit is in exactly one block.  A band's
    key is the signature masked to its m blocks.  k ≥ 2 is required (a
    single whole-word band is an exact-match groupBy)."""
    m = blocks_per_key
    k = max_hamming + m
    if m < 1 or k < 2 or k > 64:
        raise ValueError(
            f"blocks_per_key {m} out of range for d={max_hamming}: "
            f"need 1 <= m and 2 <= d+m <= 64"
        )
    width = 64 // k
    # per-block bit widths: k-1 equal blocks + a last block absorbing the
    # remainder, covering all 64 bits
    widths = [width] * (k - 1) + [64 - (k - 1) * width]

    def band_mask(combo):
        # the combo's block bits, as a signed 64-bit literal: a band key is
        # the signature with every other block masked out
        mask = sum(((1 << widths[b]) - 1) << (b * width) for b in combo)
        return mask - (1 << 64) if mask >> 63 else mask

    band_keys = [
        lambda s, mask=band_mask(combo): s.bitwiseAND(mask)
        for combo in combinations(range(k), m)
    ]
    return (
        banded_pairs(sig, band_keys)
        .withColumn("hamming", F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def image_phash_neardup(
    images: DataFrame,
    max_hamming: int = 7,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    blocks_per_key: int = 1,
    signature_col: str | None = None,
) -> DataFrame:
    """Near-duplicate image pairs by DCT pHash within ``max_hamming`` bits.

    Output: (id_a, id_b, hamming), id_a < id_b lexicographically.
    Raise ``blocks_per_key`` for large corpora (see :func:`hamming_pairs`).

    ``signature_col`` names a pre-materialized 64-bit hash column (the
    images table's ``phash``) and skips decode.  Otherwise the (id,
    signature) projection is persisted and materialized before the band
    self-join, so the decode+DCT UDF runs once per image, not once per
    join side; the next call unpersists it."""
    if signature_col is not None:
        sig = images.select(
            F.col(id_col).alias("_id"),
            F.col(signature_col).cast("long").alias("_sig"),
        )
        return hamming_pairs(sig, max_hamming, blocks_per_key=blocks_per_key)
    sig = replace_cache(
        "phash",
        images.select(F.col(id_col).alias("_id"), phash_udf(bytes_col, fmt_col).alias("_sig")),
    )
    sig.count()  # materialize once: both self-join legs read the cache
    return hamming_pairs(sig, max_hamming, blocks_per_key=blocks_per_key)
