"""Difference-hash (dHash) image dedup — the gradient-sign signature.

The classic public dHash (Krawetz, "Kind of Like That", hackerfactor
2013): split the image into a rows×(cols) grid of blocks and emit one
bit per horizontally-adjacent block pair — 1 iff the right block is
brighter than the left. With a 9-wide × 8-tall grid that is exactly
8×8 = 64 comparison bits.

This implementation compares block MEANS as exact integer
cross-products (``sum_right * n_left > sum_left * n_right`` over the
per-pixel channel-sum plane), never floats. That buys two *exact*
invariances no other tier in the engine has:

* **uniform brightness shift**: adding c to every channel of every
  pixel adds ``3*c*n`` to a block sum of n pixels, which cancels in
  the cross-product — every bit (including ties) is preserved, for
  ANY block layout. Byte dedup, the (phash, length) stage-1 pre-group
  (reference src/main.rs cascade — same length, different bytes),
  pixel-sha AND the thumbprint tier (point-sampled VALUES all move)
  miss this duplicate class entirely.
* **integer pixel replication (k× upscale)**: when the grid composes
  (rows | h and cols | w), block sums and counts both scale by k², so
  every cross-product scales by k⁴ and no bit moves.

For arbitrary rescales/crops the hash degrades gracefully into a
near-dup signature like phash (band it with
operators/simhash.hamming_band_pairs if needed); this module's
cluster gate uses exact 64-bit equality, which the composing fixture
makes deterministic.

Overflow bound: the cross-product is ``3*255*h*w * h*w`` ≤ int64 for
images up to ~4096², asserted.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from dedup_spark.multimodal.decode import image_signatures, signature_clusters

DHASH_COLS = 9
DHASH_ROWS = 8
_MAX_DIM = 4096  # int64 cross-product overflow bound (see module doc)


def dhash_bits(px: np.ndarray, cols: int = DHASH_COLS, rows: int = DHASH_ROWS) -> int | None:
    """64-bit dHash of an (h, w, 3) uint8 array as a SIGNED int64
    (two's complement, matching the corpus phash convention). None if
    the image is smaller than the grid (no meaningful gradient) or
    larger than the overflow bound."""
    h, w, _ = px.shape
    if h < rows or w < cols or h > _MAX_DIM or w > _MAX_DIM:
        return None
    plane = px.astype(np.int64).sum(axis=2)
    # integral image -> exact block sums for the (r*h)//rows grid
    ii = np.zeros((h + 1, w + 1), np.int64)
    ii[1:, 1:] = plane.cumsum(0).cumsum(1)
    yb = (np.arange(rows + 1) * h) // rows
    xb = (np.arange(cols + 1) * w) // cols
    s = (
        ii[yb[1:, None], xb[None, 1:]]
        - ii[yb[:-1, None], xb[None, 1:]]
        - ii[yb[1:, None], xb[None, :-1]]
        + ii[yb[:-1, None], xb[None, :-1]]
    )
    n = (yb[1:, None] - yb[:-1, None]) * (xb[None, 1:] - xb[None, :-1])
    bits = s[:, 1:] * n[:, :-1] > s[:, :-1] * n[:, 1:]
    v = 0
    for b in bits.ravel():
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= (1 << 63) else v


def dhash_clusters(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """Brightness/rescale-invariant image dedup: decode → 9×8 dHash →
    cluster by exact 64-bit equality (min id). Output
    (image_id, ok, cluster_id); undecodable or sub-grid rows get
    ok=False and self-cluster (unreadable-row skip semantics,
    reference src/hasher.rs:57-60). The 8-byte hash is the only
    image-derived column that reaches an Exchange."""
    sig = image_signatures(
        df, dhash_bits, "long", "dhash", id_col, bytes_col, fmt_col
    )
    return signature_clusters(sig, "dhash")
