"""Border/pad-invariant image dedup — the duplicate class where the
SAME image is re-published inside a uniform frame: thumbnail borders,
letterboxing (16:9 padded to 4:3), watermark mats, CMS-added margins.
Byte dedup, the (phash, length) stage-1 pre-group, pixel-sha dedup AND
the rescale thumbprint tier all miss it (padding changes bytes,
length, pixel buffer, and every point-sample grid), yet image-search
dedup must collapse it.

The signature is the sha256 of the CONTENT BOX: decode, take the
corner color, strip every leading/trailing row and column that is
ENTIRELY that color (each side independently — asymmetric mats and
letterbox bars fall out naturally), and hash shape+pixels of what
remains. Padding a picture with any uniform color is then signature-
invariant BY CONSTRUCTION: trimming recovers the original pixel
buffer exactly, so the content sha is bitwise-equal — an exactness
contract like the rescale tier's composition law, not a similarity
heuristic. A fully uniform image has an empty content box and keeps
its FULL buffer as content (flat placeholders cluster only when
byte-content-equal).

Reference analog: the full-hash grouping stage (src/grouping.rs)
answers byte identity; this is the same group-by-content-key plan
over a normalized content identity."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from dedup_spark.multimodal.decode import (
    image_signatures,
    shape_sha,
    signature_clusters,
)


def _trim_once(px: np.ndarray) -> np.ndarray:
    """One pass: strip the maximal uniform frame of the corner color
    px[0,0] (each side independently). A fully uniform image returns
    the ORIGINAL buffer unchanged."""
    corner = px[0, 0]
    content = (px != corner).any(axis=2)
    rows = content.any(axis=1)
    cols = content.any(axis=0)
    if not rows.any():
        return px
    r0 = int(rows.argmax())
    r1 = int(len(rows) - rows[::-1].argmax())
    c0 = int(cols.argmax())
    c1 = int(len(cols) - cols[::-1].argmax())
    return px[r0:r1, c0:c1]


def trim_uniform_border(px: np.ndarray) -> np.ndarray:
    """Strip uniform frames ITERATED TO FIXPOINT: after removing the
    outer frame the new corner may start a DIFFERENT-colored inner
    frame (a white mat inside a black border — real nested
    re-publication), so one pass is not idempotent; the fixpoint is,
    by construction (hypothesis-pinned), and it collapses nested
    multi-color frames that a single pass would treat as content.
    Each pass strictly shrinks the buffer or stops, so the loop is
    bounded by min(h, w). A fully uniform image keeps its whole
    buffer."""
    while True:
        nxt = _trim_once(px)
        if nxt.shape == px.shape:
            return nxt
        px = nxt


def border_trim_clusters(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """(id, ok, cluster_id): cluster by sha256 of the trimmed content
    box (shape + raw pixels); cluster_id = min id per signature.
    Undecodable rows survive as ok=false singleton clusters."""
    sig = image_signatures(
        df, lambda px: shape_sha(trim_uniform_border(px)), "string",
        "content_sha", id_col, bytes_col, fmt_col,
    )
    return signature_clusters(sig, "content_sha")
