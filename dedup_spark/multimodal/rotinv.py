"""Rotation/flip-invariant image dedup — rotated re-posts WITHOUT EXIF:
the orientation tier (multimodal/exif.py) normalizes rotations only
when the camera recorded an orientation tag; a stripped-metadata
rotated copy (the normal case on the open web — most CDNs strip EXIF)
defeats byte dedup, pixel-sha, thumbprint, dHash AND content-box
signatures, because every one of them depends on pixel POSITIONS.

The signature here depends on pixel VALUES only: the multiset of RGB
triples. All eight dihedral transforms (4 rotations × mirror) PERMUTE
pixels without changing a single value, so the multiset — serialized
canonically as the sorted unique (r,g,b,count) table and sha256'd —
is bitwise-invariant under them BY CONSTRUCTION. Like pHash banding,
this is a CANDIDATE tier, not a verdict: two different images can in
principle share a color multiset, so production pipelines verify
candidates (decode both, try the 8 transforms); the fixture generator
asserts cross-source multiset distinctness so the gate's
group-by-source oracle is exact."""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from dedup_spark.multimodal.decode import (
    _decode_any,
    image_signatures,
    signature_clusters,
)
from dedup_spark.operators.banding import shared_key_pairs


def multiset_signature(px: np.ndarray) -> str:
    """sha256 over the canonical (r,g,b,count) table — invariant under
    any pixel permutation, in particular the 8 dihedral transforms.
    Each RGB triple is packed into one uint32 (r<<16 | g<<8 | b), whose
    1-D sort order equals the lexicographic row order, so the table is
    byte-identical to ``np.unique(flat, axis=0)``'s at a fraction of
    the cost."""
    flat = px.reshape(-1, 3).astype(np.uint32)
    keys, counts = np.unique(
        flat[:, 0] << 16 | flat[:, 1] << 8 | flat[:, 2], return_counts=True
    )
    vals = np.stack([keys >> 16, keys >> 8, keys], axis=1).astype(np.uint8)
    h = hashlib.sha256()
    h.update(np.int64(flat.shape[0]).tobytes())
    h.update(vals.tobytes())
    h.update(counts.astype(np.int64).tobytes())
    return h.hexdigest()


def rotation_invariant_clusters(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """(id, ok, cluster_id): cluster by pixel-multiset signature;
    cluster_id = min id per signature; undecodable rows survive as
    ok=false singletons."""
    sig = image_signatures(
        df, multiset_signature, "string", "ms_sha", id_col, bytes_col, fmt_col
    )
    return signature_clusters(sig, "ms_sha")


# the dihedral group D4, in a pinned canonical try-order
_D4 = (
    ("r000", lambda p: p),
    ("r090", lambda p: np.rot90(p, 1)),
    ("r180", lambda p: np.rot90(p, 2)),
    ("r270", lambda p: np.rot90(p, 3)),
    ("f000", lambda p: p[:, ::-1]),
    ("f090", lambda p: np.rot90(p[:, ::-1], 1)),
    ("f180", lambda p: np.rot90(p[:, ::-1], 2)),
    ("f270", lambda p: np.rot90(p[:, ::-1], 3)),
)


def find_transform(a: np.ndarray, b: np.ndarray) -> str | None:
    """First dihedral transform t (in the pinned order) with
    t(a) == b, or None."""
    for name, fn in _D4:
        t = fn(a)
        if t.shape == b.shape and (t == b).all():
            return name
    return None


def verified_rotation_pairs(
    df: DataFrame,
    max_bucket: int = 64,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """The candidate → VERIFY discipline applied to the multiset tier:
    images sharing a multiset signature are only CANDIDATE rotations;
    this confirms each pair by decoding both sides and trying all 8
    dihedral transforms. (id1, id2, verified, transform) — transform
    is the first matching D4 element, NULL when none matches (a true
    multiset collision).

    Scale posture stated plainly: the verify stage is the one place a
    payload legitimately re-enters a shuffle — only CANDIDATE rows do
    (a vanishing fraction of the corpus; buckets above ``max_bucket``
    are dropped with a logged count, the posting-cap discipline), and
    each pair ships exactly two payloads to one task. Everything
    before it is `banding.shared_key_pairs` over the signature."""
    sig = (
        image_signatures(
            df, multiset_signature, "string", "ms_sha", id_col, bytes_col, fmt_col
        )
        .filter(F.col("ok"))
        .select(id_col, "ms_sha")
    )
    pairs = shared_key_pairs(
        sig, "ms_sha", max_bucket, "verified_rotation_pairs", id_col=id_col
    ).select("id1", "id2")
    payload = df.select(
        F.col(id_col), F.col(bytes_col).alias("_b"), F.col(fmt_col).alias("_f")
    )
    withp = (
        pairs.join(
            payload.select(
                F.col(id_col).alias("id1"),
                F.col("_b").alias("_b1"),
                F.col("_f").alias("_f1"),
            ),
            "id1",
        )
        .join(
            payload.select(
                F.col(id_col).alias("id2"),
                F.col("_b").alias("_b2"),
                F.col("_f").alias("_f2"),
            ),
            "id2",
        )
    )

    def _verify(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i1, i2, b1, f1, b2, f2 in zip(
                pdf["id1"], pdf["id2"], pdf["_b1"], pdf["_f1"],
                pdf["_b2"], pdf["_f2"],
            ):
                a = _decode_any(bytes(b1), f1)
                b = _decode_any(bytes(b2), f2)
                t = (
                    find_transform(a, b)
                    if a is not None and b is not None
                    else None
                )
                rows.append((i1, i2, t is not None, t))
            yield pd.DataFrame(
                rows, columns=["id1", "id2", "verified", "transform"]
            )

    return withp.mapInPandas(
        _verify,
        schema="id1 string, id2 string, verified boolean, transform string",
    )
