"""Shared-patch mining — partial-content duplication BETWEEN images:
the same logo, watermark, frame element or sprite pasted into many
otherwise-different pictures. Whole-image tiers (byte/pixel sha,
thumbprint, content-box, dHash/pHash) all treat such images as
unrelated; patch mining finds the common sub-block, which is how
image pipelines surface watermark families and template spam.

Mechanics: decode → cut the image into non-overlapping ``patch``²
aligned blocks → sha256 each block → drop ZERO-VARIANCE blocks (a
flat white/black patch appears in half the corpus and carries no
identity — the stopword of image space) → inverted-index join on
patch sha with a POSTING CAP (dropped-key counts logged, no silent
caps — the suffix tier's discipline: a patch shared by thousands of
images is a template, not a link worth quadratic pairs) → per-pair
shared-patch counts.

Alignment contract: signatures match only when the shared block lands
on the same ``patch``-grid phase in both images. Detecting arbitrary
offsets needs dense stride (stride < patch) at stride² the rows —
the fixture pins the limitation with a deliberately misaligned class
instead of pretending otherwise.

Scale shape: one Arrow mapInPandas projection (payload consumed
there), a (sha, id) shuffle, then `banding.shared_key_pairs` — the
capped inverted-index self-join and count aggregate that the caption
shingle tier (suffix.py) and the video tiers share."""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, functions as F

from dedup_spark.multimodal.decode import image_signatures
from dedup_spark.operators.banding import shared_key_pairs


def patch_signatures(
    df: DataFrame,
    patch: int = 8,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """(id, py, px, patch_sha) for every aligned non-overlapping
    patch×patch block with non-zero variance. Undecodable rows and
    images smaller than one patch yield no rows (inline drops a null
    or empty array)."""

    def _cut(px: np.ndarray) -> list:
        h, w, _ = px.shape
        out = []
        for y in range(0, h - patch + 1, patch):
            for x in range(0, w - patch + 1, patch):
                blk = px[y : y + patch, x : x + patch]
                if (blk == blk[0, 0]).all():
                    continue  # flat: the stopword of images
                sha = hashlib.sha256(np.ascontiguousarray(blk).tobytes())
                out.append({"py": y, "px": x, "patch_sha": sha.hexdigest()})
        return out

    sig = image_signatures(
        df,
        _cut,
        "array<struct<py int, px int, patch_sha string>>",
        "_p",
        id_col,
        bytes_col,
        fmt_col,
    )
    return sig.select(id_col, F.inline("_p"))


def shared_patch_pairs(
    df: DataFrame,
    patch: int = 8,
    max_posting: int = 256,
    id_col: str = "image_id",
) -> DataFrame:
    """(id1, id2, n_shared) for image pairs sharing >= 1 non-flat
    aligned patch; n_shared counts DISTINCT shared patch signatures.
    Patch signatures carried by more than ``max_posting`` images are
    dropped (template guard) with the drop count logged."""
    sig = (
        patch_signatures(df, patch=patch, id_col=id_col)
        .select(id_col, "patch_sha")
        .distinct()
    )
    return shared_key_pairs(
        sig, "patch_sha", max_posting, "shared_patch_pairs", id_col=id_col
    ).select("id1", "id2", "n_shared")
