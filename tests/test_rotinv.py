"""Rotation/flip-invariant dedup tests — multimodal/rotinv.py."""

from __future__ import annotations

import numpy as np

from dedup_spark.fixtures.images import (
    _smooth_image,
    encode_ppm,
    generate_rotation_corpus,
)
from dedup_spark.multimodal.rotinv import (
    multiset_signature,
    rotation_invariant_clusters,
)


def test_signature_invariant_under_all_eight_transforms():
    base = _smooth_image(b"d8", 10, 6)
    sig = multiset_signature(base)
    for k in range(4):
        r = np.rot90(base, k)
        assert multiset_signature(np.ascontiguousarray(r)) == sig
        assert multiset_signature(np.ascontiguousarray(r[:, ::-1])) == sig
    # a single changed pixel changes the signature
    mod = base.copy()
    mod[0, 0, 0] ^= 1
    assert multiset_signature(mod) != sig
    # same multiset, different pixel COUNT must differ (shape guard)
    tiled = np.concatenate([base, base], axis=0)
    assert multiset_signature(tiled) != sig


def test_cluster_assignment_by_source(spark):
    pdf = generate_rotation_corpus()
    df = spark.createDataFrame(
        pdf, "image_id string, src_id string, bytes binary, w int, "
        "h int, fmt string"
    )
    got = {
        r["image_id"]: r["cluster_id"]
        for r in rotation_invariant_clusters(df.drop("src_id")).collect()
    }
    for _, row in pdf.iterrows():
        want = pdf[pdf.src_id == row["src_id"]]["image_id"].min()
        assert got[row["image_id"]] == want


def test_unreadable_rows_survive(spark):
    base = _smooth_image(b"ok", 8, 8)
    rows = [("a", encode_ppm(base), "ppm"),
            ("b", encode_ppm(np.ascontiguousarray(np.rot90(base))), "ppm"),
            ("x", b"P6\nbroken", "ppm")]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = {r["image_id"]: r for r in rotation_invariant_clusters(df).collect()}
    assert got["a"]["cluster_id"] == got["b"]["cluster_id"] == "a"
    assert got["x"]["ok"] is False and got["x"]["cluster_id"] == "x"


# --- verified rotation pairs (candidate -> D4 verify) ---

from dedup_spark.multimodal.rotinv import find_transform, verified_rotation_pairs


def test_find_transform_identifies_each_d4_element():
    base = _smooth_image(b"d4v", 10, 6)
    cases = {
        "r000": base,
        "r090": np.rot90(base, 1),
        "r180": np.rot90(base, 2),
        "r270": np.rot90(base, 3),
        "f000": base[:, ::-1],
        "f090": np.rot90(base[:, ::-1], 1),
        "f180": np.rot90(base[:, ::-1], 2),
        "f270": np.rot90(base[:, ::-1], 3),
    }
    for want, img in cases.items():
        assert find_transform(base, np.ascontiguousarray(img)) == want
    other = _smooth_image(b"other", 10, 6)
    assert find_transform(base, other) is None


def test_multiset_collision_is_rejected_by_verify(spark):
    # two DIFFERENT images with the same pixel multiset: swap two
    # unequal pixels — multiset identical, no dihedral transform maps
    # one to the other (verified must be false)
    base = _smooth_image(b"coll", 9, 7).copy()
    other = base.copy()
    assert not (other[0, 0] == other[3, 4]).all()
    other[0, 0], other[3, 4] = base[3, 4].copy(), base[0, 0].copy()
    rows = [("a", encode_ppm(base), "ppm"), ("b", encode_ppm(other), "ppm")]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = verified_rotation_pairs(df).collect()
    assert len(got) == 1
    assert got[0]["verified"] is False and got[0]["transform"] is None


def test_flood_bucket_guard(spark):
    base = _smooth_image(b"flood", 8, 8)
    rows = [(f"i{k}", encode_ppm(base), "ppm") for k in range(5)]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    capped = verified_rotation_pairs(df, max_bucket=4).collect()
    assert capped == []
    full = verified_rotation_pairs(df, max_bucket=64).collect()
    assert len(full) == 10 and all(r["verified"] for r in full)
    assert all(r["transform"] == "r000" for r in full)  # byte-identical


def _multiset_signature_axis0(px: np.ndarray) -> str:
    """The original ``np.unique(axis=0)`` form, kept as the reference
    the packed-uint32 implementation must match byte for byte."""
    import hashlib

    flat = px.reshape(-1, 3)
    vals, counts = np.unique(flat, axis=0, return_counts=True)
    h = hashlib.sha256()
    h.update(np.int64(flat.shape[0]).tobytes())
    h.update(np.ascontiguousarray(vals).tobytes())
    h.update(counts.astype(np.int64).tobytes())
    return h.hexdigest()


def test_packed_signature_matches_axis0_reference():
    rng = np.random.default_rng(0)
    imgs = [
        rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        for h, w in rng.integers(1, 80, size=(200, 2))
    ]
    imgs.append(np.zeros((7, 5, 3), np.uint8))
    # few distinct values: long runs of equal triples and equal channels
    imgs.append((rng.integers(0, 4, size=(33, 21, 3)) * 85).astype(np.uint8))
    for px in imgs:
        assert multiset_signature(px) == _multiset_signature_axis0(px), px.shape
