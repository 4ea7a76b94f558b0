"""dHash tier (multimodal/dhash.py): exact shift/replication
invariance, gradient sensitivity, and the fixture-backed cluster gate."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from dedup_spark.fixtures.images import encode_ppm, generate_dhash_corpus
from dedup_spark.multimodal.dhash import dhash_bits, dhash_clusters


def _img(seed: int, w: int = 36, h: int = 32, lo: int = 32, hi: int = 223) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(lo, hi + 1, size=(h, w, 3)).astype(np.uint8)


def test_brightness_shift_invariance():
    px = _img(0)
    base = dhash_bits(px)
    for c in (1, 15, -12, 31, -31):
        shifted = (px.astype(np.int64) + c).astype(np.uint8)
        assert (px.astype(np.int64) + c).max() <= 255
        assert (px.astype(np.int64) + c).min() >= 0
        assert dhash_bits(shifted) == base, c


def test_replication_invariance():
    px = _img(1)
    base = dhash_bits(px)
    for k in (2, 3):
        rep = np.repeat(np.repeat(px, k, axis=0), k, axis=1)
        assert dhash_bits(rep) == base, k


def test_shift_invariance_noncomposing_dims():
    # additive-shift cancellation holds for ANY block layout, even when
    # blocks are unequal (w=37 not divisible by 9): the cross-product
    # comparison is what buys this (see module doc)
    px = _img(2, w=37, h=35)
    assert dhash_bits((px.astype(np.int64) + 20).astype(np.uint8)) == dhash_bits(px)


def test_gradient_sensitivity():
    # brightening exactly one 4x4 block flips at least the bit that
    # compares it to its right neighbor
    px = _img(3)
    mod = px.astype(np.int64)
    mod[0:4, 0:4] += 30  # block (r=0, c=0)
    mod = np.clip(mod, 0, 255).astype(np.uint8)
    assert dhash_bits(mod) != dhash_bits(px)


def test_sub_grid_and_oversize_rejected():
    assert dhash_bits(_img(4, w=8, h=32)) is None  # w < 9 cols
    assert dhash_bits(_img(5, w=36, h=7)) is None  # h < 8 rows


def test_fixture_ground_truth_asserts():
    # the generator itself asserts: no saturation, per-source hash
    # agreement, cross-source distinctness — a passing call IS the test
    pdf = generate_dhash_corpus(n_src=12, seed=11)
    assert len(pdf) == 48
    # variants genuinely differ in bytes (and the shifts keep length)
    for _, grp in pdf.groupby("src_id"):
        payloads = list(grp["bytes"])
        assert len({bytes(b) for b in payloads}) == 4
        lens = sorted(len(b) for b in payloads)
        assert lens[0] == lens[1] and lens[2] == lens[3] and lens[0] != lens[2]


def test_clusters_match_sources(spark):
    pdf = generate_dhash_corpus(n_src=10, seed=11)
    df = spark.createDataFrame(pdf[["image_id", "bytes", "w", "h", "fmt"]])
    out = dhash_clusters(df).toPandas().set_index("image_id")
    truth = pdf.set_index("image_id")["src_id"]
    roots = pdf.groupby("src_id")["image_id"].min()
    for rid, row in out.iterrows():
        assert row["ok"]
        assert row["cluster_id"] == roots[truth[rid]], rid


def test_unreadable_row_self_clusters(spark):
    px = _img(6)
    rows = [
        ("a", encode_ppm(px), "ppm"),
        ("b", encode_ppm(px)[:40], "ppm"),  # truncated -> decode fails
        ("c", None, "ppm"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "bytes", "fmt"])
    )
    out = dhash_clusters(df).toPandas().set_index("image_id")
    assert bool(out.loc["a", "ok"]) and out.loc["a", "cluster_id"] == "a"
    for rid in ("b", "c"):
        assert not bool(out.loc[rid, "ok"])
        assert out.loc[rid, "cluster_id"] == rid


def test_python_reference_parity():
    # independent per-bit recomputation (plain loops, float means with
    # Fraction-free exact compare via cross-product) against the
    # vectorized integral-image implementation
    px = _img(7, w=45, h=40)  # composing dims (9|45, 8|40)
    plane = px.astype(np.int64).sum(axis=2)
    h, w = plane.shape
    yb = [(r * h) // 8 for r in range(9)]
    xb = [(c * w) // 9 for c in range(10)]
    sums = [
        [int(plane[yb[r]:yb[r + 1], xb[c]:xb[c + 1]].sum()) for c in range(9)]
        for r in range(8)
    ]
    ns = [
        [(yb[r + 1] - yb[r]) * (xb[c + 1] - xb[c]) for c in range(9)]
        for r in range(8)
    ]
    v = 0
    for r in range(8):
        for c in range(8):
            bit = sums[r][c + 1] * ns[r][c] > sums[r][c] * ns[r][c + 1]
            v = (v << 1) | int(bit)
    expect = v - (1 << 64) if v >= (1 << 63) else v
    assert dhash_bits(px) == expect


def test_cross_batch_hash_survives_subgrid_neighbour(spark):
    # two byte-identical images in different Arrow batches; the second
    # batch also holds a sub-grid image whose hash is None. The None
    # must not widen that batch's int64 key column to float64, which
    # would round the 64-bit hash and split the pair.
    px = _img(8)
    hv = dhash_bits(px)
    assert int(float(hv)) != hv  # the hash is not float64-exact
    payload = encode_ppm(px)
    tiny = encode_ppm(_img(9, w=4, h=4))
    schema = "image_id string, bytes binary, fmt string"
    sc = spark.sparkContext
    left = spark.createDataFrame(sc.parallelize([("a", payload, "ppm")], 1), schema)
    right = spark.createDataFrame(
        sc.parallelize([("b", payload, "ppm"), ("s", tiny, "ppm")], 1), schema
    )
    both = left.unionByName(right)
    assert both.rdd.getNumPartitions() == 2
    out = dhash_clusters(both).toPandas().set_index("image_id")
    assert bool(out.loc["a", "ok"]) and bool(out.loc["b", "ok"])
    assert out.loc["b", "cluster_id"] == out.loc["a", "cluster_id"] == "a"
    assert not bool(out.loc["s", "ok"]) and out.loc["s", "cluster_id"] == "s"
