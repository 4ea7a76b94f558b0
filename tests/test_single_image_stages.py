"""The single-image Python stages: one decode loop, pinned outputs.

Every stage that decodes one payload per row runs through
``decode.image_signatures``; only the two pair verifiers decode two
payloads per row themselves. The golden digests pin each stage's exact
rows over one mixed batch (every codec, a corrupt payload, a null
payload, an image smaller than one 8×8 patch, a flat image)."""

from __future__ import annotations

import ast
import functools
import hashlib
import pathlib

import numpy as np
import pytest

from dedup_spark.fixtures.images import encode_ppm
from dedup_spark.multimodal.decode import (
    extract_image_features,
    image_quality_report,
    lossy_roundtrip_fidelity,
    reencode_variants,
)
from dedup_spark.multimodal.gif import encode_gif
from dedup_spark.multimodal.jpeg import encode_jpeg
from dedup_spark.multimodal.patches import patch_signatures
from dedup_spark.multimodal.png import encode_png
from dedup_spark.multimodal.tiff import encode_tiff
from dedup_spark.multimodal.webp import encode_webp_lossless

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _batch(spark):
    def px(seed, h=16, w=16):
        return np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)

    rows = [
        ("ppm", encode_ppm(px(1)), "ppm"),
        ("png", encode_png(px(2)), "png"),
        ("jpeg", encode_jpeg(px(3)), "jpeg"),
        ("webp", encode_webp_lossless(px(4)), "webp"),
        ("tiff", encode_tiff(px(5)), "tiff"),
        ("gif", encode_gif(px(6, 12, 20)), "gif"),
        ("corrupt", b"not an image at all", "png"),
        ("null", None, "jpeg"),
        ("small", encode_ppm(px(7, 5, 6)), "ppm"),
        ("flat", encode_png(np.full((16, 16, 3), 128, np.uint8)), "png"),
    ]
    # one row per partition (one Arrow batch each), so no batch mixes a
    # failed row with decoded ones: the hand-rolled loop these digests
    # were first taken from rounded recomputed_phash through float64 in
    # such a mix (pinned separately below)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, len(rows)),
        "image_id string, bytes binary, fmt string",
    )


def _digest(df) -> str:
    def canon(v):
        if isinstance(v, (bytes, bytearray)):
            return "b:" + hashlib.sha256(bytes(v)).hexdigest()
        return repr(v)

    rows = sorted(tuple(canon(v) for v in r) for r in df.collect())
    return hashlib.sha256(repr(rows).encode()).hexdigest()


GOLDEN = {
    "extract_image_features": (
        extract_image_features,
        "222c6aae34ff575d6d93f90a2c8769ee5f314c96403c0f799019fc55f49df6fd",
    ),
    "image_quality_report": (
        image_quality_report,
        "275289b4fd23f9a907192265b0879a7e80141beafcfe3509b3c834c76dd4ea95",
    ),
    "lossy_roundtrip_fidelity": (
        lossy_roundtrip_fidelity,
        "0b8701dec718fd93f18689566e5587c2158beef2863da5e5e5fe1b01d90759ab",
    ),
    "lossy_roundtrip_fidelity_q20": (
        functools.partial(lossy_roundtrip_fidelity, quality=20),
        "8d80993c0a9d9fb5209c070f76eaceb1db13531a65bdfa5020ff978b7f308251",
    ),
    "reencode_variants": (
        reencode_variants,
        "baa64e11d262a41151af30af17fec9702cce46a0f5ad8db8bbe09bfa5d2ce654",
    ),
    "patch_signatures": (
        patch_signatures,
        "627105972177b8b573eddcde1249918cbc480373cbb64f507659cc7e386baa6f",
    ),
}


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_single_image_stage_golden_rows(spark, name):
    fn, want = GOLDEN[name]
    assert _digest(fn(_batch(spark))) == want, name


# the only functions that may call _decode_any: the one per-image
# loop and the two pair verifiers, which decode two payloads per row
DECODE_CALLERS = {
    ("dedup_spark/multimodal/decode.py", "image_signatures"),
    ("dedup_spark/multimodal/decode.py", "score_psnr_pairs"),
    ("dedup_spark/multimodal/rotinv.py", "verified_rotation_pairs"),
}


def _decode_any_callers() -> set[tuple[str, str]]:
    """(file, top-level function) of every ``_decode_any`` call in the
    program's sources (everything outside tests/)."""
    found = set()
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        if rel.startswith(("tests/", ".")):
            continue
        tree = ast.parse(path.read_text(), filename=str(path))

        def visit(node, top):
            for child in ast.iter_child_nodes(node):
                name = top
                if top is None and isinstance(
                    child, (ast.FunctionDef, ast.AsyncFunctionDef)
                ):
                    name = child.name
                if isinstance(child, ast.Call):
                    f = child.func
                    callee = getattr(f, "id", getattr(f, "attr", None))
                    if callee == "_decode_any":
                        found.add((rel, name or "<module>"))
                visit(child, name)

        visit(tree, None)
    return found


def test_decode_any_has_one_single_image_caller():
    assert _decode_any_callers() == DECODE_CALLERS


def test_features_phash_exact_beside_a_failed_row(spark):
    # a failed row's null must not widen the batch's phash column to
    # float64: 64-bit hashes above 2^53 would come back rounded
    from dedup_spark.fixtures.images import phash64

    pxs = [
        np.random.default_rng(s).integers(0, 256, (16, 16, 3), dtype=np.uint8)
        for s in range(8)
    ]
    want = {f"i{s}": int(phash64(p)) for s, p in enumerate(pxs)}
    assert any(int(float(v)) != v for v in want.values())  # not vacuous
    rows = [(k, encode_ppm(p), "ppm") for k, p in zip(want, pxs)]
    df = spark.createDataFrame(
        [*rows, ("bad", b"junk", "ppm")], "image_id string, bytes binary, fmt string"
    ).coalesce(1)
    got = {r["image_id"]: r["recomputed_phash"] for r in extract_image_features(df).collect()}
    assert got == {**want, "bad": None}
