"""Deterministic image+caption corpus generator.

The table matches the input_hint schema exactly:
  (image_id string, bytes binary, w int, h int, fmt string,
   caption string, phash long)
plus a ground-truth side table (image_id, cluster_id, is_canonical).

Generation scheme mirrors the reference's benchmark harness:
  * content = sha256(seed) digest tiled to the target size
    (reference benchmark/generator.py:24-28) — here the tiled digest is
    the raw RGB pixel buffer of a PPM (P6) image, so the payload is a
    genuinely decodable image and the PSNR>=40dB decoded-pixel
    invariant is checkable.
  * rng seed 42 (reference benchmark/generator.py:57); each new row is
    a duplicate of a prior unique row with probability dup_ratio
    (reference benchmark/generator.py:49-125); profiles small-heavy /
    mixed / large-heavy weight the payload-size distribution
    (reference benchmark/config.py:8-19).
  * image_id is path-like ("{aa}/{bb}/img_{n:06d}.{fmt}", reference
    fans files into 256x256 dirs) so the shortest-id canonical rule has
    the same flavor as the reference's shortest-path rule.

Everything is numpy-vectorized; the output is a pandas DataFrame fed to
``spark.createDataFrame`` over Arrow (fixtures are driver-side by
definition — the SCALE path reads the written parquet, never re-runs
generation per executor).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)
TRUTH_SCHEMA = "image_id string, cluster_id string, is_canonical boolean"

# size profiles: (label, weight, (min_side, max_side)) — sides in pixels;
# payload ~ 3*w*h bytes. Scaled-down analog of benchmark/config.py:8-19.
PROFILES = {
    "small-heavy": [(0.8, (8, 32)), (0.15, (32, 96)), (0.05, (96, 192))],
    "mixed": [(0.4, (8, 32)), (0.4, (32, 96)), (0.2, (96, 192))],
    "large-heavy": [(0.1, (8, 32)), (0.3, (32, 96)), (0.6, (96, 256))],
}

_VOCAB = (
    "the a of quick brown fox lazy dog sunset mountain river city street "
    "portrait landscape macro night day winter summer red blue green "
    "vintage modern abstract minimal detailed closeup wide aerial candid "
    "studio natural light shadow texture pattern geometry motion blur"
).split()


def _tile_digest(seed_bytes: bytes, n: int) -> np.ndarray:
    """sha256 digest tiled to n bytes (benchmark/generator.py:24-28 trick)."""
    digest = hashlib.sha256(seed_bytes).digest()
    reps = n // len(digest) + 1
    return np.frombuffer((digest * reps)[:n], dtype=np.uint8).copy()


def _digest_stream(seed_bytes: bytes, n: int) -> np.ndarray:
    """Counter-mode sha256 stream: n NON-periodic deterministic bytes
    (the tiled digest repeats every 32 bytes, which is fine as texture
    but not as independent samples)."""
    blocks = []
    for ctr in range(n // 32 + 1):
        blocks.append(hashlib.sha256(seed_bytes + ctr.to_bytes(4, "big")).digest())
    return np.frombuffer(b"".join(blocks)[:n], dtype=np.uint8).copy()


def _smooth_image(seed_bytes: bytes, w: int, h: int) -> np.ndarray:
    """Deterministic photo-like image: a digest-seeded coarse 8x8 grid
    bilinearly upsampled (low-frequency content dominates, so the DCT
    perceptual hash is STABLE under small perturbations — like real
    photos, unlike white noise) plus 10% tiled-digest texture for
    byte-level uniqueness."""
    grid = 8
    coarse = (
        _digest_stream(seed_bytes + b":grid", grid * grid * 3)
        .reshape(grid, grid, 3)
        .astype(np.float64)
    )
    ys = np.linspace(0.0, grid - 1.0, h)
    xs = np.linspace(0.0, grid - 1.0, w)
    y0 = np.floor(ys).astype(int)
    x0 = np.floor(xs).astype(int)
    y1 = np.minimum(y0 + 1, grid - 1)
    x1 = np.minimum(x0 + 1, grid - 1)
    fy = (ys - y0)[:, None, None]
    fx = (xs - x0)[None, :, None]
    img = (
        coarse[y0][:, x0] * (1 - fy) * (1 - fx)
        + coarse[y1][:, x0] * fy * (1 - fx)
        + coarse[y0][:, x1] * (1 - fy) * fx
        + coarse[y1][:, x1] * fy * fx
    )
    fine = _tile_digest(seed_bytes, w * h * 3).reshape(h, w, 3).astype(np.float64)
    return np.clip(0.9 * img + 0.1 * fine, 0, 255).astype(np.uint8)


def encode_ppm(pixels: np.ndarray) -> bytes:
    """P6 binary PPM: trivially decodable, uncompressed."""
    h, w, _ = pixels.shape
    return f"P6\n{w} {h}\n255\n".encode() + pixels.astype(np.uint8).tobytes()


def decode_ppm(data: bytes) -> np.ndarray:
    """Inverse of encode_ppm. Raises ValueError on truncated payloads
    (the 'unreadable row' fixture relies on this) and on a width or
    height below 1."""
    if not data.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    parts = data.split(b"\n", 3)
    if len(parts) < 4:
        raise ValueError("truncated header")
    w, h = (int(x) for x in parts[1].split())
    if w < 1 or h < 1:
        raise ValueError("empty or negative PPM dimensions")
    raw = parts[3]
    need = w * h * 3
    if len(raw) < need:
        raise ValueError("truncated payload")
    return np.frombuffer(raw[:need], dtype=np.uint8).reshape(h, w, 3)


_DCT32 = None


def _dct_matrix(n: int = 32) -> np.ndarray:
    global _DCT32
    if _DCT32 is None:
        k = np.arange(n)[:, None]
        x = np.arange(n)[None, :]
        m = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * x + 1) * k / (2 * n))
        m[0] /= np.sqrt(2.0)
        _DCT32 = m
    return _DCT32


def phash64(pixels: np.ndarray) -> int:
    """64-bit perceptual hash: grayscale → 32x32 mean-pool resize →
    2-D DCT-II → top-left 8x8 low-frequency block (minus DC) → median
    threshold → bits packed to a signed int64.

    Standard public pHash construction; numpy matrix-multiply DCT so no
    external imaging libs are needed.
    """
    gray = pixels.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    ys = (np.arange(32) * h) // 32
    xs = (np.arange(32) * w) // 32
    small = gray[np.ix_(ys, xs)]
    m = _dct_matrix(32)
    freq = m @ small @ m.T
    block = freq[:8, :8].flatten()[1:]  # drop DC
    bits = block > np.median(block)
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return np.int64(np.uint64(val).astype(np.int64))


def _caption(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(rng.choice(_VOCAB, size=n_words))


@dataclass
class Corpus:
    images: pd.DataFrame
    truth: pd.DataFrame

    def true_pairs(self) -> set[tuple[str, str]]:
        """Unordered within-cluster duplicate pairs (recall denominator)."""
        pairs: set[tuple[str, str]] = set()
        for _, grp in self.truth.groupby("cluster_id"):
            ids = sorted(grp["image_id"])
            if len(ids) >= 2:
                pairs.update(
                    (a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]
                )
        return pairs


def _norm_variant_caption(rng: np.random.Generator, caption: str) -> str:
    """A caption that normalizes (lowercase + punct→space + collapse
    whitespace) to the same fingerprint as the original: random
    uppercasing, injected ASCII punctuation, doubled spaces, trailing
    period. Mirrors the reference's duplicate-content assertions
    (tests/duplicate_detection.rs:72-134) on the normalization axis."""
    words = caption.split()
    out = []
    for wrd in words:
        if rng.random() < 0.4:
            wrd = wrd.upper() if rng.random() < 0.5 else wrd.capitalize()
        if rng.random() < 0.25:
            wrd = wrd + ","
        out.append(wrd)
    sep = "  " if rng.random() < 0.3 else " "
    return sep.join(out) + ("." if rng.random() < 0.7 else "")


def generate_corpus(
    n_rows: int,
    dup_ratio: float = 0.3,
    profile: str = "mixed",
    seed: int = 42,
    near_dup_ratio: float = 0.0,
    norm_dup_ratio: float = 0.0,
    fmts: tuple[str, ...] = ("ppm",),
) -> Corpus:
    """Build the corpus.

    dup_ratio: probability a row is an EXACT duplicate of a prior unique
    row (same bytes/caption/phash, new id) — benchmark/generator.py:69-78.
    near_dup_ratio: probability a row is a NEAR duplicate — same image
    with a small pixel perturbation (PSNR >= 40 dB) + caption with one
    token substituted; exact tier must NOT group these, near-dup tier must.
    norm_dup_ratio: probability a row is a NORMALIZATION duplicate — a
    FRESH unique image whose caption is a case/punctuation variant of a
    prior unique's caption; the exact and near-dup image tiers must not
    group it, the caption-fingerprint tier must.
    """
    rng = np.random.default_rng(seed)
    weights = PROFILES[profile]
    probs = np.array([wgt for wgt, _ in weights])
    probs = probs / probs.sum()

    rows: list[dict] = []
    truth: list[dict] = []
    uniques: list[int] = []  # indices into rows of unique originals

    for i in range(n_rows):
        aa, bb = rng.integers(0, 256, size=2)
        fmt = fmts[int(rng.integers(0, len(fmts)))]
        image_id = f"{aa:02x}/{bb:02x}/img_{i:06d}.{fmt}"
        r = rng.random()
        if uniques and r < dup_ratio:
            src = rows[uniques[int(rng.integers(0, len(uniques)))]]
            rows.append({**src, "image_id": image_id})
            truth.append({"image_id": image_id, "cluster_id": src["image_id"]})
        elif uniques and r < dup_ratio + near_dup_ratio:
            src = rows[uniques[int(rng.integers(0, len(uniques)))]]
            pixels = decode_ppm(src["bytes"]).astype(np.int16)
            # ±1 on a single channel everywhere: MSE <= 1 → PSNR >= 48 dB
            noise = rng.integers(0, 2, size=pixels.shape, dtype=np.int16)
            pert = np.clip(pixels + noise, 0, 255).astype(np.uint8)
            words = src["caption"].split()
            j = int(rng.integers(0, len(words)))
            words[j] = str(rng.choice(_VOCAB))
            rows.append(
                {
                    "image_id": image_id,
                    "bytes": encode_ppm(pert),
                    "w": src["w"],
                    "h": src["h"],
                    "fmt": fmt,
                    "caption": " ".join(words),
                    "phash": int(phash64(pert)),
                }
            )
            truth.append({"image_id": image_id, "cluster_id": src["image_id"]})
        elif uniques and r < dup_ratio + near_dup_ratio + norm_dup_ratio:
            # normalization dup: fresh image, caption normalizes equal
            src = rows[uniques[int(rng.integers(0, len(uniques)))]]
            band = int(rng.choice(len(weights), p=probs))
            lo, hi = weights[band][1]
            w = int(rng.integers(lo, hi + 1))
            h = int(rng.integers(lo, hi + 1))
            pixels = _smooth_image(f"{seed}:norm:{i}".encode(), w, h)
            rows.append(
                {
                    "image_id": image_id,
                    "bytes": encode_ppm(pixels),
                    "w": w,
                    "h": h,
                    "fmt": fmt,
                    "caption": _norm_variant_caption(rng, src["caption"]),
                    "phash": int(phash64(pixels)),
                }
            )
            uniques.append(i)
            truth.append({"image_id": image_id, "cluster_id": image_id})
        else:
            band = int(rng.choice(len(weights), p=probs))
            lo, hi = weights[band][1]
            w = int(rng.integers(lo, hi + 1))
            h = int(rng.integers(lo, hi + 1))
            pixels = _smooth_image(f"{seed}:{i}".encode(), w, h)
            rows.append(
                {
                    "image_id": image_id,
                    "bytes": encode_ppm(pixels),
                    "w": w,
                    "h": h,
                    "fmt": fmt,
                    "caption": _caption(rng, int(rng.integers(5, 15))),
                    "phash": int(phash64(pixels)),
                }
            )
            uniques.append(i)
            truth.append({"image_id": image_id, "cluster_id": image_id})

    images = pd.DataFrame(rows)
    tdf = pd.DataFrame(truth)
    canon = tdf.groupby("cluster_id")["image_id"].transform(
        lambda s: min(s, key=lambda x: (len(x), x))
    )
    tdf["is_canonical"] = tdf["image_id"] == canon
    return Corpus(images=images, truth=tdf)


def to_spark(spark, corpus: Corpus):
    imgs = spark.createDataFrame(corpus.images, schema=IMAGES_SCHEMA)
    truth = spark.createDataFrame(corpus.truth, schema=TRUTH_SCHEMA)
    return imgs, truth


def generate_exif_corpus(n: int = 40, seed: int = 13) -> pd.DataFrame:
    """JPEGs with fixed-layout EXIF APP1 (multimodal/exif.py): even
    indices little-endian TIFF, odd big-endian; every 10th image has
    NO exif segment and the last row is a PPM (non-JPEG) — both must
    survive as has_exif=false. Fields are deterministic functions of
    the index so the oracle can recompute them from raw bytes alone.
    Columns: (image_id, bytes, w, h, fmt, endian)."""
    from dedup_spark.multimodal.exif import build_exif_app1, insert_app1
    from dedup_spark.multimodal.jpeg import encode_jpeg

    rows = []
    for i in range(n):
        iid = f"x{i:04d}"
        px = _smooth_image(f"{seed}:{iid}".encode(), 16, 16)
        if i == n - 1:
            rows.append((iid, encode_ppm(px), 16, 16, "ppm", "none"))
            continue
        jp = encode_jpeg(px, quality=99)
        if i % 10 == 5:
            rows.append((iid, jp, 16, 16, "jpeg", "none"))
            continue
        big = i % 2 == 1
        app1 = build_exif_app1(
            make=f"maker-{i:04d}",
            model=f"model-{i:04d}",
            orientation=(i % 8) + 1,
            width=16,
            height=16,
            datetime=f"2024:01:{(i % 28) + 1:02d} {i % 24:02d}:00:00",
            big_endian=big,
        )
        rows.append(
            (iid, insert_app1(jp, app1), 16, 16, "jpeg", "MM" if big else "II")
        )
    return pd.DataFrame(
        rows, columns=["image_id", "bytes", "w", "h", "fmt", "endian"]
    )


QUALITY_LEVELS = (55, 70, 85, 92, 99)


def generate_quality_corpus(n: int = 30, seed: int = 19) -> pd.DataFrame:
    """JPEGs encoded at cycling libjpeg qualities (QUALITY_LEVELS) +
    one PPM row — the quality-estimation fixture. `quality` records
    the encode-time ground truth for tests; the oracle ignores it and
    recomputes the estimate from the raw DQT bytes."""
    from dedup_spark.multimodal.jpeg import encode_jpeg

    rows = []
    for i in range(n):
        iid = f"q{i:04d}"
        px = _smooth_image(f"{seed}:{iid}".encode(), 16, 16)
        if i == n - 1:
            rows.append((iid, encode_ppm(px), 16, 16, "ppm", -1))
            continue
        q = QUALITY_LEVELS[i % len(QUALITY_LEVELS)]
        rows.append((iid, encode_jpeg(px, quality=q), 16, 16, "jpeg", q))
    return pd.DataFrame(
        rows, columns=["image_id", "bytes", "w", "h", "fmt", "quality"]
    )


def generate_orientation_corpus(n_src: int = 20, seed: int = 17) -> pd.DataFrame:
    """Each source photo stored under all 8 TIFF orientations: the
    stored pixels are the EXACT inverse transform of the display image
    (multimodal/exif.py normalize_orientation + ORIENTATION_INVERSE),
    encoded lossless (PPM), so normalizing recovers the display
    bit-for-bit and orientation-normalized dedup clusters by source by
    construction. Non-square (24x16) so transposed orientations have
    different dims — the blind spot being demonstrated. Columns:
    (image_id, src_id, bytes, w, h, fmt, orientation)."""
    from dedup_spark.multimodal.exif import (
        ORIENTATION_INVERSE,
        normalize_orientation,
    )

    rows = []
    for i in range(n_src):
        sid = f"o{i:04d}"
        display = _smooth_image(f"{seed}:{sid}".encode(), 24, 16)  # w=24 h=16
        for o in range(1, 9):
            stored = np.ascontiguousarray(
                normalize_orientation(display, ORIENTATION_INVERSE[o])
            )
            h, w, _ = stored.shape
            rows.append(
                (f"{sid}#{o}", sid, encode_ppm(stored), w, h, "ppm", o)
            )
    return pd.DataFrame(
        rows,
        columns=["image_id", "src_id", "bytes", "w", "h", "fmt", "orientation"],
    )


RESCALE_DIMS = (64, 32, 16)


def generate_rescale_corpus(
    n_src: int = 40, seed: int = 7, dims: tuple[int, ...] = RESCALE_DIMS
) -> pd.DataFrame:
    """Multi-resolution variants of each source image — the rescale-
    dedup fixture. The base is dims[0]² (photo-like, _smooth_image);
    every smaller variant is the SAME nearest-grid point-sample the
    engine's resize uses (multimodal/decode._mean_pool's index rule
    ``i*h//out``). Dims are chosen so sampling COMPOSES exactly:
    with 8 | d | 64, (64 → d → 8) lands on the identical source pixels
    as (64 → 8), making the 8×8 thumbprint bitwise scale-invariant by
    construction — the composition law the rescale_dedup oracle's
    group-by-source pins. Columns: (image_id, src_id, bytes, w, h,
    fmt='ppm')."""
    base_d = dims[0]
    rows = []
    for i in range(n_src):
        sid = f"r{i:04d}"
        base = _smooth_image(f"{seed}:{sid}".encode(), base_d, base_d)
        for d in dims:
            idx = (np.arange(d) * base_d) // d
            px = base[np.ix_(idx, idx)]
            rows.append(
                (f"{sid}#{d:02d}", sid, encode_ppm(px), d, d, "ppm")
            )
    return pd.DataFrame(
        rows, columns=["image_id", "src_id", "bytes", "w", "h", "fmt"]
    )


DHASH_DIMS = (36, 32)  # cols=9 | 36, rows=8 | 32 — the grid composes


def generate_dhash_corpus(
    n_src: int = 40, seed: int = 11, dims: tuple[int, int] = DHASH_DIMS
) -> pd.DataFrame:
    """Brightness-shifted + replication-rescaled variants of each
    source image — the dHash-dedup fixture (multimodal/dhash.py).

    Per source: the 36×32 base, a +15 brightness shift, a 2× pixel
    replication (72×64), and a 2× replication shifted −12. Every
    variant differs from the base in bytes; the shifts keep the same
    length (so (hash, length) stage-1 still can't pre-group them) and
    the replications change dims — yet all four share one exact dHash
    because the grid composes (9 | w, 8 | h) and shifts cancel in the
    cross-product (see dhash_bits).

    The story cannot silently rot: generation ASSERTS (a) the base is
    clipped into [32, 223] so the +15/−12 shifts never saturate (a
    clamp would break exact invariance), (b) all four variants of a
    source share one dHash, and (c) the 40 source dHashes are pairwise
    distinct, so cluster == source is ground truth, not probability.
    Columns: (image_id, src_id, bytes, w, h, fmt='ppm')."""
    from dedup_spark.multimodal.dhash import dhash_bits

    w, h = dims
    rows = []
    seen: dict[int, str] = {}
    for i in range(n_src):
        sid = f"d{i:04d}"
        base = np.clip(
            _smooth_image(f"{seed}:{sid}".encode(), w, h), 32, 223
        ).astype(np.int64)
        rep = np.repeat(np.repeat(base, 2, axis=0), 2, axis=1)
        variants = (
            ("b0", base),
            ("b1", base + 15),
            ("r2", rep),
            ("r2m", rep - 12),
        )
        hashes = set()
        for tag, px in variants:
            assert px.min() >= 0 and px.max() <= 255, "shift saturated"
            u8 = px.astype(np.uint8)
            hashes.add(dhash_bits(u8))
            rows.append(
                (f"{sid}#{tag}", sid, encode_ppm(u8), u8.shape[1], u8.shape[0], "ppm")
            )
        assert len(hashes) == 1, f"variants of {sid} diverged: {hashes}"
        (hv,) = hashes
        assert hv is not None and hv not in seen, f"{sid} collides with {seen.get(hv)}"
        seen[hv] = sid
    return pd.DataFrame(
        rows, columns=["image_id", "src_id", "bytes", "w", "h", "fmt"]
    )


# luma in integer milli-units: 299R + 587G + 114B per pixel (BT.601
# weights ×1000), range 0..255000 — the exact arithmetic the
# image-quality tier and its oracle share
LUMA_DARK = 30_000  # < 30/255 full-scale → "dark" pixel
LUMA_BRIGHT = 225_000  # > 225/255 full-scale → "blown-out" pixel


def luma1000(px: np.ndarray) -> np.ndarray:
    p = px.astype(np.int64)
    return 299 * p[:, :, 0] + 587 * p[:, :, 1] + 114 * p[:, :, 2]


def generate_image_quality_corpus(n: int = 40, seed: int = 23) -> pd.DataFrame:
    """Defect-structured corpus for the image-quality curation tier
    (the audio_quality posture): four classes cycling per row —
    'dark' (every pixel under the dark luma bound), 'bright' (every
    pixel over the blown-out bound), 'flat' (one constant mid-range
    color → zero contrast), 'normal' (full-range smooth content).
    Dims cycle (8,8) / (16,12) / (32,24) so the oracle's PPM header
    arithmetic sees 1- and 2-digit sizes. Every class margin is
    ASSERTED at generation time so the story cannot silently rot.
    Columns: (image_id, bytes, w, h, fmt='ppm', klass)."""
    dims = ((8, 8), (16, 12), (32, 24))
    rows = []
    for i in range(n):
        iid = f"iq{i:04d}"
        klass = ("dark", "bright", "flat", "normal")[i % 4]
        w, h = dims[i % len(dims)]
        base = _smooth_image(f"{seed}:{iid}".encode(), w, h).astype(np.int64)
        if klass == "dark":
            px = base * 26 // 256  # values 0..25 → luma <= 25_000
        elif klass == "bright":
            px = 230 + base * 26 // 256  # values 230..255 → luma >= 230_000
        elif klass == "flat":
            px = np.full((h, w, 3), 80 + (i % 7) * 15, dtype=np.int64)
        else:
            px = base
        px = px.astype(np.uint8)
        lum = luma1000(px)
        if klass == "dark":
            assert lum.max() < LUMA_DARK, f"{iid}: dark class leaked"
        elif klass == "bright":
            assert lum.min() > LUMA_BRIGHT, f"{iid}: bright class leaked"
        elif klass == "flat":
            assert lum.std() == 0.0, f"{iid}: flat class has contrast"
        else:
            n_px = lum.size
            assert (lum < LUMA_DARK).sum() / n_px < 0.2, f"{iid}: normal too dark"
            assert (lum > LUMA_BRIGHT).sum() / n_px < 0.2, f"{iid}: normal too bright"
            assert lum.std() / 1000.0 > 5.0, f"{iid}: normal class too flat"
        rows.append((iid, encode_ppm(px), w, h, "ppm", klass))
    return pd.DataFrame(
        rows, columns=["image_id", "bytes", "w", "h", "fmt", "klass"]
    )


def _py_sniff(data: bytes | None) -> str:
    """Reference magic-byte sniffer (plain Python) — the generator uses
    it to ASSERT every fixture row's expected class at creation time,
    and tests use it as the independent recompute. Must mirror
    multimodal/sniff.py::sniffed_format exactly."""
    if data is None:
        return "missing"
    if data.startswith(b"\x89PNG\r\n\x1a\n"):
        return "png"
    if data.startswith(b"\xff\xd8\xff"):
        return "jpeg"
    if data.startswith((b"GIF87a", b"GIF89a")):
        return "gif"
    if data.startswith((b"II*\x00", b"MM\x00*")):
        return "tiff"
    if data.startswith(b"RIFF") and data[8:12] == b"WEBP":
        return "webp"
    if data.startswith((b"P6\n", b"P6 ", b"P6\t", b"P6\r")):
        return "ppm"
    if data.startswith(b"BM"):
        return "bmp"
    return "unknown"


def generate_sniff_corpus(n: int = 60, seed: int = 29) -> pd.DataFrame:
    """Mislabel-structured corpus for the format-sniffing ingest audit:
    per-row classes cycle through
      * 'true'      — bytes really are the declared fmt (all 6 codecs)
      * 'mislabel'  — valid bytes of format X, declared as Y≠X (the
        classic crawl corruption: extension lies about content)
      * 'bmp'       — a BM-magic payload (format we detect but never
        encode) declared correctly
      * 'riff_wave' — RIFF container that is NOT WEBP (declared webp —
        exercises the two-field RIFF check's negative side)
      * 'truncated' — 1-2 magic-prefix bytes (strictly shorter than
        every magic — jpeg's and ppm's are 3 bytes)
      * 'garbage'   — digest noise with no magic (asserted)
      * 'nullbytes' — NULL payload (sniffs as 'missing')
    Every row's expected sniff is computed by the reference Python
    sniffer and ASSERTED against the class contract at generation time.
    Columns: (image_id, bytes, fmt, klass, expected)."""
    from dedup_spark.multimodal.gif import encode_gif
    from dedup_spark.multimodal.jpeg import encode_jpeg
    from dedup_spark.multimodal.png import encode_png
    from dedup_spark.multimodal.tiff import encode_tiff
    from dedup_spark.multimodal.webp import encode_webp_lossless

    enc = {
        "ppm": encode_ppm,
        "png": encode_png,
        "jpeg": encode_jpeg,
        "webp": encode_webp_lossless,
        "tiff": encode_tiff,
        "gif": encode_gif,
    }
    fmts = list(enc)
    classes = ("true", "mislabel", "bmp", "riff_wave",
               "truncated", "garbage", "nullbytes")
    rows = []
    for i in range(n):
        iid = f"sn{i:04d}"
        klass = classes[i % len(classes)]
        w, h = ((8, 8), (12, 10), (16, 12))[i % 3]
        px = _smooth_image(f"{seed}:{iid}".encode(), w, h)
        if klass == "true":
            fmt = fmts[i % len(fmts)]
            data = enc[fmt](px)
            expect = fmt
        elif klass == "mislabel":
            actual = fmts[i % len(fmts)]
            fmt = fmts[(i + 1) % len(fmts)]  # declared ≠ actual
            data = enc[actual](px)
            expect = actual
        elif klass == "bmp":
            fmt = "bmp"
            data = b"BM" + _digest_stream(
                f"{seed}:{iid}:bmp".encode(), 40
            ).tobytes()
            expect = "bmp"
        elif klass == "riff_wave":
            fmt = "webp"
            data = b"RIFF" + (36).to_bytes(4, "little") + b"WAVE" + b"\x00" * 8
            expect = "unknown"
        elif klass == "truncated":
            fmt = fmts[i % len(fmts)]
            # 1-2 bytes: strictly shorter than every magic (jpeg's is
            # 3 bytes, ppm's 3, bmp's 2 — bmp is not an enc format)
            data = enc[fmt](px)[: 1 + i % 2]
            expect = "unknown"
        elif klass == "garbage":
            fmt = fmts[i % len(fmts)]
            data = b"\x00" + _digest_stream(
                f"{seed}:{iid}:junk".encode(), 64
            ).tobytes()
            expect = "unknown"
        else:  # nullbytes
            fmt = fmts[i % len(fmts)]
            data = None
            expect = "missing"
        assert _py_sniff(data) == expect, f"{iid}: {klass} sniff drifted"
        rows.append((iid, data, fmt, klass, expect))
    return pd.DataFrame(
        rows, columns=["image_id", "bytes", "fmt", "klass", "expected"]
    )


def generate_caption_audit_corpus(seed: int = 31) -> pd.DataFrame:
    """Structured corpus for the caption↔image consistency audit.
    Image+caption pairs arrive from many crawls; the curation questions
    are 'does this image carry conflicting alt-texts?' (re-captioned
    reposts — a label-noise source for caption-supervised training)
    and 'is this caption a stock string pasted on many images?'
    ('stock photo', SEO spam — near-worthless supervision). Classes:
      * 'single'    — unique image, unique caption (consistent)
      * 'exact_dup' — same bytes AND same caption twice (consistent:
        duplication is the exact tier's business, not label noise)
      * 'conflict'  — one image under 3 different captions
      * 'stock'     — one caption across 4 different images
      * 'both'      — an image with 2 captions, one of which is also
        used by 2 OTHER images (row-level status depends on which side
        of the group a row sits — the test pins all of them)
    Columns: (image_id, bytes, caption, klass)."""
    rows = []

    def img(tag: str, w: int = 10, h: int = 8) -> bytes:
        return encode_ppm(_smooth_image(f"{seed}:{tag}".encode(), w, h))

    def cap(tag: str, n: int = 6) -> str:
        idx = _digest_stream(f"{seed}:cap:{tag}".encode(), n)
        return " ".join(_VOCAB[b % len(_VOCAB)] for b in idx)

    k = 0

    def add(data: bytes, caption: str, klass: str) -> None:
        nonlocal k
        rows.append((f"ca{k:04d}", data, caption, klass))
        k += 1

    for i in range(10):
        add(img(f"single{i}"), cap(f"single{i}"), "single")
    for i in range(4):
        b, c = img(f"dup{i}"), cap(f"dup{i}")
        add(b, c, "exact_dup")
        add(b, c, "exact_dup")
    for i in range(3):
        b = img(f"conflict{i}")
        for j in range(3):
            add(b, cap(f"conflict{i}:{j}"), "conflict")
    for i in range(2):
        c = cap(f"stock{i}")
        for j in range(4):
            add(img(f"stock{i}:{j}"), c, "stock")
    # 'both': image B under captions s and x; s also on images I1, I2
    b_img, s_cap = img("both:B"), cap("both:s")
    add(b_img, s_cap, "both")
    add(b_img, cap("both:x"), "both")
    add(img("both:I1"), s_cap, "both")
    add(img("both:I2"), s_cap, "both")

    pdf = pd.DataFrame(rows, columns=["image_id", "bytes", "caption", "klass"])
    # structure asserts: no accidental cross-class collisions
    assert pdf["image_id"].is_unique
    n_img = pdf.groupby(pdf["bytes"].apply(hash))["caption"].nunique()
    assert n_img.max() == 3  # the conflict groups, nothing larger
    assert pdf.groupby("caption")["bytes"].apply(
        lambda s: s.apply(hash).nunique()
    ).max() == 4  # the stock groups, nothing larger
    return pdf


def _pad_image(px: np.ndarray, top: int, bottom: int, left: int,
               right: int, color: tuple[int, int, int]) -> np.ndarray:
    h, w, _ = px.shape
    out = np.empty((h + top + bottom, w + left + right, 3), dtype=np.uint8)
    out[:, :] = np.array(color, dtype=np.uint8)
    out[top : top + h, left : left + w] = px
    return out


def generate_border_corpus(n_src: int = 30, seed: int = 37) -> pd.DataFrame:
    """Uniform-border variants of each source image — the border/pad
    dedup fixture. Per source: the original plus symmetric 2px black,
    5px white, asymmetric (3/1/2/4) colored, and letterbox (4px
    top+bottom only) paddings. The generator INDEPENDENTLY re-trims
    every variant with plain slicing and ASSERTS it recovers the base
    pixels exactly, asserts the base itself is trim-stable (no
    accidental uniform outer ring), and asserts cross-source content
    distinctness — so group-by-source IS the oracle, provided the
    engine's trim rule matches this one. Columns:
    (image_id, src_id, bytes, w, h, fmt='ppm')."""

    def _ref_trim(px: np.ndarray) -> np.ndarray:
        c = px[0, 0]
        r0, r1 = 0, px.shape[0]
        while r0 < r1 and (px[r0] == c).all():
            r0 += 1
        if r0 == r1:
            return px
        while (px[r1 - 1] == c).all():
            r1 -= 1
        c0, c1 = 0, px.shape[1]
        while (px[r0:r1, c0] == c).all():
            c0 += 1
        while (px[r0:r1, c1 - 1] == c).all():
            c1 -= 1
        return px[r0:r1, c0:c1]

    variants = (
        ("orig", (0, 0, 0, 0), (0, 0, 0)),
        ("pad2k", (2, 2, 2, 2), (0, 0, 0)),
        ("pad5w", (5, 5, 5, 5), (255, 255, 255)),
        ("asym", (3, 1, 2, 4), (37, 99, 171)),
        ("lbox", (4, 4, 0, 0), (0, 0, 0)),
    )
    dims = ((24, 16), (32, 24), (20, 20))
    rows = []
    seen: set[bytes] = set()
    for i in range(n_src):
        sid = f"b{i:04d}"
        w, h = dims[i % len(dims)]
        base = _smooth_image(f"{seed}:{sid}".encode(), w, h)
        assert _ref_trim(base).shape == base.shape, f"{sid}: base not trim-stable"
        key = base.tobytes()
        assert key not in seen, f"{sid}: cross-source collision"
        seen.add(key)
        for name, (t, b, l, r), color in variants:
            px = _pad_image(base, t, b, l, r, color) if name != "orig" else base
            got = _ref_trim(px)
            assert got.shape == base.shape and (got == base).all(), (
                f"{sid}#{name}: trim does not recover the base"
            )
            rows.append(
                (f"{sid}#{name}", sid, encode_ppm(px),
                 px.shape[1], px.shape[0], "ppm")
            )
    return pd.DataFrame(
        rows, columns=["image_id", "src_id", "bytes", "w", "h", "fmt"]
    )


def generate_patch_corpus(seed: int = 41) -> pd.DataFrame:
    """Planted-logo corpus for shared-patch (watermark family) mining.
    Classes: 8 images carry logo A and 6 carry logo B pasted at varied
    GRID-ALIGNED 8×8 offsets; 4 carry logo A at a deliberately
    MISALIGNED offset (the stride limitation, pinned: no pairs); 6 are
    clean. Generation ASSERTS the contract the oracle relies on: the
    two logos are non-flat and distinct, every aligned logo carrier
    exposes the logo block exactly at its grid phase, and all OTHER
    non-flat aligned patches are globally unique across the corpus (no
    accidental links). Columns: (image_id, logo, bytes, w, h,
    fmt='ppm', klass) — `logo` is NULL for misaligned + clean rows
    (the oracle's pair key; the engine never sees it)."""
    logo_a = _smooth_image(f"{seed}:logoA".encode(), 8, 8)
    logo_b = _smooth_image(f"{seed}:logoB".encode(), 8, 8)
    assert logo_a.max() > logo_a.min() and logo_b.max() > logo_b.min()
    assert logo_a.tobytes() != logo_b.tobytes()

    specs = []
    for i in range(8):
        specs.append((f"pa{i:04d}", "A", logo_a, (8 * (i % 3), 8 * (i % 2 + 1)), "aligned_a"))
    for i in range(6):
        specs.append((f"pb{i:04d}", "B", logo_b, (8 * (i % 2 + 1), 8 * (i % 3)), "aligned_b"))
    for i in range(4):
        specs.append((f"pm{i:04d}", None, logo_a, (8 * (i % 2) + 3, 8 + 5), "misaligned"))
    for i in range(6):
        specs.append((f"pc{i:04d}", None, None, None, "clean"))

    rows = []
    seen: dict[bytes, str] = {}
    for iid, logo, blk, off, klass in specs:
        w, h = 40, 32
        base = _smooth_image(f"{seed}:{iid}".encode(), w, h).copy()
        if blk is not None:
            y, x = off
            base[y : y + 8, x : x + 8] = blk
        # contract asserts: walk this image's aligned non-flat patches
        for y in range(0, h - 7, 8):
            for x in range(0, w - 7, 8):
                p = base[y : y + 8, x : x + 8]
                if p.max() == p.min():
                    continue
                key = p.tobytes()
                if logo is not None and key == blk.tobytes():
                    continue  # the planted block itself
                assert key not in seen, f"{iid}@{y},{x} collides with {seen[key]}"
                seen[key] = iid
        if logo is not None:
            y, x = off
            got = base[y : y + 8, x : x + 8]
            assert (got == blk).all() and y % 8 == 0 and x % 8 == 0
        if klass == "misaligned":
            y, x = off
            assert y % 8 != 0 or x % 8 != 0
        rows.append(
            (iid, logo, encode_ppm(base), w, h, "ppm", klass)
        )
    return pd.DataFrame(
        rows,
        columns=["image_id", "logo", "bytes", "w", "h", "fmt", "klass"],
    )


def generate_gps_corpus(n: int = 36, seed: int = 43) -> pd.DataFrame:
    """GPS-privacy corpus for the scrub tier: rows cycle through
    gps-bearing EXIF (both TIFF endians, varied DMS coordinates and
    hemisphere refs), exif-without-gps, and exif-less JPEGs. All rows
    are structurally valid JPEGs — malformed/non-JPEG survival is the
    test suite's job, keeping every gate boolean total. Columns:
    (image_id, bytes, fmt='jpeg', endian, has_gps)."""
    from dedup_spark.multimodal.exif import build_exif_app1, insert_app1
    from dedup_spark.multimodal.jpeg import encode_jpeg

    rows = []
    for i in range(n):
        iid = f"g{i:04d}"
        px = _smooth_image(f"{seed}:{iid}".encode(), 16, 16)
        jp = encode_jpeg(px, quality=99)
        big = i % 2 == 1
        if i % 3 == 0:
            app1 = build_exif_app1(
                make=f"maker-{i:04d}",
                model=f"model-{i:04d}",
                orientation=(i % 8) + 1,
                width=16,
                height=16,
                datetime=f"2024:02:{(i % 28) + 1:02d} {i % 24:02d}:00:00",
                lat_dms=(i % 90, (i * 7) % 60, (i * 11) % 60),
                lon_dms=(i % 180, (i * 13) % 60, (i * 17) % 60),
                north=i % 4 < 2,
                east=i % 5 < 3,
                big_endian=big,
            )
            rows.append((iid, insert_app1(jp, app1), "jpeg",
                         "MM" if big else "II", True))
        elif i % 3 == 1:
            app1 = build_exif_app1(
                make=f"maker-{i:04d}",
                model=f"model-{i:04d}",
                orientation=(i % 8) + 1,
                width=16,
                height=16,
                datetime=f"2024:02:{(i % 28) + 1:02d} {i % 24:02d}:00:00",
                big_endian=big,
            )
            rows.append((iid, insert_app1(jp, app1), "jpeg",
                         "MM" if big else "II", False))
        else:
            rows.append((iid, jp, "jpeg", "none", False))
    return pd.DataFrame(
        rows, columns=["image_id", "bytes", "fmt", "endian", "has_gps"]
    )


def generate_rotation_corpus(n_src: int = 25, seed: int = 47) -> pd.DataFrame:
    """Dihedral-transform variants of each source image — the
    rotation/flip dedup fixture. Per source: the original (non-square,
    so rot90 changes dims) plus rot90/rot180/rot270 and horizontal /
    vertical mirrors. The generator asserts every variant's pixel
    multiset equals the base's (sorted flat-triple compare — an
    INDEPENDENT formulation of the engine's unique+counts signature)
    and that multisets are DISTINCT across sources, so group-by-source
    is the exact oracle. Columns: (image_id, src_id, bytes, w, h,
    fmt='ppm')."""
    variants = (
        ("orig", lambda p: p),
        ("r090", lambda p: np.rot90(p, 1)),
        ("r180", lambda p: np.rot90(p, 2)),
        ("r270", lambda p: np.rot90(p, 3)),
        ("flph", lambda p: p[:, ::-1]),
        ("flpv", lambda p: p[::-1, :]),
    )
    rows = []
    seen: set[bytes] = set()
    for i in range(n_src):
        sid = f"rt{i:04d}"
        base = _smooth_image(f"{seed}:{sid}".encode(), 18, 12)
        base_ms = np.sort(
            base.reshape(-1, 3).view([("r", "u1"), ("g", "u1"), ("b", "u1")]),
            axis=0,
        ).tobytes()
        assert base_ms not in seen, f"{sid}: cross-source multiset collision"
        seen.add(base_ms)
        for name, fn in variants:
            px = np.ascontiguousarray(fn(base))
            ms = np.sort(
                px.reshape(-1, 3).view([("r", "u1"), ("g", "u1"), ("b", "u1")]),
                axis=0,
            ).tobytes()
            assert ms == base_ms, f"{sid}#{name}: transform changed the multiset"
            rows.append(
                (f"{sid}#{name}", sid, encode_ppm(px),
                 px.shape[1], px.shape[0], "ppm")
            )
    return pd.DataFrame(
        rows, columns=["image_id", "src_id", "bytes", "w", "h", "fmt"]
    )


def generate_recompress_corpus(n_src: int = 24, seed: int = 59) -> pd.DataFrame:
    """Recompression variants of each source photo — THE most common
    web near-dup: the same image saved at different JPEG qualities
    (and once losslessly). Per source: the PNG original plus baseline
    JPEG at q=70/85/92/99. Every variant decodes to slightly different
    pixels, so every exactness tier (byte, pixel-sha, thumbprint,
    content-box, multiset) splits them; the DCT perceptual hash is the
    tier built for this class. The generator ASSERTS the separation
    margin the oracle's group-by-source relies on: max within-source
    pHash distance ≤ 4 (recompression needs one more bit of radius
    than the default 3 — measured max is exactly 4 at q=70, the
    documented reason the tier runs at radius 4) and min cross-source
    distance ≥ 12 (measured 20) — so radius-4 clustering + connected
    components must recover exactly the sources. Columns: (image_id,
    src_id, bytes, w, h, fmt)."""
    from dedup_spark.multimodal.jpeg import decode_jpeg, encode_jpeg
    from dedup_spark.multimodal.png import encode_png

    rows = []
    hashes: list[tuple[str, int]] = []
    for i in range(n_src):
        sid = f"rc{i:04d}"
        base = _smooth_image(f"{seed}:{sid}".encode(), 32, 32)
        variants = [("png", encode_png(base), base)]
        for q in (70, 85, 92, 99):
            jp = encode_jpeg(base, quality=q)
            variants.append((f"q{q}", jp, decode_jpeg(jp)))
        per_src = []
        for name, data, px in variants:
            h = int(phash64(px))
            per_src.append(h)
            rows.append(
                (f"{sid}#{name}", sid, data, 32, 32,
                 "png" if name == "png" else "jpeg")
            )
        for a in range(len(per_src)):
            for b in range(a + 1, len(per_src)):
                d = bin((per_src[a] ^ per_src[b]) & ((1 << 64) - 1)).count("1")
                assert d <= 4, f"{sid}: within-source phash distance {d} > 4"
        hashes.extend((sid, h) for h in per_src)
    for (sa, ha) in hashes:
        for (sb, hb) in hashes:
            if sa < sb:
                d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
                assert d >= 12, f"{sa}/{sb}: cross-source distance {d} < 12"
    return pd.DataFrame(
        rows, columns=["image_id", "src_id", "bytes", "w", "h", "fmt"]
    )
