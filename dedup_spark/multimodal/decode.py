"""Image decode / feature-extract over binary columns.

Images, audio, and video are opaque `binary` columns with typed metadata
(w, h, fmt). All pixel work happens in Arrow-batched pandas UDFs via
mapInPandas — the Spark-side plumbing (schema, batch shape, partition
sizing) is real and tested. SIX formats decode for real with zero
imaging libs: PPM (pure numpy), PNG (stdlib zlib + numpy unfilter,
multimodal/png.py — 8-bit grey/RGB/RGBA, all five filters), baseline
JPEG (multimodal/jpeg.py — numpy DCT + hand-rolled Huffman), lossless
WebP (multimodal/webp.py — from-scratch VP8L prefix-code / LZ77 /
color-cache bitstream, documented subset), TIFF (multimodal/tiff.py —
general IFD walk both endians, from-scratch LZW with the early-change
width schedule, horizontal predictor), and GIF (multimodal/gif.py —
LSB-first LZW, true-color via per-strip local palettes). Any other
fmt decodes through PIL when it is installed and is otherwise an
unreadable row. The "PSNR >= 40 dB for lossy" contract is exercised
end-to-end by lossy_roundtrip_fidelity.

Batch-shape contract: mapInPandas receives an iterator of pandas
DataFrames whose size is bounded by spark.sql.execution.arrow.
maxRecordsPerBatch — for image payloads set maxPartitionBytes low
enough (session.py: 128m) that a batch of decoded pixels fits executor
Python memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from dedup_spark.fixtures.images import decode_ppm, phash64
from dedup_spark.multimodal.gif import decode_gif
from dedup_spark.multimodal.jpeg import decode_jpeg
from dedup_spark.multimodal.png import decode_png
from dedup_spark.multimodal.tiff import decode_tiff
from dedup_spark.multimodal.webp import decode_webp_lossless

try:  # codec libs are optional; the six built-in codecs never need them
    from PIL import Image  # noqa: F401

    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False

_DECODERS = {
    "ppm": decode_ppm,
    "png": decode_png,
    "jpeg": decode_jpeg,
    "jpg": decode_jpeg,
    "webp": decode_webp_lossless,
    "tiff": decode_tiff,
    "tif": decode_tiff,
    "gif": decode_gif,
}


def _decode_any(data: bytes, fmt: str) -> np.ndarray | None:
    """Decode one payload; None on failure or on an unknown fmt with no
    imaging lib (unreadable-row skip semantics, reference
    src/hasher.rs:57-60). Every codec raises ValueError on malformed
    input."""
    if data is None:
        return None
    try:
        decode = _DECODERS.get(fmt)
        if decode is not None:
            return decode(bytes(data))
        if _HAS_PIL:
            import io

            return np.asarray(Image.open(io.BytesIO(bytes(data))).convert("RGB"))
        return None
    except (ValueError, OSError):
        return None


def _mean_pool(px: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Deterministic nearest-grid mean-pool resize (pure numpy)."""
    h, w, _ = px.shape
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return px[np.ix_(ys, xs)]


def extract_image_features(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """Decode → per-channel means, gray std, recomputed phash.

    Undecodable rows yield ok=false with null features (job survives —
    the 10^12-scale invariant). Input is projected to only the needed
    columns BEFORE the Python stage so Arrow ships no extra bytes.
    """

    def _features(px: np.ndarray) -> dict:
        means = px.reshape(-1, 3).mean(axis=0)
        gray = px.astype(np.float64).mean(axis=2)
        return {
            "mean_r": float(means[0]),
            "mean_g": float(means[1]),
            "mean_b": float(means[2]),
            "std_gray": float(gray.std()),
            "recomputed_phash": int(phash64(px)),
        }

    sig = image_signatures(
        df,
        _features,
        "struct<mean_r double, mean_g double, mean_b double, "
        "std_gray double, recomputed_phash long>",
        "_f",
        id_col,
        bytes_col,
        fmt_col,
    )
    return sig.select(id_col, "ok", "_f.*")


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    """PSNR of two same-shape 8-bit arrays; 999 dB sentinel for zero MSE
    (byte-identical pixels)."""
    mse = float(((a.astype(np.float64) - b.astype(np.float64)) ** 2).mean())
    return 999.0 if mse == 0 else float(10.0 * np.log10(255.0**2 / mse))


PSNR_SCHEMA = (
    "id1 string, id2 string, exact boolean, captions_equal boolean, "
    "psnr_db double, psnr_ok boolean"
)


def score_psnr_pairs(pairs: DataFrame, threshold_db: float = 40.0) -> DataFrame:
    """Decoded-pixel fidelity of candidate pairs: PSNR between the two
    decoded payloads (999 dB sentinel for byte-identical / zero-MSE
    pairs) and psnr_ok = PSNR >= threshold. Input needs columns
    (id1, bytes1, fmt1, caption1, id2, bytes2, fmt2, caption2);
    exact/captions_equal are computed JVM-side, only the pixel work is
    Python. A decode failure on either side yields psnr_ok = false
    (null psnr_db) rather than killing the job — same unreadable-row
    skip semantics as the feature extractor (reference
    src/hasher.rs:57-60)."""

    def _score(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for r in pdf.itertuples(index=False):
                a = _decode_any(r.bytes1, r.fmt1)
                b = _decode_any(r.bytes2, r.fmt2)
                if a is None or b is None or a.shape != b.shape:
                    out.append((r.id1, r.id2, bool(r.exact),
                                bool(r.captions_equal), None, False))
                    continue
                psnr = _psnr(a, b)
                out.append((r.id1, r.id2, bool(r.exact),
                            bool(r.captions_equal), psnr,
                            bool(psnr >= threshold_db)))
            yield pd.DataFrame(
                out,
                columns=["id1", "id2", "exact", "captions_equal",
                         "psnr_db", "psnr_ok"],
            )

    return pairs.mapInPandas(_score, schema=PSNR_SCHEMA)


def decode_fidelity_pairs(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    caption_col: str = "caption",
    group_cols: tuple = ("w", "h", "phash"),
    threshold_db: float = 40.0,
) -> DataFrame:
    """Candidate near-dup pairs (same stage-1 group: equal dims + equal
    phash) scored for decoded-pixel fidelity. The self-join keys on the
    cheap metadata group, so payload movement is O(candidate pairs) —
    bounded by the stage-1 groups, never the full cross product; at
    cluster scale the group key is the shuffle key, the same
    co-location the exact tier already uses."""
    cols = [id_col, bytes_col, fmt_col, caption_col, *group_cols]
    a = df.select(*cols).toDF(*[f"{c}__a" for c in cols])
    b = df.select(*cols).toDF(*[f"{c}__b" for c in cols])
    joined = a.join(b, on=F.expr(" AND ".join(
        [f"{g}__a <=> {g}__b" for g in group_cols]
        + [f"{id_col}__a < {id_col}__b"]
    )))
    pairs = joined.select(
        F.col(f"{id_col}__a").alias("id1"),
        F.col(f"{bytes_col}__a").alias("bytes1"),
        F.col(f"{fmt_col}__a").alias("fmt1"),
        F.col(f"{id_col}__b").alias("id2"),
        F.col(f"{bytes_col}__b").alias("bytes2"),
        F.col(f"{fmt_col}__b").alias("fmt2"),
        (F.col(f"{bytes_col}__a") == F.col(f"{bytes_col}__b")).alias("exact"),
        (F.col(f"{caption_col}__a") == F.col(f"{caption_col}__b")).alias(
            "captions_equal"
        ),
    )
    return score_psnr_pairs(pairs, threshold_db=threshold_db)


def lossy_roundtrip_fidelity(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    quality: int = 99,
    threshold_db: float = 40.0,
) -> DataFrame:
    """The north rule's lossy-format PSNR contract, end-to-end: decode
    every payload, push the pixels through the REAL baseline JPEG
    codec (multimodal/jpeg.py — encode then decode), and score the
    round-trip PSNR against the original pixels. Returns
    (image_id, ok, psnr_ok): ok=false if the source payload is
    undecodable, psnr_ok=false if the lossy round trip fails or lands
    below threshold — either degrades the row instead of killing the
    job (unreadable-row skip semantics, reference src/hasher.rs:57-60).
    Only (id, bytes, fmt) ship to the Python stage."""
    from dedup_spark.multimodal.jpeg import encode_jpeg

    def _rt(px: np.ndarray) -> bool:
        try:
            back = decode_jpeg(encode_jpeg(px, quality=quality))
            return bool(_psnr(px, back) >= threshold_db)
        except ValueError:
            return False

    sig = image_signatures(
        df, _rt, "boolean", "psnr_ok", id_col, bytes_col, fmt_col
    )
    return sig.select(
        id_col, "ok", F.coalesce("psnr_ok", F.lit(False)).alias("psnr_ok")
    )


def reencode_variants(
    df: DataFrame,
    formats: tuple = ("ppm", "png", "jpeg", "webp", "tiff", "gif"),
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """Deterministically re-encode every decodable payload in each of
    ``formats`` (real codecs: PPM, PNG, baseline JPEG, lossless WebP,
    TIFF-LZW, true-color strip GIF) — one output row per
    (image, format) with id `<image_id>#<format>`.
    This synthesizes the classic ingest situation pixel-level dedup
    exists for: the same image arriving re-encoded under different
    container formats, where byte-level dedup sees nothing."""
    from dedup_spark.fixtures.images import encode_ppm
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

    def _re(px: np.ndarray) -> list:
        return [{"bytes": enc[f](px), "fmt": f} for f in formats]

    sig = image_signatures(
        df,
        _re,
        "array<struct<bytes binary, fmt string>>",
        "_v",
        id_col,
        bytes_col,
        fmt_col,
    )
    v = sig.select(id_col, F.inline("_v"))
    return v.select(
        F.concat(id_col, F.lit("#"), "fmt").alias(id_col), "bytes", "fmt"
    )


def shape_sha(px: np.ndarray) -> str:
    """sha256 over (h, w) as int64 + the raw decoded pixel buffer — the
    content identity that survives lossless re-encoding."""
    h = hashlib.sha256()
    h.update(np.int64(px.shape[0]).tobytes())
    h.update(np.int64(px.shape[1]).tobytes())
    h.update(np.ascontiguousarray(px).tobytes())
    return h.hexdigest()


def image_signatures(
    df: DataFrame,
    sig_fn: Callable[..., object],
    sig_type: str,
    key: str,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    extra_cols: tuple = (),
) -> DataFrame:
    """(id, ok, key): the one decode loop for every single-image stage
    (the signature tiers, and the feature, quality, fidelity, re-encode
    and patch stages, which return a struct or an array of structs as
    their key). Only the pair verifiers, which decode two payloads per
    row, call ``_decode_any`` themselves; the contract is pinned in
    tests/test_single_image_stages.py.

    Each payload is decoded and ``sig_fn(px, *extra)``
    maps the pixels (plus the row's ``extra_cols`` values) to a key of
    Spark type ``sig_type``. ok=false when the decode fails or
    ``sig_fn`` returns None; the key is then null (unreadable-row skip
    semantics, reference src/hasher.rs:57-60).

    Only (id, bytes, fmt, *extra_cols) ship to the Arrow-batched
    mapInPandas stage, so the payload is consumed there and never
    enters an Exchange. The key column is built with object dtype:
    a None in the batch can never widen an int64 key to float64 and
    round it."""
    cols = [id_col, bytes_col, fmt_col, *extra_cols]

    def _sign(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            sigs = []
            for data, fmt, *extra in zip(*(pdf[c] for c in cols[1:])):
                px = _decode_any(data, fmt)
                sigs.append(None if px is None else sig_fn(px, *extra))
            sig = pd.Series(sigs, dtype=object)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "ok": sig.notna(), key: sig}
            )

    return df.select(*cols).mapInPandas(
        _sign, schema=f"{id_col} string, ok boolean, {key} {sig_type}"
    )


def signature_clusters(sig_df: DataFrame, key: str) -> DataFrame:
    """(id, ok, cluster_id) from an (id, ok, key) ``image_signatures``
    frame: cluster_id = min id over the ok rows sharing ``key``; failed
    rows self-cluster.

    Scale shape — the exact tier's group-by-content-key plan
    (reference src/grouping.rs): a lineage cut after the Python stage
    (it has two consumers, so the decode must not run twice), one
    map-side-combined groupBy on the key, and a left join back. Only
    (id, ok, key) reach an Exchange; duplicate floods hit AQE's
    skew-join handling like every other content-keyed group."""
    id_col = sig_df.columns[0]
    sig = sig_df.localCheckpoint(eager=False)
    roots = (
        sig.filter(F.col("ok"))
        .groupBy(key)
        .agg(F.min(id_col).alias("cluster_id"))
    )
    return sig.join(roots, on=key, how="left").select(
        id_col, "ok", F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id")
    )


def pixel_sha(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """(id, ok, pixel_sha): ``shape_sha`` of the decoded pixels.
    Undecodable rows get ok=false with a null sha."""
    return image_signatures(
        df, shape_sha, "string", "pixel_sha", id_col, bytes_col, fmt_col
    )


def thumbprint_clusters(
    df: DataFrame,
    grid: int = 8,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """Scale-invariant image dedup: decode → nearest-grid point-sample
    to grid×grid (`_mean_pool`) → sha256 thumbprint → cluster by
    thumbprint (min id). Catches the SAME image stored at different
    resolutions — invisible to byte dedup (different lengths), to the
    stage-1 (phash, length) pre-group (different lengths), and to
    pixel-sha dedup (different dims/buffers).

    Exactness contract: the thumbprint is bitwise-equal across
    resolutions whenever the sampling grids compose (grid | d | D for a
    D→d downscale, see fixtures/images.generate_rescale_corpus); for
    arbitrary rescales it is a near-dup signature like phash.
    """

    def _thumb(px: np.ndarray) -> str:
        t = _mean_pool(px, grid, grid)
        return hashlib.sha256(np.ascontiguousarray(t).tobytes()).hexdigest()

    sig = image_signatures(
        df, _thumb, "string", "thumb_sha", id_col, bytes_col, fmt_col
    )
    return signature_clusters(sig, "thumb_sha")


def jpeg_quality_estimates(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """(id, has_dqt, est_quality): libjpeg quality estimated from the
    luma DQT alone — no pixel decode (multimodal/jpeg.py). The
    recompression-filter signal at scan speed. Non-JPEGs / missing
    tables yield has_dqt=false; a FOREIGN (non-standard-base) quant
    table yields has_dqt=true with est_quality null; malformed or
    null payloads survive as (false, null) — the 10^12-row
    invariant. One segment walk per row; the 100 candidate tables are
    precomputed module constants."""
    from dedup_spark.multimodal.jpeg import (
        estimate_quality_from_table,
        find_luma_qt,
    )

    def _est(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rid, data in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    qt = None if data is None else find_luma_qt(bytes(data))
                    has = qt is not None
                    est = estimate_quality_from_table(qt) if has else None
                except ValueError:  # malformed: survive
                    has, est = False, None
                rows.append((rid, has, est))
            yield pd.DataFrame(
                rows, columns=[id_col, "has_dqt", "est_quality"]
            )

    return df.select(id_col, bytes_col).mapInPandas(
        _est, schema=f"{id_col} string, has_dqt boolean, est_quality int"
    )


def image_quality_report(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
) -> DataFrame:
    """Brightness/contrast curation signals per image — the drop rules
    image pipelines apply before any expensive near-dup work (all-dark
    sensor failures, blown-out frames, zero-contrast placeholders):
    integer milli-luma (299R+587G+114B, BT.601 ×1000), mean and std,
    the dark / blown-out pixel ratios, and the min/max luma. One
    Arrow-batched mapInPandas projection — the payload is consumed
    here and never enters an exchange (the audio_quality plan shape).

    Exactness contract with the oracle: per-image sums are EXACT
    Python ints (s = Σ luma, ssq = Σ luma²); doubles appear only in
    the final divisions —
      mean_luma  = s / (n·1000)
      std_luma   = sqrt(double(n·ssq − s²)) / (n·1000)
    where n·ssq − s² ≤ n²·255000²/4 is converted from the same exact
    integer on both sides (correctly-rounded int→double, so magnitude
    beyond 2^53 is still bit-identical), and every ratio is an
    int/int division of exact doubles. All exposed floats round(·, 6)
    half-away-from-zero (the audio_quality banker's-tie lesson).
    """
    import math

    def _round6(x: float) -> float:
        # half-AWAY on non-negative values — Python round() is
        # banker's and diverges from DuckDB on exact 6-dp ties
        return math.floor(x * 1e6 + 0.5) / 1e6

    def _iq(px: np.ndarray) -> dict:
        p = px.astype(np.int64)
        lum = 299 * p[:, :, 0] + 587 * p[:, :, 1] + 114 * p[:, :, 2]
        n = int(lum.size)
        s = int(lum.sum())
        ssq = int(np.dot(lum.ravel(), lum.ravel()))
        return {
            "n_px": n,
            "mean_luma": _round6(s / (n * 1000)),
            "std_luma": _round6(math.sqrt(float(n * ssq - s * s)) / (n * 1000.0)),
            "dark_ratio": _round6(int((lum < 30_000).sum()) / n),
            "bright_ratio": _round6(int((lum > 225_000).sum()) / n),
            "min_luma1000": int(lum.min()),
            "max_luma1000": int(lum.max()),
        }

    sig = image_signatures(
        df,
        _iq,
        "struct<n_px long, mean_luma double, std_luma double, "
        "dark_ratio double, bright_ratio double, min_luma1000 long, "
        "max_luma1000 long>",
        "_q",
        id_col,
        bytes_col,
        fmt_col,
    )
    return sig.select(id_col, "ok", "_q.*")
