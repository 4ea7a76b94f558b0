"""Hostile payloads: a corrupt, truncated or unknown-format image must
decode to an unreadable row (ValueError from the codec, None from
``_decode_any``), never an exception that kills the Spark task."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from dedup_spark.fixtures.images import encode_ppm
from dedup_spark.multimodal.crop import border_trim_clusters
from dedup_spark.multimodal.decode import _decode_any
from dedup_spark.multimodal.exif import (
    build_exif_app1,
    insert_app1,
    parse_exif,
    parse_gps,
    scrub_gps,
)
from dedup_spark.multimodal.jpeg import decode_jpeg, encode_jpeg, find_luma_qt
from dedup_spark.multimodal.png import decode_png, encode_png
from dedup_spark.multimodal.tiff import decode_tiff, encode_tiff


def _px(seed: int = 0, h: int = 12, w: int = 10) -> np.ndarray:
    return np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)


def _flip_idat_byte(png: bytes) -> bytes:
    """Flip one byte inside the first IDAT chunk's zlib stream."""
    at = png.index(b"IDAT") + 4 + 2  # past the tag and the zlib header
    return png[:at] + bytes([png[at] ^ 0xFF]) + png[at + 1:]


def test_png_corrupt_idat_raises_value_error():
    bad = _flip_idat_byte(encode_png(_px()))
    with pytest.raises(ValueError):
        decode_png(bad)
    assert _decode_any(bad, "png") is None


def test_png_short_ihdr_raises_value_error():
    ihdr = struct.pack(">I", 4) + b"IHDR" + b"\0" * 4 + b"\0" * 4
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\n" + ihdr)


def test_tiff_truncated_ifd_raises_value_error():
    for endian in ("II", "MM"):
        data = encode_tiff(_px(), endian=endian)
        for n in range(8, 41):
            with pytest.raises(ValueError):
                decode_tiff(data[:n])
            assert _decode_any(data[:n], "tiff") is None


def test_jpeg_truncations_raise_only_value_error():
    # a stream missing only its tail (EOI, last entropy bytes) may still
    # decode, as in lenient decoders; anything else must be ValueError,
    # never struct.error or IndexError
    data = encode_jpeg(_px(1, 16, 16))
    failed = 0
    for n in range(len(data)):
        try:
            decode_jpeg(data[:n])
        except ValueError:
            failed += 1
    assert failed >= len(data) - 16


def test_jpeg_scan_naming_unknown_component_or_table_raises_value_error():
    data = encode_jpeg(_px(3, 8, 8))
    sos = data.index(b"\xff\xda") + 5  # marker, length, component count
    for patch in (b"\x09", data[sos:sos + 1] + b"\xff"):  # bad id; table 15
        bad = data[:sos] + patch + data[sos + len(patch):]
        with pytest.raises(ValueError):
            decode_jpeg(bad)


def test_tiff_zero_count_tag_raises_value_error():
    data = bytearray(encode_tiff(_px()))
    (ifd,) = struct.unpack_from("<I", data, 4)
    (n,) = struct.unpack_from("<H", data, ifd)
    for i in range(n):
        at = ifd + 2 + 12 * i
        if struct.unpack_from("<H", data, at)[0] == 0x0101:  # ImageLength
            struct.pack_into("<I", data, at + 4, 0)
    with pytest.raises(ValueError):
        decode_tiff(bytes(data))


def _mutants(data: bytes, rng: np.random.Generator, n: int):
    """``n`` copies of ``data`` with 1-4 random bit flips, truncations
    or short insertions each."""
    for _ in range(n):
        m = bytearray(data)
        for _ in range(int(rng.integers(1, 5))):
            if not m:
                break
            op, i = int(rng.integers(3)), int(rng.integers(len(m)))
            if op == 0:
                m[i] ^= 1 << int(rng.integers(8))
            elif op == 1:
                del m[i:]
            else:
                m[i:i] = rng.integers(0, 256, int(rng.integers(1, 4)), np.uint8).tobytes()
        yield bytes(m)


def _exif_gps_jpeg(px: np.ndarray) -> bytes:
    return insert_app1(
        encode_jpeg(px),
        build_exif_app1(
            "maker-0009", "model-0009", 8, px.shape[1], px.shape[0],
            "2024:01:09 09:00:00", (48, 51, 24), (2, 21, 3),
        ),
    )


# the metadata walks, each on payloads it reads
_READERS = {
    "find_luma_qt": (encode_jpeg, find_luma_qt),
    "parse_exif": (_exif_gps_jpeg, parse_exif),
    "parse_gps": (_exif_gps_jpeg, parse_gps),
    "scrub_gps": (_exif_gps_jpeg, scrub_gps),
}


@pytest.mark.parametrize(
    "fmt", ["ppm", "png", "jpeg", "webp", "tiff", "gif", *_READERS]
)
def test_mutated_payloads_never_raise(fmt):
    from dedup_spark.multimodal.gif import encode_gif
    from dedup_spark.multimodal.webp import encode_webp_lossless

    enc = {
        "ppm": encode_ppm, "png": encode_png, "jpeg": encode_jpeg,
        "webp": encode_webp_lossless, "tiff": encode_tiff, "gif": encode_gif,
    }
    rng = np.random.default_rng(7)
    if fmt in _READERS:  # ValueError is a metadata walk's typed failure
        build, read = _READERS[fmt]
        for m in _mutants(build(_px(4, 14, 11)), rng, 300):
            try:
                got = read(m)
            except ValueError:
                continue
            if fmt == "find_luma_qt":
                assert got is None or got.shape == (64,)
            elif fmt == "scrub_gps":  # in place: the length never changes
                assert len(got[0]) == len(m)
            else:
                assert got is None or isinstance(got, dict)
        return
    for m in _mutants(enc[fmt](_px(4, 14, 11)), rng, 300):
        px = _decode_any(m, fmt)
        assert px is None or (px.dtype == np.uint8 and px.ndim == 3)


@pytest.mark.parametrize(
    "data", [b"\xff\xd8\xff\xff\xff\xff", b"\xff\xd8\xff\xff\xff\xdb\x00"]
)
def test_find_luma_qt_truncated_header_raises_value_error(data):
    # fill bytes running to the end; a marker with a one-byte length
    with pytest.raises(ValueError):
        find_luma_qt(data)


def test_unknown_format_is_unreadable_row():
    assert _decode_any(encode_ppm(_px()), "bmp") is None


def test_corrupt_png_in_batch_yields_one_failed_row(spark):
    px = _px(2)
    good = encode_png(px)
    rows = [
        ("a", good, "png"),
        ("b", good, "png"),
        ("c", _flip_idat_byte(good), "png"),
        ("d", encode_ppm(px), "ppm"),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string"
    ).coalesce(1)
    got = {r["image_id"]: r for r in border_trim_clusters(df).collect()}
    assert [rid for rid, r in sorted(got.items()) if not r["ok"]] == ["c"]
    assert got["c"]["cluster_id"] == "c"
    assert {got[rid]["cluster_id"] for rid in "abd"} == {"a"}


def _sof0_dims(jpeg: bytes, h: int, w: int) -> bytes:
    """``jpeg`` with its SOF0 height and width replaced."""
    at = jpeg.index(b"\xff\xc0") + 5  # marker, length, precision
    return jpeg[:at] + struct.pack(">HH", h, w) + jpeg[at + 4:]


def test_jpeg_empty_frame_raises_value_error():
    # height 0 means "defined by a later DNL marker" (unsupported); an
    # empty array would pass as a readable image and break every tier
    data = encode_jpeg(_px(5, 8, 8))
    for h, w in ((0, 8), (8, 0), (0, 0)):
        bad = _sof0_dims(data, h, w)
        with pytest.raises(ValueError):
            decode_jpeg(bad)
        assert _decode_any(bad, "jpeg") is None


def test_ppm_empty_or_negative_dimensions_raise_value_error():
    from dedup_spark.fixtures.images import decode_ppm

    for header in (b"0 5", b"5 0", b"0 0", b"-1 5", b"5 -1"):
        bad = b"P6\n" + header + b"\n255\n" + bytes(75)
        with pytest.raises(ValueError):
            decode_ppm(bad)
        assert _decode_any(bad, "ppm") is None


def test_empty_frame_in_batch_yields_one_failed_row(spark):
    px = _px(6, 8, 8)
    good = encode_jpeg(px)
    rows = [
        ("a", good, "jpeg"),
        ("b", good, "jpeg"),
        ("c", _sof0_dims(good, 0, 8), "jpeg"),
        ("d", b"P6\n0 5\n255\n", "ppm"),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string"
    ).coalesce(1)
    got = {r["image_id"]: r for r in border_trim_clusters(df).collect()}
    assert sorted(rid for rid, r in got.items() if not r["ok"]) == ["c", "d"]
    assert got["c"]["cluster_id"] == "c" and got["d"]["cluster_id"] == "d"
    assert got["a"]["cluster_id"] == got["b"]["cluster_id"] == "a"
