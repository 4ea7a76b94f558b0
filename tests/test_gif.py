"""From-scratch GIF89a codec tests — multimodal/gif.py.

Like webp.py/tiff.py, the container ships no independent GIF reader, so
beyond exact roundtrips these tests pin the spec conventions against a
HAND-BUILT byte stream (LSB-first packing, Clear/EOI, the decoder's
one-early width switch), drive the 4096-entry table reset and the
deferred-clear decode path, exercise the true-color strip construction
(multi-strip frames, single-row segment splits for >256-color rows),
and pin the cross-format contract (same pixels through the
independently verifiable PNG path must decode identical —
crossformat_pixel_dedup's gate).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dedup_spark.multimodal.gif import (
    decode_gif,
    encode_gif,
    lzw_decode_gif,
    lzw_encode_gif,
)
from dedup_spark.multimodal.png import decode_png, encode_png


def _rand(shape, seed=0):
    return np.random.default_rng(seed).integers(0, 256, shape, dtype=np.uint8)


# ----------------------------------------------------------- LZW core ---


def test_lzw_basic_roundtrips():
    for mcs in (2, 4, 8):
        nsym = 1 << mcs
        for data in (
            b"",
            b"\x00",
            bytes(range(min(nsym, 256))) * 3,
            b"\x00" * 500,
            b"\x01\x01\x00\x01\x01\x00\x01\x01",
        ):
            assert lzw_decode_gif(lzw_encode_gif(data, mcs), mcs) == data


def test_lzw_hand_built_stream():
    """Pin the wire conventions byte-for-byte on a stream small enough
    to assemble by hand: mcs=2 (clear=4, eoi=5, first free=6, initial
    width 3), input indices [1, 1, 1, 1].

    Encoder emits: clear(4), then phrases 1 | 11 | 1 → codes 1, 6, 1
    (entry 6 = "11" is added after the first emit and referenced by the
    second — the KwKwK-adjacent case), then eoi(5). Adds: entry 6 after
    code 1, entry 7 after code 6 → next_free=8=1<<3 → width 4 for the
    final data code and EOI... except the add that reaches 8 happens
    after emitting code 6, so the LAST data code (1) and eoi(5) go out
    at width 4. LSB-first packing of [4:3][1:3][6:3][1:4][5:4]:
      bits 100 | 001 | 011 | 1000 | 1010  (each code LSB-first)
      byte0 = 0b01_110_100... assembled below with int arithmetic.
    """
    codes = [(4, 3), (1, 3), (6, 3), (1, 4), (5, 4)]
    acc = 0
    shift = 0
    for code, width in codes:
        acc |= code << shift
        shift += width
    expected = acc.to_bytes((shift + 7) // 8, "little")
    got = lzw_encode_gif(bytes([1, 1, 1, 1]), 2)
    assert got == expected
    assert lzw_decode_gif(expected, 2) == bytes([1, 1, 1, 1])


def test_lzw_kwkwk_case():
    # aaa with mcs=2: emit a, then code-just-added (KwKwK) for "aa"
    data = b"\x00\x00\x00"
    enc = lzw_encode_gif(data, 2)
    assert lzw_decode_gif(enc, 2) == data


def test_lzw_width_transitions_and_table_reset():
    # counter-mode stream long enough to fill the 12-bit table and
    # force the mid-stream Clear (encoder) / reset (decoder)
    rng = np.random.default_rng(7)
    data = rng.integers(0, 256, 120_000, dtype=np.uint8).tobytes()
    enc = lzw_encode_gif(data, 8)
    assert lzw_decode_gif(enc, 8) == data
    # high-compression input also crosses width boundaries (long runs)
    runs = b"".join(bytes([i % 4]) * (i % 37 + 1) for i in range(4000))
    assert lzw_decode_gif(lzw_encode_gif(runs, 2), 2) == runs


def test_lzw_deferred_clear_decode():
    """A conformant decoder must keep consuming codes from a FULL table
    when the encoder defers the Clear. Build such a stream by hand:
    fill the table, then keep emitting existing codes without Clear."""
    clear, eoi, mcs = 256, 257, 8
    out = []

    def put(code, width):
        out.append((code, width))

    # re-implement a minimal deferring encoder for singles only: every
    # code is a single byte, each emit adds one (useless) entry
    width = 9
    next_free = 258
    put(clear, width)
    data = bytes((i * 7) % 256 for i in range(6000))
    for i, b in enumerate(data):
        put(b, width)
        if next_free < 4096 and i + 1 < len(data):
            next_free += 1
            # encoder widens when next_free hits 1<<width
            if next_free == (1 << width) and width < 12:
                width += 1
    put(eoi, width)
    acc = 0
    shift = 0
    for code, w in out:
        acc |= code << shift
        shift += w
    stream = acc.to_bytes((shift + 7) // 8, "little")
    assert lzw_decode_gif(stream, mcs) == data


def test_lzw_rejects_truncation_and_bad_codes():
    enc = lzw_encode_gif(b"\x01\x02\x03\x00", 2)
    with pytest.raises(ValueError):
        lzw_decode_gif(enc[:1], 2)
    with pytest.raises(ValueError):
        lzw_encode_gif(b"\x04", 2)  # index beyond the 4-symbol alphabet
    # a code far beyond the table: width 3 stream starting with code 7
    acc = (4) | (7 << 3)  # clear, then 7 (first free is 6 → 7 invalid)
    with pytest.raises(ValueError):
        lzw_decode_gif(acc.to_bytes(2, "little"), 2)
    with pytest.raises(ValueError):
        lzw_decode_gif(b"", 2)  # no EOI
    with pytest.raises(ValueError):
        lzw_encode_gif(b"", 1) or lzw_decode_gif(b"\x00", 1)


def test_lzw_eoi_width_boundary():
    """The EOI edge the module docstring documents: 6 all-distinct
    symbols at mcs=3 leave next_free == 15 == (1<<4)-1 at stream end —
    the decoder has widened for a table add the encoder never makes.
    The encoder must emit EOI at the anticipated width (pinned by the
    exact roundtrip; a wrong-width EOI surfaces as truncation/garbage).
    """
    data = bytes([1, 2, 3, 4, 5, 6])
    assert lzw_decode_gif(lzw_encode_gif(data, 3), 3) == data
    # sweep lengths around every width boundary at mcs=2
    for n in range(1, 70):
        d = bytes(i % 4 for i in range(n))
        assert lzw_decode_gif(lzw_encode_gif(d, 2), 2) == d


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=600), st.sampled_from([2, 4, 8]))
def test_lzw_roundtrip_property(data, mcs):
    capped = bytes(b % (1 << mcs) for b in data)
    assert lzw_decode_gif(lzw_encode_gif(capped, mcs), mcs) == capped


# ------------------------------------------------------- container ---


def test_gif_roundtrip_few_colors():
    # 3-color image → single strip, 4-entry LCT, mcs 2
    px = np.zeros((10, 8, 3), dtype=np.uint8)
    px[::2] = (255, 0, 0)
    px[5:, 4:] = (0, 128, 255)
    data = encode_gif(px)
    assert data[:6] == b"GIF89a"
    assert np.array_equal(decode_gif(data), px)


def test_gif_roundtrip_truecolor_multistrip():
    # random RGB: every row has ~64 distinct colors, so strips hold a
    # handful of rows each — the multi-descriptor path
    px = _rand((48, 64, 3), seed=1)
    data = encode_gif(px)
    assert np.array_equal(decode_gif(data), px)
    # determinism (the dedup gates cluster on bytes)
    assert encode_gif(px) == data


def test_gif_single_row_and_single_pixel():
    assert np.array_equal(decode_gif(encode_gif(_rand((1, 37, 3)))), _rand((1, 37, 3)))
    one = np.array([[[9, 8, 7]]], dtype=np.uint8)
    assert np.array_equal(decode_gif(encode_gif(one)), one)


def test_gif_wide_row_segment_split():
    # width > 256 with >256 distinct colors in one row → the row is
    # split into <=256-pixel segments, each its own descriptor
    row = np.zeros((1, 300, 3), dtype=np.uint8)
    row[0, :, 0] = np.arange(300) % 256
    row[0, :, 1] = np.arange(300) // 256
    px = np.vstack([row, row[:, ::-1]])  # 2 rows, 600 px, ~300 colors
    data = encode_gif(px)
    assert np.array_equal(decode_gif(data), px)


def test_gif_flat_image_compresses():
    px = np.full((64, 64, 3), 200, dtype=np.uint8)
    data = encode_gif(px)
    assert len(data) < 200  # 12 KiB of pixels → long LZW runs
    assert np.array_equal(decode_gif(data), px)


def test_gif_extension_blocks_skipped():
    """Decoder must sub-block-walk ANY extension: splice a graphic
    control extension and an application extension into an encoded
    stream, between the LSD and the first image descriptor."""
    px = _rand((6, 6, 3), seed=3)
    data = encode_gif(px)
    gce = bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])
    appext = bytes([0x21, 0xFF, 11]) + b"NETSCAPE2.0" + bytes([3, 1, 0, 0, 0])
    spliced = data[:13] + gce + appext + data[13:]
    assert np.array_equal(decode_gif(spliced), px)


def test_gif_global_color_table_decode():
    """Hand-build a minimal 87a file using a GLOBAL color table (our
    encoder never emits one — this pins the decoder's generality):
    2x2 image, 2-entry GCT, indices [0,1,1,0]."""
    pal = bytes([10, 20, 30, 200, 210, 220])
    lzw = lzw_encode_gif(bytes([0, 1, 1, 0]), 2)
    buf = (
        b"GIF87a"
        + struct.pack("<HH", 2, 2)
        + bytes([0x80, 0, 0])  # GCT flag, size field 0 → 2 entries
        + pal
        + bytes([0x2C])
        + struct.pack("<HHHH", 0, 0, 2, 2)
        + bytes([0x00])  # no LCT, not interlaced
        + bytes([2, len(lzw)])
        + lzw
        + bytes([0, 0x3B])
    )
    px = decode_gif(buf)
    assert np.array_equal(px[0, 0], [10, 20, 30])
    assert np.array_equal(px[0, 1], [200, 210, 220])
    assert np.array_equal(px[1, 1], [10, 20, 30])


def test_gif_rejects_malformed():
    px = _rand((8, 8, 3), seed=5)
    data = bytearray(encode_gif(px))
    with pytest.raises(ValueError):
        decode_gif(b"NOTAGIF")
    with pytest.raises(ValueError):
        decode_gif(bytes(data[:-1]))  # trailer gone
    with pytest.raises(ValueError):
        decode_gif(bytes(data[: len(data) // 2]))
    interlaced = bytearray(data)
    # image descriptor starts right after the 13-byte header here;
    # packed byte is at offset 13+9
    assert interlaced[13] == 0x2C
    interlaced[13 + 9] |= 0x40
    with pytest.raises(ValueError):
        decode_gif(bytes(interlaced))
    with pytest.raises(ValueError):
        encode_gif(np.zeros((4, 4), dtype=np.uint8))  # not RGB


def test_gif_cross_format_pixel_identity():
    """The crossformat gate's invariant, locally: gif-decoded pixels
    must equal png-decoded pixels for the same source."""
    for seed in range(4):
        px = _rand((32, 24, 3), seed=seed)
        assert np.array_equal(
            decode_gif(encode_gif(px)), decode_png(encode_png(px))
        )


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=0, max_value=10_000),
)
def test_gif_roundtrip_property(h, w, seed):
    px = _rand((h, w, 3), seed=seed)
    assert np.array_equal(decode_gif(encode_gif(px)), px)


def _gce(packed: int = 0) -> bytes:
    """Graphic Control Extension: packed flags, delay 0, index 0."""
    return bytes([0x21, 0xF9, 4, packed, 0, 0, 0, 0])


def test_gif_animated_frames_raise_value_error():
    """A second frame (an image descriptor after a Graphic Control
    Extension that follows the first image) must not composite
    silently, last frame winning."""
    a, b = encode_gif(_rand((6, 6, 3), seed=7)), encode_gif(_rand((6, 6, 3), seed=8))
    # both streams: 13-byte header (no GCT), descriptors, 0x3B trailer
    animated = a[:13] + _gce() + a[13:-1] + _gce() + b[13:]
    with pytest.raises(ValueError):
        decode_gif(animated)
    # the same frames with no GCE between them are static strips
    assert np.array_equal(decode_gif(a[:-1] + b[13:]), _rand((6, 6, 3), seed=8))


def test_gif_transparency_raises_value_error():
    px = _rand((6, 6, 3), seed=9)
    data = encode_gif(px)
    with pytest.raises(ValueError):
        decode_gif(data[:13] + _gce(packed=0x01) + data[13:])
    # a GCE without transparency before the only frame is still static
    assert np.array_equal(decode_gif(data[:13] + _gce() + data[13:]), px)

