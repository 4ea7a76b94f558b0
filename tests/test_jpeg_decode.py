"""Baseline JPEG entropy decode: golden pins, restart intervals, long
Huffman codes and the bounded lookahead-table cache."""

from __future__ import annotations

import hashlib
import struct
import tracemalloc

import numpy as np
import pytest

from dedup_spark.multimodal import jpeg
from dedup_spark.multimodal.jpeg import decode_jpeg, encode_jpeg
from test_decode_robustness import _mutants

# perfbench's SIG_SIZES (w, h), plus edge sizes: one pixel, and sizes
# that are not multiples of the 8x8 block
_GOLDEN_SIZES = (
    (16, 12), (24, 32), (40, 40), (64, 48), (48, 96), (96, 64),
    (1, 1), (7, 9), (13, 29),
)
_GOLDEN_QUALITIES = (50, 75, 90, 99)
# sha256 of the decoded arrays and of the mutant outcomes, recorded
# before the entropy decoder was rewritten around lookahead tables
_GOLDEN_ARRAYS = (
    "e1958e1d7f52523b18863b7582d180339cc6e6dbd1ce05573b6a7c78397cc481"
)
_GOLDEN_MUTANTS = (
    "ebbeef4965920ab1a2a8961751f8c5a155c078a9639f7631287c756a0f71af78"
)


def _golden_payloads() -> list[bytes]:
    """72 JPEGs: every size x quality, RGB and grayscale; noise on even
    indices, a noisy gradient (early EOBs) on odd ones."""
    rng = np.random.default_rng(2024)
    out = []
    for w, h in _GOLDEN_SIZES:
        for q in _GOLDEN_QUALITIES:
            for gray in (False, True):
                shape = (h, w) if gray else (h, w, 3)
                if len(out) % 2 == 0:
                    px = rng.integers(0, 256, shape, dtype=np.uint8)
                else:
                    ramp = np.add.outer(np.arange(h) * 3, np.arange(w) * 5)
                    ramp = ramp.reshape((h, w) + (1,) * (len(shape) - 2))
                    px = np.clip(
                        ramp + rng.integers(-6, 7, shape), 0, 255
                    ).astype(np.uint8)
                out.append(encode_jpeg(px, quality=q))
    return out


def _digest(payloads) -> str:
    """sha256 over each payload's outcome: the decoded array's shape
    and bytes, or a ValueError token."""
    h = hashlib.sha256()
    for data in payloads:
        try:
            px = decode_jpeg(data)
        except ValueError:
            h.update(b"ValueError;")
            continue
        h.update(repr(px.shape).encode() + px.dtype.str.encode())
        h.update(px.tobytes())
    return h.hexdigest()


def test_golden_decoded_arrays():
    assert _digest(_golden_payloads()) == _GOLDEN_ARRAYS


def test_golden_mutant_outcomes():
    rng = np.random.default_rng(8)
    mutants = [
        m for data in _golden_payloads() for m in _mutants(data, rng, 17)
    ]
    assert len(mutants) >= 1200
    assert _digest(mutants) == _GOLDEN_MUTANTS


def _segments(data: bytes):
    """(marker, start, end) of each marker segment before the scan data."""
    i = 2
    while True:
        marker = data[i + 1]
        end = i + 2 + struct.unpack(">H", data[i + 2 : i + 4])[0]
        yield marker, i, end
        if marker == 0xDA:
            return
        i = end


def _split(data: bytes) -> tuple[bytes, bytes]:
    """Baseline JPEG → (header through the SOS segment, entropy data)."""
    sos_end = next(e for m, _, e in _segments(data) if m == 0xDA)
    assert data.endswith(b"\xff\xd9")
    return data[:sos_end], data[sos_end:-2]


def _restart_stream(strips: list[bytes], blocks_per_row: int, height: int):
    """Join one-MCU-row JPEGs of one width into one JPEG with a restart
    interval of one MCU row: RST0..RST7 between their entropy segments,
    a DRI and the stacked height in SOF0."""
    header, _ = _split(strips[0])
    sof = next(s for m, s, _ in _segments(header) if m == 0xC0)
    header = header[: sof + 5] + struct.pack(">H", height) + header[sof + 7 :]
    sos = next(s for m, s, _ in _segments(header) if m == 0xDA)
    dri = b"\xff\xdd" + struct.pack(">HH", 4, blocks_per_row)
    out = bytearray(header[:sos] + dri + header[sos:])
    for n, strip in enumerate(strips):
        if n:
            out += bytes([0xFF, 0xD0 + (n - 1) % 8])
        out += _split(strip)[1]
    return bytes(out) + b"\xff\xd9"


def test_restart_intervals_decode_as_stacked_strips():
    rng = np.random.default_rng(3)
    w, rows = 21, [8] * 10 + [5]  # RST0..RST7 wrap; a short last strip
    for gray in (False, True):
        strips = [
            rng.integers(0, 256, (r, w) if gray else (r, w, 3), dtype=np.uint8)
            for r in rows
        ]
        encoded = [encode_jpeg(px, quality=75) for px in strips]
        data = _restart_stream(encoded, (w + 7) // 8, sum(rows))
        want = np.vstack([decode_jpeg(e) for e in encoded])
        assert np.array_equal(decode_jpeg(data), want)
        # one RST marker gone: the last restart finds no marker
        at = data.index(b"\xff\xd3")
        with pytest.raises(ValueError):
            decode_jpeg(data[:at] + data[at + 2 :])


def test_huge_declared_frame_allocates_only_decoded_rows():
    """A header declaring 2048x2048 over one block of data raises
    ValueError without allocating the whole frame (100 MB of
    coefficients)."""
    data = encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8))
    sof = next(s for m, s, _ in _segments(data) if m == 0xC0)
    big = data[: sof + 5] + struct.pack(">HH", 2048, 2048) + data[sof + 9 :]
    tracemalloc.start()
    try:
        with pytest.raises(ValueError):
            decode_jpeg(big)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 8 << 20


def _canonical(bits: list[int], syms: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) of the canonical code for BITS/HUFFVAL."""
    codes, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[syms[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return codes


def _encode_with_tables(monkeypatch, px, dc, ac, quality=90) -> bytes:
    """encode_jpeg with the Huffman tables ``dc`` and ``ac`` (each a
    (BITS, HUFFVAL) pair) in place of the flat ones, DHT included."""
    monkeypatch.setattr(jpeg, "_DC_CODES", _canonical(*dc))
    monkeypatch.setattr(jpeg, "_AC_CODES", _canonical(*ac))
    data = encode_jpeg(px, quality=quality)
    _, start, end = next(t for t in _segments(data) if t[0] == 0xC4)
    dht = bytes([0x00, *dc[0], *dc[1], 0x10, *ac[0], *ac[1]])
    dht = b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    return data[:start] + dht + data[end:]


# code lengths 2..9 and 14..16 for the 12 DC categories, and the
# Annex K luma AC lengths (125 codes of 16 bits) for the 162 AC symbols
_LONG_DC_BITS = [0, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 1, 1, 2]
_LONG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]


def _lookahead_reference(ac: bool, spec: bytes):
    """Entry by entry: what `jpeg._lookahead` builds vectorized, or
    None where it must raise ValueError."""
    bits, vals = list(spec[:16]), list(spec[16:])
    if len(bits) < 16 or len(vals) < sum(bits):
        return None
    table = [(0, 0, 0)] * (1 << 16)
    code = k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            sym = vals[k]
            k += 1
            if code >> ln:  # over-full: this and every later code
                if ln <= 8:
                    return None
                code += 1
                continue
            size, run = (sym & 15, sym >> 4) if ac else (sym, 0)
            for x in range(code << (16 - ln), (code + 1) << (16 - ln)):
                if ln + size <= 16 and (size or not ac):
                    v = (x >> (16 - ln - size)) & ((1 << size) - 1)
                    if size and v < 1 << (size - 1):
                        v -= (1 << size) - 1
                    table[x] = (ln + size, run, v)
                else:
                    table[x] = (0, sym, ln)
            code += 1
        code <<= 1
    return tuple(table)


def test_lookahead_tables_match_entry_by_entry_reference():
    rng = np.random.default_rng(6)
    specs = [
        (False, bytes([0, 0, 0, 12] + [0] * 12 + jpeg._DC_SYMS)),
        (True, bytes([0] * 7 + [162] + [0] * 8 + jpeg._AC_SYMS)),
        (False, bytes(_LONG_DC_BITS + jpeg._DC_SYMS)),
        (True, bytes(_LONG_AC_BITS + jpeg._AC_SYMS)),
    ]
    for _ in range(24):
        bits, free = [], 1  # free: unused codes at the current length
        for ln in range(16):
            free *= 2
            # up to one code more than fits: over-full from there on
            bits.append(int(rng.integers(0, min(max(free, 0), 40) + 2)))
            free -= bits[-1]
        vals = rng.integers(0, 256, sum(bits)).tolist()
        if rng.random() < 0.2:
            vals = vals[:-1]  # truncated HUFFVAL
        specs.append((bool(rng.integers(2)), bytes(bits + vals)))
    outcomes = set()
    for ac, spec in specs:
        want = _lookahead_reference(ac, spec)
        outcomes.add(want is None)
        if want is None:
            with pytest.raises(ValueError):
                jpeg._lookahead(ac, spec)
        else:
            assert jpeg._lookahead(ac, spec) == want
    assert outcomes == {True, False}


def test_long_huffman_codes_decode_like_flat_tables(monkeypatch):
    rng = np.random.default_rng(4)
    ramp = np.add.outer(np.arange(24) * 4, np.arange(40) * 3)
    noise = rng.integers(-3, 4, (24, 40, 3))
    images = [
        rng.integers(0, 256, (24, 40, 3), dtype=np.uint8),
        np.clip(ramp[..., None] + noise, 0, 255).astype(np.uint8),
        np.clip(ramp + noise[..., 0], 0, 255).astype(np.uint8),
    ]
    # small DC categories and EOB get the longest codes, so every block
    # decodes codes of more than 8 bits
    dc = (_LONG_DC_BITS, jpeg._DC_SYMS[::-1])
    ac = (_LONG_AC_BITS, jpeg._AC_SYMS[1:] + jpeg._AC_SYMS[:1])
    for px in images:
        flat = encode_jpeg(px, quality=90)
        long = _encode_with_tables(monkeypatch, px, dc, ac)
        monkeypatch.undo()
        assert long != flat
        assert np.array_equal(decode_jpeg(long), decode_jpeg(flat))


def test_distinct_tables_stay_within_the_lookahead_cache(monkeypatch):
    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    want = decode_jpeg(encode_jpeg(px, quality=90))
    maxsize = jpeg._lookahead.cache_info().maxsize
    misses = jpeg._lookahead.cache_info().misses
    for _ in range(50):
        dc = ([0, 0, 0, 12] + [0] * 12, rng.permutation(jpeg._DC_SYMS).tolist())
        ac = ([0] * 7 + [162] + [0] * 8, rng.permutation(jpeg._AC_SYMS).tolist())
        data = _encode_with_tables(monkeypatch, px, dc, ac)
        assert np.array_equal(decode_jpeg(data), want)
        assert jpeg._lookahead.cache_info().currsize <= maxsize
    assert jpeg._lookahead.cache_info().misses - misses >= 100
