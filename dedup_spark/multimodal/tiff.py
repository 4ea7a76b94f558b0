"""Pure-python TIFF 6.0 codec (LZW + horizontal predictor) — no imaging libs.

Second compressed image codec alongside webp.py's VP8L, implemented from
the public Adobe "TIFF Revision 6.0" specification: the II/MM header,
general IFD walk (inline vs out-of-line values, SHORT/LONG types, tag
defaults), multi-strip RGB layout, LZW compression (spec section 13:
ClearCode 256 / EOI 257, MSB-first code packing, the 9→12-bit "early
change" width schedule at 511/1023/2047, table reset at 4094) and the
horizontal-differencing predictor (tag 317 = 2).

Scope, documented:
  * encoder emits 8-bit RGB (PhotometricInterpretation=2,
    SamplesPerPixel=3, BitsPerSample=8,8,8), Compression=5 (LZW),
    Predictor=2, 16-row strips, either endianness;
  * decoder is GENERAL over that baseline-RGB family: both endians, any
    entry order, inline or offset values, any strip layout,
    Compression 1 (none) or 5 (LZW), Predictor 1 or 2 — anything else
    raises ValueError (unreadable-row skip semantics, reference
    denizariyan/dedup src/hasher.rs:57-60, via decode._decode_any);
  * self-referential caveat (same as webp.py): the container ships no
    independent TIFF reader, so the roundtrip alone can't prove spec
    conformance. The cross-format gate compensates: the SAME pixels
    encoded through the independently verifiable PNG path (stdlib zlib)
    and through this codec must decode identical
    (crossformat_pixel_dedup clusters them), so a convention slip that
    self-cancels in the roundtrip still cannot change any pixel.

LZW early-change correspondence (the classic TIFF-LZW off-by-one): the
encoder widens its code size right after ADDING table entry n when the
next free code hits (1<<width)-1; the decoder adds the same entry one
code-read later and applies the identical rule, so both sides agree on
the width of every transmitted code. Table reset is pinned at next
free code == 4094 (the spec's "add ClearCode when entry 4094 is
reached" rule), which the fill test exercises.
"""

from __future__ import annotations

import struct

import numpy as np

CLEAR = 256
EOI = 257
_FIRST = 258
_RESET_AT = 4094  # spec: emit ClearCode when this entry number is reached
_MAX_WIDTH = 12

# IFD tags used by the baseline-RGB family
T_WIDTH = 256
T_HEIGHT = 257
T_BITS = 258
T_COMPRESSION = 259
T_PHOTOMETRIC = 262
T_STRIP_OFFSETS = 273
T_SAMPLES = 277
T_ROWS_PER_STRIP = 278
T_STRIP_COUNTS = 279
T_PREDICTOR = 317

_TYPE_SIZE = {1: 1, 3: 2, 4: 4}  # BYTE, SHORT, LONG
ROWS_PER_STRIP = 16


# ---------------------------------------------------------------- LZW ---


def lzw_encode(data: bytes) -> bytes:
    """TIFF 6.0 LZW (section 13): MSB-first packing, early change,
    ClearCode restart at table entry 4094, EOI terminator."""
    out = bytearray()
    acc = 0
    nacc = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nacc
        acc = (acc << width) | code
        nacc += width
        while nacc >= 8:
            nacc -= 8
            out.append((acc >> nacc) & 0xFF)

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = _FIRST
    width = 9
    put(CLEAR, width)
    omega = b""
    emitted_since_clear = False
    for b in data:
        k = bytes([b])
        cand = omega + k
        if cand in table:
            omega = cand
            continue
        put(table[omega], width)
        emitted_since_clear = True
        table[cand] = next_code
        next_code += 1
        omega = k
        if next_code == _RESET_AT:
            put(CLEAR, width)  # width is 12 here (2047 < 4094)
            table = {bytes([i]): i for i in range(256)}
            next_code = _FIRST
            width = 9
            emitted_since_clear = False
        elif next_code == (1 << width) - 1 and width < _MAX_WIDTH:
            width += 1
    if omega:
        put(table[omega], width)
        # the flush adds no encoder entry, but the decoder still adds
        # one after any non-first-code read and may widen before EOI —
        # mirror that, or the EOI width disagrees (found by fuzzing)
        if (
            emitted_since_clear
            and next_code == (1 << width) - 2
            and width < _MAX_WIDTH
        ):
            width += 1
    put(EOI, width)
    if nacc:
        out.append((acc << (8 - nacc)) & 0xFF)
    return bytes(out)


def lzw_decode(data: bytes) -> bytes:
    """Inverse of lzw_encode; general over spec-conformant streams
    (tolerates a ClearCode at any point, not only at 4094)."""
    pos = 0  # bit position
    nbits = len(data) * 8

    def get(width: int) -> int:
        nonlocal pos
        if pos + width > nbits:
            raise ValueError("tiff lzw: truncated stream")
        byte0 = pos >> 3
        # gather up to 3 bytes covering the window
        chunk = int.from_bytes(data[byte0:byte0 + 3].ljust(3, b"\0"), "big")
        val = (chunk >> (24 - (pos & 7) - width)) & ((1 << width) - 1)
        pos += width
        return val

    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    old: bytes | None = None
    while True:
        code = get(width)
        if code == EOI:
            break
        if code == CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            old = None
            continue
        if old is None:  # first code after (re)init must be a literal
            if code > 255:
                raise ValueError("tiff lzw: non-literal after clear")
            s = table[code]
        elif code < len(table):
            s = table[code]
        elif code == len(table):  # the KwKwK case
            s = old + old[:1]
        else:
            raise ValueError("tiff lzw: code beyond table")
        out += s
        if old is not None:
            table.append(old + s[:1])
            # early change, decoder side: the decoder's table lags the
            # encoder's by exactly one entry at each code boundary (the
            # encoder adds its entry before emitting the next code, the
            # decoder adds the matching entry one code-read later), so
            # the decoder widens at (1<<w)-2 where the encoder widens
            # at (1<<w)-1 — the classic TIFF-LZW off-by-one.
            if len(table) == (1 << width) - 2 and width < _MAX_WIDTH:
                width += 1
        old = s
    return bytes(out)


# ---------------------------------------------------------- predictor ---


def _hdiff(rows: np.ndarray) -> np.ndarray:
    """Horizontal differencing (predictor 2): per sample, subtract the
    same sample of the previous pixel; first pixel passes through."""
    d = rows.astype(np.int16)
    d[:, 1:, :] -= rows[:, :-1, :].astype(np.int16)
    return (d & 0xFF).astype(np.uint8)


def _hundiff(rows: np.ndarray) -> np.ndarray:
    return np.cumsum(rows.astype(np.uint64), axis=1).astype(np.uint8)


# ------------------------------------------------------------- encode ---


def encode_tiff(px: np.ndarray, endian: str = "II") -> bytes:
    """Deterministic TIFF: 8-bit RGB, LZW, predictor 2, 16-row strips.

    `endian` is 'II' (little) or 'MM' (big) — both are spec-legal and the
    decoder must handle either, so the fixture corpus can exercise both.
    """
    if px.ndim != 3 or px.shape[2] != 3 or px.dtype != np.uint8:
        raise ValueError("encode_tiff expects uint8 HxWx3")
    if endian not in ("II", "MM"):
        raise ValueError("endian must be 'II' or 'MM'")
    e = "<" if endian == "II" else ">"
    h, w, _ = px.shape

    strips = []
    for y0 in range(0, h, ROWS_PER_STRIP):
        rows = px[y0:y0 + ROWS_PER_STRIP]
        strips.append(lzw_encode(_hdiff(rows).tobytes()))

    # layout: header(8) | strip data | out-of-line values | IFD | next=0
    off = 8
    strip_offsets = []
    for s in strips:
        strip_offsets.append(off)
        off += len(s)

    extra = bytearray()  # out-of-line value area, starts at `off`

    def oversize(vals: list[int], typ: int) -> int:
        """Append vals to the extra area, return their absolute offset."""
        at = off + len(extra)
        fmt = {3: "H", 4: "I"}[typ]
        extra.extend(struct.pack(f"{e}{len(vals)}{fmt}", *vals))
        return at

    n = len(strips)
    entries: list[tuple[int, int, int, bytes]] = []

    def add(tag: int, typ: int, vals: list[int]) -> None:
        size = _TYPE_SIZE[typ] * len(vals)
        if size <= 4:
            fmt = {3: "H", 4: "I"}[typ]
            raw = struct.pack(f"{e}{len(vals)}{fmt}", *vals).ljust(4, b"\0")
        else:
            raw = struct.pack(f"{e}I", oversize(vals, typ))
        entries.append((tag, typ, len(vals), raw))

    add(T_WIDTH, 4, [w])
    add(T_HEIGHT, 4, [h])
    add(T_BITS, 3, [8, 8, 8])
    add(T_COMPRESSION, 3, [5])
    add(T_PHOTOMETRIC, 3, [2])
    add(T_STRIP_OFFSETS, 4, strip_offsets)
    add(T_SAMPLES, 3, [3])
    add(T_ROWS_PER_STRIP, 4, [ROWS_PER_STRIP])
    add(T_STRIP_COUNTS, 4, [len(s) for s in strips])
    add(T_PREDICTOR, 3, [2])

    ifd_off = off + len(extra)
    ifd = bytearray(struct.pack(f"{e}H", len(entries)))
    for tag, typ, count, raw in sorted(entries):  # spec: ascending tag order
        ifd += struct.pack(f"{e}HHI", tag, typ, count) + raw
    ifd += struct.pack(f"{e}I", 0)

    head = endian.encode() + struct.pack(f"{e}HI", 42, ifd_off)
    return head + b"".join(strips) + bytes(extra) + bytes(ifd)


# ------------------------------------------------------------- decode ---


def _read_ifd(buf: bytes, e: str, at: int) -> dict[int, list[int]]:
    """General IFD walk: {tag: [values...]} for BYTE/SHORT/LONG entries
    (other types and empty entries are skipped — this family doesn't
    use them)."""
    (n,) = struct.unpack_from(f"{e}H", buf, at)
    tags: dict[int, list[int]] = {}
    for i in range(n):
        tag, typ, count = struct.unpack_from(f"{e}HHI", buf, at + 2 + 12 * i)
        if typ not in _TYPE_SIZE or count == 0:
            continue
        size = _TYPE_SIZE[typ] * count
        vat = at + 2 + 12 * i + 8
        if size > 4:
            (vat,) = struct.unpack_from(f"{e}I", buf, vat)
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        tags[tag] = list(struct.unpack_from(f"{e}{count}{fmt}", buf, vat))
    return tags


def decode_tiff(data: bytes) -> np.ndarray:
    """Decode baseline-RGB TIFF (either endian, strips, LZW or
    uncompressed, predictor 1 or 2) to a uint8 HxWx3 array; ValueError
    on malformed input, a truncated IFD included."""
    try:
        return _decode_tiff(data)
    except struct.error as exc:
        raise ValueError(f"tiff: malformed IFD: {exc}") from exc


def _decode_tiff(data: bytes) -> np.ndarray:
    if len(data) < 8:
        raise ValueError("tiff: short header")
    if data[:2] == b"II":
        e = "<"
    elif data[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("tiff: bad byte-order mark")
    magic, ifd_off = struct.unpack_from(f"{e}HI", data, 2)
    if magic != 42:
        raise ValueError("tiff: bad magic")
    t = _read_ifd(data, e, ifd_off)

    try:
        w = t[T_WIDTH][0]
        h = t[T_HEIGHT][0]
        offsets = t[T_STRIP_OFFSETS]
        counts = t[T_STRIP_COUNTS]
    except KeyError as exc:
        raise ValueError(f"tiff: missing required tag {exc}") from exc
    comp = t.get(T_COMPRESSION, [1])[0]
    photo = t.get(T_PHOTOMETRIC, [2])[0]
    samples = t.get(T_SAMPLES, [1])[0]
    bits = t.get(T_BITS, [8])
    pred = t.get(T_PREDICTOR, [1])[0]
    rps = t.get(T_ROWS_PER_STRIP, [0xFFFFFFFF])[0]
    if photo != 2 or samples != 3 or any(b != 8 for b in bits):
        raise ValueError("tiff: only 8-bit RGB supported")
    if comp not in (1, 5):
        raise ValueError(f"tiff: unsupported compression {comp}")
    if pred not in (1, 2):
        raise ValueError(f"tiff: unsupported predictor {pred}")
    if len(offsets) != len(counts):
        raise ValueError("tiff: strip offsets/counts mismatch")

    rows_out = []
    y = 0
    for soff, scnt in zip(offsets, counts):
        nrows = min(rps, h - y)
        raw = data[soff:soff + scnt]
        if len(raw) != scnt:
            raise ValueError("tiff: truncated strip")
        if comp == 5:
            raw = lzw_decode(raw)
        if len(raw) != nrows * w * 3:
            raise ValueError("tiff: strip size mismatch")
        rows = np.frombuffer(raw, np.uint8).reshape(nrows, w, 3)
        if pred == 2:
            rows = _hundiff(rows)
        rows_out.append(rows)
        y += nrows
    if y != h:
        raise ValueError("tiff: strips do not cover the image")
    return np.concatenate(rows_out, axis=0)
