"""Pure-python TIFF 6.0 codec (LZW + horizontal predictor) — no imaging libs.

Second compressed image codec alongside webp.py's VP8L, implemented from
the public Adobe "TIFF Revision 6.0" specification: the II/MM header,
general IFD walk (inline vs out-of-line values, tag defaults),
multi-strip RGB layout, LZW compression (spec section 13:
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
  * the container reader is shared: `read_header` (byte order, magic
    42, IFD0 offset), `ifd_entries` (one walk over an IFD's entries)
    and `entry_value` (BYTE, ASCII, SHORT, LONG and RATIONAL through
    one type table) serve `decode_tiff` and the EXIF/GPS readers in
    exif.py alike, whose TIFF block sits inside a JPEG APP1; truncated
    structures raise ValueError there, never struct.error;
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
from collections.abc import Iterator

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

# bytes per value: BYTE, ASCII, SHORT, LONG, RATIONAL (two LONGs)
_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I"}
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
        extra.extend(struct.pack(f"{e}{len(vals)}{_TYPE_FMT[typ]}", *vals))
        return at

    entries: list[tuple[int, int, int, bytes]] = []

    def add(tag: int, typ: int, vals: list[int]) -> None:
        size = _TYPE_SIZE[typ] * len(vals)
        if size <= 4:
            raw = struct.pack(f"{e}{len(vals)}{_TYPE_FMT[typ]}", *vals)
            raw = raw.ljust(4, b"\0")
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


def _unpack(fmt: str, buf, at: int) -> tuple:
    try:
        return struct.unpack_from(fmt, buf, at)
    except struct.error as exc:
        raise ValueError(f"tiff: truncated structure: {exc}") from exc


def read_header(buf) -> tuple[str, int]:
    """The 8-byte TIFF header → (struct byte-order prefix, IFD0 offset).
    ValueError on a short header, a bad byte-order mark or magic."""
    if len(buf) < 8:
        raise ValueError("tiff: short header")
    e = {b"II": "<", b"MM": ">"}.get(bytes(buf[:2]))
    if e is None:
        raise ValueError("tiff: bad byte-order mark")
    magic, ifd_off = _unpack(f"{e}HI", buf, 2)
    if magic != 42:
        raise ValueError("tiff: bad magic")
    return e, ifd_off


def ifd_entries(buf, e: str, at: int) -> Iterator[tuple[int, int, int, int]]:
    """The one IFD walk: ``(tag, type, count, entry offset)`` for every
    entry of the IFD at ``at``, in stored order, unknown types included.
    Reads lazily, so a caller that rewrites ``buf`` mid-walk reads its
    own writes. ValueError when the IFD runs past ``buf``."""
    (n,) = _unpack(f"{e}H", buf, at)
    for k in range(n):
        off = at + 2 + 12 * k
        yield *_unpack(f"{e}HHI", buf, off), off


def value_field(buf, e: str, off: int) -> int:
    """The 4-byte value-or-offset field of the entry at ``off``, as a
    LONG."""
    return _unpack(f"{e}I", buf, off + 8)[0]


def value_span(buf, e: str, typ: int, count: int, off: int) -> tuple[int, int]:
    """(offset, byte length) of an entry's value: inline in the entry
    when it fits in 4 bytes, else at the offset its field holds. An
    unknown type has length 0."""
    nbytes = _TYPE_SIZE.get(typ, 0) * count
    return (off + 8 if nbytes <= 4 else value_field(buf, e, off)), nbytes


def entry_value(buf, e: str, typ: int, count: int, off: int) -> str | list | None:
    """An entry's value: ASCII → the text before its first NUL (a value
    cut short by the end of ``buf`` reads what is there); BYTE/SHORT/
    LONG → a list of ints; RATIONAL → a list of (numerator,
    denominator); any other type → None. ValueError when a numeric
    value runs past ``buf``."""
    if typ not in _TYPE_SIZE:
        return None
    at, nbytes = value_span(buf, e, typ, count, off)
    if typ == 2:
        text = bytes(buf[at : at + nbytes]).split(b"\0")[0]
        return text.decode("ascii", "replace")
    if typ == 5:
        vals = _unpack(f"{e}{2 * count}I", buf, at)
        return list(zip(vals[::2], vals[1::2]))
    return list(_unpack(f"{e}{count}{_TYPE_FMT[typ]}", buf, at))


def decode_tiff(data: bytes) -> np.ndarray:
    """Decode baseline-RGB TIFF (either endian, strips, LZW or
    uncompressed, predictor 1 or 2) to a uint8 HxWx3 array; ValueError
    on malformed input, a truncated IFD included."""
    e, ifd_off = read_header(data)
    # ASCII/RATIONAL, unknown-type and empty entries: this family uses none
    t = {
        tag: entry_value(data, e, typ, count, off)
        for tag, typ, count, off in ifd_entries(data, e, ifd_off)
        if typ in (1, 3, 4) and count
    }

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
