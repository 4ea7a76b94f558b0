"""Pure-python GIF89a codec (true-color via per-strip local palettes).

Third compressed image codec alongside webp.py's VP8L and tiff.py's
LZW, implemented from the public CompuServe "GRAPHICS INTERCHANGE
FORMAT Version 89a" specification: header + logical screen descriptor,
extension-block skipping, image descriptors with local color tables,
and GIF-variant LZW (LSB-first code packing, Clear/EOI codes, code
width growing at next-free == 1<<width with NO early change — the
exact convention difference from TIFF's MSB-first early-change LZW in
tiff.py, which is why the two implementations share nothing).

Plain GIF caps a palette at 256 colors; the encoder stays LOSSLESS for
arbitrary RGB via the classic true-color-GIF construction: the frame is
sliced into horizontal strips (greedily grown while the accumulated
strip stays within 256 distinct colors; a single row wider than 256
distinct colors is further split into row segments), each strip shipped
as its own image descriptor + local color table. Decoders that honor
the spec composite the strips back into the full-color canvas.

Scope, documented:
  * encoder emits GIF89a, no global color table, one non-interlaced
    image descriptor per strip with a local color table (palette sorted
    by (r,g,b) — deterministic bytes for the dedup gates), trailer;
  * decoder is GENERAL over the static-image family: 87a/89a, global
    and/or local color tables, any number of image descriptors at any
    (left, top) placement, all extension blocks skipped by sub-block
    walk, deferred-clear full-table streams; animation and interlace
    are out of scope and raise ValueError (unreadable-row skip
    semantics, reference denizariyan/dedup src/hasher.rs:57-60, via
    decode._decode_any): a Graphic Control Extension with the
    transparency flag, or one followed by an image descriptor after the
    first image (the next frame of an animation);
  * self-referential caveat (same as webp.py/tiff.py): the container
    ships no independent GIF reader, so the roundtrip alone can't prove
    spec conformance. Two compensations: a byte-level hand-built
    known-stream decode test pins the LZW/bit-packing conventions, and
    the cross-format gate (crossformat_pixel_dedup) requires pixels
    routed through this codec to cluster with the independently
    verifiable PNG path (stdlib zlib), so a convention slip that
    self-cancels in the roundtrip still cannot change any pixel.

LZW width correspondence: after the encoder ADDS table entry n it
checks next-free == 1<<width and widens; the decoder adds the same
entry one code-read later and applies the identical check, so both
sides agree on the width of every transmitted code. When the table is
full (4096) the encoder emits Clear and resets; the decoder also
accepts "deferred clear" streams that keep transmitting existing codes
from a full table.
"""

from __future__ import annotations

import struct

import numpy as np

_MAX_CODE = 4096  # 12-bit code space, spec appendix F
_TRAILER = 0x3B
_EXTENSION = 0x21
_GRAPHIC_CONTROL = 0xF9  # extension label: frame delay, disposal, transparency
_IMAGE_SEP = 0x2C


# ---------------------------------------------------------------------------
# GIF-variant LZW (LSB-first, no early change)
# ---------------------------------------------------------------------------


def lzw_encode_gif(indices: bytes, mcs: int) -> bytes:
    """Compress palette indices with GIF LZW at minimum-code-size
    ``mcs`` (spec appendix F). Emits Clear up front (recommended by the
    spec and assumed by lazy decoders), Clear again whenever the table
    fills, and EOI last."""
    if not 2 <= mcs <= 11:
        raise ValueError(f"gif: bad LZW minimum code size {mcs}")
    clear = 1 << mcs
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_free = eoi + 1
    width = mcs + 1
    put(clear, width)
    cur = b""
    for b in indices:
        if b >= clear:
            raise ValueError(f"gif: index {b} >= alphabet size {clear}")
        nxt = cur + bytes([b])
        if nxt in table:
            cur = nxt
            continue
        put(table[cur], width)
        table[nxt] = next_free
        next_free += 1
        if next_free == (1 << width) and width < 12:
            width += 1
        elif next_free == _MAX_CODE:
            put(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_free = eoi + 1
            width = mcs + 1
        cur = bytes([b])  # the new phrase starts at the unmatched byte
    if cur:
        put(table[cur], width)
    # EOI edge: at data-code reads the decoder lags the encoder by one
    # table add, which the decoder's one-early widen rule compensates —
    # but at EOI time both sides have performed the SAME adds, so when
    # next_free sits exactly at (1<<width)-1 the decoder has already
    # widened while the encoder's own rule has not. Emit EOI at the
    # width the decoder will read it with. (Interop is unaffected
    # either way: real decoders stop at pixel-count, as does ours via
    # max_out.)
    if next_free == (1 << width) - 1 and width < 12:
        width += 1
    put(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def lzw_decode_gif(data: bytes, mcs: int, max_out: int | None = None) -> bytes:
    """Decompress a GIF LZW stream (already de-sub-blocked). General:
    handles mid-stream Clear, deferred-clear full tables, and stops at
    EOI (trailing pad bits ignored). ``max_out`` stops as soon as that
    many bytes are produced — the practical rule every deployed decoder
    follows (pixel count satisfies the image descriptor), which also
    makes foreign encoders' divergent EOI-width conventions moot."""
    if not 2 <= mcs <= 11:
        raise ValueError(f"gif: bad LZW minimum code size {mcs}")
    clear = 1 << mcs
    eoi = clear + 1
    pos = 0  # bit cursor
    total_bits = len(data) * 8

    def get(width: int) -> int:
        nonlocal pos
        if pos + width > total_bits:
            raise ValueError("gif: truncated LZW stream")
        byte0 = pos >> 3
        chunk = int.from_bytes(
            data[byte0 : byte0 + ((pos & 7) + width + 7) // 8], "little"
        )
        code = (chunk >> (pos & 7)) & ((1 << width) - 1)
        pos += width
        return code

    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = mcs + 1
    out = bytearray()
    prev: bytes | None = None
    while True:
        code = get(width)
        if code == eoi:
            return bytes(out)
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = mcs + 1
            prev = None
            continue
        if prev is None:
            if code >= len(table):
                raise ValueError("gif: first code not in table")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):  # the KwKwK case
            entry = prev + prev[:1]
        else:
            raise ValueError("gif: code beyond table")
        out += entry
        if max_out is not None and len(out) >= max_out:
            return bytes(out[:max_out])
        if prev is not None and len(table) < _MAX_CODE:
            table.append(prev + entry[:1])
            # the decoder's add lags the encoder's by exactly one code,
            # so it widens one entry EARLY: when the encoder added entry
            # (1<<width)-1 it widened before emitting the next code; the
            # decoder performs that add only after reading said code,
            # hence the -1 here keeps every transmitted width in sync
            # (see module docstring; pinned by the hand-built stream and
            # width-transition tests)
            if len(table) == (1 << width) - 1 and width < 12:
                width += 1
        prev = entry


# ---------------------------------------------------------------------------
# container
# ---------------------------------------------------------------------------


def _strips(px: np.ndarray) -> list[tuple[int, int, int, int]]:
    """Slice the frame into (left, top, w, h) regions of <=256 distinct
    colors each: greedy row accumulation, with single rows that exceed
    256 distinct colors split into <=256-pixel segments (a segment of
    n pixels trivially has <=n distinct colors)."""
    h, w, _ = px.shape
    flat = (
        px[:, :, 0].astype(np.uint32) << 16
        | px[:, :, 1].astype(np.uint32) << 8
        | px[:, :, 2].astype(np.uint32)
    )
    regions: list[tuple[int, int, int, int]] = []
    top = 0
    while top < h:
        colors: set[int] = set(np.unique(flat[top]).tolist())
        if len(colors) > 256:
            for left in range(0, w, 256):
                regions.append((left, top, min(256, w - left), 1))
            top += 1
            continue
        bot = top + 1
        while bot < h:
            nxt = colors | set(np.unique(flat[bot]).tolist())
            if len(nxt) > 256:
                break
            colors = nxt
            bot += 1
        regions.append((0, top, w, bot - top))
        top = bot
    return regions


def _sub_blocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def encode_gif(px: np.ndarray) -> bytes:
    """Encode 8-bit RGB (h, w, 3) as a LOSSLESS true-color GIF89a:
    one image descriptor + local color table per <=256-color strip."""
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("gif: expected (h, w, 3) RGB")
    px = px.astype(np.uint8, copy=False)
    h, w, _ = px.shape
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x00, 0, 0])  # no GCT, background 0, aspect 0
    for left, top, rw, rh in _strips(px):
        region = px[top : top + rh, left : left + rw].reshape(-1, 3)
        keys = (
            region[:, 0].astype(np.uint32) << 16
            | region[:, 1].astype(np.uint32) << 8
            | region[:, 2].astype(np.uint32)
        )
        palette, inverse = np.unique(keys, return_inverse=True)
        # LCT size field: 2^(k+1) entries, k in 0..7, at least covering
        # the palette and never fewer than 2 entries
        k = 0
        while (2 << k) < len(palette):
            k += 1
        n_entries = 2 << k
        out.append(_IMAGE_SEP)
        out += struct.pack("<HHHH", left, top, rw, rh)
        out.append(0x80 | k)  # LCT flag, not interlaced, size k
        lct = np.zeros((n_entries, 3), dtype=np.uint8)
        lct[: len(palette), 0] = (palette >> 16) & 0xFF
        lct[: len(palette), 1] = (palette >> 8) & 0xFF
        lct[: len(palette), 2] = palette & 0xFF
        out += lct.tobytes()
        mcs = max(2, k + 1)
        out.append(mcs)
        out += _sub_blocks(
            lzw_encode_gif(inverse.astype(np.uint8).tobytes(), mcs)
        )
    out.append(_TRAILER)
    return bytes(out)


def _read_sub_blocks(buf: bytes, at: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if at >= len(buf):
            raise ValueError("gif: truncated sub-block stream")
        n = buf[at]
        at += 1
        if n == 0:
            return bytes(out), at
        if at + n > len(buf):
            raise ValueError("gif: truncated sub-block")
        out += buf[at : at + n]
        at += n


def decode_gif(data: bytes) -> np.ndarray:
    """Decode a static GIF87a/89a into 8-bit RGB (h, w, 3). General
    over the static family (see module docstring). Interlaced images,
    a Graphic Control Extension with its transparency flag set, and an
    image descriptor that follows a Graphic Control Extension after the
    first image (an animation frame) raise ValueError. Descriptors with
    no Graphic Control Extension between them, as this module's
    true-color strips, composite into one image."""
    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("gif: bad signature")
    w, h = struct.unpack_from("<HH", data, 6)
    packed = data[10]
    at = 13
    gct: np.ndarray | None = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if at + 3 * n > len(data):
            raise ValueError("gif: truncated global color table")
        gct = np.frombuffer(data[at : at + 3 * n], dtype=np.uint8).reshape(n, 3)
        at += 3 * n
    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    saw_image = False
    animated = False  # a Graphic Control Extension came after an image
    while True:
        if at >= len(data):
            raise ValueError("gif: missing trailer")
        block = data[at]
        at += 1
        if block == _TRAILER:
            break
        if block == _EXTENSION:
            if at >= len(data):
                raise ValueError("gif: truncated extension")
            label = data[at]
            at += 1  # every extension type is sub-block framed
            body, at = _read_sub_blocks(data, at)
            if label == _GRAPHIC_CONTROL:
                if body[:1] and body[0] & 0x01:
                    raise ValueError("gif: transparency not supported")
                animated = saw_image
            continue
        if block != _IMAGE_SEP:
            raise ValueError(f"gif: unknown block introducer 0x{block:02x}")
        if at + 9 > len(data):
            raise ValueError("gif: truncated image descriptor")
        left, top, iw, ih = struct.unpack_from("<HHHH", data, at)
        ipacked = data[at + 8]
        at += 9
        if ipacked & 0x40:
            raise ValueError("gif: interlaced images not supported")
        if animated:
            raise ValueError("gif: animated (multi-frame) GIF not supported")
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            if at + 3 * n > len(data):
                raise ValueError("gif: truncated local color table")
            pal = np.frombuffer(data[at : at + 3 * n], dtype=np.uint8).reshape(
                n, 3
            )
            at += 3 * n
        if pal is None:
            raise ValueError("gif: image with no color table")
        if left + iw > w or top + ih > h:
            raise ValueError("gif: image outside logical screen")
        if at >= len(data):
            raise ValueError("gif: truncated image data")
        mcs = data[at]
        at += 1
        lzw, at = _read_sub_blocks(data, at)
        idx = np.frombuffer(
            lzw_decode_gif(lzw, mcs, max_out=iw * ih), dtype=np.uint8
        )
        if len(idx) < iw * ih:
            raise ValueError("gif: short pixel data")
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("gif: palette index out of range")
        canvas[top : top + ih, left : left + iw] = pal[idx].reshape(ih, iw, 3)
        saw_image = True
    if not saw_image:
        raise ValueError("gif: no image data")
    return canvas
