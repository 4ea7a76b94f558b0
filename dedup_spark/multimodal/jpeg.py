"""Pure-stdlib baseline JPEG codec (numpy DCT + hand-rolled Huffman).

Closes the last codec gap that kept the north-rule decoded-pixel
contract (PSNR >= 40 dB **for lossy formats**) exercised only on
lossless payloads: with no imaging libs in this container, `_decode_any`
previously raised for jpeg. This module implements the baseline
sequential DCT process of the public JPEG standard (ITU-T T.81 /
ISO 10918-1) from the spec:

  * **encoder**: RGB → JFIF YCbCr (no subsampling, 4:4:4), 8x8 blocks,
    orthonormal 2-D DCT via one 8x8 matrix product, Annex-K quant
    tables scaled by the libjpeg quality formula, zigzag + DC
    differential + run/size Huffman entropy coding. The emitted DHT is
    a *flat* canonical table (12 four-bit DC codes, 162 eight-bit AC
    codes) — valid per the spec, trivially correct, and decodable by
    any conformant reader; compression ratio is sacrificed for
    auditability (this codec exists for fidelity gating, not archival).
  * **decoder**: a generic baseline parser — DQT (8/16-bit), any DHTs
    (canonical reconstruction from BITS/HUFFVAL), SOF0, DRI/RSTn,
    interleaved single-scan MCUs — restricted to 8-bit precision and
    1:1 sampling factors (what the encoder emits); anything else raises
    ValueError, which the decode UDFs map to the unreadable-row skip
    (reference src/hasher.rs:57-60 semantics). Entropy decode unstuffs
    the scan with bytes/re operations and reads bits from a list of
    40-bit big-endian windows, one per byte offset (built with numpy),
    so a 16-bit peek is two shifts and a mask. Each DHT table becomes a
    65,536-entry lookahead table on those 16 bits (built vectorized,
    cached by its BITS/HUFFVAL bytes); where a code and its value bits
    fit in 16, one index yields the whole coefficient.
  * **marker walk**: `marker_segments` is the one walk over the
    marker-segment syntax (fill bytes, length-less TEM/RSTn, ValueError
    on a truncated header). The decoder, the DQT read behind
    `estimate_quality` and the EXIF/GPS readers in exif.py all iterate
    it, so every reader of a JPEG sees the same segments.

Grayscale (h, w) arrays encode as single-component JPEGs; decode always
returns (h, w, 3) RGB like the other codecs here.
"""

from __future__ import annotations

import bisect
import functools
import itertools
import re
import struct
from array import array
from collections.abc import Iterator

import numpy as np

# ---------------------------------------------------------------------------
# tables (public JPEG standard, Annex K)
# ---------------------------------------------------------------------------

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
_UNZIGZAG = np.argsort(ZIGZAG)

_QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.float64).reshape(8, 8)

_QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.float64).reshape(8, 8)


def _scaled_qt(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling: 1..100 → per-coefficient step sizes."""
    q = min(100, max(1, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = np.floor((base * scale + 50) / 100)
    return np.clip(t, 1, 255)


_DCT8 = None


def _dct_matrix() -> np.ndarray:
    global _DCT8
    if _DCT8 is None:
        k = np.arange(8)
        m = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) / 2
        m[0] /= np.sqrt(2)
        _DCT8 = m
    return _DCT8


# flat canonical Huffman tables: DC = 12 categories at 4 bits,
# AC = 162 run/size symbols at 8 bits (EOB, (run,size), ZRL)
_DC_SYMS = list(range(12))
_AC_SYMS = [0x00] + [(r << 4) | s for r in range(16) for s in range(1, 11)] + [0xF0]
_DC_CODES = {s: (i, 4) for i, s in enumerate(_DC_SYMS)}
_AC_CODES = {s: (i, 8) for i, s in enumerate(_AC_SYMS)}


def _dht_payload(tc_th: int, bits_len: int, syms: list[int]) -> bytes:
    counts = [0] * 16
    counts[bits_len - 1] = len(syms)
    return bytes([tc_th] + counts + syms)


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, val: int, nbits: int) -> None:
        if nbits == 0:
            return
        self.acc = (self.acc << nbits) | (val & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            self.write(0x7F, 8 - self.n)  # pad with 1s


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _encode_block(bw: _BitWriter, zz: np.ndarray, dc_pred: int) -> int:
    dc = int(zz[0])
    diff = dc - dc_pred
    s = _category(diff)
    code, ln = _DC_CODES[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    nz = np.nonzero(zz[1:])[0]
    last = int(nz[-1]) + 1 if len(nz) else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, l2 = _AC_CODES[0xF0]
            bw.write(c, l2)
            run -= 16
        s = _category(v)
        c, l2 = _AC_CODES[(run << 4) | s]
        bw.write(c, l2)
        bw.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        c, l2 = _AC_CODES[0x00]
        bw.write(c, l2)
    return dc


def _to_blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) float, H/W multiples of 8 → (nby, nbx, 8, 8)."""
    h, w = plane.shape
    return plane.reshape(h // 8, 8, w // 8, 8).swapaxes(1, 2)


def encode_jpeg(px: np.ndarray, quality: int = 99) -> bytes:
    """(h, w, 3) RGB or (h, w) grayscale uint8 → baseline JFIF bytes.

    Default quality 99: near the top of the scale so the lossy
    round-trip stays comfortably above the 40 dB PSNR gate even on
    noise-textured payloads — the binding error term is chroma
    quantization; measured: 49.1 dB on pure noise at 99 (vs 43.7 at
    98, 36.0 at 95), i.e. ~9 dB of gate margin on the worst case."""
    arr = np.asarray(px, dtype=np.uint8)
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    ph, pw = -h % 8, -w % 8
    if gray:
        comps = [arr.astype(np.float64)]
    else:
        rgb = arr.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        comps = [y, cb, cr]
    comps = [
        np.pad(c, ((0, ph), (0, pw)), mode="edge") - 128.0 for c in comps
    ]

    qts = [_scaled_qt(_QT_LUMA, quality)]
    if not gray:
        qts.append(_scaled_qt(_QT_CHROMA, quality))
    m = _dct_matrix()
    quantized = []  # per component: (nby, nbx, 64) int32 zigzag coefs
    for ci, plane in enumerate(comps):
        blocks = _to_blocks(plane)
        coef = np.einsum("ux,ijxy,vy->ijuv", m, blocks, m, optimize=True)
        qz = np.round(coef / qts[min(ci, len(qts) - 1)]).astype(np.int32)
        quantized.append(qz.reshape(qz.shape[0], qz.shape[1], 64)[..., ZIGZAG])

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for ti, qt in enumerate(qts):
        zz = qt.reshape(64)[ZIGZAG].astype(np.uint8)
        out += b"\xff\xdb" + struct.pack(">H", 3 + 64) + bytes([ti]) + zz.tobytes()
    ncomp = 1 if gray else 3
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for ci in range(ncomp):
        out += bytes([ci + 1, 0x11, min(ci, len(qts) - 1)])
    dhts = _dht_payload(0x00, 4, _DC_SYMS) + _dht_payload(0x10, 8, _AC_SYMS)
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dhts)) + dhts
    out += b"\xff\xda" + struct.pack(">H", 6 + 2 * ncomp) + bytes([ncomp])
    for ci in range(ncomp):
        out += bytes([ci + 1, 0x00])  # all components use table 0/0
    out += bytes([0, 63, 0])

    bw = _BitWriter()
    preds = [0] * ncomp
    nby, nbx = quantized[0].shape[:2]
    for by in range(nby):
        for bx in range(nbx):
            for ci in range(ncomp):
                preds[ci] = _encode_block(bw, quantized[ci][by, bx], preds[ci])
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


@functools.lru_cache(maxsize=16)
def _lookahead(ac: bool, spec: bytes) -> tuple[tuple[int, int, int], ...]:
    """One DHT table (its BITS + HUFFVAL bytes) → a 65,536-entry table
    indexed by the next 16 bits of the stream.

    Canonical reconstruction per T.81 Annex C. Where a code and the
    value bits after it fit in 16 bits, its entries are ``(bits
    consumed, run advance, sign-extended value)`` with bits > 0, so one
    index decodes a whole coefficient (DC: run 0 and size = symbol; AC
    EOB and ZRL are never folded). Any other code gives ``(0, symbol,
    code length)``, and bits that start no code give ``(0, 0, 0)``.
    Built vectorized, code by code: each entry is one tuple, repeated
    over the lookahead values that share it. A table whose codes of 8
    bits or fewer overflow their code space raises ValueError; longer
    codes past it can never match and are left out."""
    if len(spec) < 16:
        raise ValueError("truncated DHT")
    bits = np.frombuffer(spec[:16], dtype=np.uint8).astype(np.int64)
    nv = int(bits.sum())
    if len(spec) < 16 + nv:
        raise ValueError("truncated DHT")
    syms = np.frombuffer(spec[16 : 16 + nv], dtype=np.uint8).astype(np.int64)
    lens = np.repeat(np.arange(1, 17), bits)
    first = np.zeros(17, dtype=np.int64)  # first canonical code per length
    for ln in range(1, 16):
        first[ln + 1] = (first[ln] + bits[ln - 1]) << 1
    codes = first[lens] + np.arange(nv) - np.repeat(np.cumsum(bits) - bits, bits)
    reach = codes < (1 << lens)
    if not reach[lens <= 8].all():
        raise ValueError("over-full Huffman table")
    lens, codes, syms = lens[reach], codes[reach], syms[reach]

    size, run = (syms & 15, syms >> 4) if ac else (syms, 0 * syms)
    fold = (lens + size <= 16) & ((size > 0) if ac else True)
    size = np.where(fold, size, 0)
    count = 1 << size  # entries per code: one per pattern of its value bits
    owner = np.repeat(np.arange(len(codes)), count)
    v = np.arange(len(owner)) - (np.cumsum(count) - count)[owner]
    sz, folded = size[owner], fold[owner]
    val = np.where(v >= (1 << sz) >> 1, v, v - (1 << sz) + 1)
    # table order, as slots of (repeat, entry): each code's gap (bits
    # that start no code, entry (0, 0, 0)), then its entries; a last
    # gap runs to the end
    gap_at = np.cumsum(count + 1) - (count + 1)
    ends = np.concatenate(([0], (codes + 1) << (16 - lens)))
    cols = np.zeros((4, len(owner) + len(codes) + 1), dtype=np.int64)
    cols[0, gap_at] = (codes << (16 - lens)) - ends[:-1]
    cols[0, -1] = (1 << 16) - ends[-1]
    cols[:, (gap_at + 1)[owner] + v] = (
        (1 << (16 - lens - size))[owner],
        np.where(folded, (lens + size)[owner], 0),
        np.where(folded, run[owner], syms[owner]),
        np.where(folded, val, lens[owner]),
    )
    rep, *entry = cols.tolist()
    return tuple(itertools.chain.from_iterable(
        map(itertools.repeat, zip(*entry), rep)
    ))


def marker_segments(data: bytes) -> Iterator[tuple[int, int, int]]:
    """The one JPEG marker-segment walk: yields ``(marker, start, end)``
    per segment up to and including SOS, where ``data[start:end]`` is
    the segment's payload (past its two length bytes; ``end`` may run
    past a truncated stream) and the scan data begins at ``end``.

    0xFF fill bytes before a marker are skipped (T.81 B.1.1.2), as are
    TEM (01) and RSTn (D0-D7), which carry no length (B.1.1.3). The walk
    ends at SOS, at EOI or at the end of the data. No SOI, a byte where
    a marker belongs, a truncated marker header or a length below 2
    raise ValueError."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    i, n = 2, len(data)
    while i < n:
        if data[i] != 0xFF:
            raise ValueError("marker expected")
        while i + 1 < n and data[i + 1] == 0xFF:
            i += 1
        if i + 2 > n:
            raise ValueError("truncated marker header")
        marker = data[i + 1]
        i += 2
        if marker == 0xD9:
            return
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        if i + 2 > n:
            raise ValueError("truncated marker header")
        seg_len = (data[i] << 8) | data[i + 1]
        if seg_len < 2:
            raise ValueError("bad segment length")
        yield marker, i + 2, i + seg_len
        if marker == 0xDA:
            return
        i += seg_len


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline JPEG bytes → (h, w, 3) uint8 RGB. Raises ValueError on
    anything outside baseline / 8-bit / 1:1-sampling scope, and on
    truncated segments or entropy data."""
    try:
        return _decode_jpeg(data)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed JPEG: {exc}") from exc


def _decode_jpeg(data: bytes) -> np.ndarray:
    qts: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], tuple] = {}  # (class, id) -> _lookahead table
    frame = None
    restart_interval = 0
    for marker, start, end in marker_segments(data):
        seg = data[start:end]
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0x0F
                j += 1
                if pq == 0:
                    t = np.frombuffer(seg[j : j + 64], dtype=np.uint8).astype(np.float64)
                    j += 64
                else:
                    t = np.frombuffer(seg[j : j + 128], dtype=">u2").astype(np.float64)
                    j += 128
                qt = np.empty(64)
                qt[ZIGZAG] = t
                qts[tq] = qt.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                nv = sum(seg[j + 1 : j + 17])
                huff[(tc, th)] = _lookahead(tc == 1, bytes(seg[j + 1 : j + 17 + nv]))
                j += 17 + nv
        elif marker == 0xC0:  # SOF0 baseline
            prec, fh, fw, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            if not fh or not fw:  # height 0 = "defined by DNL" (T.81 B.2.5)
                raise ValueError("empty frame (DNL height unsupported)")
            comps = []
            for c in range(nc):
                cid, samp, tq = seg[6 + 3 * c : 9 + 3 * c]
                if samp != 0x11:
                    raise ValueError("only 1:1 sampling (4:4:4) supported")
                comps.append({"id": cid, "tq": tq})
            frame = {"h": fh, "w": fw, "comps": comps}
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF0")
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, tt = seg[1 + 2 * c : 3 + 2 * c]
                comp = next((x for x in frame["comps"] if x["id"] == cs), None)
                td, ta = tt >> 4, tt & 0x0F
                if (
                    comp is None
                    or comp["tq"] not in qts
                    or (0, td) not in huff
                    or (1, ta) not in huff
                ):
                    raise ValueError("scan names an undefined component or table")
                scan.append((comp, td, ta))
            return _decode_scan(
                data[end:], frame, scan, qts, huff, restart_interval
            )
    raise ValueError("no SOS marker")


# 0xFF is stuffed as FF 00; any other marker but RSTn (EOI, ...) ends the data
_MARKER_END = re.compile(rb"\xff(?![\x00\xd0-\xd7])")
_RST = re.compile(rb"\xff[\xd0-\xd7]")


def _windows(entropy: bytes) -> tuple[list[int], list[int]]:
    """Entropy-coded segment → (40-bit big-endian bit windows, one per
    byte offset of the unstuffed data; bit offsets of the RSTn markers).

    The data ends at the first marker other than RSTn. Reads past its
    end see 1 bits (JPEG pads with 1s); the windows stop two bytes past
    it, so a symbol that starts later raises IndexError."""
    end = _MARKER_END.search(entropy)
    parts = [
        p.replace(b"\xff\x00", b"\xff")
        for p in _RST.split(entropy[: end.start() if end else len(entropy)])
    ]
    raw = b"".join(parts)
    restarts = list(itertools.accumulate(8 * len(p) for p in parts[:-1]))
    a = np.frombuffer(raw + b"\xff" * 6, dtype=np.uint8).astype(np.int64)
    n = len(raw) + 2
    win = (
        (a[:n] << 32) | (a[1 : n + 1] << 24) | (a[2 : n + 2] << 16)
        | (a[3 : n + 3] << 8) | a[4 : n + 4]
    )
    return win.tolist(), restarts


def _receive_extend(win: list[int], pos: int, s: int) -> int:
    """The ``s`` (1..16) bits at bit ``pos`` as a signed coefficient
    value (T.81 F.2.2.1 RECEIVE and EXTEND)."""
    v = (win[pos >> 3] >> (40 - (pos & 7) - s)) & ((1 << s) - 1)
    return v if v >> (s - 1) else v - (1 << s) + 1


def _decode_scan(entropy, frame, scan, qts, huff, restart_interval):
    """One interleaved baseline scan → (h, w, 3) uint8 RGB.

    The MCU loop peeks 16 bits at bit ``pos`` as ``(win[pos >> 3] >>
    (24 - (pos & 7))) & 0xFFFF`` and resolves a whole coefficient with
    one `_lookahead` index; only EOB, ZRL and codes whose value bits
    run past the 16 take the branch that reads the value separately."""
    h, w = frame["h"], frame["w"]
    nby, nbx = (h + 7) // 8, (w + 7) // 8
    win, restarts = _windows(entropy)
    tables = [(huff[(0, td)], huff[(1, ta)]) for _, td, ta in scan]
    ncomp = len(scan)
    # (by, bx, component, zigzag k), grown one MCU row at a time so a
    # header that declares a huge frame costs only the rows its data fill
    coef = array("d")
    row = array("d", [0.0]) * (nbx * ncomp * 64)
    preds = [0] * ncomp
    pos = 0
    base = 0  # coef index of the current block's DC term
    for mcu in range(nby * nbx):
        if mcu % nbx == 0:
            coef += row
        if restart_interval and mcu and mcu % restart_interval == 0:
            at = bisect.bisect_left(restarts, pos)
            if at == len(restarts):
                raise ValueError("missing restart marker")
            pos = restarts[at]
            preds = [0] * ncomp
        for ci in range(ncomp):
            dct, act = tables[ci]
            # a folded entry is (bits, run, value); any other is
            # (0, symbol, code length), and (0, 0, 0) is no code
            nb, sym, diff = dct[(win[pos >> 3] >> (24 - (pos & 7))) & 0xFFFF]
            if nb:
                pos += nb
            elif not diff:
                raise ValueError("bad Huffman code")
            else:
                pos += diff
                if sym > 16:
                    raise ValueError("DC category out of range")
                diff = _receive_extend(win, pos, sym)
                pos += sym
            preds[ci] += diff
            coef[base] = preds[ci]
            k = base + 1  # index into coef; the block ends at base + 64
            end = base + 64
            while k < end:
                nb, run, val = act[(win[pos >> 3] >> (24 - (pos & 7))) & 0xFFFF]
                if nb:
                    pos += nb
                    k += run
                    if k >= end:
                        raise ValueError("coefficient index out of range")
                    coef[k] = val
                    k += 1
                    continue
                sym, ln = run, val
                if not ln:
                    raise ValueError("bad Huffman code")
                pos += ln
                if sym == 0x00:  # EOB
                    break
                if sym == 0xF0:  # ZRL
                    k += 16
                    continue
                k += sym >> 4
                s = sym & 0x0F
                if k >= end or not s:
                    raise ValueError("coefficient index out of range")
                coef[k] = _receive_extend(win, pos, s)
                pos += s
                k += 1
            base = end
    # dequantize + IDCT batched per component (two broadcast matmuls over
    # every block, not a python matmul per block)
    m = _dct_matrix()
    zz = np.frombuffer(coef, dtype=np.float64).reshape(nby, nbx, ncomp, 64)
    full = []
    for ci, (comp, _, _) in enumerate(scan):
        blocks = zz[:, :, ci, _UNZIGZAG].reshape(nby, nbx, 8, 8) * qts[
            comp["tq"]
        ]
        px = m.T @ blocks @ m
        full.append(
            px.swapaxes(1, 2).reshape(nby * 8, nbx * 8)[:h, :w] + 128.0
        )
    if len(full) == 1:
        g = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# quality estimation (metadata tier: no decode)
# ---------------------------------------------------------------------------


def find_luma_qt(data: bytes) -> np.ndarray | None:
    """The 64 zigzag-order step sizes of the first DQT table with id 0,
    found by `marker_segments`; None if absent or not a JPEG (no SOI).
    8-bit tables only (pq=0) — what baseline JFIF uses. A malformed
    marker stream before the table raises ValueError."""
    if data[:2] != b"\xff\xd8":
        return None
    for marker, start, end in marker_segments(data):
        if marker != 0xDB:
            continue
        seg = data[start:end]
        j = 0
        while j < len(seg):
            pq, tq = seg[j] >> 4, seg[j] & 0x0F
            if tq == 0 and pq == 0:
                if len(seg) < j + 1 + 64:
                    return None
                return np.frombuffer(
                    seg[j + 1 : j + 65], dtype=np.uint8
                ).astype(np.int64)
            j += 1 + (128 if pq else 64)
    return None


_CANDIDATE_QTS = None  # (100, 64) int64: row q-1 = scaled zigzag luma table


def _candidate_tables() -> np.ndarray:
    global _CANDIDATE_QTS
    if _CANDIDATE_QTS is None:
        base_zz = _QT_LUMA.reshape(64)[ZIGZAG]
        _CANDIDATE_QTS = np.stack(
            [_scaled_qt(base_zz, q).astype(np.int64) for q in range(1, 101)]
        )
    return _CANDIDATE_QTS


def estimate_quality_from_table(stored: np.ndarray) -> int | None:
    """Largest q in 1..100 whose regenerated luma table equals
    ``stored`` at all 64 entries (several low q values share a table —
    floor(5000/q) collides — so max is the deterministic tie rule).
    One vectorized (100, 64) comparison against precomputed candidate
    tables. None if the table matches no standard-base quality."""
    hits = np.flatnonzero((_candidate_tables() == stored).all(axis=1))
    return int(hits[-1]) + 1 if hits.size else None


def estimate_quality(data: bytes) -> int | None:
    """Invert the libjpeg scaling from the luma DQT alone — the
    recompression-filter signal curation pipelines use, computed at
    scan speed with no pixel decode. None if no 8-bit luma DQT or a
    foreign (non-standard-base) table."""
    stored = find_luma_qt(data)
    if stored is None:
        return None
    return estimate_quality_from_table(stored)
