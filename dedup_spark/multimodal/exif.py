"""EXIF/TIFF metadata: standards-shaped writer + GENERAL parser.

Public spec: EXIF is a TIFF 6.0 container inside a JPEG APP1 segment
("Exif\\0\\0" + TIFF header + IFD chain; CIPA DC-008 / TIFF 6.0). The
pipeline value: camera metadata (orientation, dimensions, timestamps,
make/model) extracted at SCAN SPEED without decoding a single pixel —
at 100 TB the metadata pass is a projection, the decode pass is the
expensive tier you gate behind it.

Same architecture as the MJPEG-in-AVI tier (multimodal/avi.py): the
WRITER is fixed-layout (every ASCII field fixed-width, tags sorted, so
each field's absolute byte offset in the file is a constant the writer
asserts — the oracle slices hex at those offsets and re-decodes every
value, both endians); the PARSER is general (walks JPEG segments to
any APP1, honors the TIFF endian flag, walks IFD entries of any order,
inline vs offset values, unknown tags skipped) — so the gate proves
the general walker against independently recomputed bytes.

Both byte orders are exercised: even image indices write
little-endian ("II") TIFF, odd write big-endian ("MM").
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from dedup_spark.multimodal.decode import (
    image_signatures,
    shape_sha,
    signature_clusters,
)

# IFD0 tags (TIFF 6.0 / EXIF): fixed writer layout, sorted by tag id
TAG_WIDTH = 0x0100  # LONG
TAG_HEIGHT = 0x0101  # LONG
TAG_MAKE = 0x010F  # ASCII, fixed 11 bytes incl NUL ("maker-%04d")
TAG_MODEL = 0x0110  # ASCII, fixed 11 bytes incl NUL ("model-%04d")
TAG_ORIENTATION = 0x0112  # SHORT
TAG_DATETIME = 0x0132  # ASCII, fixed 20 bytes incl NUL

MAKE_LEN = 11
MODEL_LEN = 11
DT_LEN = 20
N_ENTRIES = 6
# TIFF-relative layout (writer-asserted): header 8 B, count 2 B,
# 6 entries x 12 B, next-IFD 4 B -> value area at offset 86
_VAL0 = 8 + 2 + N_ENTRIES * 12 + 4
OFF_MAKE = _VAL0
OFF_MODEL = _VAL0 + MAKE_LEN
OFF_DT = _VAL0 + MAKE_LEN + MODEL_LEN
TIFF_LEN = _VAL0 + MAKE_LEN + MODEL_LEN + DT_LEN
# APP1 = FF E1 <len:2> "Exif\0\0" <tiff>; inserted right after SOI, so
# the TIFF block starts at absolute file offset 12
APP1_HDR = 10  # 2 marker + 2 length + 6 signature


def build_exif_app1(
    make: str,
    model: str,
    orientation: int,
    width: int,
    height: int,
    datetime: str,
    big_endian: bool = False,
) -> bytes:
    """Fixed-layout EXIF APP1 segment. ASCII fields must be exactly
    their fixed width minus the NUL; offsets are asserted so the
    oracle's hex-slice positions are guaranteed."""
    e = ">" if big_endian else "<"
    assert len(make) == MAKE_LEN - 1 and len(model) == MODEL_LEN - 1
    assert len(datetime) == DT_LEN - 1

    def entry(tag: int, typ: int, count: int, value: bytes) -> bytes:
        assert len(value) <= 4
        return struct.pack(e + "HHI", tag, typ, count) + value.ljust(4, b"\0")

    hdr = (b"MM" if big_endian else b"II") + struct.pack(e + "HI", 42, 8)
    entries = [
        entry(TAG_WIDTH, 4, 1, struct.pack(e + "I", width)),
        entry(TAG_HEIGHT, 4, 1, struct.pack(e + "I", height)),
        entry(TAG_MAKE, 2, MAKE_LEN, struct.pack(e + "I", OFF_MAKE)),
        entry(TAG_MODEL, 2, MODEL_LEN, struct.pack(e + "I", OFF_MODEL)),
        entry(TAG_ORIENTATION, 3, 1, struct.pack(e + "H", orientation) + b"\0\0"),
        entry(TAG_DATETIME, 2, DT_LEN, struct.pack(e + "I", OFF_DT)),
    ]
    ifd = struct.pack(e + "H", N_ENTRIES) + b"".join(entries) + struct.pack(
        e + "I", 0
    )
    vals = (
        make.encode() + b"\0" + model.encode() + b"\0" + datetime.encode() + b"\0"
    )
    tiff = hdr + ifd + vals
    assert len(tiff) == TIFF_LEN
    assert tiff.index(make.encode()) == OFF_MAKE
    payload = b"Exif\0\0" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload


def insert_app1(jpeg: bytes, app1: bytes) -> bytes:
    """Insert an APP1 segment right after SOI (the standard position)."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    return jpeg[:2] + app1 + jpeg[2:]


_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}  # 5 = RATIONAL (2 LONGs)


def parse_exif(jpeg: bytes) -> dict | None:
    """GENERAL parser: JPEG segment walk → first Exif APP1 → TIFF IFD0
    walk (either endian, entries in any order, inline or offset
    values, unknown tags skipped). Returns {tag_id: value} or None if
    no Exif APP1 exists. Malformed structures raise ValueError —
    including truncated buffers, which struct/indexing would otherwise
    surface as struct.error/IndexError and escape callers' except
    clauses (the 10^12-row survive-corruption invariant)."""
    try:
        return _parse_exif_inner(jpeg)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed EXIF structure: {exc}") from exc


def _parse_exif_inner(jpeg: bytes) -> dict | None:
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    i, n = 2, len(jpeg)
    tiff = None
    while i + 4 <= n:
        if jpeg[i] != 0xFF:
            raise ValueError("marker expected")
        while i + 1 < n and jpeg[i + 1] == 0xFF:  # fill bytes (T.81 B.1.1.2)
            i += 1
        marker = jpeg[i + 1]
        if marker == 0xDA or marker == 0xD9:  # scan data / EOI: stop
            break
        seg_len = struct.unpack(">H", jpeg[i + 2 : i + 4])[0]
        seg = jpeg[i + 4 : i + 2 + seg_len]
        if marker == 0xE1 and seg[:6] == b"Exif\0\0":
            tiff = seg[6:]
            break
        i += 2 + seg_len
    if tiff is None:
        return None
    order = tiff[:2]
    if order == b"II":
        e = "<"
    elif order == b"MM":
        e = ">"
    else:
        raise ValueError("bad TIFF byte order")
    magic, ifd_off = struct.unpack(e + "HI", tiff[2:8])
    if magic != 42:
        raise ValueError("bad TIFF magic")
    count = struct.unpack(e + "H", tiff[ifd_off : ifd_off + 2])[0]
    out: dict[int, object] = {}
    for k in range(count):
        off = ifd_off + 2 + 12 * k
        tag, typ, cnt = struct.unpack(e + "HHI", tiff[off : off + 8])
        if typ not in _TYPE_SIZE:
            continue  # unknown type: skip (general-walker contract)
        nbytes = _TYPE_SIZE[typ] * cnt
        if nbytes <= 4:
            raw = tiff[off + 8 : off + 8 + nbytes]
        else:
            voff = struct.unpack(e + "I", tiff[off + 8 : off + 12])[0]
            raw = tiff[voff : voff + nbytes]
        if typ == 2:  # ASCII, NUL-terminated
            out[tag] = raw.split(b"\0")[0].decode("ascii", "replace")
        elif typ == 3:
            vals = struct.unpack(e + f"{cnt}H", raw)
            out[tag] = vals[0] if cnt == 1 else list(vals)
        elif typ == 4:
            vals = struct.unpack(e + f"{cnt}I", raw)
            out[tag] = vals[0] if cnt == 1 else list(vals)
        elif typ == 5:  # RATIONAL: (numerator, denominator) pairs
            vals = struct.unpack(e + f"{2 * cnt}I", raw)
            pairs = [(vals[2 * j], vals[2 * j + 1]) for j in range(cnt)]
            out[tag] = pairs[0] if cnt == 1 else pairs
        else:  # BYTE
            out[tag] = raw[0] if cnt == 1 else list(raw)
    return out


def normalize_orientation(px, orientation: int):
    """Stored pixels → display pixels per TIFF 6.0 orientation 1-8
    (1 normal, 2 flip-H, 3 rot180, 4 flip-V, 5 transpose, 6 rot90 CW,
    7 transverse, 8 rot90 CCW). Pure numpy views; lossless and exactly
    invertible (see ORIENTATION_INVERSE), which is what makes
    orientation-normalized dedup bit-exact."""
    import numpy as np

    if orientation == 2:
        return px[:, ::-1]
    if orientation == 3:
        return px[::-1, ::-1]
    if orientation == 4:
        return px[::-1, :]
    if orientation == 5:
        return px.transpose(1, 0, 2)
    if orientation == 6:
        return np.rot90(px, k=-1)
    if orientation == 7:
        return px.transpose(1, 0, 2)[::-1, ::-1]
    if orientation == 8:
        return np.rot90(px, k=1)
    return px  # 1 (or out-of-spec): as stored


# o composed with ORIENTATION_INVERSE[o] is the identity:
# normalize(inverse_normalize(x, o), o) == x. 6 and 8 invert each
# other; every other orientation is an involution.
ORIENTATION_INVERSE = {1: 1, 2: 2, 3: 3, 4: 4, 5: 5, 6: 8, 7: 7, 8: 6}


EXIF_SCHEMA = (
    "image_id string, has_exif boolean, make string, model string, "
    "orientation int, exif_width long, exif_height long, taken_at string"
)


def exif_metadata(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Metadata-at-scan-speed projection: one Arrow-batched pass, no
    pixel decode. Images without an Exif APP1 (or non-JPEGs) yield
    has_exif=false with null fields — the job survives, the 10^12-row
    invariant."""

    def _parse(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rid, data in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    tags = parse_exif(bytes(data))
                except ValueError:
                    tags = None
                if not tags:
                    rows.append((rid, False, None, None, None, None, None, None))
                    continue

                def _i(v):  # multi-count tags would break the scalar schema
                    return int(v) if isinstance(v, int) else None

                def _s(v):
                    return v if isinstance(v, str) else None

                rows.append(
                    (
                        rid,
                        True,
                        _s(tags.get(TAG_MAKE)),
                        _s(tags.get(TAG_MODEL)),
                        _i(tags.get(TAG_ORIENTATION)),
                        _i(tags.get(TAG_WIDTH)),
                        _i(tags.get(TAG_HEIGHT)),
                        _s(tags.get(TAG_DATETIME)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "has_exif", "make", "model", "orientation",
                    "exif_width", "exif_height", "taken_at",
                ],
            )

    return df.select(id_col, bytes_col).mapInPandas(_parse, schema=EXIF_SCHEMA)


def orientation_normalized_clusters(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    fmt_col: str = "fmt",
    orientation_col: str = "orientation",
) -> DataFrame:
    """Orientation-normalized pixel dedup: the same photo stored
    rotated/flipped (the 8 EXIF orientations) has different bytes,
    different dims, different phash, AND a different pixel buffer —
    nothing upstream clusters it. Normalizing to display orientation
    before hashing collapses all 8 variants into one cluster.

    The orientation arrives as a COLUMN (in a real pipeline, the
    output of ``exif_metadata`` joined back — metadata pass first,
    expensive decode pass second). Returns (id, ok, cluster_id);
    undecodable rows self-cluster with ok=false.
    """
    def _norm_sha(px, o) -> str:
        # NULL orientation arrives as NaN once pandas widens an int
        # column with nulls to float64 — exactly what exif_metadata
        # emits for exif-less rows; treat as 1
        return shape_sha(
            normalize_orientation(px, 1 if o is None or pd.isna(o) else int(o))
        )

    sig = image_signatures(
        df, _norm_sha, "string", "norm_sha", id_col, bytes_col, fmt_col,
        (orientation_col,),
    )
    return signature_clusters(sig, "norm_sha")


# --- GPS IFD: writer variant + privacy scrub -------------------------
#
# EXIF GPS lives in its own IFD pointed to by IFD0 tag 0x8825
# (GPSInfo, LONG). The privacy obligation on a web corpus is to STRIP
# it before training while leaving every other field intact — and to
# do so WITHOUT moving any byte that other entries' value offsets
# depend on (TIFF offsets are absolute within the TIFF block, so the
# scrub must be length-preserving in place, not a rewrite).

TAG_GPS_IFD = 0x8825  # GPSInfo IFD pointer (LONG)
GPS_LAT_REF, GPS_LAT = 0x0001, 0x0002
GPS_LON_REF, GPS_LON = 0x0003, 0x0004

N_ENTRIES_G = 7  # the 6 IFD0 tags + the GPSInfo pointer
_VAL0G = 8 + 2 + N_ENTRIES_G * 12 + 4  # 98
OFF_MAKE_G = _VAL0G
OFF_MODEL_G = _VAL0G + MAKE_LEN
OFF_DT_G = _VAL0G + MAKE_LEN + MODEL_LEN
GPS_IFD_OFF = _VAL0G + MAKE_LEN + MODEL_LEN + DT_LEN  # 140
N_GPS_ENTRIES = 4
GPS_IFD_LEN = 2 + N_GPS_ENTRIES * 12 + 4  # 54
GPS_RAT_OFF = GPS_IFD_OFF + GPS_IFD_LEN  # 194: lat 3 rationals, lon 3
TIFF_LEN_G = GPS_RAT_OFF + 48  # 242


def build_exif_app1_gps(
    make: str,
    model: str,
    orientation: int,
    width: int,
    height: int,
    datetime: str,
    lat_dms: tuple[int, int, int],
    lon_dms: tuple[int, int, int],
    north: bool = True,
    east: bool = True,
    big_endian: bool = False,
) -> bytes:
    """Fixed-layout EXIF APP1 WITH a GPS IFD: IFD0 carries the 6
    standard tags + the 0x8825 GPSInfo pointer; the GPS IFD carries
    lat/lon refs (ASCII, inline) and lat/lon as 3 RATIONALs each
    (deg/1, min/1, sec/1 — type 5, the spec encoding). All offsets
    writer-asserted, both endians."""
    e = ">" if big_endian else "<"
    assert len(make) == MAKE_LEN - 1 and len(model) == MODEL_LEN - 1
    assert len(datetime) == DT_LEN - 1

    def entry(tag: int, typ: int, count: int, value: bytes) -> bytes:
        assert len(value) <= 4
        return struct.pack(e + "HHI", tag, typ, count) + value.ljust(4, b"\0")

    hdr = (b"MM" if big_endian else b"II") + struct.pack(e + "HI", 42, 8)
    entries = [
        entry(TAG_WIDTH, 4, 1, struct.pack(e + "I", width)),
        entry(TAG_HEIGHT, 4, 1, struct.pack(e + "I", height)),
        entry(TAG_MAKE, 2, MAKE_LEN, struct.pack(e + "I", OFF_MAKE_G)),
        entry(TAG_MODEL, 2, MODEL_LEN, struct.pack(e + "I", OFF_MODEL_G)),
        entry(TAG_ORIENTATION, 3, 1, struct.pack(e + "H", orientation) + b"\0\0"),
        entry(TAG_DATETIME, 2, DT_LEN, struct.pack(e + "I", OFF_DT_G)),
        entry(TAG_GPS_IFD, 4, 1, struct.pack(e + "I", GPS_IFD_OFF)),
    ]
    ifd = (
        struct.pack(e + "H", N_ENTRIES_G)
        + b"".join(entries)
        + struct.pack(e + "I", 0)
    )
    vals = (
        make.encode() + b"\0" + model.encode() + b"\0" + datetime.encode() + b"\0"
    )
    gps_entries = [
        entry(GPS_LAT_REF, 2, 2, (b"N\0" if north else b"S\0")),
        entry(GPS_LAT, 5, 3, struct.pack(e + "I", GPS_RAT_OFF)),
        entry(GPS_LON_REF, 2, 2, (b"E\0" if east else b"W\0")),
        entry(GPS_LON, 5, 3, struct.pack(e + "I", GPS_RAT_OFF + 24)),
    ]
    gps_ifd = (
        struct.pack(e + "H", N_GPS_ENTRIES)
        + b"".join(gps_entries)
        + struct.pack(e + "I", 0)
    )
    rats = b"".join(
        struct.pack(e + "II", v, 1) for v in (*lat_dms, *lon_dms)
    )
    tiff = hdr + ifd + vals + gps_ifd + rats
    assert len(tiff) == TIFF_LEN_G
    assert tiff.index(make.encode()) == OFF_MAKE_G
    assert tiff[GPS_IFD_OFF : GPS_IFD_OFF + 2] == struct.pack(
        e + "H", N_GPS_ENTRIES
    )
    payload = b"Exif\0\0" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload


def _find_exif_app1(jpeg: bytes) -> tuple[int, int] | None:
    """(tiff_abs_start, tiff_len) of the first Exif APP1, or None.
    Same segment walk as the parser; malformed markers raise."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    i, n = 2, len(jpeg)
    while i + 4 <= n:
        if jpeg[i] != 0xFF:
            raise ValueError("marker expected")
        while i + 1 < n and jpeg[i + 1] == 0xFF:
            i += 1
        marker = jpeg[i + 1]
        if marker == 0xDA or marker == 0xD9:
            return None
        seg_len = struct.unpack(">H", jpeg[i + 2 : i + 4])[0]
        if marker == 0xE1 and jpeg[i + 4 : i + 10] == b"Exif\0\0":
            return i + 10, seg_len - 2 - 6
        i += 2 + seg_len
    return None


def scrub_gps(jpeg: bytes) -> tuple[bytes, bool]:
    """Length-preserving in-place GPS removal: drop the 0x8825 entry
    from IFD0 (remaining entries shift up 12 bytes; the freed 12 bytes
    are zero-padded so every absolute value offset stays valid) and
    zero the GPS IFD block plus every external value region its
    entries reference. Returns (cleaned_bytes, had_gps); JPEGs without
    Exif or without GPS come back unchanged. Malformed structures
    raise ValueError (caller maps to scrub_ok=false)."""
    try:
        loc = _find_exif_app1(jpeg)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed JPEG structure: {exc}") from exc
    if loc is None:
        return jpeg, False
    t0, tlen = loc
    tiff = bytearray(jpeg[t0 : t0 + tlen])
    try:
        order = bytes(tiff[:2])
        e = {b"II": "<", b"MM": ">"}.get(order)
        if e is None:
            raise ValueError("bad TIFF byte order")
        magic, ifd_off = struct.unpack(e + "HI", tiff[2:8])
        if magic != 42:
            raise ValueError("bad TIFF magic")
        count = struct.unpack(e + "H", tiff[ifd_off : ifd_off + 2])[0]
        kept, gps_offs = [], []
        for k in range(count):
            off = ifd_off + 2 + 12 * k
            ent = bytes(tiff[off : off + 12])
            tag = struct.unpack(e + "H", ent[:2])[0]
            if tag == TAG_GPS_IFD:
                # a malformed IFD0 may carry the pointer MORE than
                # once: strip every occurrence, zero every target
                gps_offs.append(struct.unpack(e + "I", ent[8:12])[0])
            else:
                kept.append(ent)
        if not gps_offs:
            return jpeg, False
        block_len = 2 + count * 12 + 4
        nxt = bytes(
            tiff[ifd_off + 2 + count * 12 : ifd_off + 2 + count * 12 + 4]
        )
        new_block = (
            struct.pack(e + "H", len(kept))
            + b"".join(kept)
            + nxt
            + b"\0" * (12 * (count - len(kept)))
        )
        if len(new_block) != block_len:
            raise ValueError("IFD0 rebuild length drifted")
        tiff[ifd_off : ifd_off + block_len] = new_block
        # zero every GPS IFD and its external values
        for gps_off in gps_offs:
            if gps_off >= len(tiff):
                continue  # pointer past the TIFF block: nothing to zero
            n_gps = struct.unpack(e + "H", tiff[gps_off : gps_off + 2])[0]
            for k in range(n_gps):
                off = gps_off + 2 + 12 * k
                typ, cnt = struct.unpack(e + "HI", tiff[off + 2 : off + 8])
                nbytes = _TYPE_SIZE.get(typ, 0) * cnt
                if nbytes > 4:
                    voff = struct.unpack(e + "I", tiff[off + 8 : off + 12])[0]
                    tiff[voff : voff + nbytes] = b"\0" * min(
                        nbytes, max(0, len(tiff) - voff)
                    )
            gps_block = 2 + n_gps * 12 + 4
            tiff[gps_off : gps_off + gps_block] = b"\0" * min(
                gps_block, max(0, len(tiff) - gps_off)
            )
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed EXIF structure: {exc}") from exc
    out = jpeg[:t0] + bytes(tiff) + jpeg[t0 + tlen :]
    assert len(out) == len(jpeg)
    return out, True


def gps_scrub_report(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Arrow-batched scrub + re-parse audit: per row, (scrub_ok,
    had_gps, gps_after, make, model, orientation, len_preserved) where
    make/model/orientation are parsed FROM THE CLEANED BYTES — the
    audit simultaneously proves removal (gps_after false) and
    preservation (other fields still parse). Non-JPEG / exif-less rows
    survive as had_gps=false."""

    def _scrub(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rid, data in zip(pdf[id_col], pdf[bytes_col]):
                data = bytes(data)
                try:
                    cleaned, had = scrub_gps(data)
                    tags = parse_exif(cleaned)
                except ValueError:
                    rows.append(
                        (rid, False, None, None, None, None, None, None)
                    )
                    continue
                make = model = orient = None
                if tags:
                    v = tags.get(TAG_MAKE)
                    make = v if isinstance(v, str) else None
                    v = tags.get(TAG_MODEL)
                    model = v if isinstance(v, str) else None
                    v = tags.get(TAG_ORIENTATION)
                    orient = int(v) if isinstance(v, int) else None
                rows.append(
                    (
                        rid,
                        True,
                        had,
                        bool(tags and TAG_GPS_IFD in tags),
                        make,
                        model,
                        orient,
                        len(cleaned) == len(data),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "scrub_ok", "had_gps", "gps_after",
                    "make", "model", "orientation", "len_preserved",
                ],
            )

    return df.select(id_col, bytes_col).mapInPandas(
        _scrub,
        schema=(
            f"{id_col} string, scrub_ok boolean, had_gps boolean, "
            "gps_after boolean, make string, model string, "
            "orientation int, len_preserved boolean"
        ),
    )


def parse_gps(jpeg: bytes) -> dict | None:
    """Walk the GPS sub-IFD (pointer tag 0x8825) with the same general
    entry reader as IFD0. Returns {gps_tag: value} or None when no
    Exif / no GPS pointer. Test + audit surface — the scale path never
    needs decoded coordinates, only their removal. Malformed structures
    raise ValueError, as in parse_exif."""
    try:
        return _parse_gps_inner(jpeg)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed GPS IFD: {exc}") from exc


def _parse_gps_inner(jpeg: bytes) -> dict | None:
    loc = _find_exif_app1(jpeg)
    if loc is None:
        return None
    t0, tlen = loc
    tiff = jpeg[t0 : t0 + tlen]
    order = tiff[:2]
    e = {b"II": "<", b"MM": ">"}.get(order)
    if e is None:
        raise ValueError("bad TIFF byte order")
    _, ifd_off = struct.unpack(e + "HI", tiff[2:8])
    count = struct.unpack(e + "H", tiff[ifd_off : ifd_off + 2])[0]
    gps_off = None
    for k in range(count):
        off = ifd_off + 2 + 12 * k
        tag = struct.unpack(e + "H", tiff[off : off + 2])[0]
        if tag == TAG_GPS_IFD:
            gps_off = struct.unpack(e + "I", tiff[off + 8 : off + 12])[0]
    if gps_off is None:
        return None
    n = struct.unpack(e + "H", tiff[gps_off : gps_off + 2])[0]
    out: dict[int, object] = {}
    for k in range(n):
        off = gps_off + 2 + 12 * k
        tag, typ, cnt = struct.unpack(e + "HHI", tiff[off : off + 8])
        if typ not in _TYPE_SIZE:
            continue
        nbytes = _TYPE_SIZE[typ] * cnt
        if nbytes <= 4:
            raw = tiff[off + 8 : off + 8 + nbytes]
        else:
            voff = struct.unpack(e + "I", tiff[off + 8 : off + 12])[0]
            raw = tiff[voff : voff + nbytes]
        if typ == 2:
            out[tag] = raw.split(b"\0")[0].decode("ascii", "replace")
        elif typ == 5:
            vals = struct.unpack(e + f"{2 * cnt}I", raw)
            pairs = [(vals[2 * j], vals[2 * j + 1]) for j in range(cnt)]
            out[tag] = pairs[0] if cnt == 1 else pairs
    return out
