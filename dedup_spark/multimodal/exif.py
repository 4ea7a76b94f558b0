"""EXIF/TIFF metadata: standards-shaped writer + general readers.

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
value, both endians); the READERS are general and own no container
syntax: ``jpeg.marker_segments`` (the pixel decoder's own marker walk)
finds the first Exif APP1, and ``tiff.read_header`` / ``ifd_entries`` /
``entry_value`` (the TIFF codec's header parse and IFD reader) honor
the endian flag and walk entries of any order, inline vs offset values,
unknown tags skipped — so the gate proves the shared walkers against
independently recomputed bytes. This module holds only EXIF meaning:
the tag ids, the scalar-unwrapping result contract and the in-place
GPS scrub. Malformed structures raise ValueError from those walkers.

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
from dedup_spark.multimodal.jpeg import marker_segments
from dedup_spark.multimodal.tiff import (
    entry_value,
    ifd_entries,
    read_header,
    value_field,
    value_span,
)

# IFD0 tags (TIFF 6.0 / EXIF): fixed writer layout, sorted by tag id
TAG_WIDTH = 0x0100  # LONG
TAG_HEIGHT = 0x0101  # LONG
TAG_MAKE = 0x010F  # ASCII, fixed 11 bytes incl NUL ("maker-%04d")
TAG_MODEL = 0x0110  # ASCII, fixed 11 bytes incl NUL ("model-%04d")
TAG_ORIENTATION = 0x0112  # SHORT
TAG_DATETIME = 0x0132  # ASCII, fixed 20 bytes incl NUL
# EXIF GPS lives in its own IFD pointed to by IFD0 tag 0x8825
TAG_GPS_IFD = 0x8825  # GPSInfo IFD pointer (LONG)
GPS_LAT_REF, GPS_LAT = 0x0001, 0x0002
GPS_LON_REF, GPS_LON = 0x0003, 0x0004

MAKE_LEN = 11
MODEL_LEN = 11
DT_LEN = 20
# TIFF-relative layout (writer-asserted): header 8 B, IFD0 (count 2 B,
# 12 B per entry, next-IFD 4 B), then make, model and datetime. Without
# GPS, 6 entries put the values at 86; the GPS layout adds the 0x8825
# entry (values at 98), then the GPS IFD and its 6 RATIONALs.
N_ENTRIES = 6
TIFF_LEN = 8 + 2 + N_ENTRIES * 12 + 4 + MAKE_LEN + MODEL_LEN + DT_LEN  # 128
GPS_IFD_OFF = TIFF_LEN + 12  # 140
N_GPS_ENTRIES = 4
GPS_RAT_OFF = GPS_IFD_OFF + 2 + N_GPS_ENTRIES * 12 + 4  # 194: lat, lon
TIFF_LEN_G = GPS_RAT_OFF + 48  # 242
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
    lat_dms: tuple[int, int, int] | None = None,
    lon_dms: tuple[int, int, int] | None = None,
    north: bool = True,
    east: bool = True,
    big_endian: bool = False,
) -> bytes:
    """Fixed-layout EXIF APP1 segment: IFD0 carries the 6 standard
    tags. Given ``lat_dms`` and ``lon_dms`` it also carries the 0x8825
    GPSInfo pointer to a GPS IFD holding lat/lon refs (ASCII, inline)
    and lat/lon as 3 RATIONALs each (deg/1, min/1, sec/1 — type 5, the
    spec encoding). ASCII fields must be exactly their fixed width
    minus the NUL; offsets are asserted so the oracle's hex-slice
    positions are guaranteed, both endians."""
    e = ">" if big_endian else "<"
    assert len(make) == MAKE_LEN - 1 and len(model) == MODEL_LEN - 1
    assert len(datetime) == DT_LEN - 1
    gps = lat_dms is not None

    def entry(tag: int, typ: int, count: int, value: bytes) -> bytes:
        assert len(value) <= 4
        return struct.pack(e + "HHI", tag, typ, count) + value.ljust(4, b"\0")

    def ifd(entries: list[bytes]) -> bytes:
        return (
            struct.pack(e + "H", len(entries))
            + b"".join(entries)
            + struct.pack(e + "I", 0)
        )

    val0 = 8 + 2 + (N_ENTRIES + gps) * 12 + 4
    entries = [
        entry(TAG_WIDTH, 4, 1, struct.pack(e + "I", width)),
        entry(TAG_HEIGHT, 4, 1, struct.pack(e + "I", height)),
        entry(TAG_MAKE, 2, MAKE_LEN, struct.pack(e + "I", val0)),
        entry(TAG_MODEL, 2, MODEL_LEN, struct.pack(e + "I", val0 + MAKE_LEN)),
        entry(TAG_ORIENTATION, 3, 1, struct.pack(e + "H", orientation) + b"\0\0"),
        entry(
            TAG_DATETIME, 2, DT_LEN,
            struct.pack(e + "I", val0 + MAKE_LEN + MODEL_LEN),
        ),
    ]
    gps_block = b""
    if gps:
        entries.append(entry(TAG_GPS_IFD, 4, 1, struct.pack(e + "I", GPS_IFD_OFF)))
        gps_block = ifd([
            entry(GPS_LAT_REF, 2, 2, (b"N\0" if north else b"S\0")),
            entry(GPS_LAT, 5, 3, struct.pack(e + "I", GPS_RAT_OFF)),
            entry(GPS_LON_REF, 2, 2, (b"E\0" if east else b"W\0")),
            entry(GPS_LON, 5, 3, struct.pack(e + "I", GPS_RAT_OFF + 24)),
        ]) + b"".join(
            struct.pack(e + "II", v, 1) for v in (*lat_dms, *lon_dms)
        )
    hdr = (b"MM" if big_endian else b"II") + struct.pack(e + "HI", 42, 8)
    vals = (
        make.encode() + b"\0" + model.encode() + b"\0" + datetime.encode() + b"\0"
    )
    tiff = hdr + ifd(entries) + vals + gps_block
    assert len(tiff) == (TIFF_LEN_G if gps else TIFF_LEN)
    assert tiff.index(make.encode()) == val0
    assert not gps or tiff[GPS_IFD_OFF : GPS_IFD_OFF + 2] == struct.pack(
        e + "H", N_GPS_ENTRIES
    )
    payload = b"Exif\0\0" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload


def insert_app1(jpeg: bytes, app1: bytes) -> bytes:
    """Insert an APP1 segment right after SOI (the standard position)."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    return jpeg[:2] + app1 + jpeg[2:]


def _exif_tiff(jpeg: bytes) -> tuple[int, bytes, str, int] | None:
    """(file offset, bytes, byte-order prefix, IFD0 offset) of the TIFF
    block in the first Exif APP1 the marker walk reaches, or None."""
    for marker, start, end in marker_segments(jpeg):
        if marker == 0xE1 and jpeg[start : start + 6] == b"Exif\0\0":
            tiff = jpeg[start + 6 : end]
            return start + 6, tiff, *read_header(tiff)
    return None


def _tags(tiff: bytes, e: str, at: int) -> dict:
    """{tag: value} of the IFD at ``at``: unknown types skipped, and a
    one-count numeric value unwrapped to its scalar."""
    out: dict[int, object] = {}
    for tag, typ, count, off in ifd_entries(tiff, e, at):
        v = entry_value(tiff, e, typ, count, off)
        if v is not None:
            out[tag] = v[0] if count == 1 and typ != 2 else v
    return out


def _gps_pointers(tiff, e: str, ifd0: int) -> list[int]:
    """The GPS IFD offset of every 0x8825 entry in IFD0 — a malformed
    IFD0 may carry more than one."""
    return [
        value_field(tiff, e, off)
        for tag, _, _, off in ifd_entries(tiff, e, ifd0)
        if tag == TAG_GPS_IFD
    ]


def parse_exif(jpeg: bytes) -> dict | None:
    """GENERAL parser: first Exif APP1 → TIFF IFD0 (either endian,
    entries in any order, inline or offset values, unknown tags
    skipped). Returns {tag_id: value} or None if no Exif APP1 exists.
    Malformed structures raise ValueError — never struct.error or
    IndexError, which would escape callers' except clauses (the
    10^12-row survive-corruption invariant)."""
    found = _exif_tiff(jpeg)
    return None if found is None else _tags(*found[1:])


def parse_gps(jpeg: bytes) -> dict | None:
    """The GPS sub-IFD (pointer tag 0x8825; the last one wins) read
    like IFD0. Returns {gps_tag: value} or None when no Exif / no GPS
    pointer. Test + audit surface — the scale path never needs decoded
    coordinates, only their removal. Malformed structures raise
    ValueError, as in parse_exif."""
    found = _exif_tiff(jpeg)
    if found is None:
        return None
    _, tiff, e, ifd0 = found
    gps = _gps_pointers(tiff, e, ifd0)
    return _tags(tiff, e, gps[-1]) if gps else None


def _zero(buf: bytearray, at: int, n: int) -> None:
    """Zero ``buf[at:at + n]``, clipped to ``buf``."""
    buf[at : at + n] = bytes(min(n, max(0, len(buf) - at)))


def scrub_gps(jpeg: bytes) -> tuple[bytes, bool]:
    """Length-preserving in-place GPS removal: drop the 0x8825 entry
    from IFD0 (remaining entries shift up 12 bytes; the freed 12 bytes
    are zero-padded so every absolute value offset stays valid) and
    zero the GPS IFD block plus every external value region its
    entries reference — without moving any byte that other entries'
    value offsets depend on (TIFF offsets are absolute within the TIFF
    block). Returns (cleaned_bytes, had_gps); JPEGs without Exif or
    without GPS come back unchanged. Malformed structures raise
    ValueError (caller maps to scrub_ok=false)."""
    found = _exif_tiff(jpeg)
    if found is None:
        return jpeg, False
    t0, tiff, e, ifd0 = found
    tiff = bytearray(tiff)
    # a malformed IFD0 may carry the pointer MORE than once: strip every
    # occurrence, zero every target
    gps_offs = _gps_pointers(tiff, e, ifd0)
    if not gps_offs:
        return jpeg, False
    kept = [
        tiff[off : off + 12]
        for tag, _, _, off in ifd_entries(tiff, e, ifd0)
        if tag != TAG_GPS_IFD
    ]
    count = len(kept) + len(gps_offs)
    block_len = 2 + count * 12 + 4
    new_block = (
        struct.pack(e + "H", len(kept))
        + b"".join(kept)
        + tiff[ifd0 + block_len - 4 : ifd0 + block_len]  # next-IFD offset
        + bytes(12 * len(gps_offs))
    )
    if len(new_block) != block_len:
        raise ValueError("IFD0 rebuild length drifted")
    tiff[ifd0 : ifd0 + block_len] = new_block
    for gps_off in gps_offs:
        if gps_off >= len(tiff):
            continue  # pointer past the TIFF block: nothing to zero
        end = gps_off + 2  # past the entry count, then past each entry
        for _, typ, cnt, off in ifd_entries(tiff, e, gps_off):
            at, nbytes = value_span(tiff, e, typ, cnt, off)
            if nbytes > 4:
                _zero(tiff, at, nbytes)
            end = off + 12
        _zero(tiff, gps_off, end + 4 - gps_off)
    out = jpeg[:t0] + bytes(tiff) + jpeg[t0 + len(tiff) :]
    assert len(out) == len(jpeg)
    return out, True


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
