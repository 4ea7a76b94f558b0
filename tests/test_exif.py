"""EXIF writer/parser (multimodal/exif.py): round-trip, endian and
entry-order generality, graceful no-exif handling, and decoder
compatibility of APP1-bearing JPEGs."""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest

from dedup_spark.fixtures.images import generate_exif_corpus, generate_gps_corpus
from dedup_spark.multimodal.exif import (
    TAG_DATETIME,
    TAG_HEIGHT,
    TAG_MAKE,
    TAG_MODEL,
    TAG_ORIENTATION,
    TAG_WIDTH,
    build_exif_app1,
    insert_app1,
    parse_exif,
    parse_gps,
    scrub_gps,
)
from dedup_spark.multimodal.jpeg import decode_jpeg, encode_jpeg, estimate_quality

# sha256 over the fixture corpora's bytes, recorded while the GPS and
# non-GPS APP1 layouts still had a builder each: the oracles slice hex
# at fixed offsets, so the merged builder must write the same bytes
_EXIF_CORPUS_SHA256 = (
    "486279f98bb4cae5a5ee21c7c5795207cd8830c5b84be698704dff35da4a22d0"
)
_GPS_CORPUS_SHA256 = (
    "2d46f402914f538997b682fb48072e32ba2a6b3596643a803077341bb52eb4e7"
)


def _jpeg():
    rng = np.random.default_rng(5)
    return encode_jpeg(
        rng.integers(0, 256, (16, 16, 3), dtype=np.uint8), quality=99
    )


@pytest.mark.parametrize("big", [False, True])
def test_roundtrip_both_endians(big):
    app1 = build_exif_app1(
        "maker-0007", "model-0007", 6, 640, 480,
        "2024:01:07 07:00:00", big_endian=big,
    )
    tags = parse_exif(insert_app1(_jpeg(), app1))
    assert tags[TAG_MAKE] == "maker-0007"
    assert tags[TAG_MODEL] == "model-0007"
    assert tags[TAG_ORIENTATION] == 6
    assert tags[TAG_WIDTH] == 640 and tags[TAG_HEIGHT] == 480
    assert tags[TAG_DATETIME] == "2024:01:07 07:00:00"


def test_parser_handles_any_entry_order_and_unknown_tags():
    """The parser is a GENERAL IFD walker, not a layout reader: shuffle
    the writer's entries and splice in an unknown tag + unknown type —
    known fields must still parse."""
    app1 = build_exif_app1(
        "maker-0001", "model-0001", 3, 16, 16, "2024:01:01 01:00:00"
    )
    tiff = bytearray(app1[10:])
    count = struct.unpack("<H", tiff[8:10])[0]
    entries = [bytes(tiff[10 + 12 * k : 22 + 12 * k]) for k in range(count)]
    extra = [
        struct.pack("<HHI", 0x9999, 3, 1) + struct.pack("<H", 7) + b"\0\0",
        struct.pack("<HHI", 0x8888, 13, 1) + b"\0\0\0\0",  # unknown TYPE
    ]
    shuffled = list(reversed(entries)) + extra
    new_ifd = (
        struct.pack("<H", len(shuffled)) + b"".join(shuffled)
        + struct.pack("<I", 0)
    )
    # value area moves: old IFD was count entries; new adds 2 -> value
    # offsets in ASCII entries must shift by 24
    grow = 12 * 2
    fixed = bytearray()
    for ent in shuffled:
        tag, typ, cnt = struct.unpack("<HHI", ent[:8])
        if typ == 2:  # ASCII offsets point into the value area
            off = struct.unpack("<I", ent[8:12])[0] + grow
            ent = ent[:8] + struct.pack("<I", off)
        fixed.extend(ent)
    new_ifd = (
        struct.pack("<H", len(shuffled)) + bytes(fixed) + struct.pack("<I", 0)
    )
    new_tiff = bytes(tiff[:8]) + new_ifd + bytes(tiff[10 + 12 * count + 4 :])
    payload = b"Exif\0\0" + new_tiff
    new_app1 = b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload
    tags = parse_exif(insert_app1(_jpeg(), new_app1))
    assert tags[TAG_MAKE] == "maker-0001"
    assert tags[TAG_ORIENTATION] == 3
    assert tags[0x9999] == 7  # unknown TAG still surfaces
    assert 0x8888 not in tags  # unknown TYPE skipped


def test_no_exif_and_non_jpeg():
    assert parse_exif(_jpeg()) is None
    with pytest.raises(ValueError):
        parse_exif(b"P6\n1 1\n255\n\0\0\0")


def test_app1_does_not_break_pixel_decode():
    """Inserting APP1 must leave the image decodable by the from-
    scratch JPEG decoder (it skips APPn) with identical pixels."""
    jp = _jpeg()
    app1 = build_exif_app1(
        "maker-0002", "model-0002", 1, 16, 16, "2024:01:02 02:00:00"
    )
    assert np.array_equal(decode_jpeg(insert_app1(jp, app1)), decode_jpeg(jp))


def test_corpus_shape():
    pdf = generate_exif_corpus(n=12)
    assert len(pdf) == 12
    kinds = pdf["endian"].value_counts().to_dict()
    assert kinds.get("none", 0) >= 2  # exif-less jpeg + ppm row
    assert kinds.get("II", 0) > 0 and kinds.get("MM", 0) > 0


def test_orientation_inverse_law_all_eight():
    """normalize(inverse_normalize(x, o), o) == x for every o, on a
    non-square array (transposes must swap dims, not just flip)."""
    from dedup_spark.multimodal.exif import (
        ORIENTATION_INVERSE,
        normalize_orientation,
    )

    rng = np.random.default_rng(9)
    x = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    for o in range(1, 9):
        stored = normalize_orientation(x, ORIENTATION_INVERSE[o])
        back = normalize_orientation(stored, o)
        assert np.array_equal(back, x), f"orientation {o}"
        if o in (5, 6, 7, 8):
            assert stored.shape[:2] == (24, 16)  # dims swap
        # and the 8 stored variants are pairwise distinct buffers
    stored_all = {
        normalize_orientation(x, ORIENTATION_INVERSE[o]).tobytes()
        for o in range(1, 9)
    }
    assert len(stored_all) == 8


def test_orientation_dedup_clusters_by_source(spark):
    from dedup_spark.fixtures.images import generate_orientation_corpus
    from dedup_spark.multimodal.exif import orientation_normalized_clusters

    pdf = generate_orientation_corpus(n_src=4)
    df = spark.createDataFrame(
        pdf[["image_id", "bytes", "w", "h", "fmt", "orientation"]],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "orientation int",
    )
    rows = orientation_normalized_clusters(df).collect()
    assert len(rows) == 32 and all(r.ok for r in rows)
    clusters = {}
    for r in rows:
        clusters.setdefault(r.cluster_id, []).append(r.image_id)
    assert len(clusters) == 4  # 8 orientations collapse per source
    for cid, members in clusters.items():
        assert len(members) == 8
        assert len({m.split("#")[0] for m in members}) == 1
    # the blind-spot proof: WITHOUT normalization (orientation forced
    # to 1) nothing collapses
    df1 = df.withColumn("orientation", df.orientation * 0 + 1)
    from pyspark.sql import functions as F

    raw = orientation_normalized_clusters(df1).collect()
    assert len({r.cluster_id for r in raw}) == 32


def test_truncated_exif_raises_valueerror_not_struct_error():
    """Corrupt EXIF must surface as ValueError (the exception the
    Arrow-stage handlers catch) — a struct.error would kill the task
    and violate the survive-corruption invariant."""
    bad = insert_app1(
        _jpeg(),
        b"\xff\xe1" + struct.pack(">H", 10) + b"Exif\0\0" + b"II",
    )
    with pytest.raises(ValueError):
        parse_exif(bad)


def test_quality_estimation_inverts_every_level():
    """For every q in 1..100 the estimate regenerates the SAME table
    (equal to q except where floor(5000/q) collides, where the max of
    the collision class is the pinned tie rule)."""
    from dedup_spark.multimodal.jpeg import (
        _QT_LUMA,
        ZIGZAG,
        _scaled_qt,
        encode_jpeg,
        estimate_quality,
    )

    rng = np.random.default_rng(2)
    px = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    base = _QT_LUMA.reshape(64)[ZIGZAG]
    for q in range(1, 101):
        est = estimate_quality(encode_jpeg(px, quality=q))
        assert est is not None and est >= q
        assert np.array_equal(_scaled_qt(base, est), _scaled_qt(base, q))


def test_quality_estimation_fixture_ground_truth(spark):
    from dedup_spark.fixtures.images import generate_quality_corpus
    from dedup_spark.multimodal.decode import jpeg_quality_estimates

    pdf = generate_quality_corpus(n=12)
    df = spark.createDataFrame(
        pdf[["image_id", "bytes"]], "image_id string, bytes binary"
    )
    got = {r.image_id: r for r in jpeg_quality_estimates(df).collect()}
    for row in pdf.itertuples(index=False):
        if row.fmt == "ppm":
            assert got[row.image_id].has_dqt is False
            assert got[row.image_id].est_quality is None
        else:
            assert got[row.image_id].est_quality == row.quality


def test_quality_estimation_foreign_table_returns_none():
    """A JPEG whose DQT doesn't come from the standard base table
    (e.g. flat-64 steps) matches no candidate quality."""
    from dedup_spark.multimodal.jpeg import encode_jpeg, estimate_quality

    rng = np.random.default_rng(3)
    jp = bytearray(encode_jpeg(
        rng.integers(0, 256, (8, 8, 3), dtype=np.uint8), quality=90
    ))
    jp[25:89] = bytes([64]) * 64  # overwrite luma table with flat 64s
    assert estimate_quality(bytes(jp)) is None


def test_fill_bytes_before_markers_are_skipped():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
    marker; the one marker walk skips them for the pixel decoder, the
    DQT reader and the EXIF readers alike."""
    from dedup_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg,
        estimate_quality,
    )

    rng = np.random.default_rng(4)
    jp = encode_jpeg(rng.integers(0, 256, (8, 8, 3), dtype=np.uint8), 90)
    # insert two fill bytes before the DQT marker (after SOI+APP0 = 20)
    padded = jp[:20] + b"\xff\xff" + jp[20:]
    assert estimate_quality(padded) == 90
    assert np.array_equal(decode_jpeg(padded), decode_jpeg(jp))
    # and before an APP1 for the exif walker
    app1 = build_exif_app1(
        "maker-0003", "model-0003", 2, 8, 8, "2024:01:03 03:00:00"
    )
    padded_exif = jp[:2] + b"\xff\xff" + app1 + jp[2:]
    assert parse_exif(padded_exif)[TAG_ORIENTATION] == 2


def test_tem_marker_before_app1_and_dqt_is_skipped_by_every_reader():
    """TEM (FF 01) carries no length field (T.81 B.1.1.3). A JPEG with
    one before its EXIF+GPS APP1 and its DQT decodes, and every
    metadata reader finds its segment behind it: the scrub must remove
    the GPS IFD, not report the image as GPS-free."""
    rng = np.random.default_rng(6)
    jp = encode_jpeg(rng.integers(0, 256, (16, 16, 3), dtype=np.uint8), 90)
    app1 = build_exif_app1(
        "maker-0004", "model-0004", 6, 16, 16, "2024:01:04 04:00:00",
        (48, 51, 24), (2, 21, 3),
    )
    tem = jp[:2] + b"\xff\x01" + app1 + jp[2:]
    assert np.array_equal(decode_jpeg(tem), decode_jpeg(jp))
    assert parse_exif(tem)[TAG_ORIENTATION] == 6
    assert parse_gps(tem)[0x0002] == [(48, 1), (51, 1), (24, 1)]
    assert estimate_quality(tem) == 90
    cleaned, had = scrub_gps(tem)
    assert had and len(cleaned) == len(tem)
    assert parse_gps(cleaned) is None
    assert parse_exif(cleaned)[TAG_MAKE] == "maker-0004"


def test_gps_in_a_second_exif_app1_is_scrubbed():
    """A GPS IFD behind a GPS-free first Exif APP1 is still location
    data: the scrub must find and remove it, and parse_gps must see it."""
    plain = build_exif_app1(
        "maker-0001", "model-0001", 1, 16, 16, "2024:01:01 01:00:00"
    )
    gps = build_exif_app1(
        "maker-0002", "model-0002", 1, 16, 16, "2024:01:02 02:00:00",
        (48, 51, 24), (2, 21, 3), big_endian=True,
    )
    data = insert_app1(insert_app1(_jpeg(), gps), plain)
    lat = b"".join(struct.pack(">II", v, 1) for v in (48, 51, 24))
    cleaned, had = scrub_gps(data)
    assert had and len(cleaned) == len(data)
    assert parse_gps(cleaned) is None
    assert (parse_gps(data) or {}).get(0x0002) == [(48, 1), (51, 1), (24, 1)]
    assert lat in data and lat not in cleaned
    # the first APP1 keeps its fields; the second keeps its make
    assert parse_exif(cleaned)[TAG_MAKE] == "maker-0001"
    assert b"maker-0002" in cleaned
    assert scrub_gps(cleaned) == (cleaned, False)


@pytest.mark.parametrize(
    "generate, digest",
    [
        (generate_exif_corpus, _EXIF_CORPUS_SHA256),
        (generate_gps_corpus, _GPS_CORPUS_SHA256),
    ],
)
def test_fixture_corpus_bytes_are_pinned(generate, digest):
    h = hashlib.sha256()
    for data in generate()["bytes"]:
        h.update(bytes(data))
    assert h.hexdigest() == digest


def test_quality_estimates_contract_foreign_and_null(spark):
    """Foreign quant table -> (has_dqt=true, est null); NULL bytes ->
    (false, null) and the job survives."""
    import pandas as pd

    from dedup_spark.multimodal.decode import jpeg_quality_estimates
    from dedup_spark.multimodal.jpeg import encode_jpeg

    rng = np.random.default_rng(5)
    jp = bytearray(
        encode_jpeg(rng.integers(0, 256, (8, 8, 3), dtype=np.uint8), 90)
    )
    jp[25:89] = bytes([64]) * 64  # foreign flat table
    df = spark.createDataFrame(
        pd.DataFrame(
            {"image_id": ["foreign", "nullrow"], "bytes": [bytes(jp), None]}
        ),
        "image_id string, bytes binary",
    )
    got = {r.image_id: r for r in jpeg_quality_estimates(df).collect()}
    assert got["foreign"].has_dqt is True
    assert got["foreign"].est_quality is None
    assert got["nullrow"].has_dqt is False
    assert got["nullrow"].est_quality is None
