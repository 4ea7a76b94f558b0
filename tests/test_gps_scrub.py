"""EXIF GPS privacy-scrub tests — multimodal/exif.py scrub_gps."""

from __future__ import annotations

import random
import struct

from dedup_spark.fixtures.images import _smooth_image, generate_gps_corpus
from dedup_spark.multimodal.exif import (
    TAG_GPS_IFD,
    build_exif_app1,
    gps_scrub_report,
    insert_app1,
    parse_exif,
    parse_gps,
    scrub_gps,
)
from dedup_spark.multimodal.jpeg import encode_jpeg


def _jpeg_with_gps(big: bool, lat=(48, 51, 24), lon=(2, 21, 3)) -> bytes:
    px = _smooth_image(b"gpstest", 16, 16)
    return insert_app1(
        encode_jpeg(px, quality=99),
        build_exif_app1(
            "maker-0001", "model-0001", 3, 16, 16,
            "2024:01:01 10:00:00", lat, lon, big_endian=big,
        ),
    )


def test_scrub_removes_coordinates_from_bytes_both_endians():
    for big in (False, True):
        jp = _jpeg_with_gps(big)
        assert parse_gps(jp)[0x0002] == [(48, 1), (51, 1), (24, 1)]
        cleaned, had = scrub_gps(jp)
        assert had and len(cleaned) == len(jp)
        assert parse_gps(cleaned) is None
        # the coordinate bytes are ZEROED, not merely unreachable
        e = ">II" if big else "<II"
        assert struct.pack(e, 48, 1) in jp
        assert struct.pack(e, 48, 1) not in cleaned
        # every non-GPS field still parses from the cleaned bytes
        tags = parse_exif(cleaned)
        assert tags[0x010F] == "maker-0001"
        assert tags[0x0110] == "model-0001"
        assert tags[0x0112] == 3
        assert tags[0x0132] == "2024:01:01 10:00:00"
        assert TAG_GPS_IFD not in tags


def test_scrub_idempotent_and_no_gps_passthrough():
    jp = _jpeg_with_gps(False)
    cleaned, _ = scrub_gps(jp)
    again, had = scrub_gps(cleaned)
    assert not had and again == cleaned
    # a plain JPEG with no exif passes through untouched
    plain = encode_jpeg(_smooth_image(b"plain", 16, 16), quality=99)
    out, had = scrub_gps(plain)
    assert not had and out == plain


def test_report_survives_malformed_rows(spark):
    rows = [
        ("ok", _jpeg_with_gps(True)),
        ("ppm", b"P6\n2 2\n255\n" + b"\x00" * 12),
        ("trunc", _jpeg_with_gps(False)[:20]),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r["image_id"]: r for r in gps_scrub_report(df).collect()}
    assert got["ok"]["scrub_ok"] and got["ok"]["had_gps"]
    assert got["ok"]["gps_after"] is False and got["ok"]["len_preserved"]
    assert got["ppm"]["scrub_ok"] is False
    assert got["trunc"]["scrub_ok"] is False


def test_corpus_report_classes(spark):
    pdf = generate_gps_corpus()
    df = spark.createDataFrame(
        pdf, "image_id string, bytes binary, fmt string, endian string, "
        "has_gps boolean"
    )
    got = {
        r["image_id"]: r
        for r in gps_scrub_report(df.drop("fmt", "endian", "has_gps")).collect()
    }
    for _, row in pdf.iterrows():
        r = got[row["image_id"]]
        assert r["scrub_ok"] and r["had_gps"] == row["has_gps"]
        assert r["gps_after"] is False and r["len_preserved"]
        if row["endian"] == "none":
            assert r["make"] is None
        else:
            assert r["make"] == f"maker-{int(row['image_id'][1:]):04d}"


def test_duplicate_gps_pointer_entries_survive(spark):
    # a malformed IFD0 carrying the 0x8825 pointer TWICE must not kill
    # the task: both occurrences stripped, both targets zeroed, length
    # preserved — and if anything drifts, the error is a ValueError
    # the report maps to scrub_ok=false (never an AssertionError)
    import struct as st

    jp = _jpeg_with_gps(False)
    t0 = 12  # TIFF abs start (APP1 right after SOI)
    # rewrite the DATETIME entry (idx 5) into a second GPS pointer
    off = t0 + 8 + 2 + 12 * 5
    gps_off_val = st.unpack("<I", jp[t0 + 8 + 2 + 12 * 6 + 8 :][:4])[0]
    ent = st.pack("<HHI", 0x8825, 4, 1) + st.pack("<I", gps_off_val)
    mutated = jp[:off] + ent + jp[off + 12 :]
    cleaned, had = scrub_gps(mutated)
    assert had and len(cleaned) == len(mutated)
    assert parse_gps(cleaned) is None
    tags = parse_exif(cleaned)
    assert tags[0x010F] == "maker-0001"
    assert 0x8825 not in tags


def _mutate_exif(data: bytes, rng: random.Random) -> bytes:
    """1-4 bit flips, byte inserts or a truncation inside the Exif
    TIFF block (past SOI, the APP1 header and "Exif\\0\\0")."""
    end = 4 + struct.unpack(">H", data[4:6])[0]
    b = bytearray(data)
    for _ in range(rng.randint(1, 4)):
        at = rng.randrange(12, end)
        op = rng.choice(("flip", "truncate", "insert"))
        if op == "flip":
            b[at] ^= 1 << rng.randrange(8)
        elif op == "truncate":
            del b[at:]
            break
        else:
            b[at:at] = bytes([rng.randrange(256)])
    return bytes(b)


def test_parse_gps_on_mutants_raises_only_value_error():
    rng = random.Random(1)
    originals = [_jpeg_with_gps(False), _jpeg_with_gps(True)]
    for i in range(400):
        mutant = _mutate_exif(originals[i % 2], rng)
        try:
            got = parse_gps(mutant)
        except ValueError:
            continue
        assert got is None or isinstance(got, dict), i
