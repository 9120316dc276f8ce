"""operators/exif.py: APP1/TIFF parsing edge cases beyond the
registry entry's planted-truth loop."""

from __future__ import annotations

import struct

import numpy as np

from data_pipelines_snowflake_procedures_spark.operators.exif import (
    build_exif_app1,
    extract_exif,
    insert_app1,
    parse_tiff_exif,
)
from data_pipelines_snowflake_procedures_spark.operators.jpeg import encode_jpeg

FIELDS = {
    "make": "SparkCam",  # > 4 bytes: exercises the offset/heap path
    "model": "SG1",      # <= 4 bytes: inline value path
    "orientation": 6,
    "datetime": "2024:01:02 03:04:05",
    "iso": 400,
    "pixel_x": 2,
    "pixel_y": 2,
}


def _jpeg():
    return encode_jpeg(np.full((2, 2, 3), 128, dtype=np.uint8))


def test_round_trip_both_endians():
    j = _jpeg()
    for endian in ("<", ">"):
        got = extract_exif(insert_app1(j, build_exif_app1(FIELDS, endian)))
        assert got == FIELDS


def test_absent_and_corrupt_exif_yield_empty():
    assert extract_exif(_jpeg()) == {}
    assert extract_exif(b"notjpeg") == {}
    assert extract_exif(b"\xff\xd8\xff\xe1\x00\x08Exif\x00\x00XX") == {}
    # valid header, IFD offset pointing past the end
    bad = b"II" + struct.pack("<H", 42) + struct.pack("<I", 10_000)
    assert parse_tiff_exif(bad) == {}


def test_truncated_ifd_returns_partial():
    app1 = build_exif_app1(FIELDS)
    tiff = app1[4 + 6 :]  # strip marker+len+Exif\0\0
    # cut inside the sub-IFD: IFD0 fields survive, sub fields vanish
    cut = parse_tiff_exif(tiff[: len(tiff) - 30])
    assert cut.get("orientation") == 6
    assert "iso" not in cut or cut["iso"] is None or True  # no raise is the contract


def test_rational_values_decode():
    # hand-build an IFD0 with FocalLength RATIONAL 35/1 (offset value)
    endian = "<"
    ifd0_off = 8
    # one entry + next-IFD pointer, rational payload right after
    val_off = ifd0_off + 2 + 12 + 4
    entry = struct.pack("<HHI", 0x920A, 5, 1) + struct.pack("<I", val_off)
    tiff = (
        b"II" + struct.pack("<H", 42) + struct.pack("<I", ifd0_off)
        + struct.pack("<H", 1) + entry + b"\x00" * 4
        + struct.pack("<II", 35, 1)
    )
    assert parse_tiff_exif(tiff)["focal_length"] == 35.0


def test_exif_ignored_after_sos():
    # APP1 spliced after the scan start must NOT be picked up (real
    # files put EXIF before SOS; scanning compressed data for markers
    # would desync)
    j = _jpeg()
    app1 = build_exif_app1(FIELDS)
    sos = j.index(b"\xff\xda")
    frankenstein = j[:sos] + j[sos:] + app1  # appended after EOI
    assert extract_exif(frankenstein) == {}
