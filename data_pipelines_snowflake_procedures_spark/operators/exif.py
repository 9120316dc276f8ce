"""EXIF metadata extraction — the typed-metadata half of image-corpus
curation (dedup by camera model, orientation normalization before
training, capture-time filtering), parsed straight off the public
wire formats: JPEG APP1 segments (ITU T.81 marker walk) carrying a
TIFF 6.0 byte stream (header, IFD entry tables, inline-or-offset
values) with the Exif 2.x tag vocabulary. stdlib ``struct`` only —
same no-imaging-library contract as operators/jpeg.py (reference has
no multimodal surface; north-star extension).

Parsing is defensive by design: corrupt offsets, truncated IFDs, or
absent APP1 yield ``{}``/None fields rather than raising — a corpus
scanner must classify bad metadata, not die on it. A minimal APP1
WRITER (:func:`build_exif_app1`) exists so tests and harness fixtures
can round-trip without any camera file: writer and parser are
independent codepaths over the spec, so a round-trip really checks
the byte layout.
"""

from __future__ import annotations

import struct
from typing import Any

#: IFD0 + Exif-sub-IFD tags worth a named field in a curation pipeline
_TAGS = {
    0x010F: "make",
    0x0110: "model",
    0x0112: "orientation",
    0x0132: "datetime",
    0x8769: "_exif_ifd",
    0x829A: "exposure_time",
    0x829D: "f_number",
    0x8827: "iso",
    0x9003: "datetime_original",
    0x920A: "focal_length",
    0xA002: "pixel_x",
    0xA003: "pixel_y",
}

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}


def _read_value(data: bytes, endian: str, ttype: int, count: int, raw: bytes):
    """Decode one IFD entry's value field (already resolved to its
    bytes). Returns a python scalar/tuple; rationals become floats."""
    try:
        if ttype == 2:  # ASCII, NUL-terminated
            return raw.split(b"\x00", 1)[0].decode("ascii", "replace")
        if ttype in (1, 7):
            vals = list(raw[:count])
        elif ttype == 3:
            vals = list(struct.unpack(f"{endian}{count}H", raw[: 2 * count]))
        elif ttype == 4:
            vals = list(struct.unpack(f"{endian}{count}I", raw[: 4 * count]))
        elif ttype == 9:
            vals = list(struct.unpack(f"{endian}{count}i", raw[: 4 * count]))
        elif ttype in (5, 10):
            fmt = "I" if ttype == 5 else "i"
            parts = struct.unpack(f"{endian}{2 * count}{fmt}", raw[: 8 * count])
            vals = [
                (parts[2 * i] / parts[2 * i + 1]) if parts[2 * i + 1] else None
                for i in range(count)
            ]
        else:
            return None
    except struct.error:
        return None
    return vals[0] if count == 1 else tuple(vals)


def _parse_ifd(tiff: bytes, endian: str, offset: int) -> dict[int, Any]:
    """One IFD at ``offset`` within the TIFF stream → {tag: value}.
    Out-of-range offsets/truncation yield what was parseable."""
    out: dict[int, Any] = {}
    if offset + 2 > len(tiff):
        return out
    (n,) = struct.unpack_from(f"{endian}H", tiff, offset)
    pos = offset + 2
    for _ in range(n):
        if pos + 12 > len(tiff):
            break
        tag, ttype, count = struct.unpack_from(f"{endian}HHI", tiff, pos)
        size = _TYPE_SIZES.get(ttype, 0) * count
        if size == 0:
            pos += 12
            continue
        if size <= 4:
            raw = tiff[pos + 8 : pos + 8 + size]
        else:
            (voff,) = struct.unpack_from(f"{endian}I", tiff, pos + 8)
            raw = tiff[voff : voff + size]
        if len(raw) >= min(size, 1):
            out[tag] = _read_value(tiff, endian, ttype, count, raw)
        pos += 12
    return out


def parse_tiff_exif(tiff: bytes) -> dict[str, Any]:
    """Named EXIF fields from a TIFF byte stream (the content of a
    JPEG APP1 after the ``Exif\\0\\0`` prefix, or a .tif file head)."""
    if len(tiff) < 8 or tiff[:2] not in (b"II", b"MM"):
        return {}
    endian = "<" if tiff[:2] == b"II" else ">"
    (magic,) = struct.unpack_from(f"{endian}H", tiff, 2)
    if magic != 42:
        return {}
    (ifd0_off,) = struct.unpack_from(f"{endian}I", tiff, 4)
    tags = _parse_ifd(tiff, endian, ifd0_off)
    sub = tags.pop(0x8769, None)
    if isinstance(sub, int):
        tags.update(_parse_ifd(tiff, endian, sub))
    return {
        name: tags[tag]
        for tag, name in _TAGS.items()
        if tag in tags and name != "_exif_ifd"
    }


def extract_exif(jpeg_payload: bytes) -> dict[str, Any]:
    """EXIF fields from a JPEG payload: walk the marker stream (same
    T.81 walk as operators/jpeg.py::decode_jpeg) to the first APP1
    whose body starts ``Exif\\0\\0``; absent/corrupt → ``{}``."""
    if jpeg_payload[:2] != b"\xff\xd8":
        return {}
    pos = 2
    while pos + 4 <= len(jpeg_payload):
        if jpeg_payload[pos] != 0xFF:
            return {}
        marker = jpeg_payload[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker in (0xD9, 0xDA):  # EOI / SOS: metadata lives before scan
            return {}
        (seglen,) = struct.unpack_from(">H", jpeg_payload, pos)
        seg = jpeg_payload[pos + 2 : pos + seglen]
        if marker == 0xE1 and seg[:6] == b"Exif\x00\x00":
            return parse_tiff_exif(seg[6:])
        pos += seglen
    return {}


def build_exif_app1(
    fields: dict[str, Any], endian: str = "<"
) -> bytes:
    """Minimal APP1 writer for fixtures: IFD0 with Make/Model/
    Orientation/DateTime + an Exif sub-IFD with ISO and pixel
    dimensions. Independent of the parser (fresh serialization of the
    TIFF layout), so round-trip tests exercise the spec, not shared
    code. Strings ASCII; unknown keys ignored."""
    name_to_tag = {v: k for k, v in _TAGS.items()}
    ifd0_names = [
        n for n in ("make", "model", "orientation", "datetime") if n in fields
    ]
    sub_names = [
        n for n in ("iso", "pixel_x", "pixel_y") if n in fields
    ]

    def entry(tag: int, ttype: int, count: int, value_bytes: bytes) -> bytes:
        v = value_bytes.ljust(4, b"\x00")[:4]
        return struct.pack(f"{endian}HHI", tag, ttype, count) + v

    # layout: header(8) | IFD0 | sub-IFD | string heap
    n0 = len(ifd0_names) + (1 if sub_names else 0)
    ifd0_off = 8
    sub_off = ifd0_off + 2 + 12 * n0 + 4
    heap_off = sub_off + (2 + 12 * len(sub_names) + 4 if sub_names else 0)
    heap = b""
    entries0 = b""
    for n in ifd0_names:
        tag, v = name_to_tag[n], fields[n]
        if isinstance(v, str):
            raw = v.encode("ascii") + b"\x00"
            if len(raw) <= 4:
                entries0 += entry(tag, 2, len(raw), raw)
            else:
                entries0 += entry(
                    tag, 2, len(raw), struct.pack(f"{endian}I", heap_off + len(heap))
                )
                heap += raw
        else:
            entries0 += entry(tag, 3, 1, struct.pack(f"{endian}H", int(v)))
    if sub_names:
        entries0 += entry(0x8769, 4, 1, struct.pack(f"{endian}I", sub_off))
    ifd0 = struct.pack(f"{endian}H", n0) + entries0 + b"\x00\x00\x00\x00"
    sub = b""
    if sub_names:
        se = b""
        for n in sub_names:
            se += entry(
                name_to_tag[n], 3, 1, struct.pack(f"{endian}H", int(fields[n]))
            )
        sub = struct.pack(f"{endian}H", len(sub_names)) + se + b"\x00" * 4
    tiff = (
        (b"II" if endian == "<" else b"MM")
        + struct.pack(f"{endian}H", 42)
        + struct.pack(f"{endian}I", ifd0_off)
        + ifd0
        + sub
        + heap
    )
    body = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def insert_app1(jpeg_payload: bytes, app1: bytes) -> bytes:
    """Splice an APP1 segment right after SOI — how EXIF rides in a
    real file (before any other segment)."""
    if jpeg_payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    return jpeg_payload[:2] + app1 + jpeg_payload[2:]
