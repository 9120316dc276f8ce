"""Avro Object Container File source — beyond-reference format
extension (S14), stdlib-only like the BIFF/office readers.

The reference's discovery procedure reads csv/xlsx/json/xml/parquet
(Data_Discovery_File.sql:317-433); Avro is the remaining row-oriented
interchange format a real ingestion layer meets (Kafka dumps, Sqoop
exports). The container has no pip-installable decoder here, so this
module implements the PUBLIC spec (Apache Avro 1.11, "Object Container
Files" + "Binary Encoding") directly: magic ``Obj\\x01``, the file
metadata map (``avro.schema`` JSON + ``avro.codec``), zigzag-varint
primitives, and sync-marker-delimited data blocks with the ``null``
and ``deflate`` (raw zlib, no header) codecs.

Scale contract (the Arrow-IPC pattern): blocks are the parallel unit.
The driver walks ONLY the block headers — two varints + a seek past
each payload, KBs of IO total — to build an (offset, size) index, then
fans block indices out through ``mapInPandas``; each task seeks
straight to its blocks and decodes only those. This is exactly how
Hadoop splits Avro files (sync markers exist for that purpose), done
with an explicit driver-side index instead of marker probing. Like
every single-file reader here it assumes the path is reachable from
executors; a directory of .avro files distributes by file.

Schema scope (declared, not silent): records of primitives (null,
boolean, int, long, float, double, string, bytes) and 2-branch
``["null", T]`` unions -> nullable columns. Nested records/arrays/maps
raise loudly — flatten upstream or extend the decoder.
"""

from __future__ import annotations

import io
import json
import os
import struct
import zlib
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession

_MAGIC = b"Obj\x01"

_PRIMITIVE_TO_SPARK = {
    "boolean": "BOOLEAN",
    "int": "INT",
    "long": "BIGINT",
    "float": "FLOAT",
    "double": "DOUBLE",
    "string": "STRING",
    "bytes": "BINARY",
}


# ---------------------------------------------------------------------------
# binary primitives (Avro spec "Binary Encoding")
# ---------------------------------------------------------------------------


def _read_long(buf: io.BytesIO) -> int:
    """Zigzag varint (the int/long wire format)."""
    shift = 0
    acc = 0
    while True:
        b = buf.read(1)
        if not b:
            raise ValueError("Avro varint truncated")
        byte = b[0]
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _read_bytes(buf: io.BytesIO) -> bytes:
    n = _read_long(buf)
    data = buf.read(n)
    if len(data) != n:
        raise ValueError("Avro bytes/string truncated")
    return data


# ---------------------------------------------------------------------------
# schema handling
# ---------------------------------------------------------------------------


def _normalize_field_type(t: Any) -> tuple[str, bool]:
    """-> (primitive name, nullable). Loud on unsupported shapes."""
    if isinstance(t, str):
        if t == "null":
            raise ValueError("bare 'null' field type has no column type")
        if t not in _PRIMITIVE_TO_SPARK:
            raise NotImplementedError(
                f"Avro type {t!r} unsupported (records of primitives only)"
            )
        return t, False
    if isinstance(t, list):
        branches = [b for b in t if b != "null"]
        if len(t) == 2 and "null" in t and len(branches) == 1 and isinstance(
            branches[0], str
        ):
            prim, _ = _normalize_field_type(branches[0])
            return prim, True
        raise NotImplementedError(
            f"only ['null', primitive] unions supported, got {t!r}"
        )
    raise NotImplementedError(
        f"nested Avro type unsupported (flatten upstream): {t!r}"
    )


def _parse_record_schema(schema_json: str) -> list[tuple[str, str, bool]]:
    """-> [(field name, primitive, nullable)] in declaration order."""
    schema = json.loads(schema_json)
    if not isinstance(schema, dict) or schema.get("type") != "record":
        raise NotImplementedError(
            "top-level Avro schema must be a record of primitives"
        )
    fields = []
    for f in schema["fields"]:
        prim, nullable = _normalize_field_type(f["type"])
        fields.append((f["name"], prim, nullable))
    return fields


def _decode_value(buf: io.BytesIO, prim: str) -> Any:
    if prim == "boolean":
        return buf.read(1) == b"\x01"
    if prim in ("int", "long"):
        return _read_long(buf)
    if prim == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if prim == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if prim == "string":
        return _read_bytes(buf).decode("utf-8")
    if prim == "bytes":
        return _read_bytes(buf)
    raise NotImplementedError(prim)


def _decode_records(
    data: bytes, fields: list[tuple[str, str, bool]], n: int
) -> list[tuple]:
    buf = io.BytesIO(data)
    rows = []
    for _ in range(n):
        row = []
        for _name, prim, nullable in fields:
            if nullable:
                idx = _read_long(buf)
                if idx == 0:  # writer-order ['null', T]
                    row.append(None)
                    continue
            row.append(_decode_value(buf, prim))
        rows.append(tuple(row))
    if buf.read(1):
        raise ValueError("Avro block has trailing bytes after last record")
    return rows


# ---------------------------------------------------------------------------
# container walk
# ---------------------------------------------------------------------------


def _read_header(f) -> tuple[dict[str, bytes], bytes]:
    if f.read(4) != _MAGIC:
        raise ValueError("not an Avro object container (magic mismatch)")
    meta: dict[str, bytes] = {}
    # metadata map: blocks of (count, pairs...), 0-count terminator
    while True:
        count = _read_long_file(f)
        if count == 0:
            break
        if count < 0:  # negative count: abs + byte size (skippable form)
            count = -count
            _read_long_file(f)
        for _ in range(count):
            key = _read_sized(f).decode("utf-8")
            meta[key] = _read_sized(f)
    sync = f.read(16)
    if len(sync) != 16:
        raise ValueError("Avro header truncated before sync marker")
    return meta, sync


def _read_long_file(f) -> int:
    shift = acc = 0
    while True:
        b = f.read(1)
        if not b:
            raise ValueError("Avro varint truncated")
        byte = b[0]
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _read_sized(f) -> bytes:
    n = _read_long_file(f)
    data = f.read(n)
    if len(data) != n:
        raise ValueError("Avro metadata truncated")
    return data


def _block_index(path: str) -> tuple[dict[str, bytes], bytes, list[tuple[int, int, int]]]:
    """Driver-side header walk: (meta, sync, [(payload offset, n_objects,
    n_bytes)]). Reads only block HEADERS — payloads are seeked past."""
    size = os.path.getsize(path)
    blocks: list[tuple[int, int, int]] = []
    with open(path, "rb") as f:
        meta, sync = _read_header(f)
        while f.tell() < size:
            n_objects = _read_long_file(f)
            n_bytes = _read_long_file(f)
            off = f.tell()
            blocks.append((off, n_objects, n_bytes))
            f.seek(off + n_bytes)
            marker = f.read(16)
            if marker != sync:
                raise ValueError(
                    f"Avro sync marker mismatch after block at {off} in "
                    f"{path!r} (corrupt or mis-split file)"
                )
    return meta, sync, blocks


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Distributed Avro container read: one driver header/index walk,
    then block offsets fan out through ``mapInPandas`` and each task
    seeks to and decodes only its blocks."""
    meta, _sync, blocks = _block_index(path)
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"Avro codec {codec!r} (null/deflate only)")
    schema_json = meta["avro.schema"].decode("utf-8")
    fields = _parse_record_schema(schema_json)
    spark_schema = ", ".join(
        f"{name} {_PRIMITIVE_TO_SPARK[prim]}" for name, prim, _ in fields
    )
    if not blocks:
        return spark.createDataFrame([], spark_schema)

    def read_blocks(parts: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        names = [name for name, _, _ in fields]
        for pdf in parts:
            if len(pdf) == 0:
                continue
            with open(path, "rb") as f:
                for off, n_obj, n_b in zip(
                    pdf["off"], pdf["n_obj"], pdf["n_b"]
                ):
                    f.seek(int(off))
                    payload = f.read(int(n_b))
                    if codec == "deflate":
                        payload = zlib.decompress(payload, -15)
                    rows = _decode_records(payload, fields, int(n_obj))
                    yield pd.DataFrame(rows, columns=names)

    idx = spark.createDataFrame(
        [(o, n, b) for o, n, b in blocks], "off BIGINT, n_obj BIGINT, n_b BIGINT"
    ).repartition(min(len(blocks), 64))
    return idx.mapInPandas(read_blocks, schema=spark_schema)
