"""POSIX ustar / WebDataset tar-shard source — beyond-reference format
extension (S15), stdlib-free spec-path reader like the BIFF/Avro ones.

Tar shards are the de-facto container for large multimodal training
corpora (the public WebDataset convention: members named
``<key>.<ext>``, all members sharing a key form one training sample;
shards stream sequentially, which is what makes them object-store
friendly at 100 TB). This module implements the PUBLIC POSIX.1-1988
ustar layout directly: 512-byte headers (name/size-in-octal/checksum/
``ustar`` magic), payload padded to block multiples, two zero blocks
at the end.

Scale contract (the Avro/Arrow-IPC pattern, ``avrofile.py``): the
driver walks ONLY the headers — one 512-byte read + one seek per
member — to build an (offset, size) index, then member ranges fan out
through ``mapInPandas``; each task seeks straight to its members'
payload bytes. A directory of ``.tar`` shards distributes by file
first, members second — exactly how WebDataset pipelines shard work
across workers.

Declared limits (loud, not silent): plain regular members only
(typeflag '0'/NUL), names <= 100 bytes + optional 155-byte ustar
prefix; GNU longname/longlink extensions raise. A deterministic
:func:`encode_ustar` writer ships alongside (zero mtime, fixed
mode/uid/gid) so tests and fixtures never depend on external
binaries.
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

_BLOCK = 512


# ---------------------------------------------------------------------------
# ustar encode (deterministic fixture writer)
# ---------------------------------------------------------------------------


def _octal(n: int, width: int) -> bytes:
    s = ("%0" + str(width - 1) + "o") % n
    if len(s) >= width:
        raise ValueError(f"value {n} too large for {width}-byte octal field")
    return s.encode("ascii") + b"\0"


def _header(name: str, size: int) -> bytes:
    nb = name.encode("utf-8")
    if len(nb) > 100:
        raise ValueError(f"tar member name longer than 100 bytes: {name!r}")
    h = bytearray(_BLOCK)
    h[0 : len(nb)] = nb
    h[100:108] = _octal(0o644, 8)  # mode
    h[108:116] = _octal(0, 8)  # uid
    h[116:124] = _octal(0, 8)  # gid
    h[124:136] = _octal(size, 12)
    h[136:148] = _octal(0, 12)  # mtime: fixed for determinism
    h[148:156] = b" " * 8  # checksum placeholder
    h[156] = ord("0")  # typeflag: regular file
    h[257:263] = b"ustar\0"
    h[263:265] = b"00"
    chk = sum(h)
    h[148:156] = ("%06o" % chk).encode("ascii") + b"\0 "
    return bytes(h)


def encode_ustar(members: list[tuple[str, bytes]]) -> bytes:
    """Deterministic ustar archive of (name, payload) members."""
    out = bytearray()
    for name, payload in members:
        out += _header(name, len(payload))
        out += payload
        pad = (-len(payload)) % _BLOCK
        out += b"\0" * pad
    out += b"\0" * (2 * _BLOCK)
    return bytes(out)


# ---------------------------------------------------------------------------
# ustar parse / index
# ---------------------------------------------------------------------------


def _parse_header(block: bytes, at: int) -> tuple[str, int] | None:
    """(member name, payload size), or None at the zero-block trailer."""
    if len(block) < _BLOCK:
        raise ValueError(f"tar truncated: short header at offset {at}")
    if block == b"\0" * _BLOCK:
        return None
    if block[257:262] != b"ustar":
        raise ValueError(f"tar header at offset {at}: bad magic")
    stored = int(block[148:156].rstrip(b"\0 ") or b"0", 8)
    calc = sum(block[:148]) + 8 * 0x20 + sum(block[156:])
    if stored != calc:
        raise ValueError(
            f"tar header at offset {at}: checksum {stored} != {calc}"
        )
    typeflag = block[156:157]
    if typeflag not in (b"0", b"\0"):
        raise NotImplementedError(
            f"tar member type {typeflag!r} at offset {at} "
            "(regular files only; GNU long-name extensions unsupported)"
        )
    name = block[0:100].split(b"\0", 1)[0].decode("utf-8")
    prefix = block[345:500].split(b"\0", 1)[0].decode("utf-8")
    if prefix:
        name = prefix + "/" + name
    size = int(block[124:136].rstrip(b"\0 ") or b"0", 8)
    return name, size


def parse_ustar(data: bytes) -> list[tuple[str, int, int]]:
    """In-memory walk: [(name, payload offset, size)]."""
    out = []
    at = 0
    while at + _BLOCK <= len(data):
        parsed = _parse_header(data[at : at + _BLOCK], at)
        if parsed is None:
            break
        name, size = parsed
        out.append((name, at + _BLOCK, size))
        at += _BLOCK + size + ((-size) % _BLOCK)
    return out


def index_tar(path: str) -> list[tuple[str, int, int]]:
    """Driver-side header walk of a tar FILE: one 512-byte read + one
    seek per member, payloads never touched — KBs of IO for a
    many-GB shard."""
    out = []
    total = os.path.getsize(path)
    with open(path, "rb") as f:
        at = 0
        while at + _BLOCK <= total:
            f.seek(at)
            parsed = _parse_header(f.read(_BLOCK), at)
            if parsed is None:
                break
            name, size = parsed
            out.append((name, at + _BLOCK, size))
            at += _BLOCK + size + ((-size) % _BLOCK)
    return out


def split_key(name: str) -> tuple[str, str]:
    """WebDataset naming: key = basename up to the FIRST dot, ext =
    everything after it (so 'a/b.seg.png' -> ('a/b', 'seg.png'))."""
    d, _, base = name.rpartition("/")
    key, _, ext = base.partition(".")
    return (d + "/" + key if d else key), ext


# ---------------------------------------------------------------------------
# distributed readers
# ---------------------------------------------------------------------------

_TAR_SCHEMA = (
    "member_name STRING, sample_key STRING, ext STRING, "
    "size BIGINT, payload BINARY"
)


def read_tar(spark: SparkSession, path: str, parallelism: int = 64) -> DataFrame:
    """Distributed tar read: driver header-index walk, then member
    (offset, size) ranges fan out via ``mapInPandas``; each task seeks
    to and reads only its members' payload bytes. ``path`` may be a
    single shard or a DIRECTORY of ``.tar`` shards — the production
    WebDataset layout — in which case the index spans every shard and
    work distributes by (shard, member) range."""
    if os.path.isdir(path):
        shards = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".tar")
        )
        if not shards:
            raise ValueError(f"no .tar shards in directory {path!r}")
        idx = [
            (sp, name, off, size)
            for sp in shards
            for name, off, size in index_tar(sp)
        ]
    else:
        idx = [(path, name, off, size) for name, off, size in index_tar(path)]
    if not idx:
        return spark.createDataFrame([], _TAR_SCHEMA)

    def read_members(parts: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in parts:
            if len(pdf) == 0:
                continue
            rows = []
            # group by shard so each file opens once per task
            for shard, grp in pdf.groupby("shard", sort=False):
                with open(shard, "rb") as f:
                    for name, off, size in zip(
                        grp["name"], grp["off"], grp["size"]
                    ):
                        f.seek(int(off))
                        payload = f.read(int(size))
                        if len(payload) != int(size):
                            raise ValueError(
                                f"tar member {name!r}: payload truncated"
                            )
                        key, ext = split_key(str(name))
                        rows.append(
                            (str(name), key, ext, int(size), payload)
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "member_name", "sample_key", "ext", "size", "payload",
                ],
            )

    frame = spark.createDataFrame(
        idx, "shard STRING, name STRING, off BIGINT, size BIGINT"
    ).repartition(min(len(idx), parallelism))
    return frame.mapInPandas(read_members, schema=_TAR_SCHEMA)
