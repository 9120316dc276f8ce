"""POSIX ustar / WebDataset source (S15, sources/tar.py): spec-path
encode/parse round trips, stdlib-tarfile cross-validation in both
directions, the driver header-index walk, the distributed readers,
and loud failures on corruption and unsupported member types."""

from __future__ import annotations

import io
import tarfile as stdlib_tar

import pytest

from data_pipelines_snowflake_procedures_spark.sources.tar import (
    encode_ustar,
    index_tar,
    parse_ustar,
    read_tar,
    split_key,
)

MEMBERS = [
    ("000/0001.txt", b"hello tar world"),
    ("000/0001.cls", b"en"),
    ("000/0002.txt", b"x" * 513),  # crosses a block boundary
    ("000/0002.cls", b""),  # empty payload member
]


def test_encode_parse_round_trip():
    blob = encode_ustar(MEMBERS)
    parsed = parse_ustar(blob)
    assert [(n, s) for n, _, s in parsed] == [
        (n, len(p)) for n, p in MEMBERS
    ]
    for (name, off, size), (_, payload) in zip(parsed, MEMBERS):
        assert blob[off : off + size] == payload


def test_stdlib_tarfile_reads_our_encoding():
    blob = encode_ustar(MEMBERS)
    with stdlib_tar.open(fileobj=io.BytesIO(blob)) as tf:
        got = {m.name: tf.extractfile(m).read() for m in tf.getmembers()}
    assert got == dict(MEMBERS)


def test_we_read_stdlib_tarfile_output():
    buf = io.BytesIO()
    with stdlib_tar.open(
        fileobj=buf, mode="w", format=stdlib_tar.USTAR_FORMAT
    ) as tf:
        for name, payload in MEMBERS:
            info = stdlib_tar.TarInfo(name=name)
            info.size = len(payload)
            tf.addfile(info, io.BytesIO(payload))
    parsed = parse_ustar(buf.getvalue())
    assert [(n, s) for n, _, s in parsed] == [
        (n, len(p)) for n, p in MEMBERS
    ]


def test_index_tar_matches_in_memory_parse(tmp_path):
    blob = encode_ustar(MEMBERS)
    path = tmp_path / "shard.tar"
    path.write_bytes(blob)
    assert index_tar(str(path)) == parse_ustar(blob)


def test_split_key_first_dot_convention():
    assert split_key("000/0001.seg.png") == ("000/0001", "seg.png")
    assert split_key("a.txt") == ("a", "txt")
    assert split_key("noext") == ("noext", "")


def test_checksum_corruption_raises(tmp_path):
    blob = bytearray(encode_ustar(MEMBERS))
    blob[0] ^= 0xFF  # flip a name byte; stored checksum now wrong
    with pytest.raises(ValueError, match="checksum"):
        parse_ustar(bytes(blob))


def test_bad_magic_raises():
    blob = bytearray(encode_ustar(MEMBERS))
    blob[257:262] = b"nope!"
    with pytest.raises(ValueError, match="magic"):
        parse_ustar(bytes(blob))


def test_unsupported_member_type_raises():
    buf = io.BytesIO()
    with stdlib_tar.open(
        fileobj=buf, mode="w", format=stdlib_tar.USTAR_FORMAT
    ) as tf:
        info = stdlib_tar.TarInfo(name="link")
        info.type = stdlib_tar.SYMTYPE
        info.linkname = "target"
        tf.addfile(info)
    with pytest.raises(NotImplementedError, match="regular files only"):
        parse_ustar(buf.getvalue())


def test_encoder_rejects_long_names():
    with pytest.raises(ValueError, match="100 bytes"):
        encode_ustar([("x" * 101, b"")])


def test_read_tar_distributed(spark, tmp_path):
    path = tmp_path / "shard.tar"
    path.write_bytes(encode_ustar(MEMBERS))
    rows = {
        r["member_name"]: r
        for r in read_tar(spark, str(path)).collect()
    }
    assert set(rows) == {n for n, _ in MEMBERS}
    for name, payload in MEMBERS:
        r = rows[name]
        assert bytes(r["payload"]) == payload
        assert r["size"] == len(payload)
        assert (r["sample_key"], r["ext"]) == split_key(name)


def test_read_any_dispatches_tar(spark, tmp_path):
    from data_pipelines_snowflake_procedures_spark.sources.discovery import (
        read_any,
    )

    path = tmp_path / "shard.tar"
    path.write_bytes(encode_ustar(MEMBERS))
    df = read_any(spark, str(path))
    assert df.count() == len(MEMBERS)
    assert "payload" in df.columns


def test_empty_tar_is_empty_frame(spark, tmp_path):
    path = tmp_path / "empty.tar"
    path.write_bytes(encode_ustar([]))
    assert read_tar(spark, str(path)).count() == 0


def test_read_tar_directory_of_shards(spark, tmp_path):
    shard_a = [("a/0001.txt", b"alpha"), ("a/0001.cls", b"en")]
    shard_b = [("b/0002.txt", b"beta"), ("b/0002.cls", b"de")]
    (tmp_path / "s0.tar").write_bytes(encode_ustar(shard_a))
    (tmp_path / "s1.tar").write_bytes(encode_ustar(shard_b))
    (tmp_path / "ignore.txt").write_text("not a shard")
    rows = {
        r["member_name"]: bytes(r["payload"])
        for r in read_tar(spark, str(tmp_path)).collect()
    }
    assert rows == dict(shard_a + shard_b)
    keys = sorted(r["sample_key"] for r in read_tar(spark, str(tmp_path)).collect())
    assert keys == ["a/0001", "a/0001", "b/0002", "b/0002"]


def test_read_tar_empty_directory_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no .tar shards"):
        read_tar(spark, str(tmp_path))
