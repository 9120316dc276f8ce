"""Tests for file discovery + end-to-end DQ pipeline (SURVEY.md §3.2)."""

from __future__ import annotations

import json
import struct
import zlib
from typing import Any

import pytest

from data_pipelines_snowflake_procedures_spark.sources.discovery import (
    discover_and_run_dq,
    file_metadata,
    format_file_size,
    map_type_to_palette,
    read_any,
)
from pyspark.sql import types as T

from data_pipelines_snowflake_procedures_spark.sources.avrofile import _MAGIC


def test_format_file_size():
    assert format_file_size(512) == "512 B"
    assert format_file_size(2048) == "2.0 KB"
    assert format_file_size(3 * 1024 * 1024) == "3.0 MB"


def test_type_palette():
    assert map_type_to_palette(T.StringType()) == "VARCHAR"
    assert map_type_to_palette(T.LongType()) == "NUMBER"
    assert map_type_to_palette(T.IntegerType()) == "NUMBER"
    assert map_type_to_palette(T.DoubleType()) == "FLOAT"
    assert map_type_to_palette(T.BooleanType()) == "BOOLEAN"
    assert map_type_to_palette(T.TimestampType()) == "TIMESTAMP"
    assert map_type_to_palette(T.ArrayType(T.FloatType())) == "VARIANT"


@pytest.fixture(scope="module")
def sample_files(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("discovery")
    rows = [
        {"id": i, "name": f"n{i}", "score": float(i) / 2, "flag": i % 2 == 0}
        for i in range(50)
    ]
    csv_path = tmp / "sample.csv"
    with open(csv_path, "w") as f:
        f.write("id,name,score,flag\n")
        for r in rows:
            f.write(f"{r['id']},{r['name']},{r['score']},{r['flag']}\n")
    json_path = tmp / "sample.json"
    with open(json_path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return {"csv": str(csv_path), "json": str(json_path)}


def test_read_csv_and_json(spark, sample_files):
    for fmt in ("csv", "json"):
        df = read_any(spark, sample_files[fmt])
        assert df.count() == 50
        assert set(df.columns) == {"id", "name", "score", "flag"}


def test_read_parquet(spark, sf_dir):
    df = read_any(spark, f"{sf_dir}/region.parquet")
    assert df.count() == 5


def test_read_unsupported(spark):
    with pytest.raises(ValueError, match="Unsupported"):
        read_any(spark, "/tmp/file.dbf")


def test_file_metadata(spark, sample_files):
    df = read_any(spark, sample_files["csv"])
    meta = file_metadata(sample_files["csv"], df)
    assert meta["file_name"] == "sample.csv"
    assert meta["file_type"] == "csv"
    assert meta["row_count"] == 50
    assert meta["column_count"] == 4
    types = {c["column_name"]: c["type"] for c in meta["columns"]}
    assert types["id"] == "NUMBER"
    assert types["name"] == "VARCHAR"
    assert types["score"] == "FLOAT"
    assert types["flag"] == "BOOLEAN"


def test_discover_and_run_dq_envelope(spark, sample_files):
    out = discover_and_run_dq(spark, sample_files["csv"])
    assert out["status"] == "SUCCESS"
    assert out["file_definition"]["row_count"] == 50
    summary = out["dq_auto_check_result"]["summary"]
    assert summary["total_rules"] == summary["passed_rules"] + summary["failed_rules"]
    rules = out["dq_auto_check_result"]["rules"]
    pillars = {r["pillar"] for r in rules}
    assert pillars == {"completeness", "uniqueness", "validity", "accuracy", "consistency"}
    # id is fully unique & complete
    by_col = {
        (r["pillar"], r["column"]): r for r in rules if r["pillar"] != "consistency"
    }
    assert by_col[("completeness", "id")]["result"] == 1.0
    assert by_col[("uniqueness", "id")]["result"] == 1.0
    # id -> name is a functional dependency; flag -> id is not
    cons = {r["column"]: r["status"] for r in rules if r["pillar"] == "consistency"}
    assert cons["id->name"] == "passed"
    assert cons["flag->id"] == "failed"
    assert out["audit_log"]["agent_name"] == "DataDiscoveryAgent"


def test_discover_failure_envelope(spark):
    out = discover_and_run_dq(spark, "/nonexistent/nope.csv")
    assert out["status"] == "FAILED"
    assert "error" in out


def test_file_dq_action_count(spark, sample_files, monkeypatch):
    """The sweep runs exactly 2 collect actions regardless of column
    count: the fused profile (completeness/uniqueness + z-score stats)
    and the stacked per-value aggregate (z-score, rare-value and FD
    rules). Neither plan has a window without a partition spec. (Raw
    Spark job ids are no proxy here: AQE materializes one job per
    stage, so the count is counted at the action boundary.)"""
    from data_pipelines_snowflake_procedures_spark.plans.advisor import plan_report
    from data_pipelines_snowflake_procedures_spark.sources.discovery import (
        run_file_dq_distributed,
    )

    df = read_any(spark, sample_files["csv"])
    # patch the CONCRETE class (pyspark 4 classic subclasses the
    # pyspark.sql.DataFrame ABC and overrides collect)
    cls = type(df)
    real_collect = cls.collect
    collected = []

    def counting_collect(self):
        collected.append(self)
        return real_collect(self)

    monkeypatch.setattr(cls, "collect", counting_collect)
    run_file_dq_distributed(df)
    assert len(collected) == 2, f"file-DQ sweep ran {len(collected)} actions, expected 2"
    for action in collected:
        assert plan_report(action)["unpartitioned_windows"] == 0


def test_file_dq_jobs_do_not_grow_with_columns(spark, sample_files, count_jobs):
    """The sweep starts as many Spark jobs on a 20-column copy of a
    5-column file as on the file itself (counted per job group, after
    the listener bus has delivered every job event)."""
    from pyspark.sql import functions as F

    from data_pipelines_snowflake_procedures_spark.sources.discovery import (
        run_file_dq_distributed,
    )

    df = read_any(spark, sample_files["csv"])
    df = df.withColumn("band", (F.col("id") % 7).cast("string"))
    wide = df.select(
        *[F.col(c).alias(f"{c}_{k}") for k in range(4) for c in df.columns]
    )
    assert len(df.columns) == 5 and len(wide.columns) == 20
    narrow_jobs = count_jobs("file-dq-5-cols", lambda: run_file_dq_distributed(df))
    assert narrow_jobs == count_jobs(
        "file-dq-20-cols", lambda: run_file_dq_distributed(wide)
    )


def _write_xlsx_fixture(path: str) -> None:
    """Build a REAL (minimal, spec-conformant) .xlsx with stdlib
    zipfile: shared strings, numeric/bool/inlineStr cells, and a sparse
    row with a missing cell."""
    import zipfile

    shared = ["id", "name", "score", "active", "note", "alpha", "gamma"]
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        f'count="{len(shared)}" uniqueCount="{len(shared)}">'
        + "".join(f"<si><t>{s}</t></si>" for s in shared)
        + "</sst>"
    )
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>"
        '<row r="1">'
        '<c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>'
        '<c r="C1" t="s"><v>2</v></c><c r="D1" t="s"><v>3</v></c>'
        '<c r="E1" t="s"><v>4</v></c>'
        "</row>"
        '<row r="2">'
        '<c r="A2"><v>1</v></c><c r="B2" t="s"><v>5</v></c>'
        '<c r="C2"><v>0.5</v></c><c r="D2" t="b"><v>1</v></c>'
        '<c r="E2" t="inlineStr"><is><t>hello</t></is></c>'
        "</row>"
        # sparse row: B3 (name) and E3 (note) absent -> None
        '<row r="3">'
        '<c r="A3"><v>2</v></c><c r="C3"><v>2</v></c>'
        '<c r="D3" t="b"><v>0</v></c>'
        "</row>"
        '<row r="4">'
        '<c r="A4"><v>3</v></c><c r="B4" t="s"><v>6</v></c>'
        '<c r="C4"><v>-150.25</v></c><c r="D4" t="b"><v>1</v></c>'
        '<c r="E4" t="str"><v>formula result</v></c>'
        "</row>"
        "</sheetData></worksheet>"
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"/>'
        "</sheets></workbook>"
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        "</Types>"
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/sharedStrings.xml", sst)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def test_xlsx_real_read(spark, tmp_path):
    """S2 for real (Data_Discovery_File.sql:325-341): a genuine .xlsx
    parses via the stdlib zipfile+ElementTree reader — typed columns,
    shared/inline/formula strings, bools, sparse cells as NULL."""
    xlsx = tmp_path / "book.xlsx"
    _write_xlsx_fixture(str(xlsx))
    df = read_any(spark, str(xlsx))
    assert df.count() == 3
    meta = file_metadata(str(xlsx), df)
    types = {c["column_name"]: c["type"] for c in meta["columns"]}
    assert types == {
        "id": "NUMBER",
        "name": "VARCHAR",
        "score": "FLOAT",
        "active": "BOOLEAN",
        "note": "VARCHAR",
    }
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["name"] == "alpha" and rows[1]["note"] == "hello"
    assert rows[1]["active"] is True and rows[3]["active"] is True
    assert rows[2]["name"] is None and rows[2]["note"] is None
    assert rows[2]["active"] is False
    assert rows[3]["score"] == -150.25
    assert rows[3]["note"] == "formula result"


def test_xml_real_read(spark, tmp_path):
    """S4 for real: record-oriented XML via stdlib ElementTree —
    attributes + child elements become typed columns."""
    xml = tmp_path / "doc.xml"
    xml.write_text(
        "<records>"
        '<rec id="1"><name>x</name><val>10</val></rec>'
        '<rec id="2"><name>y</name><val>20.5</val></rec>'
        '<rec id="3"><name>z</name><flag>true</flag></rec>'
        "</records>"
    )
    df = read_any(spark, str(xml))
    assert df.count() == 3
    assert {f.name: map_type_to_palette(f.dataType) for f in df.schema.fields} == {
        "id": "NUMBER",
        "name": "VARCHAR",
        "val": "FLOAT",  # int 10 + float 20.5 -> double
        "flag": "BOOLEAN",
    }
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["val"] == 10.0 and rows[2]["val"] == 20.5
    assert rows[3]["val"] is None and rows[3]["flag"] is True


def test_file_dq_runs_on_xlsx_and_xml(spark, tmp_path):
    """The distributed five-pillar DQ sweep runs end-to-end on files
    ingested from both stdlib readers (discover_and_run_dq parity with
    DQ_DISCOVERY_AND_CHECKS on Excel/XML inputs)."""
    from data_pipelines_snowflake_procedures_spark.sources.discovery import (
        discover_and_run_dq,
    )

    xlsx = tmp_path / "book.xlsx"
    _write_xlsx_fixture(str(xlsx))
    xml = tmp_path / "doc.xml"
    xml.write_text(
        "<records>"
        '<rec id="1"><name>x</name><val>10</val></rec>'
        '<rec id="2"><name>y</name><val>20.5</val></rec>'
        "</records>"
    )
    for path, n_rows in ((str(xlsx), 3), (str(xml), 2)):
        out = discover_and_run_dq(spark, path)
        assert out["status"] == "SUCCESS", out
        assert out["file_definition"]["row_count"] == n_rows
        summary = out["dq_auto_check_result"]["summary"]
        assert summary["total_rules"] > 0
        assert summary["passed_rules"] + summary["failed_rules"] == summary["total_rules"]


def test_corrupt_xls_raises(spark, tmp_path):
    """A truncated OLE2 file must fail loudly, not return garbage."""
    xls = tmp_path / "legacy.xls"
    xls.write_bytes(b"\xd0\xcf\x11\xe0stub")
    with pytest.raises(Exception):
        read_any(spark, str(xls))


def _write_xls_fixture(
    path: str,
    sheets: list[tuple[str, list[list]]],
    mulrk: bool = False,
    sst_frag_limit: int | None = None,
) -> None:
    """Hand-assemble a REAL (minimal, spec-conformant) BIFF8 .xls:
    an OLE2 compound file holding a Workbook stream with a globals
    substream (BOF, BOUNDSHEETs in tab order, SST, EOF) and one cell
    substream per sheet (LABELSST/RK/NUMBER/BOOLERR records). Mirrors
    the role of _write_xlsx_fixture for the zip-based format.

    ``mulrk=True`` packs runs of ≥2 consecutive RK-eligible ints into
    MULRK records; ``sst_frag_limit`` forces the SST to spill across
    CONTINUE records every ~limit bytes, splitting INSIDE character
    data (with the spec's fresh option byte per fragment) whenever a
    string straddles — the two reader paths the cross-format property
    test locks down."""
    import struct

    def rec(t: int, payload: bytes) -> bytes:
        return struct.pack("<HH", t, len(payload)) + payload

    def bof(dt: int) -> bytes:
        return rec(0x0809, struct.pack("<HHHHII", 0x0600, dt, 0, 0, 0, 0))

    # shared-string pool over all sheets
    strings: list[str] = []
    index: dict[str, int] = {}

    def isst(s: str) -> int:
        if s not in index:
            index[s] = len(strings)
            strings.append(s)
        return index[s]

    def rk_eligible(v) -> bool:
        return (
            isinstance(v, int)
            and not isinstance(v, bool)
            and -(2**29) <= v < 2**29
        )

    def rk_bits(v: int) -> int:
        return ((v & 0x3FFFFFFF) << 2) | 2

    sheet_blobs: list[bytes] = []
    n_label_cells = 0
    for _name, rows in sheets:
        cells = []
        for r, row in enumerate(rows):
            c = 0
            while c < len(row):
                v = row[c]
                if v is None:
                    c += 1
                    continue
                if mulrk and rk_eligible(v):
                    run = c
                    while run < len(row) and rk_eligible(row[run]):
                        run += 1
                    if run - c >= 2:
                        cells.append(
                            rec(
                                0x00BD,
                                struct.pack("<HH", r, c)
                                + b"".join(
                                    struct.pack("<HI", 0, rk_bits(row[i]))
                                    for i in range(c, run)
                                )
                                + struct.pack("<H", run - 1),
                            )
                        )
                        c = run
                        continue
                if isinstance(v, bool):
                    cells.append(
                        rec(0x0205, struct.pack("<HHHBB", r, c, 0, int(v), 0))
                    )
                elif rk_eligible(v):
                    cells.append(
                        rec(0x027E, struct.pack("<HHHI", r, c, 0, rk_bits(v)))
                    )
                elif isinstance(v, (int, float)):
                    cells.append(
                        rec(0x0203, struct.pack("<HHH", r, c, 0)
                            + struct.pack("<d", float(v)))
                    )
                else:
                    n_label_cells += 1
                    cells.append(
                        rec(0x00FD, struct.pack("<HHHI", r, c, 0, isst(str(v))))
                    )
                c += 1
        sheet_blobs.append(bof(0x0010) + b"".join(cells) + rec(0x000A, b""))

    def encode_str(s: str) -> bytes:
        try:
            raw = s.encode("latin-1")
            return struct.pack("<HB", len(s), 0) + raw
        except UnicodeEncodeError:
            return struct.pack("<HB", len(s), 1) + s.encode("utf-16-le")

    def sst_records() -> bytes:
        head = struct.pack("<II", n_label_cells, len(strings))
        if sst_frag_limit is None:
            return rec(
                0x00FC, head + b"".join(encode_str(s) for s in strings)
            )
        # fragment the pool: string HEADERS never straddle (per spec);
        # character data may, restarting with a fresh option byte
        frags: list[bytearray] = [bytearray(head)]

        def room() -> int:
            return sst_frag_limit - len(frags[-1])

        for s in strings:
            try:
                raw = s.encode("latin-1")
                high = 0
            except UnicodeEncodeError:
                raw = s.encode("utf-16-le")
                high = 1
            width = 2 if high else 1
            if room() < 3 + (width if s else 0):
                frags.append(bytearray())
            frags[-1] += struct.pack("<HB", len(s), high)
            i = 0
            while i < len(s):
                avail = room() // width
                if avail == 0:
                    frags.append(bytearray([high]))  # fresh option byte
                    avail = (sst_frag_limit - 1) // width
                n = min(len(s) - i, avail)
                frags[-1] += raw[i * width : (i + n) * width]
                i += n
        return rec(0x00FC, bytes(frags[0])) + b"".join(
            rec(0x003C, bytes(f)) for f in frags[1:]
        )

    # two-pass: BOUNDSHEET offsets depend on globals length
    def globals_blob(offsets: list[int]) -> bytes:
        bs = b"".join(
            rec(
                0x0085,
                struct.pack("<IHBB", off, 0, len(name), 0)
                + name.encode("latin-1"),
            )
            for off, (name, _) in zip(offsets, sheets)
        )
        return bof(0x0005) + bs + sst_records() + rec(0x000A, b"")

    glen = len(globals_blob([0] * len(sheets)))
    offsets = []
    pos = glen
    for blob in sheet_blobs:
        offsets.append(pos)
        pos += len(blob)
    stream = globals_blob(offsets) + b"".join(sheet_blobs)
    # pad past the 4096-byte mini-stream cutoff so the stream lives in
    # regular FAT sectors (padding after the final EOF is never scanned)
    if len(stream) < 4096:
        stream += b"\x00" * (4096 - len(stream))

    # --- OLE2 container: FAT sector + 1 directory sector + stream ---
    ssz = 512
    n_stream_sectors = (len(stream) + ssz - 1) // ssz
    stream += b"\x00" * (n_stream_sectors * ssz - len(stream))
    # sectors: 0=FAT, 1=directory, 2..=stream
    fat = [0xFFFFFFFD, 0xFFFFFFFE]  # FATSECT, dir ENDOFCHAIN
    for i in range(n_stream_sectors):
        fat.append(2 + i + 1 if i < n_stream_sectors - 1 else 0xFFFFFFFE)
    fat += [0xFFFFFFFF] * (ssz // 4 - len(fat))

    def direntry(name: str, obj_type: int, start: int, size: int) -> bytes:
        raw = name.encode("utf-16-le") + b"\x00\x00"
        e = bytearray(128)
        e[: len(raw)] = raw
        struct.pack_into("<H", e, 64, len(raw))
        e[66] = obj_type
        e[67] = 1  # black
        struct.pack_into("<III", e, 68, 0xFFFFFFFF, 0xFFFFFFFF, 0xFFFFFFFF)
        struct.pack_into("<I", e, 116, start)
        struct.pack_into("<Q", e, 120, size)
        return bytes(e)

    directory = (
        direntry("Root Entry", 5, 0xFFFFFFFE, 0)
        + direntry("Workbook", 2, 2, len(stream))
        + b"\x00" * 256
    )
    header = bytearray(512)
    header[:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    struct.pack_into("<H", header, 24, 0x003E)  # minor
    struct.pack_into("<H", header, 26, 0x0003)  # major (v3, 512B)
    struct.pack_into("<H", header, 28, 0xFFFE)  # little-endian
    struct.pack_into("<H", header, 30, 9)       # sector shift
    struct.pack_into("<H", header, 32, 6)       # mini shift
    struct.pack_into("<I", header, 44, 1)       # one FAT sector
    struct.pack_into("<I", header, 48, 1)       # first dir sector
    struct.pack_into("<I", header, 56, 4096)    # mini cutoff
    struct.pack_into("<I", header, 60, 0xFFFFFFFE)  # no miniFAT
    struct.pack_into("<I", header, 68, 0xFFFFFFFE)  # no extra DIFAT
    difat = [0] + [0xFFFFFFFF] * 108
    struct.pack_into("<109I", header, 76, *difat)

    with open(path, "wb") as f:
        f.write(bytes(header))
        f.write(struct.pack(f"<{ssz // 4}I", *fat))
        f.write(directory + b"\x00" * (ssz - len(directory)))
        f.write(stream)


def test_xls_biff8_real_read(spark, tmp_path):
    """S2 legacy branch for real: a genuine BIFF8 .xls (OLE2 container
    assembled from the MS-CFB/MS-XLS specs) reads through read_any with
    typed columns — ints via RK, floats via NUMBER, bools via BOOLERR,
    strings via SST/LABELSST, sparse cells as NULL."""
    xls = tmp_path / "book.xls"
    _write_xls_fixture(
        str(xls),
        [(
            "Sheet1",
            [
                ["id", "name", "score", "active", "note"],
                [1, "alpha", 0.5, True, "hello"],
                [2, None, 2, False, None],            # sparse row
                [3, "gamma", -150.25, True, "wörld"],  # utf-16 SST path
            ],
        )],
    )
    df = read_any(spark, str(xls))
    assert df.columns == ["id", "name", "score", "active", "note"]
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == 3
    assert rows[1]["name"] == "alpha" and rows[1]["score"] == 0.5
    assert rows[1]["active"] is True and rows[1]["note"] == "hello"
    assert rows[2]["name"] is None and rows[2]["score"] == 2.0
    assert rows[3]["score"] == -150.25 and rows[3]["note"] == "wörld"


def test_xls_multi_sheet_tab_order_and_dq(spark, tmp_path):
    """BOUNDSHEET record order is tab order; the DQ sweep runs on the
    promoted frame exactly like every other format."""
    from data_pipelines_snowflake_procedures_spark.sources.biff import (
        read_xls_rows,
    )
    from data_pipelines_snowflake_procedures_spark.sources.discovery import (
        discover_and_run_dq,
    )

    xls = tmp_path / "multi.xls"
    _write_xls_fixture(
        str(xls),
        [
            ("Z_first_tab", [["m"], ["tab0"]]),
            ("A_second_tab", [["m"], ["tab1"]]),
        ],
    )
    assert read_xls_rows(str(xls), sheet=0)[1] == ["tab0"]
    assert read_xls_rows(str(xls), sheet=1)[1] == ["tab1"]
    out = discover_and_run_dq(spark, str(xls))
    assert out["status"] == "SUCCESS"
    assert out["file_definition"]["row_count"] == 1


def test_write_any_round_trip(spark, sf_dir, tmp_path):
    """Every format Spark's own writers produce (csv with header, json,
    parquet, orc, text) reads back through read_any."""
    from data_pipelines_snowflake_procedures_spark.session import load_table

    src = load_table(spark, sf_dir, "region")
    writers = {
        "csv": lambda w, path: w.option("header", True).csv(path),
        "json": lambda w, path: w.json(path),
        "parquet": lambda w, path: w.parquet(path),
        "orc": lambda w, path: w.orc(path),
    }
    for fmt, write in writers.items():
        path = str(tmp_path / f"out_{fmt}")
        write(src.write, path)
        back = read_any(spark, path, fmt=fmt)
        assert back.count() == 5
        assert set(back.columns) == set(src.columns)
    # text: one string column in, "value" column out (raw-corpus path)
    txt = str(tmp_path / "out_txt")
    src.select("r_name").write.text(txt)
    back = read_any(spark, txt, fmt="txt")
    assert back.count() == 5
    assert back.columns == ["value"]


def _write_xlsx_generic(path: str, header: list[str], rows: list[list]) -> None:
    """Minimal xlsx writer for round-trip tests: strings as inlineStr
    (XML-escaped), ints/floats as numeric cells, bools as t=\"b\",
    None as an absent cell."""
    import zipfile
    from xml.sax.saxutils import escape

    def cell(ref: str, v) -> str:
        if v is None:
            return ""
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>'
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v!r}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'

    def col_letter(i: int) -> str:
        out = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            out = chr(ord("A") + r) + out
        return out

    body = []
    for rix, row in enumerate([header, *rows], start=1):
        cells = "".join(
            cell(f"{col_letter(c)}{rix}", v) for c, v in enumerate(row)
        )
        body.append(f'<row r="{rix}">{cells}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f"<sheetData>{''.join(body)}</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def test_xlsx_parser_round_trip_property(tmp_path):
    """Property: any rectangular table of typed cells survives the
    write→parse round trip (stdlib parser, no Spark in the loop)."""
    from hypothesis import given, settings, strategies as st

    from data_pipelines_snowflake_procedures_spark.sources.office import (
        read_xlsx_rows,
    )

    text_st = st.text(
        alphabet=st.characters(
            min_codepoint=32, max_codepoint=0x2FF, blacklist_characters="\r"
        ),
        max_size=20,
    )
    value_st = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2**53), max_value=2**53),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        text_st,
    )

    @settings(max_examples=30, deadline=None)
    @given(
        header=st.lists(
            st.text(alphabet="abcdefgh", min_size=1, max_size=6),
            min_size=1,
            max_size=5,
        ),
        data=st.data(),
    )
    def check(header, data):
        n_rows = data.draw(st.integers(min_value=0, max_value=6))
        rows = [
            [data.draw(value_st) for _ in header] for _ in range(n_rows)
        ]
        path = str(tmp_path / "prop.xlsx")
        _write_xlsx_generic(path, header, rows)
        parsed = read_xlsx_rows(path)
        assert parsed[0] == [h if h else None for h in header] or parsed[0] == list(header)
        got = parsed[1:]
        for want_row, got_row in zip(rows, got):
            for want, g in zip(want_row, got_row):
                if want is None or (isinstance(want, str) and want == ""):
                    # absent cell and empty inlineStr both parse as
                    # None/"" — normalize
                    assert g in (None, "")
                elif isinstance(want, float) and want == int(want) and "e" not in repr(want).lower() and "." not in repr(want):
                    assert g == want
                else:
                    assert g == want, (want, g)
        # trailing all-None rows collapse is not allowed: row count kept
        assert len(got) == len(rows)

    check()


def test_xml_parser_round_trip_property(tmp_path):
    """Property: record-oriented XML with random tags/values survives
    the write→parse round trip (attributes + child elements)."""
    from xml.sax.saxutils import escape

    from hypothesis import given, settings, strategies as st

    from data_pipelines_snowflake_procedures_spark.sources.office import (
        read_xml_records,
    )

    tag_st = st.text(alphabet="abcdefgh", min_size=1, max_size=6)
    val_st = st.text(
        alphabet=st.characters(
            min_codepoint=32, max_codepoint=0x2FF, blacklist_characters="\r"
        ),
        min_size=1,
        max_size=20,
    ).map(str.strip).filter(lambda s: s)

    @settings(max_examples=30, deadline=None)
    @given(
        tags=st.lists(tag_st, min_size=1, max_size=4, unique=True),
        data=st.data(),
    )
    def check(tags, data):
        n = data.draw(st.integers(min_value=1, max_value=5))
        records = [
            {t: data.draw(val_st) for t in tags if data.draw(st.booleans())}
            for _ in range(n)
        ]
        records = [r for r in records if r]
        if not records:
            records = [{tags[0]: "x"}]
        body = "".join(
            "<rec>"
            + "".join(f"<{k}>{escape(v)}</{k}>" for k, v in r.items())
            + "</rec>"
            for r in records
        )
        path = tmp_path / "prop.xml"
        path.write_text(f"<root>{body}</root>", encoding="utf-8")
        parsed = read_xml_records(str(path))
        assert parsed == records

    check()


def test_read_any_parquet_nano_timestamps(spark, sf_dir):
    """Regression (round 3): the generic file entry point must apply
    the shared read-time confs — a TIMESTAMP(NANOS) parquet (events)
    read through read_any may not throw PARQUET_TYPE_ILLEGAL."""
    df = read_any(spark, f"{sf_dir}/events.parquet")
    assert df.count() > 0
    # ts surfaces as epoch-nano long under nanosAsLong (read_any does
    # not convert — that is load_table's contract); the point here is
    # the read succeeds under any caller session.
    assert "ts" in df.columns


def test_xlsx_multi_sheet_numeric_order(tmp_path):
    """Sheet selection must sort numerically: sheet2 precedes sheet10."""
    import zipfile

    from data_pipelines_snowflake_procedures_spark.sources.office import (
        read_xlsx_rows,
    )

    def sheet_xml(marker: str) -> str:
        return (
            '<worksheet xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main"><sheetData>'
            f'<row r="1"><c r="A1" t="inlineStr"><is><t>{marker}</t></is></c></row>'
            "</sheetData></worksheet>"
        )

    path = str(tmp_path / "multi.xlsx")
    with zipfile.ZipFile(path, "w") as z:
        for i in (10, 2, 1):  # insertion order deliberately scrambled
            z.writestr(f"xl/worksheets/sheet{i}.xml", sheet_xml(f"s{i}"))
    assert read_xlsx_rows(path, sheet=0)[0] == ["s1"]
    assert read_xlsx_rows(path, sheet=1)[0] == ["s2"]
    assert read_xlsx_rows(path, sheet=2)[0] == ["s10"]


def test_xlsx_tab_order_overrides_file_numbering(tmp_path):
    """xlsx tab order comes from xl/workbook.xml <sheets> (r:id via the
    rels part), NOT from sheetN.xml filename numbering — sheet3.xml can
    be the FIRST tab. 'sheet 0' must mean the first tab, like pandas."""
    import zipfile

    from data_pipelines_snowflake_procedures_spark.sources.office import (
        read_xlsx_rows,
    )

    def sheet_xml(marker: str) -> str:
        return (
            '<worksheet xmlns="http://schemas.openxmlformats.org/'
            'spreadsheetml/2006/main"><sheetData>'
            f'<row r="1"><c r="A1" t="inlineStr"><is><t>{marker}</t></is></c></row>'
            "</sheetData></worksheet>"
        )

    # Tab order: sheet3 first, then sheet1; sheet2 exists but is not a tab.
    workbook = (
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets>'
        '<sheet name="Last Made First" sheetId="1" r:id="rIdB"/>'
        '<sheet name="First Made Second" sheetId="2" r:id="rIdA"/>'
        "</sheets></workbook>"
    )
    rels = (
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rIdA" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        '<Relationship Id="rIdB" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet3.xml"/>'
        "</Relationships>"
    )
    path = str(tmp_path / "tabs.xlsx")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        for i in (1, 2, 3):
            z.writestr(f"xl/worksheets/sheet{i}.xml", sheet_xml(f"s{i}"))
    assert read_xlsx_rows(path, sheet=0)[0] == ["s3"]
    assert read_xlsx_rows(path, sheet=1)[0] == ["s1"]


def test_xls_parser_round_trip_property(tmp_path):
    """Property: any rectangular table of typed cells survives the
    BIFF8 write→parse round trip (stdlib parser, no Spark in the
    loop) — the .xls counterpart of the xlsx property test. Numeric
    identity is compared as doubles because integral NUMBER cells
    legitimately surface as ints."""
    from hypothesis import given, settings, strategies as st

    from data_pipelines_snowflake_procedures_spark.sources.biff import (
        read_xls_rows,
    )

    text_st = st.text(
        alphabet=st.characters(
            min_codepoint=32, max_codepoint=0x2FF, blacklist_characters="\r"
        ),
        max_size=20,
    )
    value_st = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2**53), max_value=2**53),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        text_st,
    )

    @settings(max_examples=30, deadline=None)
    @given(data=st.data())
    def check(data):
        n_cols = data.draw(st.integers(min_value=1, max_value=5))
        n_rows = data.draw(st.integers(min_value=0, max_value=6))
        header = [f"c{i}" for i in range(n_cols)]
        rows = [
            [data.draw(value_st) for _ in range(n_cols)] for _ in range(n_rows)
        ]
        path = str(tmp_path / "prop.xls")
        _write_xls_fixture(path, [("S", [header] + rows)])
        parsed = read_xls_rows(path)
        assert parsed[0] == header
        for want_row, got_row in zip(rows, parsed[1:]):
            for want, got in zip(want_row, got_row):
                if want is None:
                    assert got is None
                elif isinstance(want, bool):
                    assert got is want
                elif isinstance(want, (int, float)):
                    assert float(got) == float(want), (want, got)
                else:
                    assert got == want, (want, got)

    check()


def test_xls_xlsx_cross_format_identity_property(tmp_path):
    """Property locking the TWO Excel readers together (VERDICT r4
    next-round #7): the same random cell grid written as BIFF8 .xls —
    with MULRK-packed integer runs and an SST forced to spill across
    CONTINUE records, including mid-string splits — and as OOXML .xlsx
    must parse to the same table. Every example asserts the .xls
    stream really contains MULRK and CONTINUE records, so the packed/
    spilled paths cannot silently fall out of coverage."""
    import struct as _struct

    from hypothesis import given, settings, strategies as st

    from data_pipelines_snowflake_procedures_spark.sources.biff import (
        _cfb_stream,
        _parse_globals,
        _records,
        read_xls_rows,
    )
    from data_pipelines_snowflake_procedures_spark.sources.office import (
        read_xlsx_rows,
    )

    text_st = st.text(
        alphabet=st.characters(
            min_codepoint=32, max_codepoint=0x2FF, blacklist_characters="\r"
        ),
        min_size=1,
        max_size=30,
    )
    value_st = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2**28), max_value=2**28 - 1),  # RK range
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        text_st,
    )

    def norm(v):
        if isinstance(v, bool) or not isinstance(v, (int, float)):
            return v
        return float(v)

    @settings(max_examples=25, deadline=None)
    @given(data=st.data())
    def check(data):
        n_cols = data.draw(st.integers(min_value=3, max_value=5))
        n_rows = data.draw(st.integers(min_value=0, max_value=5))
        header = [f"c{i}" for i in range(n_cols)]
        rows = [
            [data.draw(value_st) for _ in range(n_cols)] for _ in range(n_rows)
        ]
        # deterministic coverage prelude: an integer run (MULRK) and a
        # long string + a non-latin1 string (SST CONTINUE, both widths)
        rows.append([7, 8, 9][:n_cols] + [None] * max(n_cols - 3, 0))
        filler = ["shared-string spill " * 4, "ūňïčøđé-Ω " * 4, True]
        rows.append(filler[:n_cols] + [None] * max(n_cols - 3, 0))

        xls = str(tmp_path / "cross.xls")
        xlsx = str(tmp_path / "cross.xlsx")
        _write_xls_fixture(
            xls, [("S", [header] + rows)], mulrk=True, sst_frag_limit=32
        )
        _write_xlsx_generic(xlsx, header, rows)

        with open(xls, "rb") as f:
            stream = _cfb_stream(f.read())
        # record iteration stops at each substream's EOF: scan the
        # globals AND every sheet substream for coverage
        rtypes = {t for t, _, _ in _records(stream, 0)}
        for pos, _name in _parse_globals(stream)[1]:
            rtypes |= {t for t, _, _ in _records(stream, pos)}
        ver, _dt = _struct.unpack_from("<HH", stream, 4)
        assert ver == 0x0600
        assert 0x00BD in rtypes, "MULRK not exercised"
        assert 0x003C in rtypes, "SST CONTINUE not exercised"

        a, b = read_xls_rows(xls), read_xlsx_rows(xlsx)

        def at(parsed, r, c):
            if r < len(parsed) and c < len(parsed[r]):
                return parsed[r][c]
            return None  # trailing all-None rows/cols collapse

        grid = [header] + rows
        for r in range(len(grid)):
            for c in range(n_cols):
                va, vb = norm(at(a, r, c)), norm(at(b, r, c))
                assert va == vb or (va is None and vb is None), (
                    r, c, at(a, r, c), at(b, r, c)
                )

    check()


def test_xls_v3_directory_size_high_dword_garbage(tmp_path):
    """MS-CFB v3 (512-byte sectors) declares the high 4 bytes of a
    directory entry's stream size unreliable (ADVICE r4 #4): planting
    garbage there must not change what the reader parses — without the
    32-bit mask the inflated size could misroute a mini-stream onto
    the regular FAT."""
    import struct

    from data_pipelines_snowflake_procedures_spark.sources.biff import (
        read_xls_rows,
    )

    rows = [["a", "b"], [1, "x"], [2, "y"]]
    clean = str(tmp_path / "clean.xls")
    _write_xls_fixture(clean, [("S", rows)])
    data = bytearray(open(clean, "rb").read())
    # locate the Workbook directory entry by its utf-16 name and
    # corrupt the high dword of its 8-byte size field (entry offset
    # 120; the struct is 128 bytes, name at offset 0)
    name = "Workbook".encode("utf-16-le")
    at = data.find(name)
    assert at != -1 and at % 128 == 0  # aligned directory entry
    struct.pack_into("<I", data, at + 124, 0xDEADBEEF)
    dirty = str(tmp_path / "dirty.xls")
    open(dirty, "wb").write(bytes(data))
    assert read_xls_rows(dirty) == read_xls_rows(clean)


def test_read_any_arrow_ipc_file_batch_parallel(spark, tmp_path):
    """Arrow IPC FILE format loads through read_any with values intact;
    the reader distributes by record batch (footer opened once)."""
    import pandas as pd
    import pyarrow as pa

    from data_pipelines_snowflake_procedures_spark.sources.discovery import read_any

    pdf = pd.DataFrame(
        {
            "k": list(range(100)),
            "v": [f"s{i}" for i in range(100)],
            "x": [i / 4.0 for i in range(100)],
        }
    )
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    path = str(tmp_path / "t.arrow")
    with pa.OSFile(path, "wb") as f:
        with pa.ipc.new_file(f, table.schema) as w:
            for start in range(0, 100, 16):  # 7 record batches
                w.write_table(table.slice(start, 16))
    df = read_any(spark, path)
    assert df.count() == 100
    got = sorted((r.k, r.v, r.x) for r in df.collect())
    assert got == [(i, f"s{i}", i / 4.0) for i in range(100)]
    assert [f.name for f in df.schema.fields] == ["k", "v", "x"]


def test_read_any_arrow_stream_fallback(spark, tmp_path):
    import pandas as pd
    import pyarrow as pa

    from data_pipelines_snowflake_procedures_spark.sources.discovery import read_any

    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    path = str(tmp_path / "t.ipc")
    with pa.OSFile(path, "wb") as f:
        with pa.ipc.new_stream(f, table.schema) as w:
            w.write_table(table)
    df = read_any(spark, path)
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, "x"), (2, "y"), (3, "z")]


def test_read_any_empty_arrow_file(spark, tmp_path):
    import pandas as pd
    import pyarrow as pa

    from data_pipelines_snowflake_procedures_spark.sources.discovery import read_any

    table = pa.Table.from_pandas(
        pd.DataFrame({"a": pd.Series([], dtype="int64")}), preserve_index=False
    )
    path = str(tmp_path / "e.feather")
    with pa.OSFile(path, "wb") as f:
        with pa.ipc.new_file(f, table.schema) as w:
            pass  # zero record batches
    df = read_any(spark, path)
    assert df.count() == 0
    assert df.columns == ["a"]


def test_sniff_ipc_kind_rejects_garbage_and_truncation(spark, tmp_path):
    """Invalid IPC payloads fail fast on the driver with the path in
    the message (ADVICE r9) instead of an opaque executor Arrow error."""
    import pandas as pd
    import pyarrow as pa
    import pytest

    from data_pipelines_snowflake_procedures_spark.sources.arrowipc import sniff_ipc_kind

    garbage = tmp_path / "g.arrow"
    garbage.write_bytes(b"this is not arrow at all")
    with pytest.raises(ValueError, match="g.arrow"):
        sniff_ipc_kind(str(garbage))

    empty = tmp_path / "z.arrow"
    empty.write_bytes(b"")
    with pytest.raises(ValueError, match="z.arrow"):
        sniff_ipc_kind(str(empty))

    # a FILE-format payload with the footer magic chopped off
    pdf = pd.DataFrame({"a": [1, 2]})
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    whole = tmp_path / "w.arrow"
    with pa.OSFile(str(whole), "wb") as f:
        with pa.ipc.new_file(f, table.schema) as w:
            w.write_table(table)
    truncated = tmp_path / "trunc.arrow"
    truncated.write_bytes(whole.read_bytes()[:-6])
    with pytest.raises(ValueError, match="trunc.arrow"):
        sniff_ipc_kind(str(truncated))

    # valid payloads still classify
    assert sniff_ipc_kind(str(whole)) == "file"
    stream = tmp_path / "s.ipc"
    with pa.OSFile(str(stream), "wb") as f:
        with pa.ipc.new_stream(f, table.schema) as w:
            w.write_table(table)
    assert sniff_ipc_kind(str(stream)) == "stream"


def _write_long(out: bytearray, n: int) -> None:
    z = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _write_bytes(out: bytearray, data: bytes) -> None:
    _write_long(out, len(data))
    out += data


def write_avro(
    path: str,
    rows: list[dict[str, Any]],
    fields: list[tuple[str, str, bool]],
    codec: str = "null",
    records_per_block: int = 1000,
) -> None:
    """Deterministic single-file Avro container writer (Apache Avro 1.11
    "Object Container Files"), the fixture encoder of the reader tests.
    ``fields``: [(name, primitive, nullable)]."""
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"Avro codec {codec!r}")
    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": n, "type": (["null", p] if nullable else p)}
            for n, p, nullable in fields
        ],
    }
    sync = bytes(range(16))  # fixed marker: deterministic fixtures

    out = bytearray(_MAGIC)
    meta = {
        "avro.schema": json.dumps(schema).encode("utf-8"),
        "avro.codec": codec.encode("utf-8"),
    }
    _write_long(out, len(meta))
    for k in sorted(meta):
        _write_bytes(out, k.encode("utf-8"))
        _write_bytes(out, meta[k])
    _write_long(out, 0)
    out += sync

    def encode_value(blk: bytearray, prim: str, v: Any) -> None:
        if prim == "boolean":
            blk.append(1 if v else 0)
        elif prim in ("int", "long"):
            _write_long(blk, int(v))
        elif prim == "float":
            blk += struct.pack("<f", float(v))
        elif prim == "double":
            blk += struct.pack("<d", float(v))
        elif prim == "string":
            _write_bytes(blk, str(v).encode("utf-8"))
        elif prim == "bytes":
            _write_bytes(blk, bytes(v))
        else:
            raise NotImplementedError(prim)

    for lo in range(0, len(rows), records_per_block):
        chunk = rows[lo : lo + records_per_block]
        blk = bytearray()
        for row in chunk:
            for name, prim, nullable in fields:
                v = row.get(name)
                if nullable:
                    if v is None:
                        _write_long(blk, 0)
                        continue
                    _write_long(blk, 1)
                elif v is None:
                    raise ValueError(f"NULL in non-nullable field {name!r}")
                encode_value(blk, prim, v)
        payload = bytes(blk)
        if codec == "deflate":
            co = zlib.compressobj(9, zlib.DEFLATED, -15)
            payload = co.compress(payload) + co.flush()
        _write_long(out, len(chunk))
        _write_long(out, len(payload))
        out += payload
        out += sync

    with open(path, "wb") as f:
        f.write(bytes(out))


def test_read_any_avro_round_trip_both_codecs(spark, tmp_path):
    """S14 Avro object-container source: stdlib spec-path reader,
    block-parallel, null + deflate codecs, nullable-union columns."""
    from data_pipelines_snowflake_procedures_spark.sources.discovery import read_any

    fields = [
        ("id", "long", False),
        ("name", "string", False),
        ("score", "double", True),
        ("flag", "boolean", False),
        ("small", "int", False),
    ]
    rows = [
        {
            "id": i,
            "name": f"n{i}",
            "score": None if i % 3 == 0 else i * 1.5,
            "flag": i % 2 == 0,
            "small": -i,
        }
        for i in range(1000)
    ]
    for codec in ("null", "deflate"):
        path = str(tmp_path / f"t_{codec}.avro")
        write_avro(path, rows, fields, codec=codec, records_per_block=300)
        df = read_any(spark, path)
        assert df.columns == ["id", "name", "score", "flag", "small"]
        assert [f.dataType.simpleString() for f in df.schema.fields] == [
            "bigint", "string", "double", "boolean", "int",
        ]
        got = {r.id: r for r in df.collect()}
        assert len(got) == 1000
        assert got[7].score == 10.5 and got[9].score is None
        assert got[4].flag is True and got[5].small == -5


def test_read_avro_empty_and_errors(spark, tmp_path):
    from data_pipelines_snowflake_procedures_spark.sources.avrofile import (
        read_avro,
    )

    fields = [("id", "long", False)]
    empty = str(tmp_path / "e.avro")
    write_avro(empty, [], fields)
    df = read_avro(spark, empty)
    assert df.count() == 0 and df.columns == ["id"]

    # corrupt sync marker fails fast on the driver, naming the path
    good = str(tmp_path / "g.avro")
    write_avro(good, [{"id": i} for i in range(10)], fields)
    data = bytearray(open(good, "rb").read())
    data[-1] ^= 0xFF  # flip a byte of the final sync marker
    bad = tmp_path / "bad.avro"
    bad.write_bytes(bytes(data))
    with pytest.raises(ValueError, match="bad.avro"):
        read_avro(spark, str(bad))

    # non-Avro payload
    garbage = tmp_path / "x.avro"
    garbage.write_bytes(b"not avro at all")
    with pytest.raises(ValueError, match="magic"):
        read_avro(spark, str(garbage))

    # nested schema rejected loudly
    import json

    nested = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "a", "type": {"type": "array", "items": "int"}}],
    }
    from data_pipelines_snowflake_procedures_spark.sources.avrofile import (
        _parse_record_schema,
    )

    with pytest.raises(NotImplementedError, match="nested"):
        _parse_record_schema(json.dumps(nested))
