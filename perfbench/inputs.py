"""Seeded input generator for the benchmark workloads.

Everything the program reads is generated here from ``--seed``: TPC-H
shaped tables (customer with planted e-mail, phone and card columns,
orders, lineitem, nation, region), staged as csv, json and parquet; tiny
xlsx and xml files written with stdlib ``zipfile``/XML; SCD1 increments
with a version column; and a text corpus with planted exact and near
duplicate clusters. Outputs are cached on disk under one directory per
(workload, seed, generator version), so repeated runs with a seed skip
generation.

The generator also returns the ground truth the correctness checks need
that no engine can recompute from the files (the planted duplicate
clusters and the xlsx/xml column statistics).
"""

from __future__ import annotations

import json
import os
import shutil
import string
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: Bump when the generated layout changes so stale caches are rebuilt.
GENERATOR_VERSION = 6

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
INSTRUCTS = ["COLLECT COD", "DELIVER IN PERSON", "NONE", "TAKE BACK RETURN"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DOMAINS = ["example.com", "mail.test", "corp.example.org", "inbox.test"]
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"]

#: agent_session table sizes: small on purpose, per-call fixed cost
#: dominates an agent session.
AGENT_SIZES = {"customer": 1500, "orders": 6000, "lineitem": 24000}
#: Rows in the xlsx/xml files of agent_session.
OFFICE_ROWS = 300
#: corpus_dedup corpus: unique base documents, planted clusters and
#: cluster size.
CORPUS_SHAPE = (1000, 100, 4)
#: Distinct generator streams per workload, so seeds do not collide.
WORKLOAD_STREAM = {"agent_session": 0, "corpus_dedup": 1}
#: Columns of the small per-format files agent_session discovers: five
#: per table, as a user-uploaded extract would have.
SMALL_FILES = {
    "customer": (400, ["c_custkey", "c_name", "c_phone", "c_email", "c_mktsegment"]),
    "orders": (600, ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]),
    "lineitem": (500, ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipmode"]),
}


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list(string.ascii_lowercase))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, k)))
    return sorted(words)


def _sentences(rng: np.random.Generator, vocab: list[str], n: int, lo: int, hi: int) -> list[str]:
    """``n`` word strings of ``lo``..``hi`` words drawn from ``vocab``."""
    v = np.array(vocab)
    lens = rng.integers(lo, hi + 1, n)
    flat = rng.choice(v, int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(flat[pos : pos + k]))
        pos += k
    return out


def _digits(rng: np.random.Generator, n: int, k: int) -> list[str]:
    d = rng.integers(0, 10, (n, k)).astype(np.uint8) + ord("0")
    return [row.tobytes().decode() for row in d]


def _dates(rng: np.random.Generator, n: int, start: str = "1993-01-01", days: int = 2400) -> np.ndarray:
    return np.datetime64(start) + rng.integers(0, days, n).astype("timedelta64[D]")


def make_tables(rng: np.random.Generator, sizes: dict[str, int]) -> dict[str, pa.Table]:
    """TPC-H shaped tables. Customer carries the planted PII columns
    ``c_email``, ``c_phone`` (``+1`` and 10 contiguous digits, which
    csv schema inference keeps a string) and ``c_card`` (16 contiguous
    digits); the other string columns hold no PII-shaped values."""
    vocab = _vocab(rng, 400)
    nc, no, nl = sizes["customer"], sizes["orders"], sizes["lineitem"]
    ck = np.arange(1, nc + 1, dtype=np.int64)
    first = _vocab(rng, 200)
    customer = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:07d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int64),
        "c_phone": ["+1 " + d for d in _digits(rng, nc, 10)],
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
        "c_email": [
            f"{first[i]}.{first[j]}{k}@{DOMAINS[d]}"
            for i, j, k, d in zip(
                rng.integers(0, 200, nc), rng.integers(0, 200, nc), ck, rng.integers(0, 4, nc)
            )
        ],
        "c_card": ["4" + d for d in _digits(rng, nc, 15)],
        "c_comment": _sentences(rng, vocab, nc, 4, 12),
    })
    ok = np.arange(1, no + 1, dtype=np.int64) * 4
    orders = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, nc + 1, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(900.0, 500000.0, no), 2),
        "o_orderdate": _dates(rng, no),
        "o_orderpriority": rng.choice(PRIORITIES, no),
        "o_clerk": [f"Clerk#{k:05d}" for k in rng.integers(1, 1000, no)],
        "o_shippriority": np.zeros(no, dtype=np.int64),
        "o_comment": _sentences(rng, vocab, no, 3, 10),
    })
    # lineitem: 1..7 lines per order, truncated to nl rows
    per = rng.integers(1, 8, no)
    l_ok = np.repeat(ok, per)[:nl]
    l_ln = np.concatenate([np.arange(1, p + 1) for p in per])[:nl].astype(np.int64)
    nl = len(l_ok)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = _dates(rng, nl)
    lineitem = pa.table({
        "l_orderkey": l_ok,
        "l_partkey": rng.integers(1, 20000, nl).astype(np.int64),
        "l_suppkey": rng.integers(1, 1000, nl).astype(np.int64),
        "l_linenumber": l_ln,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": ship,
        "l_commitdate": ship + rng.integers(-30, 30, nl).astype("timedelta64[D]"),
        "l_receiptdate": ship + rng.integers(1, 31, nl).astype("timedelta64[D]"),
        "l_shipinstruct": rng.choice(INSTRUCTS, nl),
        "l_shipmode": rng.choice(SHIPMODES, nl),
        "l_comment": _sentences(rng, vocab, nl, 2, 8),
    })
    nation = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int64),
        "n_name": [f"NATION_{_vocab(rng, 1)[0].upper()}_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int64),
    })
    region = pa.table({"r_regionkey": np.arange(5, dtype=np.int64), "r_name": REGIONS})
    return {
        "customer": customer, "orders": orders, "lineitem": lineitem,
        "nation": nation, "region": region,
    }


#: Table -> SCD1 key columns.
SCD_KEYS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
}


def make_increment(rng: np.random.Generator, table: pa.Table, name: str) -> pa.Table:
    """An SCD1 source batch: ~5% of existing keys updated up to three
    times each (``row_version`` 1..3, distinct per key) plus ~2% new
    keys. Every increment row's comment column records its version, so
    a merge that keeps a stale version is visible."""
    n = table.num_rows
    keys = SCD_KEYS[name]
    pick = rng.choice(n, max(1, n // 20), replace=False)
    upd = table.take(pa.array(pick))
    parts = []
    for v in (1, 2, 3):
        keep = rng.random(len(pick)) < (1.0 if v == 1 else 0.5)
        part = upd.filter(pa.array(keep))
        parts.append(part.append_column("row_version", pa.array(np.full(part.num_rows, v, dtype=np.int64))))
    new_n = max(1, n // 50)
    fresh = table.take(pa.array(rng.choice(n, new_n, replace=False)))
    cols = {c: fresh.column(c) for c in fresh.column_names}
    first_key = keys[0]
    base = int(pc.max(table.column(first_key)).as_py())
    cols[first_key] = pa.array(np.arange(base + 1, base + 1 + new_n, dtype=np.int64))
    fresh = pa.table(cols).append_column("row_version", pa.array(np.ones(new_n, dtype=np.int64)))
    inc = pa.concat_tables(parts + [fresh])
    # a visible payload change: the comment column records the version
    comment = [c for c in inc.column_names if c.endswith("_comment")][0]
    vals = [f"{c} rev{v}" for c, v in zip(inc.column(comment).to_pylist(), inc.column("row_version").to_pylist())]
    return inc.set_column(inc.column_names.index(comment), comment, pa.array(vals))


def _with_version0(table: pa.Table) -> pa.Table:
    return table.append_column("row_version", pa.array(np.zeros(table.num_rows, dtype=np.int64)))


def write_formats(table: pa.Table, stem: str, fmts: tuple[str, ...]) -> dict[str, str]:
    """Stage ``table`` as ``<stem>.<fmt>`` for each format; returns paths."""
    out = {}
    for fmt in fmts:
        path = f"{stem}.{fmt}"
        if fmt == "parquet":
            pq.write_table(table, path)
        elif fmt == "csv":
            pacsv.write_csv(table, path)
        elif fmt == "json":
            cols = table.column_names
            pylists = [
                [str(x) if x is not None and not isinstance(x, (int, float, str)) else x
                 for x in table.column(c).to_pylist()]
                for c in cols
            ]
            with open(path, "w") as f:
                for row in zip(*pylists):
                    f.write(json.dumps(dict(zip(cols, row))) + "\n")
        else:
            raise ValueError(fmt)
        out[fmt] = path
    return out


def _col_truth(header: list[str], rows: list[list]) -> dict[str, dict[str, float]]:
    """Completeness/uniqueness of each column of a small record set."""
    n = max(len(rows), 1)
    out = {}
    for i, h in enumerate(header):
        vals = [r[i] for r in rows if r[i] is not None]
        out[h] = {"completeness": len(vals) / n, "uniqueness": len(set(vals)) / n}
    return out


def _office_rows(rng: np.random.Generator, n: int) -> tuple[list[str], list[list]]:
    """Records for the xlsx/xml files: int id, string name with ~5%
    missing, double score, bool flag, string segment."""
    header = ["rec_id", "name", "score", "active", "segment"]
    names = _vocab(rng, n)
    rows = []
    for i in range(n):
        name = None if rng.random() < 0.05 else f"{names[i]}_{i % 37}x"
        rows.append([
            i + 1, name, round(float(rng.uniform(-100, 100)), 3),
            bool(rng.random() < 0.5), SEGMENTS[int(rng.integers(0, 5))],
        ])
    return header, rows


def write_xlsx(path: str, header: list[str], rows: list[list]) -> None:
    """Minimal spec-conformant .xlsx via stdlib zipfile: header as shared
    strings, numbers as numeric cells, booleans as ``t="b"``, strings as
    inline strings, missing values as absent cells."""
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="{ns}" count="{len(header)}" uniqueCount="{len(header)}">'
        + "".join(f"<si><t>{escape(h)}</t></si>" for h in header)
        + "</sst>"
    )

    def col(i: int) -> str:
        return string.ascii_uppercase[i]

    body = ['<row r="1">' + "".join(
        f'<c r="{col(i)}1" t="s"><v>{i}</v></c>' for i in range(len(header))
    ) + "</row>"]
    for r, row in enumerate(rows, start=2):
        cells = []
        for i, v in enumerate(row):
            ref = f"{col(i)}{r}"
            if v is None:
                continue
            if isinstance(v, bool):
                cells.append(f'<c r="{ref}" t="b"><v>{int(v)}</v></c>')
            elif isinstance(v, (int, float)):
                cells.append(f'<c r="{ref}"><v>{v!r}</v></c>')
            else:
                cells.append(f'<c r="{ref}" t="inlineStr"><is><t>{escape(v)}</t></is></c>')
        body.append(f'<row r="{r}">' + "".join(cells) + "</row>")
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{ns}"><sheetData>' + "".join(body) + "</sheetData></worksheet>"
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{ns}"><sheets><sheet name="Sheet1" sheetId="1" r:id="rId1" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"/>'
        "</sheets></workbook>"
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        "</Types>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/sharedStrings.xml", sst)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def write_xml(path: str, header: list[str], rows: list[list]) -> None:
    """Record-oriented XML: ``rec_id`` as an attribute, the other
    present values as child elements."""
    parts = ["<records>"]
    for row in rows:
        parts.append(f'<rec {header[0]}="{row[0]}">')
        for h, v in zip(header[1:], row[1:]):
            if v is None:
                continue
            text = ("true" if v else "false") if isinstance(v, bool) else escape(str(v))
            parts.append(f"<{h}>{text}</{h}>")
        parts.append("</rec>")
    parts.append("</records>")
    with open(path, "w") as f:
        f.write("".join(parts))


def make_corpus(rng: np.random.Generator, n_unique: int, n_clusters: int, cluster_size: int) -> tuple[pa.Table, dict]:
    """A corpus of English-like documents with planted duplicates.

    ``n_unique`` base documents of 60-160 words (a 3000-word synthetic
    vocabulary with English stopwords mixed in, so every base document
    passes the quality and language gates). The first ``n_clusters``
    bases each get ``cluster_size - 1`` copies: one exact copy with
    case and whitespace changed, the rest near duplicates with one word
    substituted. ~4% extra junk documents (too short, or Spanish) are
    removed by cleaning. Document ids are shuffled.
    """
    vocab = _vocab(rng, 3000)
    words = np.array(vocab + EN_STOPWORDS * 60)
    bases = []
    for _ in range(n_unique):
        k = int(rng.integers(60, 161))
        bases.append(list(rng.choice(words, k)))
    texts, cluster_of = [], []
    for i, b in enumerate(bases):
        texts.append(" ".join(b))
        cluster_of.append(i if i < n_clusters else -1)
    for c in range(n_clusters):
        base = bases[c]
        for j in range(cluster_size - 1):
            if j == 0:
                t = "  ".join(w.upper() if w[0] in "aeiou" else w for w in base)
            else:
                w = list(base)
                pos = int(rng.integers(0, len(w)))
                w[pos] = vocab[int(rng.integers(0, len(vocab)))]
                t = " ".join(w)
            texts.append(t)
            cluster_of.append(c)
    n_junk = max(1, n_unique // 25)
    for j in range(n_junk):
        if j % 2:
            texts.append("el la de los " * int(rng.integers(8, 20)))
        else:
            texts.append("tiny doc")
        cluster_of.append(-2)
    ids = rng.permutation(len(texts)).astype(np.int64) + 1
    table = pa.table({"doc_id": ids, "text": texts})
    clusters: dict[int, list[int]] = {}
    for did, c in zip(ids.tolist(), cluster_of):
        if c >= 0:
            clusters.setdefault(c, []).append(did)
    truth = {
        "clusters": list(clusters.values()),
        "unique_ids": [d for d, c in zip(ids.tolist(), cluster_of) if c == -1],
        "junk_ids": [d for d, c in zip(ids.tolist(), cluster_of) if c == -2],
    }
    return table, truth


def generate(root: str, workload: str, seed: int) -> dict:
    """Generate (or reuse) the inputs of ``workload`` for ``seed`` under
    ``root``; returns the manifest (paths and ground truth)."""
    out = os.path.join(root, f"{workload}-s{seed}-v{GENERATOR_VERSION}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, WORKLOAD_STREAM[workload]])
    manifest: dict = {"workload": workload, "seed": seed, "dir": out, "tables": {}, "files": {}, "increments": {}}

    def rel(p: str) -> str:
        return os.path.join(out, os.path.relpath(p, tmp))

    if workload == "agent_session":
        tables = make_tables(rng, AGENT_SIZES)
        for name, t in tables.items():
            if name in SCD_KEYS:
                t = _with_version0(t)
            p = os.path.join(tmp, f"{name}.parquet")
            pq.write_table(t, p)
            manifest["tables"][name] = {"path": rel(p), "rows": t.num_rows}
        for name in SCD_KEYS:
            inc = make_increment(rng, tables[name], name)
            p = os.path.join(tmp, f"{name}_inc.parquet")
            pq.write_table(inc, p)
            manifest["increments"][name] = {"path": rel(p), "rows": inc.num_rows, "keys": SCD_KEYS[name]}
        for name, (n, cols) in SMALL_FILES.items():
            t = tables[name].slice(0, n).select(cols)
            paths = write_formats(t, os.path.join(tmp, f"{name}_small"), ("csv", "json", "parquet"))
            manifest["files"][name] = {fmt: {"path": rel(p), "rows": n} for fmt, p in paths.items()}
        header, rows = _office_rows(rng, OFFICE_ROWS)
        write_xlsx(os.path.join(tmp, "records.xlsx"), header, rows)
        write_xml(os.path.join(tmp, "records.xml"), header, rows)
        truth = _col_truth(header, rows)
        for fmt in ("xlsx", "xml"):
            manifest["files"][f"records_{fmt}"] = {
                fmt: {"path": rel(os.path.join(tmp, f"records.{fmt}")), "rows": len(rows), "truth": truth}
            }
    else:
        table, truth = make_corpus(rng, *CORPUS_SHAPE)
        p = os.path.join(tmp, "documents.parquet")
        pq.write_table(table, p, row_group_size=max(1, table.num_rows // 8))
        manifest["corpus"] = {"path": rel(p), "rows": table.num_rows, "bytes": os.path.getsize(p), **truth}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return manifest
