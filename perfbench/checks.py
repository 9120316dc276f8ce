"""Correctness checks for every workload output, against DuckDB or the
generator's ground truth. Each check returns a list of problems (empty
means the output is correct); ``self_test`` proves each check fails on
a deliberately corrupted output.
"""

from __future__ import annotations

import datetime as dt
import glob
import math
import os

import duckdb

from data_pipelines_snowflake_procedures_spark.operators.security import PII_PATTERNS

#: Planted PII columns and the type the masker must pick for each.
PLANTED_PII = {"c_email": "EMAIL", "c_phone": "PHONE", "c_card": "CREDIT_CARD"}


def duck_source(path: str) -> str:
    """DuckDB table function reading ``path`` (file or Spark output dir)."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/*.parquet')"
    ext = os.path.splitext(path)[1]
    if ext == ".csv":
        return f"read_csv_auto('{path}', header=true)"
    if ext == ".json":
        return f"read_json_auto('{path}', format='newline_delimited')"
    return f"read_parquet('{path}')"


def _norm(v):
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    return v


def _key(row: tuple) -> tuple:
    return tuple((x is None, _norm(x) if x is not None else 0) for x in row)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    """Multiset equality with float tolerance."""
    if len(got) != len(want):
        return False
    g, w = sorted(got, key=_key), sorted(want, key=_key)
    return all(len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b)) for a, b in zip(g, w))


def check_sql_batch(report: dict, batch: list[dict], con: duckdb.DuckDBPyConnection) -> list[str]:
    """Statement outcomes must match the expected ones; every returned
    row set must equal DuckDB's result for the same statement. DuckDB
    replays the batch so DDL/DML state stays in step."""
    problems = []
    details = report.get("details", [])
    if len(details) != len(batch):
        return [f"batch: {len(details)} statement reports for {len(batch)} statements"]
    for st, d in zip(batch, details):
        ok = d.get("status") == "SUCCESS"
        if ok != (st["expect"] == "ok"):
            problems.append(f"statement {st['spark'][:60]!r}: status {d.get('status')}, expected {st['expect']}")
            continue
        if not ok:
            continue
        try:
            cur = con.execute(st["duck"])
        except duckdb.Error as exc:
            problems.append(f"statement {st['duck'][:60]!r}: DuckDB failed: {exc}")
            continue
        if not st["rows"]:
            continue
        want = cur.fetchall()
        got = [tuple(r.values()) for r in d.get("rows", [])]
        if d.get("rows_truncated"):
            problems.append(f"statement {st['spark'][:60]!r}: truncated result")
        elif not rows_match(got, [tuple(r) for r in want]):
            problems.append(f"statement {st['spark'][:60]!r}: rows differ from DuckDB")
    return problems


def file_dq_truth(path: str, con: duckdb.DuckDBPyConnection) -> dict[str, dict[str, float]]:
    """Completeness and uniqueness per column from DuckDB count /
    count(DISTINCT) over the same file."""
    src = duck_source(path)
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
    exprs = ", ".join(f'count("{c}"), count(DISTINCT "{c}")' for c in cols)
    row = con.execute(f"SELECT count(*), {exprs} FROM {src}").fetchone()
    n = max(row[0], 1)
    return {
        c: {"completeness": row[1 + 2 * i] / n, "uniqueness": row[2 + 2 * i] / n}
        for i, c in enumerate(cols)
    }


def check_file_dq(result: dict, truth: dict[str, dict[str, float]], rows: int) -> list[str]:
    """discover_and_run_dq envelope: SUCCESS, the row count, and every
    completeness/uniqueness rule equal to the truth (to the program's
    6-decimal rounding)."""
    if result.get("status") != "SUCCESS":
        return [f"file dq: status {result.get('status')}: {result.get('error', '')[:200]}"]
    problems = []
    if result["file_definition"]["row_count"] != rows:
        problems.append(f"file dq: row_count {result['file_definition']['row_count']} != {rows}")
    seen = set()
    for r in result["dq_auto_check_result"]["rules"]:
        if r["pillar"] in ("completeness", "uniqueness"):
            want = truth.get(r["column"], {}).get(r["pillar"])
            seen.add((r["column"], r["pillar"]))
            if want is None or abs(r["result"] - want) > 1.5e-6:
                problems.append(f"file dq: {r['pillar']} of {r['column']} = {r['result']}, expected {want}")
    missing = {(c, p) for c in truth for p in ("completeness", "uniqueness")} - seen
    if missing:
        problems.append(f"file dq: rules missing for {sorted(missing)[:4]}")
    return problems


def check_table_dq(result: dict, rows: int) -> list[str]:
    """run_table_dq: every column profiled over all rows, no nulls (the
    generated tables have none), a table score in [0, 1]."""
    problems = []
    for col, prof in result.get("profiling", {}).items():
        if int(prof["count_all"]) != rows or int(prof["count_nulls"]) != 0:
            problems.append(f"table dq: {col} count_all={prof['count_all']} nulls={prof['count_nulls']}, expected {rows}/0")
    if not result.get("profiling"):
        problems.append("table dq: no profiling")
    if not 0.0 <= result.get("table_score", -1) <= 1.0:
        problems.append(f"table dq: table_score {result.get('table_score')}")
    return problems


def check_masked(out: str, pii_info: dict[str, list[str]], string_cols: set[str], con: duckdb.DuckDBPyConnection) -> list[str]:
    """Every planted PII column the read typed as string was detected
    with its type, and no masked column holds a PII_PATTERNS match."""
    problems = []
    for col, typ in PLANTED_PII.items():
        if col in string_cols and (pii_info.get(col) or [None])[0] != typ:
            problems.append(f"mask: {col} detected as {pii_info.get(col)}, expected {typ}")
    src = duck_source(out)
    checks = [
        f"count(*) FILTER (WHERE regexp_matches(\"{c}\", '{pat}'))"
        for c in pii_info if c in PLANTED_PII
        for pat in PII_PATTERNS.values()
    ]
    if checks:
        hits = con.execute(f"SELECT {', '.join(checks)} FROM {src}").fetchone()
        if any(hits):
            problems.append(f"mask: {sum(hits)} PII matches left in masked columns of {os.path.basename(out)}")
    return problems


def check_scd1(out: str, target: str, increment: str, keys: list[str], con: duckdb.DuckDBPyConnection) -> list[str]:
    """SCD1 output holds exactly one row per key; every key of the
    increment carries its latest version and comment; every target key
    survives."""
    k = ", ".join(keys)
    on = " AND ".join(f"o.{c} = i.{c}" for c in keys)
    comment = [c for c in con.execute(f"DESCRIBE SELECT * FROM {duck_source(increment)}").fetchall() if c[0].endswith("_comment")][0][0]
    rows, distinct = con.execute(f"SELECT count(*), count(DISTINCT ({k})) FROM {duck_source(out)}").fetchone()
    want = con.execute(
        f"SELECT count(*) FROM (SELECT {k} FROM {duck_source(target)} UNION SELECT {k} FROM {duck_source(increment)})"
    ).fetchone()[0]
    stale = con.execute(
        f"""SELECT count(*) FROM (
              SELECT {k}, row_version, {comment} FROM {duck_source(increment)}
              QUALIFY row_number() OVER (PARTITION BY {k} ORDER BY row_version DESC) = 1) i
            LEFT JOIN {duck_source(out)} o ON {on}
            WHERE o.row_version IS DISTINCT FROM i.row_version OR o.{comment} IS DISTINCT FROM i.{comment}"""
    ).fetchone()[0]
    problems = []
    if rows != distinct:
        problems.append(f"scd1: {rows} rows for {distinct} keys")
    if distinct != want:
        problems.append(f"scd1: {distinct} keys, expected {want}")
    if stale:
        problems.append(f"scd1: {stale} keys not at their latest version")
    return problems


def check_glossary(result: dict, n_cols: int) -> list[str]:
    if result.get("status") != "SUCCESS" or result.get("columns_defined") != n_cols:
        return [f"glossary: {result.get('status')} {result.get('columns_defined')} of {n_cols} columns"]
    return []


def check_interpret(result: dict, task_type: str) -> list[str]:
    if result.get("status") != "SUCCESS" or result.get("task_type") != task_type:
        return [f"interpret: {result.get('status')} {result.get('task_type')} != {task_type}"]
    return []


def check_codegen(result: dict, task_type: str) -> list[str]:
    if result.get("status") != "SUCCESS" or result.get("task_type") != task_type or not result.get("sql_code"):
        return [f"codegen: {result.get('status')} {result.get('task_type')} != {task_type}"]
    return []


def check_ingestion(result: dict, rows: int, task_type: str) -> list[str]:
    """ingestion_code_generator: the file's row count, the objective's
    task type and at least one DQ rule."""
    if result.get("status") != "SUCCESS":
        return [f"ingestion: {result.get('status')} {result.get('error', '')[:200]}"]
    problems = []
    if result["file_definition"]["row_count"] != rows:
        problems.append(f"ingestion: row_count {result['file_definition']['row_count']} != {rows}")
    if result.get("task_type") != task_type:
        problems.append(f"ingestion: task_type {result.get('task_type')} != {task_type}")
    if not result["dq_summary"]["total_rules"]:
        problems.append("ingestion: no DQ rules")
    return problems


def planted_recall(kept: set[int], truth: dict) -> float:
    """Share of planted duplicates (all cluster members but one) that
    the pipeline removed."""
    dups = removed = 0
    for members in truth["clusters"]:
        survivors = sum(1 for m in members if m in kept)
        dups += len(members) - 1
        removed += len(members) - max(survivors, 1)
    return removed / max(dups, 1)


#: Recall the dedup pipeline must reach on the planted clusters.
MIN_RECALL = 0.95


def check_corpus(kept: set[int], truth: dict) -> list[str]:
    """Planted recall at least MIN_RECALL, one survivor per cluster,
    every unique document kept, every junk document dropped."""
    problems = []
    recall = planted_recall(kept, truth)
    if recall < MIN_RECALL:
        problems.append(f"corpus: planted recall {recall:.3f} < {MIN_RECALL}")
    empty = sum(1 for m in truth["clusters"] if not any(x in kept for x in m))
    if empty:
        problems.append(f"corpus: {empty} planted clusters lost every member")
    lost = sum(1 for d in truth["unique_ids"] if d not in kept)
    if lost:
        problems.append(f"corpus: {lost} unique documents removed")
    junk = sum(1 for d in truth["junk_ids"] if d in kept)
    if junk:
        problems.append(f"corpus: {junk} junk documents kept")
    return problems


def self_test(samples: dict, con: duckdb.DuckDBPyConnection, scratch: str) -> list[str]:
    """Run each check on a corrupted copy of an output the run produced
    and report every check that failed to notice. ``samples`` holds one
    recorded (inputs, output) example per check kind."""
    missed = []
    if "sql" in samples:
        report, batch = samples["sql"]
        bad = _corrupt_sql(report, batch)
        if bad is not None and not check_sql_batch(bad, batch, con):
            missed.append("sql")
    if "file_dq" in samples:
        result, truth, rows = samples["file_dq"]
        bad = {**result, "dq_auto_check_result": {"rules": [
            {**r, "result": r["result"] - 0.01} if r["pillar"] == "uniqueness" else r
            for r in result["dq_auto_check_result"]["rules"]
        ]}}
        if not check_file_dq(bad, truth, rows):
            missed.append("file_dq")
    if "table_dq" in samples:
        result, rows = samples["table_dq"]
        if not check_table_dq(result, rows + 1):
            missed.append("table_dq")
    if "mask" in samples:
        _, pii_info, string_cols, source = samples["mask"]
        # the unmasked input holds the planted PII in the same columns
        if not check_masked(source, pii_info, string_cols, con):
            missed.append("mask")
    if "scd1" in samples:
        out, target, inc, keys = samples["scd1"]
        dup = os.path.join(scratch, "selftest_scd1")
        os.makedirs(dup, exist_ok=True)
        # every row once, one of them twice: only the one-row-per-key
        # test can catch it
        con.execute(
            f"COPY (SELECT * FROM {duck_source(out)} UNION ALL (SELECT * FROM {duck_source(out)} LIMIT 1)) "
            f"TO '{dup}/part-0.parquet' (FORMAT parquet)"
        )
        # an output with stale rows: the target as-is
        stale = target
        if not check_scd1(dup, target, inc, keys, con) or not check_scd1(stale, target, inc, keys, con):
            missed.append("scd1")
        for f in glob.glob(f"{dup}/*"):
            os.remove(f)
    if "glossary" in samples:
        result, n_cols = samples["glossary"]
        if not check_glossary({**result, "columns_defined": n_cols - 1}, n_cols):
            missed.append("glossary")
    for kind, check in (("interpret", check_interpret), ("codegen", check_codegen)):
        if kind in samples:
            result, task_type = samples[kind]
            if not check({**result, "task_type": f"not_{task_type}"}, task_type):
                missed.append(kind)
    if "ingestion" in samples:
        result, rows, task_type = samples["ingestion"]
        bad = {**result, "file_definition": {**result["file_definition"], "row_count": rows - 1}}
        if not check_ingestion(bad, rows, task_type):
            missed.append("ingestion")
    if "corpus" in samples:
        kept, truth = samples["corpus"]
        every = set(kept) | {m for c in truth["clusters"] for m in c}
        if not check_corpus(every, truth):
            missed.append("corpus")
    return missed


def _corrupt_sql(report: dict, batch: list[dict]):
    """Flip the first returned value of the first row-producing
    statement, or the status of the first statement."""
    details = [dict(d) for d in report["details"]]
    for d in details:
        rows = d.get("rows")
        if rows:
            first = dict(rows[0])
            k = next(iter(first))
            v = first[k]
            first[k] = (v + 1) if isinstance(v, (int, float)) else f"{v}x"
            d["rows"] = [first] + rows[1:]
            return {**report, "details": details}
    if details:
        details[0]["status"] = "FAILED" if details[0]["status"] == "SUCCESS" else "SUCCESS"
        return {**report, "details": details}
    return None
