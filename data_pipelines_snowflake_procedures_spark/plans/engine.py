"""Multi-statement SQL batch executor (reference X1/X2, SURVEY.md §3.1).

Parity target: ``EXECUTION_ENGINE(SQL_CODE)``
(Execution_Engine_Ingestion_Transformatio.sql:18-115) — clean, split,
execute each statement with per-statement status + timing, continue on
failure, auto-preview up to five referenced tables, return a structured
report.

Spark-first notes:

* Each statement goes through ``spark.sql`` → Catalyst (parse /
  analyze / optimize / codegen). We only ``.collect()`` when the
  statement is a row-producing query, and then only a bounded number of
  rows (``row_cap``) — the reference collected every SELECT fully,
  which cannot work at 100 TB.
* DDL/DML statements execute eagerly with no row transfer.
* Previews are ``LIMIT``-bounded scans; on parquet these read one file
  split, not the table. A name the catalog does not hold when the batch
  ends (a table the batch dropped) is not previewed: the query would
  only fail analysis.
"""

from __future__ import annotations

import datetime as _dt
import time
from typing import Any

from pyspark.sql import SparkSession

from ..functions.sqltools import extract_table_names, split_statements

AGENT_NAME = "ExecutionEngineAgent"

#: Bounded result transfer for row-producing statements. The reference
#: collected unbounded SELECT results into the report; at scale that is
#: a driver OOM, so we cap and record ``rows_truncated``.
DEFAULT_ROW_CAP = 100
PREVIEW_ROWS = 5
PREVIEW_TABLE_CAP = 5


def _utcnow() -> _dt.datetime:
    return _dt.datetime.now(_dt.timezone.utc)


def execute_sql_batch(
    spark: SparkSession,
    sql_code: str,
    row_cap: int = DEFAULT_ROW_CAP,
    preview: bool = True,
) -> dict[str, Any]:
    """Run a multi-statement SQL batch, reporting per-statement outcome.

    Mirrors the reference report: status, counts, per-statement details
    with wall time, table previews, and an audit envelope. Failures are
    recorded and the batch continues (reference :67-95 semantics).
    """
    start = _utcnow()
    t0 = time.perf_counter()

    if not sql_code or not sql_code.strip():
        return {
            "status": "FAILED",
            "error": "Empty SQL code provided",
            "agent_name": AGENT_NAME,
        }

    statements = split_statements(sql_code)
    details: list[dict[str, Any]] = []
    preview_tables: list[str] = []
    successful = failed = 0

    for idx, stmt in enumerate(statements, start=1):
        st0 = time.perf_counter()
        entry: dict[str, Any] = {
            "statement_number": idx,
            "statement": stmt if len(stmt) <= 500 else stmt[:500] + "…",
        }
        try:
            df = spark.sql(stmt)
            # Row-producing statements return a non-empty schema; DDL /
            # DML commands come back with an empty schema and have
            # already executed eagerly.
            if df.schema.fields:
                rows = df.limit(row_cap + 1).collect()
                truncated = len(rows) > row_cap
                rows = rows[:row_cap]
                entry["rows"] = [r.asDict(recursive=True) for r in rows]
                entry["row_count"] = len(rows)
                entry["rows_truncated"] = truncated
            entry["status"] = "SUCCESS"
            successful += 1
            if preview:
                for t in extract_table_names(stmt, PREVIEW_TABLE_CAP):
                    if t.lower() not in (p.lower() for p in preview_tables):
                        preview_tables.append(t)
        except Exception as exc:  # noqa: BLE001 — per-statement isolation
            entry["status"] = "FAILED"
            entry["error"] = str(exc)
            failed += 1
        entry["execution_time_sec"] = round(time.perf_counter() - st0, 4)
        details.append(entry)

    previews: dict[str, Any] = {}
    if preview:
        for t in preview_tables:
            if len(previews) == PREVIEW_TABLE_CAP:
                break
            try:
                # a catalog lookup, no job: skips what the batch dropped
                if not spark.catalog.tableExists(t):
                    continue
                rows = spark.sql(
                    f"SELECT * FROM {t} LIMIT {PREVIEW_ROWS}"  # noqa: S608
                ).collect()
                previews[t] = [r.asDict(recursive=True) for r in rows]
            except Exception as exc:  # noqa: BLE001 — preview is best-effort
                previews[t] = {"error": str(exc)}

    end = _utcnow()
    return {
        "status": "SUCCESS" if failed == 0 else "PARTIAL" if successful else "FAILED",
        "total_statements": len(statements),
        "successful_statements": successful,
        "failed_statements": failed,
        "details": details,
        "table_previews": previews,
        "execution_time_sec": round(time.perf_counter() - t0, 4),
        "audit_log": {
            "agent_name": AGENT_NAME,
            "start_time": start.isoformat(),
            "end_time": end.isoformat(),
            "duration_seconds": round((end - start).total_seconds(), 4),
        },
    }
