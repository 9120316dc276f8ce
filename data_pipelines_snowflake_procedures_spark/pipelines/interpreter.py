"""Objective interpreter: catalog walk + relevance filter
(reference M1-M4/X5, Obj_Interpreter.sql, SURVEY.md §2.8).

Parity target: ``OBJ_INTERPRETER(OBJECTIVE)`` — fetch warehouse
metadata, keep only the tables relevant to the objective (column-name
token match or aggregation-keyword / numeric-type match), and return
an interpretation envelope.

The reference pulled INFORMATION_SCHEMA through an un-shipped helper
(Obj_Interpreter.sql:13,35) and asked an LLM to interpret the
objective. Here metadata comes from ``SHOW TABLES`` plus each table's
analysed schema (the native equivalent of M1-M3): an eager command
that runs no Spark job, where ``spark.catalog.listTables`` drains its
result through jobs. Interpretation is deterministic: the routing
keywords + relevance filter the reference applied *around* its LLM
call. An ``llm`` callable can be injected for free-text
interpretation; tests never require one.
"""

from __future__ import annotations

import datetime as _dt
import re
from typing import Any

from pyspark.sql import SparkSession

from .codegen import LLMComplete, classify_task

AGENT_NAME = "ObjectiveInterpreterAgent"

#: Aggregation-intent keywords that make numeric columns relevant
#: (Obj_Interpreter.sql:24 list).
NUMERIC_KEYWORDS = {"SUM", "AVG", "COUNT", "AMOUNT", "PRICE", "QUANTITY", "TOTAL"}

def fetch_catalog_metadata(
    spark: SparkSession, database: str | None = None
) -> list[dict[str, Any]]:
    """M1-M3: walk the Spark catalog into the metadata shape the
    generator consumes: [{table, columns: [{column_name, type}]}],
    temp views included. Types use the reference palette via the
    discovery mapper. No Spark job: ``SHOW TABLES`` runs eagerly on the
    driver, and a schema is read off the analysed plan."""
    from ..operators.profile import ident
    from ..sources.discovery import map_type_to_palette

    db = database or spark.catalog.currentDatabase()
    listing = spark.sql(f"SHOW TABLES IN {ident(db)}")
    out: list[dict[str, Any]] = []
    for name in (r["tableName"] for r in listing.collect()):
        try:
            schema = spark.table(name).schema
        except Exception:  # noqa: BLE001 — skip unreadable (e.g. dropped) tables
            continue
        out.append(
            {
                "table": name,
                "columns": [
                    {"column_name": f.name, "type": map_type_to_palette(f.dataType)}
                    for f in schema.fields
                ],
            }
        )
    return out


def filter_relevant_tables(
    tables: list[dict[str, Any]], objective: str
) -> list[dict[str, Any]]:
    """M4 relevance filter (Obj_Interpreter.sql:17-29 semantics): keep
    a table when any column name appears in the objective, or when the
    objective carries aggregation keywords and the table has numeric
    columns."""
    obj_upper = objective.upper()
    obj_tokens = set(re.findall(r"[A-Z0-9_]+", obj_upper))
    wants_numeric = bool(NUMERIC_KEYWORDS & obj_tokens)
    kept = []
    for t in tables:
        cols = t["columns"]
        name_hit = t["table"].upper() in obj_tokens or any(
            c["column_name"].upper() in obj_tokens for c in cols
        )
        numeric_hit = wants_numeric and any(
            c["type"] in ("NUMBER", "FLOAT") for c in cols
        )
        if name_hit or numeric_hit:
            kept.append(t)
    return kept


def interpret_objective(
    spark: SparkSession,
    objective: str,
    database: str | None = None,
    llm: LLMComplete | None = None,
) -> dict[str, Any]:
    """Full OBJ_INTERPRETER parity envelope: interpretation + filtered
    metadata + audit log (Obj_Interpreter.sql:62-76 shape)."""
    start = _dt.datetime.now(_dt.timezone.utc)
    try:
        tables = fetch_catalog_metadata(spark, database)
        relevant = filter_relevant_tables(tables, objective)
        task_type = classify_task(objective)
        if llm is not None:
            interpretation = llm(
                f"Interpret this data-engineering objective: {objective}"
            )
        else:
            interpretation = (
                f"Objective classified as '{task_type}'; "
                f"{len(relevant)} of {len(tables)} catalog tables relevant."
            )
        end = _dt.datetime.now(_dt.timezone.utc)
        return {
            "status": "SUCCESS",
            "objective": objective,
            "task_type": task_type,
            "interpretation": interpretation,
            "relevant_metadata": {"tables": relevant},
            "audit_log": {
                "agent_name": AGENT_NAME,
                "start_time": start.isoformat(),
                "end_time": end.isoformat(),
                "duration_seconds": round((end - start).total_seconds(), 4),
            },
        }
    except Exception as exc:  # noqa: BLE001 — error envelope (X7)
        return {"status": "FAILED", "error": str(exc), "agent_name": AGENT_NAME}
