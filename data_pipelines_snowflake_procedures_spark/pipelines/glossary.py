"""Business glossary lifecycle (reference S10-S12/M2/X5,
Business_Glossory.sql, SURVEY.md §2.8).

Parity target: ``GENERATE_BUSINESS_GLOSSARY_PY(DB,SCHEMA,TABLE)`` —
ensure a ``BUSINESS_GLOSSARY`` table exists, clear prior rows for the
target (or all), generate a business definition per column, persist,
and report.

Spark-first changes: the reference inserted one row per column with a
string-interpolated ``INSERT INTO … VALUES`` (Business_Glossory.sql:
85-89) — at scale that is N commits and an injection hazard. Here the
clear and the insert are ONE write (S11/S12 notes in SURVEY.md §2.1):
the other tables' rows are collected, the table truncated, and those
rows plus the new ones appended from a driver-side Arrow table — at
most two Spark jobs, and no Python worker. Identifiers are validated
instead of quote-escaped. Definitions come from a deterministic
template by default; inject ``llm`` to use a model
(Business_Glossory.sql:69-80 called Cortex COMPLETE)."""

from __future__ import annotations

import datetime as _dt
import re
from typing import Any

from pyspark.sql import SparkSession

from ..session import rows_frame
from .codegen import LLMComplete

AGENT_NAME = "BusinessGlossaryAgent"
GLOSSARY_TABLE = "BUSINESS_GLOSSARY"

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _check_ident(name: str) -> str:
    if not _IDENT.match(name):
        raise ValueError(f"invalid identifier: {name!r}")
    return name


def ensure_glossary_table(spark: SparkSession, table: str = GLOSSARY_TABLE) -> None:
    """S10: CREATE TABLE IF NOT EXISTS with the reference's four STRING
    columns (Business_Glossory.sql:19-26)."""
    _check_ident(table)
    spark.sql(
        f"""CREATE TABLE IF NOT EXISTS {table} (
            TABLE_NAME STRING,
            COLUMN_NAME STRING,
            DATA_TYPE STRING,
            BUSINESS_DEFINITION STRING
        ) USING parquet"""
    )


def replace_glossary_rows(
    spark: SparkSession,
    table_name: str,
    records: list[tuple[str, str, str, str]],
    table: str = GLOSSARY_TABLE,
) -> None:
    """S11+S12: replace the glossary rows of ``table_name`` with
    ``records`` in one write. Plain-parquet tables don't support
    DELETE (SURVEY.md §2.1 S12), so the other tables' rows are
    collected (the glossary is metadata-sized: one row per column),
    the table truncated, and those rows plus ``records`` appended
    together: two Spark jobs, the collect and the append."""
    _check_ident(table)
    glossary = spark.table(table)
    kept = glossary.filter(f"TABLE_NAME <> '{_check_ident(table_name)}'").collect()
    spark.sql(f"TRUNCATE TABLE {table}")
    rows_frame(spark, [*kept, *records], glossary.schema).write.mode(
        "append"
    ).saveAsTable(table)


def template_definition(table: str, column: str, data_type: str) -> str:
    """Deterministic definition generator (LLM fallback): readable,
    type-aware one-liner."""
    pretty = column.replace("_", " ").strip().lower()
    kind = {
        "NUMBER": "numeric measure or identifier",
        "FLOAT": "numeric measure",
        "VARCHAR": "descriptive attribute",
        "BOOLEAN": "yes/no indicator",
        "TIMESTAMP": "point-in-time attribute",
    }.get(data_type, "attribute")
    return f"'{pretty}' — {kind} of {table.lower()} records (type {data_type})."


def generate_business_glossary(
    spark: SparkSession,
    table_name: str,
    glossary_table: str = GLOSSARY_TABLE,
    llm: LLMComplete | None = None,
) -> dict[str, Any]:
    """Full glossary pipeline parity envelope: ensure → per-column
    definitions → ONE write replacing the target's rows → report."""
    start = _dt.datetime.now(_dt.timezone.utc)
    try:
        from ..sources.discovery import map_type_to_palette

        _check_ident(table_name)
        ensure_glossary_table(spark, glossary_table)
        schema = spark.table(table_name).schema
        records = []
        for f in schema.fields:
            dtype = map_type_to_palette(f.dataType)
            if llm is not None:
                definition = llm(
                    f"Write a one-line business definition for column "
                    f"{f.name} ({dtype}) of table {table_name}."
                )
            else:
                definition = template_definition(table_name, f.name, dtype)
            records.append((table_name, f.name, dtype, definition))
        replace_glossary_rows(spark, table_name, records, glossary_table)
        end = _dt.datetime.now(_dt.timezone.utc)
        return {
            "status": "SUCCESS",
            "glossary_table": glossary_table,
            "target_table": table_name,
            "columns_defined": len(records),
            "definitions": {r[1]: r[3] for r in records},
            "audit_log": {
                "agent_name": AGENT_NAME,
                "start_time": start.isoformat(),
                "end_time": end.isoformat(),
                "duration_seconds": round((end - start).total_seconds(), 4),
            },
        }
    except Exception as exc:  # noqa: BLE001 — error envelope (X7)
        return {"status": "FAILED", "error": str(exc), "agent_name": AGENT_NAME}
