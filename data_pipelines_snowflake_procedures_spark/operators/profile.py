"""Single-pass table profiling (reference Q7/A1-A4/P7, SURVEY.md §2.10).

Parity target: the profiling loop of ``DISCOVER_AND_RUN_DQ_AUTO_RULES``
(Data_Quality_Table.sql:62-104), which issues one 3-aggregate query per
column, another 4-aggregate query per numeric column, and another per
DATE column (N+1 full scans). Here every aggregate for every column is
computed in ONE ``df.selectExpr(...)`` job: Catalyst fuses them into a
single scan with partial (map-side) aggregation, so cost is one pass
over the table regardless of column count. The aggregates are SQL
text with every name quoted, not PySpark Column calls: each Column
call is a JVM round trip (about ten per column), and a quoted name may
hold a dot, a backtick or a space.

Scale note: exact ``countDistinct`` over k columns plans an Expand (k×
row multiplication before the shuffle). At 100 TB pass
``approx=True`` to use HyperLogLog sketches (``approx_count_distinct``)
— no Expand, mergeable state, ~2% error — the right trade for
profiling, where ratios feed 3-decimal-rounded scores anyway.
"""

from __future__ import annotations

import datetime as _dt
from decimal import ROUND_HALF_UP, Decimal
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..session import rows_frame

NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)
DATELIKE_TYPES = (T.DateType, T.TimestampType, T.TimestampNTZType)


def is_numeric(dtype: T.DataType) -> bool:
    return isinstance(dtype, NUMERIC_TYPES)


def is_datelike(dtype: T.DataType) -> bool:
    """Reference applies the future-date accuracy rule to DATE-typed
    columns (Data_Quality_Table.sql:147); we extend it to timestamps —
    the harness stores all dates as timestamps."""
    return isinstance(dtype, DATELIKE_TYPES)


def ident(name: str) -> str:
    """``name`` as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(text: str) -> str:
    """``text`` as a SQL string literal."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def round_half_up(x: float, places: int) -> float:
    """``x`` rounded to ``places`` decimals, halves away from zero, as
    Spark's and DuckDB's ``round`` do (Python's ``round`` rounds halves
    to even). Every score and ratio a profile or DQ record carries is
    rounded here."""
    return float(Decimal(str(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))


def _timestamp_sql(now: _dt.datetime | str) -> str:
    """``now`` as the SQL timestamp ``F.lit(now).cast("timestamp")``
    gives: a datetime becomes the instant PySpark converts it to (naive
    ones in the local time zone), anything else is cast from text."""
    if isinstance(now, _dt.datetime):
        return f"timestamp_micros({T.TimestampType().toInternal(now)})"
    return f"CAST({sql_str(str(now))} AS TIMESTAMP)"


def profile_aggregates(
    df: DataFrame,
    cols: list[str] | None = None,
    now: _dt.datetime | str | None = None,
    approx: bool = False,
) -> list[str]:
    """Build the flat aggregate list for one profiling pass, as SQL
    expressions for ``df.selectExpr``.

    Per column: distinct count, null count; numeric columns add
    avg/min/max/stddev; date-like columns add a future-value count
    against ``now`` (pinned, not CURRENT_TIMESTAMP, so results are
    reproducible and oracle-comparable). Output ``<column>__<stat>``.
    """
    cols = cols or df.columns
    schema = {f.name: f.dataType for f in df.schema.fields}
    aggs = ["count(1) AS count_all"]
    now_sql = _timestamp_sql(now) if now is not None else None
    for c in cols:
        q = ident(c)
        exprs = {
            "count_distinct": (
                f"approx_count_distinct({q}, 0.02)" if approx else f"count(DISTINCT {q})"
            ),
            "count_nulls": f"coalesce(sum(CASE WHEN {q} IS NULL THEN 1 ELSE 0 END), 0)",
        }
        if is_numeric(schema[c]):
            exprs.update({fn: f"{fn}({q})" for fn in ("avg", "min", "max", "stddev")})
        if is_datelike(schema[c]) and now_sql is not None:
            exprs["count_future"] = (
                f"coalesce(sum(CASE WHEN CAST({q} AS TIMESTAMP) > {now_sql} "
                "THEN 1 ELSE 0 END), 0)"
            )
        aggs += [f"{e} AS {ident(f'{c}__{k}')}" for k, e in exprs.items()]
    return aggs


def profile_table(
    df: DataFrame,
    cols: list[str] | None = None,
    now: _dt.datetime | str | None = None,
    approx: bool = False,
) -> dict[str, Any]:
    """Profile a table in one job; reference-shaped result.

    Returns ``{column: {count_all, count_distinct, count_nulls,
    null_ratio, distinct_ratio, data_type, numeric_stats,
    count_future?}}`` mirroring Data_Quality_Table.sql:79-104 (ratio
    denominators clamp at 1; ``numeric_stats`` is None for non-numeric
    columns; AVG stringified as the reference does).
    """
    cols = cols or df.columns
    schema = {f.name: f.dataType for f in df.schema.fields}
    row = df.selectExpr(*profile_aggregates(df, cols, now=now, approx=approx)).collect()[0]
    total = row["count_all"]
    out: dict[str, Any] = {}
    for c in cols:
        nulls = int(row[f"{c}__count_nulls"])
        # HyperLogLog can overshoot; no column has more distinct values
        # than non-null rows (the exact count never reaches the clamp)
        distinct = min(int(row[f"{c}__count_distinct"]), int(total) - nulls)
        prof: dict[str, Any] = {
            "count_all": int(total),
            "count_distinct": distinct,
            "count_nulls": nulls,
            "null_ratio": float(nulls) / max(int(total), 1),
            "distinct_ratio": float(distinct) / max(int(total), 1),
            "data_type": schema[c].simpleString(),
        }
        if is_numeric(schema[c]):
            prof["numeric_stats"] = {
                "AVG_VAL": str(row[f"{c}__avg"]),
                "MIN_VAL": row[f"{c}__min"],
                "MAX_VAL": row[f"{c}__max"],
                "STDDEV": row[f"{c}__stddev"],
            }
        else:
            prof["numeric_stats"] = None
        if f"{c}__count_future" in row.asDict():
            prof["count_future"] = int(row[f"{c}__count_future"])
        out[c] = prof
    return out


def profile_long(
    df: DataFrame, cols: list[str] | None = None, approx: bool = False
) -> DataFrame:
    """:func:`profile_table`'s counts and ratios as a frame, one row per
    column, ratios rounded to 6 decimals (an Arrow ``LocalRelation``;
    the profile pass is the one Spark job)."""
    prof = profile_table(df, cols, approx=approx)
    rows = [
        (
            c,
            p["count_all"],
            p["count_distinct"],
            p["count_nulls"],
            round_half_up(p["null_ratio"], 6),
            round_half_up(p["distinct_ratio"], 6),
        )
        for c, p in prof.items()
    ]
    return rows_frame(
        df.sparkSession,
        rows,
        "column_name STRING, count_all BIGINT, count_distinct BIGINT, "
        "count_nulls BIGINT, null_ratio DOUBLE, distinct_ratio DOUBLE",
    )
