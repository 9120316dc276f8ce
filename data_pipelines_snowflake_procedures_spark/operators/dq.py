"""Five-pillar data-quality rule engine (reference Q1-Q6, SURVEY.md §2.10).

Two engines, mirroring the reference:

* **Table engine** (``run_table_dq``) — parity with
  ``DISCOVER_AND_RUN_DQ_AUTO_RULES`` (Data_Quality_Table.sql:106-189):
  completeness = 1 - null_ratio, uniqueness = distinct_ratio, validity
  from the numeric AVG sign (1.0 / 0.5), accuracy = 1 - future-date
  ratio for date-like columns, consistency hardcoded 1.0 (the
  reference's stub, kept faithfully), column score = mean of the five
  *unrounded* pillar values rounded to 3 decimals, table score = mean
  of rounded column scores rounded to 3.

* **File engine** (``*_long`` rule frames, swept by
  sources/discovery.py ``run_file_dq_distributed``) — parity with
  ``DQ_DISCOVERY_AND_CHECKS`` (Data_Discovery_File.sql:97-313):
  pass/fail at 0.95 thresholds, numeric z-score(>3σ) outlier accuracy,
  string rare-value (<1% frequency) accuracy, pairwise
  functional-dependency consistency. Divergences from the reference
  (documented): validity ``result`` is a proper boolean, not the
  reference's ``str(valid)`` (Data_Discovery_File.sql:297), and a
  string column with no non-null value gets no rare-value record.

Scale design: every full-column statistic comes from the single-pass
profile (operators/profile.py). The z-score, rare-value and FD rules
are all answered by one stacked two-level aggregate
(:func:`per_value_rules`) instead of the reference's O(cols) / O(cols²)
separate scans: each row is copied once per checked column, grouped
by (column, value), and one global aggregate of conditional sums reads
every rule off those groups, fed the profile's mean, stddev and
non-null counts. The FD pair list is capped (``max_pairs``) for wide
tables.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .profile import is_datelike, is_numeric, profile_aggregates, profile_table

PASS_THRESHOLD = 0.95
RARE_FREQ = 0.01
ZSCORE = 3.0


# --------------------------------------------------------------------------
# Table engine (Data_Quality_Table.sql semantics)
# --------------------------------------------------------------------------


def score_table_pillars(
    prof: dict[str, Any], dtype_numeric: bool, dtype_datelike: bool
) -> dict[str, float]:
    """Pillar scores for one column from its profile (pure arithmetic,
    unit-testable; mirrors Data_Quality_Table.sql:109-173)."""
    completeness = 1.0 - prof["null_ratio"]
    uniqueness = prof["distinct_ratio"]
    if dtype_numeric and prof.get("numeric_stats"):
        avg_raw = prof["numeric_stats"]["AVG_VAL"]
        avg_val = float(avg_raw) if avg_raw not in (None, "None") else 0.0
        validity = 1.0 if avg_val >= 0 else 0.5
    else:
        validity = 1.0
    if dtype_datelike and "count_future" in prof:
        total = prof["count_all"]
        accuracy = 1.0 - (prof["count_future"] / total if total > 0 else 0.0)
    else:
        accuracy = 1.0
    consistency = 1.0
    column_score = (completeness + uniqueness + validity + accuracy + consistency) / 5
    return {
        "completeness": completeness,
        "uniqueness": uniqueness,
        "validity": validity,
        "accuracy": accuracy,
        "consistency": consistency,
        "column_score": column_score,
    }


def run_table_dq(
    df: DataFrame,
    table_name: str = "",
    now: _dt.datetime | str | None = None,
    approx: bool = False,
    related: dict[str, tuple[DataFrame, str]] | None = None,
) -> dict[str, Any]:
    """Full table DQ report in the reference's shape
    (Data_Quality_Table.sql:183-189): columns, profiling, dq_results
    with rule text + 3-decimal scores, table_score.

    One Spark job total (the profile pass) versus the reference's
    1 + N + numeric + date queries. ``now`` pins the future-date
    reference point; defaults to the current UTC time like the
    reference's CURRENT_TIMESTAMP().

    ``related`` upgrades the consistency pillar from the reference's
    hardcoded 1.0 stub (documented divergence, opt-in): map an FK
    column to ``(parent_df, pk_col)`` and its consistency score
    becomes the referential-integrity ratio (share of distinct child
    keys present in the parent) — one distinct-key anti-join per
    declared relation.
    """
    now = now or _dt.datetime.now(_dt.timezone.utc)
    schema = {f.name: f.dataType for f in df.schema.fields}
    profiling = profile_table(df, now=now, approx=approx)
    integrity: dict[str, float] = {}
    if related:
        from .integrity import referential_integrity

        for fk, (parent, pk) in related.items():
            row = referential_integrity(df, parent, fk, pk).collect()[0]
            integrity[fk] = float(row["integrity_ratio"])
    dq_results: dict[str, Any] = {}
    for col, prof in profiling.items():
        pillars = score_table_pillars(
            prof, is_numeric(schema[col]), is_datelike(schema[col])
        )
        if col in integrity:
            pillars["consistency"] = integrity[col]
            pillars["column_score"] = (
                pillars["completeness"]
                + pillars["uniqueness"]
                + pillars["validity"]
                + pillars["accuracy"]
                + pillars["consistency"]
            ) / 5
        dq_results[col] = {
            "completeness": {
                "rule": f"{col} should have minimal nulls",
                "score": round(pillars["completeness"], 3),
            },
            "uniqueness": {
                "rule": f"{col} values should be unique or diverse",
                "score": round(pillars["uniqueness"], 3),
            },
            "validity": {
                "rule": f"{col} must be within valid value ranges",
                "score": round(pillars["validity"], 3),
            },
            "accuracy": {
                "rule": f"{col} values should be correct (e.g., no future dates)",
                "score": round(pillars["accuracy"], 3),
            },
            "consistency": {
                "rule": f"{col} should align consistently with related columns",
                "score": round(pillars["consistency"], 3),
            },
            "column_score": round(pillars["column_score"], 3),
        }
    col_scores = [dq_results[c]["column_score"] for c in dq_results]
    table_score = sum(col_scores) / len(col_scores) if col_scores else 0.0
    return {
        "target_table": table_name,
        "columns": [
            {
                "COLUMN_NAME": f.name,
                "DATA_TYPE": f.dataType.simpleString(),
                "IS_NULLABLE": "YES" if f.nullable else "NO",
            }
            for f in df.schema.fields
        ],
        "profiling": profiling,
        "dq_results": dq_results,
        "table_score": round(table_score, 3),
    }


def table_dq_long(df: DataFrame, now: str) -> DataFrame:
    """Table-engine pillar scores as a pure DataFrame plan: one row per
    column ``(column_name, completeness, uniqueness, validity,
    accuracy, consistency, column_score)``, all 3-decimal. Single-pass
    wide aggregate exploded into per-column structs — no driver-side
    arithmetic, so it is directly oracle-comparable."""
    schema = {f.name: f.dataType for f in df.schema.fields}
    cols = df.columns
    wide = df.agg(*profile_aggregates(df, cols, now=now))
    total = F.greatest(F.col("count_all"), F.lit(1)).cast("double")
    structs = []
    for c in cols:
        completeness = 1.0 - F.col(f"{c}__count_nulls") / total
        uniqueness = F.col(f"{c}__count_distinct") / total
        if is_numeric(schema[c]):
            validity = F.when(
                F.coalesce(F.col(f"{c}__avg"), F.lit(0.0)) >= 0, F.lit(1.0)
            ).otherwise(F.lit(0.5))
        else:
            validity = F.lit(1.0)
        if is_datelike(schema[c]):
            accuracy = F.when(
                F.col("count_all") > 0,
                1.0 - F.col(f"{c}__count_future") / F.col("count_all").cast("double"),
            ).otherwise(F.lit(1.0))
        else:
            accuracy = F.lit(1.0)
        consistency = F.lit(1.0)
        column_score = (
            completeness + uniqueness + validity + accuracy + consistency
        ) / F.lit(5.0)
        structs.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.round(completeness, 3).alias("completeness"),
                F.round(uniqueness, 3).alias("uniqueness"),
                F.round(validity, 3).alias("validity"),
                F.round(accuracy, 3).alias("accuracy"),
                F.round(consistency, 3).alias("consistency"),
                F.round(column_score, 3).alias("column_score"),
            )
        )
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


# --------------------------------------------------------------------------
# File engine (Data_Discovery_File.sql semantics), distributed
# --------------------------------------------------------------------------


def completeness_uniqueness_long(df: DataFrame) -> DataFrame:
    """File-engine completeness + uniqueness rule rows
    ``(column_name, pillar, result, status)`` — one aggregate pass
    (Data_Discovery_File.sql:217-273 semantics, 0.95 threshold)."""
    cols = df.columns
    wide = df.agg(*profile_aggregates(df, cols))
    total = F.greatest(F.col("count_all"), F.lit(1)).cast("double")
    structs = []
    for c in cols:
        completeness = (F.col("count_all") - F.col(f"{c}__count_nulls")) / total
        uniqueness = F.col(f"{c}__count_distinct") / total
        for pillar, result in (("completeness", completeness), ("uniqueness", uniqueness)):
            structs.append(
                F.struct(
                    F.lit(c).alias("column_name"),
                    F.lit(pillar).alias("pillar"),
                    F.round(result, 6).alias("result"),
                    F.when(result >= PASS_THRESHOLD, F.lit("passed"))
                    .otherwise(F.lit("failed"))
                    .alias("status"),
                )
            )
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


#: Row schema of :func:`per_value_rules`.
_RULE_ROWS = (
    "rule STRING, column_name STRING, inconsistent_keys BIGINT, "
    "result DOUBLE, status STRING"
)


def per_value_rules(
    df: DataFrame,
    zscore: dict[str, tuple[Any, Any, int]] | None = None,
    rare: dict[str, int] | None = None,
    fd_pairs: list[tuple[str, str]] | None = None,
    known_unique_cols: set[str] | None = None,
) -> DataFrame:
    """The z-score, rare-value and functional-dependency (FD) rules of
    a frame as one Spark plan: a stacked, two-level aggregate. Rows are
    ``(rule, column_name, inconsistent_keys, result, status)``, where
    ``rule`` is ``zscore``, ``rare`` or ``fd`` and an FD row's
    ``column_name`` is its pair ``c1->c2``.

    The full-column statistics come from the caller's profile pass:
    ``zscore`` maps a numeric column to ``(mean, sample stddev,
    non-null count)``, ``rare`` maps a string column to its non-null
    count, and ``known_unique_cols`` names the columns whose non-null
    values are all distinct.

    Level 1 copies each row once per checked column ``i`` (the z-score
    and rare-value columns and the FD determinants not known unique).
    Copy ``i`` holds ``c_i`` in its own typed slot and NULL in the
    others. Copies whose value is NULL are dropped, the rest grouped by
    ``(i, slots)``: the row count of every value of every checked
    column, with the min and max of each FD dependent among its rows.
    Level 2 is one global aggregate of conditional sums over the groups:

    * z-score: rows of values more than 3 sample-stddevs from the mean;
    * rare value: rows of values under 1% of the non-null count;
    * FD ``c1->c2``: ``c1`` values whose ``c2`` min is below its max.
      Spark orders values as it compares them (NaN equals NaN, -0.0
      equals 0.0), so these are the values with more than one distinct
      non-null ``c2``.

    An FD pair whose determinant is known unique passes without a scan:
    each determinant value labels one row, hence one ``c2`` value. A
    string column with no non-null value has no frequencies and gets no
    rare-value row. Results are rounded to 6 decimals in Spark.
    """
    # The plan is built from SQL text where it can: each Column call is
    # a JVM round trip, and a Column-built sweep of a 5-column file
    # spent longer in them than in its Spark jobs.
    unique = set(known_unique_cols or ())
    # Level-1 inputs, numbered as the level-2 rules first use them:
    # checked columns (value slots) and FD dependents (min/max).
    checked: dict[str, int] = {}
    deps: dict[str, int] = {}

    def value(c):
        return f"__v{checked.setdefault(c, len(checked))}"

    def low_high(c):
        j = deps.setdefault(c, len(deps))
        return f"__lo{j}", f"__hi{j}"

    aggs: list[Column] = []
    rows: list[str] = []

    def level2(expr: Column | str) -> str:
        name = f"__a{len(aggs)}"
        if isinstance(expr, str):
            expr = F.expr(expr)
        aggs.append(expr.alias(name))
        return name

    def rule_row(rule, name, result, ok, keys="NULL"):
        rows.append(
            f"{_sql_str(rule)}, {_sql_str(name)}, CAST({keys} AS BIGINT), "
            f"CAST({result} AS DOUBLE), "
            f"CASE WHEN {ok} THEN 'passed' ELSE 'failed' END"
        )

    for c, (mean, std, n) in (zscore or {}).items():
        if mean is None or std is None:
            outliers = "0"
        else:
            # mean and std stay Column literals: a decimal column's mean
            # keeps its exact decimal type
            outlier = F.abs(F.col(value(c)) - F.lit(mean)) > ZSCORE * F.lit(std)
            outliers = level2(
                F.coalesce(F.sum(F.when(outlier, F.col("__n"))), F.lit(0))
            )
        result = f"1.0D - {outliers} / {n}D" if n else "1.0D"
        rule_row("zscore", c, f"round({result}, 6)", f"{result} >= {PASS_THRESHOLD}D")
    for c, n in (rare or {}).items():
        if not n:
            continue
        # sum the INTEGER counts of rare values and divide once: summing
        # per-value cnt/n floats is order dependent and can land at
        # 1.0 +/- 1ulp, flipping the sign of a rounded zero
        rare_rows = level2(
            f"coalesce(sum(CASE WHEN {value(c)} IS NOT NULL "
            f"AND __n / {n} < {RARE_FREQ}D THEN __n END), 0)"
        )
        result = f"round(1.0D - CAST({rare_rows} AS DOUBLE) / {n}, 6)"
        rule_row("rare", c, result, f"{result} >= {PASS_THRESHOLD}D")
    for c1, c2 in fd_pairs or ():
        if c1 in unique:
            keys = "0"
        else:
            low, high = low_high(c2)
            keys = level2(
                f"count(CASE WHEN {value(c1)} IS NOT NULL AND {low} < {high} THEN 1 END)"
            )
        rule_row(
            "fd", f"{c1}->{c2}", f"CASE WHEN {keys} = 0 THEN 1.0D ELSE 0.0D END",
            f"{keys} = 0", keys,
        )
    if not rows:
        return df.sparkSession.createDataFrame([], _RULE_ROWS)
    if not aggs:
        wide = df.sparkSession.range(1)
    else:
        slots = [f"__v{i}" for i in checked.values()]
        level1 = (
            df.selectExpr(
                f"explode(sequence(0, {len(checked) - 1})) AS __ci",
                *[_ident(c) for c in dict.fromkeys([*checked, *deps])],
            )
            .selectExpr(
                "__ci",
                *[
                    f"CASE WHEN __ci = {i} THEN {_ident(c)} END AS __v{i}"
                    for c, i in checked.items()
                ],
                *[f"{_ident(c)} AS __d{j}" for c, j in deps.items()],
            )
            .where(" OR ".join(f"{s} IS NOT NULL" for s in slots))
            .groupBy("__ci", *slots)
            .agg(
                F.expr("count(1) AS __n"),
                *[
                    F.expr(f"{fn}(__d{j}) AS __{bound}{j}")
                    for j in deps.values()
                    for fn, bound in (("min", "lo"), ("max", "hi"))
                ],
            )
        )
        wide = level1.agg(*aggs)
    return wide.selectExpr(
        f"stack({len(rows)}, {', '.join(rows)}) "
        "AS (rule, column_name, inconsistent_keys, result, status)"
    )


def _ident(name: str) -> str:
    """``name`` as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _sql_str(text: str) -> str:
    """``text`` as a SQL string literal."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def zscore_accuracy_long(
    df: DataFrame,
    cols: list[str] | None = None,
    stats: dict[str, tuple[float | None, float | None, int]] | None = None,
) -> DataFrame:
    """Numeric accuracy ``(column_name, result, status)``: share of
    values within 3 sample-stddevs of the mean
    (Data_Discovery_File.sql:147-183), the z-score rows of
    :func:`per_value_rules`.

    ``stats`` lets a caller that already profiled the table supply
    ``{col: (mean, std, n)}``; otherwise one aggregate job computes it.
    """
    schema = {f.name: f.dataType for f in df.schema.fields}
    cols = cols or [c for c in df.columns if is_numeric(schema[c])]
    if stats is None:
        row = df.agg(
            *[
                agg
                for i, c in enumerate(cols)
                for agg in (
                    F.avg(c).alias(f"__m{i}"),
                    F.stddev(c).alias(f"__s{i}"),
                    F.count(F.col(c)).alias(f"__n{i}"),
                )
            ]
        ).collect()[0]
        stats = {
            c: (row[f"__m{i}"], row[f"__s{i}"], row[f"__n{i}"])
            for i, c in enumerate(cols)
        }
    return per_value_rules(df, zscore={c: stats[c] for c in cols}).select(
        "column_name", "result", "status"
    )


def rare_value_accuracy_long(df: DataFrame, cols: list[str]) -> DataFrame:
    """String accuracy ``(column_name, result, status)``: 1 - the share
    of non-null rows holding a value rarer than 1%
    (Data_Discovery_File.sql:185-211; pandas ``value_counts``
    frequencies), the rare-value rows of :func:`per_value_rules`. One
    aggregate job counts each column's non-null values first."""
    row = df.agg(
        *[F.count(F.col(c)).alias(f"__n{i}") for i, c in enumerate(cols)]
    ).collect()[0]
    return per_value_rules(
        df, rare={c: row[f"__n{i}"] for i, c in enumerate(cols)}
    ).select("column_name", "result", "status")


def fd_consistency_long(
    df: DataFrame,
    cols: list[str] | None = None,
    max_pairs: int | None = None,
    known_unique_cols: set[str] | None = None,
    profile_keylike: bool = False,
) -> DataFrame:
    """Pairwise functional-dependency consistency
    (Data_Discovery_File.sql:97-143): for every ordered column pair
    (c1, c2), passed iff no c1 value maps to more than one distinct
    non-null c2 value. Output ``(pair, inconsistent_keys, result,
    status)``, the FD rows of :func:`per_value_rules`: every pair in one
    plan instead of the reference's O(cols²) scans. ``max_pairs`` caps
    the pair list on wide tables.

    **Key-like pre-filter** (SURVEY §4): a pair whose determinant is
    unique over its non-null rows passes with certainty and costs no
    scan work. Callers that already profiled the table pass the proven
    set via ``known_unique_cols``; ``profile_keylike=True`` derives it
    here with one extra count/countDistinct pass. Answers are identical
    either way: the skip is exact, not a heuristic."""
    cols = cols or df.columns
    pairs = [(c1, c2) for c1 in cols for c2 in cols if c1 != c2]
    if max_pairs is not None:
        pairs = pairs[:max_pairs]
    unique_cols = set(known_unique_cols or ())
    if profile_keylike and known_unique_cols is None and pairs:
        determinants = sorted({c1 for c1, _ in pairs})
        prow = df.agg(
            *[F.count(F.col(c)).alias(f"__n_{i}") for i, c in enumerate(determinants)],
            *[
                F.countDistinct(F.col(c)).alias(f"__d_{i}")
                for i, c in enumerate(determinants)
            ],
        ).collect()[0]
        unique_cols = {
            c
            for i, c in enumerate(determinants)
            if prow[f"__n_{i}"] == prow[f"__d_{i}"]
        }
    return per_value_rules(df, fd_pairs=pairs, known_unique_cols=unique_cols).select(
        F.col("column_name").alias("pair"), "inconsistent_keys", "result", "status"
    )
