"""Physical-plan audit: the "is this the plan I'd want at 100 TB"
check, as a library API instead of eyeballing ``.explain()`` output.

The repo's discipline (SURVEY.md §7, tests/test_plans.py) is that
every headline query's plan is inspected for the properties that
decide cluster cost: predicates reaching the parquet scan, column
pruning, broadcast joins for dimension tables, bounded shuffle
counts, no row-at-a-time Python on executors. :func:`plan_report`
turns the formatted explain string into a structured report so those
properties can be asserted programmatically (CI) or surfaced to a
user ("why is my query slow?"), and :func:`assert_plan` is the
one-line guard built on it.

Pure string parsing of Spark's own ``ExplainMode.formatted`` output —
no private APIs beyond ``queryExecution().explainString`` (the same
call ``DataFrame.explain`` makes), so it tracks whatever Catalyst
actually planned, post-AQE-static-plan.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame

#: node-name → join strategy label
_JOIN_NODES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)

#: executor-side Python evaluation nodes (Arrow-batched vs per-row)
_ARROW_PY = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
             "FlatMapGroupsInPandasWithState", "MapInArrow")
_ROW_PY = ("BatchEvalPython",)


def formatted_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The explain string (what ``df.explain(mode)`` prints),
    returned instead of printed."""
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def _scan_details(plan: str) -> list[dict[str, Any]]:
    """One record per ``Scan`` detail block: format, location tail,
    read-schema column list, pushed-filter list."""
    scans = []
    # detail blocks start like "(1) Scan parquet \n" and run to the
    # next blank line
    for m in re.finditer(
        r"^\(\d+\) Scan (\w+)[^\n]*\n((?:.+\n)+?)(?:\n|\Z)",
        plan,
        re.M,
    ):
        fmt, body = m.group(1), m.group(2)
        rec: dict[str, Any] = {"format": fmt}
        loc = re.search(r"^Location:.*?\[([^\]]*)\]", body, re.M)
        rec["location"] = loc.group(1).rsplit("/", 1)[-1] if loc else None
        rs = re.search(r"^ReadSchema: struct<([^\n]*)>", body, re.M)
        rec["read_columns"] = (
            [c.split(":")[0] for c in rs.group(1).split(",") if c]
            if rs
            else []
        )
        pf = re.search(r"^PushedFilters: \[([^\n]*)\]", body, re.M)
        rec["pushed_filters"] = (
            [f.strip() for f in pf.group(1).split(",") if f.strip()]
            if pf
            else []
        )
        scans.append(rec)
    return scans


def _top_level_lists(args: str) -> list[str]:
    """The bracketed lists at depth 0 of an ``Arguments:`` line, e.g.
    ``"[a, f(b)], [], [c ASC]"`` → ``["a, f(b)", "", "c ASC"]``."""
    lists, depth, start = [], 0, 0
    for i, ch in enumerate(args):
        if ch == "[":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                lists.append(args[start:i])
    return lists


def _unpartitioned_windows(plan: str) -> int:
    """Window nodes with an empty partition spec: Spark moves all their
    rows to one task ("No Partition Defined for Window operation").
    A Window detail block's arguments are ``[window exprs],
    [partition spec], [order spec]`` with the empty lists left out, so
    a second list of sort orders means there is no partition spec."""
    n = 0
    for m in re.finditer(r"^\(\d+\) Window\n(?:.+\n)*?Arguments: ([^\n]*)", plan, re.M):
        lists = _top_level_lists(m.group(1))
        if len(lists) < 2 or re.search(r" (ASC|DESC) NULLS (FIRST|LAST)$", lists[1]):
            n += 1
    return n


def plan_report(df: DataFrame) -> dict[str, Any]:
    """Structured audit of a DataFrame's physical plan::

        {"scans":  [{format, location, read_columns, pushed_filters}],
         "joins":  {"BroadcastHashJoin": 2, ...},
         "shuffles": <Exchange count (shuffle boundaries)>,
         "broadcasts": <BroadcastExchange count>,
         "codegen_spans": <WholeStageCodegen region count>,
         "arrow_python": <Arrow-batched Python nodes>,
         "row_python": <row-at-a-time Python nodes>,
         "unpartitioned_windows": <Window nodes with no partition spec>,
         "warnings": [...]}

    Warnings flag the patterns that do not survive scale: per-row
    Python UDFs, cartesian/nested-loop joins, windows without a
    partition spec (one task sees every row), and scans that read
    every column while pushing no filter (full unpruned reads are
    sometimes intended — the warning says "look", not "wrong").
    """
    plan = formatted_plan(df)
    # detail-block headers ("(5) Exchange", "(1) Scan parquet") list
    # every physical node exactly once, post-AQE-static-plan
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)

    def count_nodes(name: str) -> int:
        return sum(1 for n in nodes if n == name)

    joins = {j: count_nodes(j) for j in _JOIN_NODES}
    joins = {k: v for k, v in joins.items() if v}
    # codegen region markers ("*(3)") only appear in simple mode,
    # and under AQE only after the query has RUN (the final plan is
    # decided at runtime): call plan_report after an action to see
    # codegen spans; before one, 0 means "not yet decided"
    simple = formatted_plan(df, "simple")
    report: dict[str, Any] = {
        "scans": _scan_details(plan),
        "joins": joins,
        "shuffles": count_nodes("Exchange"),
        "broadcasts": count_nodes("BroadcastExchange"),
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", simple))),
        "arrow_python": sum(count_nodes(n) for n in _ARROW_PY),
        "row_python": sum(count_nodes(n) for n in _ROW_PY),
        "unpartitioned_windows": _unpartitioned_windows(plan),
    }
    warnings = []
    if report["row_python"]:
        warnings.append(
            "row-at-a-time Python evaluation on executors "
            "(BatchEvalPython) — use Arrow-batched pandas UDFs"
        )
    for j in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        if joins.get(j):
            warnings.append(
                f"{j} in plan — quadratic unless one side is tiny; "
                "verify the small side is bounded"
            )
    if report["unpartitioned_windows"]:
        warnings.append(
            f"{report['unpartitioned_windows']} window(s) with no partition "
            "spec — every row goes to a single task"
        )
    for s in report["scans"]:
        if not s["pushed_filters"] and len(s["read_columns"]) >= 8:
            warnings.append(
                f"scan of {s['location'] or s['format']} reads "
                f"{len(s['read_columns'])} columns with no pushed "
                "filter — full unpruned read"
            )
    report["warnings"] = warnings
    return report


def assert_plan(
    df: DataFrame,
    max_shuffles: int | None = None,
    forbid: tuple[str, ...] = (),
    require_pushed_filter: bool = False,
    allow_row_python: bool = False,
) -> dict[str, Any]:
    """One-line plan guard for tests/CI: raises AssertionError when
    the plan violates the stated budget; returns the report for
    further assertions. ``forbid`` names any node substring
    ("SortMergeJoin", "CartesianProduct", ...)."""
    report = plan_report(df)
    plan = formatted_plan(df)
    if max_shuffles is not None and report["shuffles"] > max_shuffles:
        raise AssertionError(
            f"plan has {report['shuffles']} shuffles > budget "
            f"{max_shuffles}:\n{plan}"
        )
    for node in forbid:
        if re.search(rf"^\(\d+\) {node}\b", plan, re.M):
            raise AssertionError(f"forbidden node {node} in plan:\n{plan}")
    if require_pushed_filter and not any(
        s["pushed_filters"] for s in report["scans"]
    ):
        raise AssertionError(f"no scan has a pushed filter:\n{plan}")
    if not allow_row_python and report["row_python"]:
        raise AssertionError(f"row-at-a-time Python in plan:\n{plan}")
    return report
