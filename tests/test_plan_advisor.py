"""plans/advisor.py: the structured plan audit must see what the
formatted explain shows — scans with pushdown, join strategies,
shuffle counts, Python evaluation mode — and assert_plan must hold
the line."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipelines_snowflake_procedures_spark.plans.advisor import (
    assert_plan,
    plan_report,
)
from data_pipelines_snowflake_procedures_spark.queries import REGISTRY


def test_pricing_summary_report(spark, sf_dir):
    df = REGISTRY["pricing_summary"].spark_fn(spark, sf_dir)
    rep = plan_report(df)
    assert rep["joins"] == {}
    assert rep["row_python"] == 0
    [scan] = rep["scans"]
    assert scan["format"] == "parquet"
    assert any("l_shipdate" in f for f in scan["pushed_filters"])
    assert "l_orderkey" not in scan["read_columns"]
    assert rep["shuffles"] >= 1  # the final aggregate exchange
    assert rep["codegen_spans"] == 0  # AQE: undecided before an action
    df.collect()
    assert plan_report(df)["codegen_spans"] >= 1  # decided after


def test_region_revenue_broadcasts(spark, sf_dir):
    df = REGISTRY["region_revenue"].spark_fn(spark, sf_dir)
    rep = assert_plan(df, forbid=("SortMergeJoin", "CartesianProduct"))
    assert rep["joins"].get("BroadcastHashJoin") == 4
    assert rep["broadcasts"] >= 1


def test_mapinpandas_counts_as_arrow_python(spark):
    import pandas as pd

    df = spark.range(10)

    def ident(batches):
        yield from batches

    out = df.mapInPandas(ident, schema="id long")
    rep = plan_report(out)
    assert rep["arrow_python"] == 1
    assert rep["row_python"] == 0


def test_row_udf_flags_warning_and_assert(spark):
    from pyspark.sql.functions import udf

    plus = udf(lambda x: x + 1, "long")
    out = spark.range(10).select(plus("id").alias("y"))
    rep = plan_report(out)
    assert rep["row_python"] == 1
    assert any("row-at-a-time" in w for w in rep["warnings"])
    with pytest.raises(AssertionError, match="row-at-a-time"):
        assert_plan(out)


def test_cartesian_warning_and_budget(spark):
    a = spark.range(5)
    b = spark.range(5).withColumnRenamed("id", "id2")
    out = a.crossJoin(b)
    rep = plan_report(out)
    assert any("quadratic" in w for w in rep["warnings"])
    with pytest.raises(AssertionError, match="forbidden node"):
        assert_plan(out, forbid=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_unpartitioned_window_counted(spark):
    from pyspark.sql.window import Window

    df = spark.range(10).withColumn("g", F.col("id") % 2)
    whole = df.withColumn("tot", F.sum("id").over(Window.partitionBy()))
    ordered = whole.withColumn("run", F.sum("id").over(Window.orderBy("id")))
    rep = plan_report(ordered)
    assert rep["unpartitioned_windows"] == 2
    assert any("no partition spec" in w for w in rep["warnings"])
    by_group = df.withColumn(
        "tot", F.sum("id").over(Window.partitionBy("g").orderBy("id"))
    )
    assert plan_report(by_group)["unpartitioned_windows"] == 0


def test_shuffle_budget_enforced(spark, sf_dir):
    df = REGISTRY["pricing_summary"].spark_fn(spark, sf_dir)
    with pytest.raises(AssertionError, match="shuffles"):
        assert_plan(df, max_shuffles=0)
    assert_plan(df, max_shuffles=2, require_pushed_filter=True)


def test_unpruned_scan_warning(spark, sf_dir):
    from data_pipelines_snowflake_procedures_spark.session import load_table

    li = load_table(spark, sf_dir, "lineitem")  # 16 columns, no filter
    rep = plan_report(li)
    assert any("unpruned" in w for w in rep["warnings"])


def test_new_round6_entries_plan_budgets(spark, sf_dir):
    """The round-6 additions hold their stated shuffle/join budgets."""
    # pareto: groupBy(x) + bucket window + broadcast semi-join back —
    # no sort-merge, no cartesian
    df = REGISTRY["part_pareto_frontier"].spark_fn(spark, sf_dir)
    rep = assert_plan(df, forbid=("SortMergeJoin", "CartesianProduct"))
    assert rep["row_python"] == 0

    # join-size advisor: one groupBy + one global fold
    df = REGISTRY["events_join_size_advisor"].spark_fn(spark, sf_dir)
    rep = assert_plan(df, max_shuffles=2, forbid=("SortMergeJoin",))

    # Mann-Whitney: rollup groupBy + rollup window + global fold
    df = REGISTRY["events_value_mannwhitney"].spark_fn(spark, sf_dir)
    rep = assert_plan(df, max_shuffles=4, forbid=("SortMergeJoin",))
    assert rep["row_python"] == 0

    # replica reconcile: two digest groupBys + one 64-row join
    df = REGISTRY["orders_replica_reconcile"].spark_fn(spark, sf_dir)
    rep = assert_plan(df, forbid=("CartesianProduct",))
    assert rep["row_python"] == 0
