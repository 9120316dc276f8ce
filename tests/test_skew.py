"""Tests for skew-mitigation helpers (operators/skew.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipelines_snowflake_procedures_spark.operators.skew import (
    salt_column,
    salted_sum_count,
)


def test_salt_column_deterministic_and_bounded(spark):
    df = spark.range(1000).select(
        "id", salt_column("id", 16).alias("s1"), salt_column("id", 16).alias("s2")
    )
    rows = df.collect()
    assert all(r["s1"] == r["s2"] for r in rows)
    assert all(0 <= r["s1"] < 16 for r in rows)
    assert len({r["s1"] for r in rows}) == 16  # all buckets used


def test_salted_sum_count_matches_plain(spark):
    # pathological skew: 90% of rows on one key
    df = spark.range(10000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(F.lit("cold")).alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
        "id",
    )
    salted = {
        r["k"]: (r["n_rows"], r["sum_value"])
        for r in salted_sum_count(df, ["k"], "v", salt_source="id").collect()
    }
    plain = {
        r["k"]: (r["n"], r["s"])
        for r in df.groupBy("k").agg(F.count("*").alias("n"), F.sum("v").alias("s")).collect()
    }
    assert salted.keys() == plain.keys()
    for k in plain:
        assert salted[k][0] == plain[k][0]
        assert abs(salted[k][1] - plain[k][1]) < 1e-6
