"""Tests for cross-table integrity operators (operators/integrity.py)."""

from __future__ import annotations

from data_pipelines_snowflake_procedures_spark.operators.integrity import (
    referential_integrity,
)


def test_referential_integrity_with_orphans(spark):
    child = spark.createDataFrame(
        [(1,), (1,), (2,), (99,), (None,)], ["fk"]
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], ["pk"])
    row = referential_integrity(child, parent, "fk", "pk").collect()[0]
    assert row["n_child_keys"] == 3  # distinct non-null
    assert row["n_orphan_keys"] == 1  # 99
    assert abs(row["integrity_ratio"] - (1 - 1 / 3)) < 1e-6


def test_run_table_dq_with_related_tables(spark, sf_dir):
    """The consistency pillar upgrades from the 1.0 stub to the
    referential-integrity ratio when relations are declared."""
    from data_pipelines_snowflake_procedures_spark.operators.dq import run_table_dq
    from data_pipelines_snowflake_procedures_spark.session import load_table

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    out = run_table_dq(
        orders,
        "orders",
        now="1995-06-01 00:00:00",
        related={"o_custkey": (customer, "c_custkey")},
    )
    cons = out["dq_results"]["o_custkey"]["consistency"]["score"]
    assert cons == 1.0  # harness data has no orphans — but computed, not stubbed
    # stub remains for undeclared columns
    assert out["dq_results"]["o_orderkey"]["consistency"]["score"] == 1.0
    assert 0 < out["table_score"] <= 1.0

    # now break integrity: parent with half its keys removed
    half = customer.filter("c_custkey % 2 = 0")
    out2 = run_table_dq(
        orders, "orders", now="1995-06-01 00:00:00",
        related={"o_custkey": (half, "c_custkey")},
    )
    assert out2["dq_results"]["o_custkey"]["consistency"]["score"] < 1.0


def test_table_report_composition(spark, sf_dir):
    from data_pipelines_snowflake_procedures_spark.operators.report import (
        table_report,
    )
    from data_pipelines_snowflake_procedures_spark.session import load_table

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    rep = table_report(
        orders,
        "orders",
        path=f"{sf_dir}/orders.parquet",
        skew_columns=["o_orderpriority"],
        now="1995-06-01 00:00:00",
        related={"o_custkey": (customer, "c_custkey")},
    )
    assert rep["dq"]["table_score"] > 0
    assert rep["dq"]["dq_results"]["o_custkey"]["consistency"]["score"] == 1.0
    hh = rep["skew"]["o_orderpriority"]
    assert len(hh) == 5 and abs(sum(r["share"] for r in hh) - 1.0) < 0.01
    assert rep["storage"]["n_rows"] == orders.count()


def test_reconcile_identical_tables_all_green(spark):
    from data_pipelines_snowflake_procedures_spark.operators.integrity import (
        reconcile_tables,
    )

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "k INT, v STRING"
    )
    rep = reconcile_tables(df, df, "k", ["k", "v"], n_buckets=16)
    assert rep.count() == 16
    assert rep.filter("is_diff = 1").count() == 0
    total = rep.agg({"left_rows": "sum"}).first()[0]
    assert total == 200


def test_reconcile_flags_delete_and_value_change(spark):
    from data_pipelines_snowflake_procedures_spark.operators.integrity import (
        bucket_checksums,
        reconcile_tables,
    )

    left = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "k INT, v STRING"
    )
    # delete key 7, change key 11's value
    right = spark.createDataFrame(
        [(i, "CHANGED" if i == 11 else f"v{i}") for i in range(200) if i != 7],
        "k INT, v STRING",
    )
    rep = reconcile_tables(left, right, "k", ["k", "v"], n_buckets=16)
    diffs = rep.filter("is_diff = 1").collect()
    assert 1 <= len(diffs) <= 2  # the two touched keys' buckets
    # the deleted key's bucket shows a count gap; the changed key's
    # bucket shows equal counts but different checksums
    kinds = {(r["left_rows"] != r["right_rows"]) for r in diffs}
    assert True in kinds  # delete produces a count gap
    bc = bucket_checksums(left, "k", ["k", "v"], n_buckets=16)
    assert bc.count() == 16


def test_reconcile_count_catches_even_duplicate_cancellation(spark):
    from data_pipelines_snowflake_procedures_spark.operators.integrity import (
        reconcile_tables,
    )

    # XOR caveat: a row duplicated twice cancels out of the checksum;
    # the row count still flags the bucket.
    left = spark.createDataFrame([(1, "a")], "k INT, v STRING")
    right = spark.createDataFrame([(1, "a"), (1, "a"), (1, "a")], "k INT, v STRING")
    rep = reconcile_tables(left, right, "k", ["k", "v"], n_buckets=4)
    d = rep.filter("is_diff = 1").collect()
    assert len(d) == 1
    assert d[0]["left_sum"] == d[0]["right_sum"]  # XOR cancelled
    assert d[0]["left_rows"] != d[0]["right_rows"]  # count did not
