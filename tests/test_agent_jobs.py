"""Spark-job budget of each agent procedure.

On the agent's small data every Spark job is fixed overhead (about
100 ms), so each procedure's job count is pinned here as an upper
bound: a change cannot add jobs to a procedure without failing a test.
Counts come from the ``count_jobs`` fixture (per job group, after the
listener bus has delivered every job event). Driver-side rows must
reach Spark as a ``LocalRelation``: a Python RDD (``ExistingRDD``)
would fork Python workers on every job that reads it.
"""

from __future__ import annotations

import shutil

import pytest

from data_pipelines_snowflake_procedures_spark.session import load_table, rows_frame


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _drop_table(spark, name: str) -> None:
    # the in-memory catalog forgets tables on restart, warehouse dirs persist
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    shutil.rmtree(f"spark-warehouse/{name.lower()}", ignore_errors=True)


def test_rows_frame_is_a_local_relation(spark):
    df = rows_frame(
        spark,
        [(1, "a", 0.5, True), (None, None, None, None)],
        "id BIGINT, name STRING, score DOUBLE, flag BOOLEAN",
    )
    plan = _analyzed(df)
    assert "LocalRelation" in plan and "ExistingRDD" not in plan
    assert [tuple(r) for r in df.collect()] == [(1, "a", 0.5, True), (None,) * 4]


def test_rows_frame_keeps_duplicate_names_and_empty_input(spark):
    dup = rows_frame(spark, [(1, "x")], "a BIGINT, a STRING")
    assert dup.columns == ["a", "a"] and tuple(dup.collect()[0]) == (1, "x")
    empty = rows_frame(spark, [], "_corrupt_record STRING")
    assert empty.columns == ["_corrupt_record"] and empty.collect() == []
    assert "LocalRelation" in _analyzed(empty)


def test_read_xlsx_is_a_local_relation(spark, tmp_path):
    from data_pipelines_snowflake_procedures_spark.sources.office import read_xlsx
    from tests.test_discovery import _write_xlsx_fixture

    path = tmp_path / "book.xlsx"
    _write_xlsx_fixture(str(path))
    plan = _analyzed(read_xlsx(spark, str(path)))
    assert "LocalRelation" in plan and "ExistingRDD" not in plan


def test_interpret_objective_runs_no_job(spark, sf_dir, count_jobs):
    """``SHOW TABLES`` is an eager command and a schema is read off
    the analysed plan, so interpreting an objective starts no job. The
    metadata lists what ``spark.catalog.listTables`` lists, temp views
    included, in the same order."""
    from data_pipelines_snowflake_procedures_spark.pipelines.interpreter import (
        fetch_catalog_metadata,
        interpret_objective,
    )

    load_table(spark, sf_dir, "customer").createOrReplaceTempView("jobs_customer_v")
    out: dict = {}
    jobs = count_jobs(
        "interpret",
        lambda: out.update(interpret_objective(spark, "join orders with customer")),
    )
    assert out["status"] == "SUCCESS"
    assert jobs == 0
    meta = fetch_catalog_metadata(spark)
    listed = []
    for t in spark.catalog.listTables():
        try:
            fields = spark.table(t.name).schema.fields
        except Exception:  # noqa: BLE001 — the interpreter skips unreadable tables
            continue
        listed.append((t.name, [f.name for f in fields]))
    assert [(t["table"], [c["column_name"] for c in t["columns"]]) for t in meta] == listed
    assert "jobs_customer_v" in [t["table"] for t in meta]


def test_glossary_one_write_keeps_other_tables(spark, sf_dir, count_jobs):
    """Regenerating a table's glossary replaces its rows and keeps every
    other table's, in at most 2 Spark jobs (collect, append) while
    another table's rows are present."""
    from data_pipelines_snowflake_procedures_spark.pipelines.glossary import (
        generate_business_glossary,
    )

    for t in ("gl_region", "gl_nation", "GL_GLOSSARY"):
        _drop_table(spark, t)
    load_table(spark, sf_dir, "region").write.saveAsTable("gl_region")
    load_table(spark, sf_dir, "nation").write.saveAsTable("gl_nation")
    assert generate_business_glossary(spark, "gl_region", "GL_GLOSSARY")["status"] == "SUCCESS"
    out: dict = {}
    jobs = count_jobs(
        "glossary",
        lambda: out.update(generate_business_glossary(spark, "gl_nation", "GL_GLOSSARY")),
    )
    assert out["status"] == "SUCCESS" and out["columns_defined"] == 3
    assert jobs <= 2
    # regenerate the first table: its rows are replaced, not duplicated
    assert generate_business_glossary(spark, "gl_region", "GL_GLOSSARY")["status"] == "SUCCESS"
    rows = sorted(
        (r["TABLE_NAME"], r["COLUMN_NAME"]) for r in spark.table("GL_GLOSSARY").collect()
    )
    assert rows == sorted(
        [("gl_region", c) for c in ("r_regionkey", "r_name")]
        + [("gl_nation", c) for c in ("n_nationkey", "n_name", "n_regionkey")]
    )


def test_pii_masking_report_job_budget(spark, count_jobs):
    from data_pipelines_snowflake_procedures_spark.operators.security import (
        pii_masking_report,
    )

    _drop_table(spark, "jobs_pii_MASKED")
    df = rows_frame(
        spark,
        [(i, f"user{i}@mail.com", f"note {i}") for i in range(20)],
        "id BIGINT, email STRING, note STRING",
    )
    out: dict = {}
    jobs = count_jobs("mask", lambda: out.update(pii_masking_report(spark, df, "jobs_pii")))
    assert out["status"] == "SUCCESS"
    assert jobs <= 4


@pytest.fixture
def orders_csv(spark, sf_dir, tmp_path):
    path = tmp_path / "orders.csv"
    load_table(spark, sf_dir, "orders").limit(500).toPandas().to_csv(path, index=False)
    return str(path)


def test_table_and_file_dq_job_budget(spark, sf_dir, orders_csv, count_jobs):
    """Table DQ is one profile pass (3 jobs: adaptive execution runs
    each shuffle stage of the aggregate as its own job); a csv
    discovery is the schema-inference read (2 jobs) plus the two-action
    file-DQ sweep (6 jobs)."""
    from data_pipelines_snowflake_procedures_spark.operators.dq import run_table_dq
    from data_pipelines_snowflake_procedures_spark.sources.discovery import (
        discover_and_run_dq,
    )

    orders = load_table(spark, sf_dir, "orders")
    assert count_jobs("table-dq", lambda: run_table_dq(orders, "orders")) <= 3
    out: dict = {}
    jobs = count_jobs("discover", lambda: out.update(discover_and_run_dq(spark, orders_csv)))
    assert out["status"] == "SUCCESS"
    assert jobs <= 8
