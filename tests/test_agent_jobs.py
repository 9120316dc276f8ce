"""Spark-job budget of each agent procedure.

On the agent's small data every Spark job is fixed overhead (about
100 ms), so each procedure's job count is pinned here as an upper
bound: a change cannot add jobs to a procedure without failing a test.
Counts come from the ``count_jobs`` fixture (per job group, after the
listener bus has delivered every job event). Driver-side rows must
reach Spark as a ``LocalRelation``: a Python RDD (``ExistingRDD``)
would fork Python workers on every job that reads it.

Each procedure must also find its generated code still compiled when
it is called again after other work (``count_compiles``): a Janino
compile costs tens of milliseconds, and recompiled bytecode runs
interpreted until HotSpot compiles it again.
"""

from __future__ import annotations

import shutil

import pytest

from data_pipelines_snowflake_procedures_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    load_table,
    rows_frame,
)


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


#: A 12-statement batch shaped like the agent cycle's: six queries, one
#: statement that fails analysis, and a CTAS + INSERT + SELECT + DROP
#: group, on the sf0.01 views.
AGENT_BATCH = [
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_totalprice > 200000 "
    "AND o_orderstatus = 'F' ORDER BY o_totalprice DESC, o_orderkey LIMIT 20",
    "SELECT n_name, count(*) AS customers, sum(c_acctbal) AS balance FROM customer "
    "JOIN nation ON c_nationkey = n_nationkey WHERE c_mktsegment = 'BUILDING' GROUP BY n_name",
    "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS qty, "
    "avg(l_extendedprice * (1 - l_discount)) AS price, count(*) AS n FROM lineitem "
    "WHERE l_shipdate <= DATE '1997-06-01' GROUP BY l_returnflag, l_linestatus",
    "SELECT o_orderkey, o_bogus FROM orders",
    "SELECT r_name, count(*) AS orders, sum(o_totalprice) AS revenue FROM orders "
    "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey WHERE o_orderdate >= DATE '1995-01-01' GROUP BY r_name",
    "DROP TABLE IF EXISTS jobs_batch_tmp",
    "CREATE TABLE jobs_batch_tmp USING parquet AS SELECT o_orderkey, o_custkey, o_totalprice "
    "FROM orders WHERE o_orderkey % 5 = 0",
    "INSERT INTO jobs_batch_tmp SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
    "WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000",
    "SELECT count(*) AS n, sum(o_totalprice) AS total, max(o_orderkey) AS top FROM jobs_batch_tmp",
    "DROP TABLE jobs_batch_tmp",
    "SELECT o_orderpriority, count(DISTINCT o_orderkey) AS n FROM orders "
    "JOIN lineitem ON l_orderkey = o_orderkey WHERE l_shipdate > date_add(o_orderdate, 30) "
    "AND o_orderdate >= DATE '1996-01-01' GROUP BY o_orderpriority",
    "SELECT sum(l_extendedprice * l_discount) AS revenue, count(*) AS n FROM lineitem "
    "WHERE l_discount BETWEEN 0.029 AND 0.071 AND l_quantity < 24",
]


def test_sql_batch_job_budget(spark, sf_dir, count_jobs):
    """The agent's 12-statement batch, previews included: 26 jobs
    when the bound was set, pinned as an upper bound."""
    from data_pipelines_snowflake_procedures_spark.plans.engine import execute_sql_batch
    from data_pipelines_snowflake_procedures_spark.session import register_views

    register_views(spark, sf_dir, ("region", "nation", "customer", "orders", "lineitem"))
    _drop_table(spark, "jobs_batch_tmp")
    out: dict = {}
    jobs = count_jobs(
        "batch", lambda: out.update(execute_sql_batch(spark, ";\n".join(AGENT_BATCH)))
    )
    assert (out["total_statements"], out["failed_statements"]) == (12, 1)
    assert jobs <= 26


def test_scd1_merge_write_job_budget(spark, sf_dir, count_jobs, tmp_path):
    """``scd1_merge`` of an increment with duplicate keys, plus the
    parquet write of the merged target: 4 jobs when the bound was set,
    pinned as an upper bound."""
    from pyspark.sql import functions as F

    from data_pipelines_snowflake_procedures_spark.operators.scd import scd1_merge

    target = load_table(spark, sf_dir, "customer")
    changed = target.filter("c_custkey % 10 = 0")
    src = changed.withColumn("row_version", F.lit(1)).unionByName(
        changed.withColumn("c_acctbal", F.col("c_acctbal") + 1).withColumn(
            "row_version", F.lit(2)
        )
    )
    out = str(tmp_path / "scd1")
    jobs = count_jobs(
        "scd1",
        lambda: scd1_merge(target, src, ["c_custkey"], order_col="row_version")
        .write.mode("overwrite")
        .parquet(out),
    )
    assert spark.read.parquet(out).count() == target.count()
    assert jobs <= 4


def test_agent_procedures_reuse_generated_code(spark, sf_dir, count_compiles, tmp_path):
    """Called again after more than 100 other generated classes (the
    size of Spark's default codegen cache), each procedure compiles no
    class, or at most the few it compiles on every repeat call: 2 for
    the mask report and 1 for the glossary (as in the agent cycle), and
    2 for table DQ on ``orders``. Its profile aggregates inline the
    call's ``now`` (the future-date reference) into generated code, so
    their source differs on every call of a table with a date column."""
    from pyspark.sql import functions as F

    from data_pipelines_snowflake_procedures_spark.operators.dq import run_table_dq
    from data_pipelines_snowflake_procedures_spark.operators.scd import scd1_merge
    from data_pipelines_snowflake_procedures_spark.operators.security import (
        pii_masking_report,
    )
    from data_pipelines_snowflake_procedures_spark.pipelines.glossary import (
        generate_business_glossary,
    )

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)

    for t in ("reuse_pii_MASKED", "reuse_nation", "REUSE_GLOSSARY"):
        _drop_table(spark, t)
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    changed = customer.filter("c_custkey % 10 = 0")
    increment = changed.withColumn("row_version", F.lit(1)).unionByName(
        changed.withColumn("c_acctbal", F.col("c_acctbal") + 1).withColumn(
            "row_version", F.lit(2)
        )
    )
    pii = rows_frame(
        spark,
        [(i, f"user{i}@mail.com", f"note {i}") for i in range(20)],
        "id BIGINT, email STRING, note STRING",
    )
    load_table(spark, sf_dir, "nation").write.saveAsTable("reuse_nation")
    out = str(tmp_path / "scd1")
    procedures = {
        "table_dq": lambda: run_table_dq(orders, "orders"),
        "mask_report": lambda: pii_masking_report(spark, pii, "reuse_pii", save=True),
        "scd1_write": lambda: scd1_merge(customer, increment, ["c_custkey"], order_col="row_version")
        .write.mode("overwrite")
        .parquet(out),
        "glossary": lambda: generate_business_glossary(spark, "reuse_nation", "REUSE_GLOSSARY"),
    }
    for call in procedures.values():
        call()

    def other_classes():
        # distinct literals make distinct generated sources; planning
        # for execution compiles each without running a job
        for i in range(120):
            df = spark.range(3).selectExpr(f"id * {i + 7919} AS x").filter(f"x > {i}")
            df._jdf.queryExecution().executedPlan().execute()

    assert count_compiles(other_classes) > 100
    compiles = {name: count_compiles(call) for name, call in procedures.items()}
    assert compiles["scd1_write"] == 0, compiles
    assert compiles["table_dq"] <= 2 and compiles["mask_report"] <= 2, compiles
    assert compiles["glossary"] <= 1, compiles
