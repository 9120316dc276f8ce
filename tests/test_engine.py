from data_pipelines_snowflake_procedures_spark.plans.engine import execute_sql_batch
from data_pipelines_snowflake_procedures_spark.session import register_views

from .conftest import SF_SMOKE_DIR


def test_empty_batch(spark):
    rep = execute_sql_batch(spark, "   ")
    assert rep["status"] == "FAILED"
    assert "error" in rep


def test_batch_success_and_previews(spark):
    register_views(spark, SF_SMOKE_DIR)
    rep = execute_sql_batch(
        spark,
        """
        -- pricing summary over the smoke fixture
        SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag;
        SELECT count(*) AS n_orders FROM orders;
        """,
    )
    assert rep["status"] == "SUCCESS"
    assert rep["total_statements"] == 2
    assert rep["successful_statements"] == 2
    assert rep["details"][0]["rows"]
    assert "lineitem" in rep["table_previews"]
    assert len(rep["table_previews"]["lineitem"]) == 5
    assert rep["audit_log"]["agent_name"] == "ExecutionEngineAgent"


def test_batch_continues_after_failure(spark):
    register_views(spark, SF_SMOKE_DIR)
    rep = execute_sql_batch(
        spark,
        "SELECT * FROM no_such_table; SELECT count(*) AS n FROM region;",
    )
    assert rep["status"] == "PARTIAL"
    assert rep["failed_statements"] == 1
    assert rep["successful_statements"] == 1
    assert rep["details"][0]["status"] == "FAILED"
    assert rep["details"][1]["rows"][0]["n"] == 5


def test_row_cap(spark):
    register_views(spark, SF_SMOKE_DIR)
    rep = execute_sql_batch(spark, "SELECT * FROM lineitem", row_cap=7)
    d = rep["details"][0]
    assert d["row_count"] == 7
    assert d["rows_truncated"] is True


def test_ddl_insert_select_chain(spark, tmp_path):
    """X1 over a DDL + DML + query chain (the EXECUTION_ENGINE's
    ingestion/transformation use case)."""
    import shutil

    spark.sql("DROP TABLE IF EXISTS engine_chain_t")
    shutil.rmtree("spark-warehouse/engine_chain_t", ignore_errors=True)
    rep = execute_sql_batch(
        spark,
        """
        CREATE TABLE engine_chain_t (k INT, v STRING) USING parquet;
        INSERT INTO engine_chain_t VALUES (1, 'a'), (2, 'b');
        SELECT count(*) AS n FROM engine_chain_t;
        """,
    )
    assert rep["status"] == "SUCCESS", rep
    assert rep["total_statements"] == 3
    assert rep["details"][2]["rows"][0]["n"] == 2
    # DDL/DML statements carry no rows payload
    assert "rows" not in rep["details"][0]


def test_no_preview_of_a_table_the_batch_dropped(spark):
    """A table the batch dropped, or renamed away, is not previewed (the
    query would fail analysis). A name the batch dropped and brought back,
    by a view or by a rename, is."""
    import shutil

    for t in ("engine_drop_t", "engine_src_t", "engine_renamed_t"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    spark.sql("DROP VIEW IF EXISTS engine_view_t")
    register_views(spark, SF_SMOKE_DIR)
    rep = execute_sql_batch(
        spark,
        """
        DROP TABLE IF EXISTS engine_drop_t;
        CREATE TABLE engine_drop_t USING parquet AS SELECT r_regionkey FROM region;
        SELECT count(*) AS n FROM engine_drop_t;
        DROP TABLE engine_drop_t;
        DROP TABLE IF EXISTS engine_view_t;
        CREATE TEMPORARY VIEW engine_view_t AS SELECT n_nationkey FROM nation;
        DROP TABLE IF EXISTS engine_renamed_t;
        CREATE TABLE engine_src_t USING parquet AS SELECT r_name FROM region;
        ALTER TABLE engine_src_t RENAME TO engine_renamed_t;
        """,
    )
    assert rep["status"] == "SUCCESS", rep
    assert rep["details"][2]["rows"][0]["n"] == 5
    previews = rep["table_previews"]
    assert set(previews) == {"region", "engine_view_t", "nation", "engine_renamed_t"}
    assert all(isinstance(rows, list) and len(rows) == 5 for rows in previews.values())
    spark.sql("DROP TABLE engine_renamed_t")
    spark.sql("DROP VIEW engine_view_t")
