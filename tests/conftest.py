from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMOKE_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from data_pipelines_snowflake_procedures_spark.session import get_spark

    # Fewer threads than the driver's local[32]: test data is tiny and
    # task-launch overhead dominates above ~8 threads.
    spark = get_spark(app_name="tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    yield con
    con.close()


def pytest_terminal_summary(terminalreporter):
    """Say how many slowtier tests the default ``-m 'not slowtier'``
    (pyproject addopts) left out, and how to run them."""
    if "not slowtier" not in (terminalreporter.config.option.markexpr or ""):
        return
    slow = [
        item
        for item in terminalreporter.stats.get("deselected", [])
        if item.get_closest_marker("slowtier")
    ]
    if slow:
        terminalreporter.write_line(
            f"{len(slow)} slowtier tests deselected; run them with: "
            "python -m pytest tests/ -m slowtier"
        )
