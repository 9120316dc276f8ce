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


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(group, fn)`` runs ``fn`` under Spark job group
    ``group`` and returns how many jobs it started, counted after the
    listener bus has delivered every job event."""
    sc = spark.sparkContext

    def count(group: str, fn) -> int:
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture
def count_round_trips(spark):
    """``count_round_trips(fn)`` runs ``fn`` and returns how many py4j
    commands it sent to the JVM. py4j's memory commands (the deletes
    Python's garbage collector sends for dead JVM references) are not
    counted: when they run depends on the collector, not on ``fn``."""
    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command
    memory = protocol.MEMORY_COMMAND_NAME

    def count(fn) -> int:
        sent = 0

        def counting(self, command):
            nonlocal sent
            if not command.startswith(memory):
                sent += 1
            return send(self, command)

        ClientServerConnection.send_command = counting
        try:
            fn()
        finally:
            ClientServerConnection.send_command = send
        return sent

    return count


@pytest.fixture
def count_compiles(spark):
    """``count_compiles(fn)`` runs ``fn`` and returns how many generated
    classes Spark compiled with Janino meanwhile (``CodegenMetrics``).
    Compiled classes are cached JVM-wide, keyed by their source, so a
    plan whose generated source is still cached compiles nothing."""
    timer = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def count(fn) -> int:
        before = timer.getCount()
        fn()
        return timer.getCount() - before

    return count


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
