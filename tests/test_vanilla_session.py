"""Regression: the registry must run under a *vanilla* SparkSession.

Round-1 gap: ``get_spark()`` set ``spark.sql.legacy.parquet.nanosAsLong``
at builder time only, so the local suite (which always goes through
``get_spark``) passed while the driver harness — which builds its own
bare ``SparkSession`` — threw ``PARQUET_TYPE_ILLEGAL`` on every
``events.parquet`` read (9/45 registry entries erred in
CORRECTNESS_r01.json).

A bare session built in-process would be polluted by the suite's
already-running JVM (``getOrCreate`` reuses it, and ``newSession()``
inherits the SparkContext conf), so this test shells out: a fresh
interpreter, a fresh JVM, ``SparkSession.builder.master("local[2]")``
with zero extra config — exactly the driver's environment.
"""

from __future__ import annotations

import pytest

import os
import subprocess
import sys

SNIPPET = """
import sys
from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[2]").appName("vanilla-regression").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

sys.path.insert(0, "/root/repo")
import __spark_entry__ as entry

qs = entry.queries()
# One nano-timestamp (events) query and one relational query.
for name in ("events_rollup_type_day", "pricing_summary"):
    df = qs[name](spark, "/root/testdata/sf0.001")
    n = df.count()
    assert n > 0, f"{name} returned no rows"
    print(f"{name}:{n}", flush=True)
spark.stop()
"""


def test_load_table_forces_utc_session_tz(spark):
    """ADVICE r2: a caller-supplied session may carry a non-UTC tz;
    NTZ-physical micros read as TIMESTAMP_LTZ render shifted unless
    load_table resets the session tz at read time."""
    from data_pipelines_snowflake_procedures_spark.session import load_table

    original = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = load_table(spark, "/root/testdata/sf0.001", "orders")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        df.limit(1).collect()  # still readable
    finally:
        spark.conf.set("spark.sql.session.timeZone", original)


def test_daemon_module_set_only_when_it_resolves(spark, monkeypatch, tmp_path):
    """``get_spark`` sets ``spark.python.daemon.module`` only when the
    preloading daemon resolves under the executors' PYTHONPATH, and
    checks that without importing it (``pyspark.daemon`` reads
    ``sys.argv`` at import time)."""
    from data_pipelines_snowflake_procedures_spark import session

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    sys.modules.pop(session.DAEMON_MODULE, None)
    assert session.daemon_resolves(os.pathsep.join((str(tmp_path), repo_root)))
    assert session.DAEMON_MODULE not in sys.modules
    assert (
        spark.sparkContext.getConf().get("spark.python.daemon.module")
        == session.DAEMON_MODULE
    )
    # importable here, but not under any executor path entry
    assert not session.daemon_resolves(str(tmp_path))
    assert not session.daemon_resolves("")
    # not found at all
    with monkeypatch.context() as m:
        m.setattr(
            session, "DAEMON_MODULE", "data_pipelines_snowflake_procedures_spark.no_daemon"
        )
        assert not session.daemon_resolves(repo_root)

    # get_spark's wiring, with the builder's options captured
    from pyspark.sql import SparkSession

    def built_options(resolves: bool) -> dict:
        options = {}

        def get_or_create(builder):
            options.update(builder._options)
            return spark

        monkeypatch.setattr(session, "daemon_resolves", lambda path: resolves)
        monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
        session.get_spark()
        return options

    assert built_options(True)["spark.python.daemon.module"] == session.DAEMON_MODULE
    assert "spark.python.daemon.module" not in built_options(False)


@pytest.mark.slowtier
def test_registry_runs_under_vanilla_session():
    env = dict(os.environ)
    # Make sure nothing from the test session leaks config in.
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    proc = subprocess.run(
        [sys.executable, "-c", SNIPPET],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert proc.returncode == 0, (
        f"vanilla-session run failed\nstdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-3000:]}"
    )
    assert "events_rollup_type_day:" in proc.stdout
    assert "pricing_summary:" in proc.stdout
