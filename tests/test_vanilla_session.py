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
from urllib.parse import unquote, urlparse

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

# A caller-built session keeps its own parquet codec: the program's
# writes follow it and never set it.
from data_pipelines_snowflake_procedures_spark.operators.security import pii_masking_report
from tests.test_vanilla_session import chunk_codecs

codec = spark.conf.get("spark.sql.parquet.compression.codec")
df = spark.createDataFrame([(i, f"user{i}@mail.com") for i in range(20)], "id BIGINT, email STRING")
assert pii_masking_report(spark, df, "vanilla_pii", save=True)["status"] == "SUCCESS"
assert spark.conf.get("spark.sql.parquet.compression.codec") == codec
codecs = chunk_codecs(spark.table("vanilla_pii_MASKED").inputFiles())
assert codecs == {codec.upper()}, (codec, codecs)
print(f"codec:{codec}", flush=True)

# ... and Spark's own codegen cache size (unset: the default of 100)
assert spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries") is None
print(f"codegen_cache:{spark.conf.get('spark.sql.codegen.cache.maxEntries')}", flush=True)
spark.stop()
"""


def local_path(uri: str) -> str:
    """Local path of a ``file:`` URI, as ``DataFrame.inputFiles`` lists them."""
    return unquote(urlparse(uri).path)


def chunk_codecs(files: list[str]) -> set[str]:
    """Compression codec of every column chunk of the parquet ``files``
    (``file:`` URIs)."""
    import pyarrow.parquet as pq

    out = set()
    for uri in files:
        meta = pq.ParquetFile(local_path(uri)).metadata
        for g in range(meta.num_row_groups):
            group = meta.row_group(g)
            out.update(group.column(c).compression for c in range(group.num_columns))
    return out


def test_program_writes_are_zstd(spark):
    """Tables the program writes through ``get_spark``'s session are
    zstd parquet, every column chunk of every part file, and DuckDB
    reads back the rows Spark does."""
    import duckdb

    from data_pipelines_snowflake_procedures_spark.operators.security import (
        pii_masking_report,
    )
    from data_pipelines_snowflake_procedures_spark.pipelines.glossary import (
        generate_business_glossary,
    )
    from data_pipelines_snowflake_procedures_spark.session import rows_frame
    from tests.test_agent_jobs import _drop_table

    for t in ("zstd_pii_MASKED", "ZSTD_GLOSSARY"):
        _drop_table(spark, t)
    df = rows_frame(
        spark,
        [(i, f"user{i}@mail.com", f"note {i}") for i in range(50)],
        "id BIGINT, email STRING, note STRING",
    )
    df.createOrReplaceTempView("zstd_src")
    assert pii_masking_report(spark, df, "zstd_pii", save=True)["status"] == "SUCCESS"
    assert generate_business_glossary(spark, "zstd_src", "ZSTD_GLOSSARY")["status"] == "SUCCESS"
    for table in ("zstd_pii_MASKED", "ZSTD_GLOSSARY"):
        files = spark.table(table).inputFiles()
        assert chunk_codecs(files) == {"ZSTD"}, table
        paths = ", ".join("'" + local_path(f).replace("'", "''") + "'" for f in files)
        with duckdb.connect() as con:
            duck = con.execute(f"SELECT * FROM read_parquet([{paths}])").fetchall()
        ours = [tuple(r) for r in spark.table(table).collect()]
        assert sorted(duck, key=repr) == sorted(ours, key=repr), table


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
def test_registry_runs_under_vanilla_session(tmp_path):
    env = dict(os.environ)
    # Make sure nothing from the test session leaks config in.
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    proc = subprocess.run(
        [sys.executable, "-c", SNIPPET],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=tmp_path,  # the session's warehouse directory
    )
    assert proc.returncode == 0, (
        f"vanilla-session run failed\nstdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-3000:]}"
    )
    assert "events_rollup_type_day:" in proc.stdout
    assert "pricing_summary:" in proc.stdout
    assert "codec:snappy" in proc.stdout  # stock Spark default, not ours
    assert "codegen_cache:100" in proc.stdout
