"""SparkSession construction and test-data table registry.

The reference ran inside a Snowflake session (``session.sql``/
``session.table``); here the equivalent ambient context is a
SparkSession tuned for the harness: local[N] single-JVM, AQE on,
UTC session timezone (required for DuckDB-oracle comparison), Arrow
enabled for the pandas interchange paths.

At cluster scale the same settings apply unchanged except
``master``/memory, which come from spark-submit; nothing here assumes
local mode.
"""

from __future__ import annotations

import importlib.util
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Tables the driver materializes under /root/testdata/sf*/ (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Python-worker daemon with numpy/pandas/pyarrow preloaded (pydaemon.py).
DAEMON_MODULE = "data_pipelines_snowflake_procedures_spark.pydaemon"


def get_spark(
    app_name: str = "data_pipelines_snowflake_procedures_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | str | None = None,
) -> SparkSession:
    """Build (or reuse) the harness SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default 32 per the
    driver contract); shuffle partitions default to the same so a local
    shuffle is one wave. On a real cluster, pass ``shuffle_partitions``
    sized to data volume (~128 MB per post-shuffle partition) and let
    AQE coalesce down.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = str(shuffle_partitions or cpus)
    # Python-worker daemon with numpy/pandas/pyarrow preloaded so forked
    # workers inherit them copy-on-write (guide §4.5 one level up; see
    # pydaemon.py — a cold C-extension import costs seconds per worker
    # process on the harness sandbox and workers are re-forked whenever a
    # partially-consumed Arrow stream kills one). The repo root rides on
    # the executors' PYTHONPATH so the daemon module resolves regardless
    # of the JVM's working directory; the conf is set only when it does.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    executor_pythonpath = os.pathsep.join(
        p
        for p in (repo_root, os.environ.get("PYTHONPATH", ""))
        if p
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.executorEnv.PYTHONPATH", executor_pythonpath)
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Harness parquet stores some timestamps as TIMESTAMP(NANOS),
        # which Spark has no native type for; read them as epoch-nano
        # longs and convert in load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if daemon_resolves(executor_pythonpath):
        builder = builder.config("spark.python.daemon.module", DAEMON_MODULE)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def daemon_resolves(pythonpath: str) -> bool:
    """True when :data:`DAEMON_MODULE` is a source file under one of the
    ``pythonpath`` entries, so Python workers started with that path
    can import it. A daemon module that fails to import fails every
    Python UDF, so without it Spark's stock daemon is kept.
    ``find_spec`` locates the module without importing it:
    ``pyspark.daemon`` reads ``sys.argv`` at import time."""
    try:
        spec = importlib.util.find_spec(DAEMON_MODULE)
    except (ImportError, ValueError):
        return False
    if spec is None or spec.origin is None:
        return False
    rel = os.path.join(*DAEMON_MODULE.split(".")) + ".py"
    origin = os.path.realpath(spec.origin)
    return any(
        os.path.realpath(os.path.join(entry, rel)) == origin
        for entry in pythonpath.split(os.pathsep)
        if entry
    )


def rows_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType | str
) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``schema``'s field order) as a
    DataFrame, through a ``pyarrow.Table``.

    Spark takes its Arrow path for a ``pa.Table`` whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says, and the plan is
    a ``LocalRelation``: no Python worker, and no Spark job until an
    action. A list of tuples would plan a Python RDD instead, whose
    every action forks Python workers to unpickle the rows. The table
    is built column by column from the schema, so duplicate field
    names (a spreadsheet header can repeat) keep their positions."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    columns = [
        pa.array([row[i] for row in rows], type=field.type)
        for i, field in enumerate(arrow)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow), schema)


def _set_read_confs(spark: SparkSession) -> None:
    """Runtime-settable SQL confs every harness read depends on.

    Callers may hand us a vanilla session (the harness driver does), so
    set these at read time rather than relying on get_spark()'s
    builder-time config. Shared by the batch (:func:`load_table`) and
    streaming (``streaming/stream.py``) paths so they cannot drift.

    * ``nanosAsLong`` — harness parquet stores some timestamps as
      TIMESTAMP(NANOS), which Spark has no native type for; read them
      as epoch-nano longs and convert after the scan.
    * ``inferTimestampNTZ`` off — harness timestamps are MICROS with
      isAdjustedToUTC=false, which Spark 4 infers as TIMESTAMP_NTZ by
      default. NTZ is rejected by streaming watermarks and complicates
      window/interval arithmetic, so read them as plain TIMESTAMP.
    * session timezone UTC — NTZ-physical values read as TIMESTAMP_LTZ
      only render identically to DuckDB's naive timestamps when the
      session tz is UTC; a vanilla session could carry any tz.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one harness table (plain parquet scan; pushdown-friendly).

    TIMESTAMP(NANOS) parquet columns (e.g. ``events.ts``) surface as
    epoch-nano longs under ``nanosAsLong``; convert them back to
    timestamps with integer ``div`` (a float divide would lose
    precision above 2^53 ns). Column pruning still reaches the scan;
    only predicates on the converted column evaluate post-scan, which
    is acceptable for the one nano-typed column in the harness.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    _set_read_confs(spark)
    df = spark.read.parquet(path)
    for field in _nano_timestamp_fields(path):
        # Convert only when Spark actually surfaced the column as a
        # nano LONG: Spark-written INT96 timestamps also probe as
        # timestamp[ns] in the parquet footer but read as TIMESTAMP,
        # and dividing a timestamp by 1000 is an analysis error.
        if isinstance(df.schema[field].dataType, T.LongType):
            df = df.withColumn(
                field, F.expr(f"timestamp_micros(`{field}` div 1000)")
            )
    return df


def _nano_timestamp_fields(path: str) -> list[str]:
    import pyarrow.parquet as pq

    # Spark-written tables are DIRECTORIES of part files with one
    # common schema; probe the first part (footer-only read)
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet")
        )
        if not parts:
            return []
        path = os.path.join(path, parts[0])
    schema = pq.read_schema(path)
    return [f.name for f in schema if str(f.type) == "timestamp[ns]"]


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Register every harness table as a temp view named after itself.

    Lets ``spark.sql`` queries and the execution engine (plans/engine.py)
    refer to the same names the DuckDB oracle uses. Parquet scans are
    lazy; registering all ten costs only footer reads.
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
