"""SparkSession construction and test-data table registry.

The reference ran inside a Snowflake session (``session.sql``/
``session.table``); here the equivalent ambient context is a
SparkSession tuned for the harness: local[N] single-JVM, AQE on,
UTC session timezone (required for DuckDB-oracle comparison), Arrow
enabled for the pandas interchange paths, and zstd parquet.

Snowflake compresses stored tables itself; Spark writes parquet with
snappy unless told otherwise (it already writes ORC with zstd). Every
table the program persists — ``<table>_MASKED``, the business
glossary, SQL-batch CTAS/INSERT targets, sinks, streaming staging,
SCD1 targets, the kept corpus — goes through this session's parquet
codec, so the codec is set here once, at Spark's default zstd level
(3), and no writer sets its own. On the benchmark's seed-28 inputs,
one file per output, snappy -> zstd: masked customer 89,105 -> 57,951
bytes, SCD1 output 134,358 -> 87,394, kept corpus 630,657 -> 307,210,
at the same write CPU; DuckDB reads the zstd files. zstd level 1 was
8-24% larger, level 6 only 2-3% smaller, gzip at best 32% smaller
than snappy, and lz4_raw about the same as snappy. A session the
caller built and passes in keeps its own codec, as it keeps every
other builder setting here.

Spark compiles each whole-stage-codegen class with Janino and caches
the compiled class JVM-wide, keyed by its generated source, up to
``spark.sql.codegen.cache.maxEntries`` classes (default 100). The cap
is a static conf read once per JVM, at the first code generation, so
it can only be set here in the builder. The agent's cycle of eight
procedures needs about 150 distinct classes, so under the default cap
each call evicted the classes the next one needed: on the benchmark's
agent inputs (seed 502) the second cycle recompiled 148 classes, a
file-DQ aggregate costing 55-111 ms of Janino time, and the fresh
bytecode then ran interpreted until HotSpot compiled it again. With
:data:`CODEGEN_CACHE_ENTRIES` a repeat cycle compiles about 20, most of
them SQL-batch classes whose per-cycle literals are inlined into the
generated source. The corpus pass needs 68 classes and compiled none
on a repeat pass under either cap.

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


#: Entries in Spark's JVM-wide cache of compiled generated classes
#: (``spark.sql.codegen.cache.maxEntries``, default 100). One agent
#: cycle uses about 150 distinct classes; 256 holds them with about 100
#: to spare. Its SQL batch also compiles about 14 one-off classes per
#: cycle (literals are inlined into generated source); those are used
#: once, so they are what least-recently-used eviction drops once the
#: cache is full, and they bound the cache's extra memory at about 100
#: classes (~0.12 MB each). Over a 360 s agent run (73 cycles, 4-core
#: VM) the first cycle compiled 150 classes and every later one 16-23,
#: with no rise after the one-off classes filled the cache around
#: cycle 8.
CODEGEN_CACHE_ENTRIES = 256

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

    Parquet is written with zstd (module docstring: about a third
    smaller than snappy on tables, half on text, at the same write
    CPU). Like every setting here, it reaches the program's writes
    only through a session built by this call: the operators take a
    session and set no write conf, so a session the caller built and
    passes in keeps its own codec.

    The codegen cache holds :data:`CODEGEN_CACHE_ENTRIES` compiled
    classes instead of Spark's 100 (module docstring: one agent cycle
    needs about 150, so the default evicted them every cycle and the
    cycle recompiled 148 classes; now about 20). A session the caller
    built keeps its own cap, and so does any session in a JVM that has
    already generated code: Spark sizes the cache once per JVM.
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
        # zstd at Spark's default level (3); see the module docstring
        .config("spark.sql.parquet.compression.codec", "zstd")
        # room for one agent cycle's generated classes; see get_spark
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
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
