"""File discovery: multi-format readers, type palette, metadata, and the
end-to-end DQ discovery pipeline (reference S1-S6, F13, SURVEY.md §3.2).

Parity target: ``DQ_DISCOVERY_AND_CHECKS(FILE_PATH)``
(Data_Discovery_File.sql:317-433) — load a csv/xlsx/json/xml/parquet
file, infer its schema into the 6-type palette, build a file-metadata
document, run the five-pillar DQ sweep, and return the combined
envelope with an audit log.

Spark-first notes:

* CSV/JSON/parquet read natively distributed (``spark.read``) — at
  100 TB these are the formats that matter; schema inference samples,
  predicate pushdown and column pruning reach the scan.
* Excel/XML are inherently small-file, driver-side formats; they load
  via stdlib-only readers (sources/office.py: zipfile + xml.etree —
  this container has no openpyxl/lxml) and promote to a typed
  DataFrame. The reference loaded every format driver-side via pandas
  (Data_Discovery_File.sql:317-349); we keep driver-side parsing only
  where Spark has no native reader.
* The reference copied stage files to local disk first
  (``session.file.get``, :363). Spark reads paths (local/S3/HDFS)
  directly, so S6 is a no-op here.
* Beyond-reference interchange formats ride their natural parallel
  unit: Arrow IPC by record batch (sources/arrowipc.py), Avro object
  containers by sync-delimited block (sources/avrofile.py, S14) —
  driver reads headers only, executors seek straight to their slices.
* The DQ sweep runs on the Spark DataFrame through the distributed
  rule engine (operators/dq.py) in two Spark actions, whatever the
  column count, instead of whole-file pandas. Rule records keep the
  reference's shape and pass/fail semantics.
"""

from __future__ import annotations

import datetime as _dt
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

AGENT_NAME = "DataDiscoveryAgent"

#: The reference's 6-type palette (Data_Discovery_File.sql:27-53),
#: keyed by Spark type instead of pandas dtype.
_PALETTE: list[tuple[type, str]] = [
    (T.StringType, "VARCHAR"),
    (T.LongType, "NUMBER"),
    (T.IntegerType, "NUMBER"),
    (T.ShortType, "NUMBER"),
    (T.ByteType, "NUMBER"),
    (T.DoubleType, "FLOAT"),
    (T.FloatType, "FLOAT"),
    (T.DecimalType, "FLOAT"),
    (T.BooleanType, "BOOLEAN"),
    (T.TimestampType, "TIMESTAMP"),
    (T.TimestampNTZType, "TIMESTAMP"),
    (T.DateType, "TIMESTAMP"),
]


def map_type_to_palette(dtype: T.DataType) -> str:
    """Spark type → reference palette name; anything unmapped (arrays,
    maps, structs, binary) is VARIANT, like the reference's fallback."""
    for spark_type, name in _PALETTE:
        if isinstance(dtype, spark_type):
            return name
    return "VARIANT"


def format_file_size(n_bytes: int) -> str:
    """Human file size, B/KB/MB tiers (Data_Discovery_File.sql:57-69)."""
    if n_bytes < 1024:
        return f"{n_bytes} B"
    if n_bytes < 1024**2:
        return f"{round(n_bytes / 1024, 2)} KB"
    return f"{round(n_bytes / 1024 ** 2, 2)} MB"


def read_any(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    """S1-S5 dispatch: load a file of any supported format as a
    DataFrame. ``fmt`` overrides extension sniffing."""
    ext = (fmt or os.path.splitext(path)[1].lstrip(".")).lower()
    if ext == "csv":
        return (
            spark.read.option("header", True).option("inferSchema", True).csv(path)
        )
    if ext in ("json", "ndjson", "jsonl"):
        df = spark.read.json(path)
        if df.columns == ["_corrupt_record"] or not df.columns:
            df = spark.read.option("multiLine", True).json(path)
        return df
    if ext == "parquet":
        from ..session import _set_read_confs

        # Same read-time confs as session.load_table: a TIMESTAMP(NANOS)
        # column (e.g. a copy of events.parquet) must not blow up just
        # because it arrived through the generic file entry point.
        _set_read_confs(spark)
        return spark.read.parquet(path)
    if ext == "orc":
        return spark.read.orc(path)
    if ext in ("txt", "text"):
        # one row per line, column "value" — the raw-corpus entry point
        return spark.read.text(path)
    if ext == "xlsx":
        from .office import read_xlsx  # stdlib zipfile+ElementTree reader

        return read_xlsx(spark, path)
    if ext == "xls":
        from .office import read_xls  # stdlib MS-CFB + BIFF8 reader

        return read_xls(spark, path)
    if ext == "xml":
        from .office import read_xml  # stdlib ElementTree record inference

        return read_xml(spark, path)
    if ext == "avro":
        from .avrofile import read_avro  # stdlib spec-path container reader

        return read_avro(spark, path)  # block-parallel
    if ext == "tar":
        from .tar import read_tar  # stdlib-free POSIX ustar reader

        return read_tar(spark, path)  # member-parallel (WebDataset shards)
    if ext in ("arrow", "feather", "ipc"):
        from .arrowipc import read_arrow_ipc, read_arrow_stream, sniff_ipc_kind

        if sniff_ipc_kind(path) == "file":
            return read_arrow_ipc(spark, path)  # batch-parallel
        return read_arrow_stream(spark, path)  # no footer: driver-side
    raise ValueError(f"Unsupported file format: {ext!r} ({path})")


def file_metadata(path: str, df: DataFrame, row_count: int | None = None) -> dict:
    """File-definition document (Data_Discovery_File.sql:73-93 shape):
    name, type, size, row/column counts, palette-typed column list."""
    size = os.path.getsize(path) if os.path.exists(path) else None
    return {
        "file_name": os.path.basename(path),
        "file_type": os.path.splitext(path)[1].lstrip(".").lower(),
        "file_size": format_file_size(size) if size is not None else None,
        "row_count": row_count if row_count is not None else df.count(),
        "column_count": len(df.columns),
        "columns": [
            {"column_name": f.name, "type": map_type_to_palette(f.dataType)}
            for f in df.schema.fields
        ],
    }


def run_file_dq_distributed(df: DataFrame) -> tuple[list[dict[str, Any]], int]:
    """Five-pillar DQ sweep on a Spark DataFrame, returning the
    reference's flat rule records (Data_Discovery_File.sql:217-313) and
    the frame's row count, in two Spark actions whatever the column
    count:

    1. one fused profiling pass (operators/dq.py ``file_profile``):
       null and distinct counts for completeness/uniqueness, plus each
       numeric column's mean and sample stddev;
    2. one stacked two-level aggregate (operators/dq.py
       ``per_value_rules``) for the z-score, rare-value and
       functional-dependency rules, fed the profile's mean, stddev,
       non-null counts and unique columns.

    Validity is schema-level here: a typed DataFrame column cannot hold
    mixed types, so a column is valid iff its type maps into the
    palette (VARIANT → failed, mirroring the reference's "values must
    match the inferred type" intent on data Spark could not type).
    """
    from ..operators.dq import file_profile, per_value_rules
    from ..operators.profile import is_numeric

    schema = {f.name: f.dataType for f in df.schema.fields}
    cols = df.columns
    # Action 1 (fused): null/distinct counts + numeric mean/std in ONE pass.
    count_all, stats, results = file_profile(df, cols)
    for col, dtype in schema.items():
        valid = map_type_to_palette(dtype) != "VARIANT"
        results.append(
            {
                "pillar": "validity",
                "column": col,
                "result": valid,
                "rule": f"Validity of {col}",
                "status": "passed" if valid else "failed",
            }
        )
    # Action 2: every per-value rule from one stacked aggregate.
    rules = per_value_rules(
        df,
        zscore={
            c: (s.mean, s.std, s.nonnull) for c, s in stats.items() if is_numeric(schema[c])
        },
        rare={c: s.nonnull for c, s in stats.items() if isinstance(schema[c], T.StringType)},
        fd_pairs=[(c1, c2) for c1 in cols for c2 in cols if c1 != c2],
        known_unique_cols={c for c, s in stats.items() if s.unique},
    ).collect()
    rule_text = {
        "zscore": ("accuracy", "Outlier check on {} (z-score > 3)"),
        "rare": ("accuracy", "Rare value check on {} (<1% frequency)"),
        "fd": ("consistency", "Functional dependency {}"),
    }
    for row in rules:
        pillar, text = rule_text[row["rule"]]
        results.append(
            {
                "pillar": pillar,
                "column": row["column_name"],
                "result": float(row["result"]),
                "rule": text.format(row["column_name"]),
                "status": row["status"],
            }
        )
    return results, count_all


def summarize_rules(results: list[dict[str, Any]]) -> dict[str, Any]:
    """Pass/fail partition of rule records
    (Data_Discovery_File.sql:379-405 shape)."""
    passed = [r for r in results if r["status"] == "passed"]
    failed = [r for r in results if r["status"] == "failed"]
    return {
        "total_rules": len(results),
        "passed_rules": len(passed),
        "failed_rules": len(failed),
        "failed_details": failed,
    }


def discover_and_run_dq(
    spark: SparkSession, file_path: str, fmt: str | None = None
) -> dict[str, Any]:
    """End-to-end `DQ_DISCOVERY_AND_CHECKS` parity
    (Data_Discovery_File.sql:353-433): read → metadata → DQ sweep →
    envelope with audit log."""
    start = _dt.datetime.now(_dt.timezone.utc)
    try:
        df = read_any(spark, file_path, fmt=fmt)
        rules, row_count = run_file_dq_distributed(df)
        definition = file_metadata(file_path, df, row_count=row_count)
        end = _dt.datetime.now(_dt.timezone.utc)
        return {
            "status": "SUCCESS",
            "file_definition": definition,
            "dq_auto_check_result": {
                "summary": summarize_rules(rules),
                "rules": rules,
            },
            "audit_log": {
                "agent_name": AGENT_NAME,
                "input_file": file_path,
                "start_time": start.isoformat(),
                "end_time": end.isoformat(),
                "duration_seconds": round((end - start).total_seconds(), 4),
            },
        }
    except Exception as exc:  # noqa: BLE001 — error envelope (X7)
        return {
            "status": "FAILED",
            "error": str(exc),
            "agent_name": AGENT_NAME,
            "input_file": file_path,
        }
