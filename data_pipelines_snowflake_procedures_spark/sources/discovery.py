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
from collections.abc import Iterator, Sequence
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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


def write_any(
    df: DataFrame, path: str, fmt: str | None = None, mode: str = "overwrite"
) -> None:
    """S1-S5 write-side counterpart of :func:`read_any`: csv (with
    header), json (ndjson), parquet, orc, text — distributed writers;
    Excel/XML are read-only formats here (nothing at 100 TB should be
    written as either; export small results via
    ``.toPandas().to_excel``)."""
    ext = (fmt or os.path.splitext(path)[1].lstrip(".")).lower()
    if ext == "csv":
        df.write.mode(mode).option("header", True).csv(path)
        return
    if ext in ("json", "ndjson", "jsonl"):
        df.write.mode(mode).json(path)
        return
    if ext == "parquet":
        df.write.mode(mode).parquet(path)
        return
    if ext == "orc":
        df.write.mode(mode).orc(path)
        return
    if ext in ("txt", "text"):
        df.write.mode(mode).text(path)  # single string column required
        return
    raise ValueError(f"Unsupported write format: {ext!r} ({path})")


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


def run_file_dq_distributed(
    df: DataFrame, max_pairs: int | None = None
) -> tuple[list[dict[str, Any]], int]:
    """Five-pillar DQ sweep on a Spark DataFrame, returning the
    reference's flat rule records (Data_Discovery_File.sql:217-313) and
    the frame's row count, in two Spark actions whatever the column
    count:

    1. one fused profiling pass: null and distinct counts for
       completeness/uniqueness, plus each numeric column's mean and
       sample stddev;
    2. one stacked two-level aggregate (operators/dq.py
       ``per_value_rules``) for the z-score, rare-value and
       functional-dependency rules, fed the profile's mean, stddev,
       non-null counts and unique columns.

    Validity is schema-level here: a typed DataFrame column cannot hold
    mixed types, so a column is valid iff its type maps into the
    palette (VARIANT → failed, mirroring the reference's "values must
    match the inferred type" intent on data Spark could not type).
    """
    from decimal import ROUND_HALF_UP, Decimal

    from ..operators.dq import PASS_THRESHOLD, per_value_rules
    from ..operators.profile import is_numeric, profile_aggregates

    def _round6(x: float) -> float:
        # Spark's round() is HALF_UP; Python's round() is banker's —
        # match Spark so driver-side records agree with the engines.
        return float(Decimal(str(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    results: list[dict[str, Any]] = []
    schema = {f.name: f.dataType for f in df.schema.fields}
    cols = df.columns

    # Action 1 (fused): null/distinct counts + numeric mean/std in ONE pass.
    prow = df.agg(*profile_aggregates(df, cols)).collect()[0]
    count_all = int(prow["count_all"])
    total = float(max(count_all, 1))
    nonnull = {c: count_all - int(prow[f"{c}__count_nulls"]) for c in cols}
    for c in cols:
        completeness = nonnull[c] / total
        uniqueness = prow[f"{c}__count_distinct"] / total
        for pillar, result in (("completeness", completeness), ("uniqueness", uniqueness)):
            results.append(
                {
                    "pillar": pillar,
                    "column": c,
                    "result": _round6(result),
                    "rule": f"{pillar.capitalize()} of {c}",
                    "status": "passed" if result >= PASS_THRESHOLD else "failed",
                }
            )
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
    pairs = [(c1, c2) for c1 in cols for c2 in cols if c1 != c2]
    # Action 2: every per-value rule from one stacked aggregate.
    rules = per_value_rules(
        df,
        zscore={
            c: (prow[f"{c}__avg"], prow[f"{c}__stddev"], nonnull[c])
            for c, t in schema.items()
            if is_numeric(t)
        },
        rare={c: nonnull[c] for c, t in schema.items() if isinstance(t, T.StringType)},
        fd_pairs=pairs[:max_pairs],
        known_unique_cols={
            c for c in cols if int(prow[f"{c}__count_distinct"]) == nonnull[c]
        },
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
    spark: SparkSession,
    file_path: str,
    fmt: str | None = None,
    max_pairs: int | None = None,
) -> dict[str, Any]:
    """End-to-end `DQ_DISCOVERY_AND_CHECKS` parity
    (Data_Discovery_File.sql:353-433): read → metadata → DQ sweep →
    envelope with audit log."""
    start = _dt.datetime.now(_dt.timezone.utc)
    try:
        df = read_any(spark, file_path, fmt=fmt)
        rules, row_count = run_file_dq_distributed(df, max_pairs=max_pairs)
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


@dataclass
class QuarantineSplit:
    """The PERMISSIVE ingest split's result: ``clean`` (corrupt column
    dropped) and ``corrupt`` (raw offending text, one row per bad
    record), plus an explicit :meth:`release` for the cache the split
    reads through — an attribute monkey-patched onto ``clean`` would be
    lost on the first transformation (ADVICE r5). Unpacks as the
    historical ``(clean, corrupt)`` 2-tuple."""

    clean: DataFrame
    corrupt: DataFrame
    _cached: DataFrame | None = None

    def release(self) -> None:
        """Unpersist the split's cached read (idempotent)."""
        if self._cached is not None:
            self._cached.unpersist()
            self._cached = None

    def __iter__(self) -> Iterator[DataFrame]:
        return iter((self.clean, self.corrupt))


def read_with_quarantine(
    spark: SparkSession, path: str, fmt: str | None = None
) -> QuarantineSplit:
    """PERMISSIVE ingest split for the structured-text formats
    (csv / ndjson) — the 100 TB ingest contract where malformed rows
    are DATA to count and route (the file-DQ completeness pillar's
    upstream), never exceptions that kill the job.

    CSV needs TWO passes: with ``inferSchema`` Spark never adds the
    corrupt-record column to a CSV schema (unlike JSON), so a
    single-pass read silently reports corrupt files clean (ADVICE r5).
    Pass 1 infers the data schema; pass 2 re-reads with that schema
    extended by an explicit ``_corrupt_record`` string field, under
    which malformed/short/broken-quote rows ARE flagged. At 100 TB the
    inference pass is bounded with ``samplingRatio`` by the caller's
    conventions; here files are test-sized.

    Note: Spark disallows queries referencing ONLY the internal
    corrupt-record column on raw file reads, so the split reads
    through a cache — release it via :meth:`QuarantineSplit.release`
    (:func:`quarantine_report`, the intended counting entry point,
    does)."""
    ext = (fmt or os.path.splitext(path)[1].lstrip(".")).lower()
    if ext == "csv":
        inferred = (
            spark.read.option("header", True)
            .option("inferSchema", True)
            .option("mode", "DROPMALFORMED")
            .csv(path)
        )
        schema = T.StructType(
            [f for f in inferred.schema.fields if f.name != "_corrupt_record"]
            + [T.StructField("_corrupt_record", T.StringType())]
        )
        df = (
            spark.read.option("header", True)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .schema(schema)
            .csv(path)
        )
    elif ext in ("json", "ndjson", "jsonl"):
        df = (
            spark.read.option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(path)
        )
    else:
        raise ValueError(
            f"quarantine split supports csv/json text formats, not {ext!r}"
        )
    if "_corrupt_record" not in df.columns:
        return QuarantineSplit(
            clean=df,
            corrupt=spark.createDataFrame([], "_corrupt_record STRING"),
        )
    df = df.cache()
    clean = df.filter(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record"
    )
    corrupt = df.filter(F.col("_corrupt_record").isNotNull()).select(
        "_corrupt_record"
    )
    return QuarantineSplit(clean=clean, corrupt=corrupt, _cached=df)


def quarantine_report(
    spark: SparkSession, path: str, fmt: str | None = None
) -> dict[str, Any]:
    """Count-level corrupt-record report for a structured text file:
    ``{"n_clean", "n_corrupt", "corrupt_fraction", "samples"}`` (up to
    5 raw offending lines). Materializes both counts, then releases
    the split's cache — no session-lifetime blocks."""
    split = read_with_quarantine(spark, path, fmt)
    n_clean = split.clean.count()
    bad_rows = [r["_corrupt_record"] for r in split.corrupt.limit(5).collect()]
    n_corrupt = split.corrupt.count()
    split.release()
    total = n_clean + n_corrupt
    return {
        "n_clean": int(n_clean),
        "n_corrupt": int(n_corrupt),
        "corrupt_fraction": round(n_corrupt / total, 6) if total else 0.0,
        "samples": bad_rows,
    }


def read_fixed_width(
    spark: SparkSession,
    path: str,
    colspecs: Sequence[tuple[str, int, int, str]],
) -> DataFrame:
    """Fixed-width text reader (the mainframe/COBOL export format the
    reference's file-discovery surface never reached): each spec is
    ``(name, start_1based, length, spark_type)``; fields are sliced
    with ``substring``, trimmed, empty→NULL, and cast — all native
    Column expressions over a distributed ``spark.read.text`` scan, so
    a 100 TB fixed-width dump parses with whole-stage codegen and no
    Python. Rows shorter than a field's window yield NULL for that
    field (substring past end is empty), never an error — quarantine
    by ``WHERE col IS NULL`` if strictness is needed."""
    raw = spark.read.text(path)
    cols = [
        F.nullif(F.trim(F.substring(F.col("value"), start, length)), F.lit(""))
        .cast(dtype)
        .alias(name)
        for name, start, length, dtype in colspecs
    ]
    return raw.select(*cols)


def write_fixed_width(
    df: DataFrame,
    path: str,
    widths: Sequence[tuple[str, int]],
    mode: str = "overwrite",
) -> None:
    """Fixed-width writer: each column renders via ``rpad`` to its
    width (left-aligned, the common convention; values longer than the
    window are truncated explicitly rather than corrupting downstream
    offsets) and concatenates into one text column — a distributed
    ``text`` write, the round-trip partner of :func:`read_fixed_width`."""
    rendered = F.concat(
        *[
            F.rpad(
                F.substring(F.coalesce(F.col(c).cast("string"), F.lit("")), 1, w),
                w,
                " ",
            )
            for c, w in widths
        ]
    ).alias("value")
    df.select(rendered).write.mode(mode).text(path)
