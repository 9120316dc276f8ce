"""Custom Python Data Source (PySpark 4 `pyspark.sql.datasource` API):
a deterministic synthetic-events generator.

Why it exists: the reference ingests from Snowflake stages; a Spark
deployment frequently needs a *programmatic* source (load generator,
API poller, fixture fabric) that still behaves like a real table —
schema known to Catalyst, work split into input partitions, no driver
materialization. The PySpark 4 DataSource API is the public,
pip-less way to write one in pure Python; this module registers
``synthetic_events`` as a format usable via
``spark.read.format("synthetic_events")``.

Scale/correctness design:

* **Partition-parallel**: the generator plans ``numPartitions`` input
  partitions, each producing a contiguous id range — reads scale out
  exactly like a file scan, nothing flows through the driver.
* **Deterministic by construction**: every field derives from the row
  id with integer arithmetic (Knuth multiplicative hash), so two
  reads — or a read and an independent SQL reconstruction — are
  bit-identical. The registry entry ``synthetic_events_agg`` exploits
  this: its DuckDB oracle regenerates the same table from ``range()``
  and must hash-match the aggregate of what Spark read through the
  custom source.
* Rows yield as plain tuples; Spark converts per-batch (Arrow where
  possible). For heavier sources implement ``read`` returning
  ``pyarrow.RecordBatch`` directly — same API, fewer conversions.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Iterator, Sequence

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
_KNUTH = 2654435761  # Knuth's multiplicative hash constant (2^32 scale)
_EPOCH = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)


def synth_row(i: int) -> tuple:
    """Row ``i`` of the synthetic table — pure integer arithmetic so any
    engine can regenerate it (the ``synthetic_events_agg`` oracle does)."""
    return (
        i,
        (i * 40503) % 1000,
        EVENT_TYPES[i % 5],
        ((i * _KNUTH) % 10000) / 100.0,
        (_EPOCH + _dt.timedelta(seconds=i)).replace(tzinfo=None),
    )


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n_rows = int(options.get("n_rows", 1000))
        self.n_parts = int(options.get("numPartitions", 8))

    def partitions(self) -> Sequence[InputPartition]:
        step = max(1, -(-self.n_rows // self.n_parts))  # ceil division
        return [
            _RangePartition(lo, min(lo + step, self.n_rows))
            for lo in range(0, self.n_rows, step)
        ]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        for i in range(partition.start, partition.end):
            yield synth_row(i)


class SyntheticEventsDataSource(DataSource):
    """``spark.read.format("synthetic_events").option("n_rows", N)``."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> T.StructType:
        return T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("ts", T.TimestampType()),
            ]
        )

    def reader(self, schema: T.StructType) -> SyntheticEventsReader:
        return SyntheticEventsReader(self.options)


def register_synthetic_source(spark: SparkSession) -> None:
    """Idempotently register the format with this session."""
    spark.dataSource.register(SyntheticEventsDataSource)

