"""Structured Streaming wiring for the event-window operators.

The reference has no streaming (SURVEY.md §2.13) — this is the
Spark-native extension: the SAME aggregation functions from
streaming/windows.py run behind ``readStream`` with an event-time
watermark for late data, proving the operators are streaming-legal.

Pattern: parquet file source (each file = one micro-batch replay) →
``withWatermark`` → windowed agg → memory/any sink. In production the
source becomes Kafka/files-on-arrival and the sink a Delta/parquet
table with checkpointing; nothing in the transform changes — that is
the point of Structured Streaming's unified batch/stream model.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from .windows import session_agg, tumbling_agg

#: Spark's bundled RocksDB state store provider — the production
#: answer for large stateful streams: state lives off-heap in a local
#: RocksDB instance with changelog checkpointing instead of the
#: default HDFS-backed provider's in-JVM-memory maps + full snapshot
#: uploads. The r5 sf1 stress run measured the two state-heavy drains
#: (sessions, dedup) at ~16× wall-time on 50× data under the default
#: provider — state-store churn, not compute.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)


def use_rocksdb_state(spark: SparkSession) -> None:
    """Point new streaming queries at the RocksDB state store (the
    provider conf is read per-query at start, so this is safe to set
    any time before ``.start()``; running queries keep the provider
    their checkpoint was created with). Changelog checkpointing
    uploads per-batch deltas instead of full snapshots — the setting
    that matters at 100 TB state.

    Measured trade-off (sf1, local[32]): large-per-partition-state
    drains win big (sessions 36.2→19.6 s, stateful totals 15.7→13.8 s)
    while the stream-stream join — 4 small stores per partition —
    PAYS instance overhead (8.1→15.5 s). RocksDB stays the default
    because production state is the large kind; pass
    ``state_store="hdfs"`` to :func:`run_to_memory` where per-store
    state is known-tiny."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true",
    )


def read_events_stream(
    spark: SparkSession, sf_dir: str, ts_col: str = "ts"
) -> DataFrame:
    """File-source stream over the harness events parquet. Schema comes
    from a batch peek (file streams require a declared schema); the
    TIMESTAMP(NANOS) column is converted exactly like the batch path."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..session import _set_read_confs

    path = os.path.join(sf_dir, "events.parquet")
    _set_read_confs(spark)
    raw_schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        # Spark-written table: a directory of part files — stream it
        # directly (the glob filter below would match nothing)
        stream = spark.readStream.schema(raw_schema).parquet(path)
    else:
        # single-file harness layout: file-source streams want a
        # directory, so stream the sf dir filtered down to the events
        # file (each matching file = one replayable unit)
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    # TIMESTAMP(NANOS) columns surface as epoch-nano longs under the
    # session's nanosAsLong setting — same conversion as load_table.
    if isinstance(raw_schema[ts_col].dataType, T.LongType):
        stream = stream.withColumn(
            ts_col, F.expr(f"timestamp_micros(`{ts_col}` div 1000)")
        )
    return stream


def hourly_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming tumbling-hour aggregation with late-data watermark."""
    events = read_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    return tumbling_agg(events)


def sessions_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming session windows — stateful; watermark bounds state."""
    events = read_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    return session_agg(events)


def dedup_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup on event_id: duplicates arriving within
    the watermark window are dropped with bounded state
    (``dropDuplicatesWithinWatermark`` expires seen-keys past the
    watermark — plain ``dropDuplicates`` state grows forever).
    Demonstrated over a self-union of the source (every event arrives
    twice)."""
    a = read_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    b = read_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    return a.union(b).dropDuplicatesWithinWatermark(["event_id"])


def click_error_stream_join(
    spark: SparkSession,
    sf_dir: str,
    max_gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join with an event-time range condition:
    every (click, error) pair for the same user where the error lands
    within ``max_gap`` after the click — the real-time attribution
    join (which click preceded this failure?).

    Both sides carry a watermark and the join predicate bounds
    error_ts to [click_ts, click_ts + max_gap]; together those let the
    state store EVICT clicks older than watermark+gap and errors older
    than watermark — without the time bound, both sides' state grows
    forever. Inner stream-stream joins emit in append mode as soon as
    a match arrives. State is partitioned by the equi-key (user_id):
    one shuffle per side per micro-batch, skew bounded by the hottest
    user within the watermark horizon."""
    from pyspark.sql import functions as F

    clk = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    err = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("err_user"),
            F.col("ts").alias("error_ts"),
        )
        .withWatermark("error_ts", watermark)
    )
    joined = clk.join(
        err,
        (F.col("user_id") == F.col("err_user"))
        & (F.col("error_ts") >= F.col("click_ts"))
        & (F.col("error_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {max_gap}")),
    )
    gap = (
        F.unix_micros(F.col("error_ts")) - F.unix_micros(F.col("click_ts"))
    ) / F.lit(1000000)
    return joined.select(
        "user_id",
        "click_id",
        "error_id",
        F.floor(gap).cast("long").alias("gap_sec"),
    )


def stream_left_outer_join(
    left: DataFrame,
    right: DataFrame,
    join_expr,
    select_cols: list,
) -> DataFrame:
    """Stream-stream LEFT OUTER join: like the inner form, but an
    unmatched left row must eventually emit with NULL right columns —
    and it can only do so once the watermark passes the row's join
    horizon (before that, a match could still arrive). Until the
    watermark advances past a row, that row emits NOTHING; a finite
    drain whose watermark never moves past the tail therefore holds
    back trailing unmatched rows — by design, not by bug (the
    watermark-flush test in tests/test_multimodal.py shows both
    behaviors). Both sides still need watermarks + a time-bound join
    predicate so state evicts."""
    return left.join(right, join_expr, "left_outer").select(*select_cols)


def drain_shuffle_partitions(
    spark: SparkSession, sf_dir: str, per_partition_bytes: int = 64 * 1024 * 1024
) -> int:
    """Shuffle (= state-store) partition count for a bounded drain,
    sized to the streamed input (~64 MB per partition) instead of the
    session's batch setting (VERDICT r10 #2): a tiny-state drain
    sharded session-wide pays per-partition state-store instances
    (RocksDB opens one per store per partition) and per-batch task
    churn for nothing, while at production volume the same rule yields
    the full session count. Partition count never affects drain
    RESULTS — state is hash-partitioned by key and every consumer is
    order-insensitive — only where state lives."""
    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        total = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    elif os.path.exists(path):
        total = os.path.getsize(path)
    else:
        total = 0
    cur = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(1, min(cur, total // per_partition_bytes + 1))


def run_to_memory(
    streaming_df: DataFrame,
    name: str | None = None,
    timeout_sec: int = 120,
    output_mode: str = "complete",
    state_store: str = "rocksdb",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming query to completion over the available data
    (``availableNow`` trigger) into an in-memory table; returns the
    result as a batch DataFrame. Used by tests to assert
    stream-equals-batch. Stream-stream joins require ``append``.

    Drain detection: most availableNow queries terminate by
    themselves, but a stateful operator with PROCESSING-TIME timeouts
    keeps the query alive with no-data batches until every key's idle
    timeout fires (10 min default — measured as the full 120 s
    awaitTermination plus a leaked query killed only at session
    shutdown). Once data batches are done, the memory table is
    complete except for watermark-flush output, which a no-data batch
    emits — so we stop after TWO consecutive completed no-data batches
    (the first may be the flush itself)."""
    import time as _time

    spark = streaming_df.sparkSession
    if state_store == "rocksdb":
        use_rocksdb_state(spark)
    else:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", HDFS_PROVIDER
        )
    # Scoped shuffle/state-partition override (see
    # :func:`drain_shuffle_partitions`): the streaming query clones the
    # session at start and freezes its conf, so restoring the session
    # value after the drain cannot affect the running query — and the
    # session's BATCH queries never see the override.
    prev_parts: str | None = None
    if shuffle_partitions is not None:
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    try:
        q = (
            streaming_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        if prev_parts is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    saw_data = False
    idle_batches = 0
    last_batch = -1
    deadline = _time.time() + timeout_sec
    stop = False
    while q.isActive and not stop and _time.time() < deadline:
        # recentProgress, not lastProgress: batches can complete faster
        # than the poll interval, and lastProgress only exposes the most
        # recent one — a skipped batch would miscount the
        # two-consecutive-idle-batches stop rule (ADVICE r4 #3).
        # recentProgress retains the last ~100 updates, far more than
        # can complete between 0.2 s polls.
        for p in q.recentProgress:
            if p["batchId"] <= last_batch:
                continue
            last_batch = p["batchId"]
            if p["numInputRows"] > 0:
                saw_data = True
                idle_batches = 0
            elif saw_data:
                idle_batches += 1
                if idle_batches >= 2:
                    stop = True
                    break
        if not stop:
            _time.sleep(0.2)
    timed_out = q.isActive and not stop
    if q.isActive:
        q.stop()
    q.awaitTermination(30)
    if timed_out and not saw_data:
        # Deadline hit before any data batch completed: the memory
        # table is EMPTY/partial and returning it would silently hand
        # wrong results downstream (observed at sf1 on a slow box:
        # the dedup drain crossed 120 s once and yielded 0 rows).
        # Truncation after data batches completed is still fine — the
        # remaining work is only the watermark-flush no-data batch.
        raise RuntimeError(
            f"streaming drain '{name}' hit the {timeout_sec}s deadline "
            "before completing any data batch — raise timeout_sec or "
            "reduce state pressure (see state_store)"
        )
    spark = streaming_df.sparkSession
    return spark.table(name)


def make_rollup_fold(
    spark: SparkSession,
    state_path: str,
    keys: list[str],
    value_col: str,
    checkpoint_suffix: str = "",
):
    """Streaming incremental-aggregate maintenance, as a foreachBatch
    body: every micro-batch is reduced to its PARTIAL state
    (count/sum/min/max per key,
    :func:`~..operators.incremental.partial_agg`) and folded into the
    persistent state table with the associative merge
    (:func:`~..operators.incremental.merge_partials`) — the streaming
    face of the same algebra the batch ``events_incremental_rollup``
    entry proves against recomputation. State is keys-sized, never
    history-sized; the fold reads only the prior state + one batch's
    partials, so a 100 TB history is never re-aggregated. The commit
    protocol lives in :func:`make_state_fold`."""
    from ..operators.incremental import merge_partials, partial_agg

    def step(batch_df: DataFrame, state: "DataFrame | None") -> DataFrame:
        part = partial_agg(batch_df, keys, value_col)
        return part if state is None else merge_partials([state, part], keys)

    return make_state_fold(spark, state_path, checkpoint_suffix, step)


#: Static enrichment dim for the stream-static join: event_type →
#: reporting category. Driver-literal by design — the pattern under
#: test is joining a STREAM to a static/slowly-changing lookup side.
EVENT_CATEGORIES = [
    ("view", "engagement"),
    ("click", "engagement"),
    ("purchase", "conversion"),
    ("signup", "conversion"),
    ("error", "reliability"),
]


def category_dim(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        EVENT_CATEGORIES, "event_type STRING, category STRING"
    )


def enriched_hourly_stream(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-static join: the event stream enriched against a static
    dimension (broadcast — the stream side never shuffles for the
    join and the join keeps NO state; the static side is re-resolved
    per micro-batch, which is what makes slowly-changing lookup
    tables pick up updates), then the same tumbling aggregation keyed
    by the enriched column. The canonical ETL shape: stream → dim
    lookup → windowed rollup."""
    from pyspark.sql import functions as F

    from .windows import tumbling_agg

    ev = read_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    enriched = ev.join(F.broadcast(category_dim(spark)), "event_type")
    return tumbling_agg(enriched, keys=("category",))


def make_state_fold(
    spark: SparkSession,
    state_path: str,
    checkpoint_suffix: str,
    step,
):
    """Generic idempotent foreachBatch fold: ``step(batch_df,
    state_or_None) -> merged state DF``. Factored out so every
    incrementally-maintained state representation — partial
    aggregates, bitmap indexes — shares one audited commit path.

    The parquet state commits via the atomic stage-and-swap
    (``commit_swap``: the state is only ever fully old or fully new),
    and a fold that finds the state missing first restores the last
    committed version (``recover_swap``), so a crash between the
    swap's two renames loses nothing; only a state never committed
    bootstraps from the batch alone. foreachBatch is
    AT-LEAST-once, so the fold must be idempotent: every applied batch
    leaves an ``_applied_<suffix>_<batch_id>`` marker INSIDE the state
    directory (underscore-prefixed files are invisible to parquet
    readers, and they travel through the atomic swap with the data
    they describe), and a redelivered batch whose marker is already
    present is skipped — without this, a crash between the state swap
    and the streaming checkpoint's offset commit would double-fold
    that batch on restart. ``checkpoint_suffix`` lets several bounded
    replays fold into ONE state table, each with its own progress
    tracking."""
    import glob as _glob
    import shutil as _shutil

    from ..sources.sink import commit_swap, recover_swap

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if not os.path.exists(state_path):
            try:
                recover_swap(state_path)
            except FileNotFoundError:
                pass  # nothing committed yet: the first batch bootstraps
        marker = f"_applied_{checkpoint_suffix}_{batch_id}"
        if os.path.exists(os.path.join(state_path, marker)):
            return
        if not batch_df.take(1):
            return
        if os.path.exists(state_path):
            state = spark.read.parquet(state_path)
        else:
            state = None
        merged = step(batch_df, state)
        staging = state_path + ".staging"
        merged.write.mode("overwrite").parquet(staging)
        if state is not None:
            for m in _glob.glob(os.path.join(state_path, "_applied_*")):
                _shutil.copy(m, staging)
        open(os.path.join(staging, marker), "w").close()
        commit_swap(staging, state_path)

    return _fold


def drain_bounded_replays(
    state_path: str,
    replays,
    timeout_s: int = 300,
) -> None:
    """Run bounded availableNow replays one after another, each
    folding into the same persistent state — the harness every
    incremental-state registry entry shares (review: previously three
    copy-pasted ~25-line drain loops). ``replays`` is an iterable of
    ``(source_stream, fold_fn, checkpoint_suffix)``. A replay that
    fails to drain within ``timeout_s`` is stopped and raises — a
    timed-out drain would leave the state partially folded AND still
    being written, so failing loudly beats finalizing a wrong
    answer."""
    for src, fold, suffix in replays:
        q = (
            src.writeStream.foreachBatch(fold)
            .option(
                "checkpointLocation", state_path + ".checkpoint" + suffix
            )
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"bounded replay {suffix} did not drain within {timeout_s}s"
            )
