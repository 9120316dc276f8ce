"""Tests for multimodal binary plumbing and Structured Streaming
(SURVEY.md §7 step 8 / §2.13 extension)."""

from __future__ import annotations

import zlib

import pytest

from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
    attach_binary,
    decode,
    extract_features,
)


def _docs(spark):
    return spark.createDataFrame(
        [(1, "hello world"), (2, "spark multimodal bytes")], ["doc_id", "text"]
    )


def test_attach_binary_schema_and_meta(spark):
    media = attach_binary(_docs(spark))
    assert [f.name for f in media.schema.fields] == ["doc_id", "payload", "media_meta"]
    row = media.filter("doc_id = 1").collect()[0]
    assert bytes(row["payload"]) == b"hello world"
    assert row["media_meta"]["mime"] == "text/plain"
    assert row["media_meta"]["n_bytes"] == 11


def test_extract_features_checksum(spark):
    out = {r["doc_id"]: r for r in extract_features(attach_binary(_docs(spark))).collect()}
    assert out[1]["n_bytes"] == 11
    assert out[1]["head_hex"] == b"hello wo".hex()
    # rolling checksum matches the canonical Adler-32 (mod-65521 form)
    assert out[1]["checksum"] == zlib.adler32(b"hello world")
    assert out[2]["checksum"] == zlib.adler32(b"spark multimodal bytes")


def test_decode_unknown_kind_raises():
    with pytest.raises(NotImplementedError, match="no decoder for 'image'"):
        decode("image", b"\x89PNG")


def test_decode_ppm_binary_and_ascii():
    """Real stdlib PPM decode: P6 binary with a comment line, and P3
    ascii — header parse + exact per-channel means."""
    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        decode_ppm,
    )

    # 2x2 P6: pixels (255,0,0) (0,255,0) (0,0,255) (255,255,255)
    px = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
    p6 = b"P6\n# a comment\n2 2\n255\n" + px
    out = decode_ppm(p6)
    assert (out["width"], out["height"]) == (2, 2)
    assert out["mean_r"] == round((255 + 0 + 0 + 255) / 4, 4)
    assert out["mean_g"] == round((0 + 255 + 0 + 255) / 4, 4)
    assert out["mean_b"] == round((0 + 0 + 255 + 255) / 4, 4)

    p3 = b"P3\n2 1\n255\n10 20 30  40 50 60\n"
    out3 = decode_ppm(p3)
    assert (out3["width"], out3["height"]) == (2, 1)
    assert (out3["mean_r"], out3["mean_g"], out3["mean_b"]) == (25.0, 35.0, 45.0)

    with pytest.raises(ValueError, match="not a PPM"):
        decode_ppm(b"\x89PNG....")


def test_decode_bmp_24bit():
    """Real stdlib BMP decode: hand-built 2x2 24-bit uncompressed BMP
    (bottom-up BGR rows, 4-byte row padding)."""
    import struct

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        decode_bmp,
    )

    width, height = 2, 2
    row_bytes = (width * 3 + 3) & ~3  # 8
    # rows bottom-up; BGR: bottom row = red,green ; top row = blue,white
    bottom = bytes([0, 0, 255, 0, 255, 0]) + b"\x00\x00"
    top = bytes([255, 0, 0, 255, 255, 255]) + b"\x00\x00"
    pixel_data = bottom + top
    data_offset = 14 + 40
    header = b"BM" + struct.pack(
        "<IHHI", data_offset + len(pixel_data), 0, 0, data_offset
    )
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_data),
        2835, 2835, 0, 0,
    )
    out = decode_bmp(header + dib + pixel_data)
    assert (out["width"], out["height"]) == (2, 2)
    assert out["mean_r"] == round((255 + 0 + 0 + 255) / 4, 4)
    assert out["mean_g"] == round((0 + 255 + 0 + 255) / 4, 4)
    assert out["mean_b"] == round((0 + 0 + 255 + 255) / 4, 4)

    with pytest.raises(NotImplementedError, match="24-bit"):
        bad_dib = struct.pack(
            "<IiiHHIIiiII", 40, 1, 1, 1, 8, 0, 4, 2835, 2835, 0, 0
        )
        decode_bmp(header + bad_dib)


def test_decode_bmp_missing_final_row_pad():
    """Some writers omit the last scan line's 4-byte pad (ADVICE r4
    #1): the decoder must clamp to the available bytes and produce the
    same channel means — padding never reaches the pixel slice. A
    block short by a FULL row is genuinely corrupt and must raise
    (the extractor quarantines it to NULL stats)."""
    import struct

    import pytest as _pytest

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        decode_bmp,
    )

    width, height = 2, 2
    bottom = bytes([0, 0, 255, 0, 255, 0]) + b"\x00\x00"
    top_unpadded = bytes([255, 0, 0, 255, 255, 255])  # no final pad
    pixel_data = bottom + top_unpadded
    data_offset = 14 + 40
    header = b"BM" + struct.pack(
        "<IHHI", data_offset + len(pixel_data), 0, 0, data_offset
    )
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_data),
        2835, 2835, 0, 0,
    )
    out = decode_bmp(header + dib + pixel_data)
    assert (out["width"], out["height"]) == (2, 2)
    assert out["mean_r"] == round((255 + 0 + 0 + 255) / 4, 4)
    assert out["mean_g"] == round((0 + 255 + 0 + 255) / 4, 4)
    assert out["mean_b"] == round((0 + 0 + 255 + 255) / 4, 4)

    with _pytest.raises(ValueError, match="truncated"):
        decode_bmp(header + dib + bottom)  # a whole row missing
    with _pytest.raises(ValueError, match="truncated"):
        # one byte past the pad cuts into real pixel data -> truncation,
        # not pad omission (zero fill would skew the channel means)
        decode_bmp(header + dib + pixel_data[:-3])


def test_extract_features_decodes_ppm_payloads(spark):
    """End-to-end: text rendered as valid PPM via pure Column
    expressions, decoded for REAL inside the mapInPandas batch —
    decoded stats must equal an independent driver-side computation."""
    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        decode_ppm,
    )

    docs = _docs(spark)
    media = attach_binary(docs, payload_format="ppm")
    payloads = {
        r["doc_id"]: bytes(r["payload"]) for r in media.collect()
    }
    # the synthesized payload is a genuinely parseable PPM
    for doc_id, text in ((1, b"hello world"), (2, b"spark multimodal bytes")):
        p = payloads[doc_id]
        assert p.startswith(b"P6\n8 ")
        expect_h = max((len(text) + 23) // 24, 1)
        ref = decode_ppm(p)
        assert (ref["width"], ref["height"]) == (8, expect_h)

    out = {r["doc_id"]: r for r in extract_features(media).collect()}
    for doc_id, p in payloads.items():
        ref = decode_ppm(p)
        row = out[doc_id]
        assert row["mime"] == "image/x-portable-pixmap"
        assert (row["width"], row["height"]) == (ref["width"], ref["height"])
        assert row["mean_r"] == ref["mean_r"]
        assert row["mean_g"] == ref["mean_g"]
        assert row["mean_b"] == ref["mean_b"]
        assert row["n_bytes"] == len(p)
    # text/plain payloads keep NULL image stats
    plain = extract_features(attach_binary(docs)).collect()
    assert all(r["width"] is None and r["mean_r"] is None for r in plain)


def test_groupwise_zscore_pandas_window_parity(spark, sf_dir):
    """The pure-window z-score equals a pandas groupby reference:
    sample stddev (ddof=1), 0.0 for a zero-variance group."""
    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        groupwise_zscore_window,
    )
    from data_pipelines_snowflake_procedures_spark.session import load_table

    ev = load_table(spark, sf_dir, "events")
    pdf = ev.select("event_id", "event_type", "value").toPandas()
    grouped = pdf.groupby("event_type")["value"]
    std = grouped.transform("std")
    z = ((pdf["value"] - grouped.transform("mean")) / std).where(std > 0, 0.0)
    pandas_form = dict(zip(pdf["event_id"], z.round(4)))
    window_form = {
        r["event_id"]: r["zscore"] for r in groupwise_zscore_window(ev).collect()
    }
    assert pandas_form.keys() == window_form.keys()
    for eid, z in window_form.items():
        assert abs(pandas_form[eid] - z) <= 1e-4, eid


def test_heavy_hitters_single_scan(spark, sf_dir):
    """VERDICT r2 wrong-list #1: the share denominator must come from
    the same groupBy pass — the optimized plan reads the source exactly
    once (no second count() scan)."""
    from data_pipelines_snowflake_procedures_spark.operators.skew import (
        heavy_hitters,
    )
    from data_pipelines_snowflake_procedures_spark.session import load_table

    out = heavy_hitters(load_table(spark, sf_dir, "events"), "user_id", k=5)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation") == 1, plan
    rows = out.collect()
    assert len(rows) == 5
    total = load_table(spark, sf_dir, "events").count()
    top = rows[0]
    assert abs(top["share"] - round(top["n_rows"] / total, 6)) <= 1e-6


def test_stream_matches_batch(spark, sf_dir):
    from data_pipelines_snowflake_procedures_spark.session import load_table
    from data_pipelines_snowflake_procedures_spark.streaming.stream import (
        hourly_stream,
        run_to_memory,
    )
    from data_pipelines_snowflake_procedures_spark.streaming.windows import (
        tumbling_agg,
    )

    streamed = run_to_memory(hourly_stream(spark, sf_dir)).collect()
    batch = tumbling_agg(load_table(spark, sf_dir, "events")).collect()
    key = lambda r: (r["window_start"], r["event_type"])  # noqa: E731
    assert sorted(
        [(key(r), r["n_events"], r["sum_value"]) for r in streamed]
    ) == sorted([(key(r), r["n_events"], r["sum_value"]) for r in batch])


def test_stateful_running_totals_matches_batch(spark, sf_dir):
    """applyInPandasWithState running totals: after draining the whole
    stream, per-user state equals the batch group-by."""
    from pyspark.sql import functions as F

    from data_pipelines_snowflake_procedures_spark.session import load_table
    from data_pipelines_snowflake_procedures_spark.streaming.stateful import (
        user_totals_stream,
    )
    from data_pipelines_snowflake_procedures_spark.streaming.stream import (
        run_to_memory,
    )

    # run_to_memory's two-idle-batch stop rule, NOT a bare
    # awaitTermination(120): the ProcessingTimeTimeout keeps the query
    # alive with no-data batches until every key's 10-min idle timeout
    # fires, so awaitTermination blocked this test for its full 120 s
    # (the r11 suite-runtime audit's single biggest test cost).
    drained = run_to_memory(
        user_totals_stream(spark, sf_dir),
        name="user_totals",
        output_mode="update",
    )
    # update mode may emit a row per micro-batch; the last row per user
    # is the final state
    streamed = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in drained.collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["t"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("t"))
        .collect()
    }
    assert streamed.keys() == batch.keys()
    for u, (n, t) in batch.items():
        assert streamed[u][0] == n, u
        assert abs(streamed[u][1] - t) < 0.02, u


def test_streaming_dedup_drops_self_union_duplicates(spark, sf_dir):
    from data_pipelines_snowflake_procedures_spark.session import load_table
    from data_pipelines_snowflake_procedures_spark.streaming.stream import (
        dedup_stream,
        run_to_memory,
    )

    q = (
        dedup_stream(spark, sf_dir)
        .writeStream.format("memory")
        .queryName("dedup_events")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.table("dedup_events").count()
    batch = load_table(spark, sf_dir, "events").count()
    assert streamed == batch  # every duplicate from the self-union dropped


@pytest.mark.slowtier
def test_watermark_drops_late_data(spark, tmp_path):
    """Late-data semantics: with a 1-hour watermark and one file per
    micro-batch, a window whose state was already emitted and evicted
    (watermark passed its end in an earlier batch) DROPS a late
    arrival instead of re-emitting."""
    import datetime as dt
    import time

    from data_pipelines_snowflake_procedures_spark.streaming.windows import (
        tumbling_agg,
    )

    t = dt.datetime
    d = str(tmp_path / "late_events")
    schema = "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE"
    batches = [
        # batch 0: the 10:00 window's only on-time event
        [(1, t(2024, 1, 1, 10, 15), "click", 1.0)],
        # batch 1: advances the watermark to 13:00
        [(2, t(2024, 1, 1, 14, 0), "click", 1.0)],
        # batch 2: runs with watermark 13:00 → the 10:00 window is
        # finalized (emitted + state evicted) at this batch's end
        [(3, t(2024, 1, 1, 15, 0), "click", 1.0)],
        # batch 3: a late arrival for the now-closed 10:00 window —
        # its state is gone, the row must be dropped, not re-emitted
        [(4, t(2024, 1, 1, 10, 30), "click", 1.0)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{d}/f={i}"
        )
        time.sleep(1.5)  # file-source orders batches by modification time

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/f=*")
        .withWatermark("ts", "1 hour")
    )
    q = (
        tumbling_agg(stream)
        .writeStream.format("memory")
        .queryName("late_agg")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["window_start"].hour, r["n_events"])
        for r in spark.table("late_agg").collect()
    }
    # the 10:00 window emitted exactly once, WITHOUT the late arrival
    assert (10, 1) in rows, rows
    assert (10, 2) not in rows, rows


def test_funnel_order_semantics_and_single_user_exchange(spark):
    """Steps only count strictly after the user's previous step; the
    window passes must share ONE hashpartitioning(user_id) exchange."""
    import datetime as dt
    import re

    from data_pipelines_snowflake_procedures_spark.streaming.windows import funnel

    T = dt.datetime
    rows = [
        (1, "view", T(2024, 1, 1, 0)),
        (1, "click", T(2024, 1, 1, 1)),
        (1, "purchase", T(2024, 1, 1, 2)),
        # clicks BEFORE viewing -> stops at step 1
        (2, "click", T(2024, 1, 1, 0)),
        (2, "view", T(2024, 1, 1, 1)),
        # purchase before click -> stops at step 2
        (3, "view", T(2024, 1, 1, 0)),
        (3, "purchase", T(2024, 1, 1, 1)),
        (3, "click", T(2024, 1, 1, 2)),
        # never views
        (4, "purchase", T(2024, 1, 1, 0)),
    ]
    df = spark.createDataFrame(rows, "user_id BIGINT, event_type STRING, ts TIMESTAMP")
    out = funnel(df, ["view", "click", "purchase"])
    row = out.collect()[0]
    assert (row["n_step1"], row["n_step2"], row["n_step3"]) == (3, 2, 1)
    assert row["rate_step2"] == 0.6667 and row["rate_step3"] == 0.3333
    # AQE prints "== Final Plan ==" then "== Initial Plan ==" (the same
    # exchanges again, pre-adaptive) — only scan the final section
    plan = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    user_exchanges = re.findall(
        r"Exchange hashpartitioning\(user_id#\d+L?, \d+\)", plan
    )
    assert len(user_exchanges) == 1, plan


def test_gapfill_hourly_zero_fills(spark):
    import datetime as dt

    from data_pipelines_snowflake_procedures_spark.streaming.windows import (
        gapfill_hourly,
    )

    T = dt.datetime
    rows = [
        (1, "a", T(2024, 1, 1, 0, 15)),
        (2, "a", T(2024, 1, 1, 3, 5)),   # hours 1, 2 empty for a
        (3, "b", T(2024, 1, 1, 1, 0)),   # b missing hours 0, 2, 3
    ]
    df = spark.createDataFrame(rows, "event_id BIGINT, event_type STRING, ts TIMESTAMP")
    out = {
        (r["event_type"], r["hour"].hour): r["n_events"]
        for r in gapfill_hourly(df).collect()
    }
    assert len(out) == 8  # 4 hours x 2 types, dense
    assert out[("a", 0)] == 1 and out[("a", 1)] == 0 and out[("a", 2)] == 0
    assert out[("a", 3)] == 1
    assert out[("b", 1)] == 1 and out[("b", 0)] == 0 and out[("b", 3)] == 0


@pytest.mark.slowtier
def test_stream_left_outer_join_emits_unmatched_after_watermark(spark, tmp_path):
    """Stream-stream LEFT OUTER semantics: a matched pair emits
    immediately; an unmatched click emits with NULL error columns only
    after the global watermark passes its join horizon; a click whose
    horizon the watermark has NOT passed stays pending (emits nothing)."""
    import datetime as dt
    import time

    from pyspark.sql import functions as F

    from data_pipelines_snowflake_procedures_spark.streaming.stream import (
        stream_left_outer_join,
    )

    t = dt.datetime
    d = str(tmp_path / "lo_events")
    schema = "event_id BIGINT, ts TIMESTAMP, event_type STRING, user_id BIGINT"
    batches = [
        # two clicks: user 1 will match, user 2 never will
        [(1, t(2024, 1, 1, 10, 0), "click", 1), (2, t(2024, 1, 1, 10, 5), "click", 2)],
        # user 1's error 10 min later -> inner match, emits immediately
        [(3, t(2024, 1, 1, 10, 10), "error", 1)],
        # late traffic advances BOTH watermarks past user 2's horizon
        [(4, t(2024, 1, 1, 14, 0), "click", 98)],
        [(5, t(2024, 1, 1, 14, 30), "error", 99)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{d}/f={i}")
        time.sleep(1.5)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/f=*")
    )
    clk = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    err = (
        stream.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("err_user"),
            F.col("ts").alias("error_ts"),
        )
        .withWatermark("error_ts", "10 minutes")
    )
    joined = stream_left_outer_join(
        clk,
        err,
        (F.col("user_id") == F.col("err_user"))
        & (F.col("error_ts") >= F.col("click_ts"))
        & (F.col("error_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 minutes")),
        ["user_id", "click_id", "error_id"],
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("lo_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        r["user_id"]: (r["click_id"], r["error_id"])
        for r in spark.table("lo_join").collect()
    }
    assert rows[1] == (1, 3)          # matched pair
    assert rows[2] == (2, None)       # unmatched, watermark passed -> NULL emit
    assert 98 not in rows             # horizon not passed -> still pending


@pytest.mark.slowtier
def test_streaming_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Restarting a checkpointed stream must resume from the committed
    offset: files processed before the stop are NOT reprocessed, late
    files are, and the file-sink result equals the batch aggregate of
    all input exactly once."""
    import datetime as dt

    from pyspark.sql import functions as F

    from data_pipelines_snowflake_procedures_spark.streaming.windows import (
        tumbling_agg,
    )

    t = dt.datetime
    src = str(tmp_path / "cp_src")
    ckpt = str(tmp_path / "cp_state")
    sink = str(tmp_path / "cp_sink")
    schema = "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE"

    def run_available():
        stream = (
            spark.readStream.schema(schema)
            .parquet(src + "/f=*")
            .withWatermark("ts", "1 hour")
        )
        q = (
            tumbling_agg(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: two windows of data + a watermark-advancing tail
    spark.createDataFrame(
        [
            (1, t(2024, 1, 1, 10, 10), "click", 1.0),
            (2, t(2024, 1, 1, 10, 40), "click", 2.0),
            (3, t(2024, 1, 1, 11, 20), "view", 3.0),
            (4, t(2024, 1, 1, 15, 0), "view", 1.0),
        ],
        schema,
    ).coalesce(1).write.parquet(src + "/f=0")
    run_available()

    # run 2 (restart from checkpoint): a new file, plus the tail again
    # would be a NEW row — only the new file may contribute
    spark.createDataFrame(
        [
            (5, t(2024, 1, 1, 15, 30), "click", 5.0),
            (6, t(2024, 1, 1, 19, 0), "view", 1.0),
        ],
        schema,
    ).coalesce(1).write.parquet(src + "/f=1")
    run_available()

    got = {
        (r["window_start"].hour, r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(sink).collect()
    }
    # every closed window exactly once, no duplicates from the restart
    assert got[(10, "click")] == (2, 3.0)
    assert got[(11, "view")] == (1, 3.0)
    assert got[(15, "view")] == (1, 1.0)
    assert got[(15, "click")] == (1, 5.0)
    assert len([k for k in got if k[0] == 10]) == 1


def test_ppm_decode_round_trip_property():
    """Property: decode_ppm recovers exact dimensions and channel means
    from randomly generated P6 images (pure parser, no Spark)."""
    from hypothesis import given, settings, strategies as st

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        decode_ppm,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        width=st.integers(min_value=1, max_value=12),
        height=st.integers(min_value=1, max_value=12),
        data=st.data(),
    )
    def check(width, height, data):
        n = width * height * 3
        pixels = bytes(
            data.draw(st.integers(min_value=0, max_value=255)) for _ in range(n)
        )
        payload = f"P6\n{width} {height}\n255\n".encode() + pixels
        out = decode_ppm(payload)
        assert (out["width"], out["height"]) == (width, height)
        for c, name in enumerate(("mean_r", "mean_g", "mean_b")):
            expect = round(sum(pixels[c::3]) / (width * height), 4)
            assert out[name] == expect

    check()


def test_streaming_progress_listener_records_batches(spark, sf_dir):
    """StreamingQueryListener observability: the collector must see the
    query start, at least one progress event whose input-row total
    equals the source row count, and the termination."""
    import time

    from data_pipelines_snowflake_procedures_spark.session import load_table
    from data_pipelines_snowflake_procedures_spark.streaming.observability import (
        attach_progress_collector,
    )
    from data_pipelines_snowflake_procedures_spark.streaming.stream import (
        hourly_stream,
        run_to_memory,
    )

    collector = attach_progress_collector(spark)
    try:
        run_to_memory(hourly_stream(spark, sf_dir))
        # listener events are delivered asynchronously on the driver bus
        expected = load_table(spark, sf_dir, "events").count()
        for _ in range(40):
            if collector.terminated and collector.total_input_rows() >= expected:
                break
            time.sleep(0.5)
        assert collector.started, "no start event received"
        assert collector.records, "no progress events received"
        assert collector.total_input_rows() == expected
        assert collector.terminated, "no termination event received"
        assert all(r["batch_duration_ms"] >= 0 for r in collector.records)
    finally:
        spark.streams.removeListener(collector)


def test_decode_png_hand_built_filter0():
    """Real stdlib PNG decode against a PNG built HERE with raw
    struct+zlib (independent of encode_png): 2x2 RGB, filter 0 rows —
    red,green / blue,white, same pixel values as the PPM/BMP cases."""
    import struct
    import zlib

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        decode_png,
    )

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    raw = (
        b"\x00" + bytes([255, 0, 0, 0, 255, 0])
        + b"\x00" + bytes([0, 0, 255, 255, 255, 255])
    )
    payload = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    out = decode_png(payload)
    assert (out["width"], out["height"]) == (2, 2)
    assert out["mean_r"] == round((255 + 0 + 0 + 255) / 4, 4)
    assert out["mean_g"] == round((0 + 255 + 0 + 255) / 4, 4)
    assert out["mean_b"] == round((0 + 0 + 255 + 255) / 4, 4)

    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"BM....")
    # palette / interlaced stay honest NotImplementedError gates
    pal = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    with pytest.raises(NotImplementedError, match="color type"):
        decode_png(
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", pal)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
        )
    adam7 = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    with pytest.raises(NotImplementedError, match="interlace"):
        decode_png(
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", adam7)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
        )
    # truncated pixel data is corrupt, not silently wrong
    with pytest.raises(ValueError, match="truncated"):
        decode_png(
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw[:5])) + chunk(b"IEND", b"")
        )


def test_png_round_trip_every_filter_and_color_type():
    """decode_png must invert encode_png's forward filter pass for all
    5 scanline filter types and all 4 supported color types — the
    filter and unfilter implementations are separate code paths, so a
    round-trip mismatch pinpoints a predictor bug. Stats checked
    against numpy computed directly on the source array."""
    import numpy as np

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    rng = np.random.RandomState(7)
    for color, nch in ((0, 1), (2, 3), (4, 2), (6, 4)):
        arr = rng.randint(0, 256, size=(13, 9, nch), dtype=np.uint8)
        for filters in ([0], [1], [2], [3], [4], None):  # None = cycle all
            out = decode_png(encode_png(arr, color=color, row_filters=filters))
            assert (out["width"], out["height"]) == (9, 13)
            if color in (2, 6):
                want = [round(float(arr[:, :, c].mean()), 4) for c in range(3)]
            else:
                g = round(float(arr[:, :, 0].mean()), 4)
                want = [g, g, g]
            assert [out["mean_r"], out["mean_g"], out["mean_b"]] == want, (
                color,
                filters,
            )


def test_extract_features_decodes_png_payloads(spark):
    """End-to-end PNG leg: documents rendered to real zlib-compressed
    PNGs via the Arrow-batched attach path, decoded for REAL inside
    extract_features — and because the PNG rendering shares the ppm
    path's 8-px-wide pixel layout, the decoded stats must EQUAL the
    ppm rendering's stats for every document."""
    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        decode_png,
    )

    docs = _docs(spark)
    media = attach_binary(docs, payload_format="png")
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    for p in payloads.values():
        assert p.startswith(b"\x89PNG\r\n\x1a\n")

    out = {r["doc_id"]: r for r in extract_features(media).collect()}
    ppm_out = {
        r["doc_id"]: r
        for r in extract_features(
            attach_binary(docs, payload_format="ppm")
        ).collect()
    }
    for doc_id, p in payloads.items():
        ref = decode_png(p)
        row = out[doc_id]
        assert row["mime"] == "image/png"
        assert (row["width"], row["height"]) == (ref["width"], ref["height"])
        assert (row["mean_r"], row["mean_g"], row["mean_b"]) == (
            ref["mean_r"], ref["mean_g"], ref["mean_b"],
        )
        assert row["n_bytes"] == len(p)
        ppm_row = ppm_out[doc_id]
        assert (row["width"], row["height"]) == (
            ppm_row["width"], ppm_row["height"],
        )
        assert (row["mean_r"], row["mean_g"], row["mean_b"]) == (
            ppm_row["mean_r"], ppm_row["mean_g"], ppm_row["mean_b"],
        )


def test_decode_wav_round_trip_and_metadata_only():
    """Real stdlib WAV decode: 8-bit PCM round-trips with exact
    integer stats; 16-bit containers yield metadata with NULL stats
    (the 8-bit stats contract is what the oracle restates); non-WAV
    bytes raise."""
    import math
    import io
    import wave

    import pytest as _pytest

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    data = bytes([0, 128, 255, 10, 200])
    out = decode_wav(encode_wav(data, sample_rate=16000))
    assert out["n_channels"] == 1 and out["sample_rate"] == 16000
    assert out["n_samples"] == 5
    assert out["duration_sec"] == math.floor(5 / 16000 * 1e6) / 1e6
    assert out["mean_amp"] == math.floor(sum(data) / 5 * 10000) / 10000
    rms = math.sqrt(sum((b - 128) ** 2 for b in data) / 5)
    assert out["rms"] == math.floor(rms * 10000) / 10000

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(44100)
        w.writeframes(b"\x00\x01" * 8)
    out16 = decode_wav(buf.getvalue())
    assert out16["n_channels"] == 2 and out16["sample_rate"] == 44100
    assert out16["n_samples"] == 4  # 16 bytes / (2 ch * 2 bytes)
    assert out16["mean_amp"] is None and out16["rms"] is None

    with _pytest.raises(Exception):
        decode_wav(b"\x89PNG not audio")


def test_extract_audio_features_matches_driver_decode(spark):
    """End-to-end audio leg: attach_audio renders real WAV containers
    inside Arrow batches; extract_audio_features must reproduce the
    driver-side decode for every document, and non-audio payloads
    keep NULL stats."""
    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        attach_audio,
        decode_wav,
        extract_audio_features,
    )

    docs = _docs(spark)
    media = attach_audio(docs)
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    for p in payloads.values():
        assert p[:4] == b"RIFF" and p[8:12] == b"WAVE"
    out = {r["doc_id"]: r for r in extract_audio_features(media).collect()}
    for doc_id, p in payloads.items():
        ref = decode_wav(p)
        row = out[doc_id]
        assert row["mime"] == "audio/wav" and row["n_bytes"] == len(p)
        for k in (
            "n_channels", "sample_rate", "n_samples",
            "duration_sec", "mean_amp", "rms",
        ):
            assert row[k] == ref[k], (doc_id, k)
    # text/plain payloads: NULL audio stats
    plain = extract_audio_features(attach_binary(docs)).collect()
    assert all(r["n_samples"] is None and r["rms"] is None for r in plain)


def test_jpeg_round_trip_tolerance_and_gates():
    """Baseline JPEG codec (operators/jpeg.py): encode->decode is
    self-contained (the decoder builds every table from the payload's
    own DQT/DHT segments), dimensions are exact, and reconstruction
    error is bounded by quantization — tight at q95 4:4:4, looser
    with 4:2:0 chroma."""
    import numpy as np
    import pytest as _pytest

    from data_pipelines_snowflake_procedures_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    h, w = 40, 56
    yy, xx = np.mgrid[0:h, 0:w]
    img = (
        np.stack(
            [128 + 100 * np.sin(xx / 9.0), 255 * yy / h, 255 * xx / w],
            axis=2,
        )
        .clip(0, 255)
        .astype(np.uint8)
    )
    for q, sub, tol in ((95, False, 1.0), (90, True, 4.0), (50, True, 8.0)):
        enc = encode_jpeg(img, quality=q, subsample=sub)
        assert enc[:2] == b"\xff\xd8" and enc[-2:] == b"\xff\xd9"
        out = decode_jpeg(enc)
        assert (out["width"], out["height"]) == (w, h)
        err = np.abs(out["pixels"].astype(int) - img.astype(int)).mean()
        assert err <= tol, (q, sub, err)
        for c, key in enumerate(("mean_r", "mean_g", "mean_b")):
            assert abs(out[key] - float(img[:, :, c].mean())) <= tol, key

    # grayscale single-component frames decode too
    g = (255 * xx / w).astype(np.uint8)
    outg = decode_jpeg(encode_jpeg(g, quality=92))
    assert (outg["width"], outg["height"]) == (w, h)
    assert (
        np.abs(outg["pixels"][:, :, 0].astype(int) - g.astype(int)).mean()
        <= 1.0
    )

    # non-JPEG and unsupported frame types fail loudly
    with _pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"\x89PNG\r\n\x1a\n")
    enc = encode_jpeg(img, quality=90)
    lossless = enc.replace(b"\xff\xc0", b"\xff\xc3", 1)  # SOF0 -> SOF3
    with _pytest.raises(NotImplementedError, match="non-baseline"):
        decode_jpeg(lossless)
    # a SOF2 frame carrying a baseline-shaped scan (Ss=0, Se=63) is
    # spec-invalid — progressive scans may not mix DC and AC
    bad_prog = enc.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with _pytest.raises(ValueError, match="may not mix DC and AC"):
        decode_jpeg(bad_prog)


def test_jpeg_progressive_decodes_identical_to_baseline():
    """Progressive (SOF2) round-trip: the encoder's libjpeg-style scan
    script (spectral selection + successive approximation) carries the
    SAME quantized coefficients as the baseline scan, so decoding the
    progressive payload must reproduce the baseline decode BYTE FOR
    BYTE — any error in EOB runs, point transforms, correction bits,
    or the non-interleaved block grid breaks exact equality."""
    import numpy as np

    from data_pipelines_snowflake_procedures_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(11)
    h, w = 37, 53  # non-multiples of 16: padded vs effective grids differ
    yy, xx = np.mgrid[0:h, 0:w]
    cases = [
        rng.randint(0, 256, (h, w, 3)).astype(np.uint8),  # dense coefs
        np.full((h, w, 3), 128, dtype=np.uint8),  # all-EOB
        (
            np.stack([128 + 90 * np.sin(xx / 7.0), 255 * yy / h, 255 * xx / w], axis=2)
            .clip(0, 255)
            .astype(np.uint8)
        ),  # smooth: long zero runs exercise ZRL/EOB folds
    ]
    for img in cases:
        for q, sub in ((92, False), (70, True)):
            base = decode_jpeg(encode_jpeg(img, quality=q, subsample=sub))
            penc = encode_jpeg(img, quality=q, subsample=sub, progressive=True)
            assert b"\xff\xc2" in penc  # really SOF2, multi-scan
            assert penc.count(b"\xff\xda") == 10
            prog = decode_jpeg(penc)
            assert np.array_equal(prog["pixels"], base["pixels"])
            assert (prog["mean_r"], prog["mean_g"], prog["mean_b"]) == (
                base["mean_r"],
                base["mean_g"],
                base["mean_b"],
            )

    # grayscale uses the 6-scan script
    g = rng.randint(0, 256, (22, 30)).astype(np.uint8)
    pg = encode_jpeg(g, quality=85, progressive=True)
    assert pg.count(b"\xff\xda") == 6
    assert np.array_equal(
        decode_jpeg(pg)["pixels"],
        decode_jpeg(encode_jpeg(g, quality=85))["pixels"],
    )


def test_jpeg_random_noise_high_quality_near_lossless():
    """Worst-case content (uniform noise) at quality 100 must still
    round-trip nearly losslessly — quantization steps are 1-2 there,
    so mean abs error stays below 1 LSB."""
    import numpy as np

    from data_pipelines_snowflake_procedures_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.RandomState(3)
    noise = rng.randint(0, 256, (16, 24, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(noise, quality=100))
    err = np.abs(out["pixels"].astype(int) - noise.astype(int)).mean()
    assert err < 1.0, err


def test_jpeg_restart_markers_and_fast_path_parity():
    """Two invariants of the entropy layer. (1) Restart markers: a
    DRI/RSTn encoding carries the same quantized coefficients as the
    plain encoding, so both payloads must decode to IDENTICAL pixels
    — exercises predictor resets, pad-bit flushes, and the reader's
    segment-reload path (T.81 E.1.4). (2) The fused baseline LUT
    decoder (``_block_baseline_fast``) must agree pixel-for-pixel
    with the generic bit-walk decoder, forced by handing the reader
    plain-dict tables (the documented fallback)."""
    import numpy as np
    import pytest as _pytest

    from data_pipelines_snowflake_procedures_spark.operators import jpeg as J

    rng = np.random.RandomState(23)
    img = rng.randint(0, 256, (41, 57, 3)).astype(np.uint8)
    for sub in (False, True):
        plain = J.encode_jpeg(img, quality=77, subsample=sub)
        assert b"\xff\xdd" not in plain
        for ri in (1, 3, 7):
            rst = J.encode_jpeg(
                img, quality=77, subsample=sub, restart_interval=ri
            )
            assert b"\xff\xdd" in rst  # DRI present
            assert any(bytes([0xFF, 0xD0 + i]) in rst for i in range(8))
            assert np.array_equal(
                J.decode_jpeg(rst)["pixels"], J.decode_jpeg(plain)["pixels"]
            )
    with _pytest.raises(NotImplementedError, match="restart"):
        J.encode_jpeg(img, progressive=True, restart_interval=2)

    payloads = [
        J.encode_jpeg(img, quality=77),
        J.encode_jpeg(img, quality=77, subsample=True, restart_interval=2),
        J.encode_jpeg(img, quality=77, progressive=True),
    ]
    fast = [J.decode_jpeg(p) for p in payloads]
    orig = J._canonical_codes_cached
    try:
        # plain dicts lack the prefix LUT -> every scan takes the
        # generic  _block_first/_block_refine bit-walk
        J._canonical_codes_cached = lambda b, v: dict(
            J._canonical_codes(list(b), list(v))
        )
        slow = [J.decode_jpeg(p) for p in payloads]
    finally:
        J._canonical_codes_cached = orig
    for f, s in zip(fast, slow):
        assert np.array_equal(f["pixels"], s["pixels"])


def test_extract_features_decodes_jpeg_payloads(spark):
    """End-to-end JPEG leg: documents rendered to real baseline JPEGs
    in Arrow batches, decoded for REAL inside extract_features; since
    the JPEG rendering shares the ppm pixel layout, decoded channel
    means must sit within quantization tolerance of the lossless ppm
    stats."""
    docs = _docs(spark)
    media = attach_binary(docs, payload_format="jpeg")
    rows = media.collect()
    for r in rows:
        assert bytes(r["payload"])[:2] == b"\xff\xd8"
        assert r["media_meta"]["mime"] == "image/jpeg"
    out = {r["doc_id"]: r for r in extract_features(media).collect()}
    ppm_out = {
        r["doc_id"]: r
        for r in extract_features(
            attach_binary(docs, payload_format="ppm")
        ).collect()
    }
    for doc_id, row in out.items():
        ref = ppm_out[doc_id]
        assert (row["width"], row["height"]) == (ref["width"], ref["height"])
        for key in ("mean_r", "mean_g", "mean_b"):
            assert abs(row[key] - ref[key]) <= 6.0, (doc_id, key)


def test_decode_y4m_round_trip_and_colorspaces():
    """Real Y4M decode: mono round-trip with exact integer luma stats;
    C444/C420 streams parse with correct plane strides (flat-gray
    chroma never enters the luma mean); truncation and non-Y4M bytes
    raise."""
    import math

    import numpy as np
    import pytest as _pytest

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        decode_y4m,
        encode_y4m,
    )

    rng = np.random.RandomState(11)
    frames = rng.randint(0, 256, (5, 4, 6), dtype=np.uint8)
    out = decode_y4m(encode_y4m(frames, fps=(30, 1)))
    assert (out["width"], out["height"], out["n_frames"]) == (6, 4, 5)
    assert (out["fps_num"], out["fps_den"]) == (30, 1)
    assert out["duration_sec"] == math.floor(5 / 30 * 1e6) / 1e6
    total = int(frames.sum(dtype=np.int64))
    assert out["mean_y"] == math.floor(total / (5 * 24) * 10000) / 10000
    samp = int(frames[0::2].sum(dtype=np.int64))
    assert out["sampled_mean_y"] == math.floor(samp / (3 * 24) * 10000) / 10000

    for cs in ("C444", "C420"):
        f2 = rng.randint(0, 256, (3, 4, 4), dtype=np.uint8)
        o2 = decode_y4m(encode_y4m(f2, colorspace=cs))
        assert o2["n_frames"] == 3
        assert o2["mean_y"] == math.floor(
            int(f2.sum(dtype=np.int64)) / (3 * 16) * 10000
        ) / 10000

    with _pytest.raises(ValueError, match="not a Y4M"):
        decode_y4m(b"RIFF....WAVE")
    trunc = encode_y4m(frames)[:-10]
    with _pytest.raises(ValueError, match="truncated"):
        decode_y4m(trunc)


def test_extract_video_features_matches_driver_decode(spark):
    """End-to-end video leg: attach_video renders real Y4M streams in
    Arrow batches; extract_video_features must reproduce the driver-
    side decode, and non-video payloads keep NULL stats."""
    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        attach_video,
        decode_y4m,
        extract_video_features,
    )

    docs = _docs(spark)
    media = attach_video(docs)
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    for p in payloads.values():
        assert p.startswith(b"YUV4MPEG2 W8 H8 F25:1")
    out = {r["doc_id"]: r for r in extract_video_features(media).collect()}
    for doc_id, p in payloads.items():
        ref = decode_y4m(p)
        row = out[doc_id]
        assert row["mime"] == "video/x-yuv4mpeg"
        assert row["n_bytes"] == len(p)
        for k in (
            "width", "height", "n_frames", "fps_num", "fps_den",
            "duration_sec", "mean_y", "sampled_mean_y",
        ):
            assert row[k] == ref[k], (doc_id, k)
    plain = extract_video_features(attach_binary(docs)).collect()
    assert all(r["n_frames"] is None and r["mean_y"] is None for r in plain)


def test_avi_mjpeg_round_trip_and_gates():
    """RIFF-AVI/MJPG codec: flat-gray frames at quality 100 round-trip
    EXACTLY (q0=1 makes DC-only blocks lossless — the planted-truth
    basis of the multimodal_mjpeg_video_documents oracle); arbitrary
    content decodes with bounded error; container metadata (fps from
    strh dwRate/dwScale, dims from avih) parses back; non-AVI RIFF
    payloads fail loudly."""
    import math

    import numpy as np
    import pytest as _pytest

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
        sniff_media_type,
    )

    vals = [0, 1, 17, 127, 128, 200, 254, 255]
    frames = np.stack([np.full((8, 8, 3), v, dtype=np.uint8) for v in vals])
    avi = encode_avi_mjpeg(frames, fps=(25, 1), quality=100)
    assert avi[:4] == b"RIFF" and avi[8:12] == b"AVI "
    assert sniff_media_type(avi) == "video/x-msvideo"
    out = decode_avi_mjpeg(avi)
    assert (out["width"], out["height"], out["n_frames"]) == (8, 8, 8)
    assert (out["fps_num"], out["fps_den"]) == (25, 1)
    assert out["duration_sec"] == math.floor(8 / 25 * 1e6) / 1e6
    # flat frames at q100 are exact: means equal the planted bytes
    assert out["mean_y"] == math.floor(sum(vals) / 8 * 10000) / 10000
    assert (
        out["sampled_mean_y"]
        == math.floor(sum(vals[::2]) / 4 * 10000) / 10000
    )

    # arbitrary content: lossy but bounded (quality 90, smooth ramp)
    yy, xx = np.mgrid[0:16, 0:24]
    ramp = np.stack([255 * xx / 24, 255 * yy / 16, np.full((16, 24), 60)], 2)
    fr2 = np.stack([ramp, ramp[::-1]]).astype(np.uint8)
    o2 = decode_avi_mjpeg(encode_avi_mjpeg(fr2, fps=(30, 1), quality=90))
    assert (o2["width"], o2["height"], o2["n_frames"]) == (24, 16, 2)
    assert o2["fps_num"] == 30
    true_luma = (
        0.299 * fr2[..., 0] + 0.587 * fr2[..., 1] + 0.114 * fr2[..., 2]
    ).mean()
    assert abs(o2["mean_y"] - true_luma) < 2.0

    with _pytest.raises(ValueError, match="not an AVI"):
        decode_avi_mjpeg(b"RIFF\x04\x00\x00\x00WAVE")


def test_avi_mjpeg_long_clip_chunked_decode_exact():
    """Clips longer than the 256-frame decode chunk (the bounded-memory
    guard from ADVICE r9) produce bit-identical statistics across the
    chunk boundary — flat q100 frames stay integer-exact, and the
    every-2nd-frame sample keeps its global (not per-chunk) phase."""
    import math

    import numpy as np

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
    )

    vals = [(7 * i + 3) % 256 for i in range(260)]  # crosses lo=256
    frames = np.stack([np.full((8, 8, 3), v, dtype=np.uint8) for v in vals])
    out = decode_avi_mjpeg(encode_avi_mjpeg(frames, fps=(25, 1), quality=100))
    assert out["n_frames"] == 260
    assert out["mean_y"] == math.floor(sum(vals) / 260 * 10000) / 10000
    assert (
        out["sampled_mean_y"]
        == math.floor(sum(vals[::2]) / 130 * 10000) / 10000
    )


def test_extract_video_features_routes_avi(spark):
    """extract_video_features dispatches 'video/x-msvideo' payloads to
    the MJPEG decoder inside the Arrow batch — same one-crossing
    contract as the Y4M leg."""
    import numpy as np
    from pyspark.sql import functions as F

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        decode_avi_mjpeg,
        encode_avi_mjpeg,
        extract_video_features,
    )

    payloads = []
    for seed in range(3):
        rng = np.random.RandomState(seed)
        vals = rng.randint(0, 256, 5)
        frames = np.stack(
            [np.full((8, 8, 3), v, dtype=np.uint8) for v in vals]
        )
        payloads.append(encode_avi_mjpeg(frames, quality=100))
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "doc_id LONG, payload BINARY"
    ).select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("video/x-msvideo").alias("mime"),
            F.length("payload").cast("long").alias("n_bytes"),
        ).alias("media_meta"),
    )
    rows = {r["doc_id"]: r for r in extract_video_features(df).collect()}
    for i, p in enumerate(payloads):
        ref = decode_avi_mjpeg(p)
        for k in ("width", "height", "n_frames", "mean_y", "sampled_mean_y"):
            assert rows[i][k] == ref[k], (i, k)


def test_ima_adpcm_round_trip_constant_exact_and_lossy_bounded():
    """IMA/DVI ADPCM (WAVE tag 0x11): constant signals round-trip
    EXACTLY (block header carries the first sample; nibble 0 at step
    index 0 has delta 7>>3 == 0 — the planted-truth basis of the
    multimodal_adpcm_audio_documents oracle); a sine wave survives
    with <2% RMS error; decode_wav dispatches tag 0x11 instead of
    failing like the stdlib wave module; the fact chunk trims block
    padding to the true sample count."""
    import math

    import numpy as np
    import pytest as _pytest

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        decode_wav,
        decode_wav_ima_adpcm,
        encode_wav_ima_adpcm,
        sniff_media_type,
    )

    for v in (-32768, -256, 0, 4352, 32512):
        wav = encode_wav_ima_adpcm(np.full(51, v), block_align=12)
        out = decode_wav_ima_adpcm(wav)
        assert out["n_samples"] == 51 and out["samples_per_block"] == 17
        assert out["mean_amp"] == math.floor(v * 10000) / 10000
        assert out["rms"] == math.floor(abs(v) * 10000) / 10000

    # stdlib wave can't read tag 0x11; decode_wav must dispatch
    assert sniff_media_type(wav) == "audio/wav"
    via_dispatch = decode_wav(wav)
    assert via_dispatch["mean_amp"] == out["mean_amp"]
    assert via_dispatch["n_samples"] == 51

    # lossy content: 440 Hz sine at 8 kHz, RMS within 2%
    t = np.arange(4000)
    sig = (12000 * np.sin(2 * np.pi * 440 * t / 8000)).astype(np.int64)
    dec = decode_wav_ima_adpcm(encode_wav_ima_adpcm(sig, block_align=256))
    true_rms = math.sqrt(float((sig * sig).mean()))
    assert abs(dec["rms"] - true_rms) / true_rms < 0.02

    # fact chunk trims the padded final block
    d4 = decode_wav_ima_adpcm(encode_wav_ima_adpcm(np.full(20, 1000)))
    assert d4["n_samples"] == 20

    # a short trailing block (data not a multiple of nBlockAlign) is
    # decoded, not silently dropped
    two = encode_wav_ima_adpcm(np.full(34, 900), block_align=12)
    dpos = two.index(b"data")
    cut = bytearray(two)
    cut[dpos + 4 : dpos + 8] = (24 - 8).to_bytes(4, "little")  # 16-byte data
    short = bytes(cut[: dpos + 8 + 16])
    d5 = decode_wav_ima_adpcm(short)
    # full block (17) + header sample + 2*(16-12-... ) nibbles of the
    # partial block: 17 + 1 + 2*(16 - 12 - 4 + ... )  -> count directly
    assert d5["n_samples"] > 17  # partial block contributed samples

    with _pytest.raises(ValueError, match="not a WAV"):
        decode_wav_ima_adpcm(b"RIFF\x04\x00\x00\x00AVI ")


def test_ima_adpcm_reference_step_vector():
    """Pin the quantizer state machine against a hand-computed vector.
    Encoding [0, 10, 10] from (predictor 0, index 0, step 7):
    sample 10 -> diff 10 quantizes to nibble 6 (10 >= 7 sets bit 2,
    remainder 3 >= 7>>1 sets bit 1; delta replays as 0+3+7 = 10),
    predictor 10, index 0+6 = 6 (step 13). Next sample 10 -> diff 0
    quantizes to nibble 0 whose delta is 13>>3 = 1, predictor 11,
    index 6-1 = 5. The encoder must emit exactly nibbles [6, 0] and
    the decoder update must replay the same state."""
    import struct

    import numpy as np

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        _ima_adpcm_step,
        encode_wav_ima_adpcm,
    )

    assert _ima_adpcm_step(0, 0, 6) == (10, 6)
    assert _ima_adpcm_step(10, 6, 0) == (11, 5)

    wav = encode_wav_ima_adpcm(np.array([0, 10, 10]), block_align=12)
    dpos = wav.index(b"data") + 8
    pred, idx, _rsv = struct.unpack_from("<hBB", wav, dpos)
    assert (pred, idx) == (0, 0)
    first_nibble_byte = wav[dpos + 4]
    assert first_nibble_byte & 0xF == 6
    assert first_nibble_byte >> 4 == 0


def test_tiff_round_trip_endians_compressions_and_gates():
    """Baseline TIFF codec (operators/tiff.py): lossless pixel round-
    trips for gray and RGB across both byte orders and none/PackBits
    compression with multi-strip layout; PackBits survives a
    worst-case alternating-run payload; WhiteIsZero inverts;
    unsupported baseline extensions raise loudly; the decoder
    registry dispatches image/tiff."""
    import numpy as np
    import pytest as _pytest

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        _DECODERS,
        sniff_media_type,
    )
    from data_pipelines_snowflake_procedures_spark.operators.tiff import (
        decode_tiff,
        encode_tiff,
        packbits_decode,
        packbits_encode,
    )

    rng = np.random.RandomState(7)
    for endian in ("<", ">"):
        for comp in ("none", "packbits"):
            g = rng.randint(0, 256, (13, 9)).astype(np.uint8)
            enc = encode_tiff(g, compression=comp, endian=endian)
            assert sniff_media_type(enc) == "image/tiff"
            out = decode_tiff(enc)
            assert (out["width"], out["height"]) == (9, 13)
            assert np.array_equal(out["pixels"][:, :, 0], g)
            c = rng.randint(0, 256, (10, 17, 3)).astype(np.uint8)
            o2 = decode_tiff(
                encode_tiff(c, compression=comp, endian=endian, rows_per_strip=3)
            )
            assert np.array_equal(o2["pixels"], c), (endian, comp)

    # PackBits: alternating singles and long runs, 128-boundary cases
    awkward = (b"\x00\x01" * 70) + (b"\x07" * 300) + bytes(range(129))
    assert packbits_decode(packbits_encode(awkward), len(awkward)) == awkward

    # WhiteIsZero (photometric 0) inverts on decode
    g0 = np.full((4, 4), 10, dtype=np.uint8)
    enc0 = bytearray(encode_tiff(g0))
    # photometric tag value lives in the IFD; flip 1 -> 0
    idx = enc0.index((262).to_bytes(2, "little"))
    assert enc0[idx + 8] == 1
    enc0[idx + 8] = 0
    assert decode_tiff(bytes(enc0))["pixels"][0, 0, 0] == 245

    with _pytest.raises(ValueError, match="not a TIFF"):
        decode_tiff(b"II+\x00\x00\x00\x00\x00")
    lzw = bytearray(encode_tiff(g0))
    i2 = lzw.index((259).to_bytes(2, "little"))
    lzw[i2 + 8] = 5  # Compression = LZW
    with _pytest.raises(NotImplementedError, match="compression"):
        decode_tiff(bytes(lzw))
    # palette-color (photometric 3) must fail loudly, not decode the
    # indices as gray levels
    pal = bytearray(encode_tiff(g0))
    pal[pal.index((262).to_bytes(2, "little")) + 8] = 3
    with _pytest.raises(NotImplementedError, match="photometric"):
        decode_tiff(bytes(pal))
    # width/height are LONG in the IFD: dimensions past the SHORT cap
    # encode and decode (one 70000-row single-column strip set)
    tall = encode_tiff(
        np.zeros((70000, 1), np.uint8), rows_per_strip=65000
    )
    assert decode_tiff(tall)["height"] == 70000

    # registry dispatch strips the pixels array
    st = _DECODERS["image/tiff"](encode_tiff(g0, compression="packbits"))
    assert st["width"] == 4 and "pixels" not in st and st["mean_r"] == 10.0


def test_decoder_registry_corrupt_payload_fuzz():
    """Executor-safety contract for every registered decoder: on
    truncated or byte-flipped payloads a decoder may raise (the
    extract_* wrappers convert that to NULL stats) but must never
    hang, recurse unboundedly, or kill the process. 40 deterministic
    mutations per format across all registered kinds."""
    import numpy as np

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        _DECODERS,
        encode_avi_mjpeg,
        encode_gif,
        encode_png,
        encode_wav,
        encode_wav_ima_adpcm,
        encode_y4m,
    )
    from data_pipelines_snowflake_procedures_spark.operators.jpeg import (
        encode_jpeg,
    )
    from data_pipelines_snowflake_procedures_spark.operators.tiff import (
        encode_tiff,
    )

    rng = np.random.RandomState(42)
    img = rng.randint(0, 256, (12, 10, 3)).astype(np.uint8)
    gray = img[:, :, 0]
    frames = np.stack([np.full((8, 8, 3), v, dtype=np.uint8) for v in (3, 200)])
    fixtures = {
        "image/png": encode_png(img),
        "image/gif": encode_gif(img),
        "image/jpeg": encode_jpeg(img, quality=80),
        "image/tiff": encode_tiff(gray, compression="packbits"),
        "audio/wav": encode_wav(bytes(gray.reshape(-1))),
        "video/x-yuv4mpeg": encode_y4m(gray[None]),
        "video/x-msvideo": encode_avi_mjpeg(frames, quality=100),
    }
    adpcm = encode_wav_ima_adpcm(np.full(34, 900), block_align=12)
    fixtures["audio/wav+adpcm"] = adpcm

    for kind, payload in fixtures.items():
        dec = _DECODERS[kind.split("+")[0]]
        for trial in range(40):
            buf = bytearray(payload)
            if trial % 2 == 0:  # truncate at a deterministic point
                cut = 2 + (trial * 37) % max(len(buf) - 2, 1)
                buf = buf[:cut]
            else:  # flip a few bytes
                for _ in range(3):
                    pos = int(rng.randint(0, len(buf)))
                    buf[pos] = int(rng.randint(0, 256))
            try:
                out = dec(bytes(buf))
                # decoding may still succeed (mutation hit padding or
                # a lossy region) — then the contract is a dict result
                assert isinstance(out, dict)
            except Exception:
                pass  # raising is fine; hanging/crashing is not


def test_gif_lzw_round_trip_width_growth_and_table_reset():
    """GIF-variant LZW: encode->decode identity on data long enough to
    force code-width growth to 12 bits AND a table reset (>4096
    entries), plus the min_code_size=2 small-alphabet path and the
    deferred 'code == next slot' self-reference case."""
    import numpy as np

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    rng = np.random.RandomState(11)
    data = bytes(rng.randint(0, 256, size=200_000, dtype=np.uint8))
    assert _gif_lzw_decode(_gif_lzw_encode(data, 8), 8) == data
    small = bytes(rng.randint(0, 4, size=50_000, dtype=np.uint8))
    assert _gif_lzw_decode(_gif_lzw_encode(small, 2), 2) == small
    # 'abababab...' triggers the code==len(table) self-reference branch
    assert _gif_lzw_decode(_gif_lzw_encode(b"ab" * 64, 8), 8) == b"ab" * 64


def test_gif_round_trip_pixels_interlaced_and_sequential():
    """encode_gif -> _gif_pixels is pixel-exact for both sequential and
    interlaced rasters (the 4-pass de-interlace is a separate code
    path), and decode_gif's stats match numpy on the source array."""
    import numpy as np

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        _gif_pixels,
        decode_gif,
        encode_gif,
    )

    rng = np.random.RandomState(3)
    g = rng.randint(0, 256, size=(13, 24), dtype=np.uint8)
    px = np.stack([g, g, g], axis=-1)
    for interlace in (False, True):
        payload = encode_gif(px, interlace=interlace)
        assert payload.startswith(b"GIF89a")
        assert (_gif_pixels(payload) == px).all(), interlace
        out = decode_gif(payload)
        mean = round(float(g.mean()), 4)
        assert (out["width"], out["height"]) == (24, 13)
        assert (out["mean_r"], out["mean_g"], out["mean_b"]) == (mean,) * 3
    # few-color RGB palette
    rgb = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]],
        dtype=np.uint8,
    )
    for interlace in (False, True):
        assert (_gif_pixels(encode_gif(rgb, interlace=interlace)) == rgb).all()
    with pytest.raises(ValueError, match="256 colors"):
        encode_gif(rng.randint(0, 256, size=(20, 20, 3), dtype=np.uint8))


def test_decode_gif_hand_built_payload_and_corrupt_gates():
    """decode_gif on a well-known hand-built GIF89a byte string (the
    classic 1x1 white pixel, built independently of encode_gif) — the
    graphic-control extension block must be skipped, LZW codes read
    LSB-first. Corrupt payloads fail loudly."""
    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        _gif_pixels,
        decode_gif,
    )

    payload = (
        b"GIF89a\x01\x00\x01\x00\x80\x00\x00\xff\xff\xff\x00\x00\x00"
        b"!\xf9\x04\x01\x00\x00\x00\x00"
        b",\x00\x00\x00\x00\x01\x00\x01\x00\x00\x02\x02D\x01\x00;"
    )
    assert _gif_pixels(payload).tolist() == [[[255, 255, 255]]]
    assert decode_gif(payload) == {
        "width": 1, "height": 1,
        "mean_r": 255.0, "mean_g": 255.0, "mean_b": 255.0,
    }
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"\x89PNG\r\n\x1a\n")
    with pytest.raises(ValueError):
        decode_gif(payload[:20])  # truncated mid-stream


def test_extract_features_decodes_gif_payloads(spark):
    """End-to-end GIF leg: documents rendered to real LZW-compressed
    GIF89a payloads (odd doc_ids interlaced) in Arrow batches, decoded
    for REAL inside extract_features. The GIF rendering is the same
    padded byte buffer as ppm but laid out as a 24-px-wide grayscale
    raster, so each GIF channel mean must EQUAL the average of the ppm
    rendering's three channel means."""
    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        decode_gif,
    )

    docs = _docs(spark)
    media = attach_binary(docs, payload_format="gif")
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    for doc_id, p in payloads.items():
        assert p.startswith(b"GIF89a")
    out = {r["doc_id"]: r for r in extract_features(media).collect()}
    ppm_out = {
        r["doc_id"]: r
        for r in extract_features(
            attach_binary(docs, payload_format="ppm")
        ).collect()
    }
    for doc_id, p in payloads.items():
        ref = decode_gif(p)
        row = out[doc_id]
        assert row["mime"] == "image/gif"
        assert (row["width"], row["height"]) == (ref["width"], ref["height"])
        assert (row["mean_r"], row["mean_g"], row["mean_b"]) == (
            ref["mean_r"], ref["mean_g"], ref["mean_b"],
        )
        ppm_row = ppm_out[doc_id]
        assert row["width"] == 24 and ppm_row["width"] == 8
        gray = round(
            (ppm_row["mean_r"] + ppm_row["mean_g"] + ppm_row["mean_b"]) / 3, 3
        )
        assert round(row["mean_r"], 3) == gray


def test_image_vdhash_perturbation_locality():
    """dHash contract: a small pixel perturbation flips few bits; a
    different image flips many."""
    import numpy as np

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        image_vdhash,
    )

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (40, 8, 3)).astype(np.uint8)
    near = img.copy()
    near[5, 3] = (int(near[5, 3, 0]) + 9) % 256  # one pixel nudged
    other = rng.randint(0, 256, (40, 8, 3)).astype(np.uint8)

    def bits(t):
        return (t[0] << 32) | t[1]

    def ham(a, b):
        return bin(bits(a) ^ bits(b)).count("1")

    h0, hn, ho = image_vdhash(img), image_vdhash(near), image_vdhash(other)
    assert ham(h0, hn) <= 4
    assert ham(h0, ho) >= 12
    assert image_vdhash(img) == h0  # deterministic


def test_image_vdhash_short_image_empty_blocks():
    import numpy as np

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        image_vdhash,
    )

    # 2 rows < 9 blocks: empty blocks lose every comparison (bit 0),
    # and the call must not divide by the zero counts
    img = np.full((2, 8, 3), 200, dtype=np.uint8)
    hi, lo = image_vdhash(img)
    assert hi >= 0 and lo >= 0


def test_ppm_pixels_round_trip():
    import numpy as np

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        ppm_pixels,
    )

    raw = bytes(range(48))
    payload = b"P6\n8 2\n255\n" + raw
    px = ppm_pixels(payload)
    assert px.shape == (2, 8, 3)
    assert bytes(px.tobytes()) == raw


def test_sniff_media_type_all_formats_and_unknown():
    import numpy as np

    from data_pipelines_snowflake_procedures_spark.operators.exif import (
        build_exif_app1,
        insert_app1,
    )
    from data_pipelines_snowflake_procedures_spark.operators.jpeg import (
        encode_jpeg,
    )
    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        encode_gif,
        encode_png,
        encode_wav,
        encode_y4m,
        sniff_media_type,
    )

    img = np.full((2, 2, 3), 100, dtype=np.uint8)
    assert sniff_media_type(encode_jpeg(img)) == "image/jpeg"
    # EXIF-bearing JPEG still sniffs as JPEG
    assert (
        sniff_media_type(insert_app1(encode_jpeg(img), build_exif_app1({"orientation": 1})))
        == "image/jpeg"
    )
    assert sniff_media_type(encode_png(img)) == "image/png"
    assert sniff_media_type(encode_gif(img)) == "image/gif"
    assert sniff_media_type(b"P6\n2 2\n255\n" + b"\x00" * 12) == "image/ppm"
    assert sniff_media_type(encode_wav(b"\x00\x01\x02")) == "audio/wav"
    assert sniff_media_type(encode_y4m(img[:, :, 0][None])) == "video/y4m"
    assert sniff_media_type(b"II*\x00rest") == "image/tiff"
    assert sniff_media_type(b"BMxxxx") == "image/bmp"
    assert sniff_media_type(b"\x00nonsense") == "application/octet-stream"
    assert sniff_media_type(b"") == "application/octet-stream"


def test_audio_energy_fingerprint_matches_hand_computation():
    """Integer contract of the audio fingerprint: windowed centered
    energies, strict-greater delta sign bits, zero-padded partial
    tail, fp==0 below two windows, invariance under amplitude
    doubling (energy scales 4x, delta signs unchanged), and the
    mono-8-bit gate."""
    import numpy as np
    import pytest as _pytest

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        audio_energy_fingerprint,
        encode_wav,
    )

    # 20 samples -> windows of 8: [8 quiet, 8 loud, 4 mid + 4 pad]
    quiet = [128 + 1] * 8          # E0 = 8
    loud = [128 + 10] * 8          # E1 = 800
    mid = [128 + 5] * 4            # E2 = 100 (pad contributes 0)
    samples = bytes(quiet + loud + mid)
    st = audio_energy_fingerprint(encode_wav(samples))
    assert st["n_windows"] == 3
    assert st["energy_total"] == 8 + 800 + 100
    # bit0: E1 > E0 -> 1; bit1: E2 > E1 -> 0
    assert st["fingerprint"] == 0b01

    # amplitude doubling preserves every delta sign
    doubled = bytes(128 + min(2 * (s - 128), 127) for s in samples)
    assert audio_energy_fingerprint(encode_wav(doubled))["fingerprint"] == 0b01

    # identical payloads fingerprint identically (the dedup bucket key)
    assert audio_energy_fingerprint(encode_wav(samples)) == st

    # fewer than two windows -> fp 0
    assert audio_energy_fingerprint(encode_wav(bytes([200] * 5)))[
        "fingerprint"
    ] == 0
    assert audio_energy_fingerprint(encode_wav(b""))["n_windows"] == 0

    # 16-bit PCM is out of contract
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(np.zeros(16, np.int16).tobytes())
    with _pytest.raises(NotImplementedError, match="8-bit"):
        audio_energy_fingerprint(buf.getvalue())


def test_jpeg_batch_encode_decode_byte_identical_to_per_frame():
    """The batched MJPEG hot paths (encode_jpeg_batch,
    decode_jpeg_pixels_batch) must be BYTE-identical to the per-frame
    encode_jpeg/decode_jpeg they replace: the batch forms run the same
    elementwise/dgemm kernels with an extra frame axis, so any drift
    is a bug. Covers gray + color, 4:4:4 + 4:2:0, flat + random
    frames, and restart intervals — plus mixed-table payload groups in
    one decode batch."""
    import numpy as np

    from data_pipelines_snowflake_procedures_spark.operators.jpeg import (
        decode_jpeg,
        decode_jpeg_pixels_batch,
        encode_jpeg,
        encode_jpeg_batch,
    )

    rng = np.random.default_rng(13)
    cases = [
        (rng.integers(0, 256, size=(5, 8, 8, 3)).astype(np.uint8), 100, False, 0),
        (rng.integers(0, 256, size=(3, 24, 33, 3)).astype(np.uint8), 85, True, 2),
        (rng.integers(0, 256, size=(4, 16, 16)).astype(np.uint8), 50, False, 0),
        (
            np.stack([np.full((8, 8, 3), v, np.uint8) for v in range(1, 7)]),
            100, False, 0,
        ),
    ]
    all_payloads = []
    for frames, q, sub, ri in cases:
        batch = encode_jpeg_batch(
            frames, quality=q, subsample=sub, restart_interval=ri
        )
        per = [
            encode_jpeg(frames[i], quality=q, subsample=sub, restart_interval=ri)
            for i in range(frames.shape[0])
        ]
        assert batch == per
        all_payloads += per
    # one mixed batch spanning every (geometry, table) group
    got = decode_jpeg_pixels_batch(all_payloads)
    want = [decode_jpeg(p)["pixels"] for p in all_payloads]
    assert len(got) == len(want)
    for a, b in zip(got, want):
        assert np.array_equal(a, b)
    assert encode_jpeg_batch(np.zeros((0, 8, 8, 3), np.uint8)) == []


def test_flc_round_trip_stats_and_reconstruction():
    import zlib

    import numpy as np

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        decode,
        decode_flc,
        encode_flc,
    )

    rng = np.random.RandomState(7)
    h, w, n = 24, 32, 6
    frames = [rng.randint(0, 256, (h, w)).astype(np.uint8)]
    for i in range(1, n):
        f = frames[-1].copy()
        if i != 3:  # frame 3 is identical -> zero-chunk frame
            f[i, 4:12] = (f[i, 4:12] + 17) % 256
            f[(i * 5) % h, 20:26] = i
        frames.append(f)
    palette = [(i, (i * 3) % 256, 255 - i) for i in range(256)]
    st = decode_flc(encode_flc(frames, palette))
    luma = np.array([299 * r + 587 * g + 114 * b for r, g, b in palette])
    assert st["width"] == w and st["height"] == h and st["n_frames"] == n
    assert st["n_key_frames"] == 1  # only the BRUN keyframe
    assert st["n_delta_frames"] == n - 2  # identical frame carries no chunk
    assert st["luma_milli_sum"] == sum(
        int(np.bincount(f.reshape(-1), minlength=256) @ luma) for f in frames
    )
    assert st["changed_pixels"] == sum(
        int((frames[i] != frames[i - 1]).sum()) for i in range(1, n)
    )
    assert st["last_frame_crc"] == (zlib.crc32(frames[-1].tobytes()) & 0xFFFFFFFF)
    # the decoder registry routes the new kinds
    assert decode("video/x-flic", encode_flc(frames, palette))["n_frames"] == n


def test_flc_replicate_packets_skip_opcode_black_and_copy():
    """Hand-built FLIC exercising the spec paths the repo encoder never
    emits: BRUN replicate packets (count > 0), DELTA_FLC word-replicate
    packets (count < 0) and line-skip opcodes (top bits 0b11), plus
    BLACK and COPY keyframe chunks."""
    import struct
    import zlib

    import numpy as np

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        decode_flc,
    )

    h, w = 4, 8

    def chunk(ctype, body):
        if len(body) % 2:
            body += b"\x00"
        return struct.pack("<IH", 6 + len(body), ctype) + body

    def frame(chunks):
        body = b"".join(chunks)
        return struct.pack("<IHH8x", 16 + len(body), 0xF1FA, len(chunks)) + body

    # palette: identity gray so luma = 1000 * index
    pal = struct.pack("<H", 1) + bytes((0, 0)) + bytes(
        b for i in range(256) for b in (i, i, i)
    )
    # frame 1: BRUN with replicate packets — every line = 8 x value 5
    brun = b"".join(bytes((1,)) + struct.pack("b", 8) + bytes((5,)) for _ in range(h))
    # frame 2: DELTA on line 2 only (skip 2 lines via 0b11 opcode):
    # one replicate packet writing the word (9, 9) three times at col 2
    delta = struct.pack("<H", 1)  # one line entry
    delta += struct.pack("<h", -2)  # skip 2 lines
    delta += struct.pack("<h", 1)  # one packet
    delta += struct.pack("<Bb", 2, -3) + bytes((9, 9))
    # frame 3: BLACK; frame 4: COPY of an arange ramp
    ramp = (np.arange(h * w, dtype=np.uint8) % 251).tobytes()
    body = (
        frame([chunk(4, pal), chunk(15, brun)])
        + frame([chunk(7, delta)])
        + frame([chunk(13, b"")])
        + frame([chunk(16, ramp)])
    )
    blob = struct.pack(
        "<IHHHHHHI108x", 128 + len(body), 0xAF12, 4, w, h, 8, 3, 40
    ) + body
    st = decode_flc(blob)
    assert st["n_frames"] == 4
    assert st["n_key_frames"] == 3  # BRUN, BLACK, COPY
    assert st["n_delta_frames"] == 1
    # delta wrote six 9s over 5s on line 2
    assert st["changed_pixels"] == 6
    f1 = np.full((h, w), 5, np.uint8)
    f2 = f1.copy()
    f2[2, 2:8] = 9
    f4 = np.frombuffer(ramp, np.uint8).reshape(h, w)
    expected_luma = 1000 * (
        int(f1.sum()) + int(f2.sum()) + 0 + int(f4.sum())
    )
    assert st["luma_milli_sum"] == expected_luma
    assert st["last_frame_crc"] == (zlib.crc32(ramp) & 0xFFFFFFFF)


def test_flc_error_paths():
    import numpy as np
    import pytest

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        decode_flc,
        encode_flc,
    )

    pal = [(i, i, i) for i in range(256)]
    with pytest.raises(ValueError):
        decode_flc(b"RIFF" + b"\x00" * 200)  # wrong magic
    with pytest.raises(ValueError):
        decode_flc(b"\x00" * 64)  # shorter than the header
    with pytest.raises(ValueError):
        encode_flc([np.zeros((4, 7), np.uint8)], pal)  # odd width
    with pytest.raises(ValueError):
        encode_flc([np.zeros((4, 8), np.uint8)], pal[:10])  # short palette
    blob = encode_flc(
        [np.zeros((4, 8), np.uint8), np.ones((4, 8), np.uint8)], pal
    )
    with pytest.raises(ValueError):
        decode_flc(blob[:-20])  # truncated final frame


def test_flc_spark_plumbing_attach_and_features(spark, sf_dir):
    """Distributed FLIC plumbing: each document's bytes become 8x8
    gray-palette frames of one FLC payload (encode_flc, on the driver);
    extract_video_features decodes them back in Arrow batches through
    the shared VIDEO_SCHEMA with the inter-frame codec branch."""
    import numpy as np
    from pyspark.sql import functions as F

    from data_pipelines_snowflake_procedures_spark.operators.multimodal import (
        encode_flc,
        extract_video_features,
    )
    from data_pipelines_snowflake_procedures_spark.session import load_table

    palette = [(i, i, i) for i in range(256)]
    bufs, rows = {}, []
    for r in load_table(spark, sf_dir, "documents").limit(24).collect():
        data = (r.text or "").encode("utf-8")
        nf = max(-(-len(data) // 64), 1)
        buf = np.zeros(nf * 64, dtype=np.uint8)
        buf[: len(data)] = np.frombuffer(data, dtype=np.uint8)
        bufs[r.doc_id] = buf
        rows.append((r.doc_id, encode_flc(list(buf.reshape(nf, 8, 8)), palette, speed_ms=40)))
    vids = spark.createDataFrame(rows, "doc_id LONG, payload BINARY").select(
        "doc_id",
        "payload",
        F.struct(
            F.lit("video/x-flic").alias("mime"),
            F.length("payload").cast("long").alias("n_bytes"),
        ).alias("media_meta"),
    )
    feats = {
        r.doc_id: r for r in extract_video_features(vids).collect()
    }
    assert set(feats) == set(bufs)
    pal_luma = np.array([(299 + 587 + 114) * i for i in range(256)])
    for doc_id, buf in bufs.items():
        nf = len(buf) // 64
        r = feats[doc_id]
        assert (r.width, r.height, r.n_frames) == (8, 8, nf)
        assert r.sampled_mean_y is None  # honest: no sampling shortcut
        expect = int(
            np.bincount(buf, minlength=256) @ pal_luma
        ) / 1000.0 / (64 * nf)
        assert abs(r.mean_y - expect) < 1e-9
        assert abs(r.duration_sec - nf * 0.04) < 1e-9
