"""Streaming tests: batch/stream unification for the tumbling window,
and the applyInPandasWithState sessionizer against its batch twin."""

from __future__ import annotations

import uuid

import pytest

from pyspark.sql import functions as F

from datapipeline_scripts_spark.registry import get
from datapipeline_scripts_spark.streaming.stateful import run_sessionize_once


def test_stream_tumbling_equals_batch(spark, sf_dir):
    batch = {tuple(r) for r in get("events_tumbling").build(spark, sf_dir).collect()}
    stream = {tuple(r) for r in get("events_stream_tumbling").build(spark, sf_dir).collect()}
    assert stream == batch


def test_watermark_drops_late_data(spark, sf_dir, tmp_path):
    """Watermarking: replay events in two micro-batches where the second
    file is entirely *late* (its event times precede the first batch by
    more than the watermark delay) — the late rows must be dropped from
    the windowed aggregate in append mode."""
    import time

    from datapipeline_scripts_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    part1 = events.filter((F.col("ts") >= "2024-01-03") & (F.col("ts") < "2024-01-20"))
    part2 = events.filter(F.col("ts") >= "2024-01-20")
    late = events.filter(F.col("ts") < "2024-01-02")
    src = tmp_path / "stream_src"
    # the input filter uses the watermark of the *previous* batch, so the
    # late file must be the third micro-batch: batch 2 advances the
    # watermark past Jan 20, batch 3's Jan-1 rows are then dropped
    for i, df in enumerate([part1, part2, late], 1):
        df.coalesce(1).write.parquet(str(src / f"batch={i}"))
        time.sleep(1.1)  # distinct mtimes → deterministic file order

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    import uuid

    sink = f"wm_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.format("memory").queryName(sink).outputMode("append").trigger(availableNow=True).start()
    try:
        q.awaitTermination(timeout=300)
    finally:
        q.stop()
    result = spark.table(sink).collect()
    emitted = sum(r["n"] for r in result)
    n_on_time = part1.count() + part2.count()
    # every late row dropped; on-time rows emitted except the still-open
    # tail window (append mode only emits finalized windows)
    jan1_windows = [r for r in result if r["w"]["start"].month == 1 and r["w"]["start"].day == 1]
    assert not jan1_windows, jan1_windows
    assert 0 < emitted <= n_on_time
    assert emitted >= n_on_time - 60  # at most the open tail window withheld


def test_stateful_sessionizer_matches_batch_closed_sessions(spark, sf_dir):
    """Closed sessions emitted by the stateful stream must be a subset of
    the batch sessionization, matching on (user, start, count, value);
    each user's final (still-open) session legitimately stays in state."""
    sink = f"sessions_{uuid.uuid4().hex[:8]}"
    emitted = run_sessionize_once(spark, sf_dir, sink)
    stream_rows = {
        (r["user_id"], r["session_start"], r["n_events"], r["session_value"])
        for r in emitted.collect()
    }
    batch = get("events_session").build(spark, sf_dir)
    batch_rows = {
        (r["user_id"], r["session_start"], r["n_events"], r["session_value"])
        for r in batch.withColumn(
            "session_start", F.col("session_start")
        ).collect()
    }
    # emitted sessions use timestamps; batch renders strings — normalize
    stream_norm = {(u, s.strftime("%Y-%m-%d %H:%M:%S"), n, v) for (u, s, n, v) in stream_rows}
    assert stream_norm <= batch_rows
    # the stream must actually close sessions (non-trivial emission)
    n_users = emitted.select("user_id").distinct().count()
    assert len(stream_norm) > 0 and n_users > 0
    # per user, batch has exactly one more session (the open one) or equal
    from collections import Counter

    sc = Counter(u for (u, *_rest) in stream_norm)
    bc = Counter(u for (u, *_rest) in batch_rows)
    for u, n in sc.items():
        assert bc[u] - n in (0, 1), (u, n, bc[u])


def test_kafka_source_options_surface():
    """Config builders emit the connector's exact option namespace."""
    from datapipeline_scripts_spark.streaming import kafka

    opts = kafka.source_options(
        "b1:9092,b2:9092",
        subscribe="events,events_dlq",
        starting_offsets="latest",
        max_offsets_per_trigger=1_000_000,
        min_partitions=64,
        security_protocol="SASL_SSL",
        sasl_jaas="org.apache.kafka.common.security.scram.ScramLoginModule required;",
    )
    assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert opts["subscribe"] == "events,events_dlq"
    assert "subscribePattern" not in opts
    assert opts["startingOffsets"] == "latest"
    assert opts["maxOffsetsPerTrigger"] == "1000000"
    assert opts["minPartitions"] == "64"
    assert opts["failOnDataLoss"] == "false"
    assert opts["kafka.security.protocol"] == "SASL_SSL"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        kafka.source_options("b:9092")  # neither subscribe form
    with _pytest.raises(ValueError):
        kafka.source_options("b:9092", subscribe="a", subscribe_pattern="a.*")
    sink = kafka.sink_options("b:9092", "out", "/tmp/ckpt")
    assert sink == {
        "kafka.bootstrap.servers": "b:9092",
        "topic": "out",
        "checkpointLocation": "/tmp/ckpt",
    }


def test_kafka_decode_frames_on_synthetic_batch(spark):
    """decode_frames is stream/batch agnostic — drive it with a batch
    DataFrame shaped exactly like the connector's wire frame, including
    a corrupt payload row (must yield NULL payload fields, not vanish)."""
    import json
    from datetime import datetime, timezone

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from datapipeline_scripts_spark.streaming import kafka

    payload_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("ts", StringType()),
        ]
    )
    good = json.dumps(
        {"user_id": 7, "event_type": "click", "value": 1.5, "ts": "2026-01-02 03:04:05"}
    ).encode()
    bad = b"{not json"
    bts = datetime(2026, 1, 2, 3, 4, 6, tzinfo=timezone.utc)
    frames = spark.createDataFrame(
        [
            (b"k1", good, "events", 0, 42, bts, 0),
            (b"k2", bad, "events", 1, 43, bts, 0),
        ],
        "key binary, value binary, topic string, partition int, offset long, timestamp timestamp, timestampType int",
    )
    out = kafka.decode_frames(frames, payload_schema, ts_column="ts")
    rows = {r["offset"]: r for r in out.collect()}
    assert set(rows) == {42, 43}
    g = rows[42]
    assert g["kafka_key"] == "k1" and g["user_id"] == 7 and g["event_type"] == "click"
    assert g["event_time"] == datetime(2026, 1, 2, 3, 4, 5)
    b = rows[43]
    assert b["user_id"] is None and b["event_time"] is None  # corrupt → NULLs, row kept


def test_foreach_batch_sink_is_exactly_once(spark, sf_dir, tmp_path):
    """First drain commits every batch; a second drain against the same
    checkpoint commits zero (source offsets) ; re-running a batch write
    overwrites rather than duplicates (idempotent batch_id dirs)."""
    from datapipeline_scripts_spark.streaming.foreach_sink import run_idempotent_append
    from datapipeline_scripts_spark.streaming.stream_jobs import _events_stream

    out = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    n1 = run_idempotent_append(spark, _events_stream(spark, sf_dir), out, ckpt)
    assert n1 >= 1
    landed = spark.read.option("basePath", out).parquet(f"{out}/batch_id=*")
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert landed.count() == n_events
    # replay with the same checkpoint: nothing new to commit
    n2 = run_idempotent_append(spark, _events_stream(spark, sf_dir), out, ckpt)
    assert n2 == 0
    assert spark.read.option("basePath", out).parquet(f"{out}/batch_id=*").count() == n_events


def test_cdc_merge_is_batch_split_invariant(spark, sf_dir, tmp_path):
    """Latest-wins merging is associative, so the CDC result must be
    IDENTICAL whether the stream arrives as one micro-batch or many.
    Replay the same rows as 3 single-file micro-batches and compare to
    the registered single-batch query."""
    from datapipeline_scripts_spark.catalog import load_table
    from datapipeline_scripts_spark.streaming.cdc_stream import merge_stream

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    chunked = str(tmp_path / "chunks")
    # 3 deterministic slices written as 3 files -> 3 micro-batches
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode("append").parquet(chunked)
    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunked)
    )
    multi = {
        r["user_id"]: (r["ts"], r["event_id"], r["value"])
        for r in merge_stream(spark, src).collect()
    }
    single = {
        r["user_id"]: (r["ts"], r["event_id"], r["value"])
        for r in merge_stream(
            spark,
            spark.readStream.schema(ev.schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(chunked),
        ).collect()
    }
    assert multi == single and len(multi) > 0


def test_foreach_batch_resumes_incrementally(spark, sf_dir, tmp_path):
    """Checkpoint resume under NEW data: drain half the source, add the
    second half as fresh files, drain again with the same checkpoint —
    the second run must commit only the delta (no reprocessing, no
    loss), and the landing zone must equal the full batch recompute.
    This is the nightly-incremental contract the reference's repeated
    dump cadence implies: each run pays for new data only."""
    from datapipeline_scripts_spark.catalog import load_table
    from datapipeline_scripts_spark.streaming.foreach_sink import run_idempotent_append

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    src_dir = str(tmp_path / "arriving")
    out = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src_dir)
    stream = lambda: spark.readStream.schema(ev.schema).parquet(src_dir)  # noqa: E731
    n1 = run_idempotent_append(spark, stream(), out, ckpt)
    assert n1 >= 1
    half = spark.read.option("basePath", out).parquet(f"{out}/batch_id=*").count()
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src_dir)
    n2 = run_idempotent_append(spark, stream(), out, ckpt)
    assert n2 >= 1
    landed = spark.read.option("basePath", out).parquet(f"{out}/batch_id=*")
    total = ev.count()
    assert half < total
    assert landed.count() == total
    # value-level equality with the batch view, not just counts
    assert landed.select(F.sum("event_id")).first()[0] == ev.select(F.sum("event_id")).first()[0]


def test_events_stream_ohlc_equals_batch(spark, sf_dir):
    """The streaming min_by/max_by aggregation must reproduce the batch
    OHLC bars exactly (streaming/batch unification on stateful
    extremes, not just sums)."""
    from datapipeline_scripts_spark.registry import get

    batch = get("time_ohlc_bars").build(spark, sf_dir)
    stream = get("events_stream_ohlc").build(spark, sf_dir)
    assert batch.count() == stream.count()
    assert batch.exceptAll(stream).count() == 0
    assert stream.exceptAll(batch).count() == 0


def test_merge_asof_partition_matches_per_user_form():
    """asof_join_pandas merges the whole partition in ONE
    merge_asof(by='user_id') pass (optimization r14); pin the worker
    against the old per-user-group construction on a synthetic
    partition exercising every regime: multi-user interleaving,
    same-ts duplicate orders (max-orderkey tie-break), an event before
    any order (NULL match), a user with no orders, and an order-only
    user (no output rows)."""
    import pandas as pd

    from datapipeline_scripts_spark.streaming.asof import _merge_asof_partition

    ts = pd.Timestamp
    rows = [
        # side, event_id, user_id, ts, o_orderkey
        ("e", 1, 10, ts("2026-01-01 00:05"), None),  # after order 100
        ("e", 2, 10, ts("2026-01-01 00:00"), None),  # exact-ts order 101 (dup-ts max wins)
        ("e", 3, 10, ts("2025-12-31 23:00"), None),  # before any order -> NULL
        ("e", 4, 20, ts("2026-01-01 00:10"), None),  # user 20, after order 200
        ("e", 5, 30, ts("2026-01-01 00:10"), None),  # user 30 has no orders -> NULL
        ("o", None, 10, ts("2026-01-01 00:00"), 100),
        ("o", None, 10, ts("2026-01-01 00:00"), 101),  # same-ts dup: keep 101
        ("o", None, 20, ts("2026-01-01 00:00"), 200),
        ("o", None, 40, ts("2026-01-01 00:00"), 400),  # order-only user
    ]
    pdf = pd.DataFrame(rows, columns=["side", "event_id", "user_id", "ts", "o_orderkey"])

    got = pd.concat(list(_merge_asof_partition(iter([pdf]))), ignore_index=True)
    got = got.sort_values("event_id").reset_index(drop=True)

    # the old per-user-group construction, verbatim
    want_parts = []
    for _uid, grp in pdf.groupby("user_id"):
        events = (
            grp[grp["side"] == "e"][["event_id", "user_id", "ts"]]
            .sort_values("ts")
            .reset_index(drop=True)
        )
        orders = (
            grp[grp["side"] == "o"][["o_orderkey", "ts"]]
            .sort_values(["ts", "o_orderkey"])
            .drop_duplicates(subset="ts", keep="last")
            .reset_index(drop=True)
        )
        if events.empty:
            continue
        merged = pd.merge_asof(events, orders, on="ts", direction="backward")
        want_parts.append(merged[["event_id", "user_id", "o_orderkey"]])
    want = pd.concat(want_parts, ignore_index=True).sort_values("event_id").reset_index(drop=True)

    assert got["event_id"].tolist() == want["event_id"].tolist() == [1, 2, 3, 4, 5]
    assert got["o_orderkey"].fillna(-1).tolist() == want["o_orderkey"].fillna(-1).tolist()
    assert got["o_orderkey"].fillna(-1).tolist() == [101.0, 101.0, -1, 200.0, -1]
