"""Streaming semantics tests (SURVEY.md §2.9): watermark late-data handling
in append mode, and incremental file-drop micro-batches — the behaviors the
drained complete-mode queries can't show."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from tfm_taxitrips_spark.streaming.pipeline import windowed_rollup


def _drop(path: str, rows: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))


def _event(eid: int, ts: str, etype: str = "click", value: float = 1.0) -> dict:
    return {"event_id": eid, "ts": ts, "event_type": etype, "value": value}


EVENTS_SCHEMA = "event_id bigint, ts timestamp, event_type string, value double"


def test_watermark_drops_late_rows_append_mode(spark, tmp_path):
    """Append mode + 15-min watermark: a row arriving after its window's
    watermark has passed is dropped; windows emit only when finalized."""
    src_dir = str(tmp_path / "src")
    chk = str(tmp_path / "chk")
    out = str(tmp_path / "out")

    # batch 1: window [10:00,10:15) plus a row at 11:00 that pushes the
    # watermark (max ts 11:00 - 15 min = 10:45 > 10:15 → window 1 finalizes)
    _drop(
        f"{src_dir}/b1.json",
        [
            _event(1, "2024-01-01 10:01:00"),
            _event(2, "2024-01-01 10:07:00"),
            _event(3, "2024-01-01 11:00:00"),
        ],
    )
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(src_dir)
    rolled = windowed_rollup(stream, ts_col="ts", dims=("event_type",))

    def run():
        q = (
            rolled.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r.window_start.strftime("%H:%M"), r.n_events)
            for r in spark.read.parquet(out).collect()
        }

    first = run()
    assert ("10:00", 2) in first  # finalized window emitted
    assert not any(w == "11:00" for w, _ in first)  # open window withheld

    # batch 2: a LATE row for the already-finalized 10:00 window → dropped
    # (same checkpoint: watermark state resumes at 10:45)
    _drop(f"{src_dir}/b2.json", [_event(4, "2024-01-01 10:03:00")])
    second = run()
    assert second == first, "late row must not re-emit or alter the finalized window"


def test_stream_topk_serving_updates_across_batches(spark, tmp_path):
    """The serving upsert must refresh windows UPDATED by later batches
    (update mode + dynamic partition overwrite) and the final view must
    equal the batch rollup's top-k — batch-stream parity for the Superset
    ORDER BY...LIMIT layer."""
    from tfm_taxitrips_spark.streaming.serving import (
        run_topk_serving,
        topk_view,
    )

    src_dir = str(tmp_path / "src")
    serving = str(tmp_path / "serving")
    chk = str(tmp_path / "chk")

    # batch 1: two windows; batch 2 UPDATES the 10:00 window's click group,
    # touches the SAME window with a DIFFERENT event type (the overwrite-
    # granularity trap: a window-level overwrite would delete the click row
    # batch 1 upserted), and adds 10:30
    b1 = [
        _event(1, "2024-01-01 10:01:00", value=5.0),
        _event(2, "2024-01-01 10:16:00", value=3.0),
        _event(5, "2024-01-01 10:02:00", etype="view", value=7.0),
    ]
    b2 = [
        _event(3, "2024-01-01 10:05:00", value=4.0),
        _event(4, "2024-01-01 10:31:00", value=1.0),
        _event(6, "2024-01-01 10:17:00", etype="view", value=2.0),
    ]
    _drop(f"{src_dir}/b1.json", b1)
    _drop(f"{src_dir}/b2.json", b2)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")  # force two micro-batches
        .json(src_dir)
    )
    rolled = windowed_rollup(stream, ts_col="ts", dims=("event_type",))
    run_topk_serving(rolled, serving, chk)

    got = {
        (r.window_start.strftime("%H:%M"), r.event_type, r.n_events, r.total_value)
        for r in topk_view(spark, serving, 10).collect()
    }
    # 10:00/click reflects BOTH batches; 10:00/view (touched only in batch 1)
    # and 10:15/click (touched only in batch 1) must SURVIVE batch 2's
    # updates to their sibling groups
    assert got == {
        ("10:00", "click", 2, 9.0),
        ("10:00", "view", 1, 7.0),
        ("10:15", "click", 1, 3.0),
        ("10:15", "view", 1, 2.0),
        ("10:30", "click", 1, 1.0),
    }

    # serving table is physically partitioned by DAY (round 9: the
    # bootstrap fan-out is bounded by calendar time, not key
    # cardinality); row-level upsert correctness — proven by the
    # survival assertions above — now comes from the key anti-join
    # merge, not from per-key directories
    date_parts = [p for p in os.listdir(serving) if p.startswith("window_date=")]
    assert date_parts == ["window_date=2024-01-01"]
    assert not any(p.startswith(("window_id=", "event_type="))
                   for p in os.listdir(serving))


def test_stream_topk_upsert_is_idempotent_on_redelivery(spark, tmp_path):
    """foreachBatch is an AT-LEAST-ONCE sink: a crash between the dynamic
    overwrite and the checkpoint commit re-delivers the same micro-batch
    on restart. The key-merge upsert must therefore be a projection —
    applying the same batch twice must leave the serving table exactly
    where one application left it (the anti-join replaces the batch's own
    keys with identical rows; siblings and untouched dates pass through).
    """
    from tfm_taxitrips_spark.streaming.serving import topk_view, upsert_to_serving

    serving = str(tmp_path / "serving")
    rollup_schema = (
        "window_start string, event_type string, "
        "n_events bigint, total_value double"
    )

    def batch(rows):
        return spark.createDataFrame(rows, rollup_schema).withColumn(
            "window_start", F.to_timestamp("window_start")
        )

    refresh = upsert_to_serving(serving)
    refresh(batch([
        ("2024-01-01 10:00:00", "click", 2, 9.0),
        ("2024-01-01 10:00:00", "view", 1, 7.0),
        ("2024-01-02 08:00:00", "click", 3, 4.0),
    ]), 0)
    # batch 1 updates one existing key, adds one, leaves 10:00/view and
    # the whole 2024-01-02 date untouched
    b1 = [
        ("2024-01-01 10:00:00", "click", 5, 12.0),
        ("2024-01-01 10:15:00", "view", 1, 2.0),
    ]
    refresh(batch(b1), 1)

    def snapshot():
        return {
            (r.window_start, r.event_type, r.n_events, r.total_value)
            for r in topk_view(spark, serving, 100).collect()
        }

    once = snapshot()
    assert len(once) == 4  # 2 upserted + 1 sibling + 1 untouched date

    refresh(batch(b1), 1)  # the re-delivery
    assert snapshot() == once


def test_stream_topk_upsert_replaces_null_key_rows(spark, tmp_path):
    """A NULL grouping value is a REAL rollup group (groupBy's NULL
    group), so update mode re-emits a NULL-keyed row every time its
    window changes. The merge must match it null-safely: with plain
    equality the anti-join never matches NULL = NULL, the stale NULL-key
    row survives next to each re-emission, and the serving table grows
    one duplicate per micro-batch — silent corruption, no error."""
    from tfm_taxitrips_spark.streaming.serving import topk_view, upsert_to_serving

    serving = str(tmp_path / "serving")
    rollup_schema = (
        "window_start string, event_type string, "
        "n_events bigint, total_value double"
    )

    def batch(rows):
        return spark.createDataFrame(rows, rollup_schema).withColumn(
            "window_start", F.to_timestamp("window_start")
        )

    refresh = upsert_to_serving(serving)
    refresh(batch([
        ("2024-01-01 10:00:00", None, 2, 5.0),
        ("2024-01-01 10:00:00", "click", 1, 1.0),
    ]), 0)
    # the NULL-key window changes twice more (late events arriving)
    refresh(batch([("2024-01-01 10:00:00", None, 3, 8.0)]), 1)
    refresh(batch([("2024-01-01 10:00:00", None, 4, 9.0)]), 2)

    rows = {
        (r.window_start, r.event_type, r.n_events, r.total_value)
        for r in topk_view(spark, serving, 100).collect()
    }
    import datetime as _dt

    ws = _dt.datetime(2024, 1, 1, 10, 0)
    assert rows == {
        (ws, None, 4, 9.0),   # last write wins — exactly ONE null-key row
        (ws, "click", 1, 1.0),  # sibling key untouched
    }


def test_stream_topk_upsert_keeps_null_window_siblings(spark, tmp_path):
    """ADVICE r9: a NULL ``window_start`` derives a NULL window_date, and
    SQL ``IN`` never matches NULL — so without the null-safe membership
    in ``read_touched_dates`` the merge READS nothing from the NULL date
    partition while the dynamic overwrite still REPLACES that whole
    partition: any sibling key living there is silently LOST on the next
    partial re-emission (the date-axis analog of the NULL-key bug, with
    loss instead of duplication). Unreachable via the watermarked
    rollup, but ``upsert_to_serving`` is a public foreachBatch body
    callable with arbitrary frames; parquet round-trips the NULL date as
    the Hive default partition, so it must behave as a real touched
    partition — survivors read, matched keys replaced."""
    from tfm_taxitrips_spark.streaming.serving import upsert_to_serving

    serving = str(tmp_path / "serving")
    rollup_schema = (
        "window_start string, event_type string, "
        "n_events bigint, total_value double"
    )

    def batch(rows):
        return spark.createDataFrame(rows, rollup_schema).withColumn(
            "window_start", F.to_timestamp("window_start")
        )

    refresh = upsert_to_serving(serving)
    refresh(batch([
        (None, "click", 2, 5.0),
        (None, "view", 7, 3.0),   # the sibling key in the NULL partition
        ("2024-01-01 10:00:00", "click", 1, 1.0),
    ]), 0)
    # a later batch re-emits ONLY the null-window click row
    refresh(batch([(None, "click", 4, 9.0)]), 1)

    got = {
        (r.window_start, r.event_type, r.n_events, r.total_value)
        for r in spark.read.parquet(serving)
        .select("window_start", "event_type", "n_events", "total_value")
        .collect()
    }
    import datetime as _dt

    ws = _dt.datetime(2024, 1, 1, 10, 0)
    assert got == {
        (None, "click", 4, 9.0),  # replaced — exactly one null click row
        (None, "view", 7, 3.0),   # sibling SURVIVES the partial overwrite
        (ws, "click", 1, 1.0),    # dated partition untouched
    }


def test_serving_window_date_label_ignores_session_timezone(spark):
    """The serving table's physical date label must be a pure function of
    the window timestamp: `date_format` renders in the SESSION zone, so
    two runs under different zones would label the same window with
    different dates and the touched-dates merge would leave the old
    label's row behind as a stale duplicate (the cross-run analog of the
    NULL-key bug). A 02:00 UTC window is the discriminating case — its
    Los Angeles local date is the PREVIOUS day."""
    from tfm_taxitrips_spark.streaming.serving import _utc_window_date

    # epoch-pinned (1704074400 = 2024-01-01 02:00:00 UTC): a string parse
    # would itself re-evaluate under each zone below (lazy plans), washing
    # out the very divergence being demonstrated
    df = spark.range(1).select(
        F.timestamp_seconds(F.lit(1704074400)).alias("window_start")
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        labels = {}
        for tz in ("UTC", "America/Los_Angeles"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            row = df.select(
                _utc_window_date(F.col("window_start")).alias("d"),
                F.date_format("window_start", "yyyy-MM-dd").alias("fmt"),
            ).first()
            labels[tz] = (row.d, row.fmt)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    # the TZ-free label is identical under both zones...
    assert labels["UTC"][0] == labels["America/Los_Angeles"][0] == "2024-01-01"
    # ...and date_format demonstrably is NOT (the bug class being closed)
    assert labels["America/Los_Angeles"][1] == "2023-12-31"


def test_stream_topk_view_orders_null_keys_last(spark, tmp_path):
    """Cross-engine tie-break contract at the k boundary: Spark's bare
    ``asc`` sorts NULLs FIRST while the ANSI oracles default them LAST,
    so with NULL keys now first-class serving rows, a value tie at the
    cut would admit DIFFERENT rows per engine unless the view pins
    NULLS LAST explicitly. Three rows tie on total_value; k=2 must keep
    the two named types and push the NULL-key row off the end."""
    from tfm_taxitrips_spark.streaming.serving import topk_view, upsert_to_serving

    serving = str(tmp_path / "serving")
    df = spark.createDataFrame(
        [
            ("2024-01-01 10:00:00", "alpha", 1, 10.0),
            ("2024-01-01 10:00:00", None, 1, 10.0),
            ("2024-01-01 10:00:00", "beta", 1, 10.0),
        ],
        "window_start string, event_type string, n_events bigint, total_value double",
    ).withColumn("window_start", F.to_timestamp("window_start"))
    upsert_to_serving(serving)(df, 0)
    got = [r.event_type for r in topk_view(spark, serving, 2).collect()]
    assert got == ["alpha", "beta"]


def test_stream_topk_view_plans_take_ordered(spark, tmp_path):
    """The serving read must plan TakeOrderedAndProject (no global sort)."""
    from tfm_taxitrips_spark.streaming.serving import topk_view, upsert_to_serving

    serving = str(tmp_path / "serving")
    df = spark.createDataFrame(
        [("2024-01-01 10:00:00", "click", 1, 2.0)],
        "window_start string, event_type string, n_events bigint, total_value double",
    ).withColumn("window_start", F.to_timestamp("window_start"))
    upsert_to_serving(serving)(df, 0)
    plan = topk_view(spark, serving, 5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_stateful_sessionize_carries_state_across_batches(spark, tmp_path):
    """applyInPandasWithState sessionization: per-user (last_us, counter)
    state must survive the micro-batch boundary — a second batch within the
    gap continues session 1; beyond the gap it opens session 2."""
    from tfm_taxitrips_spark.streaming.stateful import streaming_sessionize

    src_dir = str(tmp_path / "src")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")

    schema = "event_id bigint, ts timestamp, user_id bigint"

    def run():
        stream = spark.readStream.schema(schema).json(src_dir)
        q = (
            streaming_sessionize(stream, gap="30 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r.user_id, r.event_id): r.session_id
            for r in spark.read.parquet(out).collect()
        }

    _drop(
        f"{src_dir}/b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 7},
            {"event_id": 2, "ts": "2024-01-01 10:10:00", "user_id": 7},
            {"event_id": 3, "ts": "2024-01-01 10:00:00", "user_id": 8},
        ],
    )
    first = run()
    assert first == {(7, 1): 1, (7, 2): 1, (8, 3): 1}

    # batch 2: user 7 continues within the gap (session 1); user 8 exceeds
    # it (session 2). Only possible if state crossed the batch boundary.
    _drop(
        f"{src_dir}/b2.json",
        [
            {"event_id": 4, "ts": "2024-01-01 10:25:00", "user_id": 7},
            {"event_id": 5, "ts": "2024-01-01 11:30:00", "user_id": 8},
        ],
    )
    second = run()
    assert second[(7, 4)] == 1
    assert second[(8, 5)] == 2


def test_stateful_sessionize_matches_batch(spark, sf_smoke, tmp_path):
    """Batch-stream parity: streaming sessionization over the events table
    (availableNow) equals operators.temporal.sessionize."""
    from tfm_taxitrips_spark.operators.temporal import sessionize
    from tfm_taxitrips_spark.sources.readers import table
    from tfm_taxitrips_spark.streaming.pipeline import read_events_stream
    from tfm_taxitrips_spark.streaming.stateful import streaming_sessionize

    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    q = (
        streaming_sessionize(read_events_stream(spark, sf_smoke), gap="30 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.event_id): r.session_id
        for r in spark.read.parquet(out).collect()
    }
    expected = {
        (r.user_id, r.event_id): r.session_id
        for r in sessionize(table(spark, sf_smoke, "events"), gap="30 minutes")
        .select("user_id", "event_id", "session_id")
        .collect()
    }
    assert got == expected


def test_incremental_file_drops_accumulate(spark, tmp_path):
    """File-source micro-batches: two drops processed by consecutive
    availableNow runs accumulate counts exactly once each (checkpointed
    offsets — the reference's restart-safety concern, SURVEY.md §2.9)."""
    src_dir = str(tmp_path / "src")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")

    _drop(f"{src_dir}/b1.json", [_event(i, f"2024-01-01 10:{i:02d}:00") for i in range(5)])
    stream = spark.readStream.schema(EVENTS_SCHEMA).json(src_dir)
    sink = lambda: (  # noqa: E731
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q = sink()
    q.awaitTermination()
    assert spark.read.parquet(out).count() == 5

    _drop(f"{src_dir}/b2.json", [_event(10 + i, f"2024-01-01 11:{i:02d}:00") for i in range(3)])
    q = sink()
    q.awaitTermination()
    # 5 + 3, batch 1 not reprocessed
    assert spark.read.parquet(out).count() == 8


def test_foreach_batch_incremental_partition_refresh(spark, tmp_path):
    """foreachBatch + dynamic partition overwrite: a replayed epoch rewrites
    the same partitions (idempotent), and only touched partitions change."""
    from tfm_taxitrips_spark.sinks.writers import (
        overwrite_partitions,
        write_stream_foreach_batch,
    )

    src_dir = str(tmp_path / "src")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    schema = "event_id bigint, ts timestamp, event_type string, value double"

    def write_batch(batch_df, epoch_id):
        enriched = batch_df.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        overwrite_partitions(enriched, out, partition_by=("day",))

    def run():
        stream = spark.readStream.schema(schema).json(src_dir)
        q = write_stream_foreach_batch(stream, chk, write_batch, available_now=True)
        q.awaitTermination()

    _drop(f"{src_dir}/b1.json", [_event(i, f"2024-01-01 10:{i:02d}:00") for i in range(4)])
    run()
    assert spark.read.parquet(out).count() == 4

    # second drop lands on a NEW day partition; day 1 survives untouched
    _drop(f"{src_dir}/b2.json", [_event(10 + i, f"2024-01-02 09:{i:02d}:00") for i in range(3)])
    run()
    got = spark.read.parquet(out)
    assert got.count() == 7
    assert got.where(F.col("day") == "2024-01-01").count() == 4


def test_running_totals_carries_state_across_batches(spark, tmp_path):
    """applyInPandasWithState running totals: (n, tot) state must survive
    the micro-batch boundary — batch-2 events continue the count/sum."""
    from tfm_taxitrips_spark.streaming.stateful import streaming_running_totals

    src_dir = str(tmp_path / "src")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    schema = "event_id bigint, ts timestamp, user_id bigint, value double"

    def run():
        stream = spark.readStream.schema(schema).json(src_dir)
        q = (
            streaming_running_totals(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r.user_id, r.event_id): (r.run_n, r.run_value)
            for r in spark.read.parquet(out).collect()
        }

    _drop(
        f"{src_dir}/b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 7, "value": 1.5},
            {"event_id": 2, "ts": "2024-01-01 10:10:00", "user_id": 7, "value": 2.0},
        ],
    )
    first = run()
    assert first == {(7, 1): (1, 1.5), (7, 2): (2, 3.5)}

    _drop(
        f"{src_dir}/b2.json",
        [{"event_id": 3, "ts": "2024-01-01 10:20:00", "user_id": 7, "value": 4.0}],
    )
    second = run()
    assert second[(7, 3)] == (3, 7.5)


def test_running_totals_v2_parity_when_protobuf_available(spark, sf_smoke):
    """transformWithStateInPandas (state v2) must emit exactly what the v1
    applyInPandasWithState operator emits. Runs only where the state-v2
    Python runner's protobuf dependency exists."""
    pytest.importorskip("google.protobuf")
    from tfm_taxitrips_spark.queries.streamq import q_stream_running_totals
    from tfm_taxitrips_spark.streaming.pipeline import read_events_stream, run_to_memory
    from tfm_taxitrips_spark.streaming.stateful import streaming_running_totals_v2

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        v2 = run_to_memory(
            streaming_running_totals_v2(read_events_stream(spark, sf_smoke)),
            spark,
            output_mode="append",
        )
        v1 = q_stream_running_totals(spark, sf_smoke)
        assert sorted(map(tuple, v2.collect())) == sorted(map(tuple, v1.collect()))
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_stream_ohlc_state_merges_across_micro_batches(spark, tmp_path):
    """OHLC's min_by/max_by state must merge partial bars ASSOCIATIVELY
    across micro-batches: batch 2 delivers the hour's earliest tick (a
    new open) and a later close, arriving AFTER batch 1 built a bar — the
    merged bar must equal the batch answer, proving open/close picks are
    micro-batch-order independent."""
    from tfm_taxitrips_spark.streaming.pipeline import run_to_memory
    from pyspark.sql import functions as F

    src_dir = str(tmp_path / "src")
    # batch 1: mid-hour ticks (provisional open=2.0@:10, close=4.0@:20)
    _drop(f"{src_dir}/b1.json", [
        _event(10, "2024-01-01 10:10:00", value=2.0),
        _event(11, "2024-01-01 10:20:00", value=4.0),
    ])
    # batch 2: the true open (earlier ts) and true close (later ts),
    # plus a same-ts tie at the close decided by event_id
    _drop(f"{src_dir}/b2.json", [
        _event(12, "2024-01-01 10:01:00", value=9.0),
        _event(13, "2024-01-01 10:40:00", value=1.0),
        _event(14, "2024-01-01 10:40:00", value=7.0),
    ])

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")  # force two micro-batches
        .json(src_dir)
    )
    key = F.struct(F.col("ts"), F.col("event_id"))
    bars = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min_by("value", key).alias("open_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.max_by("value", key).alias("close_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    rows = run_to_memory(bars, spark).collect()
    assert len(rows) == 1
    r = rows[0]
    # open from batch 2 (earliest ts), close = event_id 14 (same-ts tie,
    # higher id wins under the composite order), extrema over both batches
    assert (r.open_value, r.high_value, r.low_value, r.close_value, r.n_events) == (
        9.0, 9.0, 1.0, 7.0, 5
    )


def test_stream_transitions_state_survives_batch_boundary(spark, tmp_path):
    """The transition straddling a micro-batch boundary must come from
    carried state: user 7's first batch-2 event must emit the LAST
    batch-1 event type as its src — exactly what a per-batch lag cannot
    produce — and first-ever events emit a NULL src."""
    from tfm_taxitrips_spark.streaming.stateful import streaming_transitions

    src_dir = str(tmp_path / "src")

    def _uevent(eid, ts, etype):
        return {"event_id": eid, "ts": ts, "event_type": etype,
                "user_id": 7, "value": 1.0}

    _drop(f"{src_dir}/b1.json", [
        _uevent(1, "2024-01-01 10:00:00", "view"),
        _uevent(2, "2024-01-01 10:01:00", "click"),
    ])
    _drop(f"{src_dir}/b2.json", [
        _uevent(3, "2024-01-01 10:02:00", "purchase"),
    ])
    schema = ("event_id bigint, ts timestamp, event_type string, "
              "user_id bigint, value double")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # force two micro-batches
        .json(src_dir)
    )
    out = streaming_transitions(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("trans_carry")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r.event_id: (r.src_type, r.dst_type)
            for r in spark.sql("SELECT * FROM trans_carry").collect()}
    assert rows == {
        1: (None, "view"),
        2: ("view", "click"),
        3: ("click", "purchase"),  # src recovered from carried state
    }


def test_stream_transitions_null_type_round_trips_state_as_null(
    spark, tmp_path
):
    """A NULL event_type crossing a micro-batch boundary must arrive at
    the next batch as a NULL src (what the batch `lag` twin emits) — a
    str() on the state write would freeze it into the literal string
    "None", silently corrupting every transition out of a null-typed
    event."""
    from tfm_taxitrips_spark.streaming.stateful import streaming_transitions

    src_dir = str(tmp_path / "src")

    def _uevent(eid, ts, etype):
        return {"event_id": eid, "ts": ts, "event_type": etype,
                "user_id": 7, "value": 1.0}

    _drop(f"{src_dir}/b1.json", [
        _uevent(1, "2024-01-01 10:00:00", "view"),
        _uevent(2, "2024-01-01 10:01:00", None),  # null-typed event
    ])
    _drop(f"{src_dir}/b2.json", [
        _uevent(3, "2024-01-01 10:02:00", "purchase"),
    ])
    schema = ("event_id bigint, ts timestamp, event_type string, "
              "user_id bigint, value double")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(src_dir)
    )
    q = (
        streaming_transitions(stream)
        .writeStream.format("memory")
        .queryName("trans_null_carry")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r.event_id: (r.src_type, r.dst_type)
            for r in spark.sql("SELECT * FROM trans_null_carry").collect()}
    assert rows == {
        1: (None, "view"),
        2: ("view", None),
        3: (None, "purchase"),  # NULL carried across the boundary, not "None"
    }


def test_stream_table_reads_both_table_layouts(spark, sf_smoke, tmp_path):
    """Regression for the round-8 zero-rows bug: the streaming file
    source's old pathGlobFilter form matched leaf FILE names only, so a
    table stored as a DIRECTORY of part files (every Spark-written
    dataset: sinks, replicated scale fixtures, real deployments) streamed
    empty — silently, because an empty drain still completes. Both
    layouts must yield the same row count as the batch reader."""
    from tfm_taxitrips_spark.streaming.pipeline import (
        read_events_stream,
        run_to_memory,
    )
    from tfm_taxitrips_spark.sources.readers import read_events

    expected = read_events(spark, f"{sf_smoke}/events.parquet").count()
    assert expected > 0

    def drained_count(sf_dir: str) -> int:
        out = run_to_memory(
            read_events_stream(spark, sf_dir).groupBy().count(), spark
        )
        return out.collect()[0][0]

    # single-file layout (the driver fixtures)
    assert drained_count(sf_smoke) == expected
    # directory-of-part-files layout (Spark-written)
    dir_form = str(tmp_path)
    spark.read.parquet(f"{sf_smoke}/events.parquet").write.parquet(
        f"{dir_form}/events.parquet"
    )
    assert drained_count(dir_form) == expected


def test_drains_leave_no_memory_sink_views(spark, sf_smoke):
    """run_to_memory drops its ``mem_*`` view after the drain; the frames
    it returned still collect their rows."""
    from tfm_taxitrips_spark.queries.streamq import (
        q_stream_dedup,
        q_stream_window_rollup,
    )

    rolled = q_stream_window_rollup(spark, sf_smoke)
    deduped = q_stream_dedup(spark, sf_smoke)
    leaked = [t.name for t in spark.catalog.listTables()
              if t.name.startswith("mem_")]
    assert leaked == []
    assert rolled.collect()
    assert deduped.collect()


def test_every_drain_uses_the_state_partition_rule(spark, sf_smoke):
    """Complete, append and update (foreachBatch serving) drains all run
    every state operator on min(defaultParallelism, 8) partitions."""
    from pyspark.sql.streaming import StreamingQueryListener

    from tfm_taxitrips_spark.queries.streamq import (
        q_stream_dedup_ttl,
        q_stream_topk,
        q_stream_window_rollup,
    )

    seen: dict[str, set] = {}  # query id -> reported partition counts

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            ops = event.progress.stateOperators
            if ops:
                seen.setdefault(str(event.progress.id), set()).update(
                    op.numShufflePartitions for op in ops)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    try:
        for q in (q_stream_window_rollup, q_stream_dedup_ttl, q_stream_topk):
            q(spark, sf_smoke).collect()
        # the listener bus delivers progress asynchronously
        deadline = time.monotonic() + 30
        while len(seen) < 3 and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    expect = min(spark.sparkContext.defaultParallelism, 8)
    assert len(seen) == 3, seen
    assert all(parts == {expect} for parts in seen.values()), (expect, seen)
