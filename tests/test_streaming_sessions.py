"""Stateful streaming sessionizer vs the batch window implementation: the
sessions a single availableNow pass can CLOSE (every session except each
user's final, still-open one) must match the batch operator exactly."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineer_interview_task_spark.operators import relational
from data_engineer_interview_task_spark.streaming import run_sessionize_once


def test_stateful_sessions_match_batch(spark, sf_dir):
    streamed = run_sessionize_once(spark, sf_dir)
    batch = relational.sessionize_events(spark, sf_dir, gap_minutes=30)

    # batch sessions minus each user's last (the stream keeps it open in state)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id")
    closed_batch = (
        batch.withColumn("max_seq", F.max("session_seq").over(w))
        .filter(F.col("session_seq") < F.col("max_seq"))
        .select("user_id", "session_start", "session_end", "n_events")
    )

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in streamed.select(
            "user_id", "session_start", "session_end", "n_events"
        ).collect()
    }
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in closed_batch.collect()
    }
    assert got == want
    assert len(got) > 0


def test_stateful_sessions_value_sums(spark, sf_dir):
    streamed = run_sessionize_once(spark, sf_dir)
    # spot-check: per-user closed-session event counts sum to the batch's
    total_streamed = streamed.agg(F.sum("n_events")).first()[0]
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_users = events.select("user_id").distinct().count()
    batch = relational.sessionize_events(spark, sf_dir, gap_minutes=30)
    total_batch = batch.agg(F.sum("n_events")).first()[0]
    open_events = (
        batch.withColumn(
            "mx",
            F.max("session_seq").over(
                __import__("pyspark.sql", fromlist=["Window"]).Window.partitionBy("user_id")
            ),
        )
        .filter(F.col("session_seq") == F.col("mx"))
        .agg(F.sum("n_events"))
        .first()[0]
    )
    assert total_streamed == total_batch - open_events
    assert n_users > 0


def test_flushing_sessionizer_emits_open_sessions_on_watermark(
    spark, tmp_path
):
    """The EventTimeTimeout variant: once the watermark passes (last event
    + gap), the OPEN session is emitted without needing a later event from
    that user — the unbounded-stream completeness property the NoTimeout
    sessionizer lacks. Driven across two availableNow runs sharing a
    checkpoint: run 1 loads user A's burst and user B's much-later event
    (which sets the watermark past A's gap horizon); run 2's batch (one
    new B event) triggers A's timeout and flushes A's session."""
    import datetime as dt

    from data_engineer_interview_task_spark.streaming import (
        sessionize_stream_flushing,
    )
    from data_engineer_interview_task_spark.streaming.weekly import EVENTS_SCHEMA

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)

    def ev(eid, minutes, uid, val):
        return (eid, t0 + dt.timedelta(minutes=minutes), uid, "click", val, "{}")

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            sessionize_stream_flushing(spark, src, gap_minutes=30)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).collect()

    # batch 1: A has a 3-event burst (0, 5, 10 min); B acts 2h later, which
    # drives the watermark to t0+120min > A's horizon (t0+10+30min)
    batch1 = spark.createDataFrame(
        [ev(1, 0, 100, 1.0), ev(2, 5, 100, 2.0), ev(3, 10, 100, 3.0),
         ev(4, 120, 200, 9.0)],
        schema=EVENTS_SCHEMA,
    )
    batch1.write.mode("overwrite").parquet(src)
    got1 = run_once()
    # nothing closed by a later event yet; A's open session may not flush
    # until the NEXT trigger evaluates timeouts against the new watermark
    assert all(r.user_id != 100 or r.n_events == 3 for r in got1)

    # batch 2: one more far-future B event; its batch runs with the
    # checkpointed watermark (t0+2h), so A's timeout fires
    spark.createDataFrame([ev(5, 240, 200, 1.0)], schema=EVENTS_SCHEMA).write.mode(
        "append"
    ).parquet(src)
    got2 = run_once()
    a_sessions = [r for r in got2 if r.user_id == 100]
    assert len(a_sessions) == 1
    a = a_sessions[0]
    assert a.n_events == 3
    assert a.session_start == t0
    assert a.session_end == t0 + dt.timedelta(minutes=10)
    assert abs(a.total_value - 6.0) < 1e-9


def test_builtin_session_window_stream_equals_batch(spark, sf_dir):
    """The built-in session_window aggregation must emit, under the
    availableNow+complete harness, exactly the batch
    session_window_rollup result — merge rule and bounds included."""
    from data_engineer_interview_task_spark.operators import relational
    from data_engineer_interview_task_spark.streaming import run_session_window_once

    streamed = run_session_window_once(spark, sf_dir)
    batch = relational.session_window_rollup(spark, sf_dir)
    cols = ["user_id", "session_start", "session_end", "n_events", "total_value"]
    assert sorted(map(tuple, streamed.select(cols).collect())) == sorted(
        map(tuple, batch.select(cols).collect())
    )
