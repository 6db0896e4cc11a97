"""Stateful streaming sessionizer vs the batch window implementation: the
sessions a single availableNow pass can CLOSE (every session except each
user's final, still-open one) must match the batch operator exactly. Both
gap folds are also driven directly over simulated micro-batches against a
pandas twin."""

from __future__ import annotations

import functools
import operator

import numpy as np
import pandas as pd
from pandas.testing import assert_frame_equal
from pyspark.sql import functions as F

from data_engineer_interview_task_spark.operators import relational
from data_engineer_interview_task_spark.streaming import run_sessionize_once
from tests.test_streaming_stateful import _DictState, _drive, _frames

GAP = 30


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


def _session_batches() -> list[pd.DataFrame]:
    """Three time-ordered micro-batches of (user_id, event_id, ts, value),
    each shuffled. ``ts`` sits on a 10-minute grid, so equal timestamps and
    gaps of exactly ``GAP`` minutes are both common; users 0-4 stop after
    the first batch, so their open sessions can time out mid-stream."""
    rng = np.random.default_rng(5)
    n = 900
    events = pd.DataFrame(
        {
            "user_id": rng.integers(0, 20, n),
            "event_id": rng.permutation(n).astype("int64"),
            "ts": pd.Timestamp("2024-03-01")
            + pd.to_timedelta(rng.integers(0, 90, n) * 10, unit="min"),
            "value": rng.integers(0, 100_000, n) / 100.0,
        }
    )
    t = events.ts - pd.Timestamp("2024-03-01")
    cuts = [pd.Timedelta(hours=5), pd.Timedelta(hours=10)]
    parts = [t < cuts[0], (t >= cuts[0]) & (t < cuts[1]), t >= cuts[1]]
    parts[1] &= events.user_id >= 5
    parts[2] &= events.user_id >= 5
    return [
        events[p].sample(frac=1.0, random_state=i).reset_index(drop=True)
        for i, p in enumerate(parts)
    ]


def _sessions_twin(batches: list[pd.DataFrame]) -> pd.DataFrame:
    """Every gap session of the whole history in pandas, with
    ``open=True`` on each user's last one. Values add left to right, as
    the fold adds them."""
    ev = pd.concat(batches).sort_values(["user_id", "ts", "event_id"])
    gap = ev.groupby("user_id")["ts"].diff() > pd.Timedelta(minutes=GAP)
    ev["sid"] = gap.groupby(ev["user_id"]).cumsum()
    out = (
        ev.groupby(["user_id", "sid"])
        .agg(
            session_start=("ts", "min"),
            session_end=("ts", "max"),
            n_events=("ts", "size"),
            total_value=(
                "value",
                lambda v: functools.reduce(operator.add, v.tolist(), 0.0),
            ),
        )
        .reset_index()
    )
    out["open"] = out["sid"] == out.groupby("user_id")["sid"].transform("max")
    diffs = ev.groupby("user_id")["ts"].diff()
    # the batches must hold both equal timestamps and gaps of exactly GAP
    assert (diffs == pd.Timedelta(0)).any()
    assert (diffs == pd.Timedelta(minutes=GAP)).any()
    return out.drop(columns="sid")


def _sorted(frame: pd.DataFrame) -> pd.DataFrame:
    cols = ["user_id", "session_start", "session_end", "n_events", "total_value"]
    frame = frame[cols].astype({"user_id": "int64", "n_events": "int64"})
    return frame.sort_values(cols[:2]).reset_index(drop=True)


def test_sessionize_fold_matches_pandas_twin():
    """The NoTimeout gap fold over three micro-batches (each user's rows
    shuffled and cut into three frames) emits exactly the twin's closed
    sessions: every session but each user's last."""
    from data_engineer_interview_task_spark.streaming.sessions import _sessionize_fold

    batches = _session_batches()
    emitted = _drive(_sessionize_fold(GAP), batches)
    got = _sorted(pd.concat(f for frames in emitted.values() for f in frames))
    twin = _sessions_twin(batches)
    want = _sorted(twin[~twin.open])
    assert len(want) > 50
    assert_frame_equal(got, want, check_exact=True)


def test_flushing_fold_matches_pandas_twin():
    """The watermark-flushing fold over the same batches, with timeouts
    fired as Spark fires them (after a batch's data groups, for keys
    without data whose timeout is below the watermark of the batches
    before) and a final watermark past every event: it emits every one of
    the twin's sessions, open ones included, some of them mid-stream."""
    from data_engineer_interview_task_spark.streaming.sessions import _flushing_fold

    fold = _flushing_fold(GAP)
    batches = _session_batches()
    store: dict = {}
    timeouts: dict = {}
    emitted: list[pd.DataFrame] = []
    flushed_mid_stream = 0

    def fire(watermark_ms, skip=()):
        fired = 0
        for uid in sorted(k for k, ms in timeouts.items() if ms < watermark_ms):
            if uid not in skip:
                state = _DictState(store, uid, timeouts, timed_out=True)
                emitted.extend(fold((uid,), iter(()), state))
                fired += 1
        return fired

    watermark_ms = None
    for batch in batches:
        for uid, group in batch.groupby("user_id"):
            state = _DictState(store, uid, timeouts)
            emitted.extend(fold((uid,), iter(_frames(group)), state))
        if watermark_ms is not None:
            flushed_mid_stream += fire(watermark_ms, skip=set(batch.user_id))
        watermark_ms = batch.ts.max().value // 1_000_000
    fire(float("inf"))

    assert flushed_mid_stream > 0 and not store and not timeouts
    got = _sorted(pd.concat(emitted))
    assert_frame_equal(got, _sorted(_sessions_twin(batches)), check_exact=True)
