"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState`` — the arbitrary-state API the batch window trick
(`relational.sessionize_events`) cannot express incrementally.

State per user: the open session (start, last event ts, count, value sum).
Each micro-batch appends events, closes sessions whose gap exceeded the
threshold (emitting them), and keeps the still-open session in state.
State size is O(users), independent of stream length.

ORDERING ASSUMPTION (the price of NoTimeout + no watermark): events are
sorted (ts, event_id) only WITHIN each micro-batch, so per-user arrival
must be in event-time order ACROSS micro-batches — a cross-batch
out-of-order event would be appended after a session it chronologically
precedes and mis-sessionize. This holds in the availableNow harness (one
batch sees all files) and for sources that partition by user and preserve
per-key order (e.g. Kafka keyed by user_id). For genuinely out-of-order
unbounded streams, put a watermark-delayed sort in front (buffer events
`withWatermark("ts", delay)` and only feed the sessionizer rows older
than the watermark). Open sessions are held (never flushed) until a later
event closes them — use ``sessionize_stream_flushing`` (below) when every
session must eventually emit: it adds an event-time timeout at
(last event + gap) so the watermark itself closes idle sessions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from ..plans import prep_session
from .weekly import EVENTS_SCHEMA
from .util import run_to_memory, staged_events

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", IntegerType()),
        StructField("total_value", DoubleType()),
    ]
)

#: open-session state: start_us, last_us, n_events, value_sum
STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", IntegerType()),
        StructField("vsum", DoubleType()),
    ]
)


def _sessionize_fn(gap_minutes: int):
    """Build the per-group stateful function for a ``gap_minutes`` gap."""
    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdfs, state):
        (user_id,) = key
        events = pd.concat(list(pdfs), ignore_index=True)
        events = events.sort_values(["ts", "event_id"])
        ts_us = (events["ts"].astype("int64") // 1000).tolist()
        vals = events["value"].tolist()

        if state.exists:
            start_us, last_us, n, vsum = state.get
        else:
            start_us = last_us = None
            n, vsum = 0, 0.0

        closed = []
        for t, v in zip(ts_us, vals):
            if last_us is not None and t - last_us > gap_us:
                closed.append((start_us, last_us, n, vsum))
                start_us, n, vsum = t, 0, 0.0
            if start_us is None:
                start_us = t
            last_us = t
            n += 1
            vsum += float(v)

        state.update((start_us, last_us, n, vsum))
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": pd.to_datetime([c[0] for c in closed], unit="us"),
                    "session_end": pd.to_datetime([c[1] for c in closed], unit="us"),
                    "n_events": [c[2] for c in closed],
                    "total_value": [c[3] for c in closed],
                }
            )

    return fn


def sessionize_stream(
    spark: SparkSession, source_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """Streaming sessionizer over an events parquet directory. Emits each
    session when a later event proves it closed (gap exceeded). The open
    session per user stays in the state store across micro-batches."""
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(source_dir)
    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn(gap_minutes),
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _sessionize_flush_fn(gap_minutes: int):
    """Per-group stateful function for the WATERMARK-FLUSHING variant:
    same gap logic, plus an event-time timeout at (last event + gap) so
    the open session is emitted once the watermark proves no in-gap event
    can still arrive."""
    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdfs, state):
        (user_id,) = key

        def frame(sessions):
            return pd.DataFrame(
                {
                    "user_id": [user_id] * len(sessions),
                    "session_start": pd.to_datetime(
                        [s[0] for s in sessions], unit="us"
                    ),
                    "session_end": pd.to_datetime(
                        [s[1] for s in sessions], unit="us"
                    ),
                    "n_events": [s[2] for s in sessions],
                    "total_value": [s[3] for s in sessions],
                }
            )

        if state.hasTimedOut:
            # watermark passed last_event + gap: the open session is closed
            # by time itself — flush and clear
            start_us, last_us, n, vsum = state.get
            state.remove()
            yield frame([(start_us, last_us, n, vsum)])
            return

        events = pd.concat(list(pdfs), ignore_index=True)
        events = events.sort_values(["ts", "event_id"])
        ts_us = (events["ts"].astype("int64") // 1000).tolist()
        vals = events["value"].tolist()

        if state.exists:
            start_us, last_us, n, vsum = state.get
        else:
            start_us = last_us = None
            n, vsum = 0, 0.0

        closed = []
        for t, v in zip(ts_us, vals):
            if last_us is not None and t - last_us > gap_us:
                closed.append((start_us, last_us, n, vsum))
                start_us, n, vsum = t, 0, 0.0
            if start_us is None:
                start_us = t
            last_us = t
            n += 1
            vsum += float(v)

        state.update((start_us, last_us, n, vsum))
        # fire when the event-time watermark passes the gap horizon (ms)
        state.setTimeoutTimestamp((last_us + gap_us) // 1000)
        if closed:
            yield frame(closed)

    return fn


def sessionize_stream_flushing(
    spark: SparkSession, source_dir: str, gap_minutes: int = 30,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming sessionizer WITH open-session flush: like
    ``sessionize_stream`` but an event-time timeout emits each open
    session once the watermark passes (last event + gap) — so on a true
    unbounded stream every session is eventually emitted, not only those
    closed by a later event. ``watermark_delay`` is the out-of-orderness
    budget: events later than the watermark are the operator's blind spot
    (the tradeoff the NoTimeout variant's docstring describes)."""
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(source_dir)
    return (
        stream.withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_flush_fn(gap_minutes),
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_sessionize_once(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """availableNow harness: run the stateful sessionizer over the events
    table once and return the emitted (closed) sessions as a batch frame.
    Under availableNow the emitted (closed-session) set is
    batch-deterministic, so the DuckDB twin hash-matches; the
    batch-equivalence property is additionally pinned by
    tests/test_streaming_sessions.py."""
    prep_session(spark)
    src = staged_events(spark, sf_dir, "plain")
    return run_to_memory(
        spark,
        sessionize_stream(spark, src, gap_minutes),
        output_mode="append",
    )

def session_window_stream(
    spark: SparkSession,
    source_dir: str,
    gap_minutes: int = 30,
    watermark: str = "31 days",
) -> DataFrame:
    """Sessionization via the BUILT-IN ``session_window`` aggregation —
    the declarative alternative to the applyInPandasWithState operators
    above, and the exact streaming form of
    ``relational.session_window_rollup`` (same groupBy, same merge
    semantics: touching windows merge — a new session needs a gap
    STRICTLY greater than the gap duration; see the batch operator's
    docstring for the property-tested boundary). Spark keeps MERGEABLE
    per-session state
    and the watermark finalizes sessions once it passes their end —
    state is O(open sessions), with none of the cross-batch ordering
    assumption the custom sessionizer documents (late events within the
    watermark re-merge their session declaratively)."""
    from pyspark.sql import functions as F

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(source_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", f"{gap_minutes} minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # decimal accumulation, double emit (cross-engine parity rule)
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def run_session_window_once(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """availableNow harness for the built-in session-window aggregation
    (complete output mode -> every session appears, making the emitted
    set batch-deterministic and therefore oracle-checkable; the 31-day
    watermark exceeds the fixture's 30-day span so no event is late). The
    oracle is the same lag/cumsum island SQL as the batch
    ``session_window_rollup``."""
    prep_session(spark)
    src = staged_events(spark, sf_dir, "plain")
    return run_to_memory(
        spark,
        session_window_stream(spark, src, gap_minutes),
        output_mode="complete",
    )
