"""Streaming deduplication — ``dropDuplicates`` under a watermark.

The streaming twin of the batch dedup family (``operators/dedup.py``): emit
each (user_id, event_type) key the FIRST time it appears in the stream and
suppress every later duplicate. This is the idempotent-ingest guard a
production pipeline puts in front of an append-only sink (the reference's
WRITE_APPEND BigQuery load, ``dags/google_trends_to_bigquery.py:150-158``,
has no such guard — a DAG retry double-loads).

State: one entry per distinct key — bounded by key cardinality, not stream
length; the watermark lets Spark GC state for keys whose duplicates can no
longer arrive. Because the EMITTED KEY SET equals ``SELECT DISTINCT``
regardless of arrival order, this streaming query is exactly
oracle-checkable — rare for a streaming op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans import prep_session
from .weekly import EVENTS_SCHEMA
from .util import run_to_memory, staged_events, state_partitions


def first_events_stream(
    spark: SparkSession, source_dir: str, watermark: str = "30 days"
) -> DataFrame:
    """readStream -> watermark -> dropDuplicates on the key columns.
    Emits rows in append mode as they pass the state filter."""
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(source_dir)
    return (
        stream.withWatermark("ts", watermark)
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def run_first_events_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow harness: stream the events table through the dedup and
    return the emitted keys as a batch DataFrame (same pattern as
    ``run_weekly_rollup_once``)."""
    prep_session(spark)
    src = staged_events(spark, sf_dir, "plain")
    return run_to_memory(
        spark,
        first_events_stream(spark, src),
        output_mode="append",
        partitions=state_partitions(spark, src),
    )


def first_events_stream_bounded(
    spark: SparkSession, source_dir: str, watermark: str = "30 days"
) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` (Spark 3.5+) — the BOUNDED-STATE
    production form of ``first_events_stream``: state entries are GC'd
    once their event time ages past the watermark, so state holds only
    the keys of the trailing watermark window instead of every key ever
    seen. The price is a weaker guarantee — only duplicates arriving
    within the watermark delay of each other are suppressed — which is
    the right trade for unbounded streams where exact forever-dedup
    would mean unbounded state. With the default 30-day delay (>= the
    event table's whole span) the emitted key set still equals SELECT
    DISTINCT, so the registered query stays fully oracle-checkable;
    tests/test_streaming_late_data.py pins the state bound itself with
    a short watermark over a two-batch feed."""
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(source_dir)
    return (
        stream.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def run_first_events_bounded_once(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "30 days",
) -> DataFrame:
    """availableNow harness for the bounded-state dedup (same pattern as
    ``run_first_events_once``)."""
    prep_session(spark)
    src = staged_events(spark, sf_dir, "plain")
    return run_to_memory(
        spark,
        first_events_stream_bounded(spark, src, watermark),
        output_mode="append",
        partitions=state_partitions(spark, src),
    )


def dedup_then_rollup_stream(
    spark: SparkSession, source_dir: str, watermark: str = "31 days"
) -> DataFrame:
    """CHAINED stateful operators in one streaming query (Spark 3.4+):
    event-time dedup feeding a windowed aggregation downstream — the
    idempotent-ingest guard and the rollup it protects, fused into a
    single always-on query instead of two jobs with an intermediate
    topic. Spark runs both state stores under one watermark; the dedup's
    output event-time column carries into the window operator.

    Semantics (chosen deterministic): dedup key = (user_id, event_type,
    day), i.e. daily per-user-per-type de-duplication — every kept row
    of a key carries the identical (user_id, event_type, day) triple, so
    WHICH physical row survives is irrelevant and the downstream weekly
    count of user-type-days equals the batch DISTINCT aggregate exactly
    (arrival-order independence is what makes this oracle-checkable).

    State bounds: dedup state = O(active (user,type,day) keys inside the
    watermark); window state = O(open windows x types)."""
    from pyspark.sql import functions as F

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(source_dir)
    daily = (
        stream.select(
            "user_id",
            "event_type",
            F.date_trunc("DAY", F.col("ts")).alias("day"),
        )
        .withWatermark("day", watermark)
        .dropDuplicates(["user_id", "event_type", "day"])
    )
    return (
        daily.groupBy(F.window("day", "7 days"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_user_days"))
        .select(
            F.col("window.start").alias("week_start"),
            F.col("window.end").alias("week_end"),
            "event_type",
            "n_user_days",
        )
    )


def run_dedup_then_rollup_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow harness (complete mode -> every window emitted)."""
    prep_session(spark)
    src = staged_events(spark, sf_dir, "plain")
    return run_to_memory(
        spark,
        dedup_then_rollup_stream(spark, src),
        output_mode="complete",
        partitions=state_partitions(spark, src),
    )
