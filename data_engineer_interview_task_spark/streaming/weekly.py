"""Structured Streaming twin of the reference's weekly batch cadence.

The reference approximates a 7-day tumbling window with an Airflow
``@weekly`` schedule (``dags/google_trends_to_bigquery.py:163`` +
``:19-28``); the Spark-native form is ``readStream`` -> ``withWatermark``
-> 7-day tumbling ``window()`` aggregation, which also handles late data —
something the batch reference silently cannot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..plans import prep_session
from .util import run_to_memory, staged_events, state_partitions

#: events schema with ts already as a proper timestamp (the ns->micros
#: conversion happens on the batch prep path; streaming reads the converted
#: parquet written by ``run_weekly_rollup_once``).
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def weekly_rollup_stream(
    spark: SparkSession, source_dir: str, watermark: str = "14 days"
) -> DataFrame:
    """Streaming weekly rollup: per (7-day tumbling window, event_type)
    count + decimal-exact value sum. The watermark bounds state: windows
    older than max(event time) - watermark are finalized and evicted, so
    state size is O(active windows x types) regardless of stream length."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA).parquet(source_dir)
    )
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "7 days"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # accumulate exactly in decimal; EMIT as double (decimal->double
            # is correctly rounded in both engines, while emitted raw
            # decimals hash-mismatch the oracle: Spark sum -> decimal(28,2),
            # DuckDB sum -> decimal(38,2) — CORRECTNESS_r02 caught this)
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("week_start"),
            F.col("window.end").alias("week_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_rollup_stream(
    spark: SparkSession, source_dir: str, watermark: str = "14 days"
) -> DataFrame:
    """Streaming SLIDING-window rollup: per (7-day window advancing every
    1 day, event_type) count + decimal-exact value sum. Unlike the tumbling
    form, each event lands in 7 overlapping windows — Spark expands the
    membership internally (no self-join, no explode) and the watermark
    still bounds state to O(open windows x types): a window is finalized
    once the watermark passes its end, exactly as in the tumbling case.
    Windows are epoch-aligned on the 1-day slide, which is what makes the
    batch/DuckDB twin expressible with pure integer epoch arithmetic."""
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(source_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "7 days", "1 day"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # decimal accumulation, double emit — same rationale as the
            # tumbling form above.
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_sliding_rollup_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow harness for the sliding rollup (complete output mode →
    every window appears, making the emitted set batch-deterministic and
    therefore oracle-checkable). Each event contributes to 7 overlapping
    epoch-aligned windows; the DuckDB oracle replicates the membership by
    exploding 7 day-offsets per event with integer epoch arithmetic."""
    prep_session(spark)
    src = staged_events(spark, sf_dir, "plain")
    return run_to_memory(
        spark,
        sliding_rollup_stream(spark, src),
        output_mode="complete",
        partitions=state_partitions(spark, src),
    )


def run_weekly_rollup_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the streaming rollup over the events table with an
    ``availableNow`` trigger (process-everything-then-stop) into a memory
    sink, returning the batch result — the deterministic test harness for
    the streaming path. Fully oracle-checked: window("7 days") tumbling
    buckets are EPOCH-aligned, which DuckDB replicates exactly with
    epoch_us integer arithmetic."""
    prep_session(spark)
    src = staged_events(spark, sf_dir, "plain")
    return run_to_memory(
        spark,
        weekly_rollup_stream(spark, src),
        output_mode="complete",
        partitions=state_partitions(spark, src),
    )


def bitmap_distinct_stream(
    spark: SparkSession, source_dir: str, watermark: str = "14 days"
) -> DataFrame:
    """Streaming EXACT-distinct sketch: per (week, 62-bit word index),
    the OR of user bits — the streaming twin of the batch
    ``bitmap_weekly_users`` sketch table. ``bit_or`` is a decomposable
    aggregate, so the state per (week, word) key is ONE long and updates
    are idempotent ORs; the watermark finalizes old weeks exactly like
    the count rollup. The popcount ROLLUP of the emitted sketch is a
    batch fold over the aggregate-sized sink (the sketch table IS the
    streaming result; any grain rollup of it is a client-side OR)."""
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(source_dir)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "7 days"),
            F.expr("user_id DIV 62").alias("word_idx"),
        )
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT))")
            ).alias("word")
        )
        .select(F.col("window.start").alias("week_start"), "word_idx", "word")
    )


def run_bitmap_distinct_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow harness for the streaming bitmap sketch: run the
    stream to completion, then popcount-roll the drained sketch to the
    exact weekly distinct-user counts. Oracle = the plain batch
    ``COUNT(DISTINCT user_id)`` — stream state, sketch merge and final
    fold must all be exact for the compare to pass.

    NOTE: the week grain here is the stream's epoch-aligned 7-day
    tumbling window (same as ``weekly_rollup_stream``), not ISO weeks —
    the oracle mirrors the epoch arithmetic."""
    prep_session(spark)
    src = staged_events(spark, sf_dir, "plain")
    sketch = run_to_memory(
        spark,
        bitmap_distinct_stream(spark, src),
        output_mode="complete",
        partitions=state_partitions(spark, src),
    )
    return (
        sketch.groupBy("week_start")
        .agg(F.sum(F.bit_count("word")).cast("long").alias("n_users"))
    )
