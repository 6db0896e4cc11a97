"""Stream-stream join vs its batch twin: identical pairs."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineer_interview_task_spark.sources import read_table
from data_engineer_interview_task_spark.streaming import run_click_purchase_join_once


def test_stream_stream_join_matches_batch(spark, sf_dir):
    streamed = run_click_purchase_join_once(spark, sf_dir)

    events = read_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    got = {(r.click_id, r.purchase_id) for r in streamed.collect()}
    want = {(r.click_id, r.purchase_id) for r in batch.collect()}
    assert got == want
    assert len(got) > 0


def test_left_outer_join_equals_batch_left_join(spark, sf_dir):
    from data_engineer_interview_task_spark.streaming import (
        run_click_purchase_left_join_once,
    )
    from data_engineer_interview_task_spark.sources import read_table

    streamed = run_click_purchase_left_join_once(spark, sf_dir)
    events = read_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    )
    got = {(r.click_id, r.purchase_id) for r in streamed.collect()}
    want = {(r.click_id, r.purchase_id) for r in batch.collect()}
    assert got == want
    # the watermark flush emitted genuine NULL-extended rows
    assert any(p is None for _, p in got)


def test_full_outer_join_covers_both_null_directions(spark, sf_dir):
    """The full-outer form must emit BOTH null-extension directions on
    this fixture (unmatched clicks and unexplained purchases), and its
    matched subset must equal the inner join's row set — degenerate
    fixtures would silently reduce fullOuter to leftOuter."""
    from data_engineer_interview_task_spark.streaming import (
        run_click_purchase_full_join_once,
        run_click_purchase_join_once,
    )

    full = run_click_purchase_full_join_once(spark, sf_dir)
    assert full.filter("purchase_id IS NULL").count() > 0
    assert full.filter("click_id IS NULL").count() > 0
    inner = run_click_purchase_join_once(spark, sf_dir)
    matched = full.filter("click_id IS NOT NULL AND purchase_id IS NOT NULL")
    cols = ["user_id", "click_id", "purchase_id"]
    assert sorted(map(tuple, matched.select(cols).collect())) == sorted(
        map(tuple, inner.select(cols).collect())
    )


def test_semi_join_equals_batch_exists(spark, sf_dir):
    from data_engineer_interview_task_spark.streaming import (
        run_click_purchase_semi_join_once,
    )

    streamed = run_click_purchase_semi_join_once(spark, sf_dir)
    events = read_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") > F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
            ),
            "left_semi",
        )
    )
    got = {r.click_id for r in streamed.collect()}
    want = {r.click_id for r in batch.collect()}
    assert got == want and got
    # semi join must emit each qualifying click exactly once
    assert streamed.count() == len(got)
