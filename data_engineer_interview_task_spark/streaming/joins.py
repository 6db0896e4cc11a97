"""Stream-stream join: correlate two live streams with watermarks on both
sides — the conversion-funnel pattern (click -> purchase within an hour,
per user). Spark buffers both sides in state; the watermark + time-range
condition bound that state, which is what lets it run forever.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import prep_session
from .weekly import EVENTS_SCHEMA
from .util import run_to_memory, staged_events, state_partitions

#: side column -> events column it is projected from
_SIDE_SOURCES = {
    "c_user": "user_id",
    "click_id": "event_id",
    "click_ts": "ts",
    "p_user": "user_id",
    "purchase_id": "event_id",
    "purchase_ts": "ts",
    "purchase_value": "value",
}


def _click_purchase_sides(
    spark: SparkSession,
    source_dir: str,
    within: str,
    watermark: str,
    max_files_per_trigger: int | None,
    clicks: tuple[str, ...] = ("c_user", "click_id", "click_ts"),
    purchases: tuple[str, ...] = (
        "p_user",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    ),
) -> tuple[DataFrame, DataFrame, Column]:
    """The two watermarked sides of every click→purchase join, projected
    to the named ``clicks`` / ``purchases`` columns, plus the join
    condition: same user, purchase strictly after the click and at most
    ``within`` later. The time range is what lets Spark evict buffered
    rows once the other side's watermark passes their window."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(source_dir)

    def side(event_type: str, cols: tuple[str, ...], ts: str) -> DataFrame:
        return (
            src.filter(F.col("event_type") == event_type)
            .select(*(F.col(_SIDE_SOURCES[c]).alias(c) for c in cols))
            .withWatermark(ts, watermark)
        )

    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}"))
    )
    return (
        side("click", clicks, "click_ts"),
        side("purchase", purchases, "purchase_ts"),
        cond,
    )


_PAIR_COLUMNS = (
    "click_id",
    "purchase_id",
    "click_ts",
    "purchase_ts",
    "purchase_value",
)


def click_purchase_stream_join(
    spark: SparkSession,
    source_dir: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Join the click sub-stream to the purchase sub-stream of the same
    user where the purchase happens within ``within`` after the click.

    Both sides carry a watermark; the join condition includes the time
    range, so Spark evicts buffered rows once the other side's watermark
    passes their window — state is O(events within the horizon), not
    O(stream)."""
    clicks, purchases, cond = _click_purchase_sides(
        spark, source_dir, within, watermark, None
    )
    return clicks.join(purchases, cond).select(
        F.col("c_user").alias("user_id"), *_PAIR_COLUMNS
    )


def run_click_purchase_join_once(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """availableNow harness for the stream-stream join. Runs under the
    volume-derived state-store partition count (r13 — the inner join
    keeps the same four state instances per partition as the outer
    forms, so it pays the identical per-partition commit cost the r12
    profile measured; A/B at sf0.1: 7.9s at the session's 32
    partitions → 2.2s sized to state volume, identical rows). The
    availableNow emitted pair set is deterministic, so the oracle is
    the batch-twin SQL; tests/test_streaming_join.py additionally proves
    pair-equality with the batch DataFrame twin."""
    prep_session(spark)
    src = staged_events(spark, sf_dir, "plain")
    return run_to_memory(
        spark,
        click_purchase_stream_join(spark, src),
        output_mode="append",
        partitions=state_partitions(spark, src),
    )


def click_purchase_left_join(
    spark: SparkSession,
    source_dir: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """LEFT OUTER stream-stream join: every click, with its purchase if one
    happened within ``within``, else NULL purchase columns.

    Unlike the inner form, the null-extended rows can only be emitted once
    the watermark proves no matching purchase can still arrive — Spark
    holds each unmatched click in state until
    ``watermark > click_ts + within`` and only then emits the NULL row.
    The run harness appends far-future flush rows so that proof arrives
    for every real click before the availableNow query drains (see
    ``run_click_purchase_left_join_once``)."""
    clicks, purchases, cond = _click_purchase_sides(
        spark, source_dir, within, watermark, max_files_per_trigger
    )
    return clicks.join(purchases, cond, "leftOuter").select(
        F.col("c_user").alias("user_id"), *_PAIR_COLUMNS
    )


def _run_outer_join_once(spark, sf_dir, builder) -> DataFrame:
    """Shared availableNow harness for the OUTER stream-stream joins,
    making the emission COMPLETE and therefore equal to the batch join
    (the oracle):

    1. the real events land as batch 0 (one file),
    2. ONE flush file with a ``max(ts)+10d`` sentinel per SIDE lands
       second (the global watermark is the MIN across both sides'
       watermarks, so advancing only one side would strand the other
       side's unmatched rows),
    3. ``maxFilesPerTrigger=1`` forces one batch per file: batch 1
       advances the watermark past every real row's join window, and the
       trailing no-data micro-batch (``noDataMicroBatches``, on by
       default) evicts + emits the last held NULL rows before the drain.

    Files are processed in modification-time order; the flush write's
    files are explicitly mtime-bumped past everything already present so
    the bulk file is strictly oldest (no wall-clock sleeps). The flush
    rows use user_id = -1 and are filtered from the returned result.
    Profiling note (r6): the r5 shape used TWO flush files (+10d/+20d);
    the second only re-flushed the first file's own sentinels, which are
    filtered anyway — one file + the no-data batch emits the identical
    real-row set with one fewer micro-batch and one fewer tiny write."""
    prep_session(spark)
    src = staged_events(spark, sf_dir, "flushed")
    return run_to_memory(
        spark,
        builder(spark, src, max_files_per_trigger=1),
        output_mode="append",
        partitions=state_partitions(spark, src),
    ).filter(F.col("user_id") >= 0)


def click_purchase_join_rollup(
    spark: SparkSession,
    source_dir: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """CHAINED STATEFUL OPERATORS in one streaming query (Spark 3.5+ /
    4.x multiple-stateful support): the click→purchase time-range join
    feeding a per-day windowed conversion rollup downstream — the
    attribution-dashboard shape (join state + aggregation state in one
    lineage, watermark propagated through the join into the window
    eviction). Revenue sums in exact cents."""
    clicks, purchases, cond = _click_purchase_sides(
        spark,
        source_dir,
        within,
        watermark,
        max_files_per_trigger,
        clicks=("c_user", "click_ts"),
        purchases=("p_user", "purchase_ts", "purchase_value"),
    )
    cents = (
        F.col("purchase_value").cast("decimal(18,2)") * 100
    ).cast("long")
    return (
        clicks.join(purchases, cond)
        .groupBy(F.window("click_ts", "1 day"))
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.sum(cents).alias("revenue_cents"),
        )
        .select(
            F.col("window.start").cast("date").alias("day"),
            F.col("n_conversions").cast("long").alias("n_conversions"),
            F.col("revenue_cents").cast("long").alias("revenue_cents"),
        )
    )


def run_click_purchase_join_rollup_once(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """availableNow harness for the chained join→rollup — the
    :func:`_run_outer_join_once` flush protocol (one sentinel per side
    at max_ts + 10d; same-timestamp sentinels can never join each
    other under the strict ``purchase_ts > click_ts``, so no sentinel
    day reaches the rollup and nothing needs post-filtering — a
    ``user_id >= 0`` filter would be pushed through the join to both
    scans and footer-stats-prune the sentinel file, stranding the
    watermark: the documented lesson). The flush protocol makes the
    emission complete, so the oracle is the batch join + day rollup."""
    prep_session(spark)
    src = staged_events(spark, sf_dir, "flushed")
    return run_to_memory(
        spark,
        click_purchase_join_rollup(spark, src, max_files_per_trigger=1),
        output_mode="append",
        partitions=state_partitions(spark, src),
    )


def run_click_purchase_left_join_once(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """availableNow harness for the LEFT OUTER stream-stream join — see
    :func:`_run_outer_join_once` for the flush/completeness protocol."""
    return _run_outer_join_once(spark, sf_dir, click_purchase_left_join)


def click_purchase_full_join(
    spark: SparkSession,
    source_dir: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """FULL OUTER stream-stream join — the last cell of the join-mode
    matrix (inner / leftOuter / fullOuter): every click with its purchase
    if one landed within ``within``, PLUS every purchase no click
    explains. The purchase-side NULL rows are the 'attribution gap'
    stream an ads pipeline alerts on.

    State/eviction semantics are symmetric leftOuter: EACH side holds
    its unmatched rows until the watermark proves no partner can arrive,
    then emits its NULL-extended row. Since the null side determines
    which id column survives, ``user_id`` is COALESCEd across sides.
    Same bounded-state argument, now on both buffers."""
    clicks, purchases, cond = _click_purchase_sides(
        spark, source_dir, within, watermark, max_files_per_trigger
    )
    return clicks.join(purchases, cond, "fullOuter").select(
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
        *_PAIR_COLUMNS,
    )


def run_click_purchase_full_join_once(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """availableNow harness for the FULL OUTER stream-stream join — see
    :func:`_run_outer_join_once` for the flush/completeness protocol."""
    return _run_outer_join_once(spark, sf_dir, click_purchase_full_join)


def stream_static_enrich(
    spark: SparkSession, source_dir: str, sf_dir: str
) -> DataFrame:
    """STREAM-STATIC join — the enrichment shape: a live event stream
    joined against a static (batch) dimension table, here per-user
    lifetime order stats derived from ``orders``. No state store at all:
    the static side is just a batch plan re-evaluated per micro-batch
    (and broadcast when small — at 100 TB pin it with a storage-level
    cache or a pre-bucketed layout), and the stream side needs no
    watermark because nothing is buffered. This is the third join family
    next to stream-stream (state both sides) and batch-batch; its
    correctness condition is that the static side is IMMUTABLE for the
    run — for slowly-changing dims, swap in the SCD2 AS-OF pattern
    (`relational.scd2_as_of`) inside a foreachBatch refresh instead.

    Aggregated-then-joined rather than row-joined so the static side is
    users-sized, not orders-sized — the standard pre-aggregation before
    a broadcast."""
    from ..sources import read_table

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(source_dir)
    user_stats = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("lifetime_value"),
        )
    )
    return (
        stream.select("event_id", "user_id", "event_type")
        .join(F.broadcast(user_stats), "user_id", "left")
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.coalesce(F.col("n_orders"), F.lit(0).cast("long")).alias(
                "n_orders"
            ),
            F.coalesce(F.col("lifetime_value"), F.lit(0.0)).alias(
                "lifetime_value"
            ),
        )
    )


def run_stream_static_enrich_once(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """availableNow harness: emitted rows == the batch left join, exactly
    (stateless — every stream row passes through once)."""
    prep_session(spark)
    src = staged_events(spark, sf_dir, "plain")
    return run_to_memory(
        spark, stream_static_enrich(spark, src, sf_dir), output_mode="append"
    )


def click_purchase_semi_join(
    spark: SparkSession,
    source_dir: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT SEMI stream-stream join: clicks that converted (a purchase by
    the same user within ``within``), emitting each qualifying click ONCE
    with no purchase payload — the existence-check member of the join
    matrix (inner / leftOuter / fullOuter / leftSemi).

    State story: like the inner join, but a buffered click can be dropped
    from state as soon as its first match arrives (nothing more can change
    its output), and unmatched clicks age out when the purchase-side
    watermark passes their window — the cheapest stateful join of the
    family. Under the availableNow harness every purchase is seen, so the
    emitted set equals the batch EXISTS semi join exactly.
    """
    clicks, purchases, cond = _click_purchase_sides(
        spark,
        source_dir,
        within,
        watermark,
        None,
        purchases=("p_user", "purchase_ts"),
    )
    return clicks.join(purchases, cond, "left_semi").select(
        F.col("c_user").alias("user_id"), "click_id", "click_ts"
    )


def run_click_purchase_semi_join_once(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """availableNow harness for the stream-stream LEFT SEMI join. Runs
    under the same reduced state-store partition count as the outer-join
    harnesses (``util.state_partitions``): a stream-stream join
    pays per-partition state snapshot/commit cost on EVERY micro-batch
    regardless of row count, and the semi join keeps the same four
    instances per partition as the inner join."""
    prep_session(spark)
    src = staged_events(spark, sf_dir, "plain")
    return run_to_memory(
        spark,
        click_purchase_semi_join(spark, src),
        output_mode="append",
        partitions=state_partitions(spark, src),
    )
