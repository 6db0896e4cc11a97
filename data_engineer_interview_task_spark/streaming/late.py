"""Watermark LATE-DATA accounting — the observability half of event-time
streaming that none of the other streaming entries exercises: how many
rows did the watermark actually DROP, per event-time day?

Every production streaming pipeline runs this audit next to its rollups
(dropped-late counts are the first thing checked when a downstream
aggregate disagrees with the batch recompute). The semantics under test
are Spark's real ones: the watermark advances to ``max(event time seen)
- delay`` at each micro-batch boundary, and a later batch's rows whose
day-window has already aged past the watermark are silently discarded
by the stateful aggregation.

Determinism (what makes this oracle-checkable): the replay fixes the
arrival order arithmetically —

1. batch 0 = the ON-TIME file (``ts >= SPLIT``), whose stats advance
   the watermark to ``max(ts) - delay``;
2. batch 1 = an EMPTY spacer file. Spark filters late input with the
   watermark of the PREVIOUS batch and evicts with the current one
   (SPARK-24634's dual values — verified empirically on this build:
   without the spacer the late batch is filtered with the initial
   zero watermark and nothing drops); the spacer batch is where the
   batch-0 watermark takes effect;
3. batch 2 = the LATE file (``ts < SPLIT``): day windows whose END is
   older than the in-force watermark are dropped
   (``numRowsDroppedByWatermark`` counts them), newer late days enter
   state;
4. batch 3 = one sentinel flush row at ``max(ts) + delay + 10d``: its
   stats push the final watermark past every real window, so the
   trailing no-data batch evicts + emits them all. The sentinel's own
   window ends ABOVE the final watermark and is never emitted — and
   the audit's LEFT join from the batch ground truth would ignore it
   regardless. (The sentinel must NOT be pre-filtered on a pushable
   predicate: parquet footer stats would prune the whole file at the
   scan and the watermark would never advance — the bug the first
   version of this harness had.)

Both the dropped set and the surviving counts are then pure arithmetic
over (SPLIT, delay, max(ts)) that a DuckDB oracle replays exactly:
a late row of day ``d`` survives iff ``epoch_ms(d + 1 day) >
epoch_us(max_ts) DIV 1000 - delay_ms`` (Spark tracks event time in
millis; the drop predicate is on the WINDOW END, verified by the
day-at-the-boundary case). The calendar split keeps no boundary
collision possible — the watermark inherits max(ts)'s time-of-day,
never midnight.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import prep_session
from .util import (
    bump_new_files_mtime,
    run_to_memory,
    shuffle_partitions,
    snapshot_parquet_files,
    staged_custom,
    state_partitions,
)
from .weekly import EVENTS_SCHEMA

#: calendar split: events at/after this land first (on-time), earlier
#: events arrive one batch LATE. Events span 2024-01-01..01-30 at every
#: corpus, so both sides are non-empty at any SF.
SPLIT = "2024-01-20"

#: watermark delay — two weeks: late days 16..19 survive (window end
#: newer than max_ts - 14d), days 1..15 are dropped.
DELAY = "14 days"


def daily_counts_stream(
    spark: SparkSession, source_dir: str
) -> DataFrame:
    """readStream -> watermark -> per-day windowed count, one file per
    micro-batch (the arrival-order contract the audit depends on). No
    row filter anywhere: a pushable predicate would let parquet footer
    stats prune the sentinel file at the scan (see module docstring);
    the sentinel's window instead stays un-emitted above the final
    watermark."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return (
        stream.withWatermark("ts", DELAY)
        .groupBy(F.window("ts", "1 day"))
        .agg(F.count(F.lit(1)).alias("n_streamed"))
        .select(
            F.col("window.start").cast("date").alias("day"), "n_streamed"
        )
    )


def _late_source_dir(spark: SparkSession, sf_dir: str) -> str:
    """The four-file arrival order of the module docstring, staged once
    per corpus."""
    from ..sources import read_table

    def build(src: str) -> None:
        events = read_table(spark, sf_dir, "events")
        on_time = events.filter(F.col("ts") >= F.lit(SPLIT))
        late = events.filter(F.col("ts") < F.lit(SPLIT))
        on_time.repartition(1).write.parquet(src)
        before = snapshot_parquet_files(src)
        # empty spacer: the batch where the on-time watermark takes effect
        on_time.limit(0).coalesce(1).write.mode("append").parquet(src)
        bump_new_files_mtime(src, before)
        before = snapshot_parquet_files(src)
        late.repartition(1).write.mode("append").parquet(src)
        bump_new_files_mtime(src, before)
        before = snapshot_parquet_files(src)
        _flush_row(spark, events).write.mode("append").parquet(src)
        bump_new_files_mtime(src, before)

    return staged_custom(spark, sf_dir, "events_late", build)


def _flush_row(spark: SparkSession, events: DataFrame) -> DataFrame:
    """The one-row sentinel at ``max(ts) + 24 days`` that pushes the final
    watermark past every real day window."""
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    return (
        spark.createDataFrame(
            [(-1, max_ts, -1, "flush", 0.0, "{}")], schema=EVENTS_SCHEMA
        )
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 24 DAYS"))
        .coalesce(1)
    )


def _audit(events: DataFrame, streamed: DataFrame) -> DataFrame:
    """Left-join the streamed per-day counts onto the batch ground truth:
    (day, n_total, n_streamed, n_dropped_late) for every event day, with
    fully dropped days at n_streamed = 0."""
    truth = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_total")
    )
    n_streamed = F.coalesce(F.col("n_streamed"), F.lit(0))
    return truth.join(streamed, "day", "left_outer").select(
        "day",
        F.col("n_total").cast("long").alias("n_total"),
        n_streamed.cast("long").alias("n_streamed"),
        (F.col("n_total") - n_streamed).cast("long").alias("n_dropped_late"),
    )


def run_late_data_audit_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered query: replay the staged arrival order, then
    join the stream's emitted per-day counts against the batch ground
    truth and emit the audit — (day, n_total, n_streamed,
    n_dropped_late) for every event day. Fully-dropped days appear with
    n_streamed = 0 (the left join from the batch side is the point:
    silence is what the audit exists to surface). The arrival order is
    arithmetic (calendar split + mtime-ordered files), so the whole
    audit is oracle-exact."""
    from ..sources import read_table

    prep_session(spark)
    events = read_table(spark, sf_dir, "events")
    src = _late_source_dir(spark, sf_dir)
    streamed = run_to_memory(
        spark,
        daily_counts_stream(spark, src),
        output_mode="append",
        partitions=state_partitions(spark, src),
    )
    return _audit(events, streamed)


#: second calendar split for the INCREMENTAL audit: the late rows are
#: delivered as two tranches (days 10..19 in the first stream run, days
#: 1..9 appended before the RESTART run), so the second tranche is
#: filtered against the watermark RESTORED from the checkpoint.
INC_SPLIT = "2024-01-10"


def _inc_stage_dir(spark: SparkSession, sf_dir: str) -> str:
    """The five arrival tranches as separate parquet dirs (a pure
    function of the immutable corpus, staged once per corpus): on-time,
    spacer, late tranche A (days >= INC_SPLIT), late tranche B, flush
    sentinel. Each call of the audit hard-copies them into a fresh
    source dir in two phases, so the run-1/append/run-2 shape is
    reproduced per call without re-running the Spark writes."""
    from ..sources import read_table

    def build(base: str) -> None:
        events = read_table(spark, sf_dir, "events")
        on_time = events.filter(F.col("ts") >= F.lit(SPLIT))
        on_time.repartition(1).write.parquet(f"{base}/t0")
        on_time.limit(0).coalesce(1).write.parquet(f"{base}/t1")
        events.filter(
            (F.col("ts") < F.lit(SPLIT)) & (F.col("ts") >= F.lit(INC_SPLIT))
        ).repartition(1).write.parquet(f"{base}/t2")
        events.filter(F.col("ts") < F.lit(INC_SPLIT)).repartition(
            1
        ).write.parquet(f"{base}/t3")
        _flush_row(spark, events).write.parquet(f"{base}/t4")

    return staged_custom(spark, sf_dir, "events_inc_tranches", build)


def _copy_tranches(stage: str, src: str, tranches, start_seq: int) -> None:
    """Copy each tranche's parquet part files into the stream source
    with strictly increasing mtimes (the file source processes files in
    mtime order; equal mtimes are undefined — the EWMA lesson)."""
    import glob
    import shutil
    import time

    seq = start_seq
    now = time.time()
    for t in tranches:
        parts = sorted(glob.glob(f"{stage}/{t}/part-*.parquet"))
        assert parts, f"tranche {t} staged no part file"
        for p in parts:
            dst = os.path.join(src, f"{seq:03d}_{os.path.basename(p)}")
            shutil.copy(p, dst)
            os.utime(dst, (now + seq, now + seq))
            seq += 1


def run_incremental_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL late-data audit — the production shape of the late
    accounting (VERDICT r7 item 5): the stream runs to completion,
    NEW late files are appended to the same source, and a SECOND run
    restarts from the same checkpoint. Continuity is the semantics
    under test, and the oracle hash certifies it twice over:

    - WATERMARK restore: the appended tranche (days < INC_SPLIT) is
      filtered against the watermark persisted at run-1's last commit —
      a fresh (zero) watermark would let days 1..9 into state and the
      final counts would hash-mismatch;
    - STATE restore: the surviving run-1 late days (INC_SPLIT..SPLIT-1)
      sit in the state store ACROSS the restart and are emitted by the
      flush in run 2 — lost state would zero their streamed counts.

    The expected emission set is the SAME arithmetic as the one-run
    audit (every late day tests against max(ts) - delay), so the
    oracle SQL is reused verbatim — the incremental delivery must be
    indistinguishable from the single-run delivery, which is exactly
    the exactly-once promise being audited."""
    from ..sources import read_table

    prep_session(spark)
    events = read_table(spark, sf_dir, "events")
    stage = _inc_stage_dir(spark, sf_dir)
    # the memory sink cannot recover a checkpoint; the FILE sink is the
    # recoverable (and production) choice — run 2 appends to the same
    # output dir under the same checkpoint, and the sink's commit log
    # keeps the emitted set exactly-once across the restart. Source,
    # checkpoint and output live in one scratch dir, removed on return
    # once the output has been read into a local checkpoint.
    with tempfile.TemporaryDirectory(prefix="late_inc_") as scratch:
        src, ckpt, out = f"{scratch}/src", f"{scratch}/ckpt", f"{scratch}/out"
        os.mkdir(src)
        # sized on the staged tranches: the volume both runs together feed
        with shuffle_partitions(spark, state_partitions(spark, stage)):
            # run 1: on-time, spacer, late tranche A
            _copy_tranches(stage, src, ("t0", "t1", "t2"), 0)
            for run in range(2):
                q = (
                    daily_counts_stream(spark, src)
                    .writeStream.format("parquet")
                    .outputMode("append")
                    .option("path", out)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                if run == 0:
                    # append the new tranche + flush, restart from the
                    # SAME checkpoint
                    _copy_tranches(stage, src, ("t3", "t4"), 100)
        streamed = (
            spark.read.schema("day date, n_streamed long")
            .parquet(out)
            .localCheckpoint(eager=True)
        )
    return _audit(events, streamed)


#: mid-DAY split for the update-mode replay: day 2024-01-20 straddles
#: the two batches, so its group is emitted twice with different counts
#: — the delta semantics under test.
UPDATE_SPLIT = "2024-01-20 12:00:00"


def _update_source_dir(spark: SparkSession, sf_dir: str) -> str:
    from ..sources import read_table

    def build(src: str) -> None:
        events = read_table(spark, sf_dir, "events")
        events.filter(F.col("ts") >= F.lit(UPDATE_SPLIT)).repartition(
            1
        ).write.parquet(src)
        before = snapshot_parquet_files(src)
        events.filter(F.col("ts") < F.lit(UPDATE_SPLIT)).repartition(
            1
        ).write.mode("append").parquet(src)
        bump_new_files_mtime(src, before)

    return staged_custom(spark, sf_dir, "events_update_split", build)


def run_update_mode_rollup_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode — the delta-emission semantics none of the
    other streaming entries covers (append emits finalized groups once,
    complete re-emits everything): each micro-batch emits ONLY the
    groups it changed, with their cumulative values. The two-batch
    replay splits the corpus mid-day, so the straddling day is emitted
    TWICE — once with its first-half count, once with the full count —
    and the emitted MULTISET is exactly predictable:

    - batch 0 (``ts >= UPDATE_SPLIT``): its days, partial count for the
      straddling day, full for later days;
    - batch 1 (``ts < UPDATE_SPLIT``): every day it touches re-emits
      with the now-cumulative (= final) count.

    This is what an upsert sink (foreachBatch MERGE) consumes in
    production; the audit shape here returns every emitted version so
    the oracle checks the delta stream itself, not just the final
    state. No watermark: unbounded state is the documented price of
    update mode without one (state = |days|, bounded by the corpus
    span here)."""
    prep_session(spark)
    src = _update_source_dir(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    counts = (
        stream.groupBy(F.window("ts", "1 day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").cast("date").alias("day"), "n_events"
        )
    )
    return run_to_memory(
        spark,
        counts,
        output_mode="update",
        partitions=state_partitions(spark, src),
    ).select("day", F.col("n_events").cast("long").alias("n_events"))
