"""The one availableNow runner behind every streaming harness, plus the
staged sources that feed it.

A ``run_*_once`` harness builds its streaming frame and hands it to
:func:`run_to_memory`, which owns the whole query lifecycle: sink name,
the checkpoint (in a temporary directory that lives only for the run),
the availableNow trigger, the wait, the optional state-store partition
window (:func:`shuffle_partitions`), cleanup on failure, and the drain.
The drain matters in a shared session (correctness sweeps, bench.py,
check_oracle): a memory sink keeps its rows in a driver-held buffer
behind a temp view for the life of the session, and left alive those
buffers accumulate into GC pressure that inflates UNRELATED queries'
wall time (measured: streaming_session_window
3.6s in a fresh session vs 31s late in a 12-run session). A failing
micro-batch must leave nothing behind either: the runner stops the query
and drops the sink view before re-raising.

Harness inputs are staged copies of the corpus (:func:`staged_custom`),
built once per process per input fingerprint by the one materialization
store (``plans/artifacts.py``); every run replays the full micro-batch
pipeline from them against a fresh checkpoint.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.artifacts import materialized_dir, tmp_root

#: Env dial for the state-store partition count (production override).
STATE_PARTITIONS_ENV = "SPARK_GRAFT_STREAM_STATE_PARTITIONS"
#: Floor when the derived count is not overridden — KB-scale state needs
#: exactly enough partitions to not serialize the two-instance commit.
STATE_PARTITIONS_FLOOR = 2
#: Input bytes per state partition when deriving from source volume.
#: State for these harnesses (windowed aggregates, join buffers bounded
#: by the watermark horizon) is a bounded fraction of the input, so the
#: staged source size is the cheap, always-available proxy; 64 MiB per
#: partition keeps each store's snapshot small while never exceeding the
#: session's core count.
STATE_TARGET_BYTES = 64 * 1024 * 1024


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.stat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def state_partitions(spark: SparkSession, src: str | None = None) -> str:
    """State-store partition count for an availableNow harness reading
    ``src`` (guide §2: partitions sized to data/state volume, never to
    core count). Resolution order:

    1. ``$SPARK_GRAFT_STREAM_STATE_PARTITIONS`` — the deployment dial;
    2. derived: ``clamp(src_bytes / STATE_TARGET_BYTES,
       STATE_PARTITIONS_FLOOR, defaultParallelism)`` — every micro-batch
       pays a snapshot/commit per state-store INSTANCE regardless of row
       count (a stream-stream join keeps four instances per partition;
       measured at sf0.1: a 4-row batch cost 5.5-6.6s at 8 partitions),
       so KB-state harnesses want the floor, while GB-state deployments
       get one partition per ~64 MiB of input without ever exceeding
       the session's parallelism;
    3. no ``src`` (e.g. the paged python-datasource feed, whose state is
       a single offset row): the floor.

    Returned as ``str`` for ``spark.conf.set``."""
    env = os.environ.get(STATE_PARTITIONS_ENV)
    if env:
        return env
    n = STATE_PARTITIONS_FLOOR
    if src is not None and os.path.isdir(src):
        derived = _dir_bytes(src) // STATE_TARGET_BYTES
        cores = spark.sparkContext.defaultParallelism
        n = max(STATE_PARTITIONS_FLOOR, min(int(derived), cores))
    return str(n)


@contextmanager
def shuffle_partitions(spark: SparkSession, n: str):
    """Run the body with ``spark.sql.shuffle.partitions`` set to ``n``,
    restoring the prior value on exit. A new streaming query records the
    count in its checkpoint's first offset entry and keeps it for its
    whole life; the window stays open until the query has finished, so
    the count it records is ``n``."""
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    spark.conf.set(key, n)
    try:
        yield
    finally:
        spark.conf.set(key, prior)


def run_to_memory(
    spark: SparkSession,
    frame: DataFrame,
    *,
    output_mode: str,
    partitions: str | None = None,
) -> DataFrame:
    """Run the streaming ``frame`` to completion (availableNow) into a
    fresh memory sink and return the drained rows (see
    :func:`drain_memory_sink`). ``partitions``, when given, is the
    state-store partition count the query runs under
    (:func:`shuffle_partitions`). The checkpoint lives in a temporary
    directory that is removed once the drain has moved the rows out, or
    as soon as the query fails. If the query fails, it is stopped and
    its sink view dropped before the error propagates."""
    sink = f"mem_{uuid.uuid4().hex[:12]}"
    window = nullcontext() if partitions is None else shuffle_partitions(
        spark, partitions
    )
    with tempfile.TemporaryDirectory(prefix="stream_") as scratch:
        with window:
            q = None
            try:
                q = (
                    frame.writeStream.format("memory")
                    .queryName(sink)
                    .outputMode(output_mode)
                    .option("checkpointLocation", f"{scratch}/ckpt_{sink}")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
            except BaseException:
                if q is not None:
                    q.stop()
                spark.catalog.dropTempView(sink)
                raise
        return drain_memory_sink(spark, sink)


def drain_memory_sink(spark: SparkSession, sink: str) -> DataFrame:
    """Move a memory sink's rows out of the driver-held sink buffer and
    release the sink: eagerly materialize to a localCheckpoint (executor
    blocks, freed by the ContextCleaner when the returned frame is
    GC'd), then drop the sink's temp view so the buffer itself becomes
    collectable."""
    out = spark.table(sink).localCheckpoint(eager=True)
    spark.catalog.dropTempView(sink)
    return out


def snapshot_parquet_files(src: str) -> set[str]:
    """Names of the parquet part files currently in ``src`` — take before
    an append-write, pass to :func:`bump_new_files_mtime` after."""
    return {f for f in os.listdir(src) if f.endswith(".parquet")}


def bump_new_files_mtime(src: str, before: set[str]) -> None:
    """Force every parquet file NOT in ``before`` to a modification time
    strictly later than everything already in ``src``. FileStreamSource
    orders micro-batches by mtime; back-to-back writes can land with
    equal stamps, leaving the batch order — and any order-sensitive
    state semantics — undefined. An explicit bump replaces the old
    ``time.sleep(1.1)`` spacing (2.2s of pure wall per harness run)."""
    newest = max(
        os.path.getmtime(os.path.join(src, f)) for f in before
    )
    later = newest + 10.0
    for f in os.listdir(src):
        if f.endswith(".parquet") and f not in before:
            os.utime(os.path.join(src, f), (later, later))


def staged_custom(
    spark, sf_dir: str, name: str, build, input_table: str = "events"
) -> str:
    """Path of the staged harness source ``name``: ``build(path)`` writes
    it into a fresh (not yet existing) directory once per process per
    (sf_dir, name, ``input_table`` fingerprint); later calls reuse it. A
    regenerated corpus moves the fingerprint and re-stages instead of
    serving stale files. Built by ``plans.artifacts.materialized_dir`` in
    its process-private root (never ``$SPARK_GRAFT_ARTIFACT_DIR``), so a
    build that raises leaves nothing for a retry to append to."""
    return materialized_dir(
        ("staged", sf_dir, name),
        f"{name}_",
        build,
        inputs=(f"{sf_dir}/{input_table}.parquet",),
        base_dir=tmp_root(),
    )


def _build_plain(spark, sf_dir: str, path: str) -> None:
    from ..sources import read_table

    read_table(spark, sf_dir, "events").write.parquet(path)


def _build_flushed(spark, sf_dir: str, path: str) -> None:
    from ..sources import read_table
    from .weekly import EVENTS_SCHEMA

    events = read_table(spark, sf_dir, "events")
    events.repartition(1).write.parquet(path)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    before = snapshot_parquet_files(path)
    flush = spark.createDataFrame(
        [
            (-1, max_ts, -1, "click", 0.0, "{}"),
            (-2, max_ts, -1, "purchase", 0.0, "{}"),
        ],
        schema=EVENTS_SCHEMA,
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 DAYS"))
    flush.coalesce(1).write.mode("append").parquet(path)
    bump_new_files_mtime(path, before)


_EVENT_FLAVORS = {"plain": _build_plain, "flushed": _build_flushed}


def staged_events(spark: SparkSession, sf_dir: str, flavor: str = "plain") -> str:
    """Path of a staged copy of the ``events`` table for the streaming
    harnesses, built at most once per process per (sf_dir, flavor) via
    :func:`staged_custom`.

    Flavors (each a deterministic function of the testdata):

    - ``plain``: the events table as written by one overwrite — the
      input for the stateless / aggregate harnesses.
    - ``flushed``: ONE bulk file (repartition(1)) plus one strictly
      newer flush file holding a ``max(ts)+10d`` sentinel per join side
      — the outer-join / join-rollup completeness protocol (see
      ``joins._run_outer_join_once``); ``maxFilesPerTrigger=1`` then
      yields the bulk batch, the watermark-advancing flush batch, and
      the trailing no-data batch.
    """
    if flavor not in _EVENT_FLAVORS:
        raise ValueError(f"unknown staging flavor: {flavor}")
    build = _EVENT_FLAVORS[flavor]
    return staged_custom(
        spark, sf_dir, f"events_{flavor}", lambda path: build(spark, sf_dir, path)
    )
