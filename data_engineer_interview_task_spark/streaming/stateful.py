"""Per-user RUNNING aggregate maintained across micro-batches — the
continuously-updated per-entity profile a feature store serves (event
count + exact decimal value total per user). Each batch emits the user's
updated running totals; the LAST emission per user therefore equals the
batch ``groupBy(user)`` over all events, which is what makes the
harnessed query fully oracle-checkable even though arrival order and
batch boundaries are nondeterministic.

Two implementations of the same fold:

- ``running_user_stats_stream`` — ``transformWithStateInPandas``
  (Spark 4.x successor API: typed named state handles, TTL, timers).
  Its Python state client requires the ``protobuf`` package
  (``pyspark/sql/streaming/stateful_processor_api_client.py`` imports
  ``StateMessage_pb2``), which is NOT in this container — so this is a
  documented forward-compat seam, contract-tested only where protobuf
  exists (tests skip otherwise), exactly like the multimodal codecs.
- ``running_user_stats_stream_gs`` — ``applyInPandasWithState``, the
  GroupState API that runs everywhere today; the REGISTERED query
  (`streaming_running_user_stats`) uses this one.

Determinism note: ``value`` is accumulated as integer CENTS (the
testdata's values are exactly 2-decimal-quantized doubles; each is
``Decimal(repr(v)).quantize(0.01, HALF_UP)`` — the same shortest-string
conversion Spark's double→DECIMAL(18,2) cast performs) so the running
total is exact integer arithmetic: partition-order independent, batch-
split independent, engine independent.

State size: one (count, cents, seq) triple per user — entity-bounded,
not stream-bounded; at 100 TB the state store shards by the grouping
key across executors (RocksDB-backed in production).
"""

from __future__ import annotations

from collections.abc import Iterator
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..plans import prep_session
from .util import (
    bump_new_files_mtime,
    run_to_memory,
    snapshot_parquet_files,
    staged_custom,
)

#: emitted per (user, batch): running totals + the batch sequence number
RUNNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_cents", LongType()),
        StructField("batch_seq", LongType()),
    ]
)


class RunningUserStats(StatefulProcessor):
    """Value-state processor: fold each batch's rows for the key into the
    running (count, cents, seq) triple and emit the updated totals."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState(
            "running", "cnt BIGINT, cents BIGINT, seq BIGINT"
        )

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        cnt, cents, seq = (
            tuple(self._state.get()) if self._state.exists() else (0, 0, 0)
        )
        q = Decimal("0.01")
        for pdf in rows:
            cnt += len(pdf)
            # repr() gives the shortest round-trip string — the same
            # conversion Spark's BigDecimal.valueOf(double) applies before
            # its HALF_UP scale-2 rounding, so these cents match a
            # CAST(value AS DECIMAL(18,2)) bit-for-bit
            cents += sum(
                int(Decimal(repr(v)).quantize(q, ROUND_HALF_UP) * 100)
                for v in pdf["value"]
            )
        seq += 1
        self._state.update((cnt, cents, seq))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [cnt],
                "total_cents": [cents],
                "batch_seq": [seq],
            }
        )

    def close(self) -> None:
        pass


def running_user_stats_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """readStream -> groupBy(user) -> transformWithStateInPandas. Emits
    each user's running totals once per micro-batch the user appears in.
    Source files carry only the two columns the fold needs — column
    pruning applied at WRITE time (the ingest job's projection)."""
    stream = spark.readStream.schema("user_id BIGINT, value DOUBLE").option(
        "maxFilesPerTrigger", 1
    ).parquet(source_dir)
    return (
        stream.groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningUserStats(),
            outputStructType=RUNNING_SCHEMA,
            outputMode="Append",
            timeMode="None",
        )
    )


def transform_with_state_available() -> bool:
    """True iff the transformWithStateInPandas Python client can run here
    (its state-server protocol needs google.protobuf)."""
    try:
        import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401

        return True
    except ImportError:
        return False


def running_user_stats_stream_gs(spark: SparkSession, source_dir: str) -> DataFrame:
    """The same running fold on ``applyInPandasWithState`` (GroupState) —
    the arbitrary-stateful API available everywhere today."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = spark.readStream.schema("user_id BIGINT, value DOUBLE").option(
        "maxFilesPerTrigger", 1
    ).parquet(source_dir)

    def fold(key, pdfs, state):
        cnt, cents, seq = state.get if state.exists else (0, 0, 0)
        q = Decimal("0.01")
        for pdf in pdfs:
            cnt += len(pdf)
            cents += sum(
                int(Decimal(repr(v)).quantize(q, ROUND_HALF_UP) * 100)
                for v in pdf["value"]
            )
        seq += 1
        state.update((cnt, cents, seq))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [cnt],
                "total_cents": [cents],
                "batch_seq": [seq],
            }
        )

    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            fold,
            outputStructType=RUNNING_SCHEMA,
            stateStructType="cnt BIGINT, cents BIGINT, seq BIGINT",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _staged_time_split(
    spark: SparkSession, sf_dir: str, name: str, cols: tuple[str, ...]
) -> str:
    """The events table's ``cols`` staged as TWO files split at a time
    cutoff, the later split strictly newer. With maxFilesPerTrigger=1 the
    folds see two micro-batches in time order, so cross-batch state is
    actually exercised. FileStreamSource orders files by modification
    time, and two back-to-back writes can land with equal mtimes, so the
    second split is mtime-bumped: the order-sensitive EWMA recurrence
    depends on it."""
    from ..sources import read_table

    def build(path: str) -> None:
        events = read_table(spark, sf_dir, "events")
        cutoff = F.lit("2024-01-15").cast("timestamp")
        events.filter(F.col("ts") < cutoff).select(*cols).coalesce(1).write.parquet(
            path
        )
        before = snapshot_parquet_files(path)
        events.filter(F.col("ts") >= cutoff).select(*cols).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        bump_new_files_mtime(path, before)

    return staged_custom(spark, sf_dir, name, build)


def _last_emission(emitted: DataFrame) -> DataFrame:
    """Each user's LAST emission (max batch_seq) — for a monotone running
    fold, the final per-user answer."""
    w = Window.partitionBy("user_id").orderBy(F.col("batch_seq").desc())
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


FINAL_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def run_running_user_stats_once(
    spark: SparkSession,
    sf_dir: str,
    use_transform_with_state: bool = False,
) -> DataFrame:
    """availableNow harness over a TWO-file split of the events table
    (maxFilesPerTrigger=1 ⇒ at least two micro-batches, so cross-batch
    state persistence is actually exercised). The final answer per user
    is its LAST emission (max batch_seq) — running totals are monotone
    folds, so this equals the batch groupBy regardless of file order."""
    prep_session(spark)
    src = _staged_time_split(
        spark, sf_dir, "events_split_running", ("user_id", "value")
    )
    stream_fn = (
        running_user_stats_stream
        if use_transform_with_state
        else running_user_stats_stream_gs
    )
    emitted = run_to_memory(
        spark, stream_fn(spark, src), output_mode="append"
    )
    return _last_emission(emitted).select(
        "user_id",
        "n_events",
        (F.col("total_cents").cast("double") / 100.0).alias("total_value"),
    )


EWMA_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("ewma_value", DoubleType()),
        StructField("batch_seq", LongType()),
    ]
)


def user_ewma_stream_gs(spark: SparkSession, source_dir: str) -> DataFrame:
    """Per-user RUNNING EWMA (alpha = 1/2) on ``applyInPandasWithState`` —
    the ORDER-SENSITIVE stateful fold, one notch harder than the running
    totals above: a sum tolerates any arrival order, a recurrence does
    not. Two order guarantees make it exact anyway:

    - within a micro-batch the group's rows are sorted by (ts, event_id)
      before folding;
    - across batches the harness feeds time-split files oldest-first
      (file-source default), so batch N's events all precede batch N+1's.

    With alpha = 1/2 every halving is an exact IEEE op and the addition
    sequence equals the batch ``F.aggregate`` fold's, so the LAST emission
    per user is bit-identical to ``relational.user_value_ewma`` — one
    oracle serves the batch operator, the streaming operator, and the
    DuckDB twin. State is (acc, n, seq) per user, entity-bounded."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = (
        spark.readStream.schema(
            "user_id BIGINT, event_id BIGINT, ts TIMESTAMP, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )

    def fold(key, pdfs, state):
        acc, n, seq = state.get if state.exists else (0.0, 0, 0)
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for v in rows["value"]:
            acc = float(v) if n == 0 else (acc + float(v)) / 2.0
            n += 1
        seq += 1
        state.update((acc, n, seq))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "ewma_value": [acc],
                "batch_seq": [seq],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=EWMA_SCHEMA,
        stateStructType="acc DOUBLE, n BIGINT, seq BIGINT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_user_ewma_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow harness: the events table split at a time cutoff into
    two files (maxFilesPerTrigger=1 ⇒ two micro-batches in time order —
    the cross-batch recurrence is genuinely exercised); the final answer
    per user is its LAST emission."""
    prep_session(spark)
    src = _staged_time_split(
        spark, sf_dir, "events_split_ewma", ("user_id", "event_id", "ts", "value")
    )
    emitted = run_to_memory(
        spark, user_ewma_stream_gs(spark, src), output_mode="append"
    )
    return _last_emission(emitted).select("user_id", "n_events", "ewma_value")
