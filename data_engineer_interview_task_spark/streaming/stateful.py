"""Per-user state folded across micro-batches with ``applyInPandasWithState``.

Every fold in the package runs on one kernel, :func:`group_fold`, and is
wired into its stream by one helper, :func:`stateful_stream`. A fold is a
pure ``step(acc, *arrays) -> (acc, rows)``: ``acc`` is the user's state
tuple, the arrays are this micro-batch's columns for the user (sorted by
``(ts, event_id)`` when the fold is order-sensitive), and ``rows`` are the
tuples emitted after the key. The kernel owns the rest: the worker
bootstrap, the state read, the frame concat, the sort, the state write
and the emit. Four folds run on it: the running totals and the EWMA here,
and the two gap sessionizers in ``sessions.py``.

Running totals are the continuously-updated per-entity profile a feature
store serves (event count + exact decimal value total per user). Each
batch emits the user's updated totals; the LAST emission per user
therefore equals the batch ``groupBy(user)`` over all events, which is
what makes the harnessed query fully oracle-checkable even though arrival
order and batch boundaries are nondeterministic. ``value`` is accumulated
as integer CENTS (the testdata's values are exactly 2-decimal-quantized
doubles; each is ``Decimal(repr(v)).quantize(0.01, HALF_UP)`` — the same
shortest-string conversion Spark's double→DECIMAL(18,2) cast performs) so
the running total is exact integer arithmetic: partition-order
independent, batch-split independent, engine independent.

State size: one small tuple per user — entity-bounded, not
stream-bounded; at 100 TB the state store shards by the grouping key
across executors (RocksDB-backed in production).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.vector import top_k
from ..plans import prep_session, prep_worker
from .util import run_to_memory, staged_events


def emitter(schema: StructType):
    """``emit(key, rows)``: the frame of ``key + row`` for each row under
    ``schema``'s column names, with timestamp columns given in integer
    microseconds converted to timestamps."""
    names = schema.fieldNames()
    stamps = [f.name for f in schema.fields if isinstance(f.dataType, TimestampType)]

    def emit(key, rows) -> pd.DataFrame:
        cols = dict(zip(names, map(list, zip(*(key + row for row in rows)))))
        for c in stamps:
            cols[c] = pd.to_datetime(cols[c], unit="us")
        return pd.DataFrame(cols)

    return emit


def group_fold(
    step, zero: tuple, schema: StructType, cols: tuple[str, ...], ordered: bool
):
    """The ``fn(key, pdfs, state)`` ``applyInPandasWithState`` calls for
    the pure fold ``step(acc, *arrays) -> (acc, rows)``. It reads the
    user's state (``zero`` when there is none), takes ``cols`` of this
    batch's rows as numpy arrays — sorted by one ``np.lexsort`` on
    ``(ts, event_id)`` when ``ordered`` — folds them, stores the new
    state and emits ``key + row`` for each row under ``schema`` (nothing
    when there are no rows)."""
    emit = emitter(schema)

    def fn(key, pdfs, state):
        prep_worker()
        acc = state.get if state.exists else zero
        frames = list(pdfs)
        frame = frames[0] if len(frames) == 1 else pd.concat(frames)
        arrays = [frame[c].to_numpy() for c in cols]
        if ordered:
            order = np.lexsort((frame["event_id"].to_numpy(), frame["ts"].to_numpy()))
            arrays = [a[order] for a in arrays]
        acc, rows = step(acc, *arrays)
        state.update(acc)
        if rows:
            yield emit(key, rows)

    return fn


def stateful_stream(
    frame: DataFrame,
    fold,
    schema: StructType,
    state_schema: StructType | str,
    timeout: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """``frame`` grouped by user and folded by ``fold`` (see
    :func:`group_fold`) in append mode, under the ``GroupStateTimeout``
    ``timeout``."""
    return frame.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=timeout,
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


def _running_step(acc, values):
    """Add the batch's event count and exact cents to (count, cents, seq)."""
    cnt, cents, seq = acc
    q = Decimal("0.01")
    # repr() gives the shortest round-trip string — the same conversion
    # Spark's BigDecimal.valueOf(double) applies before its HALF_UP
    # scale-2 rounding, so these cents match a CAST(value AS
    # DECIMAL(18,2)) bit-for-bit
    cents += sum(
        int(Decimal(repr(v)).quantize(q, ROUND_HALF_UP) * 100)
        for v in values.tolist()
    )
    acc = (cnt + len(values), cents, seq + 1)
    return acc, [acc]


_running_fold = group_fold(
    _running_step, (0, 0, 0), RUNNING_SCHEMA, ("value",), ordered=False
)


def running_user_stats_stream_gs(spark: SparkSession, source_dir: str) -> DataFrame:
    """readStream -> groupBy(user) -> the running-totals fold. Emits each
    user's running totals once per micro-batch the user appears in."""
    stream = spark.readStream.schema("user_id BIGINT, value DOUBLE").option(
        "maxFilesPerTrigger", 1
    ).parquet(source_dir)
    return stateful_stream(
        stream, _running_fold, RUNNING_SCHEMA, "cnt BIGINT, cents BIGINT, seq BIGINT"
    )


def _last_emission(emitted: DataFrame) -> DataFrame:
    """Each user's LAST emission (max batch_seq, unique per user) — for a
    monotone running fold, the final per-user answer."""
    return top_k(emitted, "user_id", [F.col("batch_seq").desc()], 1)


def run_running_user_stats_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow harness over the ``split`` staging of the events table
    (maxFilesPerTrigger=1 ⇒ at least two micro-batches, so cross-batch
    state persistence is actually exercised). The final answer per user
    is its LAST emission (max batch_seq) — running totals are monotone
    folds, so this equals the batch groupBy regardless of file order."""
    prep_session(spark)
    src = staged_events(spark, sf_dir, "split")
    emitted = run_to_memory(
        spark, running_user_stats_stream_gs(spark, src), output_mode="append"
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


def _ewma_step(acc, values):
    """Fold the batch's values, in (ts, event_id) order, into the
    (ewma, n, seq) state: alpha = 1/2, seeded by the first value."""
    ewma, n, seq = acc
    for v in values.tolist():
        ewma = v if n == 0 else (ewma + v) / 2.0
        n += 1
    return (ewma, n, seq + 1), [(n, ewma, seq + 1)]


_ewma_fold = group_fold(_ewma_step, (0.0, 0, 0), EWMA_SCHEMA, ("value",), ordered=True)


def user_ewma_stream_gs(spark: SparkSession, source_dir: str) -> DataFrame:
    """Per-user RUNNING EWMA (alpha = 1/2) — the ORDER-SENSITIVE stateful
    fold, one notch harder than the running totals above: a sum tolerates
    any arrival order, a recurrence does not. Two order guarantees make it
    exact anyway:

    - within a micro-batch the group's rows are sorted by (ts, event_id)
      before folding (``ts`` enters the stateful op as ``unix_micros``, a
      bigint in the same order);
    - across batches the harness feeds time-split files oldest-first
      (file-source default), so batch N's events all precede batch N+1's.

    With alpha = 1/2 every halving is an exact IEEE op and the addition
    sequence equals the batch ``F.aggregate`` fold's, so the LAST emission
    per user is bit-identical to ``relational.user_value_ewma`` — one
    oracle serves the batch operator, the streaming operator, and the
    DuckDB twin. State is (acc, n, seq) per user, entity-bounded."""
    stream = (
        spark.readStream.schema(
            "user_id BIGINT, event_id BIGINT, ts TIMESTAMP, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    keyed = stream.select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts"), "value"
    )
    return stateful_stream(
        keyed, _ewma_fold, EWMA_SCHEMA, "acc DOUBLE, n BIGINT, seq BIGINT"
    )


def run_user_ewma_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow harness: the events table split at a time cutoff into
    two files (maxFilesPerTrigger=1 ⇒ two micro-batches in time order —
    the cross-batch recurrence is genuinely exercised); the final answer
    per user is its LAST emission."""
    prep_session(spark)
    src = staged_events(spark, sf_dir, "split")
    emitted = run_to_memory(
        spark, user_ewma_stream_gs(spark, src), output_mode="append"
    )
    return _last_emission(emitted).select("user_id", "n_events", "ewma_value")
