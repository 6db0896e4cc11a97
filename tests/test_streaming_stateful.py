"""Running per-user aggregate via arbitrary stateful streaming.

The GroupState implementation (`applyInPandasWithState`) is the
registered, everywhere-runnable form; transformWithStateInPandas is the
Spark 4.x successor API whose Python state client needs protobuf —
absent in this container, so its test skip-guards on availability (the
same honest-seam pattern as the multimodal codecs).
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pandas.testing import assert_frame_equal
from pyspark.sql import functions as F

from data_engineer_interview_task_spark.sources import read_table
from data_engineer_interview_task_spark.streaming import (
    run_running_user_stats_once,
    transform_with_state_available,
)


def _batch_reference(spark, sf_dir):
    return {
        r.user_id: (r.n, r.t)
        for r in read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("t"),
        )
        .collect()
    }


def test_running_stats_equals_batch_groupby(spark, sf_dir):
    out = run_running_user_stats_once(spark, sf_dir)
    got = {r.user_id: (r.n_events, r.total_value) for r in out.collect()}
    assert got == _batch_reference(spark, sf_dir)


def test_running_stats_state_is_exercised_across_batches(spark, sf_dir, tmp_path):
    """The harness must produce >= 2 micro-batches (otherwise the fold
    degenerates to a stateless groupBy and the cross-batch state path is
    untested): users active on both sides of the 2024-01-15 split emit
    twice, with monotone running counts."""
    import uuid as _uuid

    from data_engineer_interview_task_spark.plans import prep_session
    from data_engineer_interview_task_spark.streaming import (
        running_user_stats_stream_gs,
    )

    prep_session(spark)
    events = read_table(spark, sf_dir, "events").select("user_id", "value", "ts")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    assert events.filter(F.col("ts") < cutoff).count() > 0
    assert events.filter(F.col("ts") >= cutoff).count() > 0
    src = str(tmp_path / "src")
    events.filter(F.col("ts") < cutoff).drop("ts").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    events.filter(F.col("ts") >= cutoff).drop("ts").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    sink = f"mem_seq_{_uuid.uuid4().hex[:8]}"
    q = (
        running_user_stats_stream_gs(spark, src)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emissions = spark.table(sink).collect()
    assert max(r.batch_seq for r in emissions) == 2
    per_user = {}
    for r in emissions:
        per_user.setdefault(r.user_id, []).append((r.batch_seq, r.n_events))
    multi = [v for v in per_user.values() if len(v) == 2]
    assert multi, "some users must span both micro-batches"
    for v in multi:
        v.sort()
        assert v[0][1] < v[1][1]  # running count strictly grows


@pytest.mark.skipif(
    not transform_with_state_available(),
    reason="transformWithStateInPandas state client needs protobuf "
    "(pyspark.sql.streaming.proto), not present in this environment",
)
def test_transform_with_state_twin_equals_batch(spark, sf_dir):
    out = run_running_user_stats_once(
        spark, sf_dir, use_transform_with_state=True
    )
    got = {r.user_id: (r.n_events, r.total_value) for r in out.collect()}
    assert got == _batch_reference(spark, sf_dir)


def test_transform_with_state_seam_shape():
    """Even without protobuf, the TWS processor class must keep the
    documented shape so the swap is a flag flip when the dependency
    lands: a StatefulProcessor with the three lifecycle methods and the
    same output schema as the GroupState twin."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    from data_engineer_interview_task_spark.streaming.stateful import (
        RUNNING_SCHEMA,
        RunningUserStats,
    )

    assert issubclass(RunningUserStats, StatefulProcessor)
    for m in ("init", "handleInputRows", "close"):
        assert callable(getattr(RunningUserStats, m))
    assert [f.name for f in RUNNING_SCHEMA.fields] == [
        "user_id",
        "n_events",
        "total_cents",
        "batch_seq",
    ]


def test_streaming_ewma_equals_batch_fold_bitwise(spark, sf_dir):
    from data_engineer_interview_task_spark.operators import relational
    from data_engineer_interview_task_spark.streaming import run_user_ewma_once

    streamed = run_user_ewma_once(spark, sf_dir)
    got = {
        r["user_id"]: (r["n_events"], r["ewma_value"])
        for r in streamed.collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["ewma_value"])
        for r in relational.user_value_ewma(spark, sf_dir).collect()
    }
    # bit-identical: the recurrence folds in the same (ts, event_id)
    # order with the same IEEE ops, across the micro-batch boundary
    assert got == want and got


def test_streaming_ewma_crosses_batch_boundary(spark, sf_dir, tmp_path):
    """Every user active on both sides of the 2024-01-15 file split must
    emit twice (batch_seq reaches 2) — proving the recurrence actually
    resumed from state rather than restarting."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from data_engineer_interview_task_spark.sources import read_table
    from data_engineer_interview_task_spark.streaming.stateful import (
        user_ewma_stream_gs,
    )

    events = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    src = str(tmp_path / "ewma_src")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    early = events.filter(F.col("ts") < cutoff)
    late = events.filter(F.col("ts") >= cutoff)
    assert early.count() > 0 and late.count() > 0
    early.coalesce(1).write.mode("overwrite").parquet(src)
    late.coalesce(1).write.mode("append").parquet(src)
    sink = f"mem_ewma_t_{_uuid.uuid4().hex[:8]}"
    q = (
        user_ewma_stream_gs(spark, src)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(sink)
    both_sides = set(
        r["user_id"]
        for r in early.select("user_id").intersect(late.select("user_id")).collect()
    )
    two_emissions = {
        r["user_id"]
        for r in out.groupBy("user_id").count().filter("count = 2").collect()
    }
    assert both_sides and both_sides <= two_emissions


class _DictState:
    """The slice of ``GroupState`` a NoTimeout fold uses, over a dict."""

    def __init__(self, store: dict, key):
        self._store, self._key = store, key

    @property
    def exists(self) -> bool:
        return self._key in self._store

    @property
    def get(self) -> tuple:
        return self._store[self._key]

    def update(self, value) -> None:
        self._store[self._key] = tuple(value)


def _ewma_batches():
    """Two time-split batches of (user_id, event_id, ts, value) with ts
    as integer microseconds, as the fold receives them. Timestamps are
    drawn from 40 minutes, so ties are common, and each batch arrives
    shuffled: only the (ts, event_id) sort gives the recurrence order."""
    rng = np.random.default_rng(11)
    n = 600
    events = pd.DataFrame(
        {
            "user_id": rng.integers(0, 15, n),
            "event_id": rng.permutation(n).astype("int64"),
            "ts": rng.integers(0, 40, n) * 60_000_000,
            "value": rng.integers(0, 100_000, n) / 100.0,
        }
    )
    cutoff = 25 * 60_000_000
    return [
        part.sample(frac=1.0, random_state=i).reset_index(drop=True)
        for i, part in enumerate(
            (events[events.ts < cutoff], events[events.ts >= cutoff])
        )
    ]


def test_ewma_fold_matches_pandas_recurrence():
    """``_ewma_fold`` driven directly over two micro-batches with a
    dict-backed state: each user's last emission equals pandas'
    ``ewm(alpha=0.5, adjust=False)`` over the whole (ts, event_id)-sorted
    history, bit for bit. A batch's group arrives as several frames, as
    Arrow batches do."""
    from data_engineer_interview_task_spark.streaming.stateful import _ewma_fold

    batches = _ewma_batches()
    store: dict = {}
    last: dict = {}
    for batch in batches:
        for uid, group in batch.groupby("user_id"):
            frames = [group.iloc[: len(group) // 2], group.iloc[len(group) // 2 :]]
            for out in _ewma_fold((uid,), iter(frames), _DictState(store, uid)):
                last[uid] = out
    got = (
        pd.concat(last.values())[["user_id", "n_events", "ewma_value"]]
        .sort_values("user_id")
        .reset_index(drop=True)
    )

    ordered = pd.concat(batches).sort_values(["ts", "event_id"])
    by_user = ordered.groupby("user_id")["value"]
    want = pd.DataFrame(
        {
            "user_id": by_user.size().index.astype("int64"),
            "n_events": by_user.size().to_numpy().astype("int64"),
            "ewma_value": by_user.apply(
                lambda v: v.ewm(alpha=0.5, adjust=False).mean().iloc[-1]
            ).to_numpy(),
        }
    )
    assert (got["n_events"] > 1).all() and len(got) == 15
    assert_frame_equal(got, want, check_exact=True)
