"""Per-user state folded across micro-batches on the one fold kernel
(``stateful.group_fold``): the registered harnesses against their batch
twins, the cross-batch state path, each fold driven directly over
simulated micro-batches against a pandas twin, and a source scan that
keeps the kernel the only fold body in the package."""
from __future__ import annotations

import ast
import pathlib

import numpy as np
import pandas as pd
from pandas.testing import assert_frame_equal
from pyspark.sql import functions as F

import data_engineer_interview_task_spark
from data_engineer_interview_task_spark.sources import read_table
from data_engineer_interview_task_spark.streaming import run_running_user_stats_once


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
    """The slice of ``GroupState`` the folds use, over dicts: ``store``
    maps a key to its state tuple and ``timeouts`` to its event-time
    timeout in ms; ``timed_out`` marks a call made because the key's
    timeout fired."""

    def __init__(self, store: dict, key, timeouts=None, timed_out=False):
        self._store, self._key = store, key
        self._timeouts = {} if timeouts is None else timeouts
        self._timed_out = timed_out

    @property
    def exists(self) -> bool:
        return self._key in self._store

    @property
    def get(self) -> tuple:
        return self._store[self._key]

    @property
    def hasTimedOut(self) -> bool:
        return self._timed_out

    def update(self, value) -> None:
        self._store[self._key] = tuple(value)

    def remove(self) -> None:
        del self._store[self._key]
        self._timeouts.pop(self._key, None)

    def setTimeoutTimestamp(self, ms: int) -> None:
        self._timeouts[self._key] = ms


def _frames(group: pd.DataFrame, parts: int = 3) -> list[pd.DataFrame]:
    """``group`` cut into ``parts`` consecutive frames, as a micro-batch's
    Arrow batches deliver one user's rows."""
    cuts = np.linspace(0, len(group), parts + 1).astype(int)
    return [group.iloc[a:b] for a, b in zip(cuts[:-1], cuts[1:])]


def _drive(fold, batches: list[pd.DataFrame]) -> dict:
    """Run ``fold`` over ``batches`` as successive micro-batches with a
    dict-backed state; returns each user's emitted frames in order."""
    store: dict = {}
    emitted: dict = {}
    for batch in batches:
        for uid, group in batch.groupby("user_id"):
            for out in fold((uid,), iter(_frames(group)), _DictState(store, uid)):
                emitted.setdefault(uid, []).append(out)
    return emitted


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


def test_running_fold_matches_pandas_totals():
    """The running-totals fold driven directly over two time-split
    micro-batches (each shuffled, each user's rows in three frames):
    each user's last emission equals pandas' count and integer-cents sum
    over all of the user's events, and ``batch_seq`` counts the batches
    the user appeared in."""
    from data_engineer_interview_task_spark.streaming.stateful import _running_fold

    rng = np.random.default_rng(7)
    n = 600
    cents = rng.integers(0, 100_000, n)
    events = pd.DataFrame(
        {
            "user_id": rng.integers(0, 15, n),
            "ts": rng.integers(0, 40, n) * 60_000_000,
            "value": cents / 100.0,
            "cents": cents,
        }
    )
    cutoff = 25 * 60_000_000
    batches = [
        part.sample(frac=1.0, random_state=i).reset_index(drop=True)
        for i, part in enumerate(
            (events[events.ts < cutoff], events[events.ts >= cutoff])
        )
    ]
    emitted = _drive(_running_fold, batches)
    got = (
        pd.concat(frames[-1] for frames in emitted.values())
        .sort_values("user_id")
        .reset_index(drop=True)
    )

    by_user = events.groupby("user_id")
    seen = pd.concat(b[["user_id"]].drop_duplicates() for b in batches)
    want = pd.DataFrame(
        {
            "user_id": by_user.size().index.astype("int64"),
            "n_events": by_user.size().to_numpy().astype("int64"),
            "total_cents": by_user["cents"].sum().to_numpy().astype("int64"),
            "batch_seq": seen.groupby("user_id").size().to_numpy().astype("int64"),
        }
    )
    assert (want["batch_seq"] == 2).all() and len(got) == 15
    assert_frame_equal(got, want, check_exact=True)


def test_group_fold_is_the_only_fold_body():
    """The package has one grouped-state fold body: ``applyInPandasWithState(``
    is called from one function (``stateful.stateful_stream``), state is
    written only in ``stateful.group_fold``, and no ``StatefulProcessor``
    twin is left."""
    root = pathlib.Path(data_engineer_interview_task_spark.__file__).parent
    found: dict[str, list[str]] = {"applyInPandasWithState(": [], "state.update(": []}
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        assert "StatefulProcessor" not in src, path
        owners = {
            node.name: ast.get_source_segment(src, node)
            for node in ast.parse(src).body
            if isinstance(node, ast.FunctionDef)
        }
        for needle, where in found.items():
            in_functions = 0
            for name, body in owners.items():
                if needle in body:
                    where.append(f"{path.relative_to(root)}::{name}")
                    in_functions += body.count(needle)
            assert src.count(needle) == in_functions, (path, needle)
    assert found == {
        "applyInPandasWithState(": ["streaming/stateful.py::stateful_stream"],
        "state.update(": ["streaming/stateful.py::group_fold"],
    }
