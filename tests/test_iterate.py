"""The iteration driver (plans/iterate.py) on constructed graphs.

The test corpora cannot show these cases: their co-purchase graphs are
complete, so labels and BFS hops are stable after round 1 and the
near-dup components change labels in their first iteration only. Here the
graph is a symmetric path 1-2-...-8 (diameter 7) plus a separate 2-node
component {20, 21}.
"""
from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

from data_engineer_interview_task_spark.operators import graph
from data_engineer_interview_task_spark.plans import iterate

PATH = list(range(1, 9))
PAIR = [20, 21]


@pytest.fixture(scope="module")
def edges(spark):
    und = list(zip(PATH, PATH[1:])) + [tuple(PAIR)]
    return spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )


@pytest.fixture(scope="module")
def own_labels(spark):
    return spark.createDataFrame(
        [(v, v) for v in PATH + PAIR], "node long, label long"
    )


def _rows(df: DataFrame, value: str) -> dict:
    return {r["node"]: r[value] for r in df.collect()}


def _counting(step):
    calls = []

    def wrapped(state):
        calls.append(1)
        return step(state)

    return wrapped, calls


@pytest.mark.parametrize("k", [1, 2, 3])
def test_min_step_hop0_is_min_id_within_k_hops(edges, own_labels, k):
    *_, labels = iterate.rounds(own_labels, iterate.min_step(edges, "label"), k)
    want = {v: max(1, v - k) for v in PATH} | {v: 20 for v in PAIR}
    assert _rows(labels, "label") == want


@pytest.mark.parametrize("k", [1, 2, 3])
def test_min_step_hop1_is_bfs_from_seed(spark, edges, k):
    seed = spark.createDataFrame([(1, 0)], "node long, hop long")
    *_, dist = iterate.rounds(seed, iterate.min_step(edges, "hop", hop=1), k)
    # hop = id - 1 up to 1 + k hops out; everything else stays absent
    assert _rows(dist, "hop") == {v: v - 1 for v in PATH if v <= 1 + k}


def test_stable_on_runs_diameter_plus_one_rounds(edges, own_labels):
    step, calls = _counting(iterate.min_step(edges, "label", broadcast=False))
    *_, labels = iterate.rounds(own_labels, step, 20, stable_on="label")
    assert len(calls) == len(PATH) - 1 + 1
    assert _rows(labels, "label") == {v: 1 for v in PATH} | {v: 20 for v in PAIR}


def test_fixed_rounds_run_exactly_n_steps(edges, own_labels):
    step, calls = _counting(iterate.min_step(edges, "label"))
    states = list(iterate.rounds(own_labels, step, 12))
    assert len(calls) == 12 and len(states) == 13


@pytest.mark.parametrize("stable_on", [None, "label"])
def test_zero_rounds_yield_the_cut_init(edges, own_labels, stable_on):
    step, calls = _counting(iterate.min_step(edges, "label"))
    states = list(iterate.rounds(own_labels, step, 0, stable_on=stable_on))
    assert calls == [] and len(states) == 1
    assert _rows(states[0], "label") == _rows(own_labels, "label")
    # cut: the plan scans checkpointed blocks, not the local relation
    plan = states[0]._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan and "LocalRelation" not in plan


@pytest.mark.parametrize(
    "fn, nth",
    [
        # nth localCheckpoint call: round 1, after the round-0 cut of the
        # init state, inside the block that pins the edge frame
        ("supplier_pagerank", 2),
        ("supplier_bfs_hops", 2),
        ("supplier_label_propagation", 2),
        # the tail cut taken while the oriented edges are pinned
        ("supplier_triangles", 1),
    ],
)
def test_failed_round_leaves_no_cached_frame(spark, sf_dir, monkeypatch, fn, nth):
    spark.catalog.clearCache()
    cls = type(spark.range(1))  # the session's concrete DataFrame class
    real = cls.localCheckpoint
    calls = []

    def failing(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == nth:
            raise RuntimeError("injected round failure")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", failing)
    with pytest.raises(RuntimeError, match="injected round failure"):
        getattr(graph, fn)(spark, sf_dir)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
