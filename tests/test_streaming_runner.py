"""The availableNow runner and the staged sources behind every streaming
harness: a failed micro-batch leaves no live query, sink view, changed
conf or scratch directory; the partition window reaches the checkpoint;
every harness removes its scratch directory before it returns; the tick
feed delivers every page under availableNow; a torn staged build is
never published; concurrent callers of the store's entry points neither
collide nor serialize on unrelated keys."""

from __future__ import annotations

import glob
import json
import os
import sys
import tempfile
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from data_engineer_interview_task_spark.plans import artifacts
from data_engineer_interview_task_spark.sources.pydatasource import (
    register_tick_stream_source,
    run_tick_stream_rollup_once,
)
from data_engineer_interview_task_spark.streaming import util
from data_engineer_interview_task_spark.streaming.util import (
    run_to_memory,
    staged_custom,
)
from tests.conftest import SF_DIR

SHUFFLE = "spark.sql.shuffle.partitions"


def _ckpt_shuffle_partitions(ckpt: str) -> str:
    """The shuffle-partition count a query's first batch recorded in its
    offset log (line 0 is the version, line 1 the batch metadata)."""
    with open(f"{ckpt}/offsets/0") as f:
        meta = json.loads(f.read().splitlines()[1])
    return meta["conf"][SHUFFLE]


@pytest.fixture
def scratch(tmp_path, monkeypatch):
    """A test-private ``tempfile`` root, plus the checkpoints each
    ``TemporaryDirectory`` closed during the test held just before it
    was removed: a list of ``{checkpoint name: recorded shuffle
    partitions}``, one dict per closed directory."""
    artifacts.tmp_root()  # the store's process root is not per-test scratch
    root = tmp_path / "scratch"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    closed: list[dict[str, str]] = []

    class Recording(tempfile.TemporaryDirectory):
        def cleanup(self):
            closed.append(
                {
                    os.path.basename(c): _ckpt_shuffle_partitions(c)
                    for c in glob.glob(f"{self.name}/ckpt*")
                }
            )
            super().cleanup()

    monkeypatch.setattr(tempfile, "TemporaryDirectory", Recording)
    return root, closed


def _id_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(6).write.parquet(src)
    return spark.readStream.schema("id long").parquet(src)


def test_run_to_memory_runs_inside_partition_window(spark, tmp_path, scratch):
    root, closed = scratch
    prior = spark.conf.get(SHUFFLE)
    tables = {t.name for t in spark.catalog.listTables()}
    counts = _id_stream(spark, tmp_path).groupBy((F.col("id") % 2).alias("k")).count()
    out = run_to_memory(spark, counts, output_mode="complete", partitions="3")
    assert os.listdir(root) == []
    assert sorted((r.k, r["count"]) for r in out.collect()) == [(0, 3), (1, 3)]
    (ckpts,) = closed
    assert list(ckpts.values()) == ["3"]
    assert spark.conf.get(SHUFFLE) == prior
    assert spark.streams.active == []
    assert {t.name for t in spark.catalog.listTables()} == tables


def _assert_failed_run_left_nothing(spark, root, closed, tables, prior):
    (ckpts,) = closed
    (ckpt,) = ckpts
    sink = ckpt[len("ckpt_"):]
    assert spark.streams.active == []
    names = {t.name for t in spark.catalog.listTables()}
    assert sink not in names and names == tables
    assert spark.conf.get(SHUFFLE) == prior
    assert os.listdir(root) == []


def test_run_to_memory_failure_leaves_nothing_behind(spark, tmp_path, scratch):
    @F.udf("long")
    def boom(x):
        raise ValueError("injected batch failure")

    prior = spark.conf.get(SHUFFLE)
    tables = {t.name for t in spark.catalog.listTables()}
    frame = _id_stream(spark, tmp_path).select(boom("id").alias("v"))
    with pytest.raises(Exception, match="injected batch failure"):
        run_to_memory(spark, frame, output_mode="append", partitions="3")
    _assert_failed_run_left_nothing(spark, *scratch, tables, prior)


def test_tick_rollup_reads_every_page_under_available_now(spark):
    """One availableNow run over a 3-page tick feed aggregates all three
    pages: the reader hands over everything available in the single
    ``read`` that fixes the run's end offset."""
    register_tick_stream_source(spark)
    feed = spark.readStream.format("tick_stream").option("pages", "3").load()
    out = run_to_memory(
        spark, feed.groupBy("page").count(), output_mode="complete"
    )
    assert sorted((r.page, r["count"]) for r in out.collect()) == [
        (0, 32),
        (1, 32),
        (2, 32),
    ]


def test_tick_rollup_failure_leaves_nothing_behind(spark, scratch):
    """The tick rollup runs on the one runner, so a failing batch is
    cleaned up like any other: the failure is a state-store provider
    class that does not exist, set for this test only."""
    key = "spark.sql.streaming.stateStore.providerClass"
    provider = spark.conf.get(key)
    prior = spark.conf.get(SHUFFLE)
    tables = {t.name for t in spark.catalog.listTables()}
    spark.conf.set(key, "no.such.StateStoreProvider")
    try:
        with pytest.raises(Exception, match="no.such.StateStoreProvider"):
            run_tick_stream_rollup_once(spark)
    finally:
        spark.conf.set(key, provider)
    _assert_failed_run_left_nothing(spark, *scratch, tables, prior)


@pytest.mark.parametrize(
    "name",
    [
        "streaming_incremental_late_audit",
        "schema_evolution_read",
        "streaming_tick_restart_continuity",
    ],
)
def test_harness_removes_its_scratch_dir(spark, scratch, name):
    """Harnesses that read back files they wrote materialize the read
    before their scratch directory goes, so the returned frame still
    collects once nothing is left on disk."""
    root, _closed = scratch
    out = entry.queries()[name](spark, SF_DIR)
    assert os.listdir(root) == []
    assert out.count() > 0


def test_staged_custom_retry_after_torn_build_matches_clean_build(
    spark, tmp_path
):
    """A build that writes one residue file and then dies must leave
    nothing a retry could append to: the retried dHash feed holds exactly
    the rows of a clean build, no duplicates."""
    from data_engineer_interview_task_spark.streaming.images import (
        write_docs_feed,
    )

    calls: list[str] = []

    def build(path: str) -> None:
        calls.append(path)
        if len(calls) == 1:
            write_docs_feed(spark, SF_DIR, path, n_files=3, only_mods=(0,))
            raise RuntimeError("injected torn build")
        write_docs_feed(spark, SF_DIR, path, n_files=3)

    name = f"torn_feed_{os.getpid()}"
    with pytest.raises(RuntimeError, match="injected torn build"):
        staged_custom(spark, SF_DIR, name, build, input_table="documents")
    assert not os.path.exists(calls[0])
    path = staged_custom(spark, SF_DIR, name, build, input_table="documents")
    assert len(calls) == 2

    clean = str(tmp_path / "clean")
    write_docs_feed(spark, SF_DIR, clean, n_files=3)

    def rows(p):
        return sorted(map(tuple, spark.read.parquet(p).collect()))

    got = rows(path)
    assert got == rows(clean) and len(got) == len(set(got)) > 0


def _stage(spark, src, on_build):
    def build(path):
        on_build()
        os.makedirs(path)

    return staged_custom(spark, src, "lk", build)


def _materialize(spark, src, on_build):
    def build():
        on_build()
        return spark.range(1)

    df = artifacts.materialized(
        spark,
        ("lk", src),
        "lk_",
        build,
        inputs=(f"{src}/events.parquet",),
        base_dir=f"{src}_art",
    )
    return tuple(df.inputFiles())


@pytest.mark.parametrize(
    "memo", [_stage, _materialize], ids=["staged_custom", "materialized"]
)
def test_staged_custom_locks_per_key(spark, tmp_path, memo):
    """Same key: one build however many concurrent callers. Different
    keys: builds overlap — key A's build, started first, waits for key
    B's to start, which a single global lock would block. Holds for both
    entry points of the one store."""
    for d in ("a", "b"):
        os.makedirs(tmp_path / d)
        (tmp_path / d / "events.parquet").write_bytes(d.encode())
    a_started, b_started = threading.Event(), threading.Event()
    builds: list[str] = []

    def build_a():
        builds.append("a")
        a_started.set()
        assert b_started.wait(20), "key B's build never overlapped key A's"

    def build_b():
        builds.append("b")
        b_started.set()

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as ex:
            fa = ex.submit(memo, spark, str(tmp_path / "a"), build_a)
            assert a_started.wait(20)
            fbs = [
                ex.submit(memo, spark, str(tmp_path / "b"), build_b)
                for _ in range(7)
            ]
            pa = fa.result(timeout=60)
            pbs = {f.result(timeout=60) for f in fbs}
    finally:
        sys.setswitchinterval(switch)
    assert len(pbs) == 1 and pa not in pbs
    assert sorted(builds) == ["a", "b"]


def test_incremental_late_audit_sizes_partitions_from_staged_tranches(
    spark, monkeypatch, scratch
):
    from data_engineer_interview_task_spark.streaming.late import (
        run_incremental_late_audit,
    )

    root, closed = scratch
    monkeypatch.delenv(util.STATE_PARTITIONS_ENV, raising=False)
    monkeypatch.setattr(util, "STATE_TARGET_BYTES", 1)
    cores = spark.sparkContext.defaultParallelism
    assert cores > util.STATE_PARTITIONS_FLOOR
    assert run_incremental_late_audit(spark, SF_DIR).count() > 0
    (ckpts,) = closed
    assert list(ckpts.values()) == [str(cores)]


def test_dhash_stream_concurrent_callers_agree(spark):
    """Two threads maintaining the same feed share one checkpoint; the
    per-feed lock runs their stream passes one at a time."""
    from data_engineer_interview_task_spark.streaming.images import (
        run_dhash_index_maintenance_once,
    )

    def call(i):
        return sorted(
            map(
                tuple,
                run_dhash_index_maintenance_once(
                    spark, SF_DIR, n_files=2
                ).collect(),
            )
        )

    with ThreadPoolExecutor(2) as ex:
        a, b = ex.map(call, range(2))
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert a == b and len(a) == n_docs
    assert len({r[0] for r in a}) == n_docs
