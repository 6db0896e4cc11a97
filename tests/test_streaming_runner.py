"""The availableNow runner and the staging memo behind every streaming
harness: a failed micro-batch leaves no live query, sink view or changed
conf; the partition window reaches the checkpoint; a torn staged build is
never published; concurrent callers neither collide nor serialize on
unrelated keys."""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

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


def _id_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(6).write.parquet(src)
    return spark.readStream.schema("id long").parquet(src)


def test_run_to_memory_runs_inside_partition_window(spark, tmp_path):
    wd = str(tmp_path / "wd")
    prior = spark.conf.get(SHUFFLE)
    tables = {t.name for t in spark.catalog.listTables()}
    counts = _id_stream(spark, tmp_path).groupBy((F.col("id") % 2).alias("k")).count()
    out = run_to_memory(spark, counts, wd, output_mode="complete", partitions="3")
    assert sorted((r.k, r["count"]) for r in out.collect()) == [(0, 3), (1, 3)]
    (ckpt,) = glob.glob(f"{wd}/ckpt_*")
    assert _ckpt_shuffle_partitions(ckpt) == "3"
    assert spark.conf.get(SHUFFLE) == prior
    assert spark.streams.active == []
    assert {t.name for t in spark.catalog.listTables()} == tables


def test_run_to_memory_failure_leaves_nothing_behind(spark, tmp_path):
    @F.udf("long")
    def boom(x):
        raise ValueError("injected batch failure")

    wd = str(tmp_path / "wd")
    prior = spark.conf.get(SHUFFLE)
    tables = {t.name for t in spark.catalog.listTables()}
    frame = _id_stream(spark, tmp_path).select(boom("id").alias("v"))
    with pytest.raises(Exception, match="injected batch failure"):
        run_to_memory(spark, frame, wd, output_mode="append", partitions="3")
    (ckpt,) = glob.glob(f"{wd}/ckpt_*")
    sink = os.path.basename(ckpt)[len("ckpt_"):]
    assert spark.streams.active == []
    names = {t.name for t in spark.catalog.listTables()}
    assert sink not in names and names == tables
    assert spark.conf.get(SHUFFLE) == prior


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


def test_staged_custom_locks_per_key(spark, tmp_path):
    """Same key: one build however many concurrent callers. Different
    keys: builds overlap — key A's build, started first, waits for key
    B's to start, which a single global lock would block."""
    for d in ("a", "b"):
        os.makedirs(tmp_path / d)
        (tmp_path / d / "events.parquet").write_bytes(d.encode())
    a_started, b_started = threading.Event(), threading.Event()
    builds: list[str] = []

    def build_a(path):
        builds.append("a")
        a_started.set()
        assert b_started.wait(20), "key B's build never overlapped key A's"
        os.makedirs(path)

    def build_b(path):
        builds.append("b")
        b_started.set()
        os.makedirs(path)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as ex:
            fa = ex.submit(staged_custom, spark, str(tmp_path / "a"), "lk", build_a)
            assert a_started.wait(20)
            fbs = [
                ex.submit(staged_custom, spark, str(tmp_path / "b"), "lk", build_b)
                for _ in range(7)
            ]
            pa = fa.result(timeout=60)
            pbs = {f.result(timeout=60) for f in fbs}
    finally:
        sys.setswitchinterval(switch)
    assert len(pbs) == 1 and pa not in pbs
    assert sorted(builds) == ["a", "b"]


def test_incremental_late_audit_sizes_partitions_from_staged_tranches(
    spark, tmp_path, monkeypatch
):
    from data_engineer_interview_task_spark.streaming.late import (
        run_incremental_late_audit,
    )

    monkeypatch.delenv(util.STATE_PARTITIONS_ENV, raising=False)
    monkeypatch.setattr(util, "STATE_TARGET_BYTES", 1)
    cores = spark.sparkContext.defaultParallelism
    assert cores > util.STATE_PARTITIONS_FLOOR
    wd = str(tmp_path / "wd")
    assert run_incremental_late_audit(spark, SF_DIR, wd).count() > 0
    (ckpt,) = glob.glob(f"{wd}/ckpt_inc_*")
    assert _ckpt_shuffle_partitions(ckpt) == str(cores)


def test_dhash_stream_concurrent_callers_agree(spark, tmp_path):
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
                    spark, SF_DIR, str(tmp_path / f"wd{i}"), n_files=2
                ).collect(),
            )
        )

    with ThreadPoolExecutor(2) as ex:
        a, b = ex.map(call, range(2))
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert a == b and len(a) == n_docs
    assert len({r[0] for r in a}) == n_docs
