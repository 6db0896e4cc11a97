"""The worker bootstrap (``plans.prep_worker``): every Python task starts
with ``importlib.invalidate_caches()``, which on CPython < 3.12 re-reads
the directory of every cached zip archive (``pyspark.zip`` 16 times).
After ``prep_worker`` an archive is re-read only when it changed on
disk, and the bootstrap survives from one task to the next in a reused
worker."""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

import pytest

from data_engineer_interview_task_spark.operators.multimodal import _schema, per_row
from data_engineer_interview_task_spark.plans import prep_worker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zipimport invalidation is lazy from 3.12; prep_worker is a no-op",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    tag = uuid.uuid4().hex[:8]
    mod_a, mod_b = f"zmod_a_{tag}", f"zmod_b_{tag}"
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {mod_a: "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(mod_a).X == 1
        importlib.invalidate_caches()  # what each task's setup runs first
        prep_worker()

        reads: list[str] = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        # a rewritten archive is re-read once, and its new module imports
        _write_zip(archive, {mod_a: "X = 1\n", mod_b: "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module(mod_b).Y == 2
        importlib.invalidate_caches()
        assert reads == [archive]
    finally:
        for name in (mod_a, mod_b):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_reused_worker_keeps_the_bootstrap(spark):
    """One-task ``per_row`` jobs in one session, until a worker that ran an
    earlier one is reused (the idle pool hands workers out in turn). That
    worker finds the SAME shim on the ``zipimporter`` class as when it
    first ran (not one reinstalled per task, as a marker kept in by-value
    globals would be), and its new task's own ``invalidate_caches``
    re-read no archive."""

    def _check(i):
        import os
        import zipimport as zi

        shim = id(zi.zipimporter.__dict__.get("invalidate_caches"))
        if not hasattr(zi, "_reads"):
            # first task in this worker: count archive re-reads from now on
            real = zi._read_directory

            def counting(path):
                zi._reads += 1
                return real(path)

            zi._read_directory = counting
            zi._armed_shim, zi._reads = shim, 0
            yield i, os.getpid(), 0, 1, 0
            return
        same, reads = int(zi._armed_shim == shim), zi._reads
        zi._reads = 0
        yield i, os.getpid(), 1, same, reads

    schema = _schema("i pid reused same_shim reads")
    one_task = spark.range(0, 1, 1, 1)
    reused = []
    for _ in range(64):
        (row,) = per_row(one_task, _check, schema, ("id",)).collect()
        if row.reused:
            reused.append(row)
            if len(reused) == 2:
                break
    assert reused, "no Python worker was reused in 64 one-task jobs"
    for r in reused:
        assert r.same_shim == 1 and r.reads == 0, r
