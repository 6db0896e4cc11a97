"""Artifact-store lifecycle (VERDICT r5 item 7): input fingerprints in
the cache key (a mutated corpus can never be served a stale artifact),
the ``base_dir`` deployment hook, a failed build that leaves nothing
behind, and the persisted indexes built through the same store."""
from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_engineer_interview_task_spark.operators import dedup, similarity
from data_engineer_interview_task_spark.plans import artifacts


def _build_counter(spark, tag):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.createDataFrame([(1, tag)], "id long, tag string")

    return calls, build


def test_mutated_input_triggers_rebuild(spark, sf_dir):
    # a private mutable copy of one corpus table
    src = os.path.join(sf_dir, "documents.parquet")
    work = tempfile.mkdtemp(prefix="artifact-input-")
    copy = os.path.join(work, "documents.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, copy)
        mutate_target = os.path.join(
            copy, sorted(f for f in os.listdir(copy) if not f.startswith("."))[0]
        )
    else:
        shutil.copy(src, copy)
        mutate_target = copy

    calls, build = _build_counter(spark, "v1")
    key = ("test_fp_rebuild", work)
    df1 = artifacts.materialized(spark, key, "test_art_", build, inputs=(copy,))
    assert df1.count() == 1 and calls["n"] == 1
    # same key + unchanged input -> served from cache, no rebuild
    artifacts.materialized(spark, key, "test_art_", build, inputs=(copy,)).count()
    assert calls["n"] == 1
    # in-place mutation (append a byte -> size+mtime both move)
    with open(mutate_target, "ab") as f:
        f.write(b"\x00")
    artifacts.materialized(spark, key, "test_art_", build, inputs=(copy,)).count()
    assert calls["n"] == 2, "mutated input must invalidate the cached artifact"
    shutil.rmtree(work)


def test_restart_reuses_finished_artifact_and_prunes_superseded(spark):
    """ADVICE r6: deterministic hash-named dirs + completion marker mean
    a process restart (simulated by clearing the in-memory cache) scans
    the finished artifact instead of rebuilding, and a fingerprint
    change deletes the superseded dir after the replacement lands."""
    base = tempfile.mkdtemp(prefix="artifact-persist-")
    work = tempfile.mkdtemp(prefix="artifact-input-")
    inp = os.path.join(work, "in.bin")
    with open(inp, "wb") as f:
        f.write(b"v1")
    calls, build = _build_counter(spark, "persist")
    key = ("test_restart_reuse",)
    artifacts.materialized(
        spark, key, "test_art_", build, inputs=(inp,), base_dir=base
    ).count()
    assert calls["n"] == 1
    # simulated restart: in-memory cache gone, on-disk artifact remains
    artifacts._CACHE.clear()
    artifacts.materialized(
        spark, key, "test_art_", build, inputs=(inp,), base_dir=base
    ).count()
    assert calls["n"] == 1, "restart must reuse the finished artifact"
    assert len(os.listdir(base)) == 1
    # input mutation: rebuild; a FRESH superseded dir is RETAINED for the
    # prune grace window (ADVICE r7 — a concurrent process may still hold
    # it in its cache) ...
    with open(inp, "ab") as f:
        f.write(b"\x00")
    artifacts.materialized(
        spark, key, "test_art_", build, inputs=(inp,), base_dir=base
    ).count()
    assert calls["n"] == 2
    assert len(os.listdir(base)) == 2, (
        "fresh superseded artifact must survive the prune grace window"
    )
    # ... and is pruned once older than the grace window: backdate the
    # superseded dir, trigger one more fingerprint change
    import time as _time

    old = _time.time() - artifacts._PRUNE_GRACE_SEC - 60
    for d in os.listdir(base):
        os.utime(os.path.join(base, d), (old, old))
    with open(inp, "ab") as f:
        f.write(b"\x00")
    artifacts.materialized(
        spark, key, "test_art_", build, inputs=(inp,), base_dir=base
    ).count()
    assert calls["n"] == 3
    assert len(os.listdir(base)) == 1, (
        "superseded artifacts past the grace window must be pruned"
    )
    # torn write (marker missing) is rebuilt in place on next access
    artifacts._CACHE.clear()
    art = os.path.join(base, os.listdir(base)[0])
    os.remove(os.path.join(art, artifacts._MARKER))
    artifacts.materialized(
        spark, key, "test_art_", build, inputs=(inp,), base_dir=base
    ).count()
    assert calls["n"] == 4, "missing completion marker must force rebuild"
    shutil.rmtree(base)
    shutil.rmtree(work)


def test_base_dir_places_artifacts(spark):
    base = tempfile.mkdtemp(prefix="artifact-base-")
    calls, build = _build_counter(spark, "based")
    artifacts.materialized(
        spark, ("test_base_dir",), "test_art_", build, base_dir=base
    ).count()
    assert calls["n"] == 1
    subdirs = [d for d in os.listdir(base) if d.startswith("test_art_")]
    assert subdirs, "artifact must land under base_dir"
    shutil.rmtree(base)


def test_schema_sidecar_read_back_and_fallbacks(spark, tmp_path):
    """An unpartitioned build writes ``_SCHEMA.json`` and reads back
    through it; a partitioned build writes none; a directory without the
    sidecar (a root written before it existed) still reads by inference."""
    calls, build = _build_counter(spark, "sidecar")
    df = artifacts.materialized(
        spark, ("test_sidecar",), "test_sc_", build, base_dir=str(tmp_path)
    )
    (path,) = [str(p) for p in tmp_path.iterdir() if p.name.startswith("test_sc_")]
    assert os.path.exists(os.path.join(path, artifacts._SCHEMA))
    assert df.schema == spark.read.parquet(path).schema
    os.remove(os.path.join(path, artifacts._SCHEMA))
    again = artifacts.materialized(
        spark, ("test_sidecar",), "test_sc_", build, base_dir=str(tmp_path)
    )
    assert calls["n"] == 1 and sorted(again.collect()) == sorted(df.collect())
    artifacts.materialized(
        spark,
        ("test_sidecar_part",),
        "test_scp_",
        lambda: spark.createDataFrame([(1, "a")], "id long, tag string"),
        base_dir=str(tmp_path),
        partition_by=("tag",),
    )
    (part,) = [p for p in tmp_path.iterdir() if p.name.startswith("test_scp_")]
    assert not (part / artifacts._SCHEMA).exists()


#: One registry query per unpartitioned ``materialized`` key the
#: registry reaches at sf0.001 (a scan of all 374 queries' builds found
#: these 18 keys under the 11 unpartitioned prefixes below).
_SIDECAR_QUERIES = (
    "winnowing_dup_candidates",
    "copurchase_edge_jaccard",
    "supplier_label_propagation",
    "image_dhash_index_dedup_batch",
    "lsh_tuning_report",
    "minhash_lsh_pairs_fast",
    "contamination_check",
    "simhash_signatures",
    "bpe_train_merges_deep",
    "bpe_train_merges_bytelevel",
    "copurchase_edges_capped",
    "bpe_train_merges",
    "chargram_minhash_fast",
    "chargram_minhash",
)
_UNPARTITIONED_PREFIXES = {
    "winnow_fp_",
    "copurchase_edges_",
    "copurchase_edges_capped_",
    "dhash_idx_",
    "band_keys_",
    "shingled_docs_",
    "simhash_sigs_",
    "bpe_bl_merges_",
    "bpe_merges_",
    "bpe_vocab_",
    "chargram_sketch_",
}


def test_schema_sidecar_equals_inferred_for_registry_artifacts(
    spark, sf_dir, monkeypatch
):
    """For every unpartitioned artifact the registry reaches, reading
    through the sidecar gives exactly the schema parquet inference gives
    (types, nullability, nesting), so no consumer can tell the two apart."""
    import json

    from pyspark.sql.types import StructType

    import __spark_entry__ as entry

    seen: dict[tuple, str] = {}
    prefixes: set[str] = set()
    real = artifacts.materialized_dir

    def spy(key, prefix, build, inputs=(), base_dir=None):
        path = real(key, prefix, build, inputs, base_dir)
        if prefix in _UNPARTITIONED_PREFIXES:
            seen[key] = path
            prefixes.add(prefix)
        return path

    monkeypatch.setattr(artifacts, "materialized_dir", spy)
    queries = entry.queries()
    for name in _SIDECAR_QUERIES:
        queries[name](spark, sf_dir)
    assert prefixes == _UNPARTITIONED_PREFIXES and len(seen) == 18, sorted(seen)
    for key, path in seen.items():
        with open(os.path.join(path, artifacts._SCHEMA)) as fh:
            sidecar = StructType.fromJson(json.load(fh))
        inferred = spark.read.parquet(path).schema
        assert spark.read.schema(sidecar).parquet(path).schema == inferred, key


def test_failed_build_leaves_nothing_behind(spark, tmp_path):
    @F.udf("long")
    def boom(x):
        raise ValueError("injected build failure")

    base = str(tmp_path / "art")
    key = ("test_failed_build",)

    def bad():
        return spark.range(1, numPartitions=1).select(boom("id").alias("id"))

    with pytest.raises(Exception, match="injected build failure"):
        artifacts.materialized(spark, key, "leak_", bad, base_dir=base)
    assert not [d for d in os.listdir(base) if "__build_" in d]
    assert not [k for k in artifacts._CACHE if k[: len(key)] == key]
    calls, good = _build_counter(spark, "retry")
    rows = artifacts.materialized(spark, key, "leak_", good, base_dir=base)
    assert [tuple(r) for r in rows.collect()] == [(1, "retry")]
    assert calls["n"] == 1


@pytest.fixture
def corpus_copy(sf_dir, tmp_path):
    """A private, writable copy of the corpus (fresh mtimes, fresh keys)."""
    dst = str(tmp_path / "sf")
    shutil.copytree(sf_dir, dst, copy_function=shutil.copyfile)
    os.chmod(dst, 0o755)
    return dst


def _drop_rows(path, id_col):
    """Rewrite the parquet file in place without the rows whose id is 1
    mod 4."""
    table = pq.read_table(path)
    keep = table.column(id_col).to_numpy() % 4 != 1
    pq.write_table(table.filter(pa.array(keep)), path)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _count_calls(monkeypatch, module, name):
    calls = []
    real = getattr(module, name)

    def counted(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(module, name, counted)
    return calls


def test_rewritten_embeddings_rebuild_ivf_index(spark, corpus_copy, monkeypatch):
    calls = _count_calls(monkeypatch, similarity, "ivf_index_build")
    assert _rows(similarity.ivf_topk_prebuilt(spark, corpus_copy))
    assert len(calls) == 1
    _drop_rows(f"{corpus_copy}/embeddings.parquet", "vec_id")
    got = _rows(similarity.ivf_topk_prebuilt(spark, corpus_copy))
    assert len(calls) == 2, "a rewritten table must rebuild the index"
    assert got == _rows(similarity.ivf_topk(spark, corpus_copy))


def test_rewritten_documents_rebuild_minhash_index(
    spark, corpus_copy, monkeypatch, tmp_path
):
    calls = _count_calls(monkeypatch, dedup, "minhash_index_build")
    assert _rows(dedup.incremental_minhash_dedup(spark, corpus_copy))
    assert len(calls) == 1
    _drop_rows(f"{corpus_copy}/documents.parquet", "doc_id")
    got = _rows(dedup.incremental_minhash_dedup(spark, corpus_copy))
    assert len(calls) == 2, "a rewritten table must rebuild the index"
    fresh = str(tmp_path / "fresh_index")
    dedup.minhash_index_build(spark, corpus_copy, fresh)
    assert got == _rows(
        dedup.incremental_minhash_dedup(spark, corpus_copy, index_dir=fresh)
    )


def test_concurrent_ivf_callers_build_once(spark, corpus_copy, monkeypatch):
    calls = []

    def slow_build(spark, sf_dir, index_dir):
        calls.append(index_dir)
        time.sleep(1.0)
        os.makedirs(index_dir)

    monkeypatch.setattr(similarity, "ivf_index_build", slow_build)
    with ThreadPoolExecutor(2) as ex:
        futures = [
            ex.submit(similarity._cached_ivf_index, spark, corpus_copy)
            for _ in range(2)
        ]
        paths = {f.result(timeout=60) for f in futures}
    assert len(calls) == 1 and len(paths) == 1


def test_process_private_root_is_removed_at_exit(tmp_path):
    """A process that builds one entry in the fallback root leaves no
    ``spark_graft_artifacts_*`` dir behind once it exits."""
    script = (
        "import os, sys\n"
        "from data_engineer_interview_task_spark.plans import artifacts\n"
        "path = artifacts.materialized_dir(\n"
        "    ('exit-test',), 'exit_', lambda tmp: os.makedirs(tmp))\n"
        "assert os.path.isdir(path), path\n"
        "print(artifacts.tmp_root())\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    env.pop("SPARK_GRAFT_ARTIFACT_DIR", None)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=repo, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    root = proc.stdout.strip().splitlines()[-1]
    assert os.path.dirname(root) == str(tmp_path)
    assert not os.path.exists(root)
    left = [d for d in os.listdir(tmp_path) if d.startswith("spark_graft_artifacts_")]
    assert not left, left

