"""Round-13 optimization-round property tests.

Every test here pins the CONTRACT of an r13 optimization, not its speed:
artifact-backed builds must be row-identical to the direct builds, the
staging memos must be reuse-stable and staleness-keyed, the state
partition derivation must honor the env dial and the volume ladder, and
prep_session must re-assert the determinism trio after an external
driver mutates it (ADVICE r12).
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


# ---------------------------------------------------------------- graph


def test_capped_edges_artifact_matches_direct_build(spark):
    from data_engineer_interview_task_spark.operators.graph import (
        _build_edges_capped,
        copurchase_edges_capped,
    )

    direct = {
        (r.src, r.dst, r.support)
        for r in _build_edges_capped(spark, SF_DIR, cap=4).collect()
    }
    via_artifact = {
        (r.src, r.dst, r.support)
        for r in copurchase_edges_capped(spark, SF_DIR, cap=4).collect()
    }
    assert direct == via_artifact and len(direct) > 0


def test_ktruss_scans_capped_edge_artifact(spark):
    """The k-truss profile's lineage must start from the persisted
    capped-edge artifact (VERDICT r12 next-round item 1): its support
    rounds may not rebuild the lineitem basket join."""
    from data_engineer_interview_task_spark.operators.graph import (
        _cached_edges_capped,
    )
    from data_engineer_interview_task_spark.plans import explain_str

    plan = explain_str(_cached_edges_capped(spark, SF_DIR, cap=4))
    assert "Scan parquet" in plan and "copurchase_edges_capped_" in plan
    assert "lineitem" not in plan


# ------------------------------------------------------------ winnowing


def test_winnow_fingerprint_artifact_matches_selection(spark):
    from data_engineer_interview_task_spark.operators.dedup import (
        _winnow_fingerprints,
        _winnow_selected,
    )

    direct = {
        (r.doc_id, r.n_grams, r.wmin)
        for r in _winnow_selected(spark, SF_DIR, 3, 4)
        .select("doc_id", "n_grams", "wmin")
        .distinct()
        .collect()
    }
    art = {
        (r.doc_id, r.n_grams, r.wmin)
        for r in _winnow_fingerprints(spark, SF_DIR, 3, 4).collect()
    }
    assert direct == art and len(art) > 0


# ------------------------------------------------------------------ bpe


def test_bpe_trained_artifact_matches_direct_loop(spark):
    from data_engineer_interview_task_spark.operators.text import (
        _bpe_loop,
        _bpe_trained,
        _char_words,
        _bytelevel_train,
        bpe_train_merges_bytelevel,
    )

    cur, out = _bpe_loop(_char_words(spark, SF_DIR), 8)
    vocab, merges = _bpe_trained(spark, SF_DIR, 8)
    direct_vocab = {(r.word, r.s, r.freq) for r in cur.collect()}
    art_vocab = {(r.word, r.s, r.freq) for r in vocab.collect()}
    assert direct_vocab == art_vocab and len(art_vocab) > 0
    assert sorted(map(tuple, merges.collect())) == sorted(out)

    bl_direct = sorted(
        map(tuple, _bytelevel_train(spark, SF_DIR, 16, 4).collect())
    )
    bl_art = sorted(
        map(tuple, bpe_train_merges_bytelevel(spark, SF_DIR).collect())
    )
    assert bl_direct == bl_art and len(bl_art) > 0


# ------------------------------------------------- streaming staging memo


def test_staged_events_memoizes_and_flush_ordering(spark):
    from data_engineer_interview_task_spark.streaming.util import (
        staged_events,
    )

    p1 = staged_events(spark, SF_DIR, "plain")
    p2 = staged_events(spark, SF_DIR, "plain")
    assert p1 == p2 and os.path.isdir(p1)

    fl = staged_events(spark, SF_DIR, "flushed")
    assert fl != p1
    parts = sorted(
        (os.path.getmtime(os.path.join(fl, f)), f)
        for f in os.listdir(fl)
        if f.endswith(".parquet")
    )
    # exactly bulk + flush, and the flush file is strictly newer
    assert len(parts) == 2 and parts[0][0] < parts[1][0]
    flush_rows = (
        spark.read.parquet(fl).filter(F.col("user_id") < 0).collect()
    )
    assert sorted(r.event_type for r in flush_rows) == ["click", "purchase"]


def test_staged_custom_keys_on_input_fingerprint(spark, tmp_path):
    """A mutated input table re-stages instead of serving stale files."""
    import shutil

    from data_engineer_interview_task_spark.streaming.util import (
        staged_custom,
    )

    src_dir = str(tmp_path / "sfx")
    os.makedirs(src_dir)
    src = f"{SF_DIR}/events.parquet"
    dst = f"{src_dir}/events.parquet"
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        shutil.copy(src, dst)
    calls = []

    def build(path):
        calls.append(path)
        os.makedirs(path, exist_ok=True)

    a = staged_custom(spark, src_dir, "t13", build)
    b = staged_custom(spark, src_dir, "t13", build)
    assert a == b and len(calls) == 1
    # mutate the input: the memo must rebuild under a fresh key
    stamp = time.time() + 5
    if os.path.isdir(dst):
        victim = next(
            os.path.join(root, f)
            for root, _d, fs in os.walk(dst)
            for f in fs
        )
    else:
        victim = dst
    os.utime(victim, (stamp, stamp))
    c = staged_custom(spark, src_dir, "t13", build)
    assert c != a and len(calls) == 2


def test_dhash_index_harness_repeat_is_idempotent(spark):
    """Two harness calls in one process must return the SAME index rows
    (the old per-call append grew the feed and duplicated every doc)."""
    from data_engineer_interview_task_spark.streaming.images import (
        run_dhash_index_maintenance_once,
    )

    r1 = run_dhash_index_maintenance_once(spark, SF_DIR)
    n1 = r1.count()
    r2 = run_dhash_index_maintenance_once(spark, SF_DIR)
    n2 = r2.count()
    assert n1 == n2 > 0
    assert r1.select("doc_id").distinct().count() == n1


# ------------------------------------------------------ state partitions


def test_state_partitions_env_override(spark, monkeypatch):
    from data_engineer_interview_task_spark.streaming import util

    monkeypatch.setenv(util.STATE_PARTITIONS_ENV, "17")
    assert util.state_partitions(spark, None) == "17"


def test_state_partitions_volume_ladder(spark, monkeypatch, tmp_path):
    from data_engineer_interview_task_spark.streaming import util

    monkeypatch.delenv(util.STATE_PARTITIONS_ENV, raising=False)
    # no src / tiny src: the floor
    assert util.state_partitions(spark, None) == str(
        util.STATE_PARTITIONS_FLOOR
    )
    small = tmp_path / "small"
    small.mkdir()
    (small / "a.parquet").write_bytes(b"x" * 1024)
    assert util.state_partitions(spark, str(small)) == str(
        util.STATE_PARTITIONS_FLOOR
    )
    # large src: one partition per STATE_TARGET_BYTES, capped at cores
    monkeypatch.setattr(util, "_dir_bytes", lambda p: 6 * util.STATE_TARGET_BYTES)
    derived = int(util.state_partitions(spark, str(small)))
    cores = spark.sparkContext.defaultParallelism
    assert derived == min(6, cores) and derived >= util.STATE_PARTITIONS_FLOOR
    monkeypatch.setattr(
        util, "_dir_bytes", lambda p: 10_000 * util.STATE_TARGET_BYTES
    )
    assert int(util.state_partitions(spark, str(small))) == cores


# -------------------------------------------------- prep_session contract


def test_prep_session_reasserts_determinism_confs(spark):
    from data_engineer_interview_task_spark.plans import prep_session

    prep_session(spark)  # ensure memoized
    prior = spark.conf.get("spark.sql.session.timeZone")
    assert prior == "UTC"
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        prep_session(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark.conf.get("spark.sql.ansi.enabled") == "false"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.ansi.enabled", "false")


def test_read_table_memo_invalidates_on_input_change(spark, tmp_path):
    """The plan memo is keyed on a directory signature (ADVICE r12): a
    regenerated table dir yields a fresh plan, not a stale listing."""
    sfx = str(tmp_path / "sfy")
    os.makedirs(sfx)
    spark.range(5).selectExpr("id AS n_nationkey").write.parquet(
        f"{sfx}/nation.parquet"
    )
    from data_engineer_interview_task_spark.sources import read_table

    assert read_table(spark, sfx, "nation").count() == 5
    time.sleep(0.01)
    spark.range(9).selectExpr("id AS n_nationkey").write.mode(
        "overwrite"
    ).parquet(f"{sfx}/nation.parquet")
    assert read_table(spark, sfx, "nation").count() == 9
