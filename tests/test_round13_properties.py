"""Round-13 optimization-round property tests.

Every test here pins the CONTRACT of an r13 optimization, not its speed:
artifact-backed builds must be row-identical to the direct builds, a
repeated harness call must be idempotent, and prep_session must
re-assert the determinism trio after an external driver mutates it
(ADVICE r12). The staging-memo and state-partition tests live in
``tests/test_streaming_runner.py``.
"""

from __future__ import annotations

import os
import time

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
