"""Round-7 model/property tests.

Pins the two-phase ntile decomposition (VERDICT r6 item 3): the
arithmetic bucket formula must be bit-identical to SQL NTILE at every
(n, k) shape — including the n % k != 0 remainder buckets and the
n < k degenerate case — and the rewritten queries' physical plans must
contain NO global ntile window (every row-grain row_number is
partitioned by the range-partition pid).
"""
from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_engineer_interview_task_spark.operators import relational
from data_engineer_interview_task_spark.operators.relational import (
    _two_phase_ntile,
)
from data_engineer_interview_task_spark.plans import explain_str


@pytest.mark.parametrize(
    "n,k",
    [(97, 5), (100, 10), (101, 10), (9, 10), (10, 10), (1, 5), (64, 7)],
)
def test_two_phase_ntile_matches_builtin(spark, n, k):
    # keys deliberately non-contiguous and shuffled so the range
    # partitioner earns its keep; 'v' makes a non-trivial payload
    rows = [((i * 37) % (3 * n), i) for i in range(n)]
    df = spark.createDataFrame(rows, "key long, v long")
    order = [F.col("key").asc(), F.col("v").asc()]
    expect = df.withColumn(
        "tile", F.ntile(k).over(Window.orderBy(*order)).cast("long")
    )
    got = _two_phase_ntile(df, k, order, "tile")
    assert sorted(expect.collect()) == sorted(got.collect())


def test_two_phase_ntile_descending_order(spark):
    df = spark.createDataFrame(
        [((i * 13) % 50, i) for i in range(83)], "key long, v long"
    )
    order = [F.col("key").desc(), F.col("v").asc()]
    expect = df.withColumn(
        "tile", F.ntile(5).over(Window.orderBy(*order)).cast("long")
    )
    got = _two_phase_ntile(df, 5, order, "tile")
    assert sorted(expect.collect()) == sorted(got.collect())


def test_wav_channel_features_matches_md5_replay(spark, sf_dir):
    """Per-(channel, frame) features equal a pure python replay of the
    deinterleave + frame math over the md5-derived stereo stream."""
    import hashlib

    from data_engineer_interview_task_spark.operators import multimodal
    from data_engineer_interview_task_spark.sources import read_table

    docs = {
        r["doc_id"]: r["text"]
        for r in read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    }
    got = {
        (r["doc_id"], r["channel"], r["frame_idx"]): (
            r["energy"], r["zero_crossings"], r["peak_dev"]
        )
        for r in multimodal.multimodal_wav_channel_features(
            spark, sf_dir
        ).collect()
    }
    assert len(got) == len(docs) * 2 * 6
    some = sorted(docs)[:20]
    for doc_id in some:
        data = hashlib.md5(docs[doc_id].encode()).digest() * 16
        for ch in range(2):
            samples = data[ch::2]
            assert len(samples) == 128
            for f in range(6):
                dev = [s - 128 for s in samples[f * 20 : (f + 1) * 20]]
                expect = (
                    sum(d * d for d in dev),
                    sum(
                        1
                        for a, b in zip(dev, dev[1:])
                        if (a >= 0) != (b >= 0)
                    ),
                    max(abs(d) for d in dev),
                )
                assert got[(doc_id, ch, f)] == expect


def _reference_bpe(word_freqs, n_merges):
    """Textbook BPE (list-based, no string encoding): returns the merge
    table [(step, l, r, count)] with (count DESC, l ASC, r ASC)
    tie-breaks and left-to-right non-overlapping application."""
    vocab = {w: list(w) for w in word_freqs}
    merges = []
    for step in range(1, n_merges + 1):
        counts: dict[tuple, int] = {}
        for w, freq in word_freqs.items():
            syms = vocab[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + freq
        if not counts:
            break
        (l, r), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((step, l, r, cnt))
        for w in vocab:
            syms, out, i = vocab[w], [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def test_bpe_merge_semantics_match_reference(spark, tmp_path):
    """The engine's wrapped-symbol replace encoding must equal textbook
    list-based BPE on adversarial shapes: runs (xxxx -> xx xx, not
    xx x x), merged-symbol boundaries (no false match of (a,b) inside
    'ca b'), count ties broken lexicographically."""
    import pandas as pd

    from data_engineer_interview_task_spark.operators import text as t

    corpus = (
        ["xxxx"] * 5        # run: first merge (x,x), applied -> xx|xx
        + ["cab"] * 4       # 'ca' forms, then (ca,b) must not match 'a b'
        + ["ab"] * 3        # tie fodder
        + ["ba"] * 3        # lexicographic tie-break vs 'ab'
        + ["zzzz"] * 2
    )
    docs = pd.DataFrame(
        {
            "doc_id": range(len(corpus)),
            "text": corpus,
            "lang": "en",
            "source": "t",
            "n_chars": [len(c) for c in corpus],
        }
    )
    sf = str(tmp_path / "bpe_sf")
    import os

    os.makedirs(sf)
    docs.to_parquet(f"{sf}/documents.parquet")
    got = [
        (r["step"], r["left"], r["right"], r["pair_count"])
        for r in t.bpe_train_merges(spark, sf, n_merges=6)
        .orderBy("step")
        .collect()
    ]
    freqs: dict[str, int] = {}
    for w in corpus:
        freqs[w] = freqs.get(w, 0) + 1
    expect, vocab = _reference_bpe(freqs, 6)
    assert got == expect
    # the encode counts must match the reference vocab's symbol counts
    enc = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in t.bpe_encode_token_counts(spark, sf, n_merges=6).collect()
    }
    for i, w in enumerate(corpus):
        assert enc[i] == len(vocab[w]), (w, vocab[w])


def test_eb_shrinkage_pulls_toward_the_prior_mean(spark, sf_dir):
    """Shrinkage property: every source's shrunk rate lies BETWEEN its
    raw rate and the prior mean alpha/(alpha+beta) (within 1 fp ulp of
    floor slack), and shrinkage magnitude decreases with n (more data,
    less pull) for equal raw rates."""
    from data_engineer_interview_task_spark.operators import sampling

    rows = sampling.eb_shrunk_source_quality(spark, sf_dir).collect()
    assert rows
    a = rows[0]["alpha_fp"]
    b = rows[0]["beta_fp"]
    assert a > 0 and b > 0
    prior_fp = a * 1_000_000_000 // (a + b)
    for r in rows:
        lo, hi = sorted((r["rate_fp"], prior_fp))
        assert lo - 2 <= r["shrunk_rate_fp"] <= hi + 2, dict(r.asDict())


def test_isotonic_curve_matches_exact_pav_replay(spark, sf_dir):
    """The minimax fixed-point fit equals floor(1e6 * PAV) where PAV is
    replayed exactly in Fractions over the same level aggregate — the
    identity the operator's docstring claims (floor∘scale is monotone,
    so it commutes with the minimax), checked on real corpus data. Also
    pins the shape constraint itself: fits are non-decreasing in x."""
    from fractions import Fraction

    import pandas as pd

    from data_engineer_interview_task_spark.operators import cleaning

    orders = pd.read_parquet(
        f"{sf_dir}/orders.parquet", columns=["o_custkey", "o_totalprice"]
    )
    orders["cents"] = (
        orders["o_totalprice"].round(2) * 100
    ).round().astype("int64")
    per = orders.groupby("o_custkey").agg(
        x=("cents", "size"), cents=("cents", "sum")
    )
    lev = (
        per.groupby("x")
        .agg(w=("cents", "size"), s=("cents", "sum"))
        .sort_index()
    )
    blocks: list[tuple[int, int, list[int]]] = []  # (w, s, xs)
    for x, row in lev.iterrows():
        blocks.append((int(row["w"]), int(row["s"]), [int(x)]))
        while len(blocks) > 1 and Fraction(
            blocks[-2][1], blocks[-2][0]
        ) > Fraction(blocks[-1][1], blocks[-1][0]):
            w2, s2, x2 = blocks.pop()
            w1, s1, x1 = blocks.pop()
            blocks.append((w1 + w2, s1 + s2, x1 + x2))
    expect = {}
    for w, s, xs in blocks:
        for x in xs:
            expect[x] = (s * 1000000) // w
    got = {
        r["n_orders"]: r["iso_fit_fp"]
        for r in cleaning.isotonic_revenue_curve(spark, sf_dir).collect()
    }
    assert got == expect
    fits = [v for _k, v in sorted(got.items())]
    assert all(a <= b for a, b in zip(fits, fits[1:]))


@pytest.mark.parametrize(
    "query", [relational.decile_lift_table, relational.rfm_segments]
)
def test_no_global_ntile_in_plan(spark, sf_dir, query):
    plan = explain_str(query(spark, sf_dir))
    assert "ntile(" not in plan, "global ntile window resurfaced"
    # every row-grain numbering window must be partitioned by the range
    # pid; only aggregate-sized frames (the n_parts-row offset table and
    # the 10-row decile rollup) may run unpartitioned windows
    for line in plan.splitlines():
        if "row_number()" in line:
            assert "_pid" in line, f"unpartitioned row_number: {line}"
