"""Property/model tests for the round-5 operator wave — each new
operator's SEMANTICS checked against an independent quadratic/naive
python model on synthetic frames (the oracle gate already pins
cross-engine value parity on the fixture corpora; these pin the
definitions themselves, especially boundary cases the fixtures may not
contain: skyline dominance ties, interval windows that exactly touch,
KS over tied values, ntile bucket edges)."""
from __future__ import annotations

from fractions import Fraction

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


# --- skyline dominance --------------------------------------------------

def _skyline_model(rows):
    """Quadratic dominance filter: keep (k, day, cents) not dominated."""
    out = []
    for k, d, c in rows:
        dominated = any(
            (da <= d and ca >= c) and (da < d or ca > c)
            for _, da, ca in rows
        )
        if not dominated:
            out.append((k, d, c))
    return sorted(out)


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(100, 120)),
        min_size=1,
        max_size=25,
    )
)
def test_skyline_two_window_formulation_matches_quadratic_model(vals):
    """The two-window linearithmic formulation == the NOT EXISTS
    definition, including same-day/same-cents co-survivor ties."""
    rows = [(i, d, c) for i, (d, c) in enumerate(vals)]
    import pandas as pd

    df = pd.DataFrame(rows, columns=["k", "day", "cents"])
    # window formulation in pandas: max over strictly-earlier days,
    # max over same day
    got = []
    for k, d, c in rows:
        earlier = df[df.day < d].cents.max()
        same = df[df.day == d].cents.max()
        if (pd.isna(earlier) or earlier < c) and c == same:
            got.append((k, d, c))
    assert sorted(got) == _skyline_model(rows)


def test_skyline_orders_spark_matches_model(spark, sf_dir):
    from data_engineer_interview_task_spark.operators import extended

    base = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(
            "o_orderkey",
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
            ).cast("long").alias("day"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .collect()
    )
    rows = [(r.o_orderkey, r.day, r.cents) for r in base]
    got = sorted(
        (r.o_orderkey, r.day, r.cents)
        for r in extended.skyline_orders(spark, sf_dir).collect()
    )
    assert got == _skyline_model(rows)


# --- interval union coverage -------------------------------------------

def _coverage_model(starts_us, l_us):
    """Union measure of [t, t+L) via explicit merge (touching merge)."""
    iv = sorted((t, t + l_us) for t in starts_us)
    merged = []
    for s, e in iv:
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return len(merged), sum(e - s for s, e in merged)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.integers(0, 100), min_size=1, max_size=30),
    st.integers(1, 15),
)
def test_interval_island_scan_matches_union_model(starts, l):
    """lag/cumsum island scan == explicit interval-union merge, exact-tie
    (gap == L) inputs included: touching windows MERGE."""
    starts = sorted(starts)
    # island scan
    islands = []
    for t in starts:
        if islands and t - islands[-1][-1] <= l:
            islands[-1].append(t)
        else:
            islands.append([t])
    n = len(islands)
    cov = sum(isl[-1] - isl[0] + l for isl in islands)
    assert (n, cov) == _coverage_model(starts, l)


def test_interval_coverage_spark_touching_boundary(spark, tmp_path):
    """Events exactly L apart merge into ONE island (closed union)."""
    import datetime as dt

    from data_engineer_interview_task_spark.operators import relational

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, 1, base, "view", 1.0, "{}"),
        (2, 1, base + dt.timedelta(minutes=30), "view", 1.0, "{}"),  # touch
        (3, 1, base + dt.timedelta(minutes=90), "view", 1.0, "{}"),  # gap
        (4, 2, base, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double, props string"
    )
    p = str(tmp_path / "events.parquet")
    df.write.parquet(p)
    out = {
        r.user_id: (r.n_islands, r.covered_us)
        for r in relational.interval_coverage_per_user(
            spark, str(tmp_path)
        ).collect()
    }
    l_us = 30 * 60 * 1_000_000
    # user 1: [0, 60m) merged (touching) + [90m, 120m) => 2 islands, 90min
    assert out[1] == (2, 2 * l_us + l_us)
    assert out[2] == (1, l_us)


# --- KS statistic -------------------------------------------------------

@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.integers(0, 20), min_size=1, max_size=40),
    st.lists(st.integers(0, 20), min_size=1, max_size=40),
)
def test_ks_integer_scaling_matches_fraction_model(xs, ys):
    """max|cum_a*n_b - cum_b*n_a| / (n_a*n_b) == max|F_a - F_b| computed
    in exact rationals, ties and shared values included."""
    na, nb = len(xs), len(ys)
    pooled = sorted(set(xs) | set(ys))
    best_scaled = 0
    best_frac = Fraction(0)
    ca = cb = 0
    for v in pooled:
        ca += xs.count(v)
        cb += ys.count(v)
        best_scaled = max(best_scaled, abs(ca * nb - cb * na))
        best_frac = max(best_frac, abs(Fraction(ca, na) - Fraction(cb, nb)))
    assert Fraction(best_scaled, na * nb) == best_frac


# --- sparse cosine ------------------------------------------------------

def test_sparse_cosine_pairs_match_python_model(spark, sf_dir):
    """Spark inverted-index cosine == a dense python model over the same
    df-capped bigram space (pair set AND dot values)."""
    from collections import Counter

    from data_engineer_interview_task_spark.operators import text as t

    docs = {
        r.doc_id: r.text.split(" ")
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    tf = {
        d: Counter(" ".join(p) for p in zip(toks, toks[1:]))
        for d, toks in docs.items()
    }
    df = Counter()
    for c in tf.values():
        df.update(c.keys())
    rare = {
        d: {k: v for k, v in c.items() if df[k] <= 20} for d, c in tf.items()
    }
    import math

    expected = {}
    inv = {}
    for d, c in rare.items():
        for k in c:
            inv.setdefault(k, []).append(d)
    cand = set()
    for ds in inv.values():
        ds = sorted(ds)
        for i, a in enumerate(ds):
            for b in ds[i + 1 :]:
                cand.add((a, b))
    for a, b in cand:
        dot = sum(rare[a][k] * rare[b][k] for k in rare[a].keys() & rare[b].keys())
        na = sum(v * v for v in rare[a].values())
        nb = sum(v * v for v in rare[b].values())
        cos = float(dot) / (math.sqrt(float(na)) * math.sqrt(float(nb)))
        if cos >= 0.5:
            expected[(a, b)] = dot
    got = {
        (r.doc_a, r.doc_b): r.dot
        for r in t.sparse_cosine_pairs(spark, sf_dir).collect()
    }
    assert got == expected and len(got) > 0


# --- rfm ntile edges ----------------------------------------------------

def test_rfm_ntile_bucket_sizes_and_code_range(spark, sf_dir):
    from data_engineer_interview_task_spark.operators import relational

    rows = relational.rfm_segments(spark, sf_dir).collect()
    n = len(rows)
    for col in ("r_score", "f_score", "m_score"):
        counts = {}
        for r in rows:
            counts[r[col]] = counts.get(r[col], 0) + 1
        # ANSI ntile: first (n % 5) buckets get one extra row
        base, extra = divmod(n, 5)
        expected = sorted(
            [base + 1] * extra + [base] * (5 - extra), reverse=True
        )
        assert sorted(counts.values(), reverse=True) == [
            e for e in expected if e > 0
        ]
    assert all(111 <= r.rfm_code <= 555 for r in rows)


# --- erasure audit consistency -----------------------------------------

def test_gdpr_erasure_audit_internal_consistency(spark, sf_dir):
    """Erased counts are consistent with direct membership recomputation
    (independent anti-join formulation)."""
    from data_engineer_interview_task_spark.operators import maintenance

    got = {
        r.table_name: (r.n_rows, r.n_erased)
        for r in maintenance.gdpr_erasure_audit(spark, sf_dir).collect()
    }
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    doomed = orders.filter(F.col("o_custkey") % 97 == 0)
    assert got["orders"][1] == doomed.count()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    assert (
        got["lineitem"][1]
        == li.join(
            doomed.select("o_orderkey"),
            li.l_orderkey == doomed.o_orderkey,
            "left_semi",
        ).count()
    )
    assert got["customer"][0] >= got["customer"][1]


# --- phrase search ------------------------------------------------------

def test_phrase_search_counts_match_python_scan(spark, sf_dir):
    from collections import Counter

    from data_engineer_interview_task_spark.operators import text as t

    got = list(t.phrase_search(spark, sf_dir).collect())
    assert len(got) > 0
    bigram = got[0].bigram
    texts = {
        r.doc_id: r.text.split(" ")
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    # the selected bigram must be a global argmax (count desc, bigram asc)
    counts = Counter()
    per_doc = Counter()
    for d, toks in texts.items():
        for a, b in zip(toks, toks[1:]):
            bg = f"{a} {b}"
            counts[bg] += 1
            if bg == bigram:
                per_doc[d] += 1
    best = min(
        ((-c, bg) for bg, c in counts.items()),
    )
    assert (bigram == best[1]) and (counts[bigram] == -best[0])
    assert {(r.doc_id): r.n_matches for r in got} == dict(per_doc)


# --- UDTF chunker twin --------------------------------------------------

def test_udtf_chunker_equals_jvm_chunker(spark, sf_dir):
    """The Python UDTF fan-out must emit the exact rows of the JVM
    sequence/explode/slice operator — chunk ids, text, token counts."""
    from data_engineer_interview_task_spark.operators import text as t

    a = sorted(map(tuple, t.chunk_documents(spark, sf_dir).collect()))
    b = sorted(map(tuple, t.chunk_documents_udtf(spark, sf_dir).collect()))
    assert a == b and len(a) > 0


# --- round-5 session-3 operators ---------------------------------------


def test_revenue_gini_matches_fraction_model(spark, sf_dir):
    """Exact-rational replay: Gini from sorted per-customer revenues via
    Fraction — zero float error in the model; the Spark double must equal
    the Fraction cast to float (one IEEE rounding)."""
    import duckdb

    from data_engineer_interview_task_spark.operators import extended

    per = duckdb.sql(
        f"""SELECT SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS c
           FROM '{sf_dir}/orders.parquet' GROUP BY o_custkey"""
    ).fetchall()
    xs = sorted(c for (c,) in per)
    n, s = len(xs), sum(xs)
    w = sum((i + 1) * x for i, x in enumerate(xs))
    model = Fraction(2 * w - (n + 1) * s, n * s)
    row = extended.revenue_gini(spark, sf_dir).collect()[0]
    assert row["n_customers"] == n
    assert row["gini"] == pytest.approx(float(model), abs=0, rel=0) or (
        row["gini"] == float(model)
    )
    # gini of any non-degenerate distribution sits strictly inside [0, 1)
    assert 0.0 <= row["gini"] < 1.0


def test_trimmed_mean_matches_python_model(spark, sf_dir):
    from data_engineer_interview_task_spark.operators import extended
    import duckdb

    rows = duckdb.sql(
        f"""SELECT o_orderpriority, o_orderkey,
                  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           FROM '{sf_dir}/orders.parquet'"""
    ).fetchall()
    byp: dict = {}
    for p, k, c in rows:
        byp.setdefault(p, []).append((c, k))
    got = {
        r["o_orderpriority"]: r
        for r in extended.trimmed_mean_order_value(spark, sf_dir).collect()
    }
    assert set(got) == set(byp)
    for p, vals in byp.items():
        vals.sort()
        lo = len(vals) * 5 // 100
        kept = vals[lo : len(vals) - lo]
        assert got[p]["n_kept"] == len(kept)
        assert got[p]["n_total"] == len(vals)
        expect = sum(c for c, _ in kept) / len(kept) / 100.0
        assert got[p]["trimmed_mean"] == expect


def test_bm25_rank_matches_fraction_model(spark, sf_dir):
    """Replay the exact-rational BM25 with Fraction arithmetic on raw
    token counts: same term selection, same per-term floor-divided
    fixed-point score, same (score, doc_id) ordering."""
    from collections import Counter

    import duckdb

    from data_engineer_interview_task_spark.operators import text as text_ops

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    toks = {d: [t for t in s.split(" ") if t] for d, s in docs}
    dl = {d: len(ts) for d, ts in toks.items() if ts}
    n_docs, total_len = len(dl), sum(dl.values())
    df: Counter = Counter()
    for ts in toks.values():
        df.update(set(ts))
    qterms = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
    scores: Counter = Counter()
    for d, ts in toks.items():
        if not ts:
            continue
        tf = Counter(ts)
        for term, dfv in qterms:
            t = tf.get(term, 0)
            if not t:
                continue
            num = 1_000_000 * 44 * t * total_len * (2 * n_docs - 2 * dfv + 1)
            den = (
                20 * t * total_len + 6 * total_len + 18 * dl[d] * n_docs
            ) * (2 * dfv + 1)
            scores[d] += num // den
    expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (r["doc_id"], r["score_fp"])
        for r in text_ops.bm25_doc_rank(spark, sf_dir).collect()
    ]
    assert got == expect


def test_decile_lift_conservation_invariants(spark, sf_dir):
    """Lift-table algebra: decile counts sum to n_total, cum_gain ends at
    exactly 1.0, and Σ n·response_rate == total positives."""
    from data_engineer_interview_task_spark.operators import relational

    rows = sorted(
        relational.decile_lift_table(spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    n_total = sum(r["n"] for r in rows)
    assert all(abs(r["n"] - n_total / 10) <= 1 for r in rows)
    assert rows[-1]["cum_gain"] == 1.0
    pos_total = sum(r["positives"] for r in rows)
    running = 0
    for r in rows:
        running += r["positives"]
        assert r["cum_gain"] == running / pos_total
