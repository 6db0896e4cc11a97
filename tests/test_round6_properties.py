"""Model/invariant tests for the round-6 batch-6 operators.

Each operator also carries a DuckDB oracle swept at
sf0.001/sf0.01/sf1/skew; these tests pin the pieces the hash compare
cannot see (python set-model replays, structural invariants, the LSH
banding monotonicity theorem).
"""
from __future__ import annotations

from collections import Counter, defaultdict

import duckdb


def test_weekly_user_overlap_matches_set_model(spark, sf_dir):
    """Bitmap AND/AND-NOT algebra == plain python set arithmetic over
    the distinct weekly user populations, for every consecutive pair."""
    from data_engineer_interview_task_spark.operators import relational

    rows = duckdb.sql(
        "SELECT CAST(date_trunc('week', ts) AS DATE) AS w, user_id "
        f"FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    weeks: dict = defaultdict(set)
    for w, u in rows:
        weeks[w].add(u)
    got = {
        r["week_start"]: (r["returning"], r["churned"], r["new_users"])
        for r in relational.weekly_user_overlap(spark, sf_dir).collect()
    }
    ordered = sorted(weeks)
    assert set(got) == set(ordered[:-1])
    for w0, w1 in zip(ordered, ordered[1:]):
        a, b = weeks[w0], weeks[w1]
        assert got[w0] == (len(a & b), len(a - b), len(b - a))


def test_checksum_replica_diff_localizes_corruption(spark, sf_dir):
    """Differing buckets == exactly the buckets holding a doc_id % 97
    row, and the per-bucket corrupt counts re-derive from the ids."""
    from data_engineer_interview_task_spark.operators import maintenance

    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM '{sf_dir}/documents.parquet' "
            "WHERE doc_id % 97 = 0"
        ).fetchall()
    ]
    expect = Counter(i % 32 for i in ids)
    got = maintenance.checksum_replica_diff(spark, sf_dir).collect()
    assert {r["bucket"]: r["n_corrupt"] for r in got} == dict(expect)
    assert all(r["ck_base"] != r["ck_replica"] for r in got)


def test_label_propagation_is_min_within_k_hops(spark, sf_dir):
    """After k rounds label(v) == min node id within k hops of v on the
    co-purchase graph — replayed with a python BFS model; community
    sizes re-count the label table."""
    from data_engineer_interview_task_spark.operators import graph

    out = graph.supplier_label_propagation(spark, sf_dir, rounds=3).collect()
    edges = graph._cached_edges(spark, sf_dir).collect()
    adj: dict = defaultdict(set)
    for e in edges:
        adj[e["src"]].add(e["dst"])
    labels = {}
    for r in out:
        node = r["s_suppkey"]
        frontier, seen = {node}, {node}
        for _ in range(3):
            frontier = {
                m for v in frontier for m in adj[v] if m not in seen
            }
            seen |= frontier
        labels[node] = min(seen)
        assert r["label"] == min(seen)
    sizes = Counter(labels.values())
    for r in out:
        assert r["community_size"] == sizes[r["label"]]


def test_lsh_tuning_candidates_monotone_in_bands(spark, sf_dir):
    """Banding theorem: a collision on an r-row band implies collisions
    on both of its r/2-row halves, so the candidate-pair count is
    non-decreasing as bands double (4 -> 8 -> 16) over the same
    32-hash signature."""
    from data_engineer_interview_task_spark.operators import dedup

    rows = {
        r["bands"]: r["n_candidate_pairs"]
        for r in dedup.lsh_tuning_report(spark, sf_dir).collect()
    }
    assert set(rows) == {4, 8, 16}
    assert rows[4] <= rows[8] <= rows[16]


def test_join_cardinality_estimate_matches_actual_join(spark, sf_dir):
    """The 'estimate' is exact by construction: inner_join_rows must
    equal the true count of the executed join, and the side stats must
    re-derive from plain SQL."""
    from data_engineer_interview_task_spark.operators import maintenance

    got = {
        r["join_name"]: r
        for r in maintenance.join_cardinality_estimate(spark, sf_dir).collect()
    }
    for name, lt, lk, rt, rk in (
        ("customer_orders", "customer", "c_custkey", "orders", "o_custkey"),
        ("orders_lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
    ):
        actual = duckdb.sql(
            f"SELECT COUNT(*) FROM '{sf_dir}/{lt}.parquet' l "
            f"JOIN '{sf_dir}/{rt}.parquet' r ON l.{lk} = r.{rk}"
        ).fetchone()[0]
        assert got[name]["inner_join_rows"] == actual
        assert got[name]["n_left"] >= got[name]["ndv_left"]
        assert got[name]["max_left_per_key"] >= 1


def test_degree_histogram_bins_are_consistent(spark, sf_dir):
    from data_engineer_interview_task_spark.operators import graph

    rows = graph.copurchase_degree_histogram(spark, sf_dir).collect()
    n_nodes = (
        graph._cached_edges(spark, sf_dir, min_support=5)
        .select("src")
        .distinct()
        .count()
    )
    assert sum(r["n_nodes"] for r in rows) == n_nodes
    for r in rows:
        assert r["bin_lo_degree"] == 2 ** r["bin"]
        assert r["bin_lo_degree"] <= r["min_degree"] <= r["max_degree"]
        assert r["max_degree"] < 2 ** (r["bin"] + 1)


def test_cv_folds_partition_the_corpus(spark, sf_dir):
    from data_engineer_interview_task_spark.operators import sampling

    rows = sampling.cv_fold_assignment(spark, sf_dir).collect()
    total = duckdb.sql(
        f"SELECT COUNT(*), SUM(n_chars) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()
    assert {r["fold"] for r in rows} <= set(range(5))
    assert sum(r["n_docs"] for r in rows) == total[0]
    assert sum(r["total_chars"] for r in rows) == total[1]


def test_split_label_drift_matches_fraction_model(spark, sf_dir):
    """Exact-rational TV replay with hashlib + Fraction."""
    import hashlib
    from fractions import Fraction

    from data_engineer_interview_task_spark.operators import sampling

    docs = duckdb.sql(
        f"SELECT doc_id, source FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    cells: dict = defaultdict(Counter)
    for doc_id, source in docs:
        k4 = hashlib.md5(str(doc_id).encode()).hexdigest()[:4]
        split = "train" if k4 < "cccc" else ("val" if k4 < "e666" else "test")
        cells[split][source] += 1
    marg: Counter = Counter()
    for c in cells.values():
        marg.update(c)
    m_total = sum(marg.values())
    got = {
        r["split"]: r
        for r in sampling.split_label_drift(spark, sf_dir).collect()
    }
    for split, c in cells.items():
        n_split = sum(c.values())
        num = sum(
            abs(c.get(s, 0) * m_total - m * n_split) for s, m in marg.items()
        )
        expect = float(num) / float(2 * n_split * m_total)
        assert got[split]["n_docs"] == n_split
        assert got[split]["tv_distance"] == expect
        assert 0.0 <= got[split]["tv_distance"] <= 1.0


def test_event_pivot_rows_sum_to_weekly_totals(spark, sf_dir):
    from data_engineer_interview_task_spark.operators import relational

    rows = relational.event_type_pivot(spark, sf_dir).collect()
    weekly = dict(
        duckdb.sql(
            "SELECT CAST(date_trunc('week', ts) AS DATE), COUNT(*) "
            f"FROM '{sf_dir}/events.parquet' GROUP BY 1"
        ).fetchall()
    )
    assert len(rows) == len(weekly)
    for r in rows:
        total = sum(
            r[c] for c in ("n_click", "n_error", "n_purchase", "n_signup", "n_view")
        )
        assert total == weekly[r["week_start"]]


def test_bloom_audit_matches_python_replay(spark, sf_dir):
    """Replay the entire filter with hashlib: bit positions, words, probe
    verdicts, and all five emitted counts must match exactly."""
    import hashlib

    from data_engineer_interview_task_spark.operators import maintenance

    members = {
        r[0]
        for r in duckdb.sql(
            f"SELECT c_custkey FROM '{sf_dir}/customer.parquet' "
            "WHERE c_acctbal < 0"
        ).fetchall()
    }
    probes = {
        r[0]
        for r in duckdb.sql(
            f"SELECT DISTINCT o_custkey FROM '{sf_dir}/orders.parquet'"
        ).fetchall()
    }

    def positions(key):
        hx = hashlib.md5(str(key).encode()).hexdigest()
        return [int(hx[8 * i : 8 * i + 8], 16) % (64 * 62) for i in range(3)]

    bits: set = set()
    for k in members:
        bits.update(positions(k))
    hits = {k for k in probes if all(p in bits for p in positions(k))}
    true_members = probes & members
    row = maintenance.bloom_membership_audit(spark, sf_dir).collect()[0]
    assert row["n_probes"] == len(probes)
    assert row["n_true_members"] == len(true_members)
    assert row["n_bloom_hits"] == len(hits)
    assert row["n_false_positives"] == len(hits - members)
    assert row["n_bits_set"] == len(bits)
    assert true_members <= hits  # no false negatives


def test_bootstrap_ci_matches_python_replay(spark, sf_dir):
    import hashlib

    from data_engineer_interview_task_spark.operators import cleaning

    daily = duckdb.sql(
        "SELECT CAST(o_orderdate AS DATE) AS day, "
        "CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) "
        "     AS BIGINT) AS cents "
        f"FROM '{sf_dir}/orders.parquet' GROUP BY 1 ORDER BY day"
    ).fetchall()
    vals = [c for _, c in daily]
    n = len(vals)
    means = []
    for b in range(200):
        s = 0
        for i in range(n):
            hx = hashlib.md5(f"{b}|{i}".encode()).hexdigest()
            s += vals[int(hx[:8], 16) % n]
        means.append((s / n, b))
    means.sort()
    row = cleaning.bootstrap_mean_ci(spark, sf_dir).collect()[0]
    assert row["n_days"] == n
    assert row["mean_cents"] == sum(vals) / n
    assert row["ci_lo"] == means[4][0]
    assert row["ci_hi"] == means[194][0]
    assert row["ci_lo"] <= row["ci_hi"]


def test_lag_correlation_matches_python_moments(spark, sf_dir):
    import math

    from data_engineer_interview_task_spark.operators import cleaning

    daily = duckdb.sql(
        "SELECT CAST(ts AS DATE) AS day, "
        "SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS x, "
        "SUM(CASE WHEN event_type='purchase' "
        "    THEN CAST(CAST(value AS DECIMAL(18,2))*100 AS BIGINT) "
        "    ELSE 0 END) AS y "
        f"FROM '{sf_dir}/events.parquet' GROUP BY 1"
    ).fetchall()
    xs = {d: int(x) for d, x, _ in daily}
    ys = {d: int(y) for d, _, y in daily}
    from datetime import timedelta

    got = {
        r["lag"]: r for r in cleaning.daily_lag_correlation(spark, sf_dir).collect()
    }
    for lag in range(-3, 4):
        pairs = [
            (xs[d], ys[d + timedelta(days=lag)])
            for d in xs
            if d + timedelta(days=lag) in ys
        ]
        n = len(pairs)
        sx = sum(p[0] for p in pairs)
        sy = sum(p[1] for p in pairs)
        sxy = sum(p[0] * p[1] for p in pairs)
        sxx = sum(p[0] ** 2 for p in pairs)
        syy = sum(p[1] ** 2 for p in pairs)
        den = math.sqrt(float(n * sxx - sx * sx)) * math.sqrt(
            float(n * syy - sy * sy)
        )
        expect = float(n * sxy - sx * sy) / den if den else None
        assert got[lag]["n_days"] == n
        assert got[lag]["pearson_r"] == expect
        if expect is not None:
            assert -1.0 <= got[lag]["pearson_r"] <= 1.0


def test_backtest_splits_expand_and_count(spark, sf_dir):
    """Train windows expand monotonically, train strictly precedes test,
    and per-fold counts re-derive from duckdb date arithmetic."""
    from data_engineer_interview_task_spark.operators import sampling

    rows = sorted(
        sampling.temporal_backtest_splits(spark, sf_dir).collect(),
        key=lambda r: r["fold"],
    )
    assert [r["fold"] for r in rows] == [1, 2, 3, 4]
    for prev, cur in zip(rows, rows[1:]):
        assert prev["train_end"] < cur["train_end"]
        assert prev["test_end"] == cur["train_end"]
    for r in rows:
        assert r["train_end"] < r["test_end"]
        n_train, n_test = duckdb.sql(
            "SELECT SUM(CASE WHEN CAST(o_orderdate AS DATE) <= ? "
            "           THEN 1 ELSE 0 END), "
            "       SUM(CASE WHEN CAST(o_orderdate AS DATE) > ? "
            "           AND CAST(o_orderdate AS DATE) <= ? THEN 1 ELSE 0 END) "
            f"FROM '{sf_dir}/orders.parquet'",
            params=[r["train_end"], r["train_end"], r["test_end"]],
        ).fetchone()
        assert (r["n_train"], r["n_test"]) == (n_train, n_test)


def test_quantile_normalize_matches_python_rank_map(spark, sf_dir):
    from data_engineer_interview_task_spark.operators import sampling

    docs = duckdb.sql(
        f"SELECT doc_id, source, n_chars FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    n_total = len(docs)
    g_sorted = sorted(docs, key=lambda t: (t[2], t[0]))
    g_chars = [c for _, _, c in g_sorted]
    by_src: dict = defaultdict(list)
    for d, s, c in docs:
        by_src[s].append((c, d))
    expect = {}
    for s, vals in by_src.items():
        vals.sort()
        n_src = len(vals)
        for r, (c, d) in enumerate(vals, start=1):
            t_rank = (r * n_total + n_src - 1) // n_src
            expect[d] = g_chars[t_rank - 1]
    out = sampling.quantile_normalize_per_source(spark, sf_dir).collect()
    assert len(out) == n_total
    for r in out:
        assert r["normalized_chars"] == expect[r["doc_id"]]


def test_expectations_report_clean_corpus_is_all_zero(spark, sf_dir):
    from data_engineer_interview_task_spark.operators import maintenance

    rows = maintenance.data_expectations_report(spark, sf_dir).collect()
    assert {r["check"] for r in rows} == {
        "order_totalprice_positive",
        "order_status_in_domain",
        "order_date_in_range",
        "order_keys_not_null",
        "order_key_unique",
        "lineitem_fk_to_orders",
    }
    assert all(r["n_violations"] == 0 for r in rows)


def test_shuffle_skew_report_matches_pandas_replay(spark, sf_dir):
    """The events row of the skew report equals a pandas value_counts
    replay — percentile rank convention, hot-key argmin tie-break, ceil
    arithmetic and all."""
    import pandas as pd

    from data_engineer_interview_task_spark.operators import maintenance

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id"])
    counts = ev["user_id"].value_counts()
    n_rows, n_keys = int(counts.sum()), int(len(counts))
    mx = int(counts.max())
    hot_key = int(min(k for k, c in counts.items() if c == mx))
    asc = sorted(counts.to_list())
    p50 = asc[(50 * n_keys + 99) // 100 - 1]
    p99 = asc[(99 * n_keys + 99) // 100 - 1]
    row = {
        r["relation"]: r
        for r in maintenance.shuffle_skew_report(spark, sf_dir).collect()
    }["events"]
    assert row["join_key"] == "user_id"
    assert (row["n_rows"], row["n_keys"]) == (n_rows, n_keys)
    assert (row["hot_key"], row["max_key_rows"]) == (hot_key, mx)
    assert (row["p50_key_rows"], row["p99_key_rows"]) == (p50, p99)
    assert row["top1_share_ppm"] == mx * 1_000_000 // n_rows
    assert row["salt_factor"] == (mx * n_keys + n_rows - 1) // n_rows
    assert row["salt_factor"] >= 1


def test_wav_frame_features_matches_md5_replay(spark, sf_dir):
    """Per-frame energy / zero crossings / peak deviation equal a pure
    python replay of the frame math over the md5-derived waveform."""
    import hashlib

    from data_engineer_interview_task_spark.operators import multimodal

    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(20)
        .collect()
    }
    rows = [
        r
        for r in multimodal.multimodal_wav_frame_features(spark, sf_dir)
        .filter(f"doc_id in ({','.join(str(d) for d in docs)})")
        .collect()
    ]
    assert len(rows) == 10 * len(docs)  # 240 samples / 24 per frame
    for r in rows:
        digest = hashlib.md5(docs[r["doc_id"]].encode()).digest()
        samples = (digest * 16)[r["frame_idx"] * 24 : r["frame_idx"] * 24 + 24]
        dev = [s - 128 for s in samples]
        assert r["energy"] == sum(d * d for d in dev)
        assert r["zero_crossings"] == sum(
            1 for a, b in zip(dev, dev[1:]) if (a >= 0) != (b >= 0)
        )
        assert r["peak_dev"] == max(abs(d) for d in dev)
