"""Round-10 property tests.

1. Plan pins for the three de-weakened queries (VERDICT r9 item 1):
   no unbounded-grain global-window sort survives in ``revenue_gini``
   (customer grain — the pareto sibling), ``ks_two_sample`` or
   ``mann_whitney_u`` (both distinct-value-cents grain) — every
   remaining window is ``_pid``-scoped (the two-phase in-partition
   pass) or runs on the n_parts-row offset frame.
2. Mann-Kendall tie handling (ADVICE r9 medium): ``n_days`` must be
   the DAY count (SUM of tie-group sizes), not the distinct-value
   count — pinned on a CONSTRUCTED corpus with tied daily sums, the
   case the shared-fixture replay can't reach (the driver corpora are
   tie-free at every SF).
3. Single-day event types are DROPPED by the trend battery
   (documented) — pinned on the same constructed corpus.
"""
from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_engineer_interview_task_spark.plans import explain_str


def _window_lines(plan: str):
    return [
        ln for ln in plan.splitlines() if "windowspecdefinition(" in ln
    ]


def test_revenue_gini_plan_has_no_global_sort_window(spark, sf_dir):
    from data_engineer_interview_task_spark.operators import extended

    plan = explain_str(extended.revenue_gini(spark, sf_dir))
    for ln in _window_lines(plan):
        assert "_pid" in ln, f"customer-grain global window: {ln}"


def test_ks_two_sample_plan_has_no_global_sort_window(spark, sf_dir):
    from data_engineer_interview_task_spark.operators import cleaning

    plan = explain_str(cleaning.ks_two_sample(spark, sf_dir))
    for ln in _window_lines(plan):
        assert "_pid" in ln, f"value-grain global window: {ln}"


def test_mann_whitney_plan_has_no_global_sort_window(spark, sf_dir):
    from data_engineer_interview_task_spark.operators import cleaning

    plan = explain_str(cleaning.mann_whitney_u(spark, sf_dir))
    for ln in _window_lines(plan):
        assert "_pid" in ln, f"value-grain global window: {ln}"


def test_gini_two_phase_matches_direct_computation(spark, sf_dir):
    """The two-phase rank must reproduce the classic single-sort Gini
    bit-for-bit on the real corpus (rank-weighted sum is an exact
    integer identity, so any rank misalignment flips the hash)."""
    from data_engineer_interview_task_spark.operators import extended
    from data_engineer_interview_task_spark.sources import read_table

    per_cust = sorted(
        (r.rev, r.o_custkey)
        for r in read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                    "long"
                )
            ).alias("rev")
        )
        .collect()
    )
    n = len(per_cust)
    tot = sum(v for v, _ in per_cust)
    wsum = sum(i * v for i, (v, _) in enumerate(per_cust, start=1))
    got = extended.revenue_gini(spark, sf_dir).collect()[0]
    assert got.n_customers == n
    assert got.total_revenue == tot / 100.0
    assert got.gini == float(2 * wsum - (n + 1) * tot) / float(n * tot)


@pytest.fixture(scope="module")
def tied_sf_dir(spark, tmp_path_factory):
    """A tiny corpus whose daily sums TIE within a type (two days of
    'click' both sum to 100 cents) plus a single-day type 'solo'."""
    base = dt.datetime(2024, 1, 1, 12)
    day = dt.timedelta(days=1)
    rows = [
        # click: day sums 100, 100 (TIE), 200 over three days
        (1, 1, base, "click", 1.00, "{}"),
        (2, 1, base + day, "click", 0.60, "{}"),
        (3, 1, base + day, "click", 0.40, "{}"),
        (4, 1, base + 2 * day, "click", 2.00, "{}"),
        # solo: one day only -> dropped by the trend battery
        (5, 2, base, "solo", 5.00, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string,"
        " value double, props string",
    )
    d = tmp_path_factory.mktemp("tied_corpus")
    df.write.parquet(str(d / "events.parquet"))
    return str(d)


def test_mann_kendall_counts_days_not_distinct_values(spark, tied_sf_dir):
    from data_engineer_interview_task_spark.operators import cleaning

    got = {
        r.event_type: r.asDict()
        for r in cleaning.mann_kendall_trend(spark, tied_sf_dir).collect()
    }
    # single-day type dropped, documented
    assert set(got) == {"click"}
    g = got["click"]
    # series 100, 100, 200: S = 0 + 1 + 1 = 2 over 3 pairs
    assert g["n_days"] == 3  # DAYS, not the 2 distinct values
    assert g["n_pairs"] == 3
    assert g["s_stat"] == 2
    assert g["tau_ppm"] == 1_000_000 * 2 // 3
    # var18 = n(n-1)(2n+5) - t(t-1)(2t+5) = 3*2*11 - 2*1*9 = 48
    assert g["var18"] == 48


def test_mann_kendall_oracle_matches_on_tied_corpus(spark, tied_sf_dir):
    """The DuckDB oracle had the identical n_days bug (ADVICE r9) — run
    it over the constructed tied corpus and pin the corrected values."""
    import duckdb

    import __spark_entry__ as entrymod

    sql = entrymod.oracle_sql()["mann_kendall_trend"]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{tied_sf_dir}/events.parquet/*.parquet')"
    )
    rows = con.execute(sql).fetchall()
    cols = [d[0] for d in con.description]
    got = dict(zip(cols, rows[0]))
    assert len(rows) == 1 and got["event_type"] == "click"
    assert got["n_days"] == 3
    assert got["var18"] == 48


def test_trend_battery_drops_single_day_types(spark, tied_sf_dir):
    from data_engineer_interview_task_spark.operators import cleaning

    for fn in (cleaning.theil_sen_slope, cleaning.pettitt_change_point):
        types = {r.event_type for r in fn(spark, tied_sf_dir).collect()}
        assert types == {"click"}, fn.__name__


# --- header-only image metadata scan --------------------------------------


def test_image_header_parser_all_containers_and_errors():
    """The header parser must read back exactly what every in-tree
    encoder embeds — including the progressive-JPEG SOF2 and interlaced
    GIF shapes the fixture doesn't use — and reject junk/truncation."""
    import hashlib

    import pytest as _pytest

    from data_engineer_interview_task_spark.functions.bmp_codec import (
        bmp_encode_rle8,
    )
    from data_engineer_interview_task_spark.functions.gif_codec import (
        gif_encode,
    )
    from data_engineer_interview_task_spark.functions.image_meta import (
        parse_image_header,
    )
    from data_engineer_interview_task_spark.functions.jpeg_codec import (
        jpeg_encode,
        jpeg_encode_color,
        jpeg_encode_progressive,
    )
    from data_engineer_interview_task_spark.functions.png_codec import (
        png_encode,
    )

    pal = bytes(
        b for i in range(256) for b in (i, (7 * i) % 256, (13 * i) % 256)
    )
    d = hashlib.md5(b"probe").digest()
    px = (d * 100)[: 13 * 9]
    assert parse_image_header(png_encode(px, 13, 9, 0)) == ("png", 13, 9, 8, 1)
    g = (d * 100)[: 16 * 24]
    assert parse_image_header(jpeg_encode(g, 16, 24)) == ("jpeg", 16, 24, 8, 1)
    rgb = (d * 100)[: 3 * 8 * 16]
    assert parse_image_header(jpeg_encode_color(rgb, 8, 16)) == (
        "jpeg", 8, 16, 8, 3,
    )
    # progressive SOF2: the marker walk must stop at the frame header
    assert parse_image_header(jpeg_encode_progressive(g, 16, 24)) == (
        "jpeg", 16, 24, 8, 1,
    )
    idx = (d * 100)[: 7 * 11]
    assert parse_image_header(gif_encode(idx, 7, 11, pal)) == (
        "gif", 7, 11, 8, 1,
    )
    assert parse_image_header(
        gif_encode(idx, 7, 11, pal, interlace=True)
    ) == ("gif", 7, 11, 8, 1)
    rows = [bytes(d[(y + x) % 16] for x in range(6)) for y in range(4)]
    assert parse_image_header(bmp_encode_rle8(rows, 6, 4, pal)) == (
        "bmp", 6, 4, 8, 1,
    )
    # truncation paths that internally hit struct.error / IndexError
    # must still surface as the documented ValueError (ADVICE r10):
    # short seg_len slice, short SOF prefix, fill-byte run ending at
    # EOF, GIF cut after the magic, short BMP.
    for bad in (
        b"",
        b"not an image",
        b"\xff\xd8\xff",
        b"BM\x00\x01",
        b"\xff\xd8\xff\xe0\x00",                      # 1-byte seg_len slice
        b"\xff\xd8\xff\xc0\x00\x08\x08\x00\x10",      # short SOF prefix
        b"\xff\xd8\xff\xff\xff\xff",                  # fill run to EOF
        b"GIF89a\x07\x00",                            # short screen desc
    ):
        with _pytest.raises(ValueError):
            parse_image_header(bad)


def test_image_metadata_dims_vary_across_docs(spark, sf_dir):
    """Non-vacancy: the md5-derived fixture dims must VARY across the
    corpus for every format (a constant-dims fixture would pass with a
    parser that never reads the payload)."""
    from data_engineer_interview_task_spark.operators import multimodal

    rows = multimodal.multimodal_image_metadata(spark, sf_dir).collect()
    assert len(rows) == 4 * len({r.doc_id for r in rows})
    by_fmt = {}
    for r in rows:
        by_fmt.setdefault(r.fmt, set()).add((r.width, r.height))
    assert set(by_fmt) == {"png", "jpeg", "gif", "bmp"}
    for fmt, dims in by_fmt.items():
        assert len(dims) > 1, f"{fmt} dims constant — vacuous fixture"


# --- Spearman / Kendall tau-b -----------------------------------------------


def _daily_xy(spark, sf_dir):
    from data_engineer_interview_task_spark.sources import read_table

    rows = (
        read_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("x"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    (F.col("value").cast("decimal(18,2)") * 100).cast(
                        "long"
                    ),
                ).otherwise(0)
            ).alias("y"),
        )
        .collect()
    )
    return [(r.x, r.y) for r in rows]


def test_spearman_matches_fraction_model(spark, sf_dir):
    """The doubled-midrank moment formulation must equal the textbook
    Spearman (Pearson over exact-rational midranks) computed with
    Fraction, pushed through the same final IEEE ops."""
    import math
    from collections import Counter
    from fractions import Fraction

    from data_engineer_interview_task_spark.operators import cleaning

    xy = _daily_xy(spark, sf_dir)
    n = len(xy)

    def doubled_ranks(vals):
        cnt = Counter(vals)
        lower = {
            v: sum(c for u, c in cnt.items() if u < v) for v in cnt
        }
        # 2*midrank = 2*(lower+1) + t - 1
        return [2 * (lower[v] + 1) + cnt[v] - 1 for v in vals]

    dx = doubled_ranks([x for x, _ in xy])
    dy = doubled_ranks([y for _, y in xy])
    got = cleaning.spearman_daily_correlation(spark, sf_dir).collect()[0]
    assert got.n_days == n
    assert got.sum2r_x == sum(dx) == n * (n + 1)
    assert got.sum2r_y == sum(dy) == n * (n + 1)
    num = n * sum(a * b for a, b in zip(dx, dy)) - sum(dx) * sum(dy)
    vx = n * sum(a * a for a in dx) - sum(dx) ** 2
    vy = n * sum(b * b for b in dy) - sum(dy) ** 2
    expect = float(num) / (math.sqrt(float(vx)) * math.sqrt(float(vy)))
    assert got.spearman_rho == expect
    # Cauchy-Schwarz in exact rationals: rho² <= 1 with no float slack
    assert Fraction(num) ** 2 <= Fraction(vx) * Fraction(vy)
    assert abs(expect) <= 1.0


def test_kendall_tau_b_matches_direct_computation(spark, sf_dir):
    import math
    from collections import Counter

    from data_engineer_interview_task_spark.operators import cleaning

    xy = _daily_xy(spark, sf_dir)
    n = len(xy)
    nc = nd = 0
    for i in range(n):
        for j in range(i + 1, n):
            sx = (xy[j][0] > xy[i][0]) - (xy[j][0] < xy[i][0])
            sy = (xy[j][1] > xy[i][1]) - (xy[j][1] < xy[i][1])
            if sx * sy == 1:
                nc += 1
            elif sx * sy == -1:
                nd += 1
    n0 = n * (n - 1) // 2
    n1 = sum(
        t * (t - 1) // 2 for t in Counter(x for x, _ in xy).values()
    )
    n2 = sum(
        t * (t - 1) // 2 for t in Counter(y for _, y in xy).values()
    )
    got = cleaning.kendall_tau_b_daily(spark, sf_dir).collect()[0]
    assert (got.nc, got.nd, got.n0, got.n1, got.n2) == (nc, nd, n0, n1, n2)
    expect = (float(nc) - float(nd)) / (
        math.sqrt(float(n0) - float(n1)) * math.sqrt(float(n0) - float(n2))
    )
    assert got.tau_b == expect
    assert got.nc + got.nd <= n0  # ties excluded from both counts


# --- stratified priority sampling / perplexity buckets ----------------------


def test_priority_sample_per_source_plan_and_quota(spark, sf_dir):
    """Plan: the rank<=k filter must compile to WindowGroupLimit (map-side
    per-group top-k before the shuffle — the distributed per-group top-k
    plan). Semantics: every source with >= k docs yields exactly k rows,
    ranks are 1..k, and each winner set equals the python replay over
    the exact (q, doc_id) keys."""
    import hashlib
    from collections import defaultdict

    from data_engineer_interview_task_spark.operators import sampling
    from data_engineer_interview_task_spark.sources import read_table

    plan = explain_str(sampling.priority_sample_per_source(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    keys = defaultdict(list)
    for r in docs:
        u = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:13], 16)
        w = max(len(r.text.split(" ")), 1)
        keys[r.source].append((u / w, r.doc_id, w))
    got = defaultdict(dict)
    for r in sampling.priority_sample_per_source(spark, sf_dir).collect():
        got[r.source][r.rk] = (r.doc_id, r.w)
    assert set(got) == set(keys)
    for src, lst in keys.items():
        lst.sort()
        expect = lst[: min(5, len(lst))]
        assert len(got[src]) == len(expect)
        for rk, (q, doc_id, w) in enumerate(expect, start=1):
            assert got[src][rk] == (doc_id, w), (src, rk)


def test_perplexity_buckets_partition_each_source(spark, sf_dir):
    """Bucket counts must be the exact 30/30/40 rank cuts of each
    source's scored-doc count, and score ranges must be ordered
    head <= middle <= tail (the CCNet invariant)."""
    from data_engineer_interview_task_spark.operators import text

    rows = {
        (r.source, r.bucket): r.asDict()
        for r in text.perplexity_bucket_report(spark, sf_dir).collect()
    }
    by_src = {}
    for (src, b), rec in rows.items():
        by_src.setdefault(src, {})[b] = rec
    assert by_src, "no sources scored"
    for src, bs in by_src.items():
        n = sum(r["n_docs"] for r in bs.values())
        assert bs["head"]["n_docs"] == 3 * n // 10
        assert bs["middle"]["n_docs"] == 6 * n // 10 - 3 * n // 10
        assert bs["tail"]["n_docs"] == n - 6 * n // 10
        assert (
            bs["head"]["max_millibits"]
            <= bs["middle"]["min_millibits"]
            or bs["head"]["max_millibits"] == bs["middle"]["min_millibits"]
        )
        assert bs["middle"]["max_millibits"] <= bs["tail"]["min_millibits"] or (
            bs["middle"]["max_millibits"] == bs["tail"]["min_millibits"]
        )


def test_bitmap_ivm_merge_is_nondegenerate_and_exact(spark, sf_dir):
    """Both cutoff sides must be non-empty, at least one week must
    straddle the cutoff (so the OR-merge genuinely dedups a user seen
    on both sides), and the merged popcounts must equal the full
    recompute."""
    from data_engineer_interview_task_spark.operators import relational
    from data_engineer_interview_task_spark.sources import read_table

    events = read_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-17").cast("timestamp")
    pre = events.filter(F.col("ts") < cutoff)
    post = events.filter(F.col("ts") >= cutoff)
    assert pre.count() > 0 and post.count() > 0
    straddle = (
        pre.select(F.date_trunc("week", "ts").alias("w"))
        .intersect(post.select(F.date_trunc("week", "ts").alias("w")))
        .count()
    )
    assert straddle > 0, "no straddling week — the merge is vacuous"
    got = {
        r.week_start: r.n_users
        for r in relational.incremental_bitmap_distinct_merge(
            spark, sf_dir
        ).collect()
    }
    full = {
        r.week_start: r.n
        for r in events.groupBy(
            F.to_date(F.date_trunc("week", "ts")).alias("week_start")
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == full
