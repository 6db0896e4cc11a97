"""Golden tests for the reference pipeline semantics on the trends-shaped
fixture (FIXTURES.md §1.1) — pins the two subtleties SURVEY.md §2 verified
against real pandas:

- rows 14-16: a country is dropped iff ALL terms share one identical
  interest value (all-37s drops, not just all-0s);
- row 19: ranking ties put vpn LAST, others alphabetical.
"""

from __future__ import annotations

import pytest

from data_engineer_interview_task_spark.operators import trends

WIDE_ROWS = [
    # (country, vpn, hack, cyber, security, wifi)
    ("AllSame37", 37, 37, 37, 37, 37),  # DROPPED (not just zeros!)
    ("AllZero", 0, 0, 0, 0, 0),  # DROPPED
    ("FourSame", 5, 9, 5, 5, 5),  # KEPT (vpn=5,hack=9,cyber=5,sec=5,wifi=5)
    ("Mixed", 10, 10, 0, 0, 0),  # KEPT; vpn ties hack at top
    ("Plain", 80, 60, 40, 20, 10),  # KEPT; strictly descending
]

WEEK = ("2021-01-04", "2021-01-10")


@pytest.fixture(scope="module")
def wide(spark):
    return spark.createDataFrame(
        WIDE_ROWS, ["country", "vpn", "hack", "cyber", "security", "wifi"]
    )


def _ranked(spark, wide):
    out = trends.trends_pipeline(wide, *WEEK)
    rows = out.collect()
    return {
        (r.country, r.search_term): (r.interest, r.ranking) for r in rows
    }, rows


def test_same_interest_countries_dropped(spark, wide):
    got, rows = _ranked(spark, wide)
    countries = {r.country for r in rows}
    assert countries == {"FourSame", "Mixed", "Plain"}


def test_schema_matches_sink(spark, wide):
    out = trends.trends_pipeline(wide, *WEEK)
    assert out.columns == [
        "country",
        "week_start",
        "week_end",
        "search_term",
        "interest",
        "ranking",
    ]


def test_four_same_tie_break_vpn_last(spark, wide):
    got, _ = _ranked(spark, wide)
    # hack=9 wins; at interest 5 the tie-break is alphabetical with vpn LAST
    assert got[("FourSame", "hack")] == (9, 1)
    assert got[("FourSame", "cyber")] == (5, 2)
    assert got[("FourSame", "security")] == (5, 3)
    assert got[("FourSame", "wifi")] == (5, 4)
    assert got[("FourSame", "vpn")] == (5, 5)


def test_mixed_tie_at_top_vpn_second(spark, wide):
    got, _ = _ranked(spark, wide)
    assert got[("Mixed", "hack")] == (10, 1)
    assert got[("Mixed", "vpn")] == (10, 2)
    assert got[("Mixed", "cyber")] == (0, 3)
    assert got[("Mixed", "security")] == (0, 4)
    assert got[("Mixed", "wifi")] == (0, 5)


def test_plain_descending(spark, wide):
    got, _ = _ranked(spark, wide)
    order = ["vpn", "hack", "cyber", "security", "wifi"]
    for term, rank in zip(order, [1, 2, 3, 4, 5]):
        assert got[("Plain", term)][1] == rank


def test_week_constants_broadcast(spark, wide):
    _, rows = _ranked(spark, wide)
    assert all(r.week_start == WEEK[0] and r.week_end == WEEK[1] for r in rows)


def test_melt_shape(spark, wide):
    long_df = trends.melt_terms(wide)
    assert long_df.columns == ["country", "search_term", "interest"]
    assert long_df.count() == 5 * len(WIDE_ROWS)


def test_partial_country_kept(spark):
    # a country with <5 term rows, all identical -> still KEPT (its single
    # value-group has <5 distinct terms): the literal W:76-85 form, not the
    # "all identical" simplification
    wide = spark.createDataFrame(
        [("OnlyTwo", 3, 3)], ["country", "vpn", "hack"]
    )
    long_df = trends.transform_data(wide, *WEEK, terms=("vpn", "hack"))
    kept = trends.filter_same_interest_countries(long_df, n_terms=5)
    assert kept.count() == 2


def test_null_country_dropped(spark):
    # the reference's groupby drops a NaN country, so it never reaches the
    # keep-list (W:76-85)
    wide = spark.createDataFrame(
        [(None, 1, 2), ("A", 1, 2)], "country string, vpn long, hack long"
    )
    out = trends.trends_pipeline(wide, *WEEK, terms=("vpn", "hack"))
    assert {r.country for r in out.collect()} == {"A"}


def test_ingest_wide_matrix_from_pytrends_shape(spark):
    """The live-ingestion seam (reference W:36-38 analog): a pandas frame
    in the raw interest_by_region shape — countries in a named index, an
    extra isPartial column, a NaN cell — promotes to the declared schema
    and runs the full pipeline to the same golden answers."""
    import pandas as pd

    from data_engineer_interview_task_spark.sources import (
        ingest_wide_matrix,
        run_trends_ingest,
        wide_matrix_schema,
    )

    pdf = pd.DataFrame(
        {
            "vpn": [37, 5, 80],
            "hack": [37, 9, 60],
            "cyber": [37, 5, 40],
            "security": [37, 5, 20],
            "wifi": [37.0, 5.0, float("nan")],  # float col w/ NaN: API shape
            "isPartial": [False, False, True],  # pytrends noise column
        },
        index=pd.Index(["AllSame37", "FourSame", "Plain"], name="geoName"),
    )
    wide = ingest_wide_matrix(spark, pdf)
    assert wide.schema == wide_matrix_schema()
    assert wide.count() == 3
    # NaN became a proper SQL NULL, not a float sentinel
    assert wide.filter("country = 'Plain' AND wifi IS NULL").count() == 1

    ranked = run_trends_ingest(spark, pdf, *WEEK)
    got = {
        (r.country, r.search_term): (r.interest, r.ranking)
        for r in ranked.collect()
    }
    countries = {c for c, _ in got}
    assert countries == {"FourSame", "Plain"}  # AllSame37 dropped (golden)
    assert got[("FourSame", "hack")] == (9, 1)
    assert got[("FourSame", "vpn")] == (5, 5)  # vpn LAST among the 5-ties
    assert got[("Plain", "vpn")] == (80, 1)


def test_ingest_wide_matrix_missing_term_raises(spark):
    import pandas as pd
    import pytest as _pytest

    from data_engineer_interview_task_spark.sources import ingest_wide_matrix

    pdf = pd.DataFrame({"country": ["X"], "vpn": [1]})
    with _pytest.raises(ValueError, match="missing term columns"):
        ingest_wide_matrix(spark, pdf)


def test_ingest_wide_matrix_with_arrow_off(spark):
    """The non-Arrow createDataFrame path takes the same NaN-bearing
    pytrends matrix: NaN becomes NULL and the other cells stay integral."""
    import pandas as pd

    from data_engineer_interview_task_spark.sources import ingest_wide_matrix

    pdf = pd.DataFrame(
        {t: [47.0, float("nan")] for t in trends.DEFAULT_TERMS},
        index=pd.Index(["A", "B"], name="geoName"),
    )
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        rows = sorted(ingest_wide_matrix(spark, pdf).collect())
    finally:
        spark.conf.set(key, before)
    assert [tuple(r) for r in rows] == [("A", 47, 47, 47, 47, 47), ("B",) + (None,) * 5]


# -- differential test against a pandas twin of W:70-112 ----------------------

TERMS = trends.DEFAULT_TERMS


def _pytrends_matrix(seed: int, n: int = 60):
    """A pytrends-shaped ``interest_by_region()`` matrix (countries in a
    ``geoName`` index, float columns where a cell is NaN) with the edge
    rows of the same-interest rule appended."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    vals = rng.integers(0, 101, size=(n, len(TERMS))).astype(float)
    same = rng.random(n) < 0.15
    vals[same] = rng.integers(0, 101, size=(int(same.sum()), 1))
    for i in np.flatnonzero(~same & (rng.random(n) < 0.3)):
        a, b = rng.choice(len(TERMS), 2, replace=False)
        vals[i, b] = vals[i, a]
    vals[rng.random(vals.shape) < 0.05] = np.nan
    nan = float("nan")
    edge = [
        ("AllNaN", [nan] * 5),  # one NULL group of 5 terms: dropped
        ("NaNPlusFourSame", [nan, 7, 7, 7, 7]),  # groups of 1 and 4: kept
        ("Dup", [3, 3, 3, 3, 3]),  # duplicate country rows: kept, the
        ("Dup", [3, 9, 3, 3, 3]),  # first row's 3-group has 4 terms
        ("DupSame", [5] * 5),  # duplicate all-same rows: dropped
        ("DupSame", [5] * 5),
    ]
    countries = [f"C{i:03d}" for i in range(n)] + [c for c, _ in edge]
    vals = np.vstack([vals, [v for _, v in edge]])
    return pd.DataFrame(vals, index=pd.Index(countries, name="geoName"), columns=list(TERMS))


def _melted(pdf, terms=TERMS):
    long = (
        pdf[list(terms)]
        .reset_index()
        .melt(id_vars="geoName", var_name="search_term", value_name="interest")
        .rename(columns={"geoName": "country"})
    )
    long["interest"] = long["interest"].astype("Int64")
    long["week_start"], long["week_end"] = WEEK
    return long


def _pandas_pipeline(long, n_terms: int = 5):
    """W:70-112 in pandas: keep a country when one of its (country,
    interest) groups has fewer than ``n_terms`` distinct terms (a NaN
    interest is a group, as Spark's NULL group), then the W:100-103 sort and
    ``rank(method='first')``. NaN interests rank last, as the engine's
    ``interest DESC`` puts NULLs last."""
    distinct = long.groupby(["country", "interest"], dropna=False).search_term.nunique()
    keep = distinct[distinct < n_terms].index.get_level_values("country").unique()
    out = long[long.country.isin(keep)].copy()
    out["sort_priority"] = (out.search_term != "vpn").astype(int)
    out = out.sort_values(
        ["country", "week_start", "interest", "sort_priority", "search_term"],
        ascending=[True, True, False, False, True],
    )
    out["ranking"] = (
        out.groupby(["country", "week_start"])
        .interest.rank(method="first", ascending=False, na_option="bottom")
        .astype("int32")
    )
    return out


def _canonical(df):
    cols = ["country", "week_start", "week_end", "search_term", "interest", "ranking"]
    df = df[cols].astype({"interest": "Int64", "ranking": "int32"})
    return df.sort_values(cols, na_position="first").reset_index(drop=True)


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("path", ["ingest", "shuffled"])
def test_pipeline_matches_pandas_twin(spark, seed, path):
    """The engine's rows equal the pandas twin's on seeded matrices, on the
    single-partition ingest path and on a multi-partition input, where the
    per-country windows run after a hash exchange."""
    from pandas.testing import assert_frame_equal

    from data_engineer_interview_task_spark.sources import ingest_wide_matrix, run_trends_ingest

    pdf = _pytrends_matrix(seed)
    if path == "ingest":
        out = run_trends_ingest(spark, pdf, *WEEK)
    else:
        wide = ingest_wide_matrix(spark, pdf).repartition(3)
        out = trends.trends_pipeline(wide, *WEEK)
    expected = _pandas_pipeline(_melted(pdf))
    assert {"AllNaN", "DupSame"}.isdisjoint(expected.country)
    assert {"NaNPlusFourSame", "Dup"} <= set(expected.country)
    assert_frame_equal(_canonical(out.toPandas()), _canonical(expected))


def test_partial_country_matches_pandas_twin(spark):
    """Fewer than n_terms term rows per country (the
    ``test_partial_country_kept`` case): every value-group is short of
    n_terms distinct terms, so every country is kept."""
    import pandas as pd
    from pandas.testing import assert_frame_equal

    terms = ("vpn", "hack")
    pdf = pd.DataFrame(
        {"vpn": [3, 4, 8], "hack": [3, 6, 8]},
        index=pd.Index(["OnlyTwo", "Other", "Same"], name="geoName"),
    )
    wide = spark.createDataFrame(pdf.rename_axis("country").reset_index())
    long_df = trends.transform_data(wide, *WEEK, terms=terms)
    out = trends.filter_same_interest_countries(trends.rank_search_terms(long_df), n_terms=5)
    expected = _pandas_pipeline(_melted(pdf, terms), n_terms=5)
    assert set(expected.country) == {"OnlyTwo", "Other", "Same"}
    assert_frame_equal(_canonical(out.toPandas()), _canonical(expected))
