"""The reference pipeline's operators, Spark-first.

Reference: ``/root/reference/dags/google_trends_to_bigquery.py`` (cited as
``W:<line>``) and its historical twin. The five pandas/Airflow stages become
composable functions over one lazy DataFrame lineage — no XCom JSON serde
(W:39-119), no collects, no Python UDFs.

Input shape (`trends_wide`, FIXTURES.md §1.1): one row per country, one long
column per search term, values 0-100 — the post-serde shape of pytrends
``interest_by_region()`` (W:38).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: W:13 — the five fixed search terms (canonical copy in ``..constants``,
#: re-exported here for the public API).
from ..constants import DEFAULT_TERMS


def _sql_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql_str(value: str) -> str:
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


# The stages below are written as SQL expression strings: a string is one
# py4j call and one parse on the JVM, where each ``Column`` built in Python
# is a round trip of its own. Each stage is one DataFrame call where it can
# be, because every DataFrame call re-analyzes the whole lineage.


def melt_terms(
    wide: DataFrame,
    terms: tuple[str, ...] = DEFAULT_TERMS,
    id_col: str = "country",
) -> DataFrame:
    """Unpivot wide (country x term-columns) to long (country, search_term,
    interest).

    Reference: ``df.melt(id_vars=['index'], var_name='search_term',
    value_name='interest')`` at W:53 (the id column is literally named
    ``'index'`` there because XCom JSON serde drops the index name, W:50-61 —
    Spark has no index, so the country column is normal from the start).

    Spark primitive: ``inline`` over an array of (term, value) structs — a
    narrow ``Generate`` that fans each input row out to N rows in place, with
    the value columns coerced to one common type as ``unpivot`` does. Unlike
    ``unpivot``, whose ``Expand`` reports an unknown partitioning, ``Generate``
    keeps its input's partitioning, so a single-partition wide frame (the
    driver-side ingest, ``sources.ingest.run_trends_ingest``) needs no
    exchange for the per-country windows downstream.
    """
    pairs = ", ".join(
        f"named_struct('search_term', {_sql_str(t)}, 'interest', {_sql_ident(t)})"
        for t in terms
    )
    return wide.selectExpr(_sql_ident(id_col), f"inline(array({pairs}))")


def transform_data(
    wide: DataFrame,
    week_start: str,
    week_end: str,
    terms: tuple[str, ...] = DEFAULT_TERMS,
) -> DataFrame:
    """W:45-67 ``transform_data``: melt -> isin safety filter (W:54) ->
    constant date columns (W:59) -> rename (W:61) -> fixed projection (W:64).

    ``week_start``/``week_end`` are injected like the historical DAG
    (``H:19-20``) — never computed from "now" inside a query. The constant
    columns and the fixed projection are one ``select``.
    """
    long_df = melt_terms(wide, terms)
    return long_df.where(
        f"search_term IN ({', '.join(_sql_str(t) for t in terms)})"
    ).selectExpr(
        "country",
        f"{_sql_str(week_start)} AS week_start",
        f"{_sql_str(week_end)} AS week_end",
        "search_term",
        "interest",
    )


_KEEP = "_same_interest_keep"


def filter_same_interest_countries(df: DataFrame, n_terms: int = 5) -> DataFrame:
    """W:70-87 ``filtering_countries_with_same_interests``: drop countries
    where ALL search terms carry one identical interest value.

    Implemented as the reference's grouped form (SURVEY §2 rows 14-16), not
    the simplified predicate, so edge cases (<5 terms per country) match:

    1. each row's (country, interest) group counts its **distinct**
       search_terms (W:76): ``size(collect_set(search_term))`` over the
       window of the row's interest peers, ``RANGE BETWEEN CURRENT ROW AND
       CURRENT ROW``. NULL interests are peers of each other, as the
       ``groupBy`` has one NULL group;
    2. the group qualifies when that count is < n_terms (W:79);
    3. a country is kept when any of its groups qualifies (W:82-85):
       ``max`` of the flag over the whole country.

    The reference collects the country list to the driver and filters with
    ``isin``; here the keep-list never leaves the executors and there is no
    join at all: both windows partition on ``country`` alone, so the stage
    is one hash exchange (none on a single-partition input). A NULL country
    is dropped, as the reference's ``groupby`` (and a join) drops it. The
    rule keeps or drops whole countries, so it commutes with the per-country
    ranking of ``rank_search_terms``.
    """
    keep = (
        "country IS NOT NULL AND max(size(collect_set(search_term) OVER ("
        "PARTITION BY country ORDER BY interest "
        f"RANGE BETWEEN CURRENT ROW AND CURRENT ROW)) < {int(n_terms)}) "
        "OVER (PARTITION BY country)"
    )
    return df.selectExpr("*", f"{keep} AS {_KEEP}").where(_KEEP).drop(_KEEP)


def rank_search_terms(df: DataFrame) -> DataFrame:
    """W:90-112 ``rank_search_terms``: rank terms per (country, week_start)
    by descending interest with the verified deterministic tie-break.

    The reference sorts globally (W:103) then applies pandas
    ``rank(method='first')`` (W:106), which SURVEY §2 row 19 verified to be
    exactly ``row_number()`` over the total order: interest DESC,
    vpn-priority DESC (non-vpn=1 before vpn=0, so vpn ranks LAST among
    ties, W:100), search_term ASC. The row-wise lambda at W:100 becomes a
    codegen'd CASE WHEN — no Python UDF. No global sort is needed: the
    window's per-partition sort subsumes it.

    All three orderBy keys are required — dropping any makes ranks
    nondeterministic across partitions (the #1 hash-mismatch risk).
    """
    ranking = (
        "row_number() OVER (PARTITION BY country, week_start ORDER BY interest DESC, "
        "CASE WHEN search_term = 'vpn' THEN 0 ELSE 1 END DESC, search_term ASC)"
    )
    return df.selectExpr("*", f"{ranking} AS ranking")


def trends_pipeline(
    wide: DataFrame,
    week_start: str,
    week_end: str,
    terms: tuple[str, ...] = DEFAULT_TERMS,
) -> DataFrame:
    """The full 5-stage reference pipeline (W:196) as ONE lazy lineage:
    extract is the caller's ``wide`` DataFrame; the sink (W:116-159) is
    ``sources.sinks.append_to_table``. Output schema matches the declared
    BigQuery schema at W:136-143 (dates stay strings; see SURVEY §1.2).

    Ranking runs before the same-interest filter: the filter keeps or drops
    whole countries, so a kept row's rank is the same either way. Every window
    partitions on ``country`` alone (the literal ``week_start`` folds out of
    the ranking's partition spec): the whole pipeline is one hash exchange,
    with no join and no broadcast.
    """
    long_df = transform_data(wide, week_start, week_end, terms)
    ranked = rank_search_terms(long_df)
    return filter_same_interest_countries(ranked, n_terms=len(terms))
