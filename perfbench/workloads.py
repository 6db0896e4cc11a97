"""The benchmark's workloads and the inputs they are built from.

Table inputs are the fixed seed-42 testdata copied under ``perfbench/data``:
``sf0.01`` is timed, ``sf0.001`` is only used to warm a session up. The
run's seed drives the generated trends matrices and the order of the
operations, so every seed runs the same set of operations on the same
tables.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass

import numpy as np
import pandas as pd

TERMS = ("vpn", "hack", "cyber", "security", "wifi")
COUNTRIES = tuple(f"Country {i:03d}" for i in range(250))
FIRST_WEEK = dt.date(2019, 1, 7)  # a Monday
#: a trends "pass" is one month of weekly appends
WEEKS_PER_PASS = 4
#: throwaway weeks appended while warming the JVM up: a week keeps getting
#: faster for about 40 weeks after the JVM starts (0.7 s to 0.45 s on a
#: 4-core host), as compiled code is swapped in
WARMUP_WEEKS = 36
#: untimed passes over a copy of the timed tables before timing starts: the
#: first three passes after a cold start take 1.4x, 1.15x and 1.07x as long
#: as later ones
WARMUP_PASSES = 2


@dataclass(frozen=True)
class Workload:
    name: str
    #: query names from ``__spark_entry__.queries()``, each run once a pass;
    #: empty for the trends workload, whose operation is one weekly append
    ops: tuple[str, ...] = ()


WORKLOADS = {
    w.name: w
    for w in (
        Workload("trends_weekly_backfill"),
        Workload(
            "iterative_streaming",
            ops=(
                "supplier_label_propagation",
                "streaming_user_ewma",
            ),
        ),
    )
}


def op_order(workload: Workload, seed: int, n_pass: int) -> list[str]:
    """The seeded order in which pass ``n_pass`` issues the queries."""
    order = list(workload.ops)
    random.Random(seed * 1_000_003 + n_pass).shuffle(order)
    return order


def week_dates(week: int) -> tuple[str, str]:
    start = FIRST_WEEK + dt.timedelta(weeks=week)
    return start.isoformat(), (start + dt.timedelta(days=6)).isoformat()


def trends_week(seed: int, week: int) -> pd.DataFrame:
    """One pytrends-shaped ``interest_by_region()`` matrix: countries in a
    ``geoName`` index, one 0-100 column per term and an ``isPartial`` flag.
    About 8% of countries give every term one value (the pipeline drops
    them), a quarter carry a forced tie between two terms, and 2% of cells
    are NaN, which turns their column into float64 as pytrends does."""
    rng = np.random.default_rng([seed, week])
    n = len(COUNTRIES)
    vals = rng.integers(0, 101, size=(n, len(TERMS))).astype(float)
    same = rng.random(n) < 0.08
    vals[same] = rng.integers(0, 101, size=(int(same.sum()), 1))
    for i in np.flatnonzero(~same & (rng.random(n) < 0.25)):
        a, b = rng.choice(len(TERMS), 2, replace=False)
        vals[i, b] = vals[i, a]
    vals[rng.random(vals.shape) < 0.02] = np.nan
    pdf = pd.DataFrame(vals, index=pd.Index(COUNTRIES, name="geoName"), columns=TERMS)
    for t in TERMS:
        if not pdf[t].isna().any():
            pdf[t] = pdf[t].astype("int64")
    pdf["isPartial"] = False
    return pdf


def trends_long(pdf: pd.DataFrame, week: int) -> pd.DataFrame:
    """The week's matrix melted to (country, week_start, week_end,
    search_term, interest), NaN cells as nulls: the oracle's input."""
    start, end = week_dates(week)
    long = (
        pdf[list(TERMS)]
        .reset_index()
        .melt(id_vars="geoName", var_name="search_term", value_name="interest")
        .rename(columns={"geoName": "country"})
    )
    long["interest"] = long["interest"].astype("Int64")
    long["week_start"], long["week_end"] = start, end
    return long
