"""Expected outputs, computed in DuckDB and compared the way
``tools/check_oracle.py`` compares: same row count, same column names, and
equal values once both sides are normalized and sorted.

A query's expected result depends only on its ``oracle_sql()`` text and
the table input, so it is computed once per (query, SQL, input
fingerprint) and pickled under ``perfbench/.oracle_cache``.
"""

from __future__ import annotations

import hashlib
import os
from decimal import Decimal
from pathlib import Path

import pandas as pd

from workloads import TERMS

CACHE_DIR = Path(__file__).resolve().parent / ".oracle_cache"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        kind = s.dtype.kind if hasattr(s.dtype, "kind") else "O"
        if s.dtype == object and s.map(lambda v: isinstance(v, Decimal)).any():
            df[c] = s.map(lambda v: float(v) if isinstance(v, Decimal) else v)
        elif str(s.dtype).startswith("datetime64"):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif kind in "iu":
            df[c] = s.astype("int64")
        elif kind == "f":
            df[c] = s.astype("float64")
        elif s.dtype == object:
            df[c] = s.map(lambda v: str(v))
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def matches(actual: pd.DataFrame, expected: pd.DataFrame) -> bool:
    """``expected`` is already normalized."""
    if len(actual) != len(expected) or sorted(actual.columns) != list(expected.columns):
        return False
    return normalize(actual).equals(expected)


def fingerprint(data_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        h.update(name.encode())
        h.update(Path(data_dir, name).read_bytes())
    return h.hexdigest()[:16]


def _connect(data_dir: str | None = None):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in TABLES if data_dir else ():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def expected_results(names, data_dir: str) -> dict[str, pd.DataFrame]:
    """Normalized expected output of each query in ``names`` over
    ``data_dir``, from the cache when it holds them."""
    from __spark_entry__ import oracle_sql

    sqls = oracle_sql()
    fp = fingerprint(data_dir)
    out, con = {}, None
    CACHE_DIR.mkdir(exist_ok=True)
    for name in names:
        key = hashlib.sha256(f"{name}\0{sqls[name]}\0{fp}".encode()).hexdigest()[:20]
        path = CACHE_DIR / f"{name}-{key}.pkl"
        if not path.exists():
            con = con or _connect(data_dir)
            tmp = path.with_suffix(f".{os.getpid()}.tmp")
            normalize(con.sql(sqls[name]).df()).to_pickle(tmp)
            tmp.rename(path)
        out[name] = pd.read_pickle(path)
    if con is not None:
        con.close()
    return out


#: the DuckDB twin of ``trends_pipeline``, over every appended week at once
TRENDS_SQL = f"""
WITH keep AS (
  SELECT DISTINCT country, week_start FROM (
    SELECT country, week_start, interest FROM long
    GROUP BY country, week_start, interest
    HAVING COUNT(DISTINCT search_term) < {len(TERMS)}
  )
)
SELECT l.country, l.week_start, l.week_end, l.search_term, l.interest,
       CAST(row_number() OVER (
         PARTITION BY l.country, l.week_start
         ORDER BY l.interest DESC NULLS LAST,
                  CASE WHEN l.search_term = 'vpn' THEN 0 ELSE 1 END DESC,
                  l.search_term ASC
       ) AS INTEGER) AS ranking
FROM long l SEMI JOIN keep k ON l.country = k.country AND l.week_start = k.week_start
"""


def trends_expected(long: pd.DataFrame) -> pd.DataFrame:
    con = _connect()
    con.register("long", long)
    out = con.sql(TRENDS_SQL).df()
    con.close()
    return out


def trends_bad_weeks(actual: pd.DataFrame, long: pd.DataFrame) -> set[str]:
    """``week_start`` of each week in ``long`` whose rows in the appended
    table ``actual`` differ from the oracle's."""
    expected = trends_expected(long)
    for frame in (actual, expected):
        frame["interest"] = frame["interest"].astype("float64")
    got = dict(tuple(actual.groupby("week_start")))
    return {
        week
        for week, exp in expected.groupby("week_start")
        if week not in got or not matches(got[week], normalize(exp))
    } | (set(got) - set(expected["week_start"]))
