"""Vector math over ``array<float>`` embedding columns — pure column
expressions (JVM-side, whole-stage-codegen'd); no Python UDFs.

Two precision modes:

- ``dot_expr``/``norm_expr``/``cosine_expr`` (double): the fast path for
  ranking/ANN at scale. Double addition is non-associative, so exact value
  reproducibility across engines is not guaranteed (ranks virtually always
  are, for non-identical random vectors).
- ``*_decimal`` variants: promote each term to DECIMAL before summation.
  Decimal addition is exact and associative, so the result is bit-identical
  regardless of partitioning or engine — these back the DuckDB-oracle-checked
  queries.

Two exact conventions shared by the approximate (ANN, quantizer,
clustering) family, so every one of its queries is oracle-checkable:

- ``fixed_point``/``fixed_mean``: 1e-9 fixed-point components and the
  one centroid mean built from them;
- ``top_k``: the one per-group ``row_number() <= k`` tail.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Scale chosen so 64 products of unit-ish components (|x|<1) can't overflow
# and rounding is well past float32 precision.
_DEC = "decimal(28,14)"


def dot_expr(a: Column, b: Column) -> Column:
    """Dot product of two float arrays, accumulated in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    """L2 norm, accumulated in double."""
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity in double (fast path)."""
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def dot_decimal_expr(a: Column, b: Column) -> Column:
    """Exact-reproducible dot product: each pairwise product is computed in
    double, rounded once into DECIMAL(28,14), then summed exactly.

    The merge lambda casts back to the accumulator type — decimal addition
    widens (28,14)+(28,14) -> (29,14) and Spark's ``aggregate`` requires the
    lambda result to keep the zero's type. The cast is lossless here: |dot|
    of unit-ish 64-dim vectors is far below 10^13."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") * y.cast("double")).cast(_DEC),
        ),
        F.lit(0).cast(_DEC),
        lambda acc, x: (acc + x).cast(_DEC),
    )


def sq_norm_decimal_expr(a: Column) -> Column:
    """Exact-reproducible squared L2 norm (DECIMAL accumulation)."""
    return F.aggregate(
        a,
        F.lit(0).cast(_DEC),
        lambda acc, x: (acc + (x.cast("double") * x.cast("double")).cast(_DEC)).cast(_DEC),
    )


def fixed_point(x: Column) -> Column:
    """``floor(double(x) * 1e9)`` as BIGINT: the 1e-9 fixed-point form of
    a component. Long sums of it are exact and partition-order
    independent, and ``floor`` of the same IEEE product is engine-identical
    where a double->DECIMAL cast is not (Spark rounds half-up on the
    shortest decimal repr, DuckDB on the binary expansion: the sf1 sweep
    caught one such tie in 1.28M casts) and where a double->BIGINT cast is
    not (Spark truncates, DuckDB rounds)."""
    return F.floor(x.cast("double") * 1e9)


def fixed_mean(df: DataFrame, key: str) -> DataFrame:
    """Per-``key`` fixed-point mean of the ``embedding`` arrays, one row
    per (key, dim): ``c = double(sum(fixed_point(x))) / count / 1e9``, in
    that order (the DuckDB twins embed the same association), plus the
    group size ``n``. A double mean would be partition-order dependent, and
    a centroid that wobbles at the last ulp can reorder a probe."""
    ex = df.select(key, F.posexplode("embedding").alias("dim", "x"))
    return ex.groupBy(key, "dim").agg(
        (
            F.sum(fixed_point(F.col("x"))).cast("double")
            / F.count(F.lit(1))
            / 1e9
        ).alias("c"),
        F.count(F.lit(1)).alias("n"),
    )


def fixed_mean_array(df: DataFrame, key: str) -> DataFrame:
    """:func:`fixed_mean` reassembled into ``(key, centroid array<double>)``
    in dimension order (``dim`` is unique within a group, so the sort is
    deterministic)."""
    return (
        fixed_mean(df, key)
        .groupBy(key)
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("pairs"))
        .select(key, F.transform("pairs", lambda p: p["c"]).alias("centroid"))
    )


def top_k(
    df: DataFrame,
    by: str | Sequence[str],
    order: Sequence[Column],
    k: int,
    rank: str = "rank",
) -> DataFrame:
    """The first ``k`` rows of each ``by`` group under ``order``, numbered
    1..k in column ``rank``. ``order`` must end in a unique id so the cut
    is total (ties on the score break on that id, identically in the
    DuckDB twins). Catalyst plans it as a map-side ``WindowGroupLimit``
    before the shuffle; ``tests/test_dedup_similarity.py`` pins that for
    every registry query that ranks through here."""
    by = [by] if isinstance(by, str) else list(by)
    w = Window.partitionBy(*by).orderBy(*order)
    return df.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)
