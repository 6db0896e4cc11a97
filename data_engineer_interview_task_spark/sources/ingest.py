"""Live wide-matrix ingestion seam — the reference's HTTP-fetch analog.

Reference: ``dags/google_trends_to_bigquery.py:36-38`` fetches
``TrendReq().interest_by_region()`` on the DRIVER — a small pandas frame
(one row per country, one 0-100 column per search term, countries in the
index). That is the right split at any scale: the fetch is a tiny
driver-side side input; everything after it is distributed. This module is
the boundary: promote the driver-local pandas matrix into a schema-explicit
Spark DataFrame, then hand it to ``operators.trends.trends_pipeline``.

Schema is DECLARED, never inferred: inference reads the pandas dtypes,
which float-ify integer columns containing NaN (the classic silent-schema
drift) and vary by pandas version. A fixed ``LongType`` per term keeps the
pipeline's output schema byte-stable across fetches.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..constants import DEFAULT_TERMS


def wide_matrix_schema(
    terms: tuple[str, ...] = DEFAULT_TERMS, id_col: str = "country"
) -> StructType:
    """Explicit schema for the wide trends matrix: (id_col string, one
    long column per term). Nullable longs: the upstream API returns NaN
    for regions with no data in the window."""
    return StructType(
        [StructField(id_col, StringType(), nullable=False)]
        + [StructField(t, LongType(), nullable=True) for t in terms]
    )


def ingest_wide_matrix(
    spark: SparkSession,
    pdf,
    terms: tuple[str, ...] = DEFAULT_TERMS,
    id_col: str = "country",
) -> DataFrame:
    """Promote a driver-fetched pandas wide matrix to a Spark DataFrame.

    Accepts the exact shape ``interest_by_region()`` returns — countries in
    the pandas INDEX (named ``geoName``) — or an already-reset frame with
    an explicit id column. Extra columns (e.g. pytrends' ``isPartial``)
    are dropped; missing term columns raise rather than silently emitting
    nulls for a term the pipeline will rank.

    The result is a normal (tiny) DataFrame: downstream joins against it
    broadcast, and the 5-stage pipeline stays one lazy lineage from here.
    """
    import pandas as pd

    if id_col not in pdf.columns:
        # countries live in the index (the raw interest_by_region shape)
        pdf = pdf.reset_index()
        pdf = pdf.rename(columns={pdf.columns[0]: id_col})
    missing = [t for t in terms if t not in pdf.columns]
    if missing:
        raise ValueError(f"wide matrix missing term columns: {missing}")
    out = pdf[[id_col, *terms]].copy()
    out[id_col] = out[id_col].astype(str)
    for t in terms:
        # nullable Int64 keeps NaN-bearing columns integral (plain astype
        # would round-trip through float and change values > 2^53), handed
        # over as Python ints with None for NA: the non-Arrow
        # createDataFrame rejects the float a NaN-bearing column holds, and
        # both paths accept these as LongType
        out[t] = pd.array(out[t], dtype="Int64").to_numpy(dtype=object, na_value=None)
    return spark.createDataFrame(out, schema=wide_matrix_schema(terms, id_col))


def run_trends_ingest(
    spark: SparkSession,
    pdf,
    week_start: str,
    week_end: str,
    terms: tuple[str, ...] = DEFAULT_TERMS,
) -> DataFrame:
    """Fetch-to-ranked composition: the reference DAG's extract->transform
    chain (W:36-112) with the extract already in hand.

    The matrix lives on the driver and has one row per country (~250 by
    construction), so it is coalesced to ONE partition. The melt keeps that
    partitioning, which satisfies every per-country window of the pipeline:
    the week plans with no exchange and runs as a single Spark job."""
    from ..operators.trends import trends_pipeline

    wide = ingest_wide_matrix(spark, pdf, terms).coalesce(1)
    return trends_pipeline(wide, week_start, week_end, terms)


def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution round trip: two parquet batches written under ONE
    table root with different schemas (v2 adds a ``lang`` column), read
    back with ``mergeSchema`` — the append-only column-add evolution every
    long-lived 100 TB corpus goes through.

    v1 = (doc_id, text), v2 = (doc_id + 10M, text, lang). The merged read
    must surface ``lang`` as NULL for v1 rows and preserve v2's values;
    output carries md5 fingerprints so the result is narrow and has a
    closed-form oracle. SCALE: mergeSchema unions footers at planning
    time — the data itself is NOT rewritten, and column pruning still
    reaches both file groups. Oracle = the UNION ALL the merged scan must
    be equivalent to. The table root is a temporary directory:
    the merged read is materialized into a local checkpoint before the
    directory is removed.
    """
    from pyspark.sql import functions as F

    from .parquet import read_table

    docs = read_table(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(prefix="schema_evo_") as root:
        docs.select("doc_id", "text").write.parquet(f"{root}/batch=v1")
        docs.select(
            (F.col("doc_id") + F.lit(10000000)).alias("doc_id"), "text", "lang"
        ).write.parquet(f"{root}/batch=v2")
        merged = spark.read.option("mergeSchema", "true").parquet(root)
        return merged.select(
            "doc_id", "lang", F.md5(F.col("text").cast("binary")).alias("fp")
        ).localCheckpoint(eager=True)
