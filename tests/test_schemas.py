"""Schema contract: every testdata table reads with exactly the declared
schema, at every scale factor present. Guards against silent testdata
drift and reader-conf regressions (e.g. the nanos-timestamp handling)."""

from __future__ import annotations

import os

import pytest

from data_engineer_interview_task_spark.sources import read_table
from data_engineer_interview_task_spark.sources.schemas import EXPECTED_SCHEMAS

SF_DIRS = [
    d for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    if os.path.isdir(d)
]


@pytest.mark.parametrize("table", sorted(EXPECTED_SCHEMAS))
def test_table_schema_contract(spark, table):
    for sf_dir in SF_DIRS:
        got = read_table(spark, sf_dir, table).schema.simpleString()
        assert got == EXPECTED_SCHEMAS[table], (sf_dir, table, got)


def test_schema_evolution_read_null_fill(spark):
    from pyspark.sql import functions as F

    from data_engineer_interview_task_spark.sources.ingest import (
        schema_evolution_read,
    )

    out = schema_evolution_read(spark, SF_DIRS[0]).collect()
    v1 = [r for r in out if r.doc_id < 10000000]
    v2 = [r for r in out if r.doc_id >= 10000000]
    assert v1 and v2 and len(v1) == len(v2)
    assert all(r.lang is None for r in v1)  # evolved column null-fills
    assert all(r.lang is not None for r in v2)


def test_xml_roundtrip_preserves_rows(spark, sf_dir, tmp_path):
    """Spark 4 built-in XML source: write/read round-trip with an explicit
    schema keeps rows and types (region is tiny — format coverage, not
    scale)."""
    from data_engineer_interview_task_spark.sources.sinks import (
        read_xml,
        write_xml,
    )

    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    path = str(tmp_path / "region_xml")
    write_xml(region, path)
    back = read_xml(spark, path, schema=region.schema)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, region.collect())
    )


def test_python_datasource_date_spine(spark):
    """Python DataSource API: the date_spine source's partition protocol —
    N round-robin InputPartitions whose union is exactly [0, days), with
    the declared schema and executor-side generation (no driver rows)."""
    from data_engineer_interview_task_spark.sources.pydatasource import (
        register_date_spine_source,
    )

    register_date_spine_source(spark)
    df = (
        spark.read.format("date_spine")
        .option("start", "2024-02-01")
        .option("days", "45")
        .option("numPartitions", "6")
        .load()
    )
    assert df.rdd.getNumPartitions() == 6
    rows = sorted((r.day_index, r.day) for r in df.collect())
    import datetime as dt

    assert [i for i, _ in rows] == list(range(45))
    assert rows[0][1] == dt.date(2024, 2, 1)
    assert rows[-1][1] == dt.date(2024, 2, 1) + dt.timedelta(days=44)
