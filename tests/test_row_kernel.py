"""The Python-worker seam: the ``per_row`` kernel against a pandas twin,
and ported codec queries driven from a process whose cwd is outside the
repo (the workers must get package code by value, not by import)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest
from pandas.testing import assert_frame_equal

from data_engineer_interview_task_spark.operators import multimodal

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"

OUT_SCHEMA = multimodal._schema("key i tag:string")


def _pandas_twin(fn, pdf: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for rec in pdf.itertuples(index=False):
        rows.extend(fn(rec.key, rec.text))
    return pd.DataFrame(rows, columns=OUT_SCHEMA.fieldNames())


@pytest.mark.parametrize("n_parts", [1, 3])
def test_per_row_matches_pandas_twin(spark, n_parts):
    """Spark output == the pandas twin on ``toPandas()``, with 2-row Arrow
    batches (batches whose rows all emit nothing, batches that straddle a
    fan-out) and one EMPTY partition appended — boundary bugs the
    hash-only oracle cannot locate."""

    def _fan(key, text):
        # 0, 1 or 3 output rows by key % 3: empty, 1:1 and fan-out rows
        # interleaved in one stage (a test-local function: the workers
        # cannot import this test module)
        for i in range((0, 1, 3)[key % 3]):
            yield key, i, f"{text}#{i}"

    keys = [0, 3, 6, 1, 2, 4, 9, 5, 7, 8, 12, 11, 10]
    base = spark.createDataFrame(
        [(k, f"t{k}") for k in keys], "key long, text string"
    )
    base = base.coalesce(1) if n_parts == 1 else base.repartition(n_parts)
    empty = spark.createDataFrame(
        spark.sparkContext.parallelize([], 1), "key long, text string"
    )
    df = base.union(empty)
    sizes = df.rdd.glom().map(len).collect()
    assert len(sizes) == n_parts + 1 and 0 in sizes, sizes

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        got = multimodal.per_row(df, _fan, OUT_SCHEMA, ("key", "text")).toPandas()
    finally:
        spark.conf.set(conf, prev)
    want = _pandas_twin(_fan, df.toPandas())
    assert len(want) == sum((0, 1, 3)[k % 3] for k in keys)

    def _sorted(pdf):
        return pdf.sort_values(["key", "i"]).reset_index(drop=True)

    assert_frame_equal(_sorted(got), _sorted(want))


_DRIVER = """
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from data_engineer_interview_task_spark.operators import multimodal
out = {
    name: sorted(map(list, getattr(multimodal, name)(spark, sys.argv[2]).collect()))
    for name in sys.argv[3:]
}
spark.stop()
print(json.dumps(out))
"""

_QUERIES = (
    "multimodal_png_decode",
    "multimodal_g711_roundtrip",
    "multimodal_gif_animation_frames",  # fan-out: 3 rows per document
    "multimodal_color_jpeg_subsampled_decode",  # the shared JPEG cores
    "multimodal_progressive_ac_refine_decode",
    "multimodal_adpcm_roundtrip",  # the shared RIFF chunk walker
)


def test_codec_queries_run_from_a_driver_outside_the_repo(spark, tmp_path):
    """A driver whose cwd is NOT the repo, with the repo on ``sys.path``
    only (not ``PYTHONPATH``): its python workers cannot import the
    package, so the ported queries run only because the package ships
    itself by value. Rows must equal the in-process run."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER, REPO, SF_DIR, *_QUERIES],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    for name in _QUERIES:
        want = sorted(
            map(list, getattr(multimodal, name)(spark, SF_DIR).collect())
        )
        assert want and got[name] == want, name
