"""PySpark-native analytics engine with the query/data-processing surface of
``modestas-m/Data-Engineer-Interview-Task`` (a Google Trends -> BigQuery ETL),
re-expressed Spark-first, plus large-scale training-data-pipeline extensions
(dedup, similarity search, text analysis, multimodal columns, streaming).

Layout
------
- ``sources``    parquet readers with explicit schemas, partitioned/append sinks
- ``operators``  the reference pipeline's operators + relational/extension ops
- ``functions``  scalar/date/vector helpers (pure column expressions)
- ``plans``      session tuning + plan inspection helpers
- ``streaming``  Structured Streaming variants (weekly tumbling window, etc.)

Design rules (see SURVEY.md §4): declarative DataFrame plans only, no
driver-side collects in any dataflow, no row-at-a-time Python UDFs in hot
paths, every operator designed to survive a 100 TB / 1000-executor scale-up.
"""

import sys

from pyspark import cloudpickle

__version__ = "0.1.0"

# Ship package code to Spark python workers BY VALUE: a worker function
# may reference package functions (``from ..functions.png_codec import
# png_decode``) and still run on a worker that cannot import this package.
# Registering the top package covers every submodule (cloudpickle walks up
# the parent module names). Two rules keep worker code picklable:
# reference package FUNCTIONS, never package modules (a pickled module
# drags its whole namespace, locks included); and keep package imports out
# of worker-side function bodies (``from ..x import y`` executed on a
# worker needs the package importable there).
cloudpickle.register_pickle_by_value(sys.modules[__name__])
