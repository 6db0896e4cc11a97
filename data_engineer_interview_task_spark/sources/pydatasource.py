"""Python DataSource API (Spark 4): a custom batch source implemented in
pure Python — the extension point for bespoke feeds (internal HTTP APIs,
synthetic generators, message buses without a JVM connector). This is the
modern seam the live-trends ingest (`sources/ingest.py`) would plug into
for true partition-parallel fetches: each ``InputPartition`` fetches its
own slice ON THE EXECUTORS, instead of the driver pulling everything and
``createDataFrame``-ing it.

Demo source: a deterministic date spine (``format("date_spine")``) —
trivially verifiable, which is the point: the test pins the partition
protocol (N partitions, round-robin slices, exact union) rather than any
interesting data. Python workers never import this repo: the package
registers itself pickle-by-value (package ``__init__``), so the reader
classes ship to the workers by value wherever they are defined. They sit
inside the registering functions because each registration builds them.

Streaming demo: a paged tick feed (``format("tick_stream")``) whose one
``read`` returns every page not yet delivered, so both of its harnesses
run on the availableNow trigger — the per-page rollup through the one
runner (``streaming.util.run_to_memory``), and the checkpoint-restart
harness through a parquet file sink in a scratch directory of its own.
"""

from __future__ import annotations

import hashlib
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import prep_worker


def register_date_spine_source(spark: SparkSession) -> None:
    """Register the ``date_spine`` Python data source on this session.

    Options: ``start`` (ISO date, default 2024-01-01), ``days`` (row
    count, default 30), ``numPartitions`` (parallelism, default 4; each
    partition yields the round-robin slice ``i, i+P, i+2P, ...`` so the
    union is exactly [0, days) with no coordination between readers)."""
    import datetime as dt

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _SpineReader(DataSourceReader):
        def __init__(self, options):
            self.start = dt.date.fromisoformat(
                options.get("start", "2024-01-01")
            )
            self.days = int(options.get("days", "30"))
            self.parts = int(options.get("numPartitions", "4"))

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, partition):
            prep_worker()
            first = partition.value
            for idx in range(first, self.days, self.parts):
                yield (self.start + dt.timedelta(days=idx), idx)

    class DateSpineDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "date_spine"

        def schema(self) -> str:
            return "day date, day_index bigint"

        def reader(self, schema):
            return _SpineReader(self.options)

    spark.dataSource.register(DateSpineDataSource)


def register_tick_stream_source(spark: SparkSession) -> None:
    """Register the ``tick_stream`` STREAMING Python data source — the
    Spark-4 ``SimpleDataSourceStreamReader`` seam (the streaming half of
    the DataSource API next to the batch ``date_spine`` above): a
    deterministic paged tick feed whose offset is the page number. Each
    ``read(start)`` emits every page from ``start`` up to ``pages`` as
    md5-derived rows and returns the end offset ``{page: pages}``; at the
    last page it returns an empty iterator with the SAME offset, so the
    stream reports caught-up. Returning everything available in one read
    is what an availableNow trigger needs: pyspark's simple-reader
    wrapper calls ``read`` once in ``latestOffset``, and availableNow
    fixes its end offset from that one call, so a reader that returned
    one page per call would end the run after the first page.
    ``readBetweenOffsets`` regenerates any committed page range
    bit-identically — the replay contract that makes checkpoint recovery
    exactly-once for a generated feed.

    Options: ``pages`` (default 4), ``rowsPerPage`` (default 32). Row
    values are ``int(md5(page|i)[:8], 16)`` folds, so a SQL oracle
    rebuilds the whole feed from ``range()`` + the md5 hex fold. The
    classes ship to the python workers by value (the package registers
    itself pickle-by-value)."""
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class _TickStreamReader(SimpleDataSourceStreamReader):
        def __init__(self, options):
            self.pages = int(options.get("pages", "4"))
            self.rows = int(options.get("rowsPerPage", "32"))

        def initialOffset(self):
            return {"page": 0}

        def _page_rows(self, p: int):
            # a LIST, not a generator: the wrapper pickles prefetched
            # rows into the offset log for replay, and generators
            # don't pickle
            return [
                (
                    p,
                    i,
                    int(
                        hashlib.md5(f"{p}|{i}".encode()).hexdigest()[:8], 16
                    )
                    % 1000,
                )
                for i in range(self.rows)
            ]

        def read(self, start):
            prep_worker()
            p = int(start["page"])
            if p >= self.pages:
                return iter([]), start
            end = {"page": self.pages}
            return self.readBetweenOffsets(start, end), end

        def readBetweenOffsets(self, start, end):
            out = []
            for p in range(int(start["page"]), int(end["page"])):
                out.extend(self._page_rows(p))
            return iter(out)

    class TickStreamDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "tick_stream"

        def schema(self) -> str:
            return "page bigint, i bigint, v bigint"

        def simpleStreamReader(self, schema):
            return _TickStreamReader(self.options)

    spark.dataSource.register(TickStreamDataSource)


def _page_rollup(frame: DataFrame) -> DataFrame:
    """Per-page (n_rows, sum_v, min_v, max_v) of a tick frame."""
    return frame.groupBy("page").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("v").cast("long").alias("sum_v"),
        F.min("v").cast("long").alias("min_v"),
        F.max("v").cast("long").alias("max_v"),
    )


def run_tick_stream_rollup_once(spark: SparkSession) -> DataFrame:
    """Harness: stream the ``tick_stream`` source through a per-page
    rollup (complete-mode memory sink) on the one availableNow runner
    (``streaming.util.run_to_memory``) and return the drained batch
    frame. The feed is finite (4 pages) and one read delivers every
    page, so the run is one data batch — no polling loops, no timing
    sensitivity. The state-store partition count is the floor
    (``state_partitions`` with no source: the feed's state is one row
    per page)."""
    from ..streaming.util import run_to_memory, state_partitions

    register_tick_stream_source(spark)
    return run_to_memory(
        spark,
        _page_rollup(spark.readStream.format("tick_stream").load()),
        output_mode="complete",
        partitions=state_partitions(spark),
    )


def run_tick_stream_restart_once(spark: SparkSession) -> DataFrame:
    """CHECKPOINT-RESTART CONTINUITY for the streaming Python DataSource
    — the recovery half of the offset contract ``readBetweenOffsets``
    exists for. Run 1 streams a 3-page feed into a parquet FILE sink
    (the recoverable sink — a memory sink cannot restore a checkpoint,
    the r8 lesson) and parks caught-up at offset ``{page: 3}``. Run 2
    reopens the SAME checkpoint with the feed extended to 6 pages:
    recovery replans any planned-but-uncommitted range through
    ``readBetweenOffsets`` (bit-identical regeneration) and resumes at
    the committed offset — pages 0-2 are NOT re-emitted, pages 3-5
    append exactly once (the file sink's ``_spark_metadata`` commit log
    fences duplicates). Both runs use the availableNow trigger. The
    returned frame is the per-page batch rollup of the sink directory,
    materialized into a local checkpoint before the run's scratch dir
    (checkpoint and sink) is removed; the oracle rebuilds the full
    6-page feed arithmetically, so a duplicate or a hole from a broken
    recovery hash-mismatches, not just row-counts."""
    from ..streaming.util import shuffle_partitions, state_partitions

    register_tick_stream_source(spark)
    with tempfile.TemporaryDirectory(prefix="tick_restart_") as scratch:
        out, ckpt = f"{scratch}/out", f"{scratch}/ckpt"
        with shuffle_partitions(spark, state_partitions(spark)):
            for pages in (3, 6):
                (
                    spark.readStream.format("tick_stream")
                    .option("pages", str(pages))
                    .load()
                    .writeStream.format("parquet")
                    .option("path", out)
                    .option("checkpointLocation", ckpt)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                    .awaitTermination()
                )
        return _page_rollup(spark.read.parquet(out)).localCheckpoint(eager=True)
