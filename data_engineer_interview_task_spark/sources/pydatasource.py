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
interesting data. Classes are defined INSIDE the registering function so
cloudpickle serializes them BY VALUE — python workers must not need this
repo importable (the mapInPandas closure rule, same reason).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


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
    ``read(start)`` emits one page of md5-derived rows and advances the
    offset; past the last page it returns an empty iterator with the
    SAME offset, so the stream reports caught-up and
    ``processAllAvailable`` terminates deterministically.
    ``readBetweenOffsets`` regenerates any committed page range
    bit-identically — the replay contract that makes checkpoint recovery
    exactly-once for a generated feed.

    Options: ``pages`` (default 4), ``rowsPerPage`` (default 32). Row
    values are ``int(md5(page|i)[:8], 16)`` folds, so a SQL oracle
    rebuilds the whole feed from ``range()`` + the md5 hex fold. Classes
    live inside this function so cloudpickle ships them BY VALUE (the
    repo-wide python-worker rule)."""
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
            import hashlib as _h

            return [
                (
                    p,
                    i,
                    int(
                        _h.md5(f"{p}|{i}".encode()).hexdigest()[:8], 16
                    )
                    % 1000,
                )
                for i in range(self.rows)
            ]

        def read(self, start):
            p = int(start["page"])
            if p >= self.pages:
                return iter([]), start
            return iter(self._page_rows(p)), {"page": p + 1}

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


def run_tick_stream_rollup_once(spark: SparkSession, work_dir: str):
    """Harness: stream the ``tick_stream`` source through a per-page
    rollup (complete-mode memory sink) and return the drained batch
    frame. The feed is finite (4 pages), so ``processAllAvailable``
    blocks until every page is read and aggregated — no polling loops,
    no timing sensitivity; the custom source paces itself one page per
    micro-batch through the offset protocol. Shuffle partitions are
    narrowed for the run (per-batch state-commit cost — the streaming
    harness profile), opened before the checkpoint is created so the
    window binds this query only."""
    import uuid

    from pyspark.sql import functions as F

    from ..streaming.util import (
        drain_memory_sink,
        shuffle_partitions,
        state_partitions,
    )

    register_tick_stream_source(spark)
    sink = f"mem_ticks_{uuid.uuid4().hex[:8]}"
    with shuffle_partitions(spark, state_partitions(spark)):
        stream = spark.readStream.format("tick_stream").load()
        agg = stream.groupBy("page").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("v").cast("long").alias("sum_v"),
            F.min("v").cast("long").alias("min_v"),
            F.max("v").cast("long").alias("max_v"),
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .option("checkpointLocation", f"{work_dir}/ckpt_{sink}")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
    return drain_memory_sink(spark, sink)


def run_tick_stream_restart_once(spark: SparkSession, work_dir: str):
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
    fences duplicates). The returned frame is the per-page batch rollup
    of the sink directory; the oracle rebuilds the full 6-page feed
    arithmetically, so a duplicate or a hole from a broken recovery
    hash-mismatches, not just row-counts."""
    from pyspark.sql import functions as F

    from ..streaming.util import shuffle_partitions, state_partitions

    register_tick_stream_source(spark)
    out = f"{work_dir}/out"
    ckpt = f"{work_dir}/ckpt"
    with shuffle_partitions(spark, state_partitions(spark)):
        for pages in (3, 6):
            q = (
                spark.readStream.format("tick_stream")
                .option("pages", str(pages))
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )
            q.processAllAvailable()
            q.stop()
            q.awaitTermination()
        return (
            spark.read.parquet(out)
            .groupBy("page")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("v").cast("long").alias("sum_v"),
                F.min("v").cast("long").alias("min_v"),
                F.max("v").cast("long").alias("max_v"),
            )
        )
