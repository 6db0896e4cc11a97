"""Maintenance operators: MERGE reconciliation, FK audit, grouping sets."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from data_engineer_interview_task_spark.operators import maintenance
from data_engineer_interview_task_spark.plans import explain_str
from data_engineer_interview_task_spark.sources import read_table


def test_merge_changeset_actions_and_counts(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    n = docs.count()
    n_del = docs.filter(F.col("doc_id") % 11 == 0).count()
    n_ins = docs.filter(F.col("doc_id") % 13 == 0).count()
    rows = maintenance.merge_changeset(spark, sf_dir).collect()
    assert len(rows) == n - n_del + n_ins
    by_action = {}
    for r in rows:
        by_action[r.action] = by_action.get(r.action, 0) + 1
    assert by_action.get("inserted", 0) == n_ins
    # updates are %7 rows not deleted by %11
    n_upd = docs.filter((F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 11 != 0)).count()
    assert by_action.get("updated", 0) == n_upd
    # deleted ids are gone even when they also matched the update rule
    ids = {r.doc_id for r in rows}
    assert not any(i % 11 == 0 for i in ids if i < 10000000)


def test_merge_upsert_delete_wins(spark):
    base = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    changes = spark.createDataFrame(
        [(2, "b2", False), (3, "c", False), (1, "x", True)],
        ["k", "v", "is_delete"],
    )
    rows = {r.row.k: (r.row.v, r.action)
            for r in maintenance.merge_upsert(base, changes, key="k").collect()}
    assert rows == {2: ("b2", "updated"), 3: ("c", "inserted")}


def test_referential_integrity_all_edges_clean(spark, sf_dir):
    rows = maintenance.referential_integrity_check(spark, sf_dir).collect()
    assert len(rows) == len(maintenance.FK_EDGES)
    # driver testdata is referentially clean; child_rows sane
    for r in rows:
        assert r.orphan_rows == 0, r.relation
        assert 0 < r.distinct_keys <= r.child_rows


def test_grouping_sets_single_pass_and_totals(spark, sf_dir):
    df = maintenance.grouping_sets_report(spark, sf_dir)
    plan = explain_str(df)
    assert "Expand" in plan  # one scan feeding all grouping sets
    rows = df.collect()
    grand = [r for r in rows if r.gid == 3]
    assert len(grand) == 1
    per_flag = [r for r in rows if r.gid == 1]
    assert sum(r.n_items for r in per_flag) == grand[0].n_items
    leaf = [r for r in rows if r.gid == 0]
    assert sum(r.n_items for r in leaf) == grand[0].n_items


def test_table_checksum_partition_invariant(spark, sf_dir):
    from data_engineer_interview_task_spark.sources import read_table

    base = {
        r.bucket: (r.n_rows, r.checksum)
        for r in maintenance.table_checksum(spark, sf_dir).collect()
    }
    assert sum(n for n, _ in base.values()) == read_table(
        spark, sf_dir, "documents"
    ).count()
    # recompute on a repartitioned copy via the same expression: checksums
    # must be identical (order/partitioning-insensitive). Canonical
    # transport since r6 = BIGINT sum of row hashes mod 2^62.
    docs = read_table(spark, sf_dir, "documents").repartition(13)
    rh = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("doc_id"), F.md5(F.col("text").cast("binary")))),
            1, 8,
        ), 16, 10,
    ).cast("bigint")

    def fold(df):
        return (
            df.select((F.col("doc_id") % 32).alias("bucket"), rh.alias("rh"))
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.pmod(F.sum("rh"), F.lit(2**62)).cast("bigint").alias("checksum"),
            )
        )

    again = {r.bucket: (r.n_rows, r.checksum) for r in fold(docs).collect()}
    assert base == again
    # the retired DECIMAL form must stay value-consistent with the
    # canonical BIGINT fold (same hashes, different transport)
    dec = {
        r.bucket: (r.n_rows, int(r.checksum) % 2**62)
        for r in maintenance.table_checksum_decimal(spark, sf_dir).collect()
    }
    assert base == dec
    # a single-row mutation flips exactly that bucket's checksum
    mutated = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 5, F.concat(F.col("text"), F.lit("!"))).otherwise(
            F.col("text")
        ),
    )
    mut = {r.bucket: r.checksum for r in fold(mutated).collect()}
    diff = [b for b in base if base[b][1] != mut[b]]
    assert diff == [5 % 32]


def test_bucketed_join_has_no_join_exchange(
    spark, sf_dir, tmp_path, monkeypatch
):
    # keep_layout=True returns the raw lazy plan (the default path
    # materializes + cleans up, which would hide the shape under test);
    # this test therefore owns the conf restore, and the layout dir it
    # leaves lands under tmp_path
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    conf_key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    prior = spark.conf.get(conf_key, None)
    try:
        df = maintenance.bucketed_join_rollup(spark, sf_dir, keep_layout=True)
        plan = explain_str(df)
        assert "SortMergeJoin" in plan
        # bucketed+sorted one-file-per-bucket layout: the join needs
        # neither an Exchange nor a Sort; the only exchange left is the
        # final aggregate's
        # tree-format node names ("Exchange (n)"); the details section
        # re-lists nodes as "(n) Exchange" and must not double-count
        assert plan.count("Exchange (") <= 1, plan
        assert plan.count("Sort (") == 0, plan
        rows = df.collect()
    finally:
        if prior is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prior)
        for t in spark.catalog.listTables():
            if t.name.startswith("bkt_"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    assert len(rows) == 5  # one per priority
    assert all(r.n_items > 0 and r.revenue > 0 for r in rows)


def test_bucketed_join_default_path_restores_session(spark, sf_dir):
    """The driver-facing default must leave the long-lived session exactly
    as it found it: legacy conf unchanged, no leftover catalog tables
    (ADVICE r3)."""
    conf_key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    prior = spark.conf.get(conf_key, None)
    rows = maintenance.bucketed_join_rollup(spark, sf_dir).collect()
    assert len(rows) == 5
    assert spark.conf.get(conf_key, None) == prior
    leftover = [
        t.name for t in spark.catalog.listTables() if t.name.startswith("bkt_")
    ]
    assert leftover == []


def test_compact_table_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    from data_engineer_interview_task_spark.sources import read_table

    orders = read_table(spark, sf_dir, "orders")
    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    # simulate a per-batch append sink: 64 tiny files
    orders.repartition(64).write.parquet(src)
    report = maintenance.compact_table(spark, src, dst, target_files=4).collect()[0]
    assert report.files_before == 64
    assert report.files_after == 4
    assert report.n_rows == orders.count()
    # row identity, not just count
    a = spark.read.parquet(src).orderBy("o_orderkey").collect()
    b = spark.read.parquet(dst).orderBy("o_orderkey").collect()
    assert a == b
    # auto-sizing path: huge target_bytes collapses to one file
    dst1 = str(tmp_path / "one")
    r1 = maintenance.compact_table(spark, src, dst1).collect()[0]
    assert r1.files_after == 1
