"""Plan-shape assertions: the scale story is checkable, not aspirational.
Each test pins a property SURVEY.md §4 says Catalyst gives us for free —
if a refactor breaks pushdown/broadcast/pruning, these fail."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineer_interview_task_spark.operators import relational
from data_engineer_interview_task_spark.plans import explain_str
from data_engineer_interview_task_spark.sources import read_table


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= "1996-01-01"
    ).select("l_orderkey")
    plan = explain_str(li)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = relational.pricing_summary(spark, sf_dir)
    plan = explain_str(df)
    # the 11-column lineitem scan must read only the 7 columns Q1 touches
    assert "l_orderkey" not in plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_quantity" in plan


def test_dim_joins_are_broadcast(spark, sf_dir):
    plan = explain_str(relational.revenue_by_nation(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or plan.count("BroadcastHashJoin") >= 4


def test_same_interest_keep_list_not_collected(spark, sf_dir):
    # the reference collects the keep-list of countries to the driver
    # (W:82-85); here it stays a per-country window: building the lineage
    # fires no Spark job, and the plan has no join and no broadcast. The
    # ingest path is one partition end to end (no exchange); the synthetic
    # pipeline over a parquet scan is one hash exchange on country.
    import re

    import pandas as pd

    from __spark_entry__ import queries
    from data_engineer_interview_task_spark.sources import run_trends_ingest

    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup())
    pdf = pd.DataFrame(
        {"vpn": [1, 3], "hack": [2, 3]}, index=pd.Index(["A", "B"], name="geoName")
    )
    ingest = run_trends_ingest(spark, pdf, "2021-01-04", "2021-01-10", terms=("vpn", "hack"))
    assert set(tracker.getJobIdsForGroup()) == jobs_before

    synthetic = queries()["trends_pipeline_synthetic"](spark, sf_dir)
    for df, exchanges in ((ingest, 0), (synthetic, 1)):
        plan = explain_str(df)
        assert "Join" not in plan and "BroadcastExchange" not in plan, plan
        assert len(re.findall(r"\bExchange \(", plan)) == exchanges, plan


def test_whole_stage_codegen_everywhere_in_q1(spark, sf_dir):
    # formatted mode under AQE shows the un-finalized plan without codegen
    # stars, so ask for the codegen-mode dump explicitly
    codegen = explain_str(relational.pricing_summary(spark, sf_dir), "codegen")
    assert "WholeStageCodegen" in codegen
    plan = explain_str(relational.pricing_summary(spark, sf_dir))
    # no Python evaluation nodes in the hot path
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_no_cartesian_in_near_dup(spark, sf_dir):
    from data_engineer_interview_task_spark.operators.dedup import ngram_jaccard_pairs

    plan = explain_str(ngram_jaccard_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_range_join_is_hash_join(spark, sf_dir):
    # the bucket decomposition must plan as an equi (hash/sort-merge) join,
    # never a broadcast-nested-loop over the inequality
    from data_engineer_interview_task_spark.operators.extended import orders_range_join

    plan = explain_str(orders_range_join(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_asof_join_single_window_pass(spark, sf_dir):
    # union-tag as-of join: no join node at all for the events side — one
    # window over the unioned stream
    from data_engineer_interview_task_spark.operators.relational import (
        asof_join_events_orders,
    )

    plan = explain_str(asof_join_events_orders(spark, sf_dir))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan


def test_hash_sample_has_no_exchange(spark, sf_dir):
    from data_engineer_interview_task_spark.operators import sampling

    plan = explain_str(sampling.hash_sample(spark, sf_dir))
    assert "Exchange" not in plan  # pure map-side filter


def test_weighted_mix_and_contamination_broadcast(spark, sf_dir):
    from data_engineer_interview_task_spark.operators import cleaning, sampling

    for df in (
        sampling.weighted_source_mix(spark, sf_dir),
        cleaning.contamination_check(spark, sf_dir),
    ):
        plan = explain_str(df)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


def test_global_row_numbers_has_no_global_sort_window(spark, sf_dir):
    from data_engineer_interview_task_spark.operators import extended

    plan = explain_str(extended.global_row_numbers(spark, sf_dir))
    # the anti-pattern would plan a Window with an empty partition spec
    # (single task); the two-phase form only windows on pid
    assert "BroadcastHashJoin" in plan
    for line in plan.splitlines():
        if "Window" in line and "partition" in line.lower():
            assert "pid" in line


def test_funnel_is_single_window_exchange(spark, sf_dir):
    from data_engineer_interview_task_spark.operators import relational

    plan = explain_str(relational.funnel_conversion(spark, sf_dir))
    # three stacked stage expressions must NOT plan three exchanges on
    # user_id: count hashpartitioning(user_id) exchanges
    n_user_exchanges = sum(
        1
        for line in plan.splitlines()
        if "Exchange hashpartitioning(user_id" in line
    )
    assert n_user_exchanges <= 1


def test_risky_determinism_is_partition_independent(spark, sf_dir):
    """The queries whose determinism was hand-engineered (wrapping-long
    minhash, sign-bit buckets, decimal centroids) must produce identical
    results at different shuffle widths — the property the oracle gate
    depends on."""
    from data_engineer_interview_task_spark.operators import (
        clustering,
        dedup,
        extended,
        maintenance,
        similarity,
        tpch_shapes,
    )

    def snapshot():
        return {
            "kmeans": sorted(
                tuple(r) for r in clustering.kmeans_assignments(spark, sf_dir).collect()
            ),
            "minhash": sorted(
                tuple(r) for r in dedup.minhash_lsh_pairs(spark, sf_dir).collect()
            ),
            # r3: commutative-checksum + TakeOrdered-threshold top-N must
            # survive any shuffle width
            "checksum": sorted(
                tuple(r) for r in maintenance.table_checksum(spark, sf_dir).collect()
            ),
            "top_returns": sorted(
                tuple(r)
                for r in tpch_shapes.returned_item_customers(spark, sf_dir).collect()
            ),
            # r4: decimal-laddered SRP-sub-bucketed dedup, exact-moment
            # OLS, and the collect-driven greedy k-center trajectory
            # must all survive any shuffle width
            "sem_scaled": sorted(
                tuple(r)
                for r in similarity.semantic_dedup_scaled(spark, sf_dir).collect()
            ),
            "ols": sorted(
                tuple(r)
                for r in extended.grouped_linear_trend(spark, sf_dir).collect()
            ),
            "kcenter": sorted(
                tuple(r)
                for r in clustering.kcenter_diversity_sample(
                    spark, sf_dir, k=5
                ).collect()
            ),
            # r6s2: the ADC path's integer floor-mean codebooks and the
            # skew report's window-carried totals were both built to be
            # partition-independent — pin it
            "pq_adc": sorted(
                tuple(r)
                for r in similarity.pq_search_adc(spark, sf_dir).collect()
            ),
            "skew_report": sorted(
                tuple(r)
                for r in maintenance.shuffle_skew_report(
                    spark, sf_dir
                ).collect()
            ),
        }

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = snapshot()
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = snapshot()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b


def test_chunk_documents_is_shuffle_free(spark, sf_dir):
    """Chunking must stay a narrow map-side fan-out: zero exchanges, and
    the scan reads only (doc_id, text)."""
    from data_engineer_interview_task_spark.operators.text import chunk_documents

    plan = explain_str(chunk_documents(spark, sf_dir))
    assert "Exchange" not in plan, plan
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "text" in read_schema and "source" not in read_schema


def test_vocab_join_is_broadcast(spark, sf_dir):
    """The vocab table (top-k of a vocabulary-sized aggregate) must reach
    the per-doc pass as a broadcast, never a corpus-side shuffle join."""
    from data_engineer_interview_task_spark.operators.text import vocab_coverage

    plan = explain_str(vocab_coverage(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_retention_cohorts_two_exchanges(spark, sf_dir):
    """The collect_set formulation: one exchange keying users, one for the
    final bounded rollup (the countDistinct may add an internal expand but
    no further data-sized shuffle) — never the distinct + self-join shape
    (4+ exchanges)."""
    from data_engineer_interview_task_spark.operators.relational import (
        retention_cohorts,
    )

    plan = explain_str(retention_cohorts(spark, sf_dir))
    assert plan.count("Exchange") <= 4  # 2 logical; AQE shuffle-reads add reuse nodes
    assert "Join" not in plan  # the join-free formulation


def test_capped_ngram_filters_before_self_join(spark, sf_dir):
    """With the df cap active the inverted-index self-join's inputs must
    be df-filtered (the aggregate+filter appears BELOW the join), so no
    hot key reaches the join."""
    from data_engineer_interview_task_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    plan = explain_str(ngram_jaccard_pairs(spark, sf_dir, max_shingle_df=4))
    # the df<=4 filter exists and sits in the plan (pre-join aggregate)
    assert "(df#" in plan or "df <= 4" in plan.replace("(", " ").replace(")", " ") or "<= 4" in plan


def test_equidepth_histogram_no_global_window(spark, sf_dir):
    """The equi-depth bucketing must use the two-phase pattern, never a
    single-partition global window (the 100 TB funnel)."""
    from data_engineer_interview_task_spark.operators import extended

    df = extended.price_equidepth_histogram(spark, sf_dir)
    plan = explain_str(df)
    # the DATA window must partition by pid (parallel); the only permitted
    # single-partition stage is the ~8-row offsets aggregate, which windows
    # over cnt/pid — assert no window over the data columns lacks pid
    for line in plan.splitlines():
        if "Window [" in line and "o_totalprice" in line:
            assert "pid" in line, line
    rows = {r.bucket: r.n_orders for r in df.collect()}
    assert set(rows) == set(range(8))
    # near-equal populations: max and min bucket sizes differ by <= 1
    assert max(rows.values()) - min(rows.values()) <= 1


def test_topk_per_group_uses_window_group_limit(spark, sf_dir):
    """rank<=k filters must trigger WindowGroupLimit (partial map-side
    top-k BEFORE the exchange — at scale this prunes each partition to k
    rows per group pre-shuffle). Regression guard: rewriting the filter
    in a form Catalyst can't match would silently lose the pruning."""
    import __spark_entry__ as e

    df = e.queries()["top_orders_per_customer"](spark, sf_dir)
    physical = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in physical
    assert "Partial" in physical.split("WindowGroupLimit")[-1] or \
        physical.count("WindowGroupLimit") >= 2


def test_semantic_dedup_plan_blocked_and_broadcast(spark, sf_dir):
    """semantic_dedup must stay cluster-blocked (equi-join on label, never
    a cartesian pair build) and its dominated-set anti-join must
    broadcast (duplicate-sized side)."""
    from data_engineer_interview_task_spark.operators import similarity

    df = similarity.semantic_dedup(spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # the anti-join of the dominated set
    rows = df.count()
    assert 0 < rows < 2000  # strictly fewer than the corpus -> it dedups


def test_prefix_filter_plan_no_cartesian_and_prefix_prunes(spark, sf_dir):
    """The prefix-filter join must be an equi-join on prefix shingles
    (no cartesian/BNLJ anywhere), and its candidate volume must be
    strictly below the full inverted index's — the point of the prefix."""
    from data_engineer_interview_task_spark.operators import dedup

    df = dedup.prefix_filter_jaccard_pairs(spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # candidate volume: count candidate pairs both ways through the public
    # surface (prefix candidates <= all-sharing-a-shingle candidates)
    docs = dedup._shingled_docs(spark, sf_dir, 3)
    ex = docs.select("doc_id", F.explode("shingles").alias("sh"))
    full_cand = (
        ex.alias("a")
        .join(ex.alias("b"), (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    sizes = docs.select("doc_id", F.size("shingles").alias("n_sh"))
    df_tab = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("sh").asc())
    ranked = (
        ex.join(df_tab, "sh")
        .withColumn("rk", F.row_number().over(w))
        .join(sizes, "doc_id")
        .filter(F.col("rk") <= F.col("n_sh") - F.ceil(F.lit(0.5) * F.col("n_sh")) + 1)
        .select("doc_id", "sh")
    )
    prefix_cand = (
        ranked.alias("a")
        .join(ranked.alias("b"), (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    assert prefix_cand < full_cand, (prefix_cand, full_cand)


def test_salted_join_carries_salt_in_join_keys(spark, sf_dir):
    """The salted join must actually join on (key, salt) — otherwise the
    operator silently degrades to the plain join it exists to replace —
    and each fact row must match exactly one exploded dim row (pinned by
    the oracle's plain-join equality, re-asserted here on counts)."""
    from data_engineer_interview_task_spark.operators import maintenance
    from data_engineer_interview_task_spark.sources import read_table

    df = maintenance.salted_skew_join_rollup(spark, sf_dir)
    plan = explain_str(df)
    join_section = plan[plan.find("Join") :]
    assert "salt" in join_section.lower(), plan
    rows = {r.o_orderpriority: r.n_items for r in df.collect()}
    li = read_table(spark, sf_dir, "lineitem")
    assert sum(rows.values()) == li.count()  # no dup/dropped fact rows


def test_bloom_runtime_filter_injected_below_join(spark, sf_dir):
    """bloom_filtered_join_rollup's whole point is that Catalyst's
    InjectRuntimeFilter puts a might_contain(bloom) prefilter on the
    fact side BELOW the join: assert the injected filter and the sketch
    aggregate both appear, and that the prefilter sits on the lineitem
    (application) side, not the orders (creation) side. keep_plan=True
    hands us the lazy plan inside the conf window; this test owns the
    window cleanup."""
    from data_engineer_interview_task_spark.operators import maintenance

    keys = [
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    ]
    priors = {k: spark.conf.get(k, None) for k in keys}
    try:
        df = maintenance.bloom_filtered_join_rollup(spark, sf_dir, keep_plan=True)
        plan = explain_str(df)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
        fact_side = plan[plan.find("might_contain"):]
        assert "l_orderkey" in fact_side.split("\n")[0], plan
    finally:
        for k, prior in priors.items():
            if prior is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prior)


def test_bloom_rollup_restores_session_confs(spark, sf_dir):
    """The materializing (default) path must leave the session confs
    exactly as it found them — the ADVICE-r3 conf-hygiene rule."""
    from data_engineer_interview_task_spark.operators import maintenance

    keys = [
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    ]
    priors = {k: spark.conf.get(k, None) for k in keys}
    out = maintenance.bloom_filtered_join_rollup(spark, sf_dir)
    assert out.count() > 0
    for k, prior in priors.items():
        assert spark.conf.get(k, None) == prior


def test_per_source_cap_uses_window_group_limit(spark, sf_dir):
    """The domain cap must plan as WindowGroupLimit (top-k pushed below
    the per-group sort) so per-domain cost is bounded by the cap, not
    the domain size — the claim its docstring makes."""
    from data_engineer_interview_task_spark.operators import sampling

    plan = explain_str(sampling.per_source_quality_cap(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


def test_semantic_dedup_scaled_blocked_no_cartesian(spark, sf_dir):
    """The scaled variant's pair join must stay an equi-join on the
    (label, t, bucket, dim) block key — a refactor that loses a key
    degrades it to a bigger-blocked (or cartesian) join silently."""
    from data_engineer_interview_task_spark.operators import similarity

    plan = explain_str(similarity.semantic_dedup_scaled(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    # the explicit block-key repartition guards the one-task fan-out trap
    assert "REPARTITION_BY_NUM" in plan or "hashpartitioning(label" in plan, plan


def test_latest_event_per_user_aggregates_before_exchange(spark, sf_dir):
    """The max_by formulation must plan as a PARTIAL aggregate below the
    exchange (one candidate row per partition x user crosses the wire)
    with no Window — the shuffle-bytes property that justifies it next
    to the row_number form. Struct ordering keys force SortAggregate;
    that is expected (see the operator docstring)."""
    from data_engineer_interview_task_spark.operators import extended

    plan = explain_str(extended.latest_event_per_user(spark, sf_dir))
    assert "Window" not in plan, plan
    # two aggregate instances (partial + final) around one exchange
    n_aggs = plan.count("SortAggregate") + plan.count("HashAggregate")
    assert n_aggs >= 2 and "Exchange" in plan, plan
    # partial aggregation actually emitted: formatted mode prints parents
    # first, so the FINAL aggregate must appear before the Exchange and a
    # second (partial) instance after it
    positions = [
        i
        for name in ("SortAggregate", "HashAggregate")
        for i in range(len(plan))
        if plan.startswith(name, i)
    ]
    exchange_at = plan.find("Exchange")
    assert min(positions) < exchange_at < max(positions), plan


def test_round5_plan_shapes(spark, sf_dir):
    """Round-5 wave: the scale claims in SCALE.md hold in the plans —
    no cartesian/nested-loop joins in the index-joined operators, the
    governance audit broadcasts its key lists, and the pure-aggregate
    audits stay Python-free."""
    from data_engineer_interview_task_spark.operators import (
        cleaning,
        dedup,
        extended,
        maintenance,
        relational,
        text,
    )

    # inverted-index joins must be hash/sort-merge equi-joins
    for df in (
        text.sparse_cosine_pairs(spark, sf_dir),
        text.phrase_search(spark, sf_dir),
        relational.event_type_lift(spark, sf_dir),
    ):
        plan = explain_str(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan.replace(
            "BroadcastNestedLoopJoin BuildRight, Cross", "XJOIN"
        ) or "XJOIN" not in plan  # no residual nested-loop equi work

    # skyline: two window passes, zero joins
    sky = explain_str(extended.skyline_orders(spark, sf_dir))
    assert "Join" not in sky and "Window" in sky

    # governance audit: forget-list membership is broadcast
    gd = explain_str(maintenance.gdpr_erasure_audit(spark, sf_dir))
    assert "BroadcastHashJoin" in gd and "CartesianProduct" not in gd

    # pure-aggregate audits: no Python nodes anywhere
    for df in (
        cleaning.benford_price_digits(spark, sf_dir),
        cleaning.ks_two_sample(spark, sf_dir),
        dedup.split_leakage_check(spark, sf_dir),
        relational.user_acquisition_curve(spark, sf_dir),
        relational.interval_coverage_per_user(spark, sf_dir),
        relational.asof_join_tolerance(spark, sf_dir),
    ):
        plan = explain_str(df)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_priority_sample_is_takeordered_no_global_sort(spark, sf_dir):
    """priority_sample_topk's SCALE.md claim: the top-k compiles to
    TakeOrderedAndProject (per-task k-row heap + driver merge), with no
    full Sort/Exchange of the corpus and no joins at all."""
    from data_engineer_interview_task_spark.operators import sampling

    plan = explain_str(sampling.priority_sample_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_attribution_single_user_partitioning(spark, sf_dir):
    """linear_touch_attribution's SCALE.md claim: the credited branch
    reuses ONE hash partitioning on the user key for the window pair and
    the join — no cartesian, and the only aggregates are user- or
    channel-sized."""
    from data_engineer_interview_task_spark.operators import relational

    plan = explain_str(relational.linear_touch_attribution(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan.replace("PythonUDFRunner", "")


def test_lateral_decorrelates_to_window_not_nested_loop(spark, sf_dir):
    """Spark 4's LATERAL correlated LIMIT subquery must decorrelate into
    a join + rank shape, not a per-outer-row nested loop: the plan may
    broadcast the 25-row nation side, but must contain a windowed rank
    (the decorrelated top-k) and NO cartesian product."""
    from data_engineer_interview_task_spark.operators import extended

    df = extended.lateral_top_customers_per_nation(spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "Window" in plan or "rank" in plan.lower()
    # semantics twin: equals the row_number-window formulation
    from pyspark.sql import Window as W

    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    w = W.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").cast("decimal(18,2)").desc(), F.col("c_custkey").asc()
    )
    twin = (
        cust.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            "c_custkey",
            "c_name",
            (F.col("c_acctbal").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("acctbal_cents"),
        )
    )
    a = {tuple(r) for r in df.collect()}
    b = {tuple(r) for r in twin.collect()}
    assert a == b


def test_dpp_rollup_prunes_partitions(spark, sf_dir):
    """The day-partitioned events artifact must be pruned DYNAMICALLY by
    the filtered calendar dim: the fact scan's PartitionFilters carries a
    dynamicpruning subquery, never a full-partition scan."""
    from data_engineer_interview_task_spark.operators import maintenance

    df = maintenance.dpp_partitioned_rollup(spark, sf_dir)
    plan = explain_str(df)
    assert "dynamicpruning" in plan.lower(), plan
    assert "PartitionFilters" in plan, plan
    assert df.count() == 7  # exactly the ISO week's days


def test_skew_report_single_scan_per_relation_key_pruned(spark, sf_dir):
    """The skew audit reads each audited relation ONCE: since the r9
    two-phase rewrite, that single scan happens during the counts
    frame's eager materialization inside ``_skew_ranked_counts``, and
    the FINAL plan must contain ZERO parquet scans — the rank AND the
    totals both ride the checkpointed frame (a parquet scan here would
    mean the totals re-scan the base table, the defect the old
    unbounded-window formulation avoided and this one must keep
    avoiding). Windows must all be _pid-scoped (no key-grain global
    sort — VERDICT r8 item 1)."""
    from data_engineer_interview_task_spark.operators import maintenance

    for fn in (
        maintenance.shuffle_skew_report,
        maintenance.shuffle_skew_report_composite,
    ):
        plan = explain_str(fn(spark, sf_dir))
        tree = plan.split("\n\n")[0]  # numbered detail section repeats
        assert tree.count("Scan parquet") == 0, tree
        for ln in plan.splitlines():
            if "windowspecdefinition(" in ln:
                assert "_pid" in ln, f"key-grain global window: {ln}"


def test_pq_adc_is_broadcast_lookup_over_codes(spark, sf_dir):
    """ADC search must rank via BROADCAST joins of the tiny distance
    tables against the codes table — no shuffle join of the corpus side
    and no cartesian product anywhere."""
    from data_engineer_interview_task_spark.operators import similarity

    plan = explain_str(similarity.pq_search_adc(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # the two distance-table joins (one per half) build broadcast sides
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_ivfpq_probes_prune_codes_partitions(spark, sf_dir):
    """IVF-PQ query-time I/O contract: the codes-artifact scan must carry
    the probed cells as static PartitionFilters (unprobed posting lists
    are never opened) and read only the code columns — no embedding
    column anywhere in the scan."""
    from data_engineer_interview_task_spark.operators import similarity

    plan = explain_str(similarity.ivfpq_search(spark, sf_dir))
    pf = [
        l
        for l in plan.splitlines()
        if "PartitionFilters" in l and "cell" in l and " IN (" in l
    ]
    assert pf, plan
    scan_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert any("code_a" in l and "embedding" not in l for l in scan_lines), (
        scan_lines
    )
