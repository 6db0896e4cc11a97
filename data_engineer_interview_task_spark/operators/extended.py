"""Extended relational surface beyond the reference's 26 rows (SURVEY.md
§2.7 lists these whole categories as absent from the reference): grouping
sets, set operations, anti/outer joins, analytic window frames, JSON/string
scalar functions, range joins, global top-k. A user migrating real
workloads onto this engine needs them; each is oracle-checked against
DuckDB and designed shuffle-consciously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import fixed_mean
from ..sources import read_table


def rollup_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP (status, priority) via leaf-aggregate-then-rollup:
    the Expand that rollup plants under the aggregate would replicate the
    corpus once per level; aggregating to the (status, priority) leaf
    FIRST (count/decimal-sum are commutative monoids) expands only
    |status x priority| rows — bit-identical results, corpus scanned
    once (same rewrite as ``maintenance.grouping_sets_report``)."""
    orders = read_table(spark, sf_dir, "orders")
    leaf = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_part"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("price_dec"),
    )
    return (
        leaf.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.sum("n_part").alias("n_orders"),
            F.sum("price_dec").cast("double").alias("total_price"),
        )
    )


def cube_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE over the two lineitem status dimensions — same
    leaf-first rewrite as the rollup above (cube's Expand is 4x, so the
    saving doubles)."""
    li = read_table(spark, sf_dir, "lineitem")
    leaf = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_part"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_dec"),
    )
    return leaf.cube("l_returnflag", "l_linestatus").agg(
        F.sum("n_part").alias("n_items"),
        F.sum("qty_dec").cast("double").alias("sum_qty"),
    )


def nations_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: nation keys that have customers INTERSECT those that
    have suppliers, EXCEPT those with any negative-account-balance supplier
    — union/intersect/except as hash-based set operators."""
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    cust_nations = customer.select(F.col("c_nationkey").alias("nationkey")).distinct()
    supp_nations = supplier.select(F.col("s_nationkey").alias("nationkey")).distinct()
    negative_supp_nations = (
        supplier.filter(F.col("s_acctbal") < 0)
        .select(F.col("s_nationkey").alias("nationkey"))
        .distinct()
    )
    return cust_nations.intersect(supp_nations).exceptAll(negative_supp_nations)


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers with no in-progress ('P') order — ``left_anti``,
    the distributed NOT EXISTS (null-safe, unlike SQL NOT IN with nulls)."""
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    p_orders = orders.filter(F.col("o_orderstatus") == "P").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return customer.join(p_orders, "c_custkey", "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def nation_order_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: per-nation customer count vs supplier count —
    nations having only one side still appear (null-filled)."""
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    c = customer.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    s = supplier.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    return c.join(s, "nationkey", "full_outer").select(
        "nationkey", "n_customers", "n_suppliers"
    )


def order_gaps_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows beyond ranking: lag/lead over each customer's order
    history plus a 3-row moving sum (frame ROWS BETWEEN 2 PRECEDING AND
    CURRENT ROW). One exchange on the partition key serves all three."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    frame = w.rowsBetween(-2, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("days_since_prev"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(frame)
        .cast("double")
        .alias("moving_3_total"),
    )


def extract_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar functions over the events.props column: extract a typed
    field per row — JVM-side JSON path evaluation, no UDF."""
    events = read_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


def part_string_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar-function surface on part names: case mapping,
    substring, split-element, length, reverse, padding, LIKE."""
    part = read_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.length("p_name").cast("long").alias("name_len"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
        F.lpad("p_type", 12, "_").alias("type_padded"),
        F.col("p_name").like("%a%").alias("has_a"),
    )


def orders_range_join(spark: SparkSession, sf_dir: str, days: int = 30) -> DataFrame:
    """Interval/range join: pairs of orders by the same customer at most
    ``days`` days apart (strictly later second order).

    The naive form is an inequality join — per-key quadratic blowup and a
    broadcast-nested-loop plan at scale. This implementation decomposes it
    into an equi-join: bucket both sides into ``days``-wide epochs, join on
    (customer, bucket) with the left side exploded over {bucket, bucket+1}
    (a window of width ``days`` can only span two adjacent buckets), then
    re-check the exact range predicate. Everything stays a hash join."""
    orders = read_table(spark, sf_dir, "orders")
    # integer epoch-day, integer bucket — float division would risk off-by-
    # one at bucket edges; o_orderdate is TIMESTAMP_NTZ in the parquet, and
    # unix_micros takes TIMESTAMP, hence the cast (session tz is UTC)
    bucket = F.expr(
        f"(unix_micros(cast(o_orderdate as timestamp)) div 86400000000) div {days}"
    )
    a = orders.select(
        F.col("o_orderkey").alias("first_orderkey"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("first_date"),
        F.explode(F.array(bucket, bucket + 1)).alias("bucket"),
    )
    b = orders.select(
        F.col("o_orderkey").alias("second_orderkey"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("second_date"),
        bucket.alias("bucket"),
    )
    return (
        a.join(b, ["custkey", "bucket"])
        .filter(
            (F.col("second_date") > F.col("first_date"))
            & (F.col("second_date") <= F.col("first_date") + F.expr(f"INTERVAL {days} DAYS"))
        )
        .select("custkey", "first_orderkey", "second_orderkey")
    )


def global_top_lineitems(spark: SparkSession, sf_dir: str, k: int = 100) -> DataFrame:
    """Global top-k with a total tie-break order: Spark plans
    orderBy+limit as TakeOrderedAndProject — per-partition heaps + a
    driver-side k-merge, never a full global sort."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.orderBy(
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
            F.col("l_returnflag").asc(),
        )
        .limit(k)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    )


def pivot_status_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (the inverse of SURVEY §2 row 8's unpivot): lineitem counts as
    a (linestatus x returnflag) matrix. Explicit pivot values keep the
    output schema static — at scale, never let pivot infer values with an
    extra distinct-scan job."""
    li = read_table(spark, sf_dir, "lineitem")
    pivoted = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.count(F.lit(1)))
    )
    # count yields null for absent combinations; normalize to 0 like the
    # CASE-sum oracle formulation
    return pivoted.select(
        "l_linestatus",
        *[F.coalesce(F.col(c), F.lit(0)).alias(f"n_{c}") for c in ("A", "N", "R")],
    )


def daily_spine_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + forward fill: one row per (user, calendar
    day) across each user's active span, carrying the last event's value
    forward over gap days.

    Spine generation is ``sequence(min_day, max_day)`` + explode (no
    driver loop); the fill is ``last(value, ignorenulls)`` over an
    unbounded-preceding window — a single exchange on user_id. The classic
    gap-filling pattern for feature tables."""
    events = read_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            "user_id", F.to_date("ts").alias("day")
        )
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("day_value"))
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .withColumn("filled_value", F.last("day_value", ignorenulls=True).over(w))
        .select(
            "user_id",
            "day",
            F.col("day_value").isNotNull().alias("had_events"),
            F.col("filled_value").cast("double").alias("filled_value"),
        )
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, one row per (label, dimension) — the
    vector-aggregate shape behind IVF coarse quantizers and k-means steps:
    the one fixed-point mean, ``functions.vector.fixed_mean`` (posexplode
    -> hash aggregate; see ``fixed_point`` for why floor of the double
    product and not a double->DECIMAL cast — the sf1 sweep caught a
    5e-12 centroid mismatch from exactly one half-tie in 1.28M casts)."""
    return fixed_mean(read_table(spark, sf_dir, "embeddings"), "label").toDF(
        "label", "dim", "centroid", "n_vectors"
    )


def sql_interface_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped query issued through ``spark.sql`` over registered
    temp views — the engine's SQL front door (same Catalyst plan as the
    DataFrame form; proves both APIs are first-class)."""
    from ..sources import load_tables

    load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql(
        """
        SELECT l_orderkey,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,6)))
                    AS DOUBLE) AS revenue,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate  > TIMESTAMP '1995-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        """
    )


def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL sketch): distinct part count per
    supplier, with the exact count alongside. At 100 TB the sketch avoids
    the exact-distinct shuffle explosion; rows-only check (HLL estimates
    are engine-specific by construction)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )


def order_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-analytic windows: percent_rank, cume_dist and
    ntile(4) of each order within its customer's history — exact-ratio
    outputs ((rank-1)/(n-1), k/n) over a total order, so cross-engine
    deterministic without float tricks."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )


def quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (interpolating continuous quantile) of quantity
    per return flag. Exact `percentile` — not approx_percentile — matches
    DuckDB's quantile_cont bit-for-bit on integer-valued doubles (the
    standard p*(n-1) linear interpolation both engines implement). At
    100 TB exact percentile is a full sort per group; switch to
    approx_percentile (t-digest) when the inputs are true continuous
    doubles or groups are huge."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("q25"),
        F.expr("percentile(l_quantity, 0.5)").alias("median"),
        F.expr("percentile(l_quantity, 0.75)").alias("q75"),
        F.expr("percentile(l_quantity, 0.95)").alias("q95"),
    )


def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling pass: one row per profiled column with null count,
    distinct count, min and max — the validation step in front of any
    ingestion pipeline. All stats come from ONE aggregation over one scan
    (not a scan per column); the per-column rows are a static unpivot of
    that single aggregate row."""
    li = read_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_orderkey"]
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(F.col(c).cast("double")).alias(f"{c}__min"),
            F.max(F.col(c).cast("double")).alias(f"{c}__max"),
        ]
    one = li.agg(*aggs)
    per_col = [
        one.select(
            F.lit(c).alias("column"),
            F.col(f"{c}__nulls").cast("long").alias("n_nulls"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_val"),
            F.col(f"{c}__max").alias("max_val"),
        )
        for c in cols
    ]
    out = per_col[0]
    for p in per_col[1:]:
        out = out.unionByName(p)
    return out


def supplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-function surface per nation over supplier balances:
    count/min/max plus an exact mean derived from a DECIMAL sum (never a
    double sum — partition-order dependent)."""
    supplier = read_table(spark, sf_dir, "supplier")
    dec_sum = F.sum(F.col("s_acctbal").cast("decimal(18,2)"))
    return supplier.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.min("s_acctbal").alias("min_bal"),
        F.max("s_acctbal").alias("max_bal"),
        (dec_sum.cast("double") / F.count(F.lit(1))).alias("avg_bal"),
    )


def priority_class_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12's shape on the testdata schema: join lineitem->orders and
    count urgent-class vs other-class orders per line status (l_linestatus
    standing in for shipmode). The conditional-aggregation-after-join
    pattern: one shuffle for the join (AQE picks the strategy), partial
    aggregation bounds the exchange to groups x partitions."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(urgent, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14's shape: what fraction of revenue comes from PROMO parts?
    Join lineitem->part, conditional DECIMAL sums (exact, order-independent),
    and the share as ONE double division of the two exact sums — the only
    cross-engine-stable way to emit a ratio. Part is a dimension table:
    explicitly broadcast, so the fact scan never shuffles."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    disc_price = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (1 - F.col("l_discount").cast("decimal(18,2)"))
    ).cast("decimal(28,6)")
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
            F.lit(0).cast("decimal(28,6)")
        )
    )
    total = F.sum(disc_price)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            promo.cast("double").alias("promo_revenue"),
            total.cast("double").alias("total_revenue"),
            (promo.cast("double") / total.cast("double")).alias("promo_share"),
        )
    )


def order_value_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window value-function surface: first_value / last_value / nth_value
    over each customer's order history (full frame for last/nth — the
    default running frame would make last_value mean 'current'). One
    exchange on the partition key; every orderBy is a total order."""
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    base = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    full = base.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.first_value(F.col("o_totalprice")).over(base).alias("first_price"),
        F.last_value(F.col("o_totalprice")).over(full).alias("last_price"),
        F.nth_value(F.col("o_totalprice"), 2).over(full).alias("second_price"),
    )


def fuzzy_name_matches(spark: SparkSession, sf_dir: str, max_dist: int = 4) -> DataFrame:
    """Fuzzy string matching with dedupe-first blocking: collapse part
    names to distinct values (64 regardless of SF — the shuffle carries the
    distinct names + counts, never the fact rows), block on the first word,
    pair within blocks, keep levenshtein ≤ ``max_dist``. The entity-
    resolution shape: at 100 TB the distinct-first step is what makes the
    quadratic edit-distance affordable — it runs on the value domain, not
    the row count."""
    part = read_table(spark, sf_dir, "part")
    names = (
        part.groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .withColumn("w", F.split("p_name", " ").getItem(0))
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        "w",
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        "w",
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "w")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(dist <= max_dist)
        .select(
            "name_a",
            "name_b",
            dist.cast("int").alias("distance"),
            "n_parts_a",
            "n_parts_b",
        )
    )


def approx_quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles (approx_percentile): the one-pass,
    bounded-memory path for 100 TB where exact percentile's full sort per
    group is unaffordable. Accuracy knob = max relative error 1/10000.
    Rows-only check: the sketch's merge order is engine-specific (the
    exact twin is ``quantity_percentiles``)."""
    li = read_table(spark, sf_dir, "lineitem")
    pct = F.percentile_approx(
        "l_quantity", [0.25, 0.5, 0.75, 0.95], 10000
    )
    return li.groupBy("l_returnflag").agg(
        pct.getItem(0).alias("q25"),
        pct.getItem(1).alias("median"),
        pct.getItem(2).alias("q75"),
        pct.getItem(3).alias("q95"),
    )


def global_row_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global row numbering WITHOUT the single-partition window
    anti-pattern. ``row_number() OVER (ORDER BY ...)`` with no PARTITION BY
    funnels 100 TB through one task; instead: range-partition by the sort
    key, number within each partition (parallel windows), then add each
    partition's cumulative offset via a tiny broadcast join — the classic
    two-phase zipWithIndex, expressed declaratively. Deterministic because
    the sort key (doc_id) is unique and repartitionByRange splits on it.

    The pid assignment is MATERIALIZED once (localCheckpoint): both
    consumers (the numbering window and the offset aggregate) re-evaluate
    their lineage otherwise, and repartitionByRange picks its boundaries
    by SAMPLING — two evaluations over a multi-file input can draw
    different boundaries, silently misaligning offsets against local
    ranks (caught by the sf1 at-scale oracle sweep: single-file driver
    fixtures always resampled identically, the 8-file sf1 corpus did
    not). At 100 TB this is one cached pass over the (key, payload, pid)
    projection — the price of using spark_partition_id, which is only
    deterministic WITHIN one evaluation."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    parts = (
        docs.repartitionByRange(8, F.col("doc_id"))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    in_part = Window.partitionBy("pid").orderBy(F.col("doc_id").asc())
    numbered = parts.withColumn("rn_local", F.row_number().over(in_part))
    # per-partition counts -> exclusive prefix sum; ~8 rows, broadcastable
    off_w = (
        Window.orderBy(F.col("pid").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        parts.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("offset", F.sum("cnt").over(off_w) - F.col("cnt"))
        .select("pid", "offset")
    )
    return (
        numbered.join(F.broadcast(offsets), "pid")
        .select(
            "doc_id",
            "source",
            (F.col("rn_local") + F.col("offset")).cast("long").alias("row_num"),
        )
    )


def zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key: interleave the low 8 bits of two
    dimensions (customer bucket, order day-of-year) so a sort on the key
    co-locates rows close in BOTH dimensions — the data-clustering trick
    behind multi-column file skipping (each file's min/max then covers a
    small rectangle, and scans with predicates on either column prune).
    Pure bit arithmetic, codegen, zero shuffle; writing sorted-by-zkey is
    the deployment step."""
    orders = read_table(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % 256).cast("long")
    y = F.dayofyear("o_orderdate").cast("long") % 256

    def interleave(col, shift_base: int):
        # spread 8 bits to even positions: classic bit-twiddling via
        # per-bit shifts (8 terms, folded constant-wise by Catalyst)
        spread = F.lit(0).cast("long")
        for i in range(8):
            bit = F.shiftright(col, i).bitwiseAND(F.lit(1))
            spread = spread + (bit * F.lit(1 << (2 * i + shift_base))).cast("long")
        return spread

    return orders.select(
        "o_orderkey",
        x.alias("cust_bucket"),
        y.alias("day_bucket"),
        (interleave(x, 0) + interleave(y, 1)).alias("zkey"),
    )


def zorder_skipping_report(
    spark: SparkSession,
    sf_dir: str,
    rows_per_file: int = 4096,
    box: tuple = (64, 127, 100, 163),
) -> DataFrame:
    """FILE-SKIPPING EFFECTIVENESS of Z-order vs linear clustering — the
    measurement that justifies (or rejects) a re-clustering job: lay the
    orders table out in ``rows_per_file`` files under (a) the Morton
    zkey order and (b) the single-dimension linear order, compute each
    file's (cust_bucket, day_bucket) min/max envelope, and count how
    many files a 2-D box query must scan under each layout. Z-order's
    whole point is that both dimensions' envelopes stay tight, so the
    box prunes files in BOTH dimensions; the linear layout prunes only
    its sort dimension.

    Exact and engine-mirrorable: file assignment is
    ``(rank - 1) DIV rows_per_file`` over the tie-broken total order
    (the rank via :func:`relational.two_phase_cumsum` — no single-task
    sort even while simulating the layout), envelopes are integer
    min/max, and the overlap test is closed-interval arithmetic. Emits
    one row per layout with file counts, scanned rows and the skip
    ratio in exact millis."""
    from .relational import two_phase_cumsum

    x_lo, x_hi, y_lo, y_hi = box
    base = zorder_key(spark, sf_dir)

    def layout_stats(name: str, order_cols):
        ranked = two_phase_cumsum(base, order_cols, F.lit(1), "rk")
        files = ranked.withColumn(
            "file_id", F.expr(f"(rk - 1) DIV {rows_per_file}")
        )
        return files.groupBy("file_id").agg(
            F.min("cust_bucket").alias("min_x"),
            F.max("cust_bucket").alias("max_x"),
            F.min("day_bucket").alias("min_y"),
            F.max("day_bucket").alias("max_y"),
            F.count(F.lit(1)).alias("n_rows"),
        ).select(F.lit(name).alias("layout"), "*")

    stats = layout_stats(
        "zorder", [F.col("zkey").asc(), F.col("o_orderkey").asc()]
    ).unionAll(
        layout_stats(
            "linear", [F.col("day_bucket").asc(), F.col("o_orderkey").asc()]
        )
    )
    overlaps = (
        (F.col("max_x") >= x_lo)
        & (F.col("min_x") <= x_hi)
        & (F.col("max_y") >= y_lo)
        & (F.col("min_y") <= y_hi)
    ).cast("long")
    return (
        stats.withColumn("hit", overlaps)
        .groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("hit").cast("long").alias("n_files_scanned"),
            F.sum(F.col("hit") * F.col("n_rows"))
            .cast("long")
            .alias("rows_scanned"),
        )
        .withColumn(
            "skip_millis",
            F.expr("(n_files - n_files_scanned) * 1000 DIV n_files")
            .cast("long"),
        )
    )


def orders_above_global_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery pattern: orders above the global average price.
    The average is ONE exact value (decimal sum / count, emitted double)
    computed once and broadcast-cross-joined onto the scan — at 100 TB
    that's a two-job plan (tiny agg, then map-side filter), never a
    per-row subquery."""
    orders = read_table(spark, sf_dir, "orders")
    avg_row = orders.agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_price")
    )
    return (
        orders.crossJoin(F.broadcast(avg_row))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "avg_price")
    )


def order_date_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime scalar surface: year/quarter/month/ISO week/ISO weekday/
    month-end, all JVM-side. ISO weekday is derived from dayofweek
    (Spark has no isodow); month-end is emitted as a formatted string so
    both engines serialize identically."""
    orders = read_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.year(d).cast("long").alias("yr"),
        F.quarter(d).cast("long").alias("qtr"),
        F.month(d).cast("long").alias("mon"),
        F.weekofyear(d).cast("long").alias("iso_week"),
        ((F.dayofweek(d) + 5) % 7 + 1).cast("long").alias("iso_dow"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
    )


def price_histogram(spark: SparkSession, sf_dir: str, n_bins: int = 20) -> DataFrame:
    """Fixed-width histogram of order prices: one pass for min/max (tiny
    agg, broadcast), one pass to bin and count — the profiling shape that
    scales as two map-side-combined aggregations. Bin edges derive from
    exact min/max doubles; the bin index is one IEEE multiply-divide chain
    + floor, identical in both engines; the top edge folds into the last
    bin (the standard closed-right histogram convention)."""
    orders = read_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    binned = orders.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("lo"))
                * n_bins
                / (F.col("hi") - F.col("lo"))
            ),
            F.lit(n_bins - 1),
        )
        .cast("long")
        .alias("bin"),
        "lo",
        "hi",
    )
    return binned.groupBy("bin", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


def price_quantity_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation with EXACT moment accumulation: the five sums
    (x, y, xy, x^2, y^2) accumulate in DECIMAL (order-independent), and the
    correlation is assembled from their double casts in one fixed IEEE
    expression — unlike builtin corr(), whose double running sums are
    partition-order dependent and engine-specific. One aggregation, one
    output row; the assembly arithmetic is identical text in both engines."""
    li = read_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum((x * y).cast("decimal(28,6)")).cast("double").alias("sxy"),
        F.sum((x * x).cast("decimal(28,6)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(28,6)")).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        n * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return agg.select(
        "n",
        (num / den).alias("corr_qty_price"),
    )


def big_order_customers(spark: SparkSession, sf_dir: str, min_qty: int = 150) -> DataFrame:
    """TPC-H Q18's shape: customers whose single orders accumulate large
    total quantities — aggregate-then-semi-join (the HAVING subquery
    becomes a broadcastable key list, never a correlated per-row probe),
    then re-join facts for the report. Two aggregations over lineitem,
    both partial-aggregated; the heavy join keys on orderkey."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_dec"))
        .filter(F.col("qty_dec") > min_qty)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("qty_dec").cast("double").alias("total_qty"),
        )
    )


def null_safe_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=>): correlate events by their optional
    JSON property value, treating NULL as a joinable key — the semantics
    plain '=' silently drops. Pairs each error event with signup events
    carrying the SAME (possibly absent) property k, counting matches.
    At scale: null-safe equality still hash-partitions (NULL hashes like
    any key), so the join stays a plain shuffle/broadcast hash join."""
    events = read_table(spark, sf_dir, "events")
    # nullif(k, 0): treat the 0 sentinel as absent so NULL is a real,
    # populated join group and the null-safe semantics are exercised
    k = F.nullif(F.get_json_object("props", "$.k").cast("long"), F.lit(0))
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), k.alias("k")
    )
    signups = events.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), k.alias("k")
    )
    return (
        errors.join(signups, errors.k.eqNullSafe(signups.k))
        .groupBy(errors.k.alias("k"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def variant_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics over the open VARIANT type (Spark 4):
    ``parse_json`` turns the events.props JSON string into a binary
    variant ONCE per row, then ``variant_get`` path extraction runs
    against the decoded form — at scale this beats re-parsing the string
    per ``get_json_object`` path (the shredded-variant scan path in
    Parquet readers makes it a columnar pushdown, the way engines like
    Snowflake treat semi-structured columns). Rolled up by k mod 10 so the
    output is bounded and every aggregate is algebraic."""
    events = read_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        events.select((k % 10).alias("k_bucket"), k.alias("k"))
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


def price_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram over order totals (fixed-width lives in
    ``price_histogram``): 8 near-equal-population buckets whose [min, max]
    bounds are the empirical octile boundaries — the summary optimizers
    build for selectivity estimation.

    NOT ``ntile()`` over a global window: that funnels the whole table
    through ONE task. Instead the two-phase global-numbering pattern
    (``global_row_numbers``): range-partition on the total order
    (price, orderkey), number within partitions in parallel, add broadcast
    offsets — then the closed-form ``floor((rn-1)*8/n)`` maps positions to
    buckets. Integer-exact, so the DuckDB twin (row_number + the same
    formula) hash-matches; bucket populations differ from ANSI ntile's
    remainder rule by at most rounding, which is irrelevant to the
    histogram's purpose and keeps every operator distributed."""
    orders = read_table(spark, sf_dir, "orders")
    parts = orders.select("o_totalprice", "o_orderkey").repartitionByRange(
        8, F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    ).withColumn("pid", F.spark_partition_id())
    in_part = Window.partitionBy("pid").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    numbered = parts.withColumn("rn_local", F.row_number().over(in_part))
    off_w = Window.orderBy(F.col("pid").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = (
        parts.groupBy("pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("offset", F.sum("cnt").over(off_w) - F.col("cnt"))
        .withColumn("n_total", F.sum("cnt").over(
            off_w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ))
        .select("pid", "offset", "n_total")
    )
    bucketed = numbered.join(F.broadcast(offsets), "pid").select(
        "o_totalprice",
        # pure integer arithmetic (div, not /): no float anywhere in the
        # bucket assignment, so the oracle twin is trivially bit-identical
        F.expr("((rn_local + offset - 1) * 8) div n_total").alias("bucket"),
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("bucket_value"),
    )


def recursive_week_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 ``WITH RECURSIVE``) generating the complete
    weekly calendar spanned by the orders table, left-joined with per-week
    order counts — the gap-free reporting spine (zero-order weeks appear
    as 0, which a plain GROUP BY can never produce).

    Weeks are epoch-aligned integers (``unix_micros div week``), so the
    recursion is pure integer arithmetic with exact cross-engine parity.
    PERF: Spark executes one job per recursion level, so recursing by 1
    week costs hundreds of tiny jobs (~80s for a 7-year span). Instead the
    recursion advances by 64-week anchors (≤ ~6 levels for decades) and
    each anchor expands to its weeks with ``explode(sequence(...))`` — the
    recursive-CTE fixpoint is still exercised, without per-row jobs.
    SCALE: the recursion generates only the tiny spine (one row per week —
    hundreds of rows for decades); the 100 TB side is the ordinary
    aggregate it joins. Never recurse over data-sized sets — for those use
    the iterative DataFrame loop (``near_dup_clusters``) where each step
    is a checkpointed distributed job."""
    orders = read_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_rws")
    return spark.sql(
        """
WITH RECURSIVE bounds AS (
  SELECT MIN(unix_micros(CAST(o_orderdate AS TIMESTAMP))
             div 604800000000) AS w_lo,
         MAX(unix_micros(CAST(o_orderdate AS TIMESTAMP))
             div 604800000000) AS w_hi
  FROM orders_rws
),
anchor(a) MAX RECURSION LEVEL 10000 AS (
  SELECT w_lo FROM bounds
  UNION ALL
  SELECT a + 64 FROM anchor, bounds WHERE a + 64 <= w_hi
),
wk AS (
  SELECT explode(sequence(a, least(a + 63, w_hi))) AS w
  FROM anchor, bounds
),
per_wk AS (
  SELECT unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 604800000000 AS w_o,
         COUNT(*) AS n
  FROM orders_rws GROUP BY 1
)
SELECT timestamp_micros(w * 604800000000) AS week_start,
       COALESCE(n, CAST(0 AS BIGINT)) AS n_orders
FROM wk LEFT JOIN per_wk ON w = w_o
"""
    )


def grouped_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form OLS fit (grouped model fitting without any
    ML library): slope + intercept of daily event value against the day
    index, one model per event_type — the drift/trend monitor of a
    pipeline dashboard, and the template for any per-segment regression
    at 100 TB: ONE partial-aggregated groupBy computing the five exact
    moment sums (n, Sx, Sxx, Sy, Sxy), then the normal-equation solve on
    the |groups|-row result. No iteration, no collect of data rows, and
    the heavy pass is a plain map-side-combined aggregation.

    Cross-engine exactness: x is an integer day index and y integer
    CENTS (the event_value_outliers idiom), so every moment sum is exact
    BIGINT arithmetic; slope/intercept are a single double division of
    exact numerator/denominator (+ one /100 descale). Bounds: |n*Sxy| <=
    ~1e5 rows * 30 days * 1e5 cents * 1e5 < 2^63 at bench SFs — at true
    corpus scale promote the moment sums to DECIMAL(38)."""
    events = read_table(spark, sf_dir, "events")
    x = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
    yc = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    base = events.select(
        "event_type", x.cast("long").alias("x"), yc.alias("y")
    )
    m = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    s_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    i_num = F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")
    return m.select(
        "event_type",
        "n",
        (s_num.cast("double") / den.cast("double") / F.lit(100.0)).alias(
            "slope_per_day"
        ),
        (i_num.cast("double") / den.cast("double") / F.lit(100.0)).alias(
            "intercept"
        ),
    )


def daily_spine_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + LINEAR interpolation — the companion to
    ``daily_spine_ffill`` for quantities that drift rather than hold
    (sensor readings, balances): each gap day gets the straight-line
    value between its surrounding observed days,
    v = v_prev + (v_next - v_prev) * k/span.

    Shape: the same sequence-explode spine and ONE exchange on user_id;
    prev/next anchors are two windows over the same partitioning (last
    ignorenulls preceding, first ignorenulls following) — Spark plans
    both in a single sort, no extra shuffle. Edge days are observed by
    construction (the spine spans each user's min..max active day), so
    every gap day has both anchors.

    Exactness: anchors are integer cents and day offsets integers, so
    (v_next - v_prev) * k is exact in double (< 2^53) and the one
    division + addition + descale follow an identical association in the
    DuckDB twin."""
    events = read_table(spark, sf_dir, "events")
    daily = events.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("vc")
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("vc").isNotNull(), F.col("day"))
    joined = (
        spine.join(daily, ["user_id", "day"], "left")
        .withColumn("vp", F.last("vc", ignorenulls=True).over(wp))
        .withColumn("dp", F.last(obs_day, ignorenulls=True).over(wp))
        .withColumn("vn", F.first("vc", ignorenulls=True).over(wn))
        .withColumn("dn", F.first(obs_day, ignorenulls=True).over(wn))
    )
    k = F.datediff(F.col("day"), F.col("dp"))
    span = F.datediff(F.col("dn"), F.col("dp"))
    interp = F.when(span == 0, F.col("vp").cast("double")).otherwise(
        F.col("vp").cast("double")
        + ((F.col("vn") - F.col("vp")) * k).cast("double")
        / span.cast("double")
    )
    return joined.select(
        "user_id",
        "day",
        F.col("vc").isNotNull().alias("had_events"),
        (interp / F.lit(100.0)).alias("interp_value"),
    )


def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1-per-key via ``max_by`` over a total-order struct — the
    AGGREGATE formulation of "latest row per user". The scale property
    vs the window formulation (`row_number` = 1) is the SHUFFLE: the
    aggregate runs in partial mode, so only one candidate row per
    (partition, user) crosses the exchange, where the window form ships
    EVERY event to its key's partition before ranking. (With a struct
    ordering key Spark picks SortAggregate — struct buffers aren't
    hash-aggregable — so each side still sorts ITS OWN slice; the win is
    exchange bytes, not sort removal; tests/test_plans.py pins the
    partial-before-Exchange shape.) Use the window form only when you
    need ranks beyond 1 (then WindowGroupLimit bounds it).

    Determinism: the ordering struct (ts, event_id) is a total order, so
    max_by is single-valued; emitted value is the stored double
    untouched."""
    ev = read_table(spark, sf_dir, "events")
    pick = F.max_by(
        F.struct("ts", "event_id", "event_type", "value"),
        F.struct("ts", "event_id"),
    )
    return (
        ev.groupBy("user_id")
        .agg(pick.alias("s"))
        .select(
            "user_id",
            F.col("s.ts").alias("last_ts"),
            F.col("s.event_id").alias("last_event_id"),
            F.col("s.event_type").alias("last_event_type"),
            F.col("s.value").alias("last_value"),
        )
    )


def hll_union_weekly_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE-sketch rollup (Datasketches HLL, Spark 3.5+): build one
    HLL sketch per (day, event_type), then UNION the daily sketches into
    weekly distinct-user estimates — the pre-aggregated-sketch-table
    pattern that makes 100 TB distinct-count dashboards cheap: the daily
    sketch build scans raw events ONCE ever; every coarser rollup
    (week/month/arbitrary ranges) merges kilobyte sketches instead of
    rescanning, something exact countDistinct fundamentally cannot do
    (distinct counts are not additive; sketches are unionable).

    Emitted next to the EXACT weekly distinct (computed independently)
    so the driver's rows-only record still shows the error envelope;
    tests/test_approx_bounds.py pins relative error <= 5% at lgK=12.
    Registered rows-only: sketch internals are engine-specific."""
    events = read_table(spark, sf_dir, "events")
    day = F.date_trunc("DAY", F.col("ts")).alias("day")
    week = (
        F.timestamp_seconds(
            (F.unix_timestamp("day") / F.lit(604800)).cast("long")
            * F.lit(604800)
        )
    ).alias("week_start")
    daily = events.select("user_id", "event_type", day).groupBy(
        "day", "event_type"
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = (
        daily.select("event_type", week, "sk")
        .groupBy("week_start", "event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
                "approx_users"
            )
        )
    )
    exact = (
        events.select(
            "user_id",
            "event_type",
            F.date_trunc("DAY", F.col("ts")).alias("day"),
        )
        .select(
            "user_id",
            "event_type",
            F.timestamp_seconds(
                (F.unix_timestamp("day") / F.lit(604800)).cast("long")
                * F.lit(604800)
            ).alias("week_start"),
        )
        .groupBy("week_start", "event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return merged.join(exact, ["week_start", "event_type"]).select(
        "week_start", "event_type", "approx_users", "exact_users"
    )


def brand_assoc_rules(
    spark: SparkSession, sf_dir: str, min_pair_support: int = 20
) -> DataFrame:
    """Market-basket association rules over order baskets (frequent-pattern
    mining — the recommender-adjacent analytics family). Baskets are
    orders; items are part BRANDS (bounded vocabulary, so pair cardinality
    is |brands|² regardless of corpus size — the right granularity for a
    100 TB basket stream).

    Shape: one broadcast dim join (part→brand), a distinct to basket
    grain, then a bounded self-equi-join on the basket key — per-basket
    item count is data-model-bounded, so the pair fan-out per key is O(1).
    Supports are exact BIGINT basket counts; ``confidence`` and ``lift``
    are single IEEE divisions of exact integer products (products stay
    < 2⁵³ up to ~10¹⁰ baskets; past that, pre-divide by basket count in
    DECIMAL).

    Rules are DIRECTED (antecedent → consequent, both orders emitted);
    ``min_pair_support`` prunes the long tail before the rule join.
    """
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    totals = baskets.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_baskets")
    )
    item = baskets.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("s_item")
    )
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") != F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("antecedent"),
            F.col("b.p_brand").alias("consequent"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("s_pair"))
        .filter(F.col("s_pair") >= min_pair_support)
    )
    sa = item.select(
        F.col("p_brand").alias("antecedent"), F.col("s_item").alias("s_ante")
    )
    sc = item.select(
        F.col("p_brand").alias("consequent"), F.col("s_item").alias("s_cons")
    )
    return (
        pairs.join(F.broadcast(sa), "antecedent")
        .join(F.broadcast(sc), "consequent")
        .crossJoin(F.broadcast(totals))
        .select(
            "antecedent",
            "consequent",
            "s_pair",
            "s_ante",
            "s_cons",
            (F.col("s_pair").cast("double") / F.col("s_ante")).alias("confidence"),
            (
                (F.col("s_pair") * F.col("n_baskets")).cast("double")
                / (F.col("s_ante") * F.col("s_cons"))
            ).alias("lift"),
        )
    )


def calendar_activity_spine(
    spark: SparkSession, sf_dir: str, days: int = 35
) -> DataFrame:
    """Calendar-complete daily activity: the Python DataSource API's
    ``date_spine`` source (pure-Python executor-side generation, the
    custom-connector extension point) LEFT-joined to the daily event
    rollup, zero-filling days with no activity — the spine runs past the
    fixture's last event so the zero-fill path is always exercised.
    This promotes the DataSource seam to a first-class, oracle-checked
    query: the spine feed itself participates in the hash compare.

    Shape: the spine is tiny and broadcasts; the rollup is one
    partial-aggregated groupBy(day). Exact counts; the value sum follows
    the decimal→double rule.
    """
    from ..sources.pydatasource import register_date_spine_source

    register_date_spine_source(spark)
    spine = (
        spark.read.format("date_spine")
        .option("start", "2024-01-01")
        .option("days", str(days))
        .load()
    )
    events = read_table(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("tv"),
    )
    return spine.join(daily, "day", "left").select(
        "day",
        "day_index",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.coalesce("tv", F.lit(0.0)).alias("total_value"),
    )


#: ONE SQL text, executed verbatim by BOTH engines (Spark 4.1's native
#: WITH RECURSIVE and DuckDB's) — the strongest possible oracle twin: not
#: two formulations proved equivalent, but the same query text.
RECURSIVE_REACH_SQL = """
WITH RECURSIVE li AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
), edges AS (
  SELECT a.l_suppkey AS src, b.l_suppkey AS dst
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 8
), reach(node, hop) AS (
  SELECT s_suppkey AS node, 0 AS hop
  FROM supplier WHERE s_suppkey % 97 = 0
  UNION ALL
  SELECT e.dst AS node, r.hop + 1 AS hop
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.hop < 2
)
SELECT CAST(node AS BIGINT) AS s_suppkey, CAST(MIN(hop) AS BIGINT) AS hop
FROM reach GROUP BY node
"""


def recursive_supplier_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth reachability via a GENUINE recursive CTE — Spark
    4.1's ``WITH RECURSIVE`` (the UnionLoop iterative plan), not an
    unrolled join chain. Semantically identical to
    ``graph.supplier_bfs_hops`` (same seeds, same 3-hop bound, same
    min-hop), which pins the recursive planner against the unrolled
    Pregel formulation; the DuckDB oracle executes the VERBATIM same SQL
    text.

    Recursion discipline, learned the hard way: ``UNION ALL`` recursion
    materializes every PATH PREFIX — on the raw (91%-complete) graph
    that is ~15M rows by depth 3 at sf0.01, tripping Spark's
    RECURSION_ROW_LIMIT_EXCEEDED guard; and Spark 4.1 does not yet
    accept the set-semantics ``UNION`` form that would dedup states
    (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE). So the explosion is bounded
    STRUCTURALLY instead: support-thresholded edges (>= 8 shared
    orders), a sparse seed set (every 97th supplier), and depth 2 —
    seeds x deg^2 stays ~10^4-10^5 at every SF. Unbounded shortest
    paths belong on the unrolled/iterative Pregel form
    (``graph.supplier_bfs_hops``) where each round min-aggregates
    before expanding."""
    from ..sources import load_tables

    load_tables(spark, sf_dir, ("lineitem", "supplier"))
    return spark.sql(RECURSIVE_REACH_SQL)


#: shared VERBATIM by the Spark query and the DuckDB oracle (both engines
#: implement ANSI LATERAL with identical correlation semantics)
LATERAL_TOP_CUSTOMERS_SQL = """
SELECT n.n_name, t.c_custkey, t.c_name,
       CAST(t.c_acctbal * 100 AS BIGINT) AS acctbal_cents
FROM nation n,
LATERAL (
  SELECT c_custkey, c_name, CAST(c_acctbal AS DECIMAL(18,2)) AS c_acctbal
  FROM customer c
  WHERE c.c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey ASC
  LIMIT 3
) t
"""


def lateral_top_customers_per_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-3 customers by account balance per nation via a GENUINE
    correlated LATERAL subquery — Spark 4's LATERAL join planner
    (DecorrelateInnerQuery → per-row rank), not a window rewrite. The
    same per-group-top-k semantics as ``top_orders_per_customer``'s
    window formulation, which pins the lateral decorrelation against the
    row_number path; the DuckDB oracle executes the VERBATIM same SQL
    (both engines implement ANSI lateral correlation). Total order inside
    the lateral (acctbal DESC, custkey ASC) keeps the LIMIT slice
    bit-deterministic. The balance is EMITTED as BIGINT cents: this was
    the registry's only DECIMAL output column, and the r5 checksum
    bisection proved the driver's DECIMAL transport/compare stage can
    diverge where every local gate is green — BIGINT transport is the
    proven-safe class (ordering still happens on the DECIMAL inside the
    lateral).

    Scale note: Catalyst decorrelates the lateral into a join + windowed
    rank over the customer side — the same physical shape as the window
    form, so lateral is a FRONT-END feature, not a nested-loop trap; the
    plan-shape test pins the absence of BroadcastNestedLoopJoin growth
    beyond the 25-row nation side."""
    from ..sources import load_tables

    load_tables(spark, sf_dir, ("nation", "customer"))
    return spark.sql(LATERAL_TOP_CUSTOMERS_SQL)


def nation_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical share-of-parent: each nation's order revenue, its
    share of its REGION's total, and the region's share of the GLOBAL
    total — the drill-down ratio ladder every BI layer needs. Computed
    on the aggregated |nations|-row frame (two window sums over region /
    global partitions of 25 rows), never the fact table; shares are
    single IEEE divisions of exact decimal-sum-derived doubles... except
    they are NOT divisions of doubles: both numerator and denominator
    stay DECIMAL until the one final division-as-double, per the
    cross-engine rule (decimal sums are exact, so the two operands
    convert identically)."""
    customer = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    nation = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        orders.join(
            F.broadcast(customer.withColumnRenamed("c_custkey", "o_custkey")),
            "o_custkey",
        )
        .groupBy("c_nationkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("nat_rev"))
        .join(
            F.broadcast(nation.withColumnRenamed("n_nationkey", "c_nationkey")),
            "c_nationkey",
        )
        .join(
            F.broadcast(region.withColumnRenamed("r_regionkey", "n_regionkey")),
            "n_regionkey",
        )
    )
    w_reg = Window.partitionBy("n_regionkey")
    w_all = Window.partitionBy()
    reg_rev = F.sum("nat_rev").over(w_reg)
    glob_rev = F.sum("nat_rev").over(w_all)
    return rev.select(
        F.col("r_name").alias("region"),
        F.col("n_name").alias("nation"),
        F.col("nat_rev").cast("double").alias("nation_revenue"),
        (F.col("nat_rev").cast("double") / reg_rev.cast("double")).alias(
            "share_of_region"
        ),
        (reg_rev.cast("double") / glob_rev.cast("double")).alias(
            "region_share_of_global"
        ),
    )


def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED order statistic: per returnflag, the quantity-weighted
    (lower) median of extended price — "the price at which half the
    shipped units are cheaper". Plain medians ignore how much each row
    weighs; the weighted form is the inventory/finance version.

    Exact distributed formulation: collapse to ``(returnflag,
    price_cents)`` GRAIN first (one map-side-combined groupBy — ties
    merge, so the cumulative-through-price sum is identical to the
    row-grain cumsum at each price's last row), then run the cumulative
    weight sum over the far smaller per-price frame with
    ``two_phase_cumsum`` partitioned by returnflag — VERDICT r7 item 1:
    the old row-grain window under ``partitionBy(l_returnflag)`` was a
    3-task sort of the whole fact table; now every range partition
    sorts independently. Pick the FIRST price where ``2*cum >= total``
    (the lower weighted median — a well-defined DISCRETE statistic:
    the first crossing ROW's price is exactly the minimal price whose
    through-price cumulative crosses, because rows of one price are
    contiguous and cum is monotone). Weights and prices are exact
    integers/cents."""
    from .relational import two_phase_cumsum

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    tot = li.groupBy("l_returnflag").agg(
        F.sum("w").alias("total_w"), F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    grain = li.groupBy("l_returnflag", "price_cents").agg(
        F.sum("w").alias("w")
    )
    cum = two_phase_cumsum(
        grain,
        [F.col("price_cents").asc()],
        F.col("w"),
        "cum",
        part_cols=("l_returnflag",),
    ).join(F.broadcast(tot), "l_returnflag")
    crossed = cum.filter(2 * F.col("cum") >= F.col("total_w"))
    return (
        crossed.groupBy("l_returnflag")
        .agg(
            F.min("price_cents").alias("med_cents"),
            F.first("total_w").alias("total_w"),
            F.first("n_rows").alias("n_rows"),
        )
        .select(
            "l_returnflag",
            "n_rows",
            F.col("total_w").cast("long").alias("total_quantity"),
            (F.col("med_cents") / 100.0).alias("weighted_median_price"),
        )
    )


def time_grain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-hierarchy rollup: event count + value total at DAY, ISO
    WEEK, and MONTH grain in one result, built LEAF-FIRST (the r3
    rollup/cube lesson): one corpus scan aggregates to the day leaves;
    week and month re-aggregate the ~30-row daily frame — decimal sums
    re-aggregate exactly, so the coarser grains are bit-identical to
    direct aggregation, and the corpus is never scanned three times (nor
    Expand-multiplied 3x as naive GROUPING SETS would).

    Cross-engine: ``date_trunc('week')`` is ISO-Monday in both Spark and
    DuckDB; values stay DECIMAL until each grain's final double cast.
    """
    events = read_table(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("v"),
    )

    def grain(df, col, label):
        return df.groupBy(col.alias("period_start")).agg(
            F.sum("n").cast("long").alias("n_events"),
            F.sum("v").cast("double").alias("total_value"),
        ).select(F.lit(label).alias("grain"), "period_start", "n_events", "total_value")

    day = grain(daily, F.col("day"), "day")
    week = grain(daily, F.to_date(F.date_trunc("week", F.col("day"))), "week")
    month = grain(daily, F.to_date(F.date_trunc("month", F.col("day"))), "month")
    return day.unionAll(week).unionAll(month)


def customer_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz/Pareto concentration analysis: customers sorted by revenue
    descending, with each customer's cumulative share of customers and
    of revenue — the "what fraction of customers drive 80% of revenue"
    curve, plus a flag on the 80% crossing row. The concentration-
    diagnostics family (source skew in a training corpus follows the
    same math as revenue skew here).

    Shape: the corpus reduces to one row per customer (partial-agg);
    customer grain is still UNBOUNDED (~15M at sf100), so the ordered
    cumulative sum and the rank run through
    :func:`relational.two_phase_cumsum` (VERDICT r8 item 1) — range-
    repartition on (rev_cents desc, custkey asc), window WITHIN each
    range partition, broadcast prefix offsets; the customer/revenue
    totals ride the same materialized partition frame (``totals=``), so
    the whole curve is one base scan with NO single-task global sort.
    Exactness: revenue stays integer CENTS through the cumsum; shares
    are single IEEE divisions; the ordering tie-break (revenue desc,
    custkey asc) is total — every tie group is a singleton, the
    two-phase precondition.
    """
    from .relational import two_phase_cumsum

    orders = read_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .alias("rev_cents")
    )
    cum = two_phase_cumsum(
        per_cust,
        [F.col("rev_cents").desc(), F.col("o_custkey").asc()],
        F.col("rev_cents"),
        "cum_cents",
        extra=((F.lit(1), "rank"),),
        totals=(
            (F.count(F.lit(1)), "n_cust"),
            (F.sum("rev_cents"), "tot_cents"),
        ),
    )
    return cum.select(
        "o_custkey",
        (F.col("rev_cents") / 100.0).alias("revenue"),
        (F.col("rank").cast("double") / F.col("n_cust")).alias("cust_share"),
        (F.col("cum_cents").cast("double") / F.col("tot_cents")).alias(
            "rev_share"
        ),
        (
            (5 * F.col("cum_cents") >= 4 * F.col("tot_cents"))
            & (5 * (F.col("cum_cents") - F.col("rev_cents")) < 4 * F.col("tot_cents"))
        ).alias("crosses_p80"),
    )


def skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of orders maximizing total price and
    minimizing order date — "the biggest order seen so far as of each
    date": order A dominates B iff A is at least as expensive AND at
    least as early, strictly better in one. The multi-objective
    short-list query (best-price-soonest tradeoffs) that a nested NOT
    EXISTS expresses quadratically.

    Spark formulation is LINEARITHMIC, not quadratic: sort by epoch day,
    then a survivor is exactly a row whose cents beat the running max
    over STRICTLY-earlier days (RANGE frame to -1) and that is its own
    day's max (same-day strict dominance) — two window passes over the
    sort, no self-join. The ORACLE is the quadratic NOT EXISTS
    definition, so the two formulations verify each other. Exact integer
    cents/days throughout; ties (same day, same cents) co-survive per
    the strictness rule."""
    orders = read_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.datediff(
            F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("day"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    w_lt = Window.orderBy("day").rangeBetween(Window.unboundedPreceding, -1)
    w_eq = Window.partitionBy("day")
    flagged = base.select(
        "*",
        F.max("cents").over(w_lt).alias("m_lt"),
        F.max("cents").over(w_eq).alias("m_eq"),
    )
    return flagged.filter(
        (F.col("m_lt").isNull() | (F.col("m_lt") < F.col("cents")))
        & (F.col("cents") == F.col("m_eq"))
    ).select("o_orderkey", "day", "cents")


def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the single-number
    concentration metric on top of ``customer_revenue_pareto``'s Lorenz
    curve (corpus curation uses the same math to quantify source/domain
    imbalance before mixing).

    Exactness: with customers sorted ascending by revenue (tie-break
    custkey — equal values make the rank-weighted sum order-invariant,
    but the total order keeps every intermediate bit-stable anyway),
    ``G = (2*Σ i·xᵢ − (n+1)·Σx) / (n·Σx)``. Both operands are exact
    DECIMAL(38,0) of integer cents (the rank-weighted sum overflows
    BIGINT around 1e6 customers × 1e8 cents, so the products are decimal
    on BOTH engines), cast to double for ONE final IEEE division.

    Shape: corpus reduces to one row per customer; the rank is the
    ``two_phase_cumsum`` count (VERDICT r9 item 1 — the pareto sibling:
    a partitionBy-less ``row_number`` window executes in ONE task, and
    customer grain is unbounded at 100 TB), so ranking runs as a
    range-repartitioned parallel window plus a broadcast offset join;
    the final aggregate reduces map-side. Output is a single row. The
    (rev_cents, custkey) order is total — every tie group is a
    singleton, the two-phase precondition."""
    from .relational import two_phase_cumsum

    orders = read_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .alias("rev_cents")
    )
    ranked = two_phase_cumsum(
        per_cust,
        [F.col("rev_cents").asc(), F.col("o_custkey").asc()],
        F.lit(1),
        "rnk",
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("rev_cents").alias("tot_cents"),
        F.sum(
            F.col("rnk").cast("decimal(38,0)")
            * F.col("rev_cents").cast("decimal(38,0)")
        ).alias("wsum"),
    )
    num = (
        F.lit(2).cast("decimal(38,0)") * F.col("wsum")
        - (F.col("n_customers") + 1).cast("decimal(38,0)")
        * F.col("tot_cents").cast("decimal(38,0)")
    )
    den = (
        F.col("n_customers").cast("decimal(38,0)")
        * F.col("tot_cents").cast("decimal(38,0)")
    )
    return agg.select(
        "n_customers",
        (F.col("tot_cents") / 100.0).alias("total_revenue"),
        (num.cast("double") / den.cast("double")).alias("gini"),
    )


def trimmed_mean_order_value(
    spark: SparkSession, sf_dir: str, trim_pct: int = 5
) -> DataFrame:
    """Per-priority trimmed mean of order value: drop the top and bottom
    ``trim_pct`` percent of orders (by cents, orderkey tie-break) and
    average the rest — the robust-center statistic next to
    ``event_value_outliers``'s median/MAD (trimming is how a curation
    pipeline reports "typical" value without outlier contamination).

    Exact trim boundaries: ``lo = n*trim_pct DIV 100`` rows cut from
    each end (integer arithmetic, no percentile interpolation to
    diverge); the kept sum stays integer cents; ONE IEEE division per
    group emits the mean. One window pass per group for ranks + one
    aggregation; groups are few, rows per group reduce map-side."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("cents").asc(), F.col("o_orderkey").asc()
    )
    wn = Window.partitionBy("o_orderpriority")
    ranked = orders.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    lo = F.expr(f"(n * {trim_pct}) DIV 100")
    kept = ranked.filter((F.col("rn") > lo) & (F.col("rn") <= F.col("n") - lo))
    return kept.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.max("n").cast("long").alias("n_total"),
        (F.sum("cents").cast("double") / F.count(F.lit(1)) / 100.0).alias(
            "trimmed_mean"
        ),
    )


def customer_balance_band_pairs(
    spark: SparkSession, sf_dir: str, delta_cents: int = 10000
) -> DataFrame:
    """BAND self-join: pairs of same-nation customers whose account
    balances differ by at most ``delta_cents`` — the |a-b| <= δ join
    class (fraud twins, near-duplicate accounts) that naive SQL writes
    as a quadratic theta-join. Here it is BUCKETED: each balance maps to
    bucket ``floor(cents/δ)`` (offset to dodge negative-division
    truncation), the probe side explodes to its 3 adjacent buckets, and
    the equi-join on (nation, bucket) touches only candidates — a pair
    within δ differs by at most one bucket, so each true pair meets in
    EXACTLY one (bucket, offset) cell: no post-dedup needed, and the
    shuffle is an ordinary hash join at any scale. Oracle = the
    quadratic within-nation theta-join (same nation blocks)."""
    sup = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.col("c_nationkey").alias("nkey"),
        (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
    )
    # +10^9 keeps the dividend positive: BIGINT DIV truncates toward
    # zero, which would make bucket boundaries asymmetric around 0
    bucket = F.expr(f"(cents + 1000000000) DIV {delta_cents}")
    left = sup.select(
        F.col("key").alias("key_a"),
        F.col("nkey").alias("nation"),
        F.col("cents").alias("cents_a"),
        bucket.alias("b"),
    )
    right = sup.select(
        F.col("key").alias("key_b"),
        F.col("nkey").alias("nation"),
        F.col("cents").alias("cents_b"),
        F.explode(F.array(bucket - 1, bucket, bucket + 1)).alias("b"),
    )
    return (
        left.join(right, ["nation", "b"])
        .filter(
            (F.col("key_a") < F.col("key_b"))
            & (F.abs(F.col("cents_a") - F.col("cents_b")) <= delta_cents)
        )
        .select(
            "nation",
            "key_a",
            "key_b",
            (F.col("cents_a") - F.col("cents_b")).alias("diff_cents"),
        )
    )


def orders_percentile_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile ladder (p25/50/75/90/99) of order value per
    priority class, as ORDER STATISTICS: the pN value is the cents value
    at 1-based rank ``ceil(p*n/100)`` — the discrete definition that
    needs no interpolation and is therefore bit-identical across engines
    (percentile_cont's linear interpolation is float arithmetic and
    engine-ordering-sensitive; the repo rule is exact integers).

    Plan: one row_number window per priority partition (embarrassingly
    parallel), counts broadcast back, and the rank probe
    ``rn == (p*n + 99) DIV 100`` selects exactly one row per (priority,
    p) — a filter, not a second sort. At extreme scale swap the window
    for the documented two-level global-numbering pattern."""
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
        "o_orderkey",
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("cents").asc(), F.col("o_orderkey").asc()
    )
    ranked = orders.withColumn("rn", F.row_number().over(w)).select(
        F.col("o_orderpriority").alias("r_priority"), "cents", "rn"
    )
    counts = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    ps = spark.createDataFrame([(25,), (50,), (75,), (90,), (99,)], "p long")
    probes = counts.crossJoin(F.broadcast(ps)).select(
        F.col("o_orderpriority").alias("priority"),
        "n_orders",
        "p",
        F.expr("(p * n_orders + 99) DIV 100").alias("target_rn"),
    )
    return (
        ranked.join(
            F.broadcast(probes),
            (F.col("r_priority") == F.col("priority"))
            & (F.col("rn") == F.col("target_rn")),
        )
        .select(
            "priority",
            "p",
            "n_orders",
            F.col("cents").alias("pct_value_cents"),
        )
    )


def hhi_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market-concentration index per region: the
    sum of squared supplier revenue shares — the antitrust-standard
    concentration measure, and (like ``simpson_token_diversity``, its
    complement in spirit) exactly rational: ``Σ(rev_i/total)² =
    Σrev_i² / total²`` is one IEEE division of exact DECIMAL(38,0)
    integers. HHI → 1 means one supplier owns the region; → 1/n means
    even split.

    Plan: lineitem collapses to per-supplier revenue FIRST (map-side
    combined, one shuffle on suppkey), the supplier→nation→region
    dimension spine broadcasts onto the aggregate (never onto the fact
    table), and the region fold is 5 rows."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    per_sup = li.groupBy("l_suppkey").agg(F.sum("cents").alias("rev"))
    sup = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    spine = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("s_suppkey").alias("l_suppkey"), "r_name")
    )
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per_region = (
        per_sup.join(F.broadcast(spine), "l_suppkey")
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum("rev").alias("total_cents"),
            F.sum(d38(F.col("rev")) * d38(F.col("rev"))).alias("sum_sq"),
        )
    )
    return per_region.select(
        F.col("r_name").alias("region"),
        "n_suppliers",
        "total_cents",
        (
            F.col("sum_sq").cast("double")
            / (d38(F.col("total_cents")) * d38(F.col("total_cents"))).cast("double")
        ).alias("hhi"),
    )


def pipe_syntax_revenue_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARK 4 SQL PIPE SYNTAX — the |> operator-chain dialect
    (SQL:2023-style pipeline queries, new API surface in Spark 4): a
    shipped-revenue profile written ENTIRELY as a pipe chain — FROM |>
    WHERE |> EXTEND |> AGGREGATE … GROUP BY |> ORDER BY — proving the
    declarative pipeline form compiles to the same Catalyst plan class
    as the classic SELECT (the oracle is the plain ANSI equivalent, so
    the hash compare pins semantic equivalence, not just shape).

    Exactness: integer cents through SUM, the mean is the exact
    ``SUM DIV COUNT`` floor (operands nonnegative on both engines).
    One scan, one map-side-combined aggregate at (returnflag,
    linestatus) grain."""
    li = read_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem_pipe_v")
    return spark.sql(
        """
FROM lineitem_pipe_v
|> WHERE l_shipdate >= TIMESTAMP '1996-01-01'
|> EXTEND CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
     AS cents
|> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(cents) AS BIGINT) AS rev_cents,
             CAST(SUM(cents) DIV COUNT(*) AS BIGINT) AS avg_cents
   GROUP BY l_returnflag, l_linestatus
|> ORDER BY l_returnflag ASC, l_linestatus ASC
"""
    )


def lateral_topk_orders_per_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SQL LATERAL correlated subquery (Spark 4 / SQL:2023 API surface,
    the `pipe_syntax` family): per customer of one nation, the top-3
    orders by price via a correlated ``LATERAL (… ORDER BY … LIMIT 3)``
    derived table — the per-row-subquery form analysts write; Catalyst
    decorrelates it into the same rank-filter plan the window form
    compiles to, which is exactly what the entry demonstrates (the
    DuckDB oracle runs the SAME LATERAL shape, so the hash compare pins
    cross-engine semantics of the decorrelation, not just one engine's
    reading).

    Exactness: price transported as integer cents; the per-customer
    order is total (``o_totalprice DESC, o_orderkey ASC``). Scale shape:
    the nation filter prunes the outer side before the join; the
    decorrelated inner is one scan + per-customer group-limit — never a
    per-row re-scan."""
    read_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_lat_v"
    )
    read_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_lat_v"
    )
    return spark.sql(
        """
SELECT c.c_custkey, o.o_orderkey,
       CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         AS price_cents
FROM customer_lat_v c, LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders_lat_v
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey ASC
  LIMIT 3
) o
WHERE c.c_nationkey = 3
"""
    )


def sql_udf_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCALAR UDF (Spark 4 ``CREATE FUNCTION … RETURN expr`` — the
    declarative UDF surface that stays INSIDE Catalyst, unlike Python
    UDFs): registers an exact integer-cents discounted-price function
    and aggregates shipped revenue through it per return flag — the Q6
    arithmetic routed through the new API surface. The function body is
    inlined by the analyzer (zero serialization boundary, full
    whole-stage codegen), which is the entire point versus a Python UDF;
    the oracle computes the same expression inline, so the hash compare
    pins that the UDF indirection is semantics-free.

    Exactness: ``cents − floor(price·disc·100)`` per item, BIGINT sums."""
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_udf_v"
    )
    spark.sql(
        """
CREATE OR REPLACE TEMPORARY FUNCTION disc_rev_cents(
    p DECIMAL(18,2), d DECIMAL(18,2)) RETURNS BIGINT
RETURN CAST(p * 100 AS BIGINT)
       - CAST(floor(p * d * 100) AS BIGINT)
"""
    )
    return spark.sql(
        """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(disc_rev_cents(CAST(l_extendedprice AS DECIMAL(18,2)),
                               CAST(l_discount AS DECIMAL(18,2))))
            AS BIGINT) AS disc_rev_cents
FROM lineitem_udf_v
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
GROUP BY l_returnflag
"""
    )


def group_by_all_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 `GROUP BY ALL` / `ORDER BY ALL` SQL dialect surface — the
    SAME SQL text runs on both engines (DuckDB originated the syntax;
    Spark adopted it), so the hash compare pins the two engines'
    interpretation of "all non-aggregate select items" and "all output
    columns" against each other — the ``lateral_topk`` same-text
    convention. The query itself is the pricing-summary shape with the
    grouping keys inferred."""
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_gba_v"
    )
    return spark.sql(
        """
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_price
FROM lineitem_gba_v
GROUP BY ALL
ORDER BY ALL
"""
    )
