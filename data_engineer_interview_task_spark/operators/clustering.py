"""Deterministic distributed k-means (Lloyd's algorithm) over the
``embeddings`` table — the iterative-ML-algorithm surface (SURVEY.md §2.8).
The reference has nothing iterative; at 100 TB the pattern is: centroids
are TINY (k x dims) and broadcast each round, the corpus is scanned once
per round with a map-side argmin, and the update is one partial-aggregated
groupBy — no shuffle ever carries vectors to a single node.

Every arithmetic step is chosen for cross-engine bit-identity, which makes
the WHOLE two-round algorithm oracle-checkable (rare for iterative ML):
- centroid means: ``functions.vector.fixed_mean`` (fixed-point long sums
  / count / 1e9 — floor of a double product is tie-free across engines
  where double->decimal casts round half-ties differently);
- distances: strict left-fold double sums in array order (row-local, equal
  to DuckDB's list_reduce bit-for-bit);
- argmin: ``top_k`` with a total tie-break (distance, then cluster id).

Init = per-label centroids (deterministic; k-means|| sampling would be
engine-specific). Rounds are unrolled statically — each round is one
broadcast join + one aggregation, the classic Spark iteration shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vector import fixed_mean_array, top_k
from ..sources import read_table

#: unrolled Lloyd rounds: assign -> update -> assign
N_UPDATE_ROUNDS = 1


def _assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the k ``(cl, cent)``
    centroids, one squared-distance fold per (vector, centroid), argmin per
    vector with a total tie-break. Map-side except the k-way top-1."""
    # spread the one-split embeddings scan before the k-way fan-out: the
    # per-(vector, centroid) distance fold is an interpreted lambda, and a
    # broadcast cross-join over a one-split scan runs every fold on ONE
    # task (SCALE.md one-task trap)
    paired = emb.repartition(
        emb.sparkSession.sparkContext.defaultParallelism, "vec_id"
    ).crossJoin(F.broadcast(centroids))
    diff_sq = F.zip_with(
        "embedding",
        "cent",
        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
    )
    dist = F.aggregate(diff_sq, F.lit(0.0), lambda acc, x: acc + x)
    return top_k(
        paired.withColumn("d", dist), "vec_id",
        [F.col("d").asc(), F.col("cl").asc()], 1, "rk",
    ).select("vec_id", "embedding", F.col("cl").alias("cluster"))


def kmeans_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-round deterministic Lloyd: init from per-label centroids,
    assign, update centroids from the assignment, re-assign. Emits the
    final (vec_id, cluster)."""
    emb = read_table(spark, sf_dir, "embeddings")
    cent = fixed_mean_array(emb, "label").toDF("cl", "cent")
    assigned = _assign(emb.select("vec_id", "embedding"), cent)
    for _ in range(N_UPDATE_ROUNDS):
        cent = fixed_mean_array(assigned, "cluster").toDF("cl", "cent")
        assigned = _assign(emb.select("vec_id", "embedding"), cent)
    return assigned.select(
        "vec_id", F.col("cluster").cast("int").alias("cluster")
    )


def kmeans_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final cluster cardinalities — the convergence diagnostic."""
    return (
        kmeans_assignments(spark, sf_dir)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def kcenter_diversity_sample(
    spark: SparkSession, sf_dir: str, k: int = 8
) -> DataFrame:
    """Greedy k-center (farthest-first traversal) coreset over the
    embeddings — the DIVERSITY selector of a training-data pipeline:
    where ``semantic_dedup`` removes redundancy, k-center picks the k
    items that maximize coverage of embedding space (2-approximation of
    the optimal k-center cover, Gonzalez 1985), the standard seed set
    for curriculum/eval-subset selection.

    Iteration shape (the 100 TB story): the chosen set is TINY (k
    vectors) and each round is one broadcast of the single newest center
    + a map-side min-update of each vector's distance-to-chosen-set +
    one global argmax (a 1-row driver fetch of selection METADATA — the
    same legitimate collect class as the IVF probe cells). The corpus is
    never shuffled; per-round cost is one linear scan, total O(k·N·d).
    ``localCheckpoint`` truncates the per-round lineage so the plan does
    not grow quadratically with k (the classic iterative-Spark trap).

    Cross-engine exactness: squared distances use the DECIMAL dot/norm
    ladder (norms and dots exact, combined as the IEEE expression
    ``(nsq + c_nsq) - 2*dot`` with identical association in the DuckDB
    twin), argmax ties broken by vec_id — the whole greedy trajectory is
    bit-deterministic, so the oracle replays it step for step."""
    from ..functions.vector import dot_decimal_expr, sq_norm_decimal_expr

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # LAZY localCheckpoint — the argmax collect that follows
    # materializes the frame in the SAME job (the seed row's first
    # collect, then each round's farthest-point fetch), halving the
    # per-round job count; lineage truncation and values are unchanged
    # ...and the one-split embeddings scan is spread first so each
    # round's 2000-row decimal-dot projection runs across the session's
    # cores instead of on one task (round-robin repartition is safe:
    # every downstream op is per-row + a total-tie-break global argmax)
    base = emb.repartition(spark.sparkContext.defaultParallelism).withColumn(
        "nsq", sq_norm_decimal_expr(F.col("embedding")).cast("double")
    ).localCheckpoint(eager=False)

    first = base.orderBy(F.col("vec_id").asc()).limit(1).collect()[0]
    chosen = [(0, first.vec_id)]
    c_vals, c_nsq = list(first.embedding), float(first.nsq)

    cur = None
    for step in range(1, k):
        c_lit = F.array(*[F.lit(float(v)).cast("double") for v in c_vals])
        d_new = (F.col("nsq") + F.lit(c_nsq)) - F.lit(2.0) * dot_decimal_expr(
            F.col("embedding"), c_lit
        ).cast("double")
        src = base if cur is None else cur
        md = d_new if cur is None else F.least(F.col("md"), d_new)
        cur = src.select(
            "vec_id", "embedding", "nsq", md.alias("md")
        ).localCheckpoint(eager=False)
        far = (
            cur.orderBy(F.col("md").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()[0]
        )
        chosen.append((step, far.vec_id))
        c_vals, c_nsq = list(far.embedding), float(far.nsq)

    return spark.createDataFrame(
        chosen, "sel_rank int, vec_id long"
    ).orderBy("sel_rank")
