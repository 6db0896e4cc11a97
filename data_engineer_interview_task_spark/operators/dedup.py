"""Deduplication operators over the ``documents`` table — the LLM-training-
data-pipeline surface (SURVEY.md §2.8), absent from the reference (its only
dedup-adjacent op is the countDistinct at ``dags/google_trends_to_bigquery
.py:76``). All designed around blocking: never compare all pairs; generate
candidate pairs through a key (exact hash, shingle, MinHash band, SimHash
prefix) so the join is an equi-join Spark can shuffle/broadcast efficiently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans import iterate
from ..sources import read_table

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by full text: keep the smallest doc_id per distinct text,
    report the group size. Hash-aggregate on the text key — at 100 TB,
    group on a fingerprint (md5) instead of the full payload so the shuffle
    carries 16 bytes per row, not the document (see ``canonical_docs``)."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("dup_count"),
    ).select("doc_id", "dup_count")


def canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path exact dedup: fingerprint-first. Group by md5(text) so the
    exchange carries a fixed-width key; survivor = min doc_id per
    fingerprint via one window."""
    docs = read_table(spark, sf_dir, "documents")
    fp = docs.withColumn("fp", F.md5("text"))
    w = Window.partitionBy("fp").orderBy(F.col("doc_id").asc())
    return (
        fp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "fp")
    )


# ---------------------------------------------------------------------------
# shingling + n-gram Jaccard near-dup
# ---------------------------------------------------------------------------


def shingle_documents(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingles) for a (doc_id, text) frame: distinct word-n-gram
    shingles via ``ml.feature.NGram`` (Scala-side sliding window; ~10x
    faster than an equivalent ``transform()`` lambda, which Spark
    evaluates interpreted, outside whole-stage codegen). Short docs
    (<n tokens) fall back to the whole text as a single shingle so they
    can still pair up. DataFrame-level so index maintenance can shingle
    an arbitrary incoming batch, not just a testdata table."""
    from pyspark.ml.feature import NGram

    toks = docs.withColumn("toks", F.split(F.col("text"), " "))
    grams = NGram(n=n, inputCol="toks", outputCol="grams").transform(toks)
    shingles = F.when(
        F.size("toks") >= n, F.array_distinct("grams")
    ).otherwise(F.array(F.col("text")))
    return grams.select("doc_id", shingles.alias("shingles"))


def _shingled_docs(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """``shingle_documents`` over the testdata documents table, served
    from the process-level artifact store (plans/artifacts.py): the
    shingle table is built ONCE per (sf_dir, n) and every consumer —
    eight operators across the dedup/contamination family reference it,
    most on both sides of a join — scans the parquet artifact. This
    replaced a per-call localCheckpoint: the checkpoint shared the work
    within one lineage but every QUERY still re-ran split+NGram over the
    corpus, single-task on a one-split documents file (the SCALE.md
    one-task trap); the artifact build repartitions by doc_id first, so
    both the one-time build and every downstream scan are parallel."""
    from ..plans.artifacts import materialized

    return materialized(
        spark,
        ("shingled_docs", sf_dir, n),
        "shingled_docs_",
        lambda: shingle_documents(
            read_table(spark, sf_dir, "documents").repartition("doc_id"), n
        ),
        inputs=(f"{sf_dir}/documents.parquet",),
    )


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by word-``n``-gram Jaccard similarity ≥ ``threshold``.

    Shape: shingle -> explode -> self-equi-join on shingle (the blocking
    step: only docs sharing ≥1 shingle ever meet) -> count shared shingles
    per pair -> Jaccard = shared / (|A| + |B| - shared).

    Scale notes: the explode output is (shingle, doc) — the join is a plain
    shuffle hash join on the shingle key. Hot shingles (boilerplate) make
    the self-join quadratic in per-shingle document frequency (O(Σ df²)):
    ``max_shingle_df`` is the guard — when set, a cheap pre-aggregation
    computes each shingle's df and shingles with ``df > max_shingle_df``
    are dropped BEFORE the self-join (the standard stopword-shingle cap).
    The df aggregation and the filter join share the shingle-hash
    partitioning, so the guard adds no extra exchange over the index build.
    Semantics under the cap: ``shared`` counts only non-hot shingles while
    set sizes stay full, so Jaccard is underestimated for pairs whose
    overlap is mostly boilerplate — exactly the pairs the guard exists to
    stop dominating the join. Default ``None`` = exact (the oracle twin);
    at 100 TB run with a cap around 10⁴. Jaccard is computed from exact
    integer counts, so the DuckDB oracle hash-matches without float tricks.
    """
    docs = _shingled_docs(spark, sf_dir, n)
    sizes = docs.select("doc_id", F.size("shingles").alias("n_sh"))
    # join on the 64-bit shingle hash, not the string: 8-byte fixed shuffle
    # keys instead of ~20-char strings. Collision risk over ~10^5..10^8
    # distinct shingles is < 1e-3 ppm — the counts stay exact in practice
    # and the inverted index shrinks ~3x.
    exploded = docs.select(
        "doc_id", F.explode("shingles").alias("sh")
    ).select("doc_id", F.xxhash64("sh").alias("shh"))
    if max_shingle_df is not None:
        # shingles are array_distinct per doc, so count(*) per hash == df
        keep = (
            exploded.groupBy("shh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("shh")
        )
        exploded = exploded.join(keep, "shh")
    pairs = (
        exploded.alias("a")
        .join(
            exploded.alias("b"),
            (F.col("a.shh") == F.col("b.shh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(jac >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.col("shared").alias("shared_shingles"),
            # raw IEEE division of exact integers: cross-engine bit-identical
            jac.alias("jaccard"),
        )
    )


def ngram_containment_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Asymmetric near-dup detection by shingle CONTAINMENT:
    C(A|B) = |S(A) ∩ S(B)| / |S(A)|. Jaccard misses the
    quote/snippet/superset case — a short doc wholly embedded in a long
    one has tiny Jaccard but containment ~1 from the short side; this is
    the curation pass that catches excerpt-level duplication (training
    leakage through quoted passages) that symmetric measures can't.

    Emits canonical pairs (doc_a < doc_b) with BOTH directions'
    containment; a pair survives iff either direction clears
    ``threshold``. Same inverted-index shape as ``ngram_jaccard_pairs``
    (shingle-hash blocking, exact integer counts, IEEE division — fully
    oracle-checkable); the same ``max_shingle_df``-style hot-key cap
    applies at scale via the shared index (the capped variant is
    registered on the Jaccard path; semantics transfer unchanged)."""
    docs = _shingled_docs(spark, sf_dir, n)
    sizes = docs.select("doc_id", F.size("shingles").alias("n_sh"))
    exploded = docs.select(
        "doc_id", F.explode("shingles").alias("sh")
    ).select("doc_id", F.xxhash64("sh").alias("shh"))
    pairs = (
        exploded.alias("a")
        .join(
            exploded.alias("b"),
            (F.col("a.shh") == F.col("b.shh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    cont_a = F.col("shared") / F.col("n_a")
    cont_b = F.col("shared") / F.col("n_b")
    return (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(F.greatest(cont_a, cont_b) >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.col("shared").alias("shared_shingles"),
            cont_a.alias("containment_a"),
            cont_b.alias("containment_b"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (the sub-quadratic scale path)
# ---------------------------------------------------------------------------


def _minhash_sigs_wide(
    docs: DataFrame, num_hashes: int = 32, hash_family: str = "md5"
) -> DataFrame:
    """(doc_id, h0..h{num_hashes-1}) — the raw MinHash signature as wide
    aggregate columns over the shingle frame (one groupBy, no seed
    explosion). Factored out of ``_minhash_band_keys`` so signature
    consumers that need the components themselves (the estimate-error
    audit) share the exact same hash family."""
    exploded = docs.select("doc_id", F.explode("shingles").alias("sh"))
    if hash_family == "xxhash64":
        # two independent 64-bit draws per shingle: seed the second by
        # prepending a constant column (xxhash64 hashes the tuple)
        exploded = exploded.withColumn("p1", F.xxhash64("sh")).withColumn(
            "p2", F.xxhash64(F.lit(1), "sh")
        )
    elif hash_family == "md5":
        half = (
            "shiftleft(CAST(conv(substring(m, {a}, 8), 16, 10) AS BIGINT), 32)"
            " | CAST(conv(substring(m, {b}, 8), 16, 10) AS BIGINT)"
        )
        exploded = (
            exploded.withColumn("m", F.md5("sh"))
            .withColumn("p1", F.expr(half.format(a=1, b=9)))
            .withColumn("p2", F.expr(half.format(a=17, b=25)))
        )
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    return exploded.groupBy("doc_id").agg(
        *[
            F.min(F.expr(f"p1 + {i}L * p2")).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )


def _minhash_band_keys(
    docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    hash_family: str = "md5",
) -> DataFrame:
    """(doc_id, band, band_key) for shingled docs — the MinHash signature
    split into banded keys (see ``minhash_lsh_pairs`` for the hash-family
    rationale). Shared by the self-join pair query and the incremental
    batch-vs-index dedup.

    ``hash_family``: "md5" (default) is the engine-independent oracle
    family — one md5 per shingle split into two 64-bit halves, string
    band keys via md5(signature slice). "xxhash64" is the production
    family — Spark's JVM xxhash64 (no hex decode, 8-byte keys, long band
    keys), 2-4x cheaper but not reproducible in the DuckDB oracle, so
    its query variant is checked by pair-set equality against the md5
    twin instead (tests/test_dedup_fast.py)."""
    rows_per_band = num_hashes // bands
    sigs_wide = _minhash_sigs_wide(docs, num_hashes, hash_family)
    if hash_family == "xxhash64":
        band_cols = [
            F.xxhash64(
                *[F.col(f"h{b * rows_per_band + j}") for j in range(rows_per_band)]
            ).alias(f"b{b}")
            for b in range(bands)
        ]
    else:
        band_cols = [
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"h{b * rows_per_band + j}").cast("string")
                        for j in range(rows_per_band)
                    ],
                )
            ).alias(f"b{b}")
            for b in range(bands)
        ]
    return (
        sigs_wide.select("doc_id", *band_cols)
        .unpivot(
            ids=["doc_id"],
            values=[f"b{b}" for b in range(bands)],
            variableColumnName="band",
            valueColumnName="band_key",
        )
        .select("doc_id", "band", "band_key")
    )


def _corpus_band_keys(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    hash_family: str = "md5",
) -> DataFrame:
    """``_minhash_band_keys`` over the full documents corpus, served from
    the artifact store — the in-process form of the persisted signature
    store every deployed LSH dedup maintains (``minhash_index_build`` is
    the explicit-path twin). Band keys are per-document, so split-level
    consumers (e.g. the index build's corpus split) FILTER the artifact
    instead of re-hashing their subset."""
    from ..plans.artifacts import materialized

    return materialized(
        spark,
        ("band_keys", sf_dir, n, num_hashes, bands, hash_family),
        "band_keys_",
        lambda: _minhash_band_keys(
            _shingled_docs(spark, sf_dir, n), num_hashes, bands, hash_family
        ),
        inputs=(f"{sf_dir}/documents.parquet",),
    )


def minhash_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    hash_family: str = "md5",
    max_band_df: int | None = None,
) -> DataFrame:
    """MinHash + banded LSH near-dup: shingle -> ``num_hashes`` minhash
    signature -> split into ``bands`` bands -> docs colliding on any band
    become candidates -> verify candidates with exact shingle Jaccard.

    Hash family: ONE md5 per shingle split into two 64-bit halves
    (p1, p2), then the affine family g_i = p1 + i*p2 over wrapping
    two's-complement longs (ansi off; DuckDB mirrors with HUGEINT
    % 2^64) — the classic universal-hashing construction, 4x cheaper
    than 32 independent md5 calls (0.9s vs 3.9s at sf0.1) and still
    engine-independent, so the ENTIRE pipeline (signatures, band keys,
    candidates, verified pairs) is DuckDB-oracle-checked bit-for-bit.
    Everything stays aggregations + equi-joins:

      explode(shingles) -> ONE groupBy(doc) computing all ``num_hashes``
      min-hashes as aggregate columns (no seed explosion — a 32x smaller
      shuffle than the naive (doc, seed) layout) -> per band, key =
      md5(its signature slice) -> self-join on band key.

    Cost is O(docs x shingles) map-side + near-linear joins — the
    sub-quadratic path vs. ``ngram_jaccard_pairs``'s full inverted index.

    ``max_band_df`` is the skew guard on the band self-join — the minhash
    analog of ``ngram_jaccard_pairs``'s hot-shingle cap: a band key shared
    by ``df`` docs contributes df² candidate rows, so one near-constant
    document cluster (boilerplate pages, templated spam) turns a band
    bucket into a straggler. With the cap set, band keys with
    ``df > max_band_df`` are dropped BEFORE the self-join, bounding every
    bucket at cap². Recall semantics, stated honestly: a cluster of
    NEAR-identical docs is hot in the bands where its members agree and
    cold in the rest, so pairs survive through the uncapped bands; a
    cluster of (near-)EXACT duplicates larger than the cap is hot in
    every band and loses its pairs — which is correct pipeline order,
    because exact/fingerprint dedup (``exact_dedup``/``canonical_docs``)
    runs BEFORE LSH and has already collapsed those. The adversarial
    property test (tests/test_dedup_fast.py) pins both directions.
    Default ``None`` = uncapped (the oracle twin); at 100 TB run with a
    cap around the expected cluster ceiling (10³-10⁴)."""
    docs = _shingled_docs(spark, sf_dir, n)
    sigs = _corpus_band_keys(spark, sf_dir, n, num_hashes, bands, hash_family)
    if max_band_df is not None:
        # per-(band, band_key) document frequency — shares the band-key
        # hash partitioning with the self-join that follows
        keep = (
            sigs.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_band_df)
            .select("band", "band_key")
        )
        sigs = sigs.join(keep, ["band", "band_key"])
    cand = (
        sigs.alias("a")
        .join(
            sigs.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # verify candidates with exact Jaccard (array_intersect on shingle sets)
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter / union
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .filter(jac >= jaccard_threshold)
        # raw IEEE division of exact ints (round() half-cases differ
        # across engines; see the determinism rules)
        .select("doc_a", "doc_b", (inter.cast("double") / union).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# near-dup clusters (connected components over the similarity graph)
# ---------------------------------------------------------------------------


def minhash_estimate_error_audit(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """SKETCH-QUALITY AUDIT for the MinHash estimator — per LSH
    candidate pair, the signature-agreement Jaccard estimate
    (matching components / num_hashes) next to the EXACT shingle
    Jaccard, with the absolute error in exact millis: the
    ``ivf_recall_report`` pattern applied to the dedup sketch (is 32
    hashes enough at this threshold, or is the banding surviving on
    luck?). Both quantities are integers over integer totals, so the
    whole audit hashes; the candidate set is the production banded one
    (artifact-served band keys), the signatures come from the SAME
    md5-affine family via ``_minhash_sigs_wide``.

    Shape: the band self-join yields the candidate pairs (near-linear,
    the LSH point); signatures and shingle sets join candidates at
    pair grain; everything downstream is per-pair arithmetic."""
    docs = _shingled_docs(spark, sf_dir, n)
    keys = _corpus_band_keys(spark, sf_dir, n, num_hashes, bands, "md5")
    cand = (
        keys.alias("a")
        .join(
            keys.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sigs = _minhash_sigs_wide(docs, num_hashes, "md5")
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(num_hashes)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(num_hashes)],
    )
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("long")
        for i in range(num_hashes)
    )
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    union = (F.size("sh_a") + F.size("sh_b")).cast("long") - inter
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            agree.alias("sig_agree"),
            inter.alias("n_inter"),
            union.alias("n_union"),
        )
        .select(
            "doc_a",
            "doc_b",
            "sig_agree",
            "n_inter",
            "n_union",
            F.expr(f"sig_agree * 1000 DIV {num_hashes}")
            .cast("long")
            .alias("est_millis"),
            F.expr("n_inter * 1000 DIV n_union").cast("long").alias("jac_millis"),
            F.expr(
                f"abs(sig_agree * 1000 DIV {num_hashes}"
                f" - n_inter * 1000 DIV n_union)"
            )
            .cast("long")
            .alias("err_millis"),
        )
    )


def near_dup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DUPLICATE-CLUSTER SIZE DISTRIBUTION — the curation-dashboard view
    of the near-dup graph: how many clusters exist per log2 size bin
    (singletons, pairs, small families, mega-clusters). The mega-bin is
    what a dedup pass watches: one huge cluster means a template or
    boilerplate family that exact-canonical selection will collapse to
    a single survivor. Bin = exact bit length of the cluster size (the
    ``copurchase_degree_histogram`` convention). Runs over the
    production LSH pair source's connected components; two aggregates
    past the CC frame (cluster-size grain, then O(log n) bins)."""
    clusters = near_dup_clusters(spark, sf_dir, pair_source="minhash")
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("size")
    )
    return (
        sizes.select(
            (F.length(F.expr("bin(size)")) - 1).cast("long").alias("bin"),
            "size",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.min("size").cast("long").alias("min_size"),
            F.max("size").cast("long").alias("max_size"),
            F.sum("size").cast("long").alias("n_docs"),
        )
    )


def near_dup_clusters(
    spark: SparkSession, sf_dir: str, n: int = 3, threshold: float = 0.5,
    max_iter: int = 20, pair_source: str = "ngram",
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Connected components over the near-dup pair graph: every document
    labeled with the smallest doc_id reachable through Jaccard-similar
    pairs — the survivor-selection step of a dedup pipeline (keep one doc
    per cluster).

    Iterative min-label propagation: label(v) := min(label(v),
    min(label(u) for u~v)), repeated until fixpoint — ``iterate.min_step``
    run by ``iterate.rounds(stable_on="label")``. The state is
    corpus-sized, so the step keeps the shuffle join (no broadcast).
    Converges in O(diameter) iterations; near-dup graphs are
    tiny-diameter.

    ``pair_source`` picks the similarity-graph edge generator:
      * ``"ngram"``  — exact inverted-index Jaccard (the small-scale oracle
        twin; O(Σ df²) in per-shingle document frequency without a cap);
      * ``"minhash"`` — banded MinHash-LSH candidates with exact-Jaccard
        verification (``minhash_lsh_pairs``) — the sub-quadratic 100 TB
        path and the default for the composed cleaning pipeline.
    Both use the same ``threshold`` semantics (edges are exact-Jaccard-
    verified in either path).

    ``reliable_checkpoint`` cuts the edge list and the label state with
    ``DataFrame.checkpoint()`` to the fault-tolerant checkpoint dir (the
    ``reliable`` mode of ``iterate.cut``): an executor loss no longer
    kills the loop, at one write+read of the label table per iteration.
    """
    if pair_source == "minhash":
        pairs = minhash_lsh_pairs(
            spark, sf_dir, n=n, jaccard_threshold=threshold
        ).select("doc_a", "doc_b")
    elif pair_source == "ngram":
        pairs = ngram_jaccard_pairs(spark, sf_dir, n=n, threshold=threshold).select(
            "doc_a", "doc_b"
        )
    else:  # pragma: no cover - guard
        raise ValueError(f"unknown pair_source: {pair_source!r}")

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    # both directions, cut once so the pair join does not rerun per round
    undirected = pairs.union(pairs.select("doc_b", "doc_a")).toDF("src", "dst")
    edges = iterate.cut(undirected, eager=False, reliable=reliable_checkpoint)
    # propagate ONLY over edge endpoints: isolated docs (most of a deduped
    # corpus) never change label; they rejoin with label = own id at the end
    init = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    step = iterate.min_step(edges, "label", broadcast=False)
    *_, labels = iterate.rounds(
        init, step, max_iter, stable_on="label", reliable=reliable_checkpoint
    )
    return docs.join(
        labels.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id")
    )


def corpus_clean_pipeline(
    spark: SparkSession, sf_dir: str, pair_source: str = "minhash"
) -> DataFrame:
    """The composed training-data cleaning pipeline as ONE lazy query —
    the extension-domain analog of the reference's 5-stage composition
    (``dags/google_trends_to_bigquery.py:196``):

      quality filter (keep rules) -> near-dup clustering -> keep one doc
      per cluster (smallest id among quality survivors) -> per-survivor
      stats.

    Everything stays declarative: quality flags and cluster labels are the
    operators above; the survivor rule is a min-over-cluster window. At
    100 TB each stage is the shuffle documented in SCALE.md — composing
    them adds no new exchange beyond the cluster join. The clustering
    edge generator defaults to the sub-quadratic MinHash-LSH path
    (``pair_source="minhash"``) so the composed pipeline does NOT inherit
    the inverted-index O(Σ df²) hazard; pass ``"ngram"`` for the exact
    small-scale variant.
    """
    from ..operators import text as text_ops  # local import: avoid cycle

    quality = text_ops.quality_filter(spark, sf_dir).select("doc_id", "keep")
    clusters = near_dup_clusters(spark, sf_dir, pair_source=pair_source)
    stats = text_ops.text_quality(spark, sf_dir).select(
        "doc_id", "n_tokens", "n_chars"
    )
    labeled = quality.join(clusters, "doc_id").filter(F.col("keep"))
    w = Window.partitionBy("cluster_id")
    survivors = (
        labeled.withColumn("min_kept", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("min_kept"))
        .select("doc_id", "cluster_id")
    )
    return survivors.join(stats, "doc_id").select(
        "doc_id", "cluster_id", "n_tokens", "n_chars"
    )


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------


def simhash_signatures(
    spark: SparkSession,
    sf_dir: str,
    bits: int = 64,
    hash_family: str = "md5",
) -> DataFrame:
    """Per-document SimHash signature store, served from the process
    artifact cache (built once per (sf_dir, bits, hash_family); the
    banded pair query and the consensus ensemble both scan it — the
    persisted-signature-table design of every deployed SimHash dedup).
    See ``_simhash_signatures_build`` for the construction."""
    from ..plans.artifacts import materialized

    return materialized(
        spark,
        ("simhash", sf_dir, bits, hash_family),
        "simhash_sigs_",
        lambda: _simhash_signatures_build(spark, sf_dir, bits, hash_family),
        inputs=(f"{sf_dir}/documents.parquet",),
    )


def _simhash_signatures_build(
    spark: SparkSession,
    sf_dir: str,
    bits: int = 64,
    hash_family: str = "md5",
) -> DataFrame:
    """Per-document SimHash signature over word-trigram shingles.

    shingle -> 64-bit hash -> per bit position b: vote +1 if bit set else
    -1 -> signature bit b = (vote sum > 0). Entirely explode + groupBy +
    bit arithmetic — one exchange on (doc_id). Shingle features, not
    tokens: measured on this corpus, token-set signatures barely separate
    (all docs share the small vocabulary; near-dup hamming up to 53/64)
    while shingle signatures separate cleanly (near-dups <= 10, random
    pairs >= 20, mean 32).

    The 64-bit feature hash is the first 16 hex chars of md5, parsed as
    two 32-bit halves and packed with a wrapping shiftleft (the two's-
    complement bit pattern) — unlike xxhash64, md5 is engine-independent,
    which makes the ENTIRE simhash construction (and its banded pair
    generation) DuckDB-oracle-checkable bit-for-bit. Cost: ~2x xxhash64
    on the hash step (~0.5s at sf0.1) — ``hash_family="xxhash64"`` is
    that swap (production family; not oracle-reproducible, so its pair
    variant is equality-tested against the md5 twin instead).
    """
    toks = (
        # checkpoint kept even though this chain is single-consumer: A/B at
        # sf0.1 measured ckpt 2.5-2.7s vs no-ckpt 2.8-3.3s — materializing
        # the compact shingle arrays beats re-running split+NGram inside
        # the wide aggregation stage
        _shingled_docs(spark, sf_dir, 3)
        .select("doc_id", F.explode("shingles").alias("tok"))
    )
    if hash_family == "xxhash64":
        toks = toks.withColumn("h", F.xxhash64("tok"))
    elif hash_family == "md5":
        toks = (
            toks.withColumn("m", F.md5("tok"))
            .withColumn(
                "h",
                F.expr(
                    "shiftleft(CAST(conv(substring(m, 1, 8), 16, 10) AS BIGINT), 32)"
                    " | CAST(conv(substring(m, 9, 8), 16, 10) AS BIGINT)"
                ),
            )
            .drop("m")
        )
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    # all `bits` votes in ONE groupBy as aggregate columns — exploding a
    # (row x bit-position) pair table would multiply the shuffle by `bits`
    # (measured 9.6s -> ~1s at sf0.1; same layout lesson as the minhash
    # signature aggregation)
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(h, {b}) & 1) = 1"), 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    sig = None
    for b in range(bits):
        # shiftleft(1L, b) — a Python literal 1<<63 would overflow LongType;
        # the JVM shift wraps to the sign bit, which two's-complement
        # summation represents correctly
        term = F.when(F.col(f"v{b}") > 0, F.expr(f"shiftleft(1L, {b})")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return votes.select("doc_id", sig.cast("long").alias("simhash"))


def simhash_near_dup_pairs(
    spark: SparkSession,
    sf_dir: str,
    bits: int = 64,
    bands: int = 8,
    max_hamming: int = 7,
    hash_family: str = "md5",
) -> DataFrame:
    """SimHash near-dup pairs: banded blocking + Hamming verification.

    Pigeonhole guarantee: splitting a ``bits``-bit signature into ``bands``
    equal bands, any two signatures within Hamming distance < ``bands``
    collide on at least one whole band — so with max_hamming = bands-1 the
    candidate equi-join on (band, band_value) finds EVERY qualifying pair,
    never an all-pairs scan. Verification is ``bit_count(a XOR b)`` (one
    codegen'd instruction). Wider bands = stronger blocking but a lower
    guaranteed radius: 8x8-bit bands block hard and still cover <=7 bits.
    """
    band_width = bits // bands
    mask = (1 << band_width) - 1
    sigs = simhash_signatures(spark, sf_dir, bits=bits, hash_family=hash_family)
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).withColumn(
        "band_val",
        F.expr(f"shiftright(simhash, band * {band_width}) & {mask}"),
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.expr("bit_count(sig_a ^ sig_b)")
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# exact substring (k-token span) dedup — Lee et al., "Deduplicating Training
# Data Makes Language Models Better" (the ExactSubstr pass, re-expressed as
# a distributed span-fingerprint aggregation instead of a suffix array)
# ---------------------------------------------------------------------------


def _token_spans(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, span) for every k-token sliding window of every document.

    The token array is materialized into a column BEFORE the lambda (the
    dedup-module rule: no CSE inside transform() bodies), and the sequence
    is guarded so documents shorter than k emit nothing — Spark's
    ``sequence(0, negative)`` would DESCEND, not return empty."""
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    return (
        toks.filter(F.size("toks") >= k)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(toks) - {k}),"
                    f" i -> array_join(slice(toks, i + 1, {k}), ' '))"
                )
            ).alias("span"),
        )
    )


def duplicate_spans(
    spark: SparkSession, sf_dir: str, k: int = 8, min_docs: int = 2
) -> DataFrame:
    """Every k-token span that occurs in >= min_docs distinct documents,
    with its document frequency and total occurrence count.

    SCALE: one explode (rows x ~tokens) and ONE hash aggregate. The
    shuffle key is the span text (~50 bytes at k=8); at 100 TB swap the
    group key for ``xxhash64(span)`` (or md5 for 128-bit safety) and carry
    the text only through a second semi-joined pass for the survivors —
    the aggregation itself never needs the raw text. Output is bounded by
    the number of *duplicated* spans, a tiny fraction of the corpus."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        _token_spans(docs, k)
        .groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("df_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("df_docs") >= min_docs)
    )


def span_dup_coverage(
    spark: SparkSession, sf_dir: str, k: int = 8, min_docs: int = 2
) -> DataFrame:
    """Per-document duplicated-span coverage: of a document's k-token
    spans, how many also occur in another document — the per-doc signal
    the ExactSubstr pass thresholds on before cutting.

    Shape: spans -> duplicated-span set (one aggregate) -> ``left_semi``
    back onto the span stream (existence only — a hot boilerplate span
    never multiplies rows) -> two per-doc aggregates joined. The dup-span
    set is NOT broadcast: it is corpus-sized in the worst case, so the
    semi join shuffles on the span key like the aggregate before it —
    same partitioning, AQE coalesces the exchange."""
    docs = read_table(spark, sf_dir, "documents")
    spans = _token_spans(docs, k)
    dup = (
        spans.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("df_docs"))
        .filter(F.col("df_docs") >= min_docs)
        .select("span")
    )
    per_doc_dup = (
        spans.join(dup, "span", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
    )
    totals = spans.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    return (
        totals.join(per_doc_dup, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            (
                F.coalesce("n_dup_spans", F.lit(0)).cast("double")
                / F.col("n_spans").cast("double")
            ).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs. a persisted corpus index
# ---------------------------------------------------------------------------


def minhash_index_build(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    n: int = 3,
    modulus: int = 17,
) -> None:
    """Persist the MinHash-LSH index of the CORPUS split (``doc_id %
    modulus != 0``): banded signature keys plus the shingle sets needed
    for exact verification. This is the artifact a 100 TB deployment
    maintains continuously — each crawl batch dedups against it WITHOUT
    recomputing anything over the corpus.

    Both index legs are per-document, so the corpus split is a FILTER of
    the artifact-store tables (shingles + band keys), not a re-hash of
    the split — predicate pushdown does the subsetting at the scan."""
    in_split = F.col("doc_id") % modulus != 0
    _corpus_band_keys(spark, sf_dir, n).filter(in_split).write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/band_keys")
    _shingled_docs(spark, sf_dir, n).filter(in_split).select(
        "doc_id", "shingles"
    ).write.mode("overwrite").parquet(f"{index_dir}/shingles")


def _minhash_index_write(shingled: DataFrame, index_dir: str, mode: str) -> None:
    _minhash_band_keys(shingled).write.mode(mode).parquet(f"{index_dir}/band_keys")
    shingled.select("doc_id", "shingles").write.mode(mode).parquet(
        f"{index_dir}/shingles"
    )


def minhash_index_append(docs: DataFrame, index_dir: str, n: int = 3) -> None:
    """Append an incoming batch (doc_id, text) INTO the persisted index —
    the third leg of continuous corpus maintenance: build once, then per
    crawl batch (1) dedup the batch against the index, (2) append the
    surviving remainder here. Append-mode parquet writes touch no
    existing file, so the operation is batch-sized, never corpus-sized;
    the grown index is bit-equivalent to a one-shot rebuild over
    corpus ∪ batch (tests/test_dedup_fast.py pins the round-trip)."""
    sh = shingle_documents(docs, n).localCheckpoint()
    _minhash_index_write(sh, index_dir, mode="append")


def minhash_dedup_batch(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Dedup an arbitrary (doc_id, text) batch against the persisted
    index: band keys for the batch only, equi-joined against the STORED
    band keys; candidates exact-verified against the STORED shingle
    sets. Corpus work is O(matching candidates). Output (batch_doc,
    corpus_doc, jaccard) — the batch rows to drop before appending the
    remainder via ``minhash_index_append``."""
    batch = shingle_documents(docs, n).localCheckpoint()
    batch_keys = _minhash_band_keys(batch)
    index_keys = spark.read.parquet(f"{index_dir}/band_keys")
    cand = (
        index_keys.alias("a")
        .join(
            F.broadcast(batch_keys.alias("b")),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(
            F.col("b.doc_id").alias("batch_doc"),
            F.col("a.doc_id").alias("corpus_doc"),
        )
        .distinct()
    )
    corpus_sh = spark.read.parquet(f"{index_dir}/shingles").select(
        F.col("doc_id").alias("corpus_doc"), F.col("shingles").alias("sh_a")
    )
    batch_sh = batch.select(
        F.col("doc_id").alias("batch_doc"), F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(corpus_sh, "corpus_doc")
        .join(F.broadcast(batch_sh), "batch_doc")
        .filter(inter / union >= jaccard_threshold)
        .select(
            "batch_doc",
            "corpus_doc",
            (inter.cast("double") / union).alias("jaccard"),
        )
    )


def _cached_minhash_index(
    spark: SparkSession, sf_dir: str, n: int, modulus: int
) -> str:
    """The corpus index, built at most once per process per (sf_dir, n,
    modulus, ``documents`` fingerprint) by the materialization store —
    repeated query sweeps reuse it instead of leaving one full
    copy per call under /tmp (ADVICE r3), and a rewritten table rebuilds
    it. Reuse is also the production semantics: the deployed index is
    built on ingest and queried by every batch."""
    from ..plans.artifacts import materialized_dir, tmp_root

    return materialized_dir(
        ("minhash_index", sf_dir, n, modulus),
        "minhash_index_",
        lambda path: minhash_index_build(spark, sf_dir, path, n=n, modulus=modulus),
        inputs=(f"{sf_dir}/documents.parquet",),
        base_dir=tmp_root(),
    )


def incremental_minhash_dedup(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str | None = None,
    n: int = 3,
    modulus: int = 17,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Dedup an incoming BATCH (``doc_id % modulus == 0``) against the
    persisted corpus index: compute band keys for the batch only, equi-join
    them against the STORED band keys, and exact-verify candidates against
    the STORED shingle sets — corpus work is O(matching candidates), never
    a recompute or a corpus self-join.

    SCALE: the batch side is small by definition (one crawl increment);
    its band keys broadcast into the index join, so the only corpus-sized
    IO is a scan of the band-key index (at 100 TB: bucket the stored keys
    by band_key so the join becomes co-located, or range-partition and
    push the batch's key set down as a filter). Output columns
    (batch_doc, corpus_doc, jaccard) — the batch rows to drop before
    appending the remainder to the corpus and its index (see
    ``minhash_index_append`` / ``minhash_dedup_batch`` for the
    continuous-maintenance loop over arbitrary batch frames)."""
    if index_dir is None:
        index_dir = _cached_minhash_index(spark, sf_dir, n, modulus)
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % modulus == 0
    )
    return minhash_dedup_batch(
        spark, index_dir, docs, n=n, jaccard_threshold=jaccard_threshold
    )


# ---------------------------------------------------------------------------
# prefix-filtering set-similarity join (PPJoin family — Xiao et al., WWW'08)
# ---------------------------------------------------------------------------


def prefix_filter_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard >= threshold pairs via prefix filtering — the third
    sub-quadratic dedup family next to LSH banding and the df-capped
    inverted index, and unlike LSH it is COMPLETE by theorem, not with
    high probability.

    Prefix-filter principle: fix one global total order over shingles
    (here: ascending document frequency, rarest first, shingle string as
    tie-break — both engines compare strings bytewise). If
    J(A,B) >= t then A and B must share at least one shingle within
    their PREFIXES, where prefix(A) = the first |A| - ceil(t*|A|) + 1
    shingles of A in that order. Proof sketch: J >= t forces
    |A∩B| >= ceil(t*|A|), so A cannot place all its intersection
    behind its prefix. The candidate join therefore touches only prefix
    tokens — and because prefixes are the RAREST shingles, the hot-key
    quadratic blowup of the full inverted index never happens: the
    boilerplate shingles that dominate df live at the END of the order
    and are never joined on.

    Three further standard prunes, all exactness-preserving:
    - length filter: J >= t implies t*|A| <= |B| <= |A|/t — applied in
      the candidate join;
    - positional filter (the PP in PPJoin): a prefix match at per-doc
      ranks (rk_a, rk_b) bounds the overlap by
      min(|A|-rk_a, |B|-rk_b) + 1; J >= t needs overlap >=
      ceil(t/(1+t)·(|A|+|B|)), so candidates whose BEST match can't
      reach that are dropped before any array work (for the first shared
      token the bound is maximal, so no true pair is lost);
    - verification is one array_intersect over the (localCheckpointed)
      shingle arrays, identical to the LSH verify step — only on the
      doubly-pruned candidates.

    Output/columns match ``ngram_jaccard_pairs`` exactly, and by the
    completeness theorem so do the ROWS — the oracle IS the quadratic
    definition, and tests pin pair-set equality against the inverted-
    index path.

    SCALE: df aggregation (vocab-bounded) + one per-doc window (ranking
    shingles within a doc, partition = doc) + an equi-join on prefix
    shingles only. For t=0.5 the prefix is ~half the doc, but candidate
    volume is governed by the df of RARE shingles — empirically orders
    of magnitude below the full index at web scale."""
    docs = _shingled_docs(spark, sf_dir, n)
    sizes = docs.select("doc_id", F.size("shingles").alias("n_sh"))
    # 64-bit shingle hashes as df-count, order and join keys (the same
    # 8-byte-key trade as ngram_jaccard_pairs — completeness needs only
    # SOME global total order, so (df asc, hash asc) serves; the string
    # itself never shuffles)
    exploded = docs.select("doc_id", F.explode("shingles").alias("sh")).select(
        "doc_id", F.xxhash64("sh").alias("shh")
    )
    df_tab = exploded.groupBy("shh").agg(F.count(F.lit(1)).alias("df"))
    # per-doc rank in the global (df asc, shh asc) order; prefix length
    # |A| - ceil(t|A|) + 1
    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("shh").asc())
    ranked = (
        exploded.join(df_tab, "shh")
        .withColumn("rk", F.row_number().over(w))
        .join(sizes, "doc_id")
        .filter(F.col("rk") <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1)
        .select("doc_id", "shh", "n_sh", "rk")
        # explosive-join parallelism (see embedding_near_dup_pairs): the
        # prefix table is broadcast-small, so without an explicit
        # repartition the candidate self-join inherits the documents
        # scan's single input split and runs one-task
        .repartition(spark.sparkContext.defaultParallelism, "shh")
        .localCheckpoint()
    )
    # overlap upper bound from this match's prefix positions
    ubound = 1 + F.least(
        F.col("a.n_sh") - F.col("a.rk"), F.col("b.n_sh") - F.col("b.rk")
    )
    # minimum overlap J >= t requires: ceil(t/(1+t) * (|A|+|B|))
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.n_sh") + F.col("b.n_sh"))
    )
    cand = (
        ranked.alias("a")
        .join(
            ranked.alias("b"),
            (F.col("a.shh") == F.col("b.shh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: t|A| <= |B| (and symmetrically |B| <= |A|/t)
            & (F.col("b.n_sh") >= F.lit(threshold) * F.col("a.n_sh"))
            & (F.col("a.n_sh") >= F.lit(threshold) * F.col("b.n_sh")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ubound.alias("ub"),
            alpha.alias("alpha"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.max("ub").alias("ub"), F.first("alpha").alias("alpha"))
        .filter(F.col("ub") >= F.col("alpha"))
        .select("doc_a", "doc_b")
    )
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter / union
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .filter(jac >= threshold)
        .select(
            "doc_a",
            "doc_b",
            inter.cast("long").alias("shared_shingles"),
            (inter.cast("double") / union).alias("jaccard"),
        )
    )


def edit_distance_pairs(
    spark: SparkSession,
    sf_dir: str,
    prefix_len: int = 24,
    max_dist: int = 40,
    max_block: int | None = 50,
) -> DataFrame:
    """Near-dup pairs by EXACT edit distance inside prefix blocks — the
    character-level complement to the token-set families (Jaccard/MinHash/
    SimHash): catches small in-place edits that shift every downstream
    shingle.

    Shape: block on the first ``prefix_len`` characters (template-derived
    near-dups share their head), equi-join within blocks, then the O(len²)
    Levenshtein ONLY on candidate pairs — the expensive verify never runs
    outside a block. ``max_block`` is the hot-key guard (same role as
    ``max_shingle_df``): blocks holding more docs than the cap — shared
    boilerplate heads — are dropped before the self-join, keeping the
    candidate count O(Σ block²) bounded. At 100 TB, widen the block key
    (prefix + length bucket) rather than raising the cap.

    Determinism: Levenshtein is the standard Wagner-Fischer distance in
    both engines — exact integers, no ties to break.
    """
    # single-split inputs would run the whole verify stage as ONE task
    # (no exchange anywhere for AQE to widen — the SCALE.md lesson from
    # semantic_dedup); spreading blocks across partitions up front makes
    # the O(len²) distance evaluations parallel and co-partitions every
    # downstream blk join
    n_part = max(spark.sparkContext.defaultParallelism, 8)
    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text", F.substring("text", 1, prefix_len).alias("blk"))
        .repartition(n_part, "blk")
    )
    if max_block is not None:
        keep = (
            docs.groupBy("blk")
            .agg(F.count(F.lit(1)).alias("bn"))
            .filter(F.col("bn") <= max_block)
            .select("blk")
        )
        docs = docs.join(keep, "blk")
    a = docs.alias("a")
    b = docs.alias("b")
    dist = F.levenshtein(F.col("a.text"), F.col("b.text"))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("long").alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= max_dist)
    )


def consensus_near_dup_pairs(
    spark: SparkSession, sf_dir: str, min_votes: int = 2
) -> DataFrame:
    """Ensemble near-dup detection: a candidate pair is confirmed when at
    least ``min_votes`` of the three independent dedup families flag it —
    word-n-gram Jaccard (token-set overlap), MinHash-LSH (banded sketch +
    exact verify), and SimHash (weighted-feature Hamming). The families
    fail differently (Jaccard misses reordered boilerplate SimHash
    catches; SimHash's pigeonhole bands miss pairs LSH recovers), so
    voting trades a little recall for precision — the standard production
    setting before destructive dedup at corpus scale.

    Plan shape: one lazy union of the three family lineages with a
    final (doc_a, doc_b) hash-aggregate vote count — each family keeps
    its own sub-quadratic blocking; nothing new shuffles at pair
    granularity beyond the flagged pairs themselves. All three emit
    id-ordered (doc_a < doc_b) pairs, so votes align without
    canonicalization.
    """
    fams = [
        ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b"),
        minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b"),
        simhash_near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b"),
    ]
    u = fams[0].unionAll(fams[1]).unionAll(fams[2])
    return (
        u.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_votes"))
        .filter(F.col("n_votes") >= min_votes)
    )


def quality_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: one canonical document per
    near-dup cluster, keeping the HIGHEST-quality member (distinct-token
    ratio, doc_id tie-break) rather than the smallest id — the policy a
    training pipeline actually wants (the near-dup survivors feed the
    model; "first seen" is an accident of crawl order, "least
    boilerplate" is a choice).

    Composition: LSH-sourced connected components (sub-quadratic pair
    graph) ⋈ the map-only quality features, then one per-cluster
    argmax window. Everything reuses existing lineages; the only new
    shuffle is the cluster-keyed window (clusters are tiny — bounded by
    near-dup group size, not corpus size).
    """
    clusters = near_dup_clusters(spark, sf_dir, pair_source="minhash")
    docs = read_table(spark, sf_dir, "documents").withColumn(
        "toks", F.split(F.col("text"), " ")
    )
    quality = docs.select(
        "doc_id",
        (
            F.size(F.array_distinct("toks")).cast("double") / F.size("toks")
        ).alias("quality"),
    )
    joined = clusters.join(quality, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("cluster_id")
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(wc).cast("long"))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_id"),
            "cluster_size",
            "quality",
        )
    )


def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval LEAKAGE audit across the deterministic dataset splits:
    fingerprint-identical documents that land in DIFFERENT splits — the
    exact-dup cross-contamination every benchmark-hygiene pass must
    catch before training (the near-dup version composes the same frame
    with the LSH pair sources).

    Reuses the repo's canonical split (``dataset_splits``' md5-bucket
    rule); the fingerprint is the md5 of the first ``prefix_tokens``
    tokens — a PREFIX fingerprint, because real-world duplicate leakage
    is dominated by append-edited copies (boilerplate headers, revised
    tails) that a whole-text hash misses while sharing their opening
    verbatim. One fingerprint-keyed aggregate (the shuffle carries
    16-byte keys, not bodies) emits each leaking fingerprint with its
    per-split spread and total copies.
    """
    prefix_tokens = 20
    docs = read_table(spark, sf_dir, "documents")
    key4 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    split = (
        F.when(key4 < "cccc", "train")
        .when(key4 < "e666", "val")
        .otherwise("test")
    )
    fp = F.md5(
        F.array_join(F.slice(F.split("text", " "), 1, prefix_tokens), " ")
    )
    base = docs.select(fp.alias("fingerprint"), split.alias("split"))
    return (
        base.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("split").alias("n_splits"),
            F.sum((F.col("split") == "train").cast("bigint")).alias("n_train"),
            F.sum((F.col("split") == "val").cast("bigint")).alias("n_val"),
            F.sum((F.col("split") == "test").cast("bigint")).alias("n_test"),
        )
        .filter(F.col("n_splits") >= 2)
    )


def lsh_tuning_report(
    spark: SparkSession,
    sf_dir: str,
    configs: tuple[int, ...] = (4, 8, 16),
    num_hashes: int = 32,
    n: int = 3,
) -> DataFrame:
    """LSH banding TUNING report: for each (bands, rows-per-band) split
    of the same 32-hash MinHash signature, the number of multi-occupant
    buckets and the total candidate-pair count Σ m·(m-1)/2 — the exact
    cost side of the S-curve trade every LSH deployment tunes (more
    bands = higher recall at threshold t = (1/b)^(1/r), more candidate
    pairs to verify). Counting instead of materializing means the report
    costs one aggregate per config over the SAME signature table — the
    cheap dry-run you do BEFORE committing to a config at 100 TB.

    All three configs share the shingle artifact and the md5 signature
    construction, so the whole report is oracle-exact."""
    out: DataFrame | None = None
    for bands in configs:
        bk = _corpus_band_keys(spark, sf_dir, n, num_hashes, bands, "md5")
        occ = (
            bk.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("m"))
            .filter(F.col("m") >= 2)
        )
        stat = occ.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.coalesce(
                F.sum(F.expr("m * (m - 1) DIV 2")), F.lit(0)
            ).cast("long").alias("n_candidate_pairs"),
        ).select(
            F.lit(bands).cast("long").alias("bands"),
            F.lit(num_hashes // bands).cast("long").alias("rows_per_band"),
            "n_buckets",
            "n_candidate_pairs",
        )
        out = stat if out is None else out.unionByName(stat)
    assert out is not None
    return out


def dedup_family_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-family AGREEMENT MATRIX over the three independent near-dup
    detector families — word-n-gram Jaccard, MinHash-LSH (banded sketch +
    exact verify), and SimHash (weighted-feature Hamming) — at their
    registered default settings. For every unordered family pair it
    reports the two pair-set sizes, the intersection, the union, and the
    set-level agreement ``1e6 * |A∩B| DIV |A∪B|`` in ppm (the Jaccard of
    the flagged PAIR SETS, not of any document pair). This is the
    calibration readout run before trusting an ensemble vote
    (``consensus_near_dup_pairs``): families that agree to 1e6 ppm are
    redundant; a family far below the others flags a threshold mismatch.

    Plan shape: one lazy union of the three family lineages (each keeps
    its own sub-quadratic blocking) -> ONE hash-aggregate to per-pair
    membership flags -> ONE single-row aggregate of the nine counters ->
    an explode of three literal structs. Nothing is evaluated twice: the
    three output rows project from the same one-row frame via
    ``explode(array(struct...))``, so the family pipelines run exactly
    once. Degenerate guard: an empty union (no family flags any pair)
    makes every pair-set empty, and the agreement of two empty sets is
    defined as full (1e6 ppm) rather than a division by zero — both
    engines apply the same CASE.
    """
    fams = [
        ("ngram", ngram_jaccard_pairs(spark, sf_dir)),
        ("minhash", minhash_lsh_pairs(spark, sf_dir)),
        ("simhash", simhash_near_dup_pairs(spark, sf_dir)),
    ]
    tagged: DataFrame | None = None
    for name, df in fams:
        t = df.select("doc_a", "doc_b", F.lit(name).alias("fam"))
        tagged = t if tagged is None else tagged.unionAll(t)
    assert tagged is not None
    m = tagged.groupBy("doc_a", "doc_b").agg(
        F.max(F.when(F.col("fam") == "ngram", 1).otherwise(0)).alias("f_n"),
        F.max(F.when(F.col("fam") == "minhash", 1).otherwise(0)).alias("f_m"),
        F.max(F.when(F.col("fam") == "simhash", 1).otherwise(0)).alias("f_s"),
    )
    t = m.agg(
        F.coalesce(F.sum("f_n"), F.lit(0)).alias("n_n"),
        F.coalesce(F.sum("f_m"), F.lit(0)).alias("n_m"),
        F.coalesce(F.sum("f_s"), F.lit(0)).alias("n_s"),
        F.coalesce(F.sum(F.col("f_n") * F.col("f_m")), F.lit(0)).alias("c_nm"),
        F.coalesce(F.sum(F.col("f_n") * F.col("f_s")), F.lit(0)).alias("c_ns"),
        F.coalesce(F.sum(F.col("f_m") * F.col("f_s")), F.lit(0)).alias("c_ms"),
        F.coalesce(F.sum(F.greatest("f_n", "f_m")), F.lit(0)).alias("u_nm"),
        F.coalesce(F.sum(F.greatest("f_n", "f_s")), F.lit(0)).alias("u_ns"),
        F.coalesce(F.sum(F.greatest("f_m", "f_s")), F.lit(0)).alias("u_ms"),
    )

    def _cell(fam_a: str, fam_b: str, na: str, nb: str, c: str, u: str):
        return F.struct(
            F.lit(fam_a).alias("fam_a"),
            F.lit(fam_b).alias("fam_b"),
            F.col(na).cast("long").alias("n_a"),
            F.col(nb).cast("long").alias("n_b"),
            F.col(c).cast("long").alias("n_common"),
            F.col(u).cast("long").alias("n_union"),
            F.expr(
                f"CAST(CASE WHEN {u} = 0 THEN 1000000"
                f" ELSE 1000000 * {c} DIV {u} END AS BIGINT)"
            ).alias("agreement_ppm"),
        )

    rows = t.select(
        F.explode(
            F.array(
                _cell("minhash", "ngram", "n_m", "n_n", "c_nm", "u_nm"),
                _cell("minhash", "simhash", "n_m", "n_s", "c_ms", "u_ms"),
                _cell("ngram", "simhash", "n_n", "n_s", "c_ns", "u_ns"),
            )
        ).alias("r")
    )
    return rows.select("r.*")


def _winnow_selected(
    spark: SparkSession, sf_dir: str, k: int, w: int
) -> DataFrame:
    """(doc_id, n_grams, pos, wmin) — the WINNOWING fingerprint selection
    (Schleimer/Wilkerson/Aiken, the MOSS local fingerprinting scheme)
    over token k-grams: hash every k-gram (60-bit nonneg fold of the
    first 15 md5 hex digits — identical arithmetic in DuckDB, and
    nonnegative so MIN agrees across signed/unsigned domains), then per
    window of ``w`` consecutive gram hashes keep the window MIN. The
    guarantee that makes winnowing the dedup-pipeline primitive: any
    shared token run of length ≥ w+k−1 between two documents forces at
    least one SHARED selected fingerprint value, while the selected set
    stays a ~2/(w+1) density sample of the grams.

    Docs shorter than w+k−1 tokens have no window and are dropped,
    identically on both engines. The window is partitioned per doc
    (doc-length-bounded grain); the frame is computed over ALL gram
    positions and the trailing w−1 starts are filtered AFTER (a filter
    before the frame would truncate the following rows)."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    docs = docs.filter(F.size("toks") >= k + w - 1).select(
        "doc_id",
        (F.size("toks") - (k - 1)).cast("long").alias("n_grams"),
        F.expr(
            f"transform(sequence(1, size(toks) - {k - 1}),"
            f" i -> concat_ws(' ', slice(toks, i, {k})))"
        ).alias("grams"),
    )
    hashed = docs.select(
        "doc_id",
        "n_grams",
        F.posexplode("grams").alias("pos", "gram"),
    ).select(
        "doc_id",
        "n_grams",
        "pos",
        F.expr("CAST(conv(substring(md5(gram), 1, 15), 16, 10) AS BIGINT)")
        .alias("h"),
    )
    frame = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    return hashed.withColumn("wmin", F.min("h").over(frame)).filter(
        F.col("pos") <= F.col("n_grams") - w
    )


def _winnow_fingerprints(
    spark: SparkSession, sf_dir: str, k: int, w: int
) -> DataFrame:
    """DISTINCT selected winnowing fingerprints per document —
    ``(doc_id, n_grams, wmin)`` — MATERIALIZED to parquet at most once
    per (sf_dir, k, w) per process (VERDICT r12 next-round item 2: the
    profile and the candidate-pair query each re-ran the full
    md5 + window-min selection, ~5M gram hashes per call). The distinct
    VALUE grain is the one both consumers aggregate from: the profile's
    ``countDistinct(wmin)`` per doc equals ``count(*)`` here, and the
    pair stage's first step was exactly this distinct. ``n_grams`` is
    functionally dependent on ``doc_id``, so carrying it adds no rows.
    A fingerprint INDEX is precisely what a MOSS deployment persists;
    the artifact is keyed on the documents input fingerprint, so a
    mutated corpus rebuilds instead of serving stale selections."""
    from ..plans.artifacts import materialized

    return materialized(
        spark,
        ("winnow_fingerprints", sf_dir, k, w),
        "winnow_fp_",
        lambda: _winnow_selected(spark, sf_dir, k, w)
        .select("doc_id", "n_grams", "wmin")
        .distinct(),
        inputs=(f"{sf_dir}/documents.parquet",),
    )


def winnowing_fingerprint_profile(
    spark: SparkSession, sf_dir: str, k: int = 3, w: int = 4
) -> DataFrame:
    """Per-document WINNOWING fingerprint profile — the selection audit a
    fingerprint-index deployment reads before sizing storage: gram and
    window counts, the DISTINCT selected fingerprint count, its density
    in ppm of the window count (theory: distinct window mins ≈ 2/(w+1)
    of positions; value-distinct collapses repeated grams further), and
    the min/max selected values as an end-to-end spot check of the hash
    fold. Scale shape: one scan of the shared fingerprint artifact
    (``_winnow_fingerprints`` — already value-distinct per doc, so the
    count is plain), one map-side-combined groupBy to doc grain."""
    sel = _winnow_fingerprints(spark, sf_dir, k, w)
    return (
        sel.groupBy("doc_id", "n_grams")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fingerprints"),
            F.min("wmin").cast("long").alias("fp_min"),
            F.max("wmin").cast("long").alias("fp_max"),
        )
        .select(
            "doc_id",
            "n_grams",
            (F.col("n_grams") - (w - 1)).cast("long").alias("n_windows"),
            "n_fingerprints",
            F.expr(f"n_fingerprints * 1000000 DIV (n_grams - {w - 1})")
            .cast("long")
            .alias("density_ppm"),
            "fp_min",
            "fp_max",
        )
    )


def winnowing_dup_candidates(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    w: int = 4,
    max_fp_df: int = 20,
    min_shared: int = 3,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` DISTINCT winnowing
    fingerprints — the MOSS candidate-pair stage: by the winnowing
    guarantee every pair sharing a token run of ≥ w+k−1 tokens (this
    corpus's 20-token near-dup prefixes, 4× over) surfaces here, without
    ever comparing documents pairwise. Fingerprints whose document
    frequency exceeds ``max_fp_df`` are dropped BEFORE pairing (the
    ``max_band_df`` hot-key remedy — on a ~31-token vocabulary some
    3-grams are corpus-wide stopword runs; a df-capped fingerprint can
    at worst HIDE a candidate pair, never invent one, and the cap is
    part of the cross-engine contract — the oracle applies the same
    cap). Output (doc_a, doc_b, n_shared).

    Scale shape: distinct (fingerprint, doc) incidence (the shared
    ``_winnow_fingerprints`` artifact — scanned for the df cap and both
    join sides; a parquet scan replaces the old localCheckpoint, giving
    column pruning per consumer) → df-cap semi-filter → equi-join on
    fingerprint (bounded fan-out ≤ max_fp_df per key) → pair aggregate.
    Never all-pairs."""
    sel = _winnow_fingerprints(spark, sf_dir, k, w).select("doc_id", "wmin")
    ok = (
        sel.groupBy("wmin")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_fp_df)
        .select("wmin")
    )
    # NO broadcast hint: the distinct-fingerprint frame scales with the
    # corpus (≈ grams/2.5 at 100 TB) — AQE picks the strategy per run
    capped = sel.join(ok, "wmin")
    pairs = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.wmin") == F.col("b.wmin"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return pairs.filter(F.col("n_shared") >= min_shared)


def cross_source_dup_matrix(
    spark: SparkSession, sf_dir: str, max_fp_df: int = 50
) -> DataFrame:
    """CROSS-SOURCE duplication flow matrix — which sources copy from
    which: every pair of documents sharing the canonical 20-token PREFIX
    fingerprint (the ``split_leakage_check`` family definition), rolled
    up to normalized (source_a ≤ source_b) cells with pair and
    fingerprint counts. The report a corpus-mixing review reads before
    weighting sources: heavy off-diagonal mass means two feeds syndicate
    the same content and their weights double-count it; diagonal mass is
    within-source boilerplate.

    Fingerprints with more than ``max_fp_df`` copies are dropped before
    pairing (the ``max_band_df`` hot-key remedy, applied identically by
    the oracle — a capped fingerprint can only HIDE pairs, never invent
    one). Scale shape: one corpus scan to the 16-byte fingerprint
    incidence, a bounded-fan-out self-join on fingerprint (≤ max_fp_df
    per key), one |sources|²-cell aggregate out."""
    docs = read_table(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(F.slice(F.split("text", " "), 1, 20), " "))
    inc = docs.select(
        fp.alias("fingerprint"), "doc_id", "source"
    ).localCheckpoint()  # feeds the df cap AND both join sides
    ok = (
        inc.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_fp_df)
        .select("fingerprint")
    )
    # no broadcast hint: the fingerprint frame scales with the corpus
    capped = inc.join(ok, "fingerprint")
    pairs = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.source"), F.col("b.source")).alias("source_a"),
            F.greatest(F.col("a.source"), F.col("b.source")).alias(
                "source_b"
            ),
            F.col("a.fingerprint").alias("fingerprint"),
        )
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.countDistinct("fingerprint").cast("long").alias("n_fingerprints"),
    )
