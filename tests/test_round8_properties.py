"""Round-8 property tests.

1. Degenerate-corpus guards for ``eb_shrunk_source_quality`` (ADVICE
   r7): one source (the sample-variance n-1 denominator is zero) and
   identical per-source rates (variance itself is zero) must run on
   BOTH engines and fall back to shrunk == rate, instead of Spark
   NULLing a division DuckDB raises on.
2. ``two_phase_cumsum`` (VERDICT r7 item 1): the range-partitioned
   running sum must be bit-identical to the built-in global-window
   cumsum over total orders, grouped and ungrouped.
3. Plan pins for the four de-weakened queries: no corpus-grain
   unpartitioned window survives in any of them.
"""
from __future__ import annotations

import os
import shutil
import tempfile

import duckdb
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_engineer_interview_task_spark.operators.sampling import (
    eb_shrunk_source_quality,
)
from data_engineer_interview_task_spark.operators.relational import (
    two_phase_cumsum,
)
from data_engineer_interview_task_spark.plans import explain_str
from data_engineer_interview_task_spark.sources import read_table


def _oracle_rows(sql: str, doc_dir: str):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    path = os.path.join(doc_dir, "documents.parquet")
    glob = f"{path}/*.parquet" if os.path.isdir(path) else path
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob}')"
    )
    df = con.sql(sql).df()
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df[cols].itertuples(index=False))


def _spark_rows(df):
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    return sorted(tuple(r) for r in pdf[cols].itertuples(index=False))


@pytest.fixture(scope="module")
def degenerate_dirs(spark, sf_dir):
    """Two synthetic corpora: single-source, and two identical-rate
    sources (one source's docs duplicated under a renamed source)."""
    docs = read_table(spark, sf_dir, "documents")
    one_src = docs.select("source").orderBy("source").limit(1).collect()[0][0]
    sub = docs.filter(F.col("source") == one_src)

    single = tempfile.mkdtemp(prefix="eb_single_")
    sub.write.mode("overwrite").parquet(
        os.path.join(single, "documents.parquet")
    )
    twin = tempfile.mkdtemp(prefix="eb_twin_")
    sub.unionAll(
        sub.withColumn("source", F.lit("zz_twin_source"))
    ).write.mode("overwrite").parquet(os.path.join(twin, "documents.parquet"))
    yield single, twin
    shutil.rmtree(single, ignore_errors=True)
    shutil.rmtree(twin, ignore_errors=True)


def test_eb_shrunk_degenerate_corpora_no_shrinkage(spark, degenerate_dirs):
    import __spark_entry__ as entry

    sql = entry.oracle_sql()["eb_shrunk_source_quality"]
    for d, n_expected in zip(degenerate_dirs, (1, 2)):
        out = eb_shrunk_source_quality(spark, d)
        rows = out.collect()
        assert len(rows) == n_expected
        for r in rows:
            # the documented fallback: no observable between-source
            # variance -> no shrinkage
            assert r["alpha_fp"] == 0 and r["beta_fp"] == 0
            assert r["shrunk_rate_fp"] == r["rate_fp"]
        # the oracle must run (no raise) and agree exactly
        assert _oracle_rows(sql, d) == _spark_rows(out)


# --- two_phase_cumsum vs the built-in global window ---------------------


@pytest.mark.parametrize("n,n_parts", [(1, 8), (7, 8), (200, 8), (200, 3)])
def test_two_phase_cumsum_ungrouped_matches_builtin(spark, n, n_parts):
    # non-contiguous shuffled keys; (key, id) is a tie-broken total order
    rows = [((i * 37) % 97, i, (i * 13) % 7 + 1) for i in range(n)]
    df = spark.createDataFrame(rows, "key long, id long, w long")
    order = [F.col("key").asc(), F.col("id").asc()]
    w = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    expect = sorted(df.withColumn("cum", F.sum("w").over(w)).collect())
    got = sorted(
        two_phase_cumsum(df, order, F.col("w"), "cum", n_parts=n_parts)
        .select("key", "id", "w", "cum")
        .collect()
    )
    assert got == expect


def test_two_phase_cumsum_grouped_matches_builtin(spark):
    rows = [((i * 37) % 97, i % 4, i, (i * 13) % 7 + 1) for i in range(173)]
    df = spark.createDataFrame(rows, "key long, grp long, id long, w long")
    order = [F.col("key").asc(), F.col("id").asc()]
    w = (
        Window.partitionBy("grp")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    expect = sorted(df.withColumn("cum", F.sum("w").over(w)).collect())
    got = sorted(
        two_phase_cumsum(
            df, order, F.col("w"), "cum", part_cols=("grp",), n_parts=5
        )
        .select("key", "grp", "id", "w", "cum")
        .collect()
    )
    assert got == expect


def test_two_phase_cumsum_zero_contribution_tie_groups(spark):
    """The session_overlap shape: tie groups are single-kind, consumed
    rows (probes) contribute zero — their running count of bounds must
    equal the order-statistic definition regardless of how range
    boundaries split the tie groups."""
    # many duplicate (val, kind) rows to force tie groups spanning
    # range-partition boundaries
    rows = [(v, 0) for v in range(10) for _ in range(9)] + [
        (v, 1) for v in range(10) for _ in range(9)
    ]
    df = spark.createDataFrame(rows, "val long, is_probe long")
    got = (
        two_phase_cumsum(
            df.withColumn("_tie", F.col("is_probe")),
            [F.col("val").asc(), F.col("_tie").asc()],
            1 - F.col("is_probe"),
            "cnt",
            n_parts=7,
        )
        .filter(F.col("is_probe") == 1)
        .select("val", "cnt")
        .collect()
    )
    assert len(got) == 90
    for r in got:
        # bounds sort before probes at equal val: #bounds with val <= v
        assert r["cnt"] == 9 * (r["val"] + 1), dict(r.asDict())


# --- byte-level batched BPE vs a pure-python replay ----------------------


def _reference_bytelevel_batched_bpe(word_freqs, n_rounds, batch):
    """Textbook list-based replay of the engine's documented variant:
    byte-level hex symbols, per round greedy non-interacting picks in
    (count DESC, l, r) order, applications chained in rank order."""
    vocab = {
        w: [w.encode()[i : i + 1].hex().upper() for i in range(len(w.encode()))]
        for w in word_freqs
    }
    merges = []
    for rnd in range(1, n_rounds + 1):
        counts: dict[tuple, int] = {}
        for w, freq in word_freqs.items():
            syms = vocab[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + freq
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        picked, used = [], set()
        for (l, r), cnt in ranked:
            if len(picked) == batch:
                break
            if l in used or r in used:
                continue
            picked.append((l, r, cnt))
            used.update({l, r, l + r})
        if not picked:
            break
        for k, (l, r, cnt) in enumerate(picked, start=1):
            merges.append((rnd, k, l, r, cnt))
            for w in vocab:  # left-to-right non-overlapping application
                syms, out, i = vocab[w], [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == l
                        and syms[i + 1] == r
                    ):
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                vocab[w] = out
    return merges


def test_bytelevel_batched_bpe_matches_reference(spark, tmp_path):
    """Adversarial shapes: runs, tie fodder, words containing '/' and
    multi-byte UTF-8 (the byte-level point: nothing is excluded), and
    interacting pairs that must be deferred across rounds."""
    import pandas as pd

    from data_engineer_interview_task_spark.operators import text as t

    corpus = (
        ["xxxx"] * 9
        + ["cab"] * 7
        + ["ab"] * 5
        + ["ba"] * 5
        + ["a/b"] * 4      # '/' words are trainable at byte level
        + ["zürich"] * 3   # multi-byte UTF-8
        + ["zzzz"] * 2
    )
    docs = pd.DataFrame(
        {
            "doc_id": range(len(corpus)),
            "text": corpus,
            "lang": "en",
            "source": "t",
            "n_chars": [len(c) for c in corpus],
        }
    )
    sf = str(tmp_path / "bpe_bl_sf")
    os.makedirs(sf)
    docs.to_parquet(f"{sf}/documents.parquet")
    got = [
        (r["round"], r["rk"], r["left"], r["right"], r["pair_count"])
        for r in t.bpe_train_merges_bytelevel(spark, sf, n_rounds=5, batch=3)
        .orderBy("round", "rk")
        .collect()
    ]
    freqs: dict[str, int] = {}
    for w in corpus:
        freqs[w] = freqs.get(w, 0) + 1
    assert got == _reference_bytelevel_batched_bpe(freqs, 5, 3)


# --- GIF codec ------------------------------------------------------------


def _pal256():
    return bytes(
        b for i in range(256) for b in (i, (7 * i) % 256, (13 * i) % 256)
    )


def test_gif_roundtrip_is_lossless_across_shapes():
    import random

    from data_engineer_interview_task_spark.functions.gif_codec import (
        gif_decode,
        gif_encode,
    )

    pal = _pal256()
    rng = random.Random(7)
    for w, h in [(16, 16), (100, 80), (1, 1), (255, 3)]:
        idx = bytes(rng.randrange(256) for _ in range(w * h))
        rgb, ww, hh = gif_decode(gif_encode(idx, w, h, pal))
        assert (ww, hh) == (w, h)
        assert rgb == b"".join(pal[3 * i : 3 * i + 3] for i in idx)


def test_gif_lzw_dictionary_reset_and_kwkwk():
    from data_engineer_interview_task_spark.functions.gif_codec import (
        gif_decode,
        gif_encode,
    )

    pal = _pal256()
    # low-entropy 90k-pixel raster: the dictionary fills past 4096 and
    # the encoder MUST emit CLEAR resets for the decode to align
    idx = bytes((i * i // 7) % 256 for i in range(300 * 300))
    payload = gif_encode(idx, 300, 300, pal)
    rgb, _, _ = gif_decode(payload)
    assert rgb == b"".join(pal[3 * i : 3 * i + 3] for i in idx)
    # repeated pattern: exercises the KwKwK (code == next entry) case
    idx = (b"abcabcab" * 20000)[: 128 * 128]
    rgb, _, _ = gif_decode(gif_encode(idx, 128, 128, pal))
    assert rgb == b"".join(pal[3 * i : 3 * i + 3] for i in idx)


def test_gif_interlace_roundtrip_and_pass_order():
    """Interlaced encode -> decode must equal the plain raster (pure
    row permutation), the flag must be set, and the stored scanline
    order must differ from row-major for h > 8 (i.e. the passes are
    real, not a no-op)."""
    from data_engineer_interview_task_spark.functions.gif_codec import (
        gif_decode,
        gif_encode,
    )

    pal = _pal256()
    idx = bytes((i * 31) % 256 for i in range(16 * 16))
    plain = gif_encode(idx, 16, 16, pal)
    inter = gif_encode(idx, 16, 16, pal, interlace=True)
    # packed byte = 0x2C at 781 + 9 trailing descriptor bytes
    assert inter[6 + 7 + 768 + 9] & 0x40  # descriptor interlace flag
    assert inter != plain  # stored order genuinely permuted
    assert gif_decode(inter) == gif_decode(plain)
    # odd height exercises uneven pass lengths
    idx2 = bytes((i * 7) % 256 for i in range(10 * 13))
    assert gif_decode(gif_encode(idx2, 10, 13, pal, interlace=True)) == \
        gif_decode(gif_encode(idx2, 10, 13, pal))


def test_gif_decoder_skips_89a_extensions_and_rejects_non_gif():
    from data_engineer_interview_task_spark.functions.gif_codec import (
        gif_decode,
        gif_encode,
    )

    pal = _pal256()
    idx = bytes(range(256))
    payload = gif_encode(idx, 16, 16, pal)
    # splice a GIF89a graphics-control extension before the image block
    # (header 6 + logical screen descriptor 7 + 768-byte color table —
    # searching for 0x2c would hit palette bytes)
    img_at = 6 + 7 + 768
    assert payload[img_at] == 0x2C
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    with_ext = b"GIF89a" + payload[6:img_at] + ext + payload[img_at:]
    rgb, w, h = gif_decode(with_ext)
    assert (w, h) == (16, 16)
    assert rgb == b"".join(pal[3 * i : 3 * i + 3] for i in idx)
    with pytest.raises(ValueError):
        gif_decode(b"NOTAGIF!" + payload[8:])


# --- plan pins: no corpus-grain unpartitioned window ---------------------


def _window_lines(plan: str):
    return [
        ln for ln in plan.splitlines() if "windowspecdefinition(" in ln
    ]


def test_quantile_normalize_plan_has_no_global_sort_window(spark, sf_dir):
    from data_engineer_interview_task_spark.operators import sampling

    plan = explain_str(sampling.quantile_normalize_per_source(spark, sf_dir))
    for ln in _window_lines(plan):
        assert "_pid" in ln or "source#" in ln, f"corpus-grain window: {ln}"


def test_weighted_median_plan_has_no_row_grain_flag_window(spark, sf_dir):
    from data_engineer_interview_task_spark.operators import extended

    plan = explain_str(extended.weighted_median_price(spark, sf_dir))
    for ln in _window_lines(plan):
        # every surviving window is pid-scoped (the cumsum) or runs on
        # the n_parts-row offset frame (ordered BY _pid)
        assert "_pid" in ln, f"row-grain returnflag window: {ln}"


def test_session_overlap_plan_windows_are_pid_or_user_scoped(spark, sf_dir):
    from data_engineer_interview_task_spark.operators import relational

    plan = explain_str(relational.session_overlap_degree(spark, sf_dir))
    for ln in _window_lines(plan):
        assert "_pid" in ln or "user_id#" in ln, (
            f"global boundary window resurfaced: {ln}"
        )
