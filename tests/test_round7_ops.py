"""Hand edge-case tests for the round-7 operators (waves 17-19).

The auto-parametrized DuckDB parity sweep (test_oracle_parity) covers
cross-engine value equality for every registered query; these tests pin
the SEMANTICS on constructed inputs — known statistics, boundary
conditions, and cross-strategy agreement the oracle can't distinguish.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- wave 17


def test_norm_sf2_polynomial_accuracy(spark):
    """The shared A&S 26.2.17 tail polynomial must track the exact
    two-sided normal p-value within its published 7.5e-8 bound."""
    from defimap_data_pipelines_spark.operators.experiments import (
        norm_sf2_expr,
    )

    zs = [0.0, 0.5, 1.0, 1.644854, 1.959964, 2.575829, 3.5, 5.0]
    df = spark.createDataFrame([(z,) for z in zs], "z double")
    got = {
        r["z"]: r["p"]
        for r in df.select(
            "z", F.expr(norm_sf2_expr("abs(z)")).alias("p")
        ).collect()
    }
    for z in zs:
        exact = math.erfc(z / math.sqrt(2.0))
        assert abs(got[z] - exact) < 2e-7, (z, got[z], exact)


def test_bh_fdr_adjustment_properties(spark):
    """BH invariants: p_adj >= p, p_adj monotone in the p-ranking,
    capped at 1, rejected iff p_adj <= alpha."""
    from defimap_data_pipelines_spark.operators.experiments import bh_fdr

    rows = []
    # cell 0: strong effect, cells 1..5: none (same distribution)
    for cell in range(6):
        for i in range(200):
            shift = 400 if (cell == 0 and i % 2 == 1) else 0
            rows.append(
                (
                    cell,
                    "control" if i % 2 == 0 else "treatment",
                    (i * 37) % 100 + shift,
                )
            )
    df = spark.createDataFrame(rows, "cell long, variant string, xq long")
    out = (
        bh_fdr(df, ["cell"], "variant", "xq", "control", "treatment", 0.1)
        .orderBy("p")
        .collect()
    )
    assert len(out) == 6
    prev_adj = 0.0
    for r in out:
        assert r["p_adj"] >= r["p"] - 1e-12
        assert r["p_adj"] <= 1.0
        assert r["p_adj"] >= prev_adj - 1e-12  # monotone in p order
        prev_adj = r["p_adj"]
        assert r["rejected"] == (round(r["p_adj"], 9) <= 0.1)
    by_cell = {r["cell"]: r for r in out}
    assert by_cell[0]["rejected"]  # the planted effect survives BH


def test_mcnemar_known_table(spark):
    """n10=20, n01=5 -> chi2 = (|20-5|-1)^2 / 25 = 7.84."""
    from defimap_data_pipelines_spark.operators.experiments import (
        mcnemar_paired,
    )

    rows = []
    uid = 0
    for a, b, n in [(1, 1, 30), (1, 0, 20), (0, 1, 5), (0, 0, 45)]:
        for _ in range(n):
            rows.append((uid, 0, a))
            rows.append((uid, 1, b))
            uid += 1
    df = spark.createDataFrame(rows, "u long, per int, f int")
    out = mcnemar_paired(
        df, "u", F.col("per") == 1, F.col("f") == 1
    ).collect()[0]
    assert (out["n11"], out["n10"], out["n01"], out["n00"]) == (
        30,
        20,
        5,
        45,
    )
    assert out["mcnemar_chi2"] == pytest.approx(7.84, abs=1e-9)


def test_runs_test_extremes(spark):
    """Strictly alternating up/down -> runs = n_steps (max); a
    monotone series has n_down = 0 -> z NULL (degenerate)."""
    from defimap_data_pipelines_spark.operators.stats import runs_test

    alt = [(1, i, 100 + (10 if i % 2 == 0 else -10)) for i in range(21)]
    mono = [(2, i, i * 5) for i in range(21)]
    df = spark.createDataFrame(alt + mono, "k long, o long, x long")
    out = {r["k"]: r for r in runs_test(df, "k", "o", "x").collect()}
    # 20 steps alternate direction every step -> 20 runs
    assert out[1]["runs"] == 20
    assert out[1]["z"] is not None and out[1]["z"] > 3  # far from random
    assert out[2]["n_down"] == 0 and out[2]["z"] is None


def test_ar1_halflife_planted_decay(spark):
    """y_t - 1000 = (y_{t-1} - 1000) / 2 exactly -> beta = 0.5,
    halflife = 1 step."""
    from defimap_data_pipelines_spark.operators.timeseries import (
        ar1_halflife,
    )

    rows, y = [], 1000 + 512
    for t in range(60):
        rows.append((1, t, y))
        y = 1000 + (y - 1000) // 2 if y > 1000 else 1000
    df = spark.createDataFrame(rows, "k long, o long, x long")
    out = ar1_halflife(df, "k", "o", "x").collect()[0]
    assert out["beta"] == pytest.approx(0.5, abs=0.02)
    assert out["halflife"] == pytest.approx(1.0, abs=0.05)


# ---------------------------------------------------------------- wave 18


def test_levenshtein_neardup_blocking_is_exact(spark):
    """Near-identical docs are found across a band boundary; docs
    whose length gap alone exceeds tau are excluded by mathematics,
    not blocking (lev >= length gap)."""
    from defimap_data_pipelines_spark.operators.dedup import (
        levenshtein_neardup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and"
    docs = spark.createDataFrame(
        [
            # same band (len 54, 55): 1 edit apart
            (1, base, len(base), "en"),
            (2, base + "!", len(base) + 1, "en"),
            # adjacent bands (len 63 vs 64 crosses the 16-band edge)
            (3, base + " xxxxxxxxx", 63, "en"),
            (4, base + " xxxxxxxxxx", 64, "en"),
            # far pair: length gap 30 > tau although prefix similar
            (5, base[:20], 20, "en"),
            (6, base[:20] + " " + "y" * 29, 50, "en"),
        ],
        "doc_id long, text string, n_chars long, lang string",
    )
    out = {
        (r["doc_a"], r["doc_b"]): r["lev"]
        for r in levenshtein_neardup_pairs(docs).collect()
    }
    assert out[(1, 2)] == 1
    assert (3, 4) in out and out[(3, 4)] == 1
    assert (5, 6) not in out


def test_decayed_popularity_exact_weights(spark):
    """Hand-checked integer weights: day 0 lag -> 2^30, 7 days ->
    2^29, 70 days -> 2^20, 300 days -> floor at 2^0."""
    from defimap_data_pipelines_spark.operators.ranking import (
        decayed_popularity,
    )

    df = spark.createDataFrame(
        [("a", 300), ("a", 293), ("a", 230), ("b", 300), ("b", 0)],
        "k string, d long",
    )
    out = {
        r["key"]: r["score"]
        for r in decayed_popularity(df, "k", "d").collect()
    }
    assert out["a"] == (1 << 30) + (1 << 29) + (1 << 20)
    assert out["b"] == (1 << 30) + 1  # 300-day-old event floors at 1


def test_k_anonymity_hand_counts(spark):
    """3 groups of sizes 2, 5, 1 under k=5 -> two small groups with
    3 of 8 rows exposed."""
    from defimap_data_pipelines_spark.operators.dq import k_anonymity_risk

    rows = (
        [("s", 1, 0)] * 2 + [("s", 2, 0)] * 5 + [("s", 3, 0)] * 1
    )
    df = spark.createDataFrame(rows, "seg string, qa long, qb long")
    out = k_anonymity_risk(df, ["seg", "qa", "qb"], "seg", k=5).collect()[0]
    assert out["n_rows"] == 8
    assert out["n_groups"] == 3
    assert out["n_small_groups"] == 2
    assert out["n_rows_small"] == 3
    assert out["reident_risk"] == pytest.approx(3 / 8, abs=1e-9)


def test_jaccard_strategies_agree(spark, sf_dir):
    """Differential: the dense block-matmul path and the inverted-index
    path must produce identical pair sets with identical jaccard
    values on the same (char-shingle) corpus."""
    from defimap_data_pipelines_spark.functions.text import char_shingles
    from defimap_data_pipelines_spark.operators.dedup import (
        dense_jaccard_pairs,
        hashed_shingles,
        ngram_jaccard_pairs,
    )
    from defimap_data_pipelines_spark.sources.parquet import read_table

    docs = read_table(spark, sf_dir, "documents")
    hs = hashed_shingles(
        docs.select("doc_id", char_shingles(F.col("text"), 5).alias("_sh"))
    ).cache()

    def pairs(df):
        return {
            (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
            for r in df.collect()
        }

    dense = pairs(dense_jaccard_pairs(hs, threshold=0.5))
    index = pairs(ngram_jaccard_pairs(docs, threshold=0.5, hashed=hs))
    assert dense == index
    assert len(dense) > 0  # the corpus plants near-dups


def test_char_shingles_linear_form_matches_python(spark):
    """The shifted-slice char n-gram build must equal the python
    reference set on awkward inputs (short strings, repeats)."""
    from defimap_data_pipelines_spark.functions.text import (
        char_shingles,
        normalize_text,
    )

    texts = ["abcde", "abcd", "aaaaaaa", "ab", "", "abcabcabc xyz"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    rows = df.select(
        "t",
        normalize_text(F.col("t")).alias("norm"),
        char_shingles(F.col("t"), 5).alias("sh"),
    ).collect()
    for r in rows:
        s = r["norm"]
        if len(s) >= 5:
            expected = sorted({s[i : i + 5] for i in range(len(s) - 4)})
        else:
            expected = sorted({s})  # the k>=1 floor keeps one slice
        assert sorted(r["sh"]) == expected, (r["t"], r["sh"], expected)


# ---------------------------------------------------------------- wave 19


def test_forecast_mase_perfect_seasonal(spark):
    """A perfectly 7-periodic series has zero seasonal error ->
    mase = 0; a constant series has zero naive MAE -> NULL."""
    from defimap_data_pipelines_spark.operators.evalmetrics import (
        forecast_mase,
    )

    periodic = [(1, t, 100 + (t % 7) * 10) for t in range(28)]
    constant = [(2, t, 500) for t in range(28)]
    df = spark.createDataFrame(periodic + constant, "k long, o long, x long")
    out = {r["k"]: r for r in forecast_mase(df, "k", "o", "x").collect()}
    assert out[1]["mase"] == 0.0
    assert out[2]["mase"] is None


def test_conformal_interval_known_quantile(spark):
    """20 scored periods -> 14 calibrate; residuals 1..14 with
    cov=0.9 pick rank ceil(15*9/10)=ceil(13.5)=14 -> q=14 (the
    finite-sample conformal rank; the pre-r8 floor picked 13);
    coverage counts test residuals <= 14."""
    from defimap_data_pipelines_spark.operators.evalmetrics import (
        conformal_interval,
    )

    rows = []
    # periods 0..6 seed the lag; residual of period 7+i is |x - lag7|
    seed = [(1, t, 1000) for t in range(7)]
    resid = list(range(1, 15)) + [5, 5, 20, 20, 5, 20]  # 14 cal + 6 test
    cur = {t: 1000 for t in range(7)}
    for i, rr in enumerate(resid):
        t = 7 + i
        prev = cur[t - 7]
        cur[t] = prev + rr
        rows.append((1, t, cur[t]))
    df = spark.createDataFrame(seed + rows, "k long, o long, x long")
    out = conformal_interval(df, "k", "o", "x", season=7).collect()[0]
    assert out["n_cal"] == 14
    assert out["n_test"] == 6
    assert out["q"] == pytest.approx(14 / 100.0, abs=1e-12)
    assert out["coverage"] == pytest.approx(3 / 6, abs=1e-12)


def test_centroid_similarity_orthogonal_and_identical(spark):
    """Two groups on orthogonal axes -> cosine 0; duplicated group
    -> cosine 1 (up to grid truncation)."""
    from defimap_data_pipelines_spark.operators.similarity import (
        group_centroid_similarity,
    )

    def vec(axis, scale):
        v = [0.0] * 8
        v[axis] = scale
        return v

    rows = (
        [(0, vec(0, 1.0)), (0, vec(0, 0.5))]
        + [(1, vec(1, 1.0)), (1, vec(1, 2.0))]
        + [(2, vec(0, 1.0)), (2, vec(0, 0.5))]
    )
    df = spark.createDataFrame(rows, "label int, embedding array<double>")
    out = {
        (r["g_a"], r["g_b"]): r["cosine"]
        for r in group_centroid_similarity(df, "label", "embedding").collect()
    }
    assert out[(0, 1)] == pytest.approx(0.0, abs=1e-9)
    assert out[(0, 2)] == pytest.approx(1.0, abs=1e-9)
    assert out[(1, 2)] == pytest.approx(0.0, abs=1e-9)


def test_run_memory_sink_restores_shuffle_partitions(spark, sf_dir):
    """The streaming-sink helper pins shuffle partitions for the
    replay; a leaked conf would silently resize every subsequent
    batch query's shuffles."""
    from defimap_data_pipelines_spark.plans.queries import QUERIES

    before = spark.conf.get("spark.sql.shuffle.partitions")
    QUERIES["stream_tumbling_exec"](spark, sf_dir).count()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
