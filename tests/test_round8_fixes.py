"""Round-8 regression tests: the int64 moment-product overflow sweep.

The r7 verdict measured `cuped_adjustment`'s psxx*pn product at
2.56e17 at sf0.1 — only 36x below int64 max — and flagged
`leadlag_xcorr` (~750x) and `variance_ratio` as the same class: a
product of two DATA-SCALED int64 aggregates that wraps (or
ANSI-faults) in Spark while DuckDB silently promotes to HUGEINT.
These fixtures use the ar1_halflife method (docs/ROUND7_NOTES.md):
magnitudes chosen so every SUM still fits int64 but the old
product-then-cast form overflows — the fixed factor-cast form must
return the same answer python's arbitrary-precision ints give.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

I64_MAX = (1 << 63) - 1


def test_cuped_survives_product_overflow_magnitudes(spark):
    """Per-unit xq ~ 3.3e8 cents over 100 units: psxx ~ 1.1e19 / 100
    units... tuned so psxx fits int64 but psxx*pn does not."""
    from defimap_data_pipelines_spark.operators.experiments import (
        cuped_adjustment,
    )

    # 40 units; per-unit pre/post cents ~ 4.5e8 => x^2 ~ 2e17,
    # psxx ~ 8.1e18 (fits); psxx * pn = 3.2e20 (old form wraps)
    rows = []
    base = datetime.datetime(2024, 1, 1)
    post_cut = datetime.datetime(2024, 1, 16)
    for u in range(40):
        x_dollars = 4.0e6 + u * 1.1e4  # pre-period (~4e8 cents)
        y_dollars = 4.2e6 + (u % 7) * 2.3e4  # post-period
        rows.append((u, base, x_dollars))
        rows.append((u, post_cut, y_dollars))
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    )
    out = {
        r["variant"]: r
        for r in cuped_adjustment(
            df,
            "user_id",
            F.col("user_id") % 2 == 1,
            F.col("ts") >= F.lit("2024-01-16").cast("timestamp"),
            "value",
        ).collect()
    }

    # python reference with arbitrary-precision ints
    per_unit = {}
    for u, ts, v in rows:
        vq = round(v * 100)
        x, y = per_unit.get(u, (0, 0))
        if ts >= post_cut:
            per_unit[u] = (x, y + vq)
        else:
            per_unit[u] = (x + vq, y)
    variants = {0: [], 1: []}
    for u, (x, y) in per_unit.items():
        variants[u % 2].append((x, y))
    pn = len(per_unit)
    psx = sum(x for vs in variants.values() for x, _ in vs)
    psy = sum(y for vs in variants.values() for _, y in vs)
    psxy = sum(x * y for vs in variants.values() for x, y in vs)
    psxx = sum(x * x for vs in variants.values() for x, _ in vs)
    assert psxx <= I64_MAX, "fixture invalid: the SUM itself overflows"
    assert psxx * pn > I64_MAX, (
        "fixture too small: the old int64 product would not overflow"
    )
    cov = float(psxy) * pn - float(psx) * float(psy)
    varx = float(psxx) * pn - float(psx) * float(psx)
    theta = cov / varx
    mean_all_x = psx / (pn * 100.0)
    for variant in (0, 1):
        vs = variants[variant]
        n = len(vs)
        sx = sum(x for x, _ in vs)
        sy = sum(y for _, y in vs)
        mean_x = sx / (n * 100.0)
        mean_y = sy / (n * 100.0)
        adj = mean_y - theta * (mean_x - mean_all_x)
        got = out[variant]
        assert got["n_units"] == n
        assert got["theta"] == pytest.approx(theta, rel=1e-6)
        assert got["adj_mean_y"] == pytest.approx(adj, rel=1e-6)


def test_leadlag_survives_product_overflow_magnitudes(spark):
    """Daily cent sums ~ 5.3e8 over 31 days: sxx ~ 8.7e18 (fits);
    n_days * sxx ~ 2.7e20 (old form wraps)."""
    from defimap_data_pipelines_spark.operators.stats import (
        leadlag_xcorr,
    )

    rows = []
    for d in range(31):
        x = 520_000_000 + d * 700_000  # clicks daily cents
        y = 530_000_000 + ((d * 13) % 7) * 900_000  # purchases
        rows.append(("click", d, x))
        rows.append(("purchase", d, y))
    daily = spark.createDataFrame(rows, "g string, day long, yq long")
    out = {
        r["lag"]: r
        for r in leadlag_xcorr(daily, "click", "purchase", max_lag=2).collect()
    }

    xs = {d: v for g, d, v in rows if g == "click"}
    ys = {d: v for g, d, v in rows if g == "purchase"}
    for lag in range(-2, 3):
        pairs = [
            (xs[d], ys[d + lag]) for d in xs if (d + lag) in ys
        ]
        n = len(pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        sxx = sum(x * x for x, _ in pairs)
        syy = sum(y * y for _, y in pairs)
        assert sxx <= I64_MAX, "fixture invalid: SUM overflows"
        assert n * sxx > I64_MAX, "fixture too small for the old form"
        cov = float(n) * float(sxy) - float(sx) * float(sy)
        vx = float(n) * float(sxx) - float(sx) * float(sx)
        vy = float(n) * float(syy) - float(sy) * float(sy)
        got = out[lag]
        assert got["n_days"] == n
        if vx > 0 and vy > 0:
            expect = cov / (vx * vy) ** 0.5
            assert got["xcorr"] == pytest.approx(expect, abs=1e-6)


def test_variance_ratio_survives_product_overflow_magnitudes(spark):
    """Alternating +/-800 percent_change => r6 = +/-8e8, ss1 ~ 12 *
    6.4e17 = 7.7e18 (fits); n*ss1 ~ 9.2e19 (old form wraps); the
    5-day window sums stay ~8e8 so ssq also fits."""
    from defimap_data_pipelines_spark.operators.risk import (
        variance_ratio,
    )

    rows = []
    d0 = datetime.date(2024, 1, 1)
    r6s = []
    for i in range(12):
        pc = 800.0 if i % 2 == 0 else -800.0
        pc += i * 0.013  # break exact cancellation
        rows.append((d0 + datetime.timedelta(days=i), "s1", pc))
        r6s.append(round(pc * 1_000_000))
    df = spark.createDataFrame(
        rows, "date date, name string, percent_change double"
    )
    out = variance_ratio(df, q=5).collect()[0]

    n = len(r6s)
    s1 = sum(r6s)
    ss1 = sum(r * r for r in r6s)
    assert ss1 <= I64_MAX, "fixture invalid: SUM overflows"
    assert n * ss1 > I64_MAX, "fixture too small for the old form"
    s6s = [sum(r6s[i - 4 : i + 1]) for i in range(4, n)]
    nq = len(s6s)
    sq = sum(s6s)
    ssq = sum(s * s for s in s6s)
    var1 = (float(n) * float(ss1) - float(s1) * float(s1)) / (
        n * (n - 1)
    ) / 1e12
    varq = (float(nq) * float(ssq) - float(sq) * float(sq)) / (
        nq * (nq - 1)
    ) / 1e12
    assert out["n_days"] == n
    assert out["var_1"] == pytest.approx(var1, rel=1e-9)
    assert out["var_q"] == pytest.approx(varq, rel=1e-9)
    assert out["vr"] == pytest.approx(varq / (5.0 * var1), rel=1e-6)


def test_conformal_rank_is_finite_sample_ceil(spark):
    """n_cal = 9, cov = 9/10: ceil(10 * 0.9) = 9 = n_cal (floor gave
    9 too); n_cal = 10: ceil(11 * 0.9) = ceil(9.9) = 10 (floor gave
    9 — the anti-conservative rank ADVICE flagged)."""
    from defimap_data_pipelines_spark.operators.evalmetrics import (
        conformal_interval,
    )

    # 7 seed + 10 calibration + 5 test = n=15 scored, cal = 10
    seed = [(1, t, 1000) for t in range(7)]
    resid = list(range(1, 11)) + [3, 3, 3, 20, 20]
    rows, cur = [], {t: 1000 for t in range(7)}
    for i, rr in enumerate(resid):
        t = 7 + i
        cur[t] = cur[t - 7] + rr
        rows.append((1, t, cur[t]))
    df = spark.createDataFrame(seed + rows, "k long, o long, x long")
    out = conformal_interval(df, "k", "o", "x", season=7).collect()[0]
    assert out["n_cal"] == 10
    # ceil(11 * 9/10) = 10 -> q = the 10th smallest residual = 10
    assert out["q"] == pytest.approx(10 / 100.0, abs=1e-12)


def test_levenshtein_length_contract(spark):
    """The r8 ADVICE resolution: the full-length-band condition is
    part of the OUTPUT CONTRACT. The ADVICE counterexample pair
    (near-identical prefixes, full lengths 52 vs 90 = bands 3 vs 5)
    is EXCLUDED by contract — it is a containment case, not a
    near-dup — while a same-prefix pair with similar full lengths
    (90 vs 100 = bands 5 vs 6, adjacent) is reported. An earlier r8
    attempt banded on the compared-prefix length instead, which IS
    exact for prefix-lev alone but collapses every >= 64-char doc
    into one band (measured 2.8 -> 69 s at sf0.1 — a corpus-sized
    quadratic block)."""
    from defimap_data_pipelines_spark.operators.dedup import (
        levenshtein_neardup_pairs,
    )

    a = "x" * 52
    b = "x" * 52 + "y" * 38  # 90 chars: prefix lev vs a = 12
    c = "x" * 52 + "y" * 48  # 100 chars: same 64-char prefix as b
    docs = spark.createDataFrame(
        [(1, a, len(a), "en"), (2, b, len(b), "en"), (3, c, len(c), "en")],
        "doc_id long, text string, n_chars long, lang string",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["lev"]
        for r in levenshtein_neardup_pairs(
            docs, band_width=16, prefix_len=64, tau=12
        ).collect()
    }
    # (1,2): prefix-close but length bands 3 vs 5 -> outside contract
    # (1,3): bands 3 vs 6 -> outside contract
    # (2,3): identical 64-char prefixes, bands 5 vs 6 (adjacent) -> in
    assert got == {(2, 3): 0}


def test_char_jaccard_bitset_falls_back_when_vocab_gate_trips(spark):
    """dense_jaccard_pairs must return the exact inverted-index result
    instead of raising when the distinct-shingle vocab exceeds 2^16
    (ADVICE low #1)."""
    from defimap_data_pipelines_spark.operators.dedup import (
        dense_jaccard_pairs,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        n_vocab = (1 << 16) + 8
        # two identical docs sharing a huge vocab + one disjoint doc
        h_all = list(range(n_vocab))
        hs = spark.createDataFrame(
            [
                (1, h_all),
                (2, h_all),
                (3, [10_000_000 + i for i in range(50)]),
            ],
            "doc_id long, _hh array<long>",
        )
        out = dense_jaccard_pairs(hs, threshold=0.5).collect()
    finally:
        spark.conf.set(key, before)
    assert {(r["doc_a"], r["doc_b"]) for r in out} == {(1, 2)}
    assert out[0]["jaccard"] == pytest.approx(1.0, abs=1e-12)


def test_centroid_similarity_reports_group_counts(spark):
    """r8 contract fix: output is (g_a, g_b, n_a, n_b, cosine) with
    n_* = group ROW counts (ADVICE low #2)."""
    from defimap_data_pipelines_spark.operators.similarity import (
        group_centroid_similarity,
    )

    rows = [(0, [1.0, 0.0])] * 3 + [(1, [0.0, 2.0])] * 2
    df = spark.createDataFrame(
        rows, "label int, embedding array<double>"
    )
    out = group_centroid_similarity(df, "label", "embedding").collect()
    assert len(out) == 1
    r = out[0]
    assert set(r.asDict()) == {"g_a", "g_b", "n_a", "n_b", "cosine"}
    assert (r["n_a"], r["n_b"]) == (3, 2)
    assert r["cosine"] == pytest.approx(0.0, abs=1e-9)


def test_kruskal_tie_term_survives_rows_cubed_magnitudes(spark):
    """One value block with 2.2e6 tied rows: blk^3 = 1.06e19 > int64
    max — the pre-r8 int64 tie term wraps (or ANSI-faults); the
    decimal(38,0) form must return the exact value."""
    from defimap_data_pipelines_spark.operators.stats import (
        kruskal_wallis,
    )

    big = 2_200_000
    assert big**3 > I64_MAX
    df = (
        spark.range(big + 3)
        .selectExpr(
            "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS g",
            f"CASE WHEN id < {big} THEN 5.0 ELSE CAST(id AS DOUBLE) END"
            " AS v",
        )
    )
    out = kruskal_wallis(df, "g", "v", quantum=1).collect()[0]
    assert out["n_total"] == big + 3
    # exact tie term: the big block contributes big^3 - big; the 3
    # singleton blocks contribute 0
    assert out["t_ties"] == float(big**3 - big)
