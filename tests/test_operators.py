"""Operator unit & differential tests (SURVEY.md §5 strategy):
window edge cases, rebase-vs-naive trailing equivalence, interpolation
vs pandas semantics, drawdown vs a literal pandas replica.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from defimap_data_pipelines_spark.operators.cleaning import interpolate_linear
from defimap_data_pipelines_spark.operators.growth import growth_of_10k
from defimap_data_pipelines_spark.operators.risk import risk_metrics
from defimap_data_pipelines_spark.operators.trailing import (
    trailing_returns,
    trailing_returns_naive,
)
from defimap_data_pipelines_spark.plans.domain import orders_raw_series
from defimap_data_pipelines_spark.plans.queries import DS


def _mk_raw(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=[
                "date", "name", "aave_apy", "liquidity_index",
                "asset_price", "aave_price", "atoken_supply",
            ],
        )
    ).withColumn("date", F.col("date").cast("date"))


def test_gotk_first_row_basis(spark):
    """Day-1 GOTK: edi = 10000 * 1 * 1 + day-1 reward; pc from the
    10000 default (W1 IFNULL semantics)."""
    raw = _mk_raw(
        spark,
        [
            ("2022-01-01", "s1", 0.0, 1.0, 2.0, 5.0, 1.0),
            ("2022-01-02", "s1", 0.0, 1.0, 2.0, 5.0, 1.0),
        ],
    )
    out = growth_of_10k(raw).orderBy("date").collect()
    assert out[0].end_day_investment == pytest.approx(10000.0)
    assert out[0].start_day_investment == 10000.0
    assert out[0].percent_change == pytest.approx(0.0)
    assert out[1].percent_change == pytest.approx(0.0)


def test_gotk_single_partition_isolated(spark):
    """Two strategies never leak window state into each other."""
    raw = _mk_raw(
        spark,
        [
            ("2022-01-01", "a", 0.0, 1.0, 2.0, 5.0, 1.0),
            ("2022-01-01", "b", 0.0, 1.0, 100.0, 5.0, 1.0),
            ("2022-01-02", "b", 0.0, 1.0, 200.0, 5.0, 1.0),
        ],
    )
    out = {(r.name, str(r.date)): r for r in growth_of_10k(raw).collect()}
    assert out[("a", "2022-01-01")].end_day_investment == pytest.approx(10000.0)
    assert out[("b", "2022-01-02")].end_day_investment == pytest.approx(20000.0)


def test_gotk_monthly_reset(spark):
    """W4: compounding resets at month boundaries."""
    raw = _mk_raw(
        spark,
        [
            ("2022-01-30", "s", 0.0, 1.0, 100.0, 5.0, 1.0),
            ("2022-01-31", "s", 0.0, 1.0, 110.0, 5.0, 1.0),
            ("2022-02-01", "s", 0.0, 1.0, 121.0, 5.0, 1.0),
        ],
    )
    out = {
        str(r.date): r.percent_change
        for r in growth_of_10k(raw, monthly=True).collect()
    }
    assert out["2022-01-31"] == pytest.approx(0.1)
    # Feb 1 is a new month-partition: edi=10000 basis, lag NULL -> pc=0
    assert out["2022-02-01"] == pytest.approx(0.0)


def test_trailing_rebase_equals_naive(spark, sf_dir):
    """The single-scan rebased trailing returns must agree with the
    reference-literal 6-subquery formulation to float tolerance."""
    raw = orders_raw_series(spark, sf_dir)
    fast = trailing_returns(raw, DS).toPandas()
    slow = trailing_returns_naive(raw, DS).toPandas()
    key = ["period", "name", "date"]
    fast = fast.sort_values(key).reset_index(drop=True)
    slow = slow.sort_values(key).reset_index(drop=True)
    assert len(fast) == len(slow)
    a = fast["percent_change"].to_numpy(dtype=float)
    b = slow["percent_change"].to_numpy(dtype=float)
    both_nan = np.isnan(a) & np.isnan(b)
    # atol 1e-7: the rebase quantizes reward contributions at the common
    # base, the naive form at each slice start — they may differ by one
    # micro-unit * aave_price / principal per row (~5e-9 here)
    close = np.isclose(a, b, rtol=1e-6, atol=1e-7)
    assert bool(np.all(both_nan | close))


def test_interpolate_matches_pandas(spark):
    """P15: window interpolation == pandas interpolate(method='linear',
    limit_direction='forward') including leading/trailing NULL runs."""
    vals = [None, None, 1.0, None, None, 4.0, 5.0, None, 2.0, None, None]
    rows = [
        (str(dt.date(2022, 1, 1) + dt.timedelta(days=i)), "s", v)
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["date", "name", "x"])
    ).withColumn("date", F.col("date").cast("date"))
    got = (
        interpolate_linear(df, ["x"])
        .orderBy("date")
        .toPandas()["x"]
        .to_numpy(dtype=float)
    )
    want = (
        pd.Series(vals, dtype=float)
        .interpolate(method="linear", limit_direction="forward")
        .to_numpy()
    )
    assert np.allclose(got, want, equal_nan=True)


def _urgent_bench(raw):
    """The 1-URGENT series' capital GOTK: the risk tests' benchmark."""
    from defimap_data_pipelines_spark.operators.growth import capital_gotk

    return capital_gotk(
        raw.filter(
            (F.col("name") == "1-URGENT")
            & F.col("date").between("2000-08-01", DS)
        )
    )


def _risk(spark, gotk, bench):
    """risk_metrics with no return_1y rows (the column comes out NULL)."""
    no_r1y = spark.createDataFrame([], "name string, return_1y double")
    return risk_metrics(gotk, bench, no_r1y, DS)


def test_max_drawdown_matches_pandas_reference(spark, sf_dir):
    """A6: native drawdown == the reference's literal pandas algorithm
    (aave_transform.py:384-403), including the relative-mm quirk."""
    raw = orders_raw_series(spark, sf_dir)
    g = growth_of_10k(raw, "2000-08-01", DS)
    got = {r.name: r for r in _risk(spark, g, _urgent_bench(raw)).collect()}
    pdf = g.toPandas()
    for name, grp in pdf.groupby("name"):
        df_gotk = grp.sort_values("date").tail(365).reset_index(drop=True)
        df_gotk["returns"] = (
            df_gotk["end_day_investment"] - df_gotk["start_day_investment"]
        )
        df_gotk["cumulative_returns"] = df_gotk["returns"].cumsum()
        df_gotk["running_max"] = df_gotk["cumulative_returns"].cummax()
        df_gotk["drawdown"] = (
            df_gotk["cumulative_returns"] - df_gotk["running_max"]
        )
        trough_date = df_gotk["date"][df_gotk["drawdown"].idxmin()]
        sub = df_gotk[df_gotk["date"] <= trough_date]
        peak_date = sub["date"][sub["cumulative_returns"].idxmax()]
        mdd = df_gotk["drawdown"].min()
        idx = int(df_gotk.index[df_gotk["date"] == peak_date].tolist()[0])
        mm = mdd / df_gotk["end_day_investment"][idx]
        r = got[name]
        assert r.valley_date == trough_date
        assert r.peak_date == peak_date
        assert r.max_drawdown == pytest.approx(mm, rel=1e-4)
        assert r.duration == (trough_date - peak_date).days


def test_risk_regression_matches_numpy(spark, sf_dir):
    """A4: closed-form OLS == np.polyfit + residual R²."""
    raw = orders_raw_series(spark, sf_dir)
    g = growth_of_10k(raw, "2000-08-01", DS)
    bench = _urgent_bench(raw)
    got = {r.name: r for r in _risk(spark, g, bench).collect()}
    gp = g.toPandas()
    bp = bench.toPandas().set_index("date")["percent_change"]
    for name, grp in gp.groupby("name"):
        grp = grp.sort_values("date").tail(365)
        joined = grp.join(bp.rename("x"), on="date", how="inner")
        x = joined["x"].to_numpy()
        y = joined["percent_change"].to_numpy()
        theta = np.polyfit(x, y, 1)
        pred = theta[1] + theta[0] * x
        r2 = 1 - np.sum((pred - y) ** 2) / np.sum((y - y.mean()) ** 2)
        assert got[name].beta == pytest.approx(theta[0], rel=1e-6)
        assert got[name].alpha == pytest.approx(theta[1], rel=1e-6, abs=1e-12)
        assert got[name].r_square == pytest.approx(r2, rel=1e-6)


def test_return_1y_ytd_fallback(spark):
    """A8 (aave_transform.py:428-443): when the compounded 1y return is
    exactly 0.0 the ytd value is used instead."""
    import pandas as pd
    from defimap_data_pipelines_spark.pipelines.transform import (
        return_1y_with_fallback,
    )

    rows = [
        # 1y arm: +10% then reversal to exactly 0 compounded
        ("2023-06-29", "1y", "s", 0.1),
        ("2023-06-30", "1y", "s", (1 / 1.1) - 1),
        # ytd arm: +5%
        ("2023-06-29", "ytd", "s", 0.05),
        ("2023-06-30", "ytd", "s", 0.0),
    ]
    t = spark.createDataFrame(
        pd.DataFrame(rows, columns=["date", "period", "name", "percent_change"])
    ).withColumn("date", F.col("date").cast("date"))
    out = return_1y_with_fallback(t, "2023-06-30").collect()
    assert len(out) == 1
    # 1y compounds to ~0 (float-rounded); fallback only fires on exact 0.0,
    # so force the exact-zero case separately:
    rows0 = [
        ("2023-06-30", "1y", "s", 0.0),
        ("2023-06-29", "ytd", "s", 0.05),
        ("2023-06-30", "ytd", "s", 0.0),
    ]
    t0 = spark.createDataFrame(
        pd.DataFrame(rows0, columns=["date", "period", "name", "percent_change"])
    ).withColumn("date", F.col("date").cast("date"))
    out0 = return_1y_with_fallback(t0, "2023-06-30").collect()[0]
    assert out0.return_1y == pytest.approx(0.05, rel=1e-9)


def risk_metrics_pandas_replica(gotk, benchmark):
    """Literal pandas replica of the reference risk math, run per
    strategy group via applyInPandas (SURVEY.md §2.8: the reference the
    native risk_metrics is validated against; mirrors
    aave_transform.py:349-464)."""
    import math
    import statistics

    from pyspark.sql import types as T

    day_period = 365
    out_schema = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("sd", T.DoubleType()),
            T.StructField("annual_return", T.DoubleType()),
            T.StructField("sharpe", T.DoubleType()),
            T.StructField("alpha", T.DoubleType()),
            T.StructField("beta", T.DoubleType()),
            T.StructField("r_square", T.DoubleType()),
            T.StructField("max_drawdown", T.DoubleType()),
            T.StructField("peak_date", T.DateType()),
            T.StructField("valley_date", T.DateType()),
            T.StructField("duration", T.LongType()),
        ]
    )
    bench_pdf = benchmark.select("date", "percent_change").toPandas()
    bench_pdf = bench_pdf.sort_values("date").reset_index(drop=True)

    def per_strategy(pdf: pd.DataFrame) -> pd.DataFrame:
        df_gotk = pdf.sort_values("date").reset_index(drop=True)
        name = df_gotk["name"].iloc[0]

        # find_sd (aave_transform.py:349-353)
        data = df_gotk["percent_change"].tail(day_period)
        sd = statistics.stdev(data) * math.sqrt(365)
        # find_average_t_return (:355-358)
        day_return = df_gotk["percent_change"].tail(day_period).mean()
        annual_return = ((day_return + 1) ** day_period) - 1
        sharpe = annual_return / sd

        # get_alpha_beta_r2 (:363-382) — positional tail alignment
        dp = day_period
        if len(bench_pdf.index) < dp or len(df_gotk.index) < dp:
            dp = min(len(bench_pdf.index), len(df_gotk.index))
        x = bench_pdf["percent_change"].tail(dp).reset_index(drop=True)
        y = df_gotk["percent_change"].tail(dp).reset_index(drop=True)
        theta = np.polyfit(x, y, 1)
        pred = theta[1] + theta[0] * x
        r_squared = 1 - (((pred - y) ** 2).sum() / ((y - y.mean()) ** 2).sum())

        # find_max_drawdown (:384-403)
        d = df_gotk.tail(day_period).reset_index(drop=True)
        d["returns"] = d["end_day_investment"] - d["start_day_investment"]
        d["cumulative_returns"] = d["returns"].cumsum()
        d["running_max"] = d["cumulative_returns"].cummax()
        d["drawdown"] = d["cumulative_returns"] - d["running_max"]
        trough_date = d["date"][d["drawdown"].idxmin()]
        sub = d[d["date"] <= trough_date]
        peak_date = sub["date"][sub["cumulative_returns"].idxmax()]
        mdd = d["drawdown"].min()
        idx = int(d.index[d["date"] == peak_date].tolist()[0])
        mm = mdd / d["end_day_investment"][idx]
        duration = (trough_date - peak_date).days

        return pd.DataFrame(
            [
                (
                    name, sd, annual_return, sharpe,
                    float(theta[1]), float(theta[0]), float(r_squared),
                    mm, peak_date, trough_date, duration,
                )
            ],
            columns=[f.name for f in out_schema.fields],
        )

    return gotk.groupBy("name").applyInPandas(per_strategy, out_schema)


def test_native_risk_equals_pandas_replica(spark, sf_dir):
    """The native risk_metrics must agree with the applyInPandas
    literal-reference replica (§2.8 dual-implementation).

    Note the replica aligns regression series POSITIONALLY (the
    reference's tail+reset_index); the native path joins by date. On
    this data the grids differ per name, so the regression is not
    compared here (test_risk_regression_matches_numpy covers it)."""
    raw = orders_raw_series(spark, sf_dir)
    g = growth_of_10k(raw, "2000-08-01", DS)
    bench = _urgent_bench(raw)
    replica = {r.name: r for r in risk_metrics_pandas_replica(g, bench).collect()}
    got = {r.name: r for r in _risk(spark, g, bench).collect()}
    for name, rep in replica.items():
        assert got[name].sd == pytest.approx(rep.sd, rel=1e-9)
        assert got[name].sharpe == pytest.approx(rep.sharpe, rel=1e-9)
        assert got[name].max_drawdown == pytest.approx(rep.max_drawdown, rel=1e-6)
        assert got[name].peak_date == rep.peak_date
        assert got[name].valley_date == rep.valley_date
        assert got[name].duration == rep.duration


def _hand_gotk(name, edis, start=dt.date(2023, 1, 1)):
    """GOTK rows for one name from its end-day investments: the start
    day is the previous end day (10000 on day one)."""
    rows, sdi = [], 10000.0
    for i, edi in enumerate(edis):
        rows.append((start + dt.timedelta(days=i), name, sdi, edi, edi / sdi - 1))
        sdi = edi
    return rows


def test_risk_drawdown_and_regression_edge_cases(spark):
    """Hand-built series pin the drawdown tie-breaks and the regression
    join: a curve that only rises has no drawdown (peak = valley = first
    day); of two equal troughs the earliest is the valley; of two equal
    peaks before the trough the earliest is the peak; a name with no
    date in common with the benchmark has no row. Everything else
    matches the pandas replica, whose positional regression equals the
    date join here because each series covers the benchmark's days."""
    cols = [
        "date", "name", "start_day_investment", "end_day_investment",
        "percent_change",
    ]
    day0 = dt.date(2023, 1, 1)
    series = {
        "rise": [10010.0, 10030.0, 10035.0, 10070.0, 10071.0, 10100.0],
        "two_troughs": [10010.0, 10100.0, 10050.0, 10080.0, 10050.0, 10060.0],
        "two_peaks": [10010.0, 10100.0, 10050.0, 10100.0, 10020.0, 10030.0],
    }
    rows = [r for name, edis in series.items() for r in _hand_gotk(name, edis)]
    lonely = _hand_gotk("lonely", [10010.0, 9990.0, 10020.0], day0 + dt.timedelta(days=100))
    bench_rows = _hand_gotk("bench", [10020.0, 9990.0, 10050.0, 10040.0, 10090.0, 10060.0])
    gotk = spark.createDataFrame(pd.DataFrame(rows + lonely, columns=cols))
    bench = spark.createDataFrame(pd.DataFrame(bench_rows, columns=cols))

    got = {r.name: r for r in _risk(spark, gotk, bench).collect()}
    assert set(got) == set(series)
    day = [day0 + dt.timedelta(days=i) for i in range(6)]
    assert got["rise"].max_drawdown == 0.0
    assert (got["rise"].peak_date, got["rise"].valley_date) == (day[0], day[0])
    assert got["rise"].duration == 0
    assert (got["two_troughs"].peak_date, got["two_troughs"].valley_date) == (day[1], day[2])
    assert (got["two_peaks"].peak_date, got["two_peaks"].valley_date) == (day[1], day[4])

    replica = risk_metrics_pandas_replica(
        gotk.filter(F.col("name") != "lonely"), bench
    ).collect()
    for rep in replica:
        r = got[rep.name]
        for col in ("sd", "sharpe", "alpha", "beta", "r_square", "max_drawdown"):
            assert getattr(r, col) == pytest.approx(getattr(rep, col), rel=1e-9, abs=1e-12), col
        assert (r.peak_date, r.valley_date, r.duration) == (
            rep.peak_date, rep.valley_date, rep.duration,
        )


def test_udtf_sentences_match_jvm_split(spark, sf_dir):
    """The sentences UDTF (Python table function) produces exactly the
    rows of the JVM posexplode-of-filtered-split formulation."""
    from defimap_data_pipelines_spark.operators.textops import explode_sentences
    from defimap_data_pipelines_spark.sources.parquet import read_table
    from pyspark.sql import functions as F

    docs = read_table(spark, sf_dir, "documents").limit(50)
    got = sorted(
        (r.doc_id, r.idx, r.sentence) for r in explode_sentences(docs).collect()
    )
    segs = F.filter(
        F.transform(F.split("text", r"\."), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    jvm = docs.select(
        "doc_id", F.posexplode(segs).alias("idx", "sentence")
    )
    want = sorted((r.doc_id, r.idx, r.sentence) for r in jvm.collect())
    assert got == want and len(got) > 0


def test_degenerate_inputs(spark):
    """Operators behave on empty frames, all-NULL columns, single-row
    partitions, and sub-n-token documents."""
    import pandas as pd
    from defimap_data_pipelines_spark.operators.dedup import (
        dense_jaccard_pairs,
        doc_shingles,
        exact_dedup,
        hashed_shingles,
        ngram_jaccard_pairs,
    )
    from defimap_data_pipelines_spark.operators.textops import text_stats

    def both_paths(docs, threshold):
        hs = hashed_shingles(doc_shingles(docs))
        return (
            ngram_jaccard_pairs(docs, threshold=threshold),
            dense_jaccard_pairs(hs, threshold),
        )

    # empty documents frame -> empty outputs, schemas intact
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert exact_dedup(empty).count() == 0
    assert text_stats(empty).count() == 0
    for pairs in both_paths(empty, 0.5):
        assert pairs.count() == 0

    # documents shorter than the shingle width still produce one shingle
    tiny = spark.createDataFrame(
        [(1, "one two"), (2, "one two"), (3, "unrelated text here")],
        "doc_id bigint, text string",
    )
    for pairs in both_paths(tiny, 0.5):
        got = [(r.doc_a, r.doc_b, r.jaccard) for r in pairs.collect()]
        assert got == [(1, 2, 1.0)]

    # all-NULL interpolation column stays NULL; single-row partition keeps
    # its value
    df = spark.createDataFrame(
        pd.DataFrame(
            [("2022-01-01", "a", None), ("2022-01-02", "a", None),
             ("2022-01-01", "b", 7.0)],
            columns=["date", "name", "x"],
        )
    ).withColumn("date", F.col("date").cast("date"))
    out = {(r.name, str(r.date)): r.x for r in interpolate_linear(df, ["x"]).collect()}
    assert out[("a", "2022-01-01")] is None
    assert out[("a", "2022-01-02")] is None
    assert out[("b", "2022-01-01")] == 7.0


# ---- deterministic sampling / splitting ---------------------------------


def test_split_is_total_and_append_stable(spark, sf_dir):
    from defimap_data_pipelines_spark.operators.sampling import (
        deterministic_sample,
        train_val_test_split,
    )
    from defimap_data_pipelines_spark.sources.parquet import read_table

    docs = read_table(spark, sf_dir, "documents")
    n = docs.count()

    split = train_val_test_split(docs, "doc_id")
    by = {r["split"]: r["n"] for r in
          split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    # every row gets exactly one label; shares near the 80/10/10 weights
    assert sum(by.values()) == n
    assert set(by) == {"train", "val", "test"}
    assert abs(by["train"] / n - 0.8) < 0.05

    # membership is a pure function of the row: sampling half the corpus
    # then the whole corpus yields a strict subset, row-for-row.
    half = docs.filter(F.col("doc_id") % 2 == 0)
    s_half = {r["doc_id"] for r in
              deterministic_sample(half, "doc_id", 0.1).select("doc_id").collect()}
    s_full = {r["doc_id"] for r in
              deterministic_sample(docs, "doc_id", 0.1).select("doc_id").collect()}
    assert s_half <= s_full
    assert s_half == {d for d in s_full if d % 2 == 0}


def test_split_weights_validated(spark):
    from defimap_data_pipelines_spark.operators.sampling import split_column

    with pytest.raises(ValueError):
        split_column(F.lit(1), {"train": 0.5, "val": 0.1})


def test_global_cumsum_layout_independent(spark):
    """The two-pass prefix sum gives the exact global-window answer for
    any partition count, including negative values and n=1."""
    import pandas as pd

    from defimap_data_pipelines_spark.operators.packing import global_cumsum

    pdf = pd.DataFrame(
        {"k": range(100), "v": [((-1) ** i) * (i % 7) for i in range(100)]}
    )
    df = spark.createDataFrame(pdf)
    expect = pdf.sort_values("k")["v"].cumsum().tolist()
    for n in (1, 3, 32):
        got = (
            global_cumsum(df, "k", "v", num_partitions=n)
            .orderBy("k")
            .select("cum")
            .toPandas()["cum"]
            .tolist()
        )
        assert got == expect, f"partitions={n}"


def test_interval_join_binned_matches_naive(spark):
    """Binned range join == literal theta join on synthetic intervals,
    across bin sizes (boundary inclusivity + multi-bucket fan-out)."""
    import pandas as pd

    from defimap_data_pipelines_spark.operators.rangejoin import (
        interval_join_binned,
    )

    left = spark.createDataFrame(
        pd.DataFrame({"lid": range(40), "lts": [i * 37 for i in range(40)]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"rid": range(60), "rts": [i * 23 for i in range(60)]})
    )
    naive = left.join(
        right,
        F.col("rts").between(F.col("lts") - 50, F.col("lts") + 100),
    )
    expect = sorted(
        (r.lid, r.rid) for r in naive.select("lid", "rid").collect()
    )
    assert len(expect) > 0
    for b in (None, 1, 7, 1000):
        got = sorted(
            (r.lid, r.rid)
            for r in interval_join_binned(
                left, right, "lts", "rts", -50, 100, bin_size=b
            ).select("lid", "rid").collect()
        )
        assert got == expect, f"bin_size={b}"


def test_literal_vector_helpers_bit_identical(spark):
    """The flat-chain helpers (kept as the measured trade-off record —
    see functions/vector.py) must stay BIT-identical to the fold forms
    they document, and the SQL double-literal formatter must round-trip
    every repr shape exactly."""
    from pyspark.sql import functions as F

    from defimap_data_pipelines_spark.functions.vector import (
        dot,
        dot_literal,
        sq_dist_literal,
        sql_double_literal,
    )
    from defimap_data_pipelines_spark.operators.clustering import _sq_dist

    vals = [0.1 * i - 1.7 for i in range(16)] + [1e-5, -3.25e17, 0.0]
    arr = F.array(*[F.lit(float(x)) for x in vals])
    df = spark.range(5).select(
        F.transform(
            F.sequence(F.lit(1), F.lit(len(vals))),
            lambda i: i.cast("double") * 0.37 + F.col("id").cast("double"),
        ).alias("v")
    )
    rows = df.select(
        dot(F.col("v"), arr).alias("fold_dot"),
        dot_literal(F.col("v"), vals).alias("flat_dot"),
        _sq_dist(F.col("v"), arr).alias("fold_sq"),
        sq_dist_literal(F.col("v"), vals).alias("flat_sq"),
    ).collect()
    for r in rows:
        assert r.fold_dot == r.flat_dot  # bitwise, not approx
        assert r.fold_sq == r.flat_sq
    lit_rows = spark.range(1).select(
        *[
            (F.expr(sql_double_literal(x)) == F.lit(float(x))).alias(f"e{i}")
            for i, x in enumerate(vals)
        ]
    ).collect()[0]
    assert all(lit_rows)
