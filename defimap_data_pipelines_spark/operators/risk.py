"""Risk metrics (aave_transform.py:348-521), computed natively with
Spark aggregates/windows instead of driver-side pandas/numpy.

``risk_metrics`` builds the pre_risk row per strategy (``name``) in one
pass over its last 365 GOTK rows (get_gotk_query(ds-365, ds) —
aave_transform.py:446): one tail, one running window, one aggregate.

- sd: sample stdev of daily percent_change * sqrt(365)
  (statistics.stdev == stddev_samp; aave_transform.py:349-353)
- sharpe: annual_return / sd with annual_return = (mean_daily + 1)**365
  - 1 (aave_transform.py:355-361; nominal exponent even on fewer rows)
- alpha/beta/r_square: OLS y~x vs the benchmark series (np.polyfit(x, y,
  1) + manual residual R², aave_transform.py:363-382), in closed form
  from six moment sums; R² uses the reference's residual formula (not
  corr²) so degenerate inputs behave identically. The reference aligns
  the series positionally after tail(n) (SURVEY.md J2); both are daily
  grids, so the benchmark tail is left-joined on date instead. The sums
  skip rows whose date the benchmark lacks (``x`` NULL): such a day has
  no pair to regress, as under an inner join, while sd, sharpe and the
  drawdown still see it. A strategy sharing no date with the benchmark
  has no regression and so no row.
- max_drawdown: relative drawdown mm (the reference's naming quirk —
  the dollar drawdown is computed then DISCARDED by the caller,
  aave_transform.py:403,458-464), peak/valley dates, duration in days.
  Daily dollar returns are quantized to integer micro-units, so the
  running sum ``cum`` compares exactly. The running peak is
  ``max(struct(cum, -unix_date(date), date, edi))``: the highest cum so
  far, the earliest date among equal highs (its negated day number is
  the largest), and that day's end_day_investment. The aggregate's
  ``min(struct(cum - peak.cum, date, peak))`` is the deepest drawdown,
  the earliest date among equal depths, and the peak that day saw. Both
  tie-breaks are pandas' idxmin/idxmax first occurrence.

The window and the aggregate partition by ``name``: strategies
parallelize, window state stays small (SURVEY.md §2.5 scale note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from defimap_data_pipelines_spark.config import QUANT_SCALE


def _tail(df: DataFrame, n: int) -> DataFrame:
    """pandas .tail(n) per name: last n rows by date."""
    w = Window.partitionBy("name").orderBy(F.col("date").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def risk_metrics(
    gotk: DataFrame, benchmark: DataFrame, return_1y: DataFrame, ds: str
) -> DataFrame:
    """Assemble the pre_risk row per strategy (aave_transform.py:466-479).

    ``benchmark`` is one GOTK series (capital_gotk or price_gotk output).
    ``return_1y`` is a (name, return_1y) frame from the compounded-return
    query with its ytd fallback (see pipelines.transform).
    """
    x = _tail(benchmark, 365).select("date", F.col("percent_change").alias("x"))
    wcum = (
        Window.partitionBy("name")
        .orderBy("date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ret = F.col("end_day_investment") - F.col("start_day_investment")
    rq = F.round(ret * float(QUANT_SCALE)).cast("long")
    peak = F.struct(
        "cum", (-F.unix_date("date")).alias("neg_day"), "date", "end_day_investment"
    )
    t = (
        _tail(gotk, 365)
        .join(F.broadcast(x), "date", "left")
        .withColumn("cum", F.sum(rq).over(wcum))
        .withColumn("pk", F.max(peak).over(wcum))
    )
    y = F.when(F.col("x").isNotNull(), F.col("percent_change"))
    valley = F.struct((F.col("cum") - F.col("pk.cum")).alias("dd"), "date", "pk")
    m = (
        t.groupBy("name")
        .agg(
            F.stddev_samp("percent_change").alias("sd0"),
            F.avg("percent_change").alias("mean"),
            F.count("x").alias("n"),
            F.sum("x").alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(F.col("x") * y).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(y * y).alias("syy"),
            F.min(valley).alias("v"),
        )
        .filter(F.col("n") > 0)
    )
    sd = F.col("sd0") * F.sqrt(F.lit(365.0))
    annual_return = F.pow(F.col("mean") + 1, F.lit(365.0)) - 1
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    alpha = (F.col("sy") - beta * F.col("sx")) / F.col("n")
    # SSres = sum((y - (alpha + beta x))^2), expanded to moment sums
    ss_res = (
        F.col("syy")
        + F.col("n") * alpha * alpha
        + beta * beta * F.col("sxx")
        - 2 * alpha * F.col("sy")
        - 2 * beta * F.col("sxy")
        + 2 * alpha * beta * F.col("sx")
    )
    ss_tot = F.col("syy") - F.col("n") * (F.col("sy") / F.col("n")) * (
        F.col("sy") / F.col("n")
    )
    mdd = (F.col("v.dd") / float(QUANT_SCALE)) / F.col("v.pk.end_day_investment")
    return m.join(return_1y, "name", "left").select(
        F.lit(ds).cast("date").alias("date"),
        "name",
        sd.alias("sd"),
        "return_1y",
        (annual_return / sd).alias("sharpe"),
        alpha.alias("alpha"),
        beta.alias("beta"),
        (1 - ss_res / ss_tot).alias("r_square"),
        mdd.alias("max_drawdown"),
        F.col("v.pk.date").alias("peak_date"),
        F.col("v.date").alias("valley_date"),
        F.datediff("v.date", "v.pk.date").cast("long").alias("duration"),
    )


# --------------------------------------------------------------------------
# Downside-risk companions to risk_metrics: Sortino/Calmar, VaR/CVaR,
# rolling beta. Same gotk substrate (date, name, end_day_investment,
# percent_change), same determinism discipline: returns quantize to
# nano-units (1e9) once, every accumulation is int64, and floats
# appear only in each metric's final expression.
# --------------------------------------------------------------------------

RQ9 = 1_000_000_000
RQ6 = 1_000_000


def _rq9(col) -> "F.Column":
    return F.round(col * RQ9).cast("long")


def _rq6(col) -> "F.Column":
    # micro-quantization for SQUARED accumulations: a 1000% day is
    # rq9 = 1e10, whose square blows int64; at 1e6 the square is 1e14
    # and a year of them still fits with 100x headroom.
    return F.round(col * RQ6).cast("long")


def sortino_calmar(gotk: DataFrame, day_period: int = 365) -> DataFrame:
    """Sortino and Calmar ratios per name over the trailing
    ``day_period`` days: the two "penalize only what hurts"
    refinements of Sharpe (operators/risk.py::risk_metrics). Sortino
    divides the annualized return by DOWNSIDE deviation
    (sqrt(sum(min(r,0)^2)/(n-1)) * sqrt(365) — upside volatility is
    not risk); Calmar divides it by the max peak-to-trough drawdown
    of the investment curve. Returns (name, n_days, ann_return,
    downside_dev, sortino, max_dd, calmar); ratios are NULL when
    their denominator is exactly zero (no down days / monotone-up
    curve) rather than inf.

    Linear sums ride nano-quantized int64; SQUARED downside terms
    use micro-quantization (a -90% day at nano scale squares to
    8.1e17 — a year of those overflows int64; at 1e6 they are 1e12); the drawdown is
    max over days of round9(1 - edi/cummax(edi)) — rounded BEFORE
    the max so both engines compare identical integers.
    """
    gt = _tail(gotk, day_period).select(
        "date",
        "name",
        "end_day_investment",
        _rq9(F.col("percent_change")).alias("rq"),
        _rq6(F.col("percent_change")).alias("rq6"),
    )
    wcum = (
        Window.partitionBy("name")
        .orderBy("date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = gt.withColumn(
        "ddq",
        F.round(
            (
                1
                - F.col("end_day_investment")
                / F.max("end_day_investment").over(wcum)
            )
            * RQ9
        ).cast("long"),
    )
    agg = dd.groupBy("name").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("rq").alias("_sr"),
        F.sum(
            F.when(F.col("rq6") < 0, F.col("rq6") * F.col("rq6")).otherwise(
                F.lit(0)
            )
        ).alias("_ssqn"),
        F.max("ddq").alias("_mddq"),
    )
    ann = (
        F.pow(
            F.col("_sr").cast("double") / RQ9 / F.col("n_days") + 1,
            F.lit(float(day_period)),
        )
        - 1
    )
    ddev = F.sqrt(
        F.col("_ssqn").cast("double")
        / (RQ6 * float(RQ6))
        / (F.col("n_days") - 1)
    ) * F.sqrt(F.lit(365.0))
    mdd = F.col("_mddq").cast("double") / RQ9
    return agg.select(
        "name",
        "n_days",
        F.round(ann, 9).alias("ann_return"),
        F.round(ddev, 9).alias("downside_dev"),
        F.round(
            ann / F.when(F.col("_ssqn") > 0, ddev), 9
        ).alias("sortino"),
        F.round(mdd, 9).alias("max_dd"),
        F.round(ann / F.when(F.col("_mddq") > 0, mdd), 9).alias("calmar"),
    )


def omega_ratio(
    gotk: DataFrame, day_period: int = 365, threshold: float = 0.0
) -> DataFrame:
    """Omega ratio per name over the trailing ``day_period`` days:
    Omega(theta) = sum(max(r - theta, 0)) / sum(max(theta - r, 0))
    — the probability-weighted gains-over-losses ratio around a
    daily threshold (Keating & Shadwick 2002), the distribution-free
    sibling of sortino_calmar (no variance assumption; every moment
    of the return distribution participates). Returns (name, n_days,
    gain_sum, loss_sum, omega); omega is NULL (not inf) when there
    are no sub-threshold days.

    Exactness: returns ride nano-quantized int64 (_rq9) and the
    threshold enters as the SAME int literal in both engines, so the
    gain/loss sums are exact integer accumulations (order-free);
    the one float division happens per name on the O(names)
    aggregate. Headroom: |rq| <= ~1e10 for daily moves, so a 10-year
    series sums to ~4e13 — int64-safe by five orders.
    """
    tq = round(threshold * RQ9)
    gt = _tail(gotk, day_period).select(
        "name", _rq9(F.col("percent_change")).alias("rq")
    )
    agg = gt.groupBy("name").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.greatest(F.col("rq") - tq, F.lit(0).cast("long"))).alias(
            "_g"
        ),
        F.sum(F.greatest(F.lit(tq).cast("long") - F.col("rq"), F.lit(0))).alias(
            "_l"
        ),
    )
    return agg.select(
        "name",
        "n_days",
        F.round(F.col("_g").cast("double") / RQ9, 9).alias("gain_sum"),
        F.round(F.col("_l").cast("double") / RQ9, 9).alias("loss_sum"),
        F.round(
            F.col("_g").cast("double")
            / F.when(F.col("_l") > 0, F.col("_l")),
            9,
        ).alias("omega"),
    )


def var_cvar(
    gotk: DataFrame, day_period: int = 365, tail_pct: int = 5
) -> DataFrame:
    """Historical Value-at-Risk and Conditional VaR (expected
    shortfall) per name: the loss at the tail_pct-percentile worst
    day, and the mean loss over that whole tail. Returns (name,
    n_days, k_tail, var_pct, cvar_pct) — positive numbers = losses,
    the reporting convention.

    Pure order statistics: rank days by nano-quantized return
    ascending (date tie-break), take k = max(1, n*tail_pct div 100)
    worst; VaR is -r_(k), CVaR is -mean(r_(1..k)). Every decision —
    rank, k, membership — is integer, so the historical-simulation
    replay is bit-identical in any engine; only the two final
    de-scales are float.
    """
    gt = _tail(gotk, day_period).select(
        "date", "name", _rq9(F.col("percent_change")).alias("rq")
    )
    w = Window.partitionBy("name").orderBy("rq", "date")
    ranked = gt.select(
        "name", "rq", F.row_number().over(w).alias("_rn")
    )
    # k depends on n, which is only known post-agg: join ranks back
    # against the per-name count instead of a second window pass.
    counts = gt.groupBy("name").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    ).withColumn(
        "k_tail",
        F.greatest(F.lit(1).cast("long"), F.expr(f"(n_days * {tail_pct}) div 100")),
    )
    tailed = ranked.join(F.broadcast(counts), "name").filter(
        F.col("_rn") <= F.col("k_tail")
    )
    out = tailed.groupBy("name", "n_days", "k_tail").agg(
        F.sum(F.when(F.col("_rn") == F.col("k_tail"), F.col("rq"))).alias(
            "_rk"
        ),
        F.sum("rq").alias("_stail"),
    )
    return out.select(
        "name",
        "n_days",
        "k_tail",
        F.round(-F.col("_rk").cast("double") / RQ9, 9).alias("var_pct"),
        F.round(
            -F.col("_stail").cast("double") / (F.col("k_tail") * RQ9), 9
        ).alias("cvar_pct"),
    )


def rolling_beta(
    gotk: DataFrame,
    benchmark: DataFrame,
    window_days: int = 30,
) -> DataFrame:
    """Rolling ``window_days``-day OLS beta of each name's daily
    returns against the benchmark's, aligned by date: the
    time-varying version of risk_metrics' single beta — how a
    strategy's market sensitivity drifts. Returns (date, name,
    beta) for days with a full window only.

    cov/var from integer moment sums over the ROWS window (MICRO-
    quantized returns — a 1000% day squared at nano scale overflows
    int64; at 1e6 products are ~1e14, x30 ~ 3e15, safe); the one float
    op per row is the final ratio, NULL on zero benchmark variance
    (flat market) via a guarded denominator.
    """
    a = gotk.select(
        "date", "name", _rq6(F.col("percent_change")).alias("yq")
    )
    b = benchmark.select(
        "date", _rq6(F.col("percent_change")).alias("xq")
    )
    j = a.join(F.broadcast(b), "date")
    w = (
        Window.partitionBy("name")
        .orderBy("date")
        .rowsBetween(-(window_days - 1), Window.currentRow)
    )
    wn = Window.partitionBy("name").orderBy("date")
    m = j.select(
        "date",
        "name",
        F.row_number().over(wn).alias("_rn"),
        F.count(F.lit(1)).over(w).alias("_n"),
        F.sum("xq").over(w).alias("_sx"),
        F.sum("yq").over(w).alias("_sy"),
        F.sum(F.col("xq") * F.col("yq")).over(w).alias("_sxy"),
        F.sum(F.col("xq") * F.col("xq")).over(w).alias("_sxx"),
    ).filter(F.col("_rn") >= window_days)
    # headroom: bounded by construction — fixed 30-row window of
    # micro-quantized returns (n <= 30, |xq| ~ 1e6): n*sxx <= 9e14,
    # independent of data volume (never needs the factor-cast sweep)
    den = (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast(
        "double"
    )
    num = (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast(
        "double"
    )
    return m.select(
        "date",
        "name",
        F.round(num / F.when(den != 0, den), 9).alias("beta"),
    )


def information_ratio(
    gotk: DataFrame, benchmark: DataFrame, day_period: int = 365
) -> DataFrame:
    """Information ratio of each name vs the benchmark over the
    trailing ``day_period`` days: annualized mean active return
    (r_name - r_bench, date-aligned) over annualized tracking error
    (sample stdev of the active return x sqrt(365)). Returns (name,
    n_days, active_return_ann, tracking_error, info_ratio); IR is
    NULL when the tracking error is exactly zero (a perfect clone).

    The benchmark side is a calendar-sized frame -> broadcast; active
    returns ride nano-quantized int64 and the variance comes from the
    (sum, sum-of-squares) moment pair — micro-quantized like
    sortino_calmar's downside term so squares can't overflow.
    """
    a = _tail(gotk, day_period).select(
        "date",
        "name",
        _rq9(F.col("percent_change")).alias("aq9"),
        _rq6(F.col("percent_change")).alias("aq6"),
    )
    b = benchmark.select(
        "date",
        _rq9(F.col("percent_change")).alias("bq9"),
        _rq6(F.col("percent_change")).alias("bq6"),
    )
    j = a.join(F.broadcast(b), "date").select(
        "name",
        (F.col("aq9") - F.col("bq9")).alias("d9"),
        (F.col("aq6") - F.col("bq6")).alias("d6"),
    )
    agg = j.groupBy("name").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("d9").alias("_s9"),
        F.sum("d6").alias("_s6"),
        F.sum(F.col("d6") * F.col("d6")).alias("_ss6"),
    )
    n = F.col("n_days")
    mean_ann = F.col("_s9").cast("double") / RQ9 / n * 365.0
    # sample variance from integer moments: (n*ss - s^2) / (n*(n-1))
    # headroom: bounded by construction — 365-row calendar tail
    # (n <= 365, |d6| ~ 1e6): n*ss6 <= 1.4e17, not data-volume-scaled
    var6 = (n * F.col("_ss6") - F.col("_s6") * F.col("_s6")).cast(
        "double"
    ) / (n * (n - 1))
    te = F.sqrt(var6) / RQ6 * F.sqrt(F.lit(365.0))
    return agg.select(
        "name",
        "n_days",
        F.round(mean_ann, 9).alias("active_return_ann"),
        F.round(te, 9).alias("tracking_error"),
        F.round(
            mean_ann
            / F.when(n * F.col("_ss6") - F.col("_s6") * F.col("_s6") > 0, te),
            9,
        ).alias("info_ratio"),
    )


def underwater_spells(gotk: DataFrame) -> DataFrame:
    """Drawdown DURATIONS per name: a day is "underwater" when the
    investment curve sits strictly below its running peak; a spell is
    a maximal run of consecutive underwater days. Returns (name,
    n_spells, max_spell_days, total_underwater_days) — max drawdown
    (risk_metrics) says how DEEP, this says how LONG, and the two
    disagree about which strategy is worse often enough to report
    both.

    Gaps-and-islands entirely inside per-name windows: island id =
    row_number over all days minus row_number over underwater days —
    constant within a run, never a global window. "Strictly below
    the peak" compares the raw doubles both engines loaded from the
    same parquet, an exact predicate (no epsilon, no quantization
    needed).
    """
    wcum = (
        Window.partitionBy("name")
        .orderBy("date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("name").orderBy("date")
    flagged = gotk.select(
        "name",
        "date",
        (
            F.col("end_day_investment")
            < F.max("end_day_investment").over(wcum)
        ).alias("under"),
        F.row_number().over(wall).alias("_rn"),
    ).filter(F.col("under"))
    wunder = Window.partitionBy("name").orderBy("date")
    islands = flagged.select(
        "name",
        (F.col("_rn") - F.row_number().over(wunder)).alias("_isl"),
    )
    per_spell = islands.groupBy("name", "_isl").agg(
        F.count(F.lit(1)).cast("long").alias("_len")
    )
    return per_spell.groupBy("name").agg(
        F.count(F.lit(1)).cast("long").alias("n_spells"),
        F.max("_len").alias("max_spell_days"),
        F.sum("_len").alias("total_underwater_days"),
    )


def ulcer_martin(gotk: DataFrame, day_period: int = 365) -> DataFrame:
    """Ulcer index and Martin ratio per name over the trailing
    ``day_period`` days: UI = sqrt(mean(drawdown_pct^2)) — the RMS of
    the percent drawdown curve, so it penalizes drawdowns by BOTH
    depth and duration (max_dd sees only the deepest point,
    underwater_spells only the longest run; UI integrates the whole
    underwater area). Martin ratio (a.k.a. ulcer performance index)
    = annualized return (percent) / UI. Returns (name, n_days,
    ulcer_index, ann_return, martin); martin is NULL for a
    monotone-up curve (UI exactly 0).

    The per-day drawdown fraction is rounded to MICRO units before
    squaring (a 100% drawdown is 1e6; its square 1e12; a year of
    those is 4e14 — int64-safe where nano units would overflow, the
    sortino_calmar discipline), so the mean-of-squares accumulates
    order-independently and both engines sqrt the same integer
    ratio. Annualization matches sortino_calmar's compounding
    convention.
    """
    wcum = (
        Window.partitionBy("name")
        .orderBy("date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gt = _tail(gotk, day_period).select(
        "date",
        "name",
        "end_day_investment",
        _rq9(F.col("percent_change")).alias("rq"),
    )
    dd = gt.withColumn(
        "dd6",
        F.round(
            (
                1
                - F.col("end_day_investment")
                / F.max("end_day_investment").over(wcum)
            )
            * RQ6
        ).cast("long"),
    )
    agg = dd.groupBy("name").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("rq").alias("_sr"),
        F.sum(F.col("dd6") * F.col("dd6")).alias("_sdd2"),
    )
    ann = (
        F.pow(
            F.col("_sr").cast("double") / RQ9 / F.col("n_days") + 1,
            F.lit(float(day_period)),
        )
        - 1
    )
    ui = (
        F.sqrt(F.col("_sdd2").cast("double") / F.col("n_days"))
        / RQ6
        * 100.0
    )
    return agg.select(
        "name",
        "n_days",
        F.round(ui, 9).alias("ulcer_index"),
        F.round(ann, 9).alias("ann_return"),
        F.round(
            ann * 100.0 / F.when(F.col("_sdd2") > 0, ui), 9
        ).alias("martin"),
    )


def variance_ratio(
    gotk: DataFrame, q: int = 5, day_period: int = 365
) -> DataFrame:
    """Lo-MacKinlay-style variance ratio per name: the sample
    variance of overlapping ``q``-day returns over q times the
    1-day variance. A random walk gives VR ~= 1; VR < 1 flags mean
    reversion, VR > 1 momentum. Returns (name, n_days, q, var_1,
    var_q, vr); NULL vr when the 1-day variance is exactly zero.

    Uses simple (not log) returns so the q-day aggregate is a plain
    window SUM of micro-quantized int64 — every accumulation is
    exact integer arithmetic and the replay is engine-independent
    (ln() would drag both engines' libm into the oracle contract).
    Both variances come from integer (sum, sum-of-squares) moment
    pairs; squares of q-day sums cap at ~(q * 1e5)^2 ~= 2.5e11 per
    day — four orders of headroom under int64 for a year. The moment
    PRODUCTS (n * ss - s * s) take factor-level double casts — they
    scale with data volume and the int64 form loses headroom at large
    SF (the ratio_metric_delta discipline, mirrored in the oracle).
    """
    gt = _tail(gotk, day_period).select(
        "date", "name", _rq6(F.col("percent_change")).alias("r6")
    )
    wq = (
        Window.partitionBy("name")
        .orderBy("date")
        .rowsBetween(-(q - 1), Window.currentRow)
    )
    wall = Window.partitionBy("name").orderBy("date")
    stepped = gt.select(
        "name",
        "r6",
        F.sum("r6").over(wq).alias("s6"),
        F.row_number().over(wall).alias("_rn"),
    )
    one = stepped.groupBy("name").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("r6").alias("_s1"),
        F.sum(F.col("r6") * F.col("r6")).alias("_ss1"),
    )
    qd = (
        stepped.filter(F.col("_rn") >= q)
        .groupBy("name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_nq"),
            F.sum("s6").alias("_sq"),
            F.sum(F.col("s6") * F.col("s6")).alias("_ssq"),
        )
    )
    j = one.join(qd, "name")
    n1 = F.col("n_days")
    nq = F.col("_nq")
    # headroom: factor-level double casts before the moment products
    # (the ratio_metric_delta pattern) — these sums scale with data
    # volume like leadlag_xcorr's, so the int64 product form loses
    # its headroom at large SF; the oracle SQL casts identically.
    _n1d = n1.cast("double")
    _nqd = nq.cast("double")
    _s1 = F.col("_s1").cast("double")
    _sq = F.col("_sq").cast("double")
    num1 = _n1d * F.col("_ss1").cast("double") - _s1 * _s1
    numq = _nqd * F.col("_ssq").cast("double") - _sq * _sq
    var1 = num1 / (n1 * (n1 - 1)) / (RQ6 * float(RQ6))
    varq = numq / (nq * (nq - 1)) / (RQ6 * float(RQ6))
    return j.select(
        "name",
        "n_days",
        F.lit(q).cast("long").alias("q"),
        F.round(var1, 12).alias("var_1"),
        F.round(varq, 12).alias("var_q"),
        F.round(
            varq / F.when(num1 > 0, float(q) * var1),
            9,
        ).alias("vr"),
    )


def updown_capture(
    gotk: DataFrame, benchmark: DataFrame, day_period: int = 365
) -> DataFrame:
    """Up-capture and down-capture ratios of each name vs the
    benchmark over the trailing ``day_period`` days: on days the
    benchmark rose, what fraction of its mean gain did the strategy
    take (up_capture); on days it fell, what fraction of its mean
    loss (down_capture). The pair answers what a single beta can't —
    an asymmetric strategy shows up_capture > down_capture. Returns
    (name, n_up, n_down, up_capture, down_capture, capture_ratio =
    up/down); each ratio NULL when its benchmark-side sum is exactly
    zero.

    The conditioning day-count cancels — mean_s/mean_b over the same
    days is just sum_s/sum_b — so each capture is ONE divide of two
    exact nano-quantized int64 sums; no per-day float ever
    accumulates. Benchmark frame is calendar-sized -> broadcast.
    """
    a = _tail(gotk, day_period).select(
        "date", "name", _rq9(F.col("percent_change")).alias("aq")
    )
    b = benchmark.select(
        "date", _rq9(F.col("percent_change")).alias("bq")
    )
    j = a.join(F.broadcast(b), "date")
    agg = j.groupBy("name").agg(
        F.sum(F.when(F.col("bq") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_up"),
        F.sum(F.when(F.col("bq") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_down"),
        F.sum(F.when(F.col("bq") > 0, F.col("aq")).otherwise(F.lit(0)))
        .alias("_sa_up"),
        F.sum(F.when(F.col("bq") > 0, F.col("bq")).otherwise(F.lit(0)))
        .alias("_sb_up"),
        F.sum(F.when(F.col("bq") < 0, F.col("aq")).otherwise(F.lit(0)))
        .alias("_sa_dn"),
        F.sum(F.when(F.col("bq") < 0, F.col("bq")).otherwise(F.lit(0)))
        .alias("_sb_dn"),
    )
    uc = F.col("_sa_up").cast("double") / F.when(
        F.col("_sb_up") != 0, F.col("_sb_up")
    ).cast("double")
    dc = F.col("_sa_dn").cast("double") / F.when(
        F.col("_sb_dn") != 0, F.col("_sb_dn")
    ).cast("double")
    return agg.select(
        "name",
        "n_up",
        "n_down",
        F.round(uc, 9).alias("up_capture"),
        F.round(dc, 9).alias("down_capture"),
        F.round(uc / F.when(dc != 0, dc), 9).alias("capture_ratio"),
    )
