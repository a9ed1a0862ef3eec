"""Experimentation estimators: difference-in-differences and CUPED.

The measurement layer a production events pipeline feeds: after
sessionize / funnels / retention (plans/queries.py) tell you WHAT
happened, these two tell you what an intervention CAUSED. Both are
closed-form moment arithmetic, so they compile to one or two
map-side-combining aggregates — no iteration, no UDF, no driver math
beyond the final division.

Determinism discipline (the repo-wide parity contract,
plans/queries.py module docstring): metric values quantize to integer
cents once at the scan, every accumulation is int64, floats appear
only in each estimator's final expression. Int64 headroom: DiD sums
cap at rows x max_cents (~1e15 at 1e12 rows of $10 values); CUPED's
cross-moment SUMS cap at units x (per-unit cents)^2 — safe through
~1e9 units of ~$10k pre-period volume, swap the moment sums to
decimal(38,0) beyond that. PRODUCTS of those sums (psxx * pn etc.)
get no such bound — they are computed with each factor cast to
double first (measured psxx*pn = 2.56e17 at sf0.1, only 36x under
int64 max), the same discipline as ratio_metric_delta; the identical
factor-level casts appear in the DuckDB oracle so both engines run
the same IEEE arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def did_estimator(
    df: DataFrame,
    treat_expr,
    post_expr,
    value_col: str,
    quantum: int = 100,
) -> DataFrame:
    """Difference-in-differences over event rows: the treatment
    effect estimate ``(T_post - T_pre) - (C_post - C_pre)`` of cell
    MEANS, where ``treat_expr`` / ``post_expr`` are boolean Columns
    splitting rows into the four cells. Returns ONE row with the four
    cell counts, four cell means, and ``did``.

    One pass: eight conditional integer sums in a single aggregate
    (partial aggregation does all the work map-side; the shuffle
    carries exactly one 8-field row per partition). Any empty cell
    makes its mean — and therefore ``did`` — NULL rather than a
    division blow-up.
    """
    vq = F.round(F.col(value_col) * quantum).cast("long")
    t = F.when(treat_expr, 1).otherwise(0)
    p = F.when(post_expr, 1).otherwise(0)
    cells = df.select(
        vq.alias("vq"), t.alias("t"), p.alias("p")
    )

    def _cell(ti: int, pi: int, what):
        cond = (F.col("t") == ti) & (F.col("p") == pi)
        return F.sum(F.when(cond, what)).cast("long")

    agg = cells.agg(
        *[
            _cell(ti, pi, F.lit(1)).alias(f"n_{ti}{pi}")
            for ti in (0, 1)
            for pi in (0, 1)
        ],
        *[
            _cell(ti, pi, F.col("vq")).alias(f"s_{ti}{pi}")
            for ti in (0, 1)
            for pi in (0, 1)
        ],
    )
    q = float(quantum)

    def _mean(ti: int, pi: int):
        return F.col(f"s_{ti}{pi}").cast("double") / (
            F.col(f"n_{ti}{pi}") * q
        )

    did = (_mean(1, 1) - _mean(1, 0)) - (_mean(0, 1) - _mean(0, 0))
    return agg.select(
        F.coalesce("n_00", F.lit(0)).alias("n_ctrl_pre"),
        F.coalesce("n_01", F.lit(0)).alias("n_ctrl_post"),
        F.coalesce("n_10", F.lit(0)).alias("n_treat_pre"),
        F.coalesce("n_11", F.lit(0)).alias("n_treat_post"),
        F.round(_mean(0, 0), 9).alias("mean_ctrl_pre"),
        F.round(_mean(0, 1), 9).alias("mean_ctrl_post"),
        F.round(_mean(1, 0), 9).alias("mean_treat_pre"),
        F.round(_mean(1, 1), 9).alias("mean_treat_post"),
        F.round(did, 9).alias("did"),
    )


def cuped_adjustment(
    df: DataFrame,
    unit_col: str,
    treat_expr,
    post_expr,
    value_col: str,
    quantum: int = 100,
) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13, public): per
    unit, X = pre-period metric total and Y = post-period total;
    theta = cov(X,Y)/var(X) pooled over ALL units (the standard
    assignment-independent covariate fit); each variant reports its
    raw post mean and the adjusted mean
    ``mean(Y) - theta * (mean(X) - mean_all(X))``. Returns one row
    per variant: (variant, n_units, mean_x, mean_y, adj_mean_y,
    theta, rho2) where rho2 = corr(X,Y)^2 is the variance-reduction
    fraction CUPED buys.

    Two aggregates, both partial-friendly: rows -> per-unit (X, Y)
    integer cent pairs (a groupBy on the unit key — the only real
    shuffle, O(units) output); then moment sums per variant plus a
    pooled set via grouping-sets-free arithmetic (the pooled moments
    are the sum of the two variant rows, assembled with a window-free
    cross join of the 2-row frame onto its own 1-row total). Units
    with no pre rows carry X = 0 — a real zero covariate, not a NULL
    drop, matching the standard treatment.
    """
    vq = F.round(F.col(value_col) * quantum).cast("long")
    per_unit = (
        df.select(
            F.col(unit_col).alias("u"),
            F.when(treat_expr, 1).otherwise(0).alias("variant"),
            F.when(post_expr, vq).otherwise(F.lit(0)).alias("yq"),
            F.when(~post_expr, vq).otherwise(F.lit(0)).alias("xq"),
        )
        .groupBy("u", "variant")
        .agg(F.sum("xq").alias("x"), F.sum("yq").alias("y"))
    )
    per_variant = per_unit.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    pooled = per_variant.agg(
        F.sum("n").alias("pn"),
        F.sum("sx").alias("psx"),
        F.sum("sy").alias("psy"),
        F.sum("sxy").alias("psxy"),
        F.sum("sxx").alias("psxx"),
        F.sum("syy").alias("psyy"),
    )
    j = per_variant.crossJoin(F.broadcast(pooled))
    q = float(quantum)
    # headroom: each FACTOR is cast to double BEFORE the product
    # (the ratio_metric_delta pattern) — psxx * pn in int64 measured
    # 2.56e17 at sf0.1, only 36x below int64 max, so the raw-product
    # form wraps at ~40x scale while DuckDB promotes to HUGEINT.
    # Double products are IEEE-deterministic on both engines.
    _pn = F.col("pn").cast("double")
    _psx = F.col("psx").cast("double")
    _psy = F.col("psy").cast("double")
    cov = F.col("psxy").cast("double") * _pn - _psx * _psy
    varx = F.col("psxx").cast("double") * _pn - _psx * _psx
    vary = F.col("psyy").cast("double") * _pn - _psy * _psy
    theta = cov / F.when(varx > 0, varx)
    mean_x = F.col("sx").cast("double") / (F.col("n") * q)
    mean_y = F.col("sy").cast("double") / (F.col("n") * q)
    mean_all_x = F.col("psx").cast("double") / (F.col("pn") * q)
    return j.select(
        "variant",
        F.col("n").alias("n_units"),
        F.round(mean_x, 9).alias("mean_x"),
        F.round(mean_y, 9).alias("mean_y"),
        F.round(mean_y - theta * (mean_x - mean_all_x), 9).alias(
            "adj_mean_y"
        ),
        F.round(theta, 9).alias("theta"),
        F.round(
            (cov * cov) / F.when(varx * vary > 0, varx * vary), 9
        ).alias("rho2"),
    )


def ratio_metric_delta(
    df: DataFrame,
    unit_col: str,
    variant_col: str,
    num_q_col: str,
    den_col: str,
) -> DataFrame:
    """Per-variant ratio metric with a delta-method standard error —
    THE correct analysis for per-user ratio metrics (revenue per
    session, CTR): the naive row-level SE ignores that the
    randomization unit is the user, not the row. R = sum(x)/sum(y)
    over user-level aggregates; Var(R) ~= (s_x^2 - 2R*s_xy +
    R^2*s_y^2) / (n * ybar^2) with user-level (co)variances (the
    Deng et al. delta method). Returns (variant, n_units, ratio,
    se); se is NULL for n < 2 or a zero denominator.

    Two aggregations: rows -> per-unit integer sums (the one heavy
    shuffle, keyed by the randomization unit), units -> per-variant
    exact moments (sums, squares, cross-product — all int64; the
    only floats are the final R/SE expressions). Int64 headroom:
    sum(xq^2) per variant caps ~n * (per-unit cents)^2 — at 1e8
    users of 1e6-cent sums switch to decimal, documented. The
    n*sxx - sx*sx style products are computed in DOUBLE (cast each
    factor first): at scale n*sxx exceeds int64, where DuckDB
    silently promotes to HUGEINT while Spark wraps — casting before
    the product keeps both engines on the identical IEEE754 path
    (r6 ADVICE finding).
    """
    per_unit = (
        df.select(
            F.col(unit_col).alias("u"),
            F.col(variant_col).alias("variant"),
            F.col(num_q_col).cast("long").alias("_x"),
            F.col(den_col).cast("long").alias("_y"),
        )
        .groupBy("u", "variant")
        .agg(F.sum("_x").alias("x"), F.sum("_y").alias("y"))
    )
    m = per_unit.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum("x").alias("_sx"),
        F.sum("y").alias("_sy"),
        F.sum(F.col("x") * F.col("x")).alias("_sxx"),
        F.sum(F.col("y") * F.col("y")).alias("_syy"),
        F.sum(F.col("x") * F.col("y")).alias("_sxy"),
    )
    n = F.col("n_units")
    ratio = F.col("_sx").cast("double") / F.when(
        F.col("_sy") != 0, F.col("_sy")
    ).cast("double")
    nd = n.cast("double")
    sxd = F.col("_sx").cast("double")
    syd = F.col("_sy").cast("double")
    vx = (nd * F.col("_sxx").cast("double") - sxd * sxd) / (
        n * (n - 1)
    )
    vy = (nd * F.col("_syy").cast("double") - syd * syd) / (
        n * (n - 1)
    )
    vxy = (nd * F.col("_sxy").cast("double") - sxd * syd) / (
        n * (n - 1)
    )
    ybar = F.col("_sy").cast("double") / n
    var_r = (
        (vx - 2.0 * ratio * vxy + ratio * ratio * vy)
        / F.when(n > 1, n)
        / (ybar * ybar)
    )
    return m.select(
        "variant",
        "n_units",
        F.round(ratio, 9).alias("ratio"),
        F.round(F.sqrt(F.when(var_r >= 0, var_r)), 9).alias("se"),
    )


def norm_sf2_expr(az: str) -> str:
    """Two-sided normal p-value 2*(1 - Phi(|z|)) as a SQL expression
    string over an already-absolute z expression ``az`` — Abramowitz
    & Stegun 26.2.17 (|err| < 7.5e-8). Neither Spark SQL nor DuckDB
    ships erf, so the polynomial is written ONCE as text and parsed
    by both engines: identical IEEE tree, engine-exact parity. The
    0.3989... literal is 1/sqrt(2*pi) spelled inline so no engine
    constant-folds a different pi."""
    t = f"(1.0 / (1.0 + 0.2316419 * {az}))"
    poly = (
        f"({t} * (0.319381530 + {t} * (-0.356563782 + {t} * "
        f"(1.781477937 + {t} * (-1.821255978 + {t} * 1.330274429)))))"
    )
    return (
        f"(2.0 * exp(-({az}) * ({az}) / 2.0) * 0.3989422804014327 "
        f"* {poly})"
    )


# Shared engine/oracle expression text (parity rule): aliases
# (n_c, s_c, ssq_c, n_t, s_t, ssq_t) are fixed by bh_fdr's moments.
_BH_SE2 = (
    "((CAST(ssq_{0} AS DOUBLE) - CAST(s_{0} AS DOUBLE) * s_{0} / n_{0})"
    " / (n_{0} - 1) / n_{0})"
)
BH_VAR_GUARD_EXPR = f"({_BH_SE2.format('c')} + {_BH_SE2.format('t')} > 0)"
BH_Z_EXPR = (
    f"((CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c)"
    f" / sqrt({_BH_SE2.format('c')} + {_BH_SE2.format('t')}))"
)


def bh_fdr(
    df: DataFrame,
    cell_cols: list[str],
    variant_col: str,
    xq_col: str,
    control: str,
    treatment: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Benjamini-Hochberg FDR over one z-test per cell — the
    multiple-testing correction a metrics platform applies when it
    tests m metric/segment cells at once (at m = 35 cells and
    alpha = .05, ~2 false "wins" per experiment are EXPECTED without
    it). Input: one row per observation with integer-quantized
    outcome ``xq_col``. Per cell: Welch-style large-sample z between
    variants; p from the shared normal-tail polynomial
    (norm_sf2_expr); BH adjusted p = min over j >= rank(p) of
    p_j * m / j, capped at 1. Returns one row per cell
    (cells..., n_c, n_t, z, p, p_adj, rejected).

    Scale: the only data-sized pass is the per-cell integer moment
    aggregation (map-side combinable). Ranking and the suffix-min
    run on the O(cells) frame under single-partition windows —
    bounded by the metric/segment vocabulary, not data volume (the
    markov_attribution rule). Determinism: moments are exact int64;
    every float (z, p, q) is one shared expression tree; rank ties
    break on the cell key columns; the suffix min commutes. rejected
    compares ROUND(p_adj, 9) per the threshold convention.
    """
    cells = [F.col(c) for c in cell_cols]
    per = (
        df.select(
            *cells,
            F.col(variant_col).alias("_v"),
            F.col(xq_col).cast("long").alias("_x"),
        )
        .groupBy(*cell_cols)
        .agg(
            F.sum(F.when(F.col("_v") == control, 1).otherwise(0))
            .cast("long")
            .alias("n_c"),
            F.sum(
                F.when(F.col("_v") == control, F.col("_x")).otherwise(0)
            ).alias("s_c"),
            F.sum(
                F.when(
                    F.col("_v") == control, F.col("_x") * F.col("_x")
                ).otherwise(0)
            ).alias("ssq_c"),
            F.sum(F.when(F.col("_v") == treatment, 1).otherwise(0))
            .cast("long")
            .alias("n_t"),
            F.sum(
                F.when(F.col("_v") == treatment, F.col("_x")).otherwise(0)
            ).alias("s_t"),
            F.sum(
                F.when(
                    F.col("_v") == treatment, F.col("_x") * F.col("_x")
                ).otherwise(0)
            ).alias("ssq_t"),
        )
        .filter((F.col("n_c") >= 2) & (F.col("n_t") >= 2))
        # zero pooled variance -> no test (guards the double division:
        # Spark yields Inf, DuckDB NULL — an engine divergence)
        .filter(F.expr(BH_VAR_GUARD_EXPR))
    )
    scored = per.withColumn("_z", F.expr(BH_Z_EXPR)).withColumn(
        "_p", F.expr(norm_sf2_expr(f"abs({BH_Z_EXPR})"))
    )
    wall = Window.partitionBy()
    worder = Window.partitionBy().orderBy(
        F.col("_p"), *[F.col(c) for c in cell_cols]
    )
    ranked = scored.withColumn(
        "_m", F.count(F.lit(1)).over(wall)
    ).withColumn("_rn", F.row_number().over(worder))
    wsuffix = (
        Window.partitionBy()
        .orderBy(F.col("_rn").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    adj = ranked.withColumn(
        "_padj",
        F.least(
            F.lit(1.0),
            F.min(F.col("_p") * F.col("_m") / F.col("_rn")).over(wsuffix),
        ),
    )
    return adj.select(
        *cell_cols,
        "n_c",
        "n_t",
        F.round("_z", 9).alias("z"),
        F.round("_p", 9).alias("p"),
        F.round("_padj", 9).alias("p_adj"),
        (F.round("_padj", 9) <= F.lit(alpha)).alias("rejected"),
    )


def mcnemar_paired(
    df: DataFrame,
    unit_col: str,
    period_col,
    flag_col,
) -> DataFrame:
    """McNemar's test on paired binary outcomes — did the same
    units' conversion behavior CHANGE between two periods (the
    within-subject design an unpaired chi-square gets wrong: the
    concordant cells carry no information, only the discordant
    n10/n01 do). ``period_col``/``flag_col`` are boolean Columns.
    Returns one row (n11, n10, n01, n00, mcnemar_chi2) with the
    continuity-corrected statistic (|n10-n01|-1)^2 / (n10+n01),
    NULL when no unit is discordant.

    One groupBy over raw rows (unit-keyed, the randomization-unit
    shuffle every paired design needs anyway), then a single scalar
    aggregation — all counts exact int64, the statistic is the only
    float."""
    per = (
        df.select(
            F.col(unit_col).alias("_u"),
            F.when(period_col, 1).otherwise(0).alias("_per"),
            F.when(flag_col, 1).otherwise(0).alias("_f"),
        )
        .groupBy("_u")
        .agg(
            F.max(F.when(F.col("_per") == 0, F.col("_f")).otherwise(0))
            .alias("a"),
            F.max(F.when(F.col("_per") == 1, F.col("_f")).otherwise(0))
            .alias("b"),
        )
    )
    counts = per.agg(
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n11"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n10"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n01"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n00"),
    )
    return counts.select(
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(
            F.expr(
                "CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) AS DOUBLE)"
                " / CAST(CASE WHEN n10 + n01 > 0 THEN n10 + n01 END"
                " AS DOUBLE)"
            ),
            9,
        ).alias("mcnemar_chi2"),
    )


#: pooled two-proportion z statistic over the four int64 scalars
#: (n1, c1, n0, c0) — shared VERBATIM between the Spark operator and
#: the DuckDB oracle so both engines build the identical float tree
#: (the pearson_r_expr discipline). NULL when either arm is empty or
#: the pooled rate is degenerate (0 or 1 -> zero standard error).
TWO_PROP_Z_EXPR = (
    "(CASE WHEN n1 > 0 AND n0 > 0"
    " AND (c1 + c0) > 0 AND (c1 + c0) < (n1 + n0) THEN"
    " (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    "  - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
    " / SQRT((CAST(c1 + c0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))"
    "   * (1 - CAST(c1 + c0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))"
    "   * (1 / CAST(n1 AS DOUBLE) + 1 / CAST(n0 AS DOUBLE)))"
    " END)"
)


def two_proportion_ztest(
    df: DataFrame,
    unit_col: str,
    treat_expr,
    conv_expr,
) -> DataFrame:
    """Pooled two-proportion z-test of UNIT-level conversion between
    arms — the first readout of any A/B test: did treatment move the
    conversion rate, measured per experimental unit (a user converts
    if ANY of their rows satisfies ``conv_expr``; arm = the unit's
    max of ``treat_expr``, so a unit is treated if any row tags it).
    Returns ONE row (n1, c1, n0, c0, p1, p0, diff, z): arm sizes,
    conversions, rates, their difference, and
    z = diff / sqrt(p(1-p)(1/n1 + 1/n0)) with p the pooled rate.

    Two map-side-combining aggregates (rows -> units -> four int64
    scalars); every float appears once, in TWO_PROP_Z_EXPR, on the
    single output row. The unit rollup uses MAX, so duplicate event
    rows can never double-count a conversion — the estimator is
    idempotent in event volume, only unit counts matter.
    """
    units = df.groupBy(F.col(unit_col).alias("_u")).agg(
        F.max(F.when(treat_expr, 1).otherwise(0)).alias("_t"),
        F.max(F.when(conv_expr, 1).otherwise(0)).alias("_c"),
    )
    counts = units.agg(
        F.sum(F.when(F.col("_t") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when((F.col("_t") == 1) & (F.col("_c") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("_t") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when((F.col("_t") == 0) & (F.col("_c") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c0"),
    )
    return counts.select(
        "n1",
        "c1",
        "n0",
        "c0",
        F.round(
            F.col("c1").cast("double")
            / F.when(F.col("n1") > 0, F.col("n1")),
            9,
        ).alias("p1"),
        F.round(
            F.col("c0").cast("double")
            / F.when(F.col("n0") > 0, F.col("n0")),
            9,
        ).alias("p0"),
        F.round(
            F.col("c1").cast("double")
            / F.when(F.col("n1") > 0, F.col("n1"))
            - F.col("c0").cast("double")
            / F.when(F.col("n0") > 0, F.col("n0")),
            9,
        ).alias("diff"),
        F.round(F.expr(TWO_PROP_Z_EXPR), 9).alias("z"),
    )
