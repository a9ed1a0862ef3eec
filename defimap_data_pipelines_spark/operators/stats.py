"""Statistical-test operators: Welch's t and the chi-square
independence test, in engine-exact form.

The reference surface has no test-statistic operators (greenfield per
SURVEY.md §7); the formulas are the textbook ones (Welch 1947;
Pearson 1900). What this module adds over "just write the formula" is
the cross-engine determinism discipline:

- all COUNTS/SUMS are exact int64 (values quantized to integer cents
  before any aggregation) — order-insensitive in both engines;
- per-cell/per-group float math happens AFTER aggregation, on O(groups)
  rows, as identical expression trees of exact ints (IEEE ops on the
  same inputs are bit-identical across JVM and DuckDB);
- any SUM over float contributions is quantized to integer micro-units
  per term first, so the one remaining order-sensitive accumulation is
  again an integer sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def welch_t_pairs(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantum: int = 100,
) -> DataFrame:
    """Welch's unequal-variance t statistic for EVERY ordered pair of
    groups (a < b by name): t = (m_a - m_b) / sqrt(v_a/n_a + v_b/n_b),
    plus the Welch–Satterthwaite degrees of freedom.

    One scan: per-group (n, sum, sum of squares) as exact ints, then a
    broadcast self-join of the O(groups) stats frame builds the pairs
    — the raw table is never joined. Variance via the sum-of-squares
    identity v = (ssq - s^2/n) / (n-1) in double over exact ints.
    int64 headroom: ssq needs n * (quantum*max)^2 < 9.2e18 — cents on
    ~500-unit values hold to ~3e9 rows per group; quantize coarser
    beyond.
    """
    q = F.round(F.col(value_col) * quantum).cast("long")
    stats = (
        df.groupBy(F.col(group_col).alias("g"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(q).alias("s"),
            F.sum(q * q).alias("ssq"),
        )
        .filter(F.col("n") >= 2)
    )
    a = stats.select(
        F.col("g").alias("g_a"),
        F.col("n").alias("n_a"),
        F.col("s").alias("s_a"),
        F.col("ssq").alias("ssq_a"),
    )
    b = stats.select(
        F.col("g").alias("g_b"),
        F.col("n").alias("n_b"),
        F.col("s").alias("s_b"),
        F.col("ssq").alias("ssq_b"),
    )
    mean = lambda s, n: F.col(s).cast("double") / F.col(n)  # noqa: E731
    var = lambda s, ssq, n: (  # noqa: E731
        F.col(ssq).cast("double")
        - F.col(s).cast("double") * F.col(s) / F.col(n)
    ) / (F.col(n) - 1)
    out = (
        a.join(F.broadcast(b), F.col("g_a") < F.col("g_b"))
        .withColumn("_se2a", var("s_a", "ssq_a", "n_a") / F.col("n_a"))
        .withColumn("_se2b", var("s_b", "ssq_b", "n_b") / F.col("n_b"))
        .select(
            "g_a",
            "g_b",
            "n_a",
            "n_b",
            # t is scale-invariant: quantized units cancel between the
            # numerator and the sqrt'd denominator, so no de-scaling
            F.round(
                (mean("s_a", "n_a") - mean("s_b", "n_b"))
                / F.sqrt(F.col("_se2a") + F.col("_se2b")),
                9,
            ).alias("t"),
            F.round(
                (F.col("_se2a") + F.col("_se2b"))
                * (F.col("_se2a") + F.col("_se2b"))
                / (
                    F.col("_se2a") * F.col("_se2a") / (F.col("n_a") - 1)
                    + F.col("_se2b") * F.col("_se2b") / (F.col("n_b") - 1)
                ),
                6,
            ).alias("df"),
        )
    )
    return out


def chi2_independence(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Pearson chi-square statistic for independence of two
    categorical columns, one row out: (chi2, dof, n).

    Contingency counts in one groupBy; marginals by re-aggregating the
    O(cells) counts frame (never rescanning raw rows); expected counts
    E = R*C/N in double over exact ints. The cell contributions
    (O-E)^2/E are floats, so summing them directly would be
    order-sensitive — each is quantized to integer micro-units first
    and the total is an exact integer sum (the module's standing
    trick). chi2 is reported in those micro-units / 1e6.
    """
    # cells is O(categories^2) tiny but derives from a full scan;
    # four consumers (contrib, both marginals, total) would re-scan
    # the raw table four times without the cache (the bigram_lift
    # one-pass lesson).
    cells = df.groupBy(
        F.col(row_col).alias("r"), F.col(col_col).alias("c")
    ).agg(F.count(F.lit(1)).cast("long").alias("o")).cache()
    rows = cells.groupBy("r").agg(F.sum("o").alias("rt"))
    cols = cells.groupBy("c").agg(F.sum("o").alias("ct"))
    tot = cells.agg(F.sum("o").alias("n"))
    contrib = (
        cells.join(F.broadcast(rows), "r")
        .join(F.broadcast(cols), "c")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "_e",
            F.col("rt").cast("double") * F.col("ct") / F.col("n"),
        )
        .withColumn(
            "_chi_u",
            F.round(
                (F.col("o") - F.col("_e"))
                * (F.col("o") - F.col("_e"))
                / F.col("_e")
                * 1_000_000
            ).cast("long"),
        )
    )
    nr = rows.agg(F.count(F.lit(1)).cast("long").alias("nr"))
    nc = cols.agg(F.count(F.lit(1)).cast("long").alias("nc"))
    return (
        contrib.agg(F.sum("_chi_u").alias("_cu"), F.max("n").alias("n"))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            (F.col("_cu").cast("double") / 1_000_000).alias("chi2"),
            ((F.col("nr") - 1) * (F.col("nc") - 1))
            .cast("long")
            .alias("dof"),
            "n",
        )
    )


def gini_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    tie_col: str,
) -> DataFrame:
    """Gini concentration coefficient of ``value_col`` within each
    group — "is this source's token mass spread evenly or carried by
    a few giant documents?", the inequality metric curation reports
    track per slice. Uses the order-statistics identity

        G = (2 * sum(i * x_(i)) - (n + 1) * sum(x)) / (n * sum(x))

    with x sorted ascending and rank i from a window ordered by
    (value, tie_col). The rank-weighted sum is TIE-SAFE: permuting
    equal values among their positions leaves sum(i * x) unchanged
    (the tied block contributes x * sum(positions) either way), so
    any total order gives the same G — the tie column only pins the
    per-row rank for the oracle replay.

    Headroom (r8): the rank-weighted sum is ROWS-SQUARED-scaled
    (sum(i*x) ~ n^2 * mean(x) / 2 — int64 wraps near 1e8 docs of 1e3
    chars per group), so it accumulates in decimal(38,0) (oracle:
    HUGEINT) — still exact, order-independent integers — and the
    (n+1)*sx / n*sx products ride the same widened type; the per-row
    product i*x stays int64 (safe to ~9e12 rows of 1e3-char docs —
    document-count-bounded, not corpus-mass-bounded). One double
    division per group at the end.

    Shape: one window sort per group + one groupBy — the same cost as
    any per-group ranking; no self-joins, no O(n^2) pair sums.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(value_col, tie_col)
    ranked = df.select(
        group_col,
        F.col(value_col).cast("long").alias("_x"),
        F.row_number().over(w).cast("long").alias("_i"),
    )
    agg = ranked.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_x").alias("sx"),
        F.sum(
            (F.col("_i") * F.col("_x")).cast("decimal(38,0)")
        ).alias("six"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    sxd = F.col("sx").cast("decimal(38,0)")
    g = (2 * F.col("six") - (nd + 1) * sxd).cast("double") / (
        (nd * sxd).cast("double")
    )
    return agg.select(
        group_col, "n", "sx", F.round(g, 9).alias("gini")
    )


def hhi_by_group(
    df: DataFrame,
    group_col: str,
    member_col: str,
    value_q_col: str,
) -> DataFrame:
    """Herfindahl-Hirschman concentration index of ``value_q_col``
    (pre-quantized int64 mass) across members within each group:
    HHI = sum_i share_i^2 where share_i = member i's fraction of the
    group total — the market-concentration complement of
    gini_by_group (gini measures inequality of the distribution; HHI
    measures how close it is to single-member monopoly; 1/HHI is the
    "effective number of members"). Returns (group, n_members,
    total, hhi, hhi_norm); hhi_norm = (n*hhi - 1)/(n - 1) rescales
    to [0, 1] and is NULL for single-member groups.

    Exact form: HHI = sum(m_i^2) / (sum(m_i))^2 — both numerator and
    denominator are integer quantities. m_i (a member's total mass)
    is data-scaled with no row-local bound, so the squares and the
    squared total accumulate in decimal(38,0) (oracle: HUGEINT), the
    r8 rows/mass-squared discipline; the member frame is grouped
    (O(members), far below the event grain), so the per-row decimal
    multiply is off the data-sized path. Two aggregates (rows ->
    member totals -> group moments), both map-side-combining; one
    float division per group.
    """
    member = df.groupBy(
        F.col(group_col).alias("g"), F.col(member_col).alias("_m")
    ).agg(F.sum(F.col(value_q_col)).cast("long").alias("_mq"))
    agg = member.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("_mq").alias("total"),
        F.sum(
            F.col("_mq").cast("decimal(38,0)") * F.col("_mq")
        ).alias("_ssq"),
    )
    totd = F.col("total").cast("decimal(38,0)")
    # guard total == 0 explicitly (engines disagree on double 0/0)
    hhi = F.col("_ssq").cast("double") / F.when(
        F.col("total") != 0, (totd * totd).cast("double")
    )
    nd = F.col("n_members").cast("double")
    return agg.select(
        F.col("g").alias(group_col),
        "n_members",
        "total",
        F.round(hhi, 9).alias("hhi"),
        F.round(
            (nd * hhi - 1)
            / F.when(F.col("n_members") > 1, nd - 1),
            9,
        ).alias("hhi_norm"),
    )


def spearman_by_group(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation of ``x_col`` vs ``y_col`` within each
    group, EXACT until one final double expression.

    Ties get average ranks (the standard rho-b estimator). Average
    ranks are half-integers, so everything runs on DOUBLED ranks:
    r2 = 2*RANK() + (ties - 1), an integer both engines compute from
    the same (min-rank, tie-count) windows. Centering uses the closed
    form sum(r2) = n*(n+1) exactly (tie blocks preserve rank sums), so
    c = r2 - (n+1) gives sum(c) = 0 and

        rho = sum(cx*cy) / sqrt(sum(cx^2) * sum(cy^2))

    with all three sums exact int64 — order-insensitive in both
    engines — and one sqrt/division at the end. |c| <= n keeps the
    squared sums under int64 to ~2e6 rows PER GROUP; beyond that,
    pre-aggregate to a coarser grain first (a correlation over more
    points than that is insensitive to the aggregation anyway).

    Groups with zero variance in either variable (all-tied) are
    dropped — rho is undefined there, and emitting an engine-specific
    inf/NULL would break replay.

    Shape: two rank windows + one tie-count window per variable over
    the grouped sort, then a single groupBy — the same cost class as
    gini_by_group; no self-joins.
    """
    from pyspark.sql.window import Window

    n_w = Window.partitionBy(group_col)
    out = df.select(group_col, x_col, y_col)
    for col, tag in ((x_col, "x"), (y_col, "y")):
        rw = Window.partitionBy(group_col).orderBy(col)
        tw = Window.partitionBy(group_col, col)
        r2 = (
            2 * F.rank().over(rw)
            + F.count(F.lit(1)).over(tw)
            - 1
        ).cast("long")
        out = out.withColumn(f"_r{tag}", r2)
    out = out.withColumn(
        "_n", F.count(F.lit(1)).over(n_w).cast("long")
    )
    cx = F.col("_rx") - (F.col("_n") + 1)
    cy = F.col("_ry") - (F.col("_n") + 1)
    agg = (
        out.select(
            group_col,
            cx.alias("_cx"),
            cy.alias("_cy"),
        )
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("_cx") * F.col("_cy")).alias("sxy"),
            F.sum(F.col("_cx") * F.col("_cx")).alias("sxx"),
            F.sum(F.col("_cy") * F.col("_cy")).alias("syy"),
        )
        .filter((F.col("sxx") > 0) & (F.col("syy") > 0))
    )
    rho = F.col("sxy").cast("double") / F.sqrt(
        F.col("sxx").cast("double") * F.col("syy").cast("double")
    )
    return agg.select(group_col, "n", F.round(rho, 9).alias("rho"))


def mannwhitney_pairs(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantum: int = 100,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) for EVERY ordered pair of
    groups (a < b by name), tie-corrected, exact integers end to end.

    The textbook route ranks the combined sample per pair — G^2 sorts
    of raw rows. This runs ONE groupBy to value-block counts
    (g, vq, cnt) with vq = round(value * quantum), then joins the
    O(V*G) counts frame to the O(G^2) pair list and computes, per
    pair, the doubled rank-sum from block arithmetic:

        R2 = sum_blocks cnt_a * (2*cum_before + blk + 1)

    (every member of a tie block takes the block's average rank;
    doubling keeps the half-integer average ranks in int64). Then
    2U = R2 - n_a*(n_a + 1), and the normal approximation uses the
    tie-corrected variance

        var = n_a*n_b/12 * ((N+1) - T/(N*(N-1))),  T = sum(t^3 - t)

    computed in double from exact int64 sums (T from the same block
    counts). No continuity correction (documented; both engines would
    apply it identically anyway, but the raw z replays cleaner).

    Scale shape: raw rows are scanned once; the per-pair window runs
    over value blocks (V rows), partitioned by pair — at 100 TB the
    heavy lifting is the one groupBy; the pair expansion is
    O(G^2 * V) on an already-aggregated frame.
    """
    from pyspark.sql.window import Window

    vq = F.round(F.col(value_col) * quantum).cast("long")
    # NULL values dropped (sklearn convention) — a NULL forms its own
    # vq block and the engines place it differently under ASC (Spark
    # NULLS FIRST, DuckDB NULLS LAST), shifting every cumulative
    # offset; see evalmetrics._score_blocks / ROUND9_NOTES §15.
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("g"), vq.alias("vq"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .cache()  # feeds the pair list AND the tagged join below
    )
    groups = counts.select("g").distinct()
    pairs = (
        groups.select(F.col("g").alias("g_a"))
        .join(
            F.broadcast(groups.select(F.col("g").alias("g_b"))),
            F.col("g_a") < F.col("g_b"),
        )
    )
    tagged = counts.join(
        F.broadcast(pairs),
        (F.col("g") == F.col("g_a")) | (F.col("g") == F.col("g_b")),
    )
    blocks = tagged.groupBy("g_a", "g_b", "vq").agg(
        F.sum("cnt").alias("blk"),
        F.sum(
            F.when(F.col("g") == F.col("g_a"), F.col("cnt")).otherwise(
                F.lit(0)
            )
        ).alias("cnt_a"),
    )
    w = (
        Window.partitionBy("g_a", "g_b")
        .orderBy("vq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    stepped = blocks.withColumn(
        "_cumbef", F.coalesce(F.sum("blk").over(w), F.lit(0))
    )
    # headroom (r8): rank sums are ROWS-SQUARED-scaled (r2 ~ n^2) and
    # the tie term ROWS-CUBED per block (blk^3 wraps int64 at ~2e6
    # tied rows) — both accumulate in decimal(38,0) (oracle: HUGEINT),
    # still exact order-independent integers; u2 (itself ~n^2) emits
    # as double on both engines.
    _blkd = F.col("blk").cast("decimal(38,0)")
    agg = stepped.groupBy("g_a", "g_b").agg(
        F.sum("cnt_a").alias("n_a"),
        (F.sum("blk") - F.sum("cnt_a")).alias("n_b"),
        F.sum(
            F.col("cnt_a").cast("decimal(38,0)")
            * (2 * F.col("_cumbef") + F.col("blk") + 1)
        ).alias("r2"),
        F.sum(
            _blkd * F.col("blk") * F.col("blk") - F.col("blk")
        ).alias("t_ties"),
    )
    nad = F.col("n_a").cast("decimal(38,0)")
    u2 = (F.col("r2") - nad * (F.col("n_a") + 1)).cast("double")
    n = F.col("n_a") + F.col("n_b")
    var = (
        F.col("n_a").cast("double")
        * F.col("n_b")
        / 12.0
        * (
            (n + 1).cast("double")
            - F.col("t_ties").cast("double")
            / (n.cast("double") * (n - 1).cast("double"))
        )
    )
    z = (
        (u2 / 2.0)
        - F.col("n_a").cast("double") * F.col("n_b") / 2.0
    ) / F.sqrt(var)
    return (
        agg.filter(
            (F.col("n_a") > 0) & (F.col("n_b") > 0) & (var > 0)
        )
        .select(
            "g_a",
            "g_b",
            "n_a",
            "n_b",
            u2.alias("u2"),
            F.round(z, 9).alias("z"),
        )
    )


def kaplan_meier_curve(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    observed_col: str,
) -> DataFrame:
    """Kaplan-Meier survival estimator per group — the retention
    curve with right-censoring done properly (users still active at
    the observation cutoff inform the at-risk counts without being
    counted as churn).

    Input: one row per subject with integer ``duration_col`` and
    ``observed_col`` in {0, 1} (1 = the terminal event happened,
    0 = censored). Per (group, duration): tot subjects ending, dth
    observed deaths. At-risk via one descending window (at_risk(d) =
    subjects with duration >= d); survival through the standard
    product, replayed cross-engine in log space:

        S(t) = exp( sum_{d<=t} ln((at_risk - dth)/at_risk) )

    with each ln term quantized to integer NANO-units before the one
    order-sensitive cumulative sum (the bigram_perplexity trick —
    IEEE ln of identical double ratios differs by far less than the
    1e-9 grid, and the running total is an exact integer sum both
    engines window identically).

    Steps where at_risk == dth (everyone left dies at the maximum
    duration) would take ln(0), whose engine behavior differs
    (-inf vs NULL) — those steps and everything after are dropped;
    survival is exactly 0 beyond them and the caller knows it from
    the at_risk == dth tail row being absent.

    Shape: one groupBy to O(groups * distinct-durations), two windows
    on that bounded frame. Aggregate subjects first — never window
    the raw event table.
    """
    from pyspark.sql.window import Window

    per_dur = df.groupBy(
        F.col(group_col).alias("g"),
        F.col(duration_col).cast("long").alias("dur"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("tot"),
        F.sum(F.col(observed_col).cast("long")).alias("dth"),
    )
    w_risk = (
        Window.partitionBy("g")
        .orderBy(F.col("dur").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risky = per_dur.withColumn("at_risk", F.sum("tot").over(w_risk))
    steps = risky.filter(
        (F.col("dth") > 0) & (F.col("at_risk") > F.col("dth"))
    ).withColumn(
        "_ln_nano",
        F.round(
            F.log(
                (F.col("at_risk") - F.col("dth")).cast("double")
                / F.col("at_risk")
            )
            * 1_000_000_000
        ).cast("long"),
    )
    w_cum = (
        Window.partitionBy("g")
        .orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        steps.withColumn("_cum", F.sum("_ln_nano").over(w_cum))
        .select(
            F.col("g").alias(group_col),
            "dur",
            "at_risk",
            "dth",
            F.round(
                F.exp(F.col("_cum").cast("double") / 1_000_000_000), 9
            ).alias("survival"),
        )
    )


def rank_buckets(
    df: DataFrame,
    value_col: str,
    tie_col: str,
    k: int,
    out_col: str,
    partition_col: str | None = None,
) -> DataFrame:
    """Equal-frequency bucket id in [0, k) by explicit integer rank
    arithmetic: bucket = ((rank - 1) * k) div n with rank from a
    (value, tie) total order. NTILE's "first buckets get the extra
    row" convention is engine-defined folklore; this formula is two
    integer ops both engines compute identically, which is what lets
    quantile-bucket features (RFM segments, decile caps) survive an
    oracle replay. Adds ``out_col`` to all input columns.
    """
    from pyspark.sql.window import Window

    part = (
        [partition_col] if partition_col is not None else []
    )
    w = Window.partitionBy(*part).orderBy(value_col, tie_col)
    cnt = Window.partitionBy(*part).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rn = (F.row_number().over(w) - 1).cast("long") * k
    n = F.count(F.lit(1)).over(cnt).cast("long")
    return df.withColumn("_rk", rn).withColumn("_nn", n).withColumn(
        out_col, F.expr("_rk div _nn")
    ).drop("_rk", "_nn")


def _daily_pairs(
    daily: DataFrame,
) -> DataFrame:
    """All ordered pairs (i < j by day) of a per-(group, day) integer
    series ``(g, day, yq)`` — the substrate both Theil–Sen and
    Mann–Kendall consume. The quadratic blowup happens AFTER the
    per-day aggregation, on an O(groups * days) frame whose size is a
    property of the calendar, not the row count — at 100 TB the pair
    frame is the same few thousand rows it is at sf0.001, so the
    self-join is broadcastable by construction.
    """
    a = daily.select(
        F.col("g"),
        F.col("day").alias("day_i"),
        F.col("yq").alias("y_i"),
    )
    b = daily.select(
        F.col("g"),
        F.col("day").alias("day_j"),
        F.col("yq").alias("y_j"),
    )
    return a.join(
        F.broadcast(b), ["g"], "inner"
    ).filter(F.col("day_i") < F.col("day_j"))


def daily_series(
    df: DataFrame,
    group_col: str,
    date_col,
    value_col: str,
    epoch: str,
    quantum: int = 100,
) -> DataFrame:
    """Per-(group, day) exact-integer totals: ``(g, day, yq)`` with
    day = days since ``epoch`` and yq = sum of quantized values. The
    one full-data pass shared by the robust-trend operators; map-side
    combine does the heavy lifting, output is calendar-sized."""
    return (
        df.groupBy(
            F.col(group_col).alias("g"),
            F.datediff(F.col(date_col).cast("date"), F.lit(epoch).cast("date"))
            .cast("long")
            .alias("day"),
        )
        .agg(
            F.sum(F.round(F.col(value_col) * quantum).cast("long")).alias(
                "yq"
            )
        )
    )


def theilsen_by_group(
    daily: DataFrame,
) -> DataFrame:
    """Theil–Sen robust trend per group over an integer daily series
    ``(g, day, yq)``: the median of all pairwise slopes (y_j - y_i) /
    (day_j - day_i). Breakdown point ~29% — one bad day cannot move
    it, which is why it beats OLS (operators/risk.py) for drift
    monitoring on spiky metrics.

    Determinism: each slope is quantized to nano-units via
    floor(1e9 * dy / dx) — one multiply + one divide + one floor, an
    identical expression tree both engines evaluate bit-identically —
    and the median is extracted as the SUM of the two middle order
    statistics of those int64 slopes (doubled-median trick: odd n
    picks the middle twice), so the only unquantized float op is the
    final de-scale. Returns (g, n_days, n_pairs, slope).
    """
    from pyspark.sql.window import Window

    pairs = _daily_pairs(daily).select(
        "g",
        F.floor(
            (F.col("y_j") - F.col("y_i")).cast("double")
            * 1_000_000_000.0
            / (F.col("day_j") - F.col("day_i")).cast("double")
        )
        .cast("long")
        .alias("s_nano"),
    )
    w = Window.partitionBy("g").orderBy("s_nano")
    ranked = pairs.select(
        "g",
        "s_nano",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1))
        .over(
            Window.partitionBy("g").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("long")
        .alias("_n"),
    )
    lo = F.expr("(_n + 1) div 2")
    hi = F.expr("_n div 2 + 1")
    days = daily.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    med = ranked.groupBy("g").agg(
        F.max("_n").alias("n_pairs"),
        (
            F.sum(F.when(F.col("_rn") == lo, F.col("s_nano")).otherwise(0))
            + F.sum(F.when(F.col("_rn") == hi, F.col("s_nano")).otherwise(0))
        ).alias("_med2"),
    )
    return (
        days.join(med, "g")
        .select(
            "g",
            "n_days",
            "n_pairs",
            F.round(
                F.col("_med2").cast("double") / 2_000_000_000.0, 9
            ).alias("slope"),
        )
    )


def mann_kendall_trend(
    daily: DataFrame,
) -> DataFrame:
    """Mann–Kendall trend test per group over an integer daily series
    ``(g, day, yq)``: S = sum over pairs of sign(y_j - y_i), variance
    with the tie correction Var(S) = [n(n-1)(2n+5) - sum t(t-1)(2t+5)]
    / 18, and the continuity-corrected z. The standard
    is-this-metric-monotonically-drifting test paired with
    theilsen_by_group (the test says WHETHER, the slope says HOW
    FAST).

    Everything is exact int64 — S from sign() over integer diffs, the
    tie term from a groupBy on yq — until the single final z
    expression. 18 * Var fits headroom through ~200k-day series.
    Returns (g, n_days, s_stat, z).
    """
    s = _daily_pairs(daily).groupBy("g").agg(
        F.sum(
            F.signum((F.col("y_j") - F.col("y_i")).cast("double")).cast(
                "long"
            )
        ).alias("s_stat")
    )
    ties = (
        daily.groupBy("g", "yq")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("g")
        .agg(
            F.sum(F.col("t")).alias("n_days"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("_tie18"),
        )
    )
    var18 = (
        F.col("n_days")
        * (F.col("n_days") - 1)
        * (2 * F.col("n_days") + 5)
        - F.col("_tie18")
    ).cast("double") / 18.0
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1).cast("double") / F.sqrt(var18),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1).cast("double") / F.sqrt(var18),
        )
        .otherwise(F.lit(0.0))
    )
    return (
        ties.join(s, "g")
        .filter(var18 > 0)
        .select("g", "n_days", "s_stat", F.round(z, 9).alias("z"))
    )


def burstiness_by_group(
    df: DataFrame,
    seq_col: str,
    ts_col: str,
    group_col: str,
    tie_col: str,
) -> DataFrame:
    """Goh–Barabási burstiness B = (sigma - mu) / (sigma + mu) of
    inter-event gaps, grouped by the type of the event that OPENED
    each gap (mirrors kaplan_meier_curve's cohort convention). B -> -1
    for clockwork traffic, 0 for Poisson, +1 for extreme bursts — the
    one-number answer to "is this event stream organic or scripted".

    Gaps are exact integer seconds from one LAG pass partitioned by
    ``seq_col``; per-group (n, sum, sum-of-squares) are exact int64,
    and sigma (sample convention, n-1) and mu meet only in the final
    per-group expression. int64 headroom: sum(gap^2) needs
    n * max_gap^2 < 9.2e18 — month-long second-resolution gaps
    (~2.6e6 s) hold to ~1.3e6 gaps per group; re-quantize to minutes
    beyond. Returns (g, n_gaps, mean_gap_s, burstiness).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(seq_col).orderBy(ts_col, tie_col)
    gaps = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(ts_col).alias("_ts"),
            F.lead(F.col(ts_col)).over(w).alias("_nxt"),
        )
        # micros div 1e6: positive truncation, identical to DuckDB's
        # epoch_us // 1000000 (kaplan_meier's duration convention)
        .select(
            "g",
            F.expr(
                "(unix_micros(_nxt) - unix_micros(_ts)) div 1000000"
            ).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
    )
    agg = gaps.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("gap").alias("_s"),
        F.sum(F.col("gap") * F.col("gap")).alias("_ssq"),
    ).filter(F.col("n_gaps") >= 2)
    mu = F.col("_s").cast("double") / F.col("n_gaps")
    sigma = F.sqrt(
        (
            F.col("_ssq").cast("double")
            - F.col("_s").cast("double") * F.col("_s") / F.col("n_gaps")
        )
        / (F.col("n_gaps") - 1)
    )
    return agg.select(
        "g",
        "n_gaps",
        F.round(mu, 9).alias("mean_gap_s"),
        F.round((sigma - mu) / (sigma + mu), 9).alias("burstiness"),
    )


def mutual_information_2cat(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Mutual information (nats) between two categorical columns,
    plus both marginal entropies — the feature-redundancy /
    leakage-screening primitive (MI ~ min(H) means one column nearly
    determines the other; MI ~ 0 means independent, cf.
    chi2_independence which tests the same thing without effect size).

    One scan to the O(|X|*|Y|) contingency frame; marginals and the
    grand total ride window sums over the cells (no second scan of the
    raw table). Each cell's ln(n_xy * N / (n_x * n_y)) is quantized to
    integer nano-nats and weighted by the exact cell count, so the
    cross-cell accumulation is an int64 sum; same discipline for H(X),
    H(Y). Returns one row (n, mi, h_x, h_y).
    """
    from pyspark.sql.window import Window

    cells = df.groupBy(
        F.col(x_col).alias("x"), F.col(y_col).alias("y")
    ).agg(F.count(F.lit(1)).cast("long").alias("nxy"))
    nx = F.sum("nxy").over(Window.partitionBy("x"))
    ny = F.sum("nxy").over(Window.partitionBy("y"))
    nn = F.sum("nxy").over(Window.partitionBy())
    lnq = lambda col: F.round(F.log(col) * 1_000_000_000).cast(  # noqa: E731
        "long"
    )
    terms = cells.select(
        "x",
        "y",
        "nxy",
        nx.alias("nx"),
        ny.alias("ny"),
        nn.alias("nn"),
    ).select(
        "nxy",
        "nn",
        (
            F.col("nxy")
            * lnq(
                F.col("nxy").cast("double")
                * F.col("nn")
                / (F.col("nx").cast("double") * F.col("ny"))
            )
        ).alias("_mi_t"),
        # entropy terms credited once per marginal cell: weight by
        # nxy/nx fraction would break integrality, so tag the first
        # cell of each marginal instead
        F.row_number()
        .over(Window.partitionBy("x").orderBy("y"))
        .alias("_rx"),
        F.row_number()
        .over(Window.partitionBy("y").orderBy("x"))
        .alias("_ry"),
        (F.col("nx") * lnq(F.col("nx").cast("double") / F.col("nn")))
        .alias("_hx_t"),
        (F.col("ny") * lnq(F.col("ny").cast("double") / F.col("nn")))
        .alias("_hy_t"),
    )
    out = terms.groupBy().agg(
        F.max("nn").alias("n"),
        F.sum("_mi_t").alias("_mi"),
        F.sum(F.when(F.col("_rx") == 1, F.col("_hx_t")).otherwise(0)).alias(
            "_hx"
        ),
        F.sum(F.when(F.col("_ry") == 1, F.col("_hy_t")).otherwise(0)).alias(
            "_hy"
        ),
    )
    scale = lambda c: F.round(  # noqa: E731
        c.cast("double") / (F.lit(1_000_000_000.0) * F.col("n")), 9
    )
    return out.select(
        "n",
        scale(F.col("_mi")).alias("mi"),
        scale(-F.col("_hx")).alias("h_x"),
        scale(-F.col("_hy")).alias("h_y"),
    )


def psi_drift(
    df: DataFrame,
    group_col: str,
    value_col: str,
    split_pred,
    n_bins: int = 10,
    quantum: int = 100,
) -> DataFrame:
    """Population Stability Index between the two halves of a split
    predicate, per group: PSI = sum over bins of (p_a - p_b) *
    ln(p_a / p_b). The model-monitoring standard for "has this
    feature's distribution moved" (rule of thumb: < 0.1 stable,
    > 0.25 action) — the effect-size companion to ks_drift's
    hypothesis test.

    Bins are equal-width over the group's quantized [min, max] —
    integer arithmetic, engine-exact. Empty bins are materialized by
    exploding a literal 0..n_bins-1 sequence per group and Laplace
    add-1 smoothing keeps every log finite (documented: p_a =
    (c_a + 1) / (t_a + n_bins)). Per-bin contributions are quantized
    to integer nano-units and int-summed, so bin order can't move the
    total. Returns (g, n_a, n_b, psi).

    Shape: one scan for per-(group, bin, half) counts (map-side
    combine), then all arithmetic on an O(groups * bins) frame.
    """
    from pyspark.sql.window import Window

    vq = F.round(F.col(value_col) * quantum).cast("long")
    half = F.when(split_pred, F.lit("a")).otherwise(F.lit("b"))
    base = df.select(
        F.col(group_col).alias("g"), vq.alias("vq"), half.alias("h")
    )
    lim = base.groupBy("g").agg(
        F.min("vq").alias("_lo"), F.max("vq").alias("_hi")
    )
    binned = (
        base.join(F.broadcast(lim), "g")
        .select(
            "g",
            "h",
            F.expr(
                f"((vq - _lo) * {n_bins}) div (_hi - _lo + 1)"
            ).alias("bin"),
        )
        .groupBy("g", "h", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    grid = (
        lim.select(
            "g",
            F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias(
                "bin"
            ),
        )
    )
    cells = (
        grid.join(
            binned.filter(F.col("h") == "a").select(
                "g", "bin", F.col("c").alias("ca")
            ),
            ["g", "bin"],
            "left",
        )
        .join(
            binned.filter(F.col("h") == "b").select(
                "g", "bin", F.col("c").alias("cb")
            ),
            ["g", "bin"],
            "left",
        )
        .fillna(0, ["ca", "cb"])
    )
    wg = Window.partitionBy("g")
    smoothed = cells.select(
        "g",
        "ca",
        "cb",
        F.sum("ca").over(wg).alias("ta"),
        F.sum("cb").over(wg).alias("tb"),
    )
    pa = (F.col("ca") + 1).cast("double") / (F.col("ta") + n_bins)
    pb = (F.col("cb") + 1).cast("double") / (F.col("tb") + n_bins)
    contrib = F.round(
        (pa - pb) * F.log(pa / pb) * 1_000_000_000
    ).cast("long")
    return (
        smoothed.select(
            "g", "ta", "tb", contrib.alias("_t")
        )
        .groupBy("g")
        .agg(
            F.max("ta").alias("n_a"),
            F.max("tb").alias("n_b"),
            F.round(
                F.sum("_t").cast("double") / 1_000_000_000.0, 9
            ).alias("psi"),
        )
    )


def best_split_ig(
    df: DataFrame,
    value_col: str,
    target_pred,
    n_bins: int = 10,
    quantum: int = 100,
) -> DataFrame:
    """Decision-stump split scan: information gain of splitting a
    binary target at each of ``n_bins - 1`` equal-width thresholds of
    ``value_col`` — the inner loop of tree induction and the
    feature-triage primitive ("does value predict purchase at all,
    and where is the knee?").

    One scan to per-bin (n, positives); cumulative sums over the
    O(bins) frame give every threshold's left/right counts at once —
    the classic sort-once-scan-once split finder, except the "sort"
    is a groupBy on a precomputed integer bin. Entropies are computed
    in double from exact int64 counts (identical expression trees
    both engines; 0 log 0 := 0 guarded by CASE), IG rounded at 9 dp.
    Returns one row per threshold: (threshold, n_left, pos_left, ig),
    threshold = highest bin id in the left part.
    """
    from pyspark.sql.window import Window

    vq = F.round(F.col(value_col) * quantum).cast("long")
    base = df.select(
        vq.alias("vq"),
        F.when(target_pred, F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    lim = base.groupBy().agg(
        F.min("vq").alias("_lo"), F.max("vq").alias("_hi")
    )
    bins = (
        base.crossJoin(F.broadcast(lim))
        .select(
            F.expr(f"((vq - _lo) * {n_bins}) div (_hi - _lo + 1)").alias(
                "bin"
            ),
            "y",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
    )
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = bins.select(
        F.col("bin").alias("threshold"),
        F.sum("n").over(w).alias("nl"),
        F.sum("pos").over(w).alias("posl"),
        F.sum("n").over(wall).alias("nn"),
        F.sum("pos").over(wall).alias("post"),
    ).filter(F.col("threshold") < n_bins - 1)

    def ent(pos, n):
        # -p ln p - q ln q with 0 ln 0 := 0, all from exact ints
        p = pos.cast("double") / n
        q = (n - pos).cast("double") / n
        return -(
            F.when(pos > 0, p * F.log(p)).otherwise(F.lit(0.0))
            + F.when(n - pos > 0, q * F.log(q)).otherwise(F.lit(0.0))
        )

    nl, posl = F.col("nl"), F.col("posl")
    nr = F.col("nn") - nl
    posr = F.col("post") - posl
    ig = (
        ent(F.col("post"), F.col("nn"))
        - (nl.cast("double") / F.col("nn")) * ent(posl, nl)
        - F.when(
            nr > 0,
            (nr.cast("double") / F.col("nn")) * ent(posr, nr),
        ).otherwise(F.lit(0.0))
    )
    return cum.select(
        "threshold",
        nl.alias("n_left"),
        posl.alias("pos_left"),
        F.round(ig, 9).alias("ig"),
    )


def leadlag_xcorr(
    daily: DataFrame,
    group_a: str,
    group_b: str,
    max_lag: int = 5,
) -> DataFrame:
    """Lead-lag cross-correlation between two groups' daily series
    (the ``daily_series`` substrate): for each lag in
    [-max_lag, +max_lag], Pearson corr(x_d, y_{d+lag}) where x is
    ``group_a``'s series and y ``group_b``'s. Positive best lag means
    a LEADS b by that many days — the "do clicks predict purchases"
    question. Returns (lag, n_days, xcorr) ordered by lag; lags whose
    day overlap has zero variance on either side report NULL.

    Scale shape: the expensive part (rows -> per-day totals) already
    happened in daily_series; here a calendar-sized x frame fans out
    x(2·max_lag+1) against a broadcast lag list, joins y on the
    shifted day (both sides O(days)), and one moment aggregate per
    lag finishes it. Integer cents throughout; corr is the single
    float expression at the end.
    """
    lags = F.explode(
        F.sequence(F.lit(-max_lag), F.lit(max_lag))
    ).alias("lag")
    x = daily.filter(F.col("g") == group_a).select(
        F.col("day").alias("dx"), F.col("yq").alias("x")
    )
    y = daily.filter(F.col("g") == group_b).select(
        F.col("day").alias("dy"), F.col("yq").alias("y")
    )
    pairs = (
        x.select("dx", "x", lags)
        .join(y, F.col("dy") == F.col("dx") + F.col("lag"))
    )
    agg = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    # headroom: cast each FACTOR to double before the product — the
    # sums are daily-revenue-scaled (sxy ~ 1.2e16/750x headroom at
    # sf0.1), so the int64 product form overflows almost exactly at
    # the 100x posture. Same discipline as ratio_metric_delta; the
    # oracle SQL carries the identical factor-level casts.
    n = F.col("n_days").cast("double")
    _sx = F.col("sx").cast("double")
    _sy = F.col("sy").cast("double")
    cov = n * F.col("sxy").cast("double") - _sx * _sy
    vx = n * F.col("sxx").cast("double") - _sx * _sx
    vy = n * F.col("syy").cast("double") - _sy * _sy
    return agg.select(
        "lag",
        "n_days",
        F.round(
            cov / F.sqrt(F.when(vx * vy > 0, vx * vy)), 9
        ).alias("xcorr"),
    ).orderBy("lag")


def kendall_tau(
    daily: DataFrame,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Kendall tau-b rank correlation between two groups' daily
    series (the ``daily_series`` substrate, joined on day): the
    concordant-minus-discordant pair statistic with the standard
    tie correction, tau_b = (C - D) / sqrt((n0 - n1)(n0 - n2)).
    Returns one row (n_days, concordant, discordant, tau_b); NULL
    tau when either side is entirely tied. Complements spearman
    (operators/stats.py::spearman_by_group) — tau's O(n^2) pair
    basis is robust to a different class of outliers.

    Like theilsen_by_group, the quadratic pair join happens on the
    O(days) POST-aggregation frame — 435 pairs for a month — so it
    never sees row-grained data; every count is an exact int64 and
    tau divides once. Tie terms n1/n2 come from per-value groupBys of
    the same aligned frame, not a second scan of the raw rows.
    """
    x = daily.filter(F.col("g") == group_a).select(
        F.col("day").alias("d"), F.col("yq").alias("x")
    )
    y = daily.filter(F.col("g") == group_b).select(
        F.col("day").alias("d"), F.col("yq").alias("y")
    )
    xy = x.join(y, "d").select("d", "x", "y")
    xy = xy.cache()  # three consumers: pair join sides + tie groups
    pairs = (
        xy.alias("a")
        .join(xy.alias("b"), F.col("a.d") < F.col("b.d"))
        .select(
            (
                (F.col("a.x") - F.col("b.x"))
                * (F.col("a.y") - F.col("b.y"))
            ).alias("prod")
        )
    )
    cd = pairs.agg(
        F.sum(F.when(F.col("prod") > 0, 1).otherwise(0))
        .cast("long")
        .alias("concordant"),
        F.sum(F.when(F.col("prod") < 0, 1).otherwise(0))
        .cast("long")
        .alias("discordant"),
    )
    n = xy.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    tx = (
        xy.groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1)).alias("_n1x2")
        )
    )
    ty = (
        xy.groupBy("y")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1)).alias("_n2x2")
        )
    )
    j = (
        cd.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )
    n0x2 = (F.col("n_days") * (F.col("n_days") - 1)).cast("double")
    den = F.sqrt(
        (n0x2 - F.col("_n1x2")) * (n0x2 - F.col("_n2x2"))
    )
    return j.select(
        "n_days",
        "concordant",
        "discordant",
        F.round(
            2.0
            * (F.col("concordant") - F.col("discordant")).cast("double")
            / F.when(
                (n0x2 - F.col("_n1x2")) * (n0x2 - F.col("_n2x2")) > 0, den
            ),
            9,
        ).alias("tau_b"),
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantum: int = 100,
) -> DataFrame:
    """Kruskal-Wallis H test across ALL groups at once — the k-group
    generalization of mannwhitney_pairs ("do any of these
    distributions differ in location?"). Returns one row (n_total,
    n_groups, t_ties, h_stat, h_corrected) where h_corrected applies
    the standard tie correction H / (1 - T/(N^3 - N)); NULL when
    every value is tied (the correction denominator is 0).

    Same value-block rank arithmetic as mannwhitney_pairs, but ONE
    global ranking instead of per-pair: groupBy to (g, vq, cnt)
    blocks, a cumulative window over the O(distinct values) block
    frame for doubled average ranks, then per-group doubled rank
    sums R2_g — all exact int64. H = sum_g 3*R2_g^2/(n_g*N*(N+1))
    - 3(N+1); the per-group term is computed in double (R2^2
    overflows int64 by design at scale) and micro-quantized BEFORE
    the cross-group sum so the reduction order can't leak into the
    result. T = sum(blk^3 - blk) stays int64 (safe while no single
    tie block exceeds ~2e6 rows; beyond that lift T to double).

    Scale shape: raw rows are scanned once into the groupBy; every
    window runs over value blocks (V rows). The global cumulative
    window is single-partition over V — fine while V is
    range-bounded (quantized scores), the same posture as roc_auc.
    """
    from pyspark.sql.window import Window

    vq = F.round(F.col(value_col) * quantum).cast("long")
    # NULL values dropped — same cross-engine ASC null-placement
    # contract as mannwhitney_pairs (ROUND9_NOTES §15).
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("g"), vq.alias("vq"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .cache()  # feeds block totals AND the per-group join
    )
    blocks = counts.groupBy("vq").agg(F.sum("cnt").alias("blk"))
    wcum = Window.orderBy("vq").rowsBetween(
        Window.unboundedPreceding, -1
    )
    stepped = blocks.select(
        "vq",
        "blk",
        F.coalesce(F.sum("blk").over(wcum), F.lit(0)).alias("_cumbef"),
    )
    # headroom (r8): the rank sum r2 is ROWS-SQUARED-scaled, the tie
    # term ROWS-CUBED per block (blk^3 wraps int64 at ~2e6 tied rows
    # in one value block) and n_total^3 wraps at ~2e6 rows outright —
    # all three accumulate/compute in decimal(38,0) (oracle:
    # HUGEINT); t_ties emits as double on both engines.
    perg = (
        counts.join(stepped, "vq")
        .groupBy("g")
        .agg(
            F.sum("cnt").alias("n_g"),
            F.sum(
                F.col("cnt").cast("decimal(38,0)")
                * (2 * F.col("_cumbef") + F.col("blk") + 1)
            ).alias("r2"),
        )
    )
    _blkd = F.col("blk").cast("decimal(38,0)")
    totals = blocks.agg(
        F.sum("blk").alias("n_total"),
        F.sum(
            _blkd * F.col("blk") * F.col("blk") - F.col("blk")
        ).alias("t_ties"),
    )
    n = F.col("n_total")
    termq = F.round(
        3.0
        * (F.col("r2").cast("double") * F.col("r2").cast("double"))
        / F.col("n_g")
        / n
        / (n + 1)
        * 1000000.0
    ).cast("long")
    agg = (
        perg.crossJoin(F.broadcast(totals))
        .select("n_g", "n_total", "t_ties", termq.alias("_tq"))
        .groupBy("n_total", "t_ties")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum(F.col("_tq").cast("decimal(38,0)")).alias("_stq"),
        )
    )
    h = F.col("_stq").cast("double") / 1000000.0 - 3.0 * (n + 1)
    ncube = n.cast("decimal(38,0)") * n * n - n
    denom = (
        F.lit(1.0)
        - F.col("t_ties").cast("double") / ncube.cast("double")
    )
    return agg.select(
        "n_total",
        "n_groups",
        F.col("t_ties").cast("double").alias("t_ties"),
        F.round(h, 9).alias("h_stat"),
        F.round(
            h / F.when(ncube - F.col("t_ties") > 0, denom), 9
        ).alias("h_corrected"),
    )


def cramers_v(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Cramer's V effect size for the association between two
    categorical columns: V = sqrt(chi2 / (n * min(r-1, c-1))), the
    0..1 normalization that makes chi-square statistics comparable
    across tables of different shape and size (chi2_independence
    answers "is there dependence?"; V answers "how much?"). Returns
    one row (chi2, dof, n, v).

    Same exact-arithmetic pipeline as chi2_independence — O(cells)
    contingency frame, micro-quantized cell contributions summed as
    int64 — plus the two marginal cardinalities the normalization
    needs. V is NULL for a degenerate 1xC or Rx1 table (min(r-1,
    c-1) = 0).
    """
    cells = (
        df.groupBy(F.col(row_col).alias("r"), F.col(col_col).alias("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        .cache()  # contrib + both marginals + total
    )
    rows = cells.groupBy("r").agg(F.sum("o").alias("rt"))
    cols = cells.groupBy("c").agg(F.sum("o").alias("ct"))
    tot = cells.agg(F.sum("o").alias("n"))
    contrib = (
        cells.join(F.broadcast(rows), "r")
        .join(F.broadcast(cols), "c")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "_e", F.col("rt").cast("double") * F.col("ct") / F.col("n")
        )
        .withColumn(
            "_chi_u",
            F.round(
                (F.col("o") - F.col("_e"))
                * (F.col("o") - F.col("_e"))
                / F.col("_e")
                * 1_000_000
            ).cast("long"),
        )
    )
    nr = rows.agg(F.count(F.lit(1)).cast("long").alias("nr"))
    nc = cols.agg(F.count(F.lit(1)).cast("long").alias("nc"))
    agg = (
        contrib.agg(F.sum("_chi_u").alias("_cu"), F.max("n").alias("n"))
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
    )
    chi2 = F.col("_cu").cast("double") / 1_000_000
    mindim = F.least(F.col("nr") - 1, F.col("nc") - 1)
    return agg.select(
        F.round(chi2, 9).alias("chi2"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
        "n",
        F.round(
            F.sqrt(
                chi2 / (F.col("n") * F.when(mindim > 0, mindim)).cast(
                    "double"
                )
            ),
            9,
        ).alias("v"),
    )


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_q_col: str,
) -> DataFrame:
    """Friedman rank test for k treatments over n matched blocks —
    the repeated-measures cousin of kruskal_wallis ("does any
    treatment consistently rank higher WITHIN blocks?"), immune to
    between-block level shifts that would drown a pooled rank test.
    Returns one row (n_blocks, k, q_stat, q_corrected) with the
    standard tie correction Q / (1 - sum_T / (n*k*(k^2-1)));
    q_corrected is NULL when every block is fully tied.

    Only COMPLETE blocks participate (count == k over the block —
    the textbook requirement); incomplete ones are dropped, visible
    via n_blocks. Within-block average ranks use the same doubled
    value-block arithmetic as mannwhitney_pairs, partitioned by
    block (never a global sort); per-treatment doubled rank sums R2
    stay int64, and the per-treatment Q term is micro-quantized
    before the cross-treatment sum (the kruskal_wallis discipline).
    """
    from pyspark.sql.window import Window

    base = df.select(
        F.col(block_col).alias("b"),
        F.col(treatment_col).alias("t"),
        F.col(value_q_col).alias("v"),
    )
    k_df = base.agg(F.count_distinct("t").cast("long").alias("k"))
    sized = base.withColumn(
        "_bn", F.count(F.lit(1)).over(Window.partitionBy("b"))
    )
    complete = (
        sized.crossJoin(F.broadcast(k_df))
        .filter(F.col("_bn") == F.col("k"))
        .drop("_bn")
    )
    grp = complete.groupBy("b", "v", "k").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.collect_list("t").alias("_ts"),
    )
    wblk = (
        Window.partitionBy("b")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # window FIRST, explode in a separate select: a generator in the
    # same projection makes Spark place Generate before Window, so
    # the cumulative count would run over the exploded rows and
    # inflate every rank (caught by the brute-force twin test)
    stepped = grp.select(
        "b",
        "k",
        "cnt",
        F.coalesce(F.sum("cnt").over(wblk), F.lit(0)).alias("_cb"),
        "_ts",
    ).select("b", "k", "cnt", "_cb", F.explode("_ts").alias("t"))
    perj = stepped.groupBy("t", "k").agg(
        F.count(F.lit(1)).cast("long").alias("_nb"),
        F.sum(2 * F.col("_cb") + F.col("cnt") + 1).alias("r2"),
    )
    ties = (
        grp.groupBy("b")
        .agg(
            F.sum(
                F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
            ).alias("_tb")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum("_tb").alias("t_ties"),
        )
    )
    j = perj.crossJoin(F.broadcast(ties))
    n = F.col("n_blocks")
    k = F.col("k")
    termq = F.round(
        3.0
        * (F.col("r2").cast("double") * F.col("r2").cast("double"))
        / n
        / k
        / (k + 1)
        * 1000000.0
    ).cast("long")
    agg = j.select("n_blocks", "k", "t_ties", termq.alias("_tq")).groupBy(
        "n_blocks", "k", "t_ties"
    ).agg(F.sum("_tq").alias("_stq"))
    q = (
        F.col("_stq").cast("double") / 1000000.0
        - 3.0 * n * (k + 1)
    )
    corr_den = n * k * (k * k - 1) - F.col("t_ties")
    corr = (
        F.lit(1.0)
        - F.col("t_ties").cast("double")
        / (n * k * (k * k - 1)).cast("double")
    )
    return agg.select(
        "n_blocks",
        "k",
        F.round(q, 9).alias("q_stat"),
        F.round(q / F.when(corr_den > 0, corr), 9).alias("q_corrected"),
    )


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantum: int = 100,
) -> DataFrame:
    """Classic one-way ANOVA F across all groups: between-group over
    within-group mean squares — the parametric counterpart of
    kruskal_wallis, and the k-group generalization of welch_t_pairs'
    pooled-variance ancestor. Returns one row (n, k, ss_between,
    ss_within, eta_sq, f_stat); F is NULL when SSW is exactly zero
    (every group constant), eta_sq = SSB/(SSB+SSW) is the variance-
    explained effect size.

    One scan to per-group integer moments (n_g, sum, sum-of-squares
    of the quantized values). Each group's fractional term s_g^2/n_g
    is micro-quantized before the cross-group sum; the grand term
    S^2/N is a single double expression over broadcast totals —
    nothing order-dependent ever accumulates. SS columns are
    de-scaled back to value^2 units.
    """
    xq = F.round(F.col(value_col) * quantum).cast("long")
    per = df.select(
        F.col(group_col).alias("g"), xq.alias("_x")
    ).groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("_x").alias("s_g"),
        F.sum(F.col("_x") * F.col("_x")).alias("ss_g"),
    )
    termq = F.round(
        F.col("s_g").cast("double")
        * F.col("s_g").cast("double")
        / F.col("n_g")
        * 1000000.0
    ).cast("long")
    agg = per.select(
        "n_g", "s_g", "ss_g", termq.alias("_tq")
    ).agg(
        F.sum("n_g").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("s_g").alias("_s"),
        F.sum("ss_g").alias("_ss"),
        F.sum("_tq").alias("_stq"),
    )
    n = F.col("n")
    k = F.col("k")
    grand = (
        F.col("_s").cast("double") * F.col("_s").cast("double") / n
    )
    sum_term = F.col("_stq").cast("double") / 1000000.0
    ssb = sum_term - grand
    ssw = F.col("_ss").cast("double") - sum_term
    q2 = float(quantum) * quantum
    fstat = (ssb / (k - 1)) / (
        F.when(F.round(ssw, 6) > 0, ssw) / (n - k)
    )
    return agg.select(
        "n",
        "k",
        F.round(ssb / q2, 6).alias("ss_between"),
        F.round(ssw / q2, 6).alias("ss_within"),
        F.round(ssb / (ssb + F.when(F.round(ssw, 6) > 0, ssw)), 9).alias(
            "eta_sq"
        ),
        F.round(fstat, 9).alias("f_stat"),
    )


# Shared by the Spark operator and the DuckDB oracle (parity rule:
# identical expression TEXT -> identical IEEE tree on both engines).
# Column aliases (runs, n_up, n_down) are fixed by runs_test's output.
# every integer operand casts to DOUBLE before a numeric literal
# touches it: DuckDB parses 2.0 as DECIMAL, so 2.0 * bigint chains
# stay exact-decimal there while Spark computes in double — a 1e-8
# z divergence caught at sf0.001
_RT_2NN = "(2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE))"
_RT_N = "CAST(n_up + n_down AS DOUBLE)"
_RT_VAR = (
    f"{_RT_2NN} * ({_RT_2NN} - {_RT_N})"
    f" / ({_RT_N} * {_RT_N} * CAST(n_up + n_down - 1 AS DOUBLE))"
)
RUNS_TEST_Z_EXPR = (
    "((CAST(runs AS DOUBLE)"
    f" - ({_RT_2NN} / {_RT_N} + 1.0))"
    f" / sqrt(CASE WHEN {_RT_VAR} > 0 THEN {_RT_VAR} END))"
)


def runs_test(
    df: DataFrame,
    key_col: str,
    order_col: str,
    xq_col: str,
) -> DataFrame:
    """Wald-Wolfowitz runs test per key over an ordered integer
    series: is the up/down pattern of successive changes random, or
    does it trend/mean-revert? Each step is classified up (x > prev)
    or down (ties count as down — a deterministic engine-exact rule);
    R = number of maximal same-direction runs; under H0,
    E[R] = 2*n1*n2/n + 1 and Var[R] = 2*n1*n2*(2*n1*n2 - n)
    / (n^2 * (n - 1)). Returns (key, n_up, n_down, runs, z) with
    z = (R - E[R]) / sqrt(Var[R]), NULL for degenerate series
    (all-up, all-down, or n < 2 steps).

    One window pass per key (the series is already aggregated —
    O(days) rows, bounded by calendar length like ACF/CUSUM), then a
    per-key count aggregation: run boundaries and direction counts
    are exact integers, z is the single float expression.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("k").orderBy("_o")
    stepped = (
        df.select(
            F.col(key_col).alias("k"),
            F.col(order_col).alias("_o"),
            F.col(xq_col).cast("long").alias("_x"),
        )
        .withColumn("_prev", F.lag("_x").over(w))
        .filter(F.col("_prev").isNotNull())
        .withColumn(
            "_up", F.when(F.col("_x") > F.col("_prev"), 1).otherwise(0)
        )
        .withColumn(
            "_chg",
            F.when(
                F.lag("_up").over(w).isNull()
                | (F.col("_up") != F.lag("_up").over(w)),
                1,
            ).otherwise(0),
        )
    )
    counts = stepped.groupBy("k").agg(
        F.sum("_up").cast("long").alias("n_up"),
        (F.count(F.lit(1)) - F.sum("_up")).cast("long").alias("n_down"),
        F.sum("_chg").cast("long").alias("runs"),
    )
    return counts.select(
        F.col("k"),
        "n_up",
        "n_down",
        "runs",
        F.round(F.expr(RUNS_TEST_Z_EXPR), 9).alias("z"),
    )


def wasserstein_drift(
    df: DataFrame,
    group_col: str,
    xq_col: str,
    control,
    treatment,
    quantum: int = 100,
) -> DataFrame:
    """Wasserstein-1 (earth-mover) distance between two empirical
    distributions — the drift metric that, unlike PSI/KS, weighs HOW
    FAR mass moved, not just that it moved. W1 = integral of
    |F_a - F_b| over the support, computed exactly on the quantized
    grid: per distinct value, |cumA * nB - cumB * nA| * gap_to_next
    summed as int64, de-scaled once by (nA * nB * quantum). Returns
    one row (n_a, n_b, w1).

    One groupBy on the quantized value (map-side combinable), one
    global cumulative window over the O(distinct values) support
    frame — bounded by value cardinality, not row count — plus a
    scalar arm-totals broadcast. Headroom (r8): the summed term is
    <= nA * nB * span_quanta — rows-squared-scaled, so int64 wraps
    near 1e8-row arms. The accumulation therefore runs in
    decimal(38,0) (DuckDB oracle: HUGEINT) — still EXACT integer
    arithmetic, order-independent, with ~1e38 headroom (= 1e12-row
    arms over a 1e5-quanta span with nine orders to spare); the one
    float division happens after.

    r9 adjudication of the widening cost (r8 verdict task 4): the
    decimal term measures ~1.3x vs the int64 form at sf0.1 (min-of-3
    same-session A/B: 1.232 s vs 0.948 s) — real, not noise — but the
    degree_assortativity sum-cast pattern (int64 per-row, decimal at
    the SUM) is UNSOUND here: the per-row term cumA*nB carries
    GLOBAL mass squared (cum counts times arm totals), not a
    row-local bound like deg^3, so the int64 per-row product itself
    wraps at ~3e9-row arms regardless of where the cast sits. The
    ~0.3 s is the price of exactness at 1e11-row arms; kept.
    """
    from pyspark.sql.window import Window

    tagged = df.select(
        F.col(xq_col).cast("long").alias("v"),
        F.when(F.col(group_col) == control, 1).otherwise(0).alias("_a"),
        F.when(F.col(group_col) == treatment, 1).otherwise(0).alias(
            "_b"
        ),
    ).filter(
        # NULL support values dropped — same cross-engine ASC
        # null-placement contract as the rank substrates (§15).
        ((F.col("_a") == 1) | (F.col("_b") == 1))
        & F.col("v").isNotNull()
    )
    per_v = tagged.groupBy("v").agg(
        F.sum("_a").cast("long").alias("ca"),
        F.sum("_b").cast("long").alias("cb"),
    ).cache()  # two consumers (totals + cumulative) — branch-reuse rule
    tot = per_v.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wl = Window.orderBy("v")
    cum = per_v.select(
        "v",
        F.sum("ca").over(w).alias("cuma"),
        F.sum("cb").over(w).alias("cumb"),
        (F.lead("v").over(wl) - F.col("v")).alias("gap"),
    ).crossJoin(F.broadcast(tot))
    term = F.when(
        F.col("gap").isNotNull(),
        F.abs(
            F.col("cuma").cast("decimal(38,0)") * F.col("n_b")
            - F.col("cumb").cast("decimal(38,0)") * F.col("n_a")
        )
        * F.col("gap"),
    ).otherwise(F.lit(0).cast("decimal(38,0)"))
    agg = cum.groupBy("n_a", "n_b").agg(F.sum(term).alias("_raw"))
    return agg.select(
        "n_a",
        "n_b",
        F.round(
            F.col("_raw").cast("double")
            / F.when(F.col("n_a") > 0, F.col("n_a")).cast("double")
            / F.when(F.col("n_b") > 0, F.col("n_b")).cast("double")
            / F.lit(float(quantum)),
            9,
        ).alias("w1"),
    )


def pearson_r_expr(sab: str, sa: str, sb: str, saa: str, sbb: str) -> str:
    """Pearson r as a SQL expression over int64 moment columns plus a
    row count column ``_n`` — shared VERBATIM between the Spark
    operator and the DuckDB oracle so both engines build the identical
    float tree. Every FACTOR casts to double BEFORE the product (the
    r8 headroom discipline: the moment sums are data-scaled, so the
    int64 product form loses headroom as SF grows); NULL when either
    side has zero variance."""

    def c(x: str) -> str:
        return f"CAST({x} AS DOUBLE)"

    n = c("_n")
    cov = f"({n} * {c(sab)} - {c(sa)} * {c(sb)})"
    va = f"({n} * {c(saa)} - {c(sa)} * {c(sa)})"
    vb = f"({n} * {c(sbb)} - {c(sb)} * {c(sb)})"
    return (
        f"(CASE WHEN {va} > 0 AND {vb} > 0 "
        f"THEN {cov} / SQRT({va} * {vb}) END)"
    )


#: partial correlation of x and y CONTROLLING FOR z, from the three
#: pairwise r columns (r_xy, r_xz, r_yz) — the first-order partial
#: correlation identity. Shared verbatim between engine and oracle.
PARTIAL_R_EXPR = (
    "(CASE WHEN (1 - _rxz * _rxz) * (1 - _ryz * _ryz) > 0 "
    "THEN (_rxy - _rxz * _ryz) "
    "/ SQRT((1 - _rxz * _rxz) * (1 - _ryz * _ryz)) END)"
)


def partial_corr(
    daily: DataFrame,
    group_x: str,
    group_y: str,
    group_z: str,
) -> DataFrame:
    """First-order partial correlation between two groups' daily
    series CONTROLLING for a third (the ``daily_series`` substrate):
    r_xy.z = (r_xy - r_xz r_yz) / sqrt((1-r_xz^2)(1-r_yz^2)) — the
    question spearman/leadlag can't answer: is the click~purchase
    correlation real, or do both just follow views? Returns ONE row
    (n_days, r_xy, r_xz, r_yz, r_partial); the partial is NULL when
    either controlling correlation is +/-1 (degenerate control).

    Scale shape: the heavy work (rows -> per-day totals) happened in
    daily_series; here three O(days) series inner-join on day, ONE
    moment aggregate produces the 10 int64 sums, and all float math
    runs on that single row via pearson_r_expr / PARTIAL_R_EXPR —
    identical trees both engines, factor-level double casts per the
    r8 headroom discipline.
    """
    x = daily.filter(F.col("g") == group_x).select(
        "day", F.col("yq").alias("x")
    )
    y = daily.filter(F.col("g") == group_y).select(
        "day", F.col("yq").alias("y")
    )
    z = daily.filter(F.col("g") == group_z).select(
        "day", F.col("yq").alias("z")
    )
    xyz = x.join(y, "day").join(z, "day")
    # The six quadratic moments are products of two daily-mass-scaled
    # values (each yq ~ rows-per-day of mass) — rows/mass-SQUARED, the
    # overflow class the r8 sweep widened everywhere else: they ride
    # decimal(38,0) (oracle: HUGEINT). The frame is O(days), so the
    # per-row decimal multiply is free (the r8 perf rule); the linear
    # sums _sx/_sy/_sz stay int64 (single-power daily mass).

    def _dprod(a: str, b: str):
        return F.col(a).cast("decimal(38,0)") * F.col(b)

    mom = xyz.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("x").alias("_sx"),
        F.sum("y").alias("_sy"),
        F.sum("z").alias("_sz"),
        F.sum(_dprod("x", "y")).alias("_sxy"),
        F.sum(_dprod("x", "z")).alias("_sxz"),
        F.sum(_dprod("y", "z")).alias("_syz"),
        F.sum(_dprod("x", "x")).alias("_sxx"),
        F.sum(_dprod("y", "y")).alias("_syy"),
        F.sum(_dprod("z", "z")).alias("_szz"),
    )
    rs = mom.select(
        F.col("_n"),
        F.expr(
            pearson_r_expr("_sxy", "_sx", "_sy", "_sxx", "_syy")
        ).alias("_rxy"),
        F.expr(
            pearson_r_expr("_sxz", "_sx", "_sz", "_sxx", "_szz")
        ).alias("_rxz"),
        F.expr(
            pearson_r_expr("_syz", "_sy", "_sz", "_syy", "_szz")
        ).alias("_ryz"),
    )
    return rs.select(
        F.col("_n").alias("n_days"),
        F.round("_rxy", 9).alias("r_xy"),
        F.round("_rxz", 9).alias("r_xz"),
        F.round("_ryz", 9).alias("r_yz"),
        F.round(F.expr(PARTIAL_R_EXPR), 9).alias("r_partial"),
    )
