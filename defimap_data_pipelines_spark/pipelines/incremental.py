"""Incremental transform mode (SURVEY.md §4 "incrementality").

The reference recomputes every derived table from INITIAL_DATE daily
(WRITE_TRUNCATE, aave_transform.py:235 et al.) — O(history) work per
day. The GOTK recurrence only needs O(1) state per strategy:

    state  = (first_asset_price, first_liquidity_index,
              cum_reward_q  [exact bigint micro-units],
              prev_end_day_investment, last_date)

and each day applies operators/growth.py's capital, reward and end-day
formulas to that state: a day's update joins the new raw rows against
the state table, emits the new GOTK rows, and writes back the advanced
state — no history scan. The quantized reward total makes the
incremental path EXACTLY equal to the batch recompute (integer
accumulation is associative), which test_incremental.py asserts
row-for-row.

Every step goes through ``_advance``: a name whose state is already at
or past the day's date is left as it is and emits no row, so applying
a day twice changes nothing.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from defimap_data_pipelines_spark.config import INITIAL_PRINCIPAL
from defimap_data_pipelines_spark.operators.growth import (
    capital,
    end_day_investment,
    gotk_base,
    ratio_change,
    reward_q,
)
from defimap_data_pipelines_spark.operators.tvl import tvl_change


def _last_row(df: DataFrame) -> DataFrame:
    """Each name's latest row."""
    last = Window.partitionBy("name").orderBy(F.col("date").desc())
    return df.withColumn("_rn", F.row_number().over(last)).filter(F.col("_rn") == 1)


def _advance(
    state: DataFrame,
    new_raw: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    state_cols: tuple[str, ...],
) -> tuple[DataFrame, DataFrame]:
    """Advance ``state`` by the day in ``new_raw``: -> (step rows, state').

    ``step`` maps the state-joined day rows to the day's frame;
    ``state_cols`` (SQL expressions) project that frame back onto the
    state schema, with ``last_date`` set to the day. Names whose
    ``last_date`` is at or past the day (a replay) and names with no row
    today (a gap day must not reset a series) keep their state and emit
    no row.
    """
    joined = new_raw.join(F.broadcast(state), "name", "left").filter(
        F.col("last_date").isNull() | (F.col("last_date") < F.col("date"))
    )
    rows = step(joined)
    day = new_raw.select(F.col("name").alias("_name"), F.col("date").alias("_day"))
    untouched = state.join(
        day,
        (F.col("name") == F.col("_name")) & (F.col("last_date") < F.col("_day")),
        "left_anti",
    )
    updated = rows.selectExpr(*state_cols, "date AS last_date")
    return rows, updated.unionByName(untouched)


def initial_gotk_state(raw_history: DataFrame) -> DataFrame:
    """Bootstrap per-name state from history (one batch GOTK pass).

    Returns (name, p0, li0, cumq, prev_edi, last_date).
    """
    edi = end_day_investment(F.col("cumq"), F.col("ap"), F.col("cap"))
    return _last_row(gotk_base(raw_history).withColumn("prev_edi", edi)).select(
        "name", "p0", "li0", "cumq", "prev_edi", F.col("date").alias("last_date")
    )


def _gotk_advance(joined: DataFrame) -> DataFrame:
    """One-day GOTK advance over a state-joined day frame.

    Shared by the GOTK-rows and cum-series step functions. Emits every
    intermediate (cap/ap/q/cumq) so callers project what they persist.
    """
    p0 = F.coalesce(F.col("p0"), F.col("asset_price"))
    li0 = F.coalesce(F.col("li0"), F.col("liquidity_index"))
    cumq_prev = F.coalesce(F.col("cumq"), F.lit(0).cast("long"))
    prev_edi = F.coalesce(F.col("prev_edi"), F.lit(INITIAL_PRINCIPAL).cast("double"))
    cap = capital(p0, li0)
    q = reward_q(cap)
    cumq = cumq_prev + q
    return joined.select(
        "date",
        "name",
        p0.alias("p0"),
        li0.alias("li0"),
        cap.alias("cap"),
        F.col("aave_price").alias("ap"),
        q.alias("q"),
        cumq.alias("cumq"),
        prev_edi.alias("start_day_investment"),
        end_day_investment(cumq, F.col("aave_price"), cap).alias("end_day_investment"),
    )


# the persisted GOTK state, shared by the GOTK-rows and cum-series steps
_GOTK_STATE = ("name", "p0", "li0", "cumq", "end_day_investment AS prev_edi")


def incremental_gotk_step(
    state: DataFrame, new_raw: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Advance one day: (state, day's raw rows) -> (gotk rows, state').

    ``new_raw`` holds exactly one row per name (the new date). Names
    unseen in the state start a fresh series (p0/li0 from their first
    row, prev_edi = INITIAL_PRINCIPAL).
    """
    step, state = _advance(state, new_raw, _gotk_advance, _GOTK_STATE)
    edi, sdi = F.col("end_day_investment"), F.col("start_day_investment")
    gotk_rows = step.select(
        "date",
        "name",
        "start_day_investment",
        "end_day_investment",
        ratio_change(edi, sdi).alias("percent_change"),
    )
    return gotk_rows, state


def initial_tvl_state(raw_history: DataFrame) -> DataFrame:
    """(name, prev_tvl, last_date) from the latest history row."""
    return _last_row(raw_history).select(
        "name",
        (F.col("atoken_supply") * F.col("asset_price")).alias("prev_tvl"),
        F.col("date").alias("last_date"),
    )


def _tvl_advance(joined: DataFrame) -> DataFrame:
    """One-day TVL advance (W5 self-defaulting lag carried as state)."""
    tvl = F.col("atoken_supply") * F.col("asset_price")
    prev = F.coalesce(F.col("prev_tvl"), tvl)
    return joined.select("date", "name", tvl.alias("tvl"), *tvl_change(tvl, prev))


def incremental_tvl_step(
    state: DataFrame, new_raw: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Advance TVL one day: (state, day's raw rows) -> (tvl rows, state')."""
    return _advance(state, new_raw, _tvl_advance, ("name", "tvl AS prev_tvl"))


# ---- incremental trailing returns --------------------------------------
#
# The trailing table (date, period, name, pc) is a per-ds SNAPSHOT — its
# window starts move with ds, so it cannot be append-maintained. But the
# datamart only consumes the compounded scalar at date=ds per period
# (aave_transform.py:422-427, aave_load.py:93-106), and that scalar
# telescopes: prod(1+pc) over a rebased arm == edi_arm(ds)/P, which is
# O(1) arithmetic over the persisted base cum series
#
#     value(period) = ((C(ds) - C(s) + q(s))/SCALE * ap_ds + cap_ds)
#                     / cap_s  -  1
#
# where s is the window's first available row. So the daily job is:
# advance the cum series one day (incremental_cum_step, O(1) state), then
# compute all six period scalars from the trailing ≤1y slice — no
# O(history) recompute and, unlike the batch EXP(SUM(LOG)) form, no
# undefined log when a pc <= -1.


def initial_trailing_cum(raw_history: DataFrame) -> DataFrame:
    """Bootstrap the persisted base cum series (date,name,cap,ap,q,cumq)
    from history — one batch pass of the shared GOTK machinery."""
    return gotk_base(raw_history).select("date", "name", "cap", "ap", "q", "cumq")


def incremental_cum_step(
    state: DataFrame, new_raw: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Advance the base cum series one day: -> (day's cum rows, state').

    Same state schema as :func:`incremental_gotk_step` (prev_edi rides
    along unused), so one state table can serve both consumers.
    """
    step, state = _advance(state, new_raw, _gotk_advance, _GOTK_STATE)
    return step.select("date", "name", "cap", "ap", "q", "cumq"), state


def trailing_scalars_from_cum(cum: DataFrame, ds: str) -> DataFrame:
    """(period, name, value): compounded trailing return at ``ds`` for
    every period arm, from the persisted cum series alone.

    Each arm is one groupBy over its ≤1y date slice: min_by/max_by pick
    the boundary rows, the telescoped formula does the rest. The
    coverage rule (aave_transform.py:192-194) nulls a period whose
    window isn't fully covered — matching the batch path, where the
    all-NULL pc arm sums to a NULL compounded value."""
    from defimap_data_pipelines_spark.operators.trailing import period_starts

    arms = []
    for period, start, rule in period_starts(ds):
        sliced = cum.filter(F.col("date").between(F.lit(start), F.lit(ds)))
        g = (
            sliced.groupBy("name")
            .agg(
                F.min("date").alias("first_date"),
                F.max("date").alias("last_date"),
                F.min_by(F.struct("cap", "cumq", "q"), F.col("date")).alias("s"),
                F.max_by(F.struct("cap", "cumq", "ap"), F.col("date")).alias("e"),
            )
            .filter(F.col("last_date") == F.lit(ds).cast("date"))
        )
        value = end_day_investment(
            F.col("e.cumq") - F.col("s.cumq") + F.col("s.q"), F.col("e.ap"), F.col("e.cap")
        ) / F.col("s.cap") - 1
        if rule:
            value = F.when(
                F.col("first_date") == F.lit(start).cast("date"), value
            )
        arms.append(
            g.select(
                F.lit(period).alias("period"), "name", value.alias("value")
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


def incremental_return_1y(cum: DataFrame, ds: str) -> DataFrame:
    """(name, return_1y) with the ytd fallback (A8) — the datamart
    scalar, incrementally. Agrees with the batch return_1y query to the
    reward-quantization grid (~1e-7 abs; the bases differ, see the
    section comment), not bit-for-bit."""
    scal = trailing_scalars_from_cum(cum, ds).filter(
        F.col("period").isin("1y", "ytd")
    )
    v1y = F.max(F.when(F.col("period") == "1y", F.col("value")))
    vytd = F.max(F.when(F.col("period") == "ytd", F.col("value")))
    return scal.groupBy("name").agg(
        F.round(F.when(v1y == 0.0, vytd).otherwise(v1y), 9).alias("return_1y")
    )


def diff_snapshots(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level diff of two table snapshots — the change-detection
    primitive behind CDC feeds, audit reports, and incremental
    downstream refresh when the upstream has no change log (the
    vanilla-parquet reality Delta/Iceberg users get from table
    history).

    Returns (key_cols..., change_type) with change_type in
    {'added', 'deleted', 'changed'}; unchanged rows are dropped (at
    100 TB the diff output, not the inputs, is the small thing — a
    daily snapshot pair differs in well under 1%).

    PRECONDITION: ``key_cols`` uniquely identify a row in each
    snapshot (the usual table-key contract) — duplicate keys would
    cross-multiply through the full-outer join and pair arbitrary
    row versions. Run check_unique (operators/dq.py) upstream when
    the contract is in doubt.

    Scale shape: ONE full-outer shuffle join on the key — both sides
    are first reduced to (key, row_md5) projections (scan-side md5 of
    the concatenated compare columns with null sentinels), so the
    shuffle ships two narrow columns, never the payload. Comparing
    hashes instead of columns keeps the join narrow and the change
    predicate O(1) per row; md5 collisions (2^-128) are the accepted
    trade everywhere else in this engine.
    """
    compare_cols = compare_cols or [
        c for c in new.columns if c not in key_cols
    ]

    def hashed(df: DataFrame, tag: str) -> DataFrame:
        # NUL-separated concat with a distinguishable null sentinel:
        # concat_ws alone would conflate NULL with '' and shifted
        # column values
        parts = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
            for c in compare_cols
        ]
        return df.select(
            *key_cols,
            F.md5(F.concat_ws("\x01", *parts)).alias(f"_h_{tag}"),
        )

    o = hashed(old, "o")
    n = hashed(new, "n")
    joined = o.join(n, key_cols, "full_outer").filter(
        F.col("_h_o").isNull()
        | F.col("_h_n").isNull()
        | (F.col("_h_o") != F.col("_h_n"))
    )
    return joined.select(
        *key_cols,
        F.when(F.col("_h_o").isNull(), F.lit("added"))
        .when(F.col("_h_n").isNull(), F.lit("deleted"))
        .otherwise(F.lit("changed"))
        .alias("change_type"),
    )
