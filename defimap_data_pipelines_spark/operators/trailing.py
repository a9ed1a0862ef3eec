"""Trailing returns (aave_transform.py:170-216) and compounded return
(aave_transform.py:413-443).

The reference composes SIX full GOTK subqueries (1d/1m/3m/6m/1y/ytd) over
overlapping date ranges — six scans of the raw table (SURVEY.md §4 calls
this out as the anti-pattern not to replicate). ``trailing_returns``
runs ``operators.growth.gotk_base`` ONCE from the earliest needed start
date and re-bases each period arm algebraically:

    capital_s(t) = capital_b(t) * P / capital_b(s)
    reward_s(t)  = (P / capital_b(s)) * (C(t) - C(s-))      [C = cum contrib]
    edi_s(t)     = (P / capital_b(s)) * ((C(t)-C(s-)) * aave_price_t
                                          + capital_b(t))

where b is the common base date and P = 10000. The capital, reward,
end-day and start-day formulas are growth.py's; only the rebase is
defined here. The reward cumsum is quantized to integer micro-units, so
C(t) - C(s-) is an exact bigint subtraction and the whole rebase is
bit-deterministic. One shuffle by ``name`` total, instead of six.

``trailing_returns_naive`` keeps the reference's literal 6-subquery
shape for differential testing.

Period coverage rule (aave_transform.py:192-194): a period's
percent_change is NULL unless the window's first available date equals
the exact period start.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from defimap_data_pipelines_spark.config import INITIAL_PRINCIPAL, TRAILING_PERIODS
from defimap_data_pipelines_spark.operators.cachereg import pin
from defimap_data_pipelines_spark.operators.growth import (
    _windows,
    _with_start_day,
    end_day_investment,
    gotk_base,
    growth_of_10k,
    ratio_change,
)


def period_starts(ds: str) -> list[tuple[str, str, bool]]:
    """(period, start_date, enforce_coverage_rule) for a given ds."""
    d = dt.date.fromisoformat(ds)
    out = [
        (p, (d - dt.timedelta(days=days)).isoformat(), True)
        for p, days in TRAILING_PERIODS
    ]
    out.append(("ytd", dt.date(d.year, 1, 1).isoformat(), False))
    return out


def _rebased_arm(
    base: DataFrame, period: str, start: str, ds: str, coverage_rule: bool
) -> DataFrame:
    w, wcum = _windows()
    sliced = base.filter(F.col("date").between(F.lit(start), F.lit(ds)))
    qprev = F.first("cumq").over(wcum) - F.first("q").over(wcum)
    edi = (F.lit(INITIAL_PRINCIPAL) / F.first("cap").over(wcum)) * end_day_investment(
        F.col("cumq") - qprev, F.col("ap"), F.col("cap")
    )
    df = sliced.select(
        "date",
        "name",
        F.first("date").over(wcum).alias("first_date"),
        edi.alias("end_day_investment"),
    )

    def change(edi: Column, sdi: Column) -> Column:
        pc = ratio_change(edi, sdi)
        if coverage_rule:
            return F.when(F.col("first_date") == F.lit(start).cast("date"), pc)
        return pc

    return _with_start_day(df, w, change).select(
        "date", F.lit(period).alias("period"), "name", "percent_change"
    )


def trailing_returns(raw: DataFrame, ds: str) -> DataFrame:
    """Single-scan trailing returns: (date, period, name, percent_change)."""
    starts = period_starts(ds)
    base_start = min(s for _, s, _ in starts)
    # cache: UNION branches don't share subplans in Spark, so without
    # this each of the 6 arms would recompute the base windows
    base = pin(gotk_base(raw, base_start, ds).cache())
    arms = [_rebased_arm(base, p, s, ds, rule) for p, s, rule in starts]
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


def trailing_returns_naive(raw: DataFrame, ds: str) -> DataFrame:
    """Reference-literal 6-subquery trailing returns (for testing)."""
    _, wcum = _windows()
    arms = []
    for period, start, rule in period_starts(ds):
        g = growth_of_10k(raw, start, ds)
        pc = F.col("percent_change")
        if rule:
            pc = F.when(
                F.first("date").over(wcum) == F.lit(start).cast("date"), pc
            )
        arms.append(
            g.select(
                "date", F.lit(period).alias("period"), "name",
                pc.alias("percent_change"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


def compounded_return(trailing: DataFrame) -> DataFrame:
    """Cumulative compounded return per (period, name) series:
    EXP(SUM(LOG(pc+1)) OVER (PARTITION BY period ORDER BY date)) - 1
    (aave_transform.py:413-426; `name` added to the partition since the
    reference ran per-strategy tables)."""
    w = Window.partitionBy("period", "name").orderBy("date")
    return trailing.withColumn(
        "value",
        F.exp(F.sum(F.log(F.col("percent_change") + 1)).over(w)) - 1,
    )
