"""Growth-of-$10k (GOTK): the reference's flagship transform, and the one
place its formulas are written.

Semantics: aave_transform.py:93-130 (get_gotk_query) and :133-167
(get_total_return_query — identical machinery with a calendar-month
window partition). The two queries differ only in ``PARTITION BY
FORMAT_DATE('%Y-%m', date)``, so ``monthly=`` covers both (SURVEY.md
§3.2). The reference's benchmark branches (:43-89) and trailing returns
(:170-216) are copies of the same query.

The formulas, each defined once below and shared by every GOTK consumer
(``growth_of_10k``, ``capital_gotk``, ``price_gotk``,
operators/trailing.py and the incremental steps in
pipelines/incremental.py):

    cap_t  = P / p0 * li_t / li0 * p_t                       capital
    q_t    = round(cap_t * (apy_t/365/100) / ap_t * SCALE)   reward, bigint
    edi_t  = (sum q)/SCALE * ap_t + cap_t                    end day
    sdi_t  = IFNULL(LAG(edi), P);  pc_t = edi_t / sdi_t - 1  start day

Exactness contract: the batch windows and the incremental O(1)-state
update build these same expression trees, operand for operand, so their
doubles agree bit for bit (tests/test_incremental.py). Reordering an
operand here changes every consumer together; the DuckDB oracles in
plans/queries.py are written independently and catch that.

Scale notes:
- Every window is ``partitionBy("name")``: at 100 TB each strategy's
  daily series is a few thousand rows, so window state stays tiny and
  strategies parallelize across executors. No global-order window.
- The AAVE-reward running total (SUM ... ROWS UNBOUNDED PRECEDING,
  aave_transform.py:107-110) is a cumulative float sum in the
  reference. Here each summand is quantized to integer micro-units, so
  the cumulative sum is exact integer arithmetic, bit-reproducible at
  any parallelism and across engines. Error bound: 5e-7 per day,
  linear in days.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from defimap_data_pipelines_spark.config import INITIAL_PRINCIPAL, QUANT_SCALE
from defimap_data_pipelines_spark.functions.scalar import quantize


def _windows(monthly: bool = False):
    """(w, wcum): the per-series window and its running frame; a
    ``monthly`` series restarts each FORMAT_DATE('%Y-%m', date)
    (aave_transform.py:138)."""
    part = [F.col("name")] + ([F.date_format("date", "yyyy-MM")] if monthly else [])
    w = Window.partitionBy(*part).orderBy("date")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return w, wcum


def capital(p0: Column, li0: Column) -> Column:
    """End-day capital from the series' first asset price and liquidity
    index (aave_transform.py:118-124)."""
    return (
        F.lit(INITIAL_PRINCIPAL)
        / p0
        * F.col("liquidity_index")
        / li0
        * F.col("asset_price")
    )


def reward_q(cap: Column) -> Column:
    """The day's AAVE reward in integer micro-units
    (aave_transform.py:107-116)."""
    return quantize(cap * (F.col("aave_apy") / 365 / 100) / F.col("aave_price"))


def end_day_investment(cumq: Column, ap: Column, cap: Column) -> Column:
    """Reward total valued at the day's AAVE price plus capital
    (aave_transform.py:102-104)."""
    return cumq / float(QUANT_SCALE) * ap + cap


def ratio_change(edi: Column, sdi: Column) -> Column:
    """The GOTK percent change, edi/sdi - 1."""
    return edi / sdi - 1


def _with_start_day(
    df: DataFrame,
    w: Window,
    change: Callable[[Column, Column], Column] = ratio_change,
) -> DataFrame:
    """(date, name, start_day_investment, end_day_investment,
    percent_change): LAG + IFNULL(…, 10000) over ``df``'s
    end_day_investment (aave_transform.py:95-100)."""
    edi = F.col("end_day_investment")
    sdi = F.coalesce(F.lag("end_day_investment").over(w), F.lit(INITIAL_PRINCIPAL))
    return df.select(
        "date",
        "name",
        sdi.alias("start_day_investment"),
        "end_day_investment",
        change(edi, sdi).alias("percent_change"),
    )


def gotk_base(
    raw: DataFrame,
    start_date: str | None = None,
    end_date: str | None = None,
    monthly: bool = False,
) -> DataFrame:
    """The shared GOTK machinery over RAW_SCHEMA rows, per series.

    Returns (date, name, p0, li0, cap, ap, q, cumq): the series' first
    asset price and liquidity index, capital, aave_price, the quantized
    reward and its running total. With no dates it covers the full
    history (the incremental bootstrap).
    """
    df = raw
    if start_date is not None and end_date is not None:
        df = df.filter(F.col("date").between(F.lit(start_date), F.lit(end_date)))
    elif end_date is not None:
        df = df.filter(F.col("date") <= F.lit(end_date))
    _, wcum = _windows(monthly)
    p0 = F.first("asset_price").over(wcum)
    li0 = F.first("liquidity_index").over(wcum)
    df = df.select(
        "date", "name", p0.alias("p0"), li0.alias("li0"),
        capital(p0, li0).alias("cap"), "aave_apy", "aave_price",
    )
    df = df.select(
        "date", "name", "p0", "li0", "cap",
        F.col("aave_price").alias("ap"), reward_q(F.col("cap")).alias("q"),
    )
    return df.withColumn("cumq", F.sum("q").over(wcum))


def growth_of_10k(
    raw: DataFrame,
    start_date: str | None = None,
    end_date: str | None = None,
    monthly: bool = False,
) -> DataFrame:
    """Compute GOTK from a RAW_SCHEMA frame, per ``name``.

    Returns (date, name, start_day_investment, end_day_investment,
    percent_change); with ``monthly=True`` returns the pre_total_return
    shape (date, name, percent_change), compounding reset each calendar
    month (aave_transform.py:133-167).
    """
    edi = end_day_investment(F.col("cumq"), F.col("ap"), F.col("cap"))
    df = gotk_base(raw, start_date, end_date, monthly).select(
        "date", "name", edi.alias("end_day_investment")
    )
    out = _with_start_day(df, _windows(monthly)[0])
    if monthly:
        return out.select("date", "name", "percent_change")
    return out


def price_gotk(price: DataFrame) -> DataFrame:
    """Price-only GOTK over a token_price frame (date, name, price_usd).

    The volatile-benchmark branch: aave_transform.py:63-89. Note the
    reference computes percent_change as SAFE_DIVIDE(edi - sdi, sdi)
    here (not edi/sdi - 1) — replicated exactly.
    """
    w, wcum = _windows()
    df = price.select(
        "date",
        "name",
        (
            (F.lit(INITIAL_PRINCIPAL) / F.first("price_usd").over(wcum))
            * F.col("price_usd")
        ).alias("end_day_investment"),
    )
    return _with_start_day(df, w, lambda edi, sdi: F.try_divide(edi - sdi, sdi))


def capital_gotk(raw: DataFrame) -> DataFrame:
    """Capital-only GOTK (no AAVE reward) over RAW_SCHEMA rows.

    The stablecoin-benchmark branch: aave_transform.py:43-62.
    """
    df = gotk_base(raw).select("date", "name", F.col("cap").alias("end_day_investment"))
    return _with_start_day(df, _windows()[0])
