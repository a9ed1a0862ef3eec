"""Growth-of-$10k (GOTK) analytics — the reference's flagship transform.

Semantics: aave_transform.py:93-130 (get_gotk_query) and :133-167
(get_total_return_query — identical machinery with a calendar-month
window partition). The two queries differ only in ``PARTITION BY
FORMAT_DATE('%Y-%m', date)``, so one function with ``monthly=`` covers
both (SURVEY.md §3.2).

Scale notes:
- The reference runs one query per strategy table, giving it implicit
  per-strategy windows. Here every window is ``partitionBy("name")`` —
  at 100 TB each strategy's daily series is a few thousand rows, so the
  window state per partition stays tiny and strategies parallelize
  across executors. No global-order (single-partition) window exists in
  this module.
- The AAVE-reward running total (SUM ... ROWS UNBOUNDED PRECEDING,
  aave_transform.py:107-110) is a cumulative float sum in the
  reference. Here each summand is quantized to integer micro-units, so
  the cumulative sum is exact integer arithmetic, bit-reproducible at
  any parallelism and across engines (the correctness oracles rely on
  this). Error bound: 5e-7 per day, linear in days.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from defimap_data_pipelines_spark.config import INITIAL_PRINCIPAL, QUANT_SCALE


def _month(col: str = "date") -> Column:
    """FORMAT_DATE('%Y-%m', date) — aave_transform.py:138."""
    return F.date_format(F.col(col), "yyyy-MM")


def _windows(monthly: bool):
    part = [F.col("name")] + ([_month()] if monthly else [])
    w = Window.partitionBy(*part).orderBy("date")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return w, wcum


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
    df = raw
    if start_date is not None and end_date is not None:
        df = df.filter(F.col("date").between(F.lit(start_date), F.lit(end_date)))
    elif end_date is not None:
        df = df.filter(F.col("date") <= F.lit(end_date))

    w, wcum = _windows(monthly)

    # innermost select: reward_rate + end_day_capital (aave_transform.py:114-124)
    capital = (
        F.lit(INITIAL_PRINCIPAL)
        / F.first("asset_price").over(wcum)
        * F.col("liquidity_index")
        / F.first("liquidity_index").over(wcum)
        * F.col("asset_price")
    )
    df = df.select(
        "date",
        "name",
        (F.col("aave_apy") / 365 / 100).alias("reward_rate"),
        capital.alias("end_day_capital"),
        "aave_price",
    )

    # running reward accrual (aave_transform.py:107-110)
    contrib = F.col("end_day_capital") * F.col("reward_rate") / F.col("aave_price")
    q = F.round(contrib * float(QUANT_SCALE)).cast("long")
    reward = F.sum(q).over(wcum) / float(QUANT_SCALE)
    df = df.select(
        "date", "name", reward.alias("end_day_aave_reward"), "end_day_capital", "aave_price"
    )

    # end_day_investment (aave_transform.py:102-104)
    df = df.select(
        "date",
        "name",
        (
            F.col("end_day_aave_reward") * F.col("aave_price") + F.col("end_day_capital")
        ).alias("end_day_investment"),
    )

    # outermost: LAG + IFNULL(…, 10000) (aave_transform.py:95-100 / :136-138)
    sdi = F.coalesce(F.lag("end_day_investment").over(w), F.lit(INITIAL_PRINCIPAL))
    pc = (F.col("end_day_investment") / sdi - 1).alias("percent_change")
    if monthly:
        return df.select("date", "name", pc)
    return df.select(
        "date",
        "name",
        sdi.alias("start_day_investment"),
        "end_day_investment",
        pc,
    )


def price_gotk(price: DataFrame) -> DataFrame:
    """Price-only GOTK over a token_price frame (date, name, price_usd).

    The volatile-benchmark branch: aave_transform.py:63-89. Note the
    reference computes percent_change as SAFE_DIVIDE(edi - sdi, sdi)
    here (not edi/sdi - 1) — replicated exactly.
    """
    w, wcum = _windows(monthly=False)
    df = price.select(
        "date",
        "name",
        (
            (F.lit(INITIAL_PRINCIPAL) / F.first("price_usd").over(wcum))
            * F.col("price_usd")
        ).alias("end_day_investment"),
    )
    sdi = F.coalesce(F.lag("end_day_investment").over(w), F.lit(INITIAL_PRINCIPAL))
    df = df.select(
        "date",
        "name",
        sdi.alias("start_day_investment"),
        "end_day_investment",
    )
    return df.withColumn(
        "percent_change",
        F.try_divide(
            F.col("end_day_investment") - F.col("start_day_investment"),
            F.col("start_day_investment"),
        ),
    )


def capital_gotk(raw: DataFrame) -> DataFrame:
    """Capital-only GOTK (no AAVE reward) over RAW_SCHEMA rows.

    The stablecoin-benchmark branch: aave_transform.py:43-62.
    """
    w, wcum = _windows(monthly=False)
    edi = (
        F.lit(INITIAL_PRINCIPAL)
        / F.first("asset_price").over(wcum)
        * F.col("liquidity_index")
        / F.first("liquidity_index").over(wcum)
        * F.col("asset_price")
    )
    df = raw.select("date", "name", edi.alias("end_day_investment"))
    sdi = F.coalesce(F.lag("end_day_investment").over(w), F.lit(INITIAL_PRINCIPAL))
    return df.select(
        "date",
        "name",
        sdi.alias("start_day_investment"),
        "end_day_investment",
        (F.col("end_day_investment") / sdi - 1).alias("percent_change"),
    )

