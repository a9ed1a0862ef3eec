"""TVL analytics (aave_transform.py:245-269).

tvl = atoken_supply * asset_price; change vs previous day with
self-defaulting LAG (W5: IFNULL(LAG(tvl), tvl)) and NULLIF-guarded
percent change. Windows partitioned by ``name`` (SURVEY.md §2.5). The
incremental step (pipelines/incremental.py) carries the previous tvl as
state and shares ``tvl_change``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def tvl_change(tvl: Column, prev: Column) -> tuple[Column, Column]:
    """(change_tvl, percent_change) of ``tvl`` against the previous day."""
    change = tvl - prev
    pct = (
        F.coalesce(
            change / F.when(tvl == 0, F.lit(None)).otherwise(tvl),
            F.lit(0.0),
        )
        * 100
    )
    return change.alias("change_tvl"), pct.alias("percent_change")


def tvl(raw: DataFrame, ds: str | None = None) -> DataFrame:
    w = Window.partitionBy("name").orderBy("date")
    df = raw
    if ds is not None:
        df = df.filter(F.col("date") <= F.lit(ds))
    df = df.select(
        "date", "name", (F.col("atoken_supply") * F.col("asset_price")).alias("tvl")
    )
    tvl_ = F.col("tvl")
    prev = F.coalesce(F.lag("tvl").over(w), tvl_)
    return df.select("date", "name", "tvl", *tvl_change(tvl_, prev))
