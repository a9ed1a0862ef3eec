"""The transform DAG as one composition (SURVEY.md §3.2).

The reference runs 8+ BigQuery round-trips per strategy per day, each
re-scanning raw_data (gotk, tvl, total_return, trailing = 6 more gotk
scans, compounded return, risk). Here the raw frame is scanned once,
cached, and every derived table is a DataFrame over it; trailing
returns share one GOTK base (operators/trailing.py rebase). All windows
partition by ``name`` so strategies parallelize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from defimap_data_pipelines_spark.config import STABLECOINS
from defimap_data_pipelines_spark.operators.cachereg import pin
from defimap_data_pipelines_spark.operators.growth import (
    capital_gotk,
    growth_of_10k,
    price_gotk,
)
from defimap_data_pipelines_spark.operators.risk import risk_metrics
from defimap_data_pipelines_spark.operators.trailing import (
    compounded_return,
    trailing_returns,
)
from defimap_data_pipelines_spark.operators.tvl import tvl


def return_1y_with_fallback(trailing: DataFrame, ds: str) -> DataFrame:
    """A7+A8: compounded 1y return at ds, ytd fallback when 0.0."""
    c = compounded_return(trailing).filter(
        (F.col("date") == F.lit(ds).cast("date"))
        & F.col("period").isin("1y", "ytd")
    )
    v1y = F.max(F.when(F.col("period") == "1y", F.col("value")))
    vytd = F.max(F.when(F.col("period") == "ytd", F.col("value")))
    return c.groupBy("name").agg(
        F.when(v1y == 0.0, vytd).otherwise(v1y).alias("return_1y")
    )


def run_transform(
    raw: DataFrame,
    ds: str,
    start_date: str,
    benchmark_price: DataFrame | None = None,
    stablecoins: list[str] | None = None,
) -> dict[str, DataFrame]:
    """raw_data -> all derived tables for analysis date ``ds``.

    Returns {growth_of_10k, tvl, pre_total_return, pre_trailing_return,
    pre_risk} keyed like the reference's BigQuery datasets
    (aave_transform.py:28-34). When ``raw`` holds a stablecoin
    strategy, every strategy is benchmarked against the capital GOTK of
    the first stable name in sort order. Otherwise ``benchmark_price``,
    a (date, name, price_usd) frame such as the wbtc price, is the
    benchmark through its price GOTK; with neither, ValueError.
    """
    import datetime as dt

    stablecoins = stablecoins or STABLECOINS
    raw = pin(raw.filter(F.col("date") <= F.lit(ds)).cache())

    gotk = growth_of_10k(raw, start_date, ds)
    tvl_df = tvl(raw, ds)
    total_return = growth_of_10k(raw, monthly=True)
    trailing = trailing_returns(raw, ds)

    last_year = (
        dt.date.fromisoformat(ds) - dt.timedelta(days=365)
    ).isoformat()
    gotk_1y = growth_of_10k(raw, last_year, ds)

    # benchmark branch (aave_transform.py:41-90): one stable strategy's
    # capital GOTK if there is one, else the price GOTK
    stable_names = [
        r.name
        for r in raw.select("name").distinct().collect()
        if (r.name.split("_")[1] if "_" in r.name else r.name) in stablecoins
    ]
    if stable_names:
        bench = capital_gotk(
            raw.filter(
                (F.col("name") == min(stable_names))
                & F.col("date").between(F.lit(last_year), F.lit(ds))
            )
        )
    elif benchmark_price is not None:
        bench = price_gotk(
            benchmark_price.filter(F.col("date").between(F.lit(last_year), F.lit(ds)))
        )
    else:
        raise ValueError(
            "run_transform needs a benchmark: raw has no stablecoin "
            f"strategy (stablecoins={stablecoins}) and no benchmark_price"
        )

    risk = risk_metrics(
        gotk_1y, bench, return_1y_with_fallback(trailing, ds), ds
    )

    return {
        "growth_of_10k": gotk,
        "tvl": tvl_df,
        "pre_total_return": total_return,
        "pre_trailing_return": trailing,
        "pre_risk": risk,
    }


def write_derived(
    tables: dict[str, DataFrame], root: str, mode: str = "overwrite"
) -> None:
    """Materialize derived tables partitioned by name (replaces the
    reference's WRITE_TRUNCATE-per-strategy-table, S9)."""
    for name, df in tables.items():
        df.write.mode(mode).partitionBy("name").parquet(f"{root}/{name}")
