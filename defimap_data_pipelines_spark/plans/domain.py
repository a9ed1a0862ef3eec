"""Deterministic RAW_SCHEMA-shaped series derived from the driver's
testdata, used to exercise the domain analytics (GOTK/TVL/trailing/risk)
against a DuckDB oracle.

The testdata has no DeFi tables, so we derive a daily per-``name`` series
from ``orders`` (date grain = o_orderdate, name = o_orderpriority). Every
column is constructed so the value is bit-reproducible across engines and
parallelism:

- money aggregation goes through exact integer cents
  (SUM(ROUND(price*100)::BIGINT)) — order-independent;
- derived doubles come from single divisions of those exact integers;
- liquidity_index is a pure function of the date.

The SQL mirror (RAW_SERIES_SQL) is the same expression tree in DuckDB
dialect; keep the two in lockstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from defimap_data_pipelines_spark.operators.cachereg import shared_frame
from defimap_data_pipelines_spark.sources.parquet import read_table

EPOCH = "1995-01-01"


# six domain queries share this frame, so one cached materialization
# serves them all instead of re-running the scan+groupBy per query
@shared_frame
def orders_raw_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    g = o.groupBy(
        F.to_date("o_orderdate").alias("date"),
        F.col("o_orderpriority").alias("name"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return g.select(
        "date",
        "name",
        (F.col("cnt") / 10.0).alias("stake_apy"),
        F.col("cnt").cast("double").alias("aave_apy"),
        (F.col("cnt") / 10.0 + F.col("cnt").cast("double")).alias("total_apy"),
        (
            F.lit(1.0) + F.datediff(F.col("date"), F.lit(EPOCH).cast("date")) / 10000.0
        ).alias("liquidity_index"),
        (F.col("cents") / 100.0).alias("atoken_supply"),
        # bounded price series: raw daily averages of order totals are so
        # volatile that (1+avg_pc)^365 overflows any rounding tolerance;
        # mod-of-exact-cents keeps prices in [100, 110) / [50, 58) while
        # staying bit-deterministic in both engines
        (100.0 + (F.col("cents") % 997) / 100.0).alias("asset_price"),
        (50.0 + (F.col("cents") % 773) / 100.0).alias("aave_price"),
    ).cache()


RAW_SERIES_SQL = f"""
    SELECT date,
           name,
           cnt / 10.0 AS stake_apy,
           CAST(cnt AS DOUBLE) AS aave_apy,
           cnt / 10.0 + CAST(cnt AS DOUBLE) AS total_apy,
           1.0 + (date - DATE '{EPOCH}') / 10000.0 AS liquidity_index,
           cents / 100.0 AS atoken_supply,
           100.0 + (cents % 997) / 100.0 AS asset_price,
           50.0 + (cents % 773) / 100.0 AS aave_price
    FROM (
        SELECT CAST(o_orderdate AS DATE) AS date,
               o_orderpriority AS name,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents,
               COUNT(*) AS cnt
        FROM orders
        GROUP BY 1, 2
    )
"""
