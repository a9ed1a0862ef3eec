"""Scalar expression helpers.

Maps the reference's BigQuery scalar functions onto Spark expressions
(SURVEY.md §2.2); IFNULL (aave_transform.py:47,75,98,138,254) and
SAFE_DIVIDE (:70) are ``F.coalesce`` and ``F.try_divide`` directly:
- NULLIF(x,0)  (aave_transform.py:255)              -> nullif_zero
- APR -> APY compounding (aave_extract.py:336-342)

Plus fixed-point helpers used to make order-sensitive float accumulations
exactly reproducible:

  Shuffle/merge order of a distributed SUM over doubles is
  non-deterministic, so two runs (or two engines) can differ in the last
  ulps. Where a summed value feeds an exact-comparison oracle, we quantize
  the summand to integer micro-units (bigint), sum exactly, and divide
  back. Integer sums are associative, so the result is bit-stable at any
  parallelism — this is the same trick production pipelines use for
  money columns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from defimap_data_pipelines_spark.config import QUANT_SCALE


def nullif_zero(col: Column) -> Column:
    """NULLIF(col, 0)."""
    return F.when(col == 0, F.lit(None)).otherwise(col)


def apr_to_apy(apr_percent: Column, periods_per_year: int = 365) -> Column:
    """APR(%) -> APY(%) by periodic compounding (aave_extract.py:336-342)."""
    rate = apr_percent / 100.0 / periods_per_year
    return 100.0 * (F.pow(1.0 + rate, float(periods_per_year)) - 1.0)


def quantize(col: Column, scale: int = QUANT_SCALE) -> Column:
    """Quantize a double to integer units of 1/scale (exactly summable)."""
    return F.round(col * float(scale)).cast("long")
