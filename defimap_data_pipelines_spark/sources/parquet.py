"""Parquet/lakehouse readers.

Replaces the reference's storage tiers (SURVEY.md §1.1): per-day GCS CSVs
(bronze, aave_extract.py:662-667) and BigQuery table-per-strategy (silver,
aave_extract.py:699) become partitioned parquet tables; the `name`
partition column replaces table-per-strategy so partition pruning does
what manual table selection did.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def dir_tag(path: str) -> str:
    """Ten hex digits of md5 over the FULL path, so two directories
    with the same basename never share a name derived from them."""
    return hashlib.md5(path.rstrip("/").encode()).hexdigest()[:10]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table from a scale-factor directory.

    Supports both the driver's single-file layout (``{name}.parquet``)
    and a partitioned-directory layout (``{name}/``).

    Nanosecond parquet timestamps (events.ts) are unreadable by Spark 4
    by default; we read them as long via the legacy conf and convert to
    TimestampType with exact integer microseconds (ts div 1000 — the
    same floor-truncation DuckDB applies casting TIMESTAMP_NS ->
    TIMESTAMP).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # pin wall-clock semantics: date_trunc/hour bucketing on LTZ
    # timestamps must agree with the oracle's tz-naive arithmetic even
    # if the calling session's timezone isn't UTC
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    single = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(
        single if os.path.exists(single) else os.path.join(sf_dir, name)
    )
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # The testdata's timestamps are parquet micros with isAdjustedToUTC=false,
    # which a default Spark 4 session reads as TIMESTAMP_NTZ (the calling
    # session may not share our inferTimestampNTZ=false override). Our
    # operators and the DuckDB oracle both treat the wall clock as UTC, so
    # cast NTZ -> TIMESTAMP here; with the session tz pinned to UTC above
    # this maps each wall-clock value to the identical instant.
    ntz_cols = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    if ntz_cols:
        from pyspark.sql import functions as F

        for c in ntz_cols:
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df
