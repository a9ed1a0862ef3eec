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

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import LongType, StructField, StructType

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


def _spark_reads_as_arrow(t: pa.DataType) -> bool:
    """True unless ``t`` (or a field nested in it) is one Spark reads
    back as a different type than ``from_arrow_type`` maps it to:
    nanosecond timestamps (a nested one reads as long; INT96 storage
    reads as timestamp), durations (long) and nulls (int)."""
    if pa.types.is_nested(t):
        return all(_spark_reads_as_arrow(t.field(i).type) for i in range(t.num_fields))
    return not (
        (pa.types.is_timestamp(t) and t.unit == "ns")
        or pa.types.is_duration(t)
        or pa.types.is_null(t)
    )


def _footer_schema(path: str) -> StructType | None:
    """The schema Spark infers for one parquet file under
    ``nanosAsLong`` and ``inferTimestampNTZ=false``, read from the
    file's footer instead of by a Spark job; None where the footer
    holds a type this mapping does not settle."""
    parquet = pq.read_metadata(path).schema
    int64 = {
        parquet.column(i).path
        for i in range(len(parquet))
        if parquet.column(i).physical_type == "INT64"
    }
    fields = []
    for f in parquet.to_arrow_schema():
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns" and f.name in int64:
            spark_type = LongType()  # as nanosAsLong reads it
        elif not _spark_reads_as_arrow(f.type):
            return None
        else:
            try:
                spark_type = from_arrow_type(f.type, prefer_timestamp_ntz=False)
            except TypeError:  # unsigned ints
                return None
        fields.append(StructField(f.name, spark_type, f.nullable))
    return StructType(fields)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table from a scale-factor directory.

    Supports both the driver's single-file layout (``{name}.parquet``)
    and a partitioned-directory layout (``{name}/``).

    A single file is read with the schema its parquet footer gives
    (pyarrow's ``read_metadata`` mapped by ``from_arrow_type``), so the
    read starts no Spark job; letting Spark infer it costs one job per
    call. The footer rule reproduces Spark's inference:
    ``timestamp[ns]`` maps to long, as ``nanosAsLong`` reads it, and
    other timestamps map to TIMESTAMP. A footer type the mapping does
    not settle (unsigned ints, INT96 or nested nanosecond timestamps,
    durations, null columns) falls back to Spark's inference, as does
    the partitioned-directory layout.

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
    path = single if os.path.exists(single) else os.path.join(sf_dir, name)
    schema = _footer_schema(path) if os.path.isfile(path) else None
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
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
