"""Local replica of the driver's correctness gate.

Runs each registered query on Spark AND its oracle SQL on DuckDB at a
given SF dir, then compares row count, column names/dtypes, and exact
values (rows sorted by all columns, columns sorted by name) — mirroring
the driver's order-insensitive value hash. Each query runs once; its
Spark collect is timed and the seconds are printed beside its verdict,
with their sum on the final line. Before the sweep the first listed
query runs once, untimed and unprinted, so session and JIT start-up
are not charged to it. A query that raises counts as a
mismatch and the sweep carries on; the exit code is 1 on any mismatch.

Usage: python tools/parity.py [--vanilla] [--window] [sf_dir] [query ...]
  --window: run exactly the driver's 50-query checked window
"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd

from defimap_data_pipelines_spark.session import get_spark
from defimap_data_pipelines_spark.plans.queries import ORACLE, QUERIES
from defimap_data_pipelines_spark.sources.parquet import TESTDATA_TABLES


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        if df[c].dtype == object:
            # date objects -> iso strings for stable sorting
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def canon_type(t) -> str:
    """Collapse an Arrow type to the class the driver's hash distinguishes.

    The round-3 driver hash-failed value-identical results because DuckDB's
    SUM(BIGINT) returns decimal128(38,0) while Spark emits int64 — a class
    the old string-compare could not see.  Decimal is therefore its own
    class (never silently equal to int/float); integer widths and string
    flavors collapse because the driver demonstrably accepts those.
    """
    import pyarrow as pa

    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon_type(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{f.name}:{canon_type(f.type)}" for f in t)
        return f"struct<{inner}>"
    return str(t)


def canon_spark_type(t) -> str:
    """Spark SQL type → the same canonical classes, read off the schema so
    the query is not executed a second time."""
    from pyspark.sql import types as T

    if isinstance(t, T.DecimalType):
        return f"decimal({t.precision},{t.scale})"
    if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(t, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(t, T.StringType):
        return "str"
    if isinstance(t, T.DateType):
        return "date"
    if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(t, T.BooleanType):
        return "bool"
    if isinstance(t, T.BinaryType):
        return "binary"
    if isinstance(t, T.ArrayType):
        return f"list<{canon_spark_type(t.elementType)}>"
    if isinstance(t, T.StructType):
        inner = ",".join(f"{f.name}:{canon_spark_type(f.dataType)}" for f in t.fields)
        return f"struct<{inner}>"
    return t.simpleString()


def dtype_check(name: str, spark_df, oracle_arrow) -> bool:
    """Arrow-level dtype agreement — the piece the driver hash sees and
    string-value comparison cannot (VERDICT r3 'What's wrong' #2)."""
    stypes = {f.name: canon_spark_type(f.dataType) for f in spark_df.schema.fields}
    otypes = {f.name: canon_type(f.type) for f in oracle_arrow.schema}
    ok = True
    for c in sorted(set(stypes) & set(otypes)):
        if stypes[c] != otypes[c]:
            print(f"  {name}: DTYPE MISMATCH col '{c}' spark={stypes[c]} duck={otypes[c]}")
            ok = False
    for side, types in (("spark", stypes), ("duck", otypes)):
        decs = [c for c, t in types.items() if t.startswith("decimal")]
        if decs:
            print(f"  {name}: {side} emits decimal column(s) {decs} — driver hash hazard")
            ok = False
    return ok


def timed_compare(name: str, spark, con, sf_dir: str) -> tuple[bool, float]:
    """(matches its oracle, seconds of the Spark collect)."""
    t0 = time.perf_counter()
    spark_df = QUERIES[name](spark, sf_dir)
    sdf = spark_df.toPandas()
    secs = time.perf_counter() - t0
    if name not in ORACLE:
        print(f"  {name}: rows-only ({len(sdf)} rows, {secs:.2f} s) — no oracle")
        return True, secs
    oracle_arrow = con.execute(ORACLE[name]).arrow()
    dtypes_ok = dtype_check(name, spark_df, oracle_arrow)
    odf = oracle_arrow.to_pandas()
    a, b = normalize(sdf), normalize(odf)
    ok = dtypes_ok
    if list(a.columns) != list(b.columns):
        print(f"  {name}: COLUMN MISMATCH spark={list(a.columns)} duck={list(b.columns)}")
        return False, secs
    if len(a) != len(b):
        print(f"  {name}: ROWCOUNT MISMATCH spark={len(a)} duck={len(b)}")
        ok = False
    if ok:
        for c in a.columns:
            av, bv = a[c], b[c]
            if str(av.dtype).startswith("float") or str(bv.dtype).startswith("float"):
                eq = (av.fillna(-9e99) == bv.fillna(-9e99))
            else:
                eq = av.astype(str) == bv.astype(str)
            bad = (~eq).sum()
            if bad:
                ok = False
                idx = (~eq).idxmax()
                print(
                    f"  {name}: col '{c}' {bad}/{len(a)} mismatches; "
                    f"first at row {idx}: spark={av[idx]!r} duck={bv[idx]!r}"
                )
    print(f"  {name}: {'OK' if ok else 'FAIL'} ({len(a)} rows, {len(a.columns)} cols, {secs:.2f} s)")
    return ok, secs


def compare(name: str, spark, con, sf_dir: str) -> bool:
    return timed_compare(name, spark, con, sf_dir)[0]


def check(name: str, spark, con, sf_dir: str) -> tuple[bool, float]:
    """One sweep step: ``timed_compare`` with a raising query counted as
    a mismatch (0 s), so one failure does not end the sweep."""
    try:
        return timed_compare(name, spark, con, sf_dir)
    except Exception as e:
        print(f"  {name}: ERROR {type(e).__name__}: {e}")
        return False, 0.0


def warm_up(name: str, spark, sf_dir: str) -> None:
    """Run ``name`` once, untimed; a raising query is left for the
    sweep to report."""
    try:
        QUERIES[name](spark, sf_dir).toPandas()
    except Exception:
        pass


def vanilla_spark():
    """A driver-like session: default configs, no engine overrides.

    The driver runs queries() under its own plain SparkSession, so any
    behavior that depends on get_spark()'s config tuning (e.g. parquet
    TIMESTAMP_NTZ inference) passes locally but fails the gate. Running
    parity with --vanilla replicates the driver's environment.
    """
    import os

    from pyspark.sql import SparkSession

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    return (
        SparkSession.builder.appName("parity-vanilla")
        .master(f"local[{cpus}]")
        .getOrCreate()
    )


def main() -> int:
    argv = list(sys.argv[1:])
    use_vanilla = "--vanilla" in argv
    if use_vanilla:
        argv.remove("--vanilla")
    use_window = "--window" in argv
    if use_window:
        argv.remove("--window")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    if use_window:
        # exactly the driver's checked surface: the first 50 registered
        names = list(QUERIES)[:50]
    else:
        names = argv[1:] or list(QUERIES)
    spark = vanilla_spark() if use_vanilla else get_spark("parity")
    con = duck_connect(sf_dir)
    warm_up(names[0], spark, sf_dir)
    results = [check(n, spark, con, sf_dir) for n in names]
    matched = sum(ok for ok, _ in results)
    total = sum(secs for _, secs in results)
    print(f"\n{matched}/{len(names)} queries match at {sf_dir} ({total:.1f} s Spark)")
    return 0 if matched == len(names) else 1


if __name__ == "__main__":
    raise SystemExit(main())
