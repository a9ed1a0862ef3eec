"""Writers: partitioned parquet sinks with idempotent range re-load.

The reference's idempotency pattern (SURVEY.md S10) is
delete-date-range-then-append (aave_extract.py:702-716,
aave_transform.py:484-497). The Spark-native equivalent is dynamic
partition overwrite: write the recomputed range with
``partitionOverwriteMode=dynamic`` so only the partitions present in the
new data are replaced — re-running a range is a no-op-equivalent, and at
100 TB only the touched ``(name, date)`` partitions rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str] = ("name",),
    mode: str = "overwrite",
) -> None:
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def idempotent_replace_range(
    df: DataFrame,
    path: str,
    partition_cols: list[str] = ("name", "date"),
) -> None:
    """Replace exactly the partitions present in ``df`` (S10 semantics).

    Equivalent to BigQuery DELETE-range + WRITE_APPEND, and to Delta's
    ``replaceWhere``, but expressed with vanilla parquet dynamic
    partition overwrite so it has no library dependency. The mode is a
    per-write option, so the session conf (and any other thread's full
    overwrite) is left alone.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    properties: dict[str, str] | None = None,
) -> None:  # pragma: no cover - needs a live database
    """Datamart sink (aave_load.py:73-84 et al. -> df.write.jdbc)."""
    df.write.jdbc(url=url, table=table, mode=mode, properties=properties or {})


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """Dimension lookup read (aave_load.py:41-51); callers broadcast it."""
    return spark.read.jdbc(url=url, table=table, properties=properties or {})


def execute_jdbc(spark: SparkSession, url: str, statements: list[str]) -> None:
    """Run raw DDL/DML statements on a JDBC database via the driver
    JVM's DriverManager — the side-channel the reference's load DAG
    needs beyond frame writes: keyed DELETEs before append
    (aave_load.py:73-78, 108-113, 147-152) and single-row dimension
    UPDATEs (aave_load.py:121-128, 160-167). Statement strings are
    driver-composed from trusted pipeline values (strategy ids/slugs),
    mirroring the reference's f-string SQL.

    Works against any JDBC URL on the Spark classpath; tests use
    embedded Derby (shipped with Spark)."""
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        try:
            for s in statements:
                st.execute(s)
        finally:
            st.close()
    finally:
        conn.close()


def delete_then_append_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    key_col: str,
    properties: dict[str, str] | None = None,
) -> None:
    """The reference's datamart idempotency unit (S12): DELETE every
    row whose ``key_col`` appears in ``df``, then append ``df`` —
    re-running a load replaces its own slice exactly
    (aave_load.py:73-84). The key set is tiny by contract (strategy
    ids), so the distinct-collect is a scalar driver fetch."""
    keys = [r[0] for r in df.select(key_col).distinct().collect()]
    if keys:
        quoted = ", ".join("'" + str(k).replace("'", "''") + "'" for k in keys)
        execute_jdbc(
            df.sparkSession,
            url,
            [f"DELETE FROM {table} WHERE {key_col} IN ({quoted})"],
        )
    write_jdbc(df, url, table, mode="append", properties=properties)


def merge_upsert(
    updates: DataFrame,
    path: str,
    keys: list[str],
    partition_cols: list[str] = ("name",),
) -> None:
    """Keyed MERGE (upsert) on a plain-parquet table: rows in
    ``updates`` replace existing rows with the same ``keys``; all other
    existing rows survive — Delta's ``MERGE WHEN MATCHED UPDATE /
    WHEN NOT MATCHED INSERT`` for the update-everything case, without
    the Delta dependency (delta-spark is not installed here; see
    SURVEY.md S10).

    Scale shape: only the PARTITIONS containing updated keys are read
    and rewritten — the partition values present in ``updates`` prune
    the read (partition pruning on the scan), survivors are found with
    one anti-join per touched partition set, and dynamic partition
    overwrite writes back just those partitions. Untouched partitions
    are never opened. The anti-join is keyed by ``keys`` (uniform);
    at 100 TB the cost is proportional to the touched slice, not the
    table.
    """
    import os

    from pyspark.sql import functions as F

    spark = updates.sparkSession
    if not os.path.exists(path):
        write_partitioned(updates, path, partition_cols, mode="overwrite")
        return
    # restrict the existing read to partitions the updates touch
    touched = updates.select(*partition_cols).distinct()
    existing = spark.read.parquet(path).join(
        F.broadcast(touched), list(partition_cols)
    )
    survivors = existing.join(updates.select(*keys), keys, "left_anti")
    merged = survivors.unionByName(updates.select(*survivors.columns))
    # the anti-join plan reads `path` lazily; writing over the same
    # path mid-plan would clobber its own input — materialize first
    merged = merged.localCheckpoint()
    idempotent_replace_range(merged, path, partition_cols)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Write parquet CLUSTERED on ``cluster_cols``: rows are
    repartitioned by the cluster key and sorted by it within each
    task, so every output file covers a narrow key range and its
    parquet min/max footer statistics actually prune.

    This is the layout lever behind "the filter reached the scan":
    predicate pushdown can only skip a file whose footer range
    excludes the predicate, and an unsorted write scatters every key
    across every file (footer range = everything, pruning = nothing).
    At 100 TB the difference is reading one file vs a thousand for a
    point/range query — the vanilla-parquet stand-in for Delta's
    OPTIMIZE ZORDER (single-dimension form; compose keys
    most-selective-first for the lexicographic approximation).
    Verified in tests/test_scale_layout.py by reading the footers
    back with pyarrow and asserting disjoint-ish per-file ranges.
    """
    out = df.repartitionByRange(*cluster_cols).sortWithinPartitions(
        *cluster_cols
    )
    w = out.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    partition_cols: list[str] | None = None,
    sort_cols: list[str] | None = None,
) -> dict:
    """Table-maintenance compaction: rewrite a parquet directory whose
    long-running incremental appends have accumulated many small files
    into ~``target_bytes`` files, preserving the partition layout and
    (optionally) re-clustering rows by ``sort_cols`` so footer min/max
    pruning keeps working after the rewrite.

    Small files are the classic slow poison of incremental lakehouse
    tables (every append adds a file per partition per task; a year of
    daily appends = thousands of footers per scan, task-per-file
    scheduling, and dead pushdown). This is the vanilla-parquet
    stand-in for Delta's OPTIMIZE: stage the compacted copy next to
    the table, then swap directories via two renames. Readers that
    hold an open listing see a consistent layout, but the swap is NOT
    crash-atomic: dying between the two renames leaves the table at
    ``<path>._pre_compact`` and nothing at ``path`` (POSIX cannot
    atomically replace a non-empty directory). Recovery is a single
    rename back; a real lakehouse needs a commit log (Delta/Iceberg)
    for this, which is exactly why they exist.

    LOCAL FILESYSTEM PATHS ONLY: ``os.walk``/``os.rename`` don't
    speak s3://, hdfs://, or file:// URIs — a scheme-qualified path
    would silently list zero files and then fail the rename, so it is
    rejected up front (round-4 advice item).

    Returns {files_before, files_after, bytes} for observability.
    The file-count target derives from the table's actual byte size
    (one directory listing — metadata only, no data read).
    """
    import math
    import os
    import re
    import shutil

    if re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", path):
        raise ValueError(
            "compact_small_files operates on local filesystem paths "
            f"only (os.walk/os.rename cannot reach {path!r}); for "
            "object stores use the engine-native OPTIMIZE of a table "
            "format with a commit log"
        )

    def _list(p):
        out = []
        for root, _dirs, files in os.walk(p):
            out += [os.path.join(root, f) for f in files
                    if f.endswith(".parquet")]
        return out

    before = _list(path)
    total = sum(os.path.getsize(f) for f in before)
    n_files = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(path)
    if sort_cols:
        out = df.repartitionByRange(n_files, *sort_cols)
        out = out.sortWithinPartitions(*sort_cols)
    else:
        out = df.repartition(n_files)
    staged = path.rstrip("/") + "._compacting"
    w = out.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(staged)
    old = path.rstrip("/") + "._pre_compact"
    os.rename(path, old)
    os.rename(staged, path)
    shutil.rmtree(old)
    return {
        "files_before": len(before),
        "files_after": len(_list(path)),
        "bytes": total,
    }
