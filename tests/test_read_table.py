"""`sources/parquet.py::read_table` reads a single-file table with the
schema from its parquet footer: the same schema and rows as Spark's
inference, without the inference job."""

from __future__ import annotations

import glob
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from defimap_data_pipelines_spark.sources.parquet import (
    TESTDATA_TABLES,
    _footer_schema,
    read_table,
)

@pytest.fixture
def confs(spark):
    """Set session confs for one test and restore them after it."""
    saved = {}

    def set_conf(key, value):
        saved.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, value)

    yield set_conf
    for key, value in saved.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


def _as_directory(path, tmp_path):
    """The partitioned-directory layout of one single-file table, which
    read_table reads by Spark's inference."""
    name = os.path.basename(path).removesuffix(".parquet")
    os.makedirs(tmp_path / "dir" / name)
    shutil.copy(path, tmp_path / "dir" / name / "part-0.parquet")
    return str(tmp_path / "dir"), name


def _same_rows(a, b):
    assert a.schema == b.schema
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


@pytest.mark.parametrize("nanos_as_long", ["true", "false"])
def test_footer_schema_equals_inferred_schema(spark, confs, sf_dir, nanos_as_long):
    """Every table of every scale factor beside the test one."""
    confs("spark.sql.legacy.parquet.nanosAsLong", nanos_as_long)
    confs("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    root = os.path.dirname(os.path.normpath(sf_dir))
    for d in sorted(glob.glob(os.path.join(root, "sf*"))):
        for name in TESTDATA_TABLES:
            path = os.path.join(d, f"{name}.parquet")
            assert _footer_schema(path) == spark.read.parquet(path).schema, path


def test_nanosecond_events_match_inference(spark, tmp_path):
    """events.ts written as timestamp[ns] reads as long from the footer
    and converts to the same timestamps as the inference path."""
    ts = [1_700_000_000_123_456_789, None, -1_001, 5]
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3, 4], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns")),
            "event_type": pa.array(["view", "click", None, "view"]),
        }
    )
    pq.write_table(table, tmp_path / "events.parquet")
    footer = _footer_schema(str(tmp_path / "events.parquet"))
    assert footer["ts"].dataType.typeName() == "long"

    single = read_table(spark, str(tmp_path), "events")
    assert dict(single.dtypes)["ts"] == "timestamp"
    _same_rows(
        single, read_table(spark, *_as_directory(tmp_path / "events.parquet", tmp_path))
    )


@pytest.mark.parametrize("infer_ntz", ["true", "false"])
@pytest.mark.parametrize("name", ["lineitem", "orders"])
def test_timestamp_tables_match_inference(spark, confs, sf_dir, tmp_path, name, infer_ntz):
    confs("spark.sql.parquet.inferTimestampNTZ.enabled", infer_ntz)
    path = os.path.join(sf_dir, f"{name}.parquet")
    _same_rows(
        read_table(spark, sf_dir, name),
        read_table(spark, *_as_directory(path, tmp_path)),
    )


@pytest.mark.parametrize(
    "column, int96",
    [
        (pa.array([1, 2], pa.uint32()), False),
        (pa.array([1, 2], pa.duration("us")), False),
        (pa.array([None, None], pa.null()), False),
        (pa.array([[1], [2]], pa.list_(pa.timestamp("ns"))), False),
        (pa.array([1, 2], pa.timestamp("ns")), True),
    ],
    ids=["uint32", "duration", "null", "nested_ns", "int96"],
)
def test_unsettled_footer_type_falls_back_to_inference(spark, tmp_path, column, int96):
    """Footer types Spark reads as another type than from_arrow_type
    maps them to (or that it rejects) keep Spark's inference."""
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"c": column}), path, use_deprecated_int96_timestamps=int96)
    assert _footer_schema(str(path)) is None
    assert read_table(spark, str(tmp_path), "t").schema == spark.read.parquet(str(path)).schema


def _jobs_started(spark, fn):
    sc = spark.sparkContext
    group = f"read-table-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_single_file_read_starts_no_spark_job(spark, sf_dir, tmp_path):
    def read_all():
        for name in TESTDATA_TABLES:
            read_table(spark, sf_dir, name)

    assert _jobs_started(spark, read_all) == []
    # the counter sees the inference job of the directory layout
    dir_layout = _as_directory(os.path.join(sf_dir, "orders.parquet"), tmp_path)
    assert _jobs_started(spark, lambda: read_table(spark, *dir_layout))
