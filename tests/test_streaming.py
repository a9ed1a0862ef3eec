"""Structured Streaming tests: AvailableNow bronze->silver with replay
idempotency; watermarked tumbling/session windows vs batch twins."""

from __future__ import annotations

import pytest
from datetime import datetime
from pyspark.sql import functions as F

from defimap_data_pipelines_spark.pipelines.ingest import (
    date_range_frame,
    sample_chain_state,
)
from defimap_data_pipelines_spark.streaming.jobs import (
    read_events_stream,
    stream_bronze_to_silver,
    stream_session_windows,
    stream_tumbling_counts,
)


@pytest.fixture(scope="module")
def events_dir(sf_dir, tmp_path_factory):
    """The streaming file source needs a directory, not a single file."""
    import shutil

    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf_dir}/events.parquet", d / "part-0.parquet")
    return str(d)


@pytest.fixture(scope="module")
def bronze_path(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("stream") / "bronze"
    dates = date_range_frame(spark, "2022-01-01", "2022-03-31", ["aave_usdc"])
    sample_chain_state(dates).write.mode("overwrite").parquet(str(p))
    return str(p)


def test_bronze_to_silver_available_now(spark, bronze_path, tmp_path):
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    q = stream_bronze_to_silver(spark, bronze_path, silver, ckpt).start()
    q.awaitTermination()
    out = spark.read.parquet(silver)
    assert out.count() == 90  # one row per day, dedup on (name, date)
    # replay: restarting the stream over the same input adds nothing
    q2 = stream_bronze_to_silver(spark, bronze_path, silver, ckpt).start()
    q2.awaitTermination()
    assert spark.read.parquet(silver).count() == 90


def test_tumbling_counts_match_batch(spark, sf_dir, events_dir):
    from defimap_data_pipelines_spark.sources.parquet import read_table

    stream = stream_tumbling_counts(read_events_stream(spark, events_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("tumbling")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("tumbling")
    batch = (
        read_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    g = {(str(r.window_start), r.event_type): r.n_events for r in got.collect()}
    b = {(str(r.window_start), r.event_type): r.n_events for r in batch.collect()}
    assert g == b


def test_session_windows_bounded_state(spark, sf_dir, events_dir):
    stream = stream_session_windows(read_events_stream(spark, events_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table("sessions")
    assert out.count() > 0
    assert out.filter(F.col("session_end") < F.col("session_start")).count() == 0


def test_stateful_user_activity(spark, sf_dir, events_dir, tmp_path):
    """applyInPandasWithState custom operator: per-user running totals
    match the batch groupBy after draining the stream."""
    from defimap_data_pipelines_spark.streaming.jobs import (
        read_events_stream,
        stream_user_activity_state,
    )
    from defimap_data_pipelines_spark.sources.parquet import read_table

    stream = stream_user_activity_state(read_events_stream(spark, events_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("user_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in spark.table("user_state").collect()
    }
    batch = {
        r.user_id: (r.n, round(r.total, 6))
        for r in read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == batch


def test_transform_with_state_plan(spark, events_dir):
    """The transformWithState operator builds a valid streaming plan
    with the declared output schema even where the protobuf runtime
    dependency is missing (execution gated below)."""
    from defimap_data_pipelines_spark.streaming.jobs import (
        read_events_stream,
        stream_user_activity_tws,
    )

    stream = stream_user_activity_tws(read_events_stream(spark, events_dir))
    assert stream.isStreaming
    assert [f.name for f in stream.schema.fields] == [
        "user_id",
        "n_events",
        "total_value",
    ]


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState's state-server protocol needs the python "
    "protobuf package, absent in this environment (plan construction is "
    "still covered by test_transform_with_state_plan)",
)
def test_transform_with_state_user_activity(spark, sf_dir, events_dir, tmp_path):
    """transformWithState (Spark 4 typed-state API) twin of the
    applyInPandasWithState operator: same per-user totals as batch."""
    from defimap_data_pipelines_spark.streaming.jobs import (
        read_events_stream,
        stream_user_activity_tws,
    )
    from defimap_data_pipelines_spark.sources.parquet import read_table

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = stream_user_activity_tws(read_events_stream(spark, events_dir))
        q = (
            stream.writeStream.format("memory")
            .queryName("user_tws")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)
    got = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in spark.table("user_tws").collect()
    }
    batch = {
        r.user_id: (r.n, round(r.total, 6))
        for r in read_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == batch


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, events_dir, tmp_path):
    """Watermarked stream-stream join == the batch interval join over
    the same drained input."""
    from defimap_data_pipelines_spark.streaming.jobs import (
        read_events_stream,
        stream_click_to_purchase,
    )
    from defimap_data_pipelines_spark.sources.parquet import read_table

    stream = stream_click_to_purchase(read_events_stream(spark, events_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("click_purchase")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.click_id, r.purchase_id)
        for r in spark.table("click_purchase").collect()
    }
    e = read_table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    want = {
        (r.click_id, r.purchase_id)
        for r in c.join(
            p,
            (F.col("cu") == F.col("pu"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 minutes")),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_stream_gotk_incremental_equals_batch(spark, sf_dir, tmp_path):
    """The foreachBatch GOTK pipeline (state table + append sink) yields
    the engine's batch rows exactly for the streamed-in days."""
    from defimap_data_pipelines_spark.operators.growth import growth_of_10k
    from defimap_data_pipelines_spark.pipelines.incremental import (
        initial_gotk_state,
    )
    from defimap_data_pipelines_spark.plans.domain import orders_raw_series
    from defimap_data_pipelines_spark.schemas import RAW_SCHEMA
    from defimap_data_pipelines_spark.streaming.jobs import (
        stream_gotk_incremental,
    )

    raw = orders_raw_series(spark, sf_dir).filter(
        F.col("date").between("2001-06-01", "2001-07-31")
    ).cache()
    split = "2001-07-25"
    state_dir = str(tmp_path / "state")
    arrivals = str(tmp_path / "arrivals")
    out = str(tmp_path / "gotk_out")
    initial_gotk_state(raw.filter(F.col("date") <= split)).write.parquet(
        state_dir
    )
    # "arriving" raw days land as files; the stream discovers them
    future = raw.filter(F.col("date") > split)
    future.select([f.name for f in RAW_SCHEMA.fields]).write.parquet(arrivals)

    stream = spark.readStream.schema(RAW_SCHEMA).parquet(arrivals)
    q = stream_gotk_incremental(
        stream, state_dir, out, str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    got = {
        (r.name, str(r.date)): r for r in spark.read.parquet(out).collect()
    }
    batch = {
        (r.name, str(r.date)): r
        for r in growth_of_10k(raw).filter(F.col("date") > split).collect()
    }
    assert set(got) == set(batch) and len(got) > 0
    for k, r in got.items():
        b = batch[k]
        assert r.end_day_investment == b.end_day_investment, k
        assert r.start_day_investment == b.start_day_investment, k
    # the persisted state advanced to each name's own last observed day
    # (series are sparse: a gap day must not touch a name's state)
    expect_last = {
        r.name: str(r.d)
        for r in raw.groupBy("name").agg(F.max("date").alias("d")).collect()
    }
    st = spark.read.parquet(state_dir)
    assert {r.name: str(r.last_date) for r in st.collect()} == expect_last


def test_stream_gotk_checkpoint_restart(spark, sf_dir, tmp_path):
    """Durability: stop the GOTK stream, land more raw days, restart
    with the SAME checkpoint — the new days process exactly once and
    the combined output equals the batch recompute (no dupes, no gaps)."""
    from defimap_data_pipelines_spark.operators.growth import growth_of_10k
    from defimap_data_pipelines_spark.pipelines.incremental import (
        initial_gotk_state,
    )
    from defimap_data_pipelines_spark.plans.domain import orders_raw_series
    from defimap_data_pipelines_spark.schemas import RAW_SCHEMA
    from defimap_data_pipelines_spark.streaming.jobs import (
        stream_gotk_incremental,
    )

    raw = orders_raw_series(spark, sf_dir).filter(
        F.col("date").between("2001-06-01", "2001-07-31")
    ).cache()
    split, mid = "2001-07-25", "2001-07-28"
    state_dir = str(tmp_path / "state")
    arrivals = str(tmp_path / "arrivals")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    cols = [f.name for f in RAW_SCHEMA.fields]
    initial_gotk_state(raw.filter(F.col("date") <= split)).write.parquet(
        state_dir
    )

    # wave 1: days (split, mid]
    raw.filter(
        (F.col("date") > split) & (F.col("date") <= mid)
    ).select(cols).write.mode("append").parquet(arrivals)
    stream = spark.readStream.schema(RAW_SCHEMA).parquet(arrivals)
    q = stream_gotk_incremental(stream, state_dir, out, ckpt)
    q.awaitTermination()

    # wave 2: remaining days land AFTER the first run stopped
    raw.filter(F.col("date") > mid).select(cols).write.mode(
        "append"
    ).parquet(arrivals)
    stream2 = spark.readStream.schema(RAW_SCHEMA).parquet(arrivals)
    q2 = stream_gotk_incremental(stream2, state_dir, out, ckpt)
    q2.awaitTermination()

    got = [
        ((r.name, str(r.date)), r.end_day_investment)
        for r in spark.read.parquet(out).collect()
    ]
    batch = {
        (r.name, str(r.date)): r.end_day_investment
        for r in growth_of_10k(raw).filter(F.col("date") > split).collect()
    }
    # exactly-once: no key appears twice, and the set equals the batch
    assert len(got) == len(set(k for k, _ in got)) == len(batch)
    for k, v in got:
        assert v == batch[k], k


def _mk_events(spark, rows):
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    return spark.createDataFrame(
        [
            (i, u, t, v, datetime.fromisoformat(ts))
            for (i, u, t, v, ts) in rows
        ],
        schema,
    )


def test_stream_dedup_checkpoint_restart_exactly_once(spark, tmp_path):
    """Kill-and-restart exactly-once for the stateful dedup job: wave 2
    REPLAYS half of wave 1 (as new files) plus new ids; the restarted
    stream must drop every replayed row via checkpoint-restored dedup
    state and pass each unique id exactly once."""
    import pyspark.sql.types as T

    arrivals = str(tmp_path / "arrivals")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    mk = lambda ids: _mk_events(
        spark,
        [
            (i, i % 3, "click", float(i), f"2024-01-01T10:{i % 60:02d}:00")
            for i in ids
        ],
    )
    mk(range(1, 11)).write.mode("append").parquet(arrivals)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )

    def run():
        deduped = (
            spark.readStream.schema(schema)
            .parquet(arrivals)
            .dropDuplicates(["event_id"])
        )
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    # wave 2: replay ids 6..10 (duplicate content, NEW files) + 11..15
    mk(list(range(6, 16))).write.mode("append").parquet(arrivals)
    run()

    ids = [r.event_id for r in spark.read.parquet(out).collect()]
    assert sorted(ids) == list(range(1, 16))  # each id exactly once


def test_stream_join_checkpoint_restart_exactly_once(spark, tmp_path):
    """Kill-and-restart exactly-once for the watermarked stream-stream
    join: a click lands in wave 1, its purchase in wave 2 — the pair
    can only be emitted if the restarted run restores the click from
    checkpointed join state. No pair may be emitted twice."""
    from defimap_data_pipelines_spark.streaming.jobs import (
        stream_click_to_purchase,
    )
    import pyspark.sql.types as T

    arrivals = str(tmp_path / "arrivals")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    wave1 = [
        # intra-wave pair: click 1 -> purchase 101 (+10 min)
        (1, 7, "click", 0.0, "2024-01-01T10:00:00"),
        (101, 7, "purchase", 9.99, "2024-01-01T10:10:00"),
        # cross-wave click: purchase arrives in wave 2
        (2, 8, "click", 0.0, "2024-01-01T10:58:00"),
        # non-matching noise
        (3, 9, "view", 0.0, "2024-01-01T10:30:00"),
    ]
    wave2 = [
        # the cross-wave purchase (+12 min after click 2, inside the
        # 30-minute attribution gap and ahead of the run-1 watermark)
        (102, 8, "purchase", 5.0, "2024-01-01T11:10:00"),
        # intra-wave-2 pair
        (4, 7, "click", 0.0, "2024-01-01T11:20:00"),
        (103, 7, "purchase", 1.5, "2024-01-01T11:40:00"),
    ]
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )

    def run():
        ev = spark.readStream.schema(schema).parquet(arrivals)
        joined = stream_click_to_purchase(ev)
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _mk_events(spark, wave1).write.mode("append").parquet(arrivals)
    run()
    _mk_events(spark, wave2).write.mode("append").parquet(arrivals)
    run()

    pairs = sorted(
        (r.click_id, r.purchase_id)
        for r in spark.read.parquet(out).collect()
    )
    assert pairs == [(1, 101), (2, 102), (4, 103)]


def test_stream_curation_incremental_equals_batch(spark, sf_dir, tmp_path):
    """The foreachBatch curation pipeline over in-order microbatches
    lands exactly the batch clean_corpus survivor set in out_dir."""
    import os
    import time

    from defimap_data_pipelines_spark.operators.corpus import clean_corpus
    from defimap_data_pipelines_spark.streaming.jobs import (
        stream_curation_incremental,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .cache()
    )
    batch = {r.doc_id for r in clean_corpus(docs).select("doc_id").collect()}

    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cuts = [ids[0], ids[len(ids) // 3], ids[2 * len(ids) // 3], None]
    arrivals = str(tmp_path / "docs_arriving")
    os.makedirs(arrivals)
    # one file per in-order chunk; mtimes force discovery order
    for i in range(3):
        lo, hi = cuts[i], cuts[i + 1]
        part = docs.filter(F.col("doc_id") >= lo)
        if hi is not None:
            part = part.filter(F.col("doc_id") < hi)
        chunk_dir = str(tmp_path / f"chunk{i}")
        part.coalesce(1).write.parquet(chunk_dir)
        src = [f for f in os.listdir(chunk_dir) if f.endswith(".parquet")][0]
        dst = os.path.join(arrivals, f"{i:02d}.parquet")
        os.rename(os.path.join(chunk_dir, src), dst)
        os.utime(dst, (time.time() + i, time.time() + i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(arrivals)
    )
    q = stream_curation_incremental(
        stream,
        str(tmp_path / "cur_state"),
        str(tmp_path / "cur_out"),
        str(tmp_path / "cur_ckpt"),
    )
    q.awaitTermination()

    got = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "cur_out")).collect()
    }
    assert got == batch and len(got) > 0


def test_stream_cms_incremental_equals_batch_sketch(spark, sf_dir, tmp_path):
    """Linear-sketch maintenance: the CMS grid merged across 3 token
    microbatches must equal the from-scratch grid cell for cell, and
    the persisted artifact must answer the same frequency probes."""
    import os
    import time

    from defimap_data_pipelines_spark.operators.sketches import (
        cms_counters,
        cms_estimate,
    )
    from defimap_data_pipelines_spark.pipelines.models import ModelStore
    from defimap_data_pipelines_spark.streaming.jobs import (
        stream_cms_incremental,
    )

    events = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(F.col("event_type").alias("token"), "event_id")
        .cache()
    )
    scratch = cms_counters(events, depth=4, width=1024)

    arrivals = str(tmp_path / "tokens_arriving")
    os.makedirs(arrivals)
    n = events.count()
    ids = sorted(r.event_id for r in events.select("event_id").collect())
    cuts = [ids[0], ids[n // 3], ids[2 * n // 3], None]
    for i in range(3):
        part = events.filter(F.col("event_id") >= cuts[i])
        if cuts[i + 1] is not None:
            part = part.filter(F.col("event_id") < cuts[i + 1])
        chunk = str(tmp_path / f"tok{i}")
        part.select("token").coalesce(1).write.parquet(chunk)
        src = [f for f in os.listdir(chunk) if f.endswith(".parquet")][0]
        dst = os.path.join(arrivals, f"{i:02d}.parquet")
        os.rename(os.path.join(chunk, src), dst)
        os.utime(dst, (time.time() + i, time.time() + i))

    store = ModelStore(str(tmp_path / "models"))
    stream = (
        spark.readStream.schema("token string")
        .option("maxFilesPerTrigger", "1")
        .parquet(arrivals)
    )
    q = stream_cms_incremental(
        stream, store, str(tmp_path / "ckpt"), depth=4, width=1024
    )
    q.awaitTermination(120)

    merged, depth, width = store.load_cms(spark, "cms_stream")
    assert (depth, width) == (4, 1024)
    a = sorted(map(tuple, merged.collect()))
    b = sorted(map(tuple, scratch.collect()))
    assert a == b  # linear sketch: merge == from-scratch, exactly
    probes = events.select("token").distinct()
    ests = {
        r.token: r.cms_estimate
        for r in cms_estimate(merged, probes, depth=4, width=1024).collect()
    }
    true = {r.token: r.n for r in events.groupBy("token")
            .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(ests[t] >= c for t, c in true.items())  # one-sided


def test_stream_cms_incremental_keeps_unreadable_store(spark, tmp_path):
    """Only a MISSING grid means "no sketch yet": a store artifact that
    exists but is not parquet must fail the query and be left in place,
    not be restarted from the batch and overwritten."""
    import os

    from pyspark.errors import StreamingQueryException

    from defimap_data_pipelines_spark.pipelines.models import ModelStore
    from defimap_data_pipelines_spark.streaming.jobs import (
        stream_cms_incremental,
    )

    arrivals = str(tmp_path / "tokens_arriving")
    spark.createDataFrame([("a",), ("b",)], "token string").write.parquet(arrivals)
    store = ModelStore(str(tmp_path / "models"))
    os.makedirs(store.root)
    bad = store.path("cms_stream")
    with open(bad, "wb") as fh:
        fh.write(b"not a parquet file")

    q = stream_cms_incremental(
        spark.readStream.schema("token string").parquet(arrivals),
        store,
        str(tmp_path / "ckpt"),
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    with open(bad, "rb") as fh:
        assert fh.read() == b"not a parquet file"


def test_stream_decontaminate_matches_batch_probe(spark, sf_dir, tmp_path):
    """Streamed bloom decontamination over 2 micro-batches must keep
    exactly the documents the batch-side probe keeps (zero bloom-hit
    shingles), using the PERSISTED filter artifact."""
    import os
    import time

    from defimap_data_pipelines_spark.functions.text import word_shingles
    from defimap_data_pipelines_spark.operators.sketches import (
        BLOOM_BITS,
        BLOOM_K,
        bloom_build,
        bloom_probe,
    )
    from defimap_data_pipelines_spark.pipelines.models import ModelStore
    from defimap_data_pipelines_spark.streaming.jobs import (
        stream_decontaminate,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .cache()
    )
    # bench set = 40 docs' shingles; build + persist the filter
    bench = docs.filter(F.col("doc_id") % 13 == 0)
    bench_sh = bench.select(
        F.explode(word_shingles(F.col("text"), 8)).alias("shingle")
    ).distinct()
    store = ModelStore(str(tmp_path / "models"))
    store.save_bloom(
        spark, bloom_build(bench_sh, "shingle"), "bench_bloom",
        BLOOM_BITS, BLOOM_K,
    )

    # batch truth: docs with zero bloom hits
    words, _, _ = store.load_bloom(spark, "bench_bloom")
    sh = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 8)).alias("shingle")
    )
    hit = (
        bloom_probe(sh, "shingle", words, out="_hit")
        .filter(F.col("_hit")).select("doc_id").distinct()
    )
    truth = {
        r.doc_id
        for r in docs.join(hit, "doc_id", "left_anti")
        .select("doc_id").collect()
    }

    arrivals = str(tmp_path / "arriving")
    os.makedirs(arrivals)
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    for i, part in enumerate(
        (docs.filter(F.col("doc_id") < cut),
         docs.filter(F.col("doc_id") >= cut))
    ):
        chunk = str(tmp_path / f"c{i}")
        part.coalesce(1).write.parquet(chunk)
        src = [f for f in os.listdir(chunk) if f.endswith(".parquet")][0]
        dst = os.path.join(arrivals, f"{i:02d}.parquet")
        os.rename(os.path.join(chunk, src), dst)
        os.utime(dst, (time.time() + i, time.time() + i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(arrivals)
    )
    out_dir = str(tmp_path / "clean")
    q = stream_decontaminate(
        stream, store, out_dir, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    assert got == truth
    assert 0 < len(got) < docs.count()  # filter actually bites
