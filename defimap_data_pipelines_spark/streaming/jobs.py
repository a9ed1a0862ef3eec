"""Structured Streaming jobs (engine extension — the reference is daily
batch only, SURVEY.md §2.7; these are the streaming twins of the batch
operators, built for the 100 TB posture where bronze arrives
continuously).

- stream_bronze_to_silver: incremental bronze->silver with
  dropDuplicates on (name, date) for replay idempotency; the streaming
  equivalent of the reference's delete-range-then-append (S10) under
  Trigger.AvailableNow.
- stream_tumbling_counts / stream_session_windows: watermarked
  tumbling/session window aggregations over the events stream — the
  streaming twins of the batch tumbling_hourly / sessionize queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from defimap_data_pipelines_spark.schemas import RAW_SCHEMA

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_bronze_stream(spark: SparkSession, path: str) -> DataFrame:
    return spark.readStream.schema(RAW_SCHEMA).parquet(path)


def stream_bronze_to_silver(
    spark: SparkSession,
    bronze_path: str,
    silver_path: str,
    checkpoint: str,
):
    """Incremental clean: fillna(0) on reward columns + dedup on
    (name, date); AvailableNow drains the backlog then stops, giving
    the same daily-batch semantics as the reference with streaming
    bookkeeping (exactly-once via checkpoint)."""
    stream = read_bronze_stream(spark, bronze_path)
    cleaned = stream.fillna(0.0, subset=["aave_apy", "liquidity_index"]).dropDuplicates(
        ["name", "date"]
    )
    return (
        cleaned.writeStream.format("parquet")
        .option("path", silver_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("name")
        .trigger(availableNow=True)
        .outputMode("append")
    )


def _events_ts_unit(path: str) -> str:
    """Sniff the parquet footer for the events ``ts`` physical unit
    ("ns" | "us" | other). FileStreamSource needs a user schema, and the
    right one depends on how the files were written."""
    import glob
    import os

    import pyarrow.parquet as pq

    f = path if os.path.isfile(path) else sorted(glob.glob(f"{path}/*.parquet"))[0]
    typ = pq.ParquetFile(f).schema_arrow.field("ts").type
    return getattr(typ, "unit", str(typ))


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """events parquet as a stream, normalized to TimestampType under a
    UTC session clock regardless of how the files encode ``ts``:

    - nanosecond files: no timestamp schema can read them in Spark 4, so
      read as long (legacy nanosAsLong) and convert with exact integer
      floor division (matches DuckDB's TIMESTAMP_NS -> TIMESTAMP cast);
    - microsecond isAdjustedToUTC=false files: read as TIMESTAMP_NTZ and
      cast — with the session tz pinned to UTC the wall clock maps to
      the identical instant the batch reader and the oracle use.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if _events_ts_unit(path) == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.LongType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        )
        raw = spark.readStream.schema(schema).parquet(path)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    raw = spark.readStream.schema(schema).parquet(path)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def stream_tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type. Late rows
    beyond the watermark are dropped; state is bounded by
    (#types x windows-in-watermark)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user via F.session_window — the streaming
    twin of the batch gaps-and-islands sessionize query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def stream_user_activity_state(events: DataFrame, timeout_ms: int | None = None):
    """Custom stateful operator via applyInPandasWithState: per-user
    running counters (events seen, value total); with ``timeout_ms`` a
    processing-time timeout emits and clears idle users' state.

    The arbitrary-state API is the escape hatch for operators the
    built-in windows can't express (the engine's path for bespoke
    accumulators at scale: state is per-key, partitioned, checkpointed).
    NB: with a processing-time timeout the query stays alive waiting to
    fire timeouts even under Trigger.AvailableNow — leave ``timeout_ms``
    None for drain-and-stop batch-replay runs.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
            T.StructField("final", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            n, total = state.get
            state.remove()
            yield pd.DataFrame(
                [(user_id, n, total, True)],
                columns=["user_id", "n_events", "total_value", "final"],
            )
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            [(user_id, n, total, False)],
            columns=["user_id", "n_events", "total_value", "final"],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def stream_user_activity_tws(events: DataFrame):
    """The same per-user running counters as
    ``stream_user_activity_state``, on Spark 4's transformWithState API
    (StatefulProcessor + typed state variables).

    transformWithState supersedes applyInPandasWithState for new
    stateful operators: state is named and typed per variable (value/
    list/map) instead of one monolithic tuple, timers are first-class
    (vs the single timeout), TTL is built in, and the state store can
    be queried offline via the state data source. Kept alongside the
    applyInPandasWithState twin so both arbitrary-state surfaces stay
    exercised.

    Requires the RocksDB state store provider (the default HDFS-backed
    one does not support transformWithState) — set
    spark.sql.streaming.stateStore.providerClass to
    RocksDBStateStoreProvider on the session before starting the query.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )

    class UserCounters(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counters = handle.getValueState(
                "counters", "n BIGINT, total DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            n, total = (
                self._counters.get() if self._counters.exists() else (0, 0.0)
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._counters.update((n, total))
            yield pd.DataFrame(
                {"user_id": [user_id], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        UserCounters(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def stream_click_to_purchase(
    events: DataFrame,
    max_gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join: purchases attributed to
    the same user's clicks within ``max_gap`` — the remaining streaming
    operator class (windowed aggs and arbitrary state are covered by
    the other jobs).

    Both sides carry watermarks and the join condition bounds purchase
    time to [click, click + gap], so each side's state is dropped once
    the watermark passes the bound — state stays proportional to the
    in-flight window at any stream length.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {max_gap}"))
    )
    return clicks.join(purchases, cond).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def stream_gotk_incremental(
    raw_stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> "StreamingQuery":  # noqa: F821
    """GOTK as a streaming pipeline: foreachBatch + the O(1) state step.

    The reference reruns the full-history transform daily
    (WRITE_TRUNCATE, aave_transform.py:227-239); here each microbatch
    of newly-arrived raw days advances the persisted state table via
    pipelines/incremental.py and appends only the new GOTK rows —
    exactly the engine's batch numbers (test_streaming.py), with
    Trigger.AvailableNow giving the daily-batch cadence and a
    continuous trigger giving intraday freshness for free.

    foreachBatch (not transformWithState) because the step is already
    a pure DataFrame join against a tiny state dimension — per-key
    python state would deoptimize a JVM-only plan. Days inside one
    microbatch are applied in date order (the recurrence is
    sequential across days, parallel across names).
    """
    from defimap_data_pipelines_spark.pipelines.incremental import (
        incremental_gotk_step,
    )

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        spark = batch.sparkSession
        days = [r.date for r in batch.select("date").distinct().collect()]
        if not days:
            return
        state = spark.read.parquet(state_dir)
        for d in sorted(days):
            rows, state = incremental_gotk_step(
                state, batch.filter(F.col("date") == F.lit(str(d)))
            )
            rows.write.mode("append").parquet(out_dir)
            # pin the advanced state before the next day consumes it:
            # localCheckpoint materializes on executor storage and cuts
            # lineage WITHOUT a per-day driver round-trip (a collect()
            # here would funnel every day's state through the driver),
            # and makes the final overwrite of state_dir safe (the
            # pinned frame no longer reads from it).
            state = state.localCheckpoint()
        state.write.mode("overwrite").parquet(state_dir)

    return (
        raw_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_curation_incremental(
    doc_stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> "StreamingQuery":  # noqa: F821
    """Corpus curation as a streaming pipeline: foreachBatch + the
    incremental clean_corpus state step (operators/corpus.py::
    clean_corpus_incremental). Each microbatch of newly-crawled docs
    is quality-filtered, deduped against the persisted CurationState
    (fingerprints + hashed shingles + verified pairs — never the
    text), and the CURRENT full survivor-id set overwrites out_dir
    (a later batch can demote an earlier survivor when a bridge doc
    merges two clusters, so the output is a snapshot, not an append).

    Same equivalence contract as the batch operator: after any split
    of an in-id-order corpus into microbatches, out_dir equals the
    from-scratch clean_corpus survivor set (test_streaming.py).

    foreachBatch, not transformWithState: the step is DataFrame joins
    against compact state tables — per-key Python state would move
    the banding/verify work out of the JVM.
    """
    from defimap_data_pipelines_spark.operators.corpus import (
        CurationState,
        clean_corpus_incremental,
    )

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        import os

        spark = batch.sparkSession
        if not batch.head(1):
            return
        state = None
        if os.path.exists(os.path.join(state_dir, "fingerprints")):
            state = CurationState(
                spark.read.parquet(os.path.join(state_dir, "fingerprints")),
                spark.read.parquet(os.path.join(state_dir, "hashed")),
                spark.read.parquet(os.path.join(state_dir, "pairs")),
            )
        survivors, state = clean_corpus_incremental(batch, state)
        # pin before overwriting the tables they were read from
        survivors = survivors.localCheckpoint()
        state = state.checkpointed()
        survivors.write.mode("overwrite").parquet(out_dir)
        state.fingerprints.write.mode("overwrite").parquet(
            os.path.join(state_dir, "fingerprints")
        )
        state.hashed.write.mode("overwrite").parquet(
            os.path.join(state_dir, "hashed")
        )
        state.pairs.write.mode("overwrite").parquet(
            os.path.join(state_dir, "pairs")
        )

    return (
        doc_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def merge_cms(existing: DataFrame | None, batch_counters: DataFrame) -> DataFrame:
    """Merge two CMS counter grids by cell-wise sum. CMS is a LINEAR
    sketch — counters(A ∪ B) = counters(A) + counters(B) cell for
    cell — so batch-merged grids equal the from-scratch build exactly
    (tests/test_streaming.py pins the equality), which is what makes
    the sketch maintainable under streaming append."""
    if existing is None:
        return batch_counters
    return (
        existing.unionByName(batch_counters)
        .groupBy("row", "bucket")
        .agg(F.sum("c").cast("long").alias("c"))
    )


def stream_cms_incremental(
    token_stream: DataFrame,
    store,
    checkpoint_dir: str,
    name: str = "cms_stream",
    token_col: str = "token",
    depth: int = 4,
    width: int = 1024,
) -> "StreamingQuery":  # noqa: F821
    """Maintain a LONG-LIVED count-min sketch across micro-batches:
    each batch's tokens fold into a batch grid, which merges into the
    ModelStore-persisted grid (pipelines/models.py). The persisted
    artifact answers corpus-wide frequency probes at any point
    without rescanning history — the streaming twin of the batch
    cms_counters pass, and the composition the store exists for
    (sketches are the state it is cheapest to keep fresh: KBs per
    merge, linear, associative).

    The grid is <= depth*width rows, so the previous state is pinned
    with localCheckpoint before its own path is overwritten (same
    read-then-overwrite discipline as stream_curation_incremental).
    Only a missing grid starts a new sketch; an unreadable one fails
    the query and is left in place.
    """
    from defimap_data_pipelines_spark.operators.sketches import (
        cms_counters,
    )

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        spark = batch.sparkSession
        if not batch.head(1):
            return
        bc = cms_counters(
            batch.select(F.col(token_col).alias("token")),
            depth=depth, width=width,
        )
        existing = store.load_frame_if_present(spark, name)
        if existing is not None:
            existing = existing.select("row", "bucket", "c").localCheckpoint()
        store.save_cms(merge_cms(existing, bc), name, depth, width)

    return (
        token_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_ams_incremental(
    key_stream: DataFrame,
    store,
    checkpoint_dir: str,
    name: str = "ams_stream",
    key_col: str = "token",
    estimators: int = 16,
) -> "StreamingQuery":  # noqa: F821
    """Maintain a LONG-LIVED AMS F2 sketch across micro-batches: each
    batch's ±1 sign-sums ADD into the ModelStore-persisted (j, y)
    state — k integers of state total, the cheapest self-join-size
    monitor a streaming ingest can keep. Linear sketch, so merge ==
    from-scratch exactly (the stream_cms_incremental contract; the
    test asserts integer equality, not approximation).

    The persisted state is k rows, pinned with localCheckpoint before
    its own path is overwritten (the standing read-then-overwrite
    discipline).
    """
    from defimap_data_pipelines_spark.operators.sketches import (
        ams_sign_sums,
    )

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        spark = batch.sparkSession
        if not batch.head(1):
            return
        bsums = ams_sign_sums(
            batch.select(F.col(key_col).alias("k")), "k", estimators
        )
        existing = store.load_frame_if_present(spark, name)
        if existing is not None:
            existing = existing.localCheckpoint()
        merged = (
            bsums
            if existing is None
            else bsums.unionByName(existing)
            .groupBy("j")
            .agg(F.sum("y").cast("long").alias("y"))
        )
        store.save_frame(merged.select("j", "y"), name)

    return (
        key_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_decontaminate(
    doc_stream: DataFrame,
    store,
    out_dir: str,
    checkpoint_dir: str,
    bloom_name: str = "bench_bloom",
    text_col: str = "text",
    shingle_n: int = 8,
) -> "StreamingQuery":  # noqa: F821
    """Decontaminate-every-shard, streaming form: each micro-batch of
    incoming documents probes the PERSISTED benchmark bloom filter
    (pipelines/models.py::ModelStore — built once per benchmark
    release by bloom_build) and only documents with zero bloom-hit
    shingles land in ``out_dir``. The filter loads once per stream
    start and inlines as the usual folded array literal, so the probe
    adds no joins and no shuffles to the batch plan — a stateless
    projection + per-doc rollup, which is why it composes with any
    upstream streaming source.

    This is the composition the ModelStore exists for: the expensive
    artifact (bench shingle set -> 2048-long bitset) is built by the
    batch side; the stream pays only the probe.
    """
    from defimap_data_pipelines_spark.functions.text import word_shingles
    from defimap_data_pipelines_spark.operators.sketches import (
        bloom_probe,
    )

    loaded: dict = {}

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        spark = batch.sparkSession
        if not batch.head(1):
            return
        if "bloom" not in loaded:
            words, bits, k = store.load_bloom(spark, bloom_name)
            loaded["bloom"] = (words, bits, k)
        words, bits, k = loaded["bloom"]
        sh = batch.select(
            "doc_id",
            F.explode(word_shingles(F.col(text_col), shingle_n)).alias(
                "shingle"
            ),
        )
        probed = bloom_probe(sh, "shingle", words, out="_hit",
                             bits=bits, k=k)
        contaminated = (
            probed.filter(F.col("_hit"))
            .select("doc_id")
            .distinct()
        )
        clean = batch.join(contaminated, "doc_id", "left_anti")
        clean.write.mode("append").parquet(out_dir)

    return (
        doc_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
