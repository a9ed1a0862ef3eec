"""Incremental GOTK == full-history batch recompute, row for row.

The exact-integer reward accumulation makes the daily O(1)-state update
bit-equal to the reference's full recompute — this is the proof that
incremental mode can replace the daily WRITE_TRUNCATE without any
result drift.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from defimap_data_pipelines_spark.operators.growth import growth_of_10k
from defimap_data_pipelines_spark.pipelines.incremental import (
    incremental_gotk_step,
    initial_gotk_state,
)
from defimap_data_pipelines_spark.plans.domain import orders_raw_series


def test_incremental_equals_batch(spark, sf_dir):
    raw = orders_raw_series(spark, sf_dir).filter(
        F.col("date").between("2001-06-01", "2001-07-31")
    ).cache()
    split = "2001-07-20"
    history = raw.filter(F.col("date") <= split)
    future_dates = sorted(
        r.date for r in raw.filter(F.col("date") > split)
        .select("date").distinct().collect()
    )

    state = initial_gotk_state(history)
    got_rows = []
    for d in future_dates:
        day = raw.filter(F.col("date") == F.lit(str(d)))
        rows, state = incremental_gotk_step(state, day)
        # materialize both: state feeds the next loop iteration
        got_rows.extend(rows.collect())
        state = spark.createDataFrame(state.collect(), state.schema)

    batch = {
        (r.name, str(r.date)): r
        for r in growth_of_10k(raw).filter(F.col("date") > split).collect()
    }
    assert len(got_rows) == len(batch)
    for r in got_rows:
        b = batch[(r.name, str(r.date))]
        assert r.end_day_investment == pytest.approx(
            b.end_day_investment, rel=0, abs=0
        ), (r.name, r.date)
        assert r.start_day_investment == b.start_day_investment
        assert r.percent_change == b.percent_change


def test_incremental_tvl_equals_batch(spark, sf_dir):
    from defimap_data_pipelines_spark.operators.tvl import tvl
    from defimap_data_pipelines_spark.pipelines.incremental import (
        incremental_tvl_step,
        initial_tvl_state,
    )

    raw = orders_raw_series(spark, sf_dir).filter(
        F.col("date").between("2001-07-01", "2001-07-31")
    ).cache()
    split = "2001-07-25"
    state = initial_tvl_state(raw.filter(F.col("date") <= split))
    future_dates = sorted(
        r.date for r in raw.filter(F.col("date") > split)
        .select("date").distinct().collect()
    )
    got = []
    for d in future_dates:
        rows, state = incremental_tvl_step(
            state, raw.filter(F.col("date") == F.lit(str(d)))
        )
        got.extend(rows.collect())
        state = spark.createDataFrame(state.collect(), state.schema)

    batch = {
        (r.name, str(r.date)): r
        for r in tvl(raw).filter(F.col("date") > split).collect()
    }
    assert len(got) == len(batch)
    for r in got:
        b = batch[(r.name, str(r.date))]
        assert r.tvl == b.tvl and r.change_tvl == b.change_tvl
        assert r.percent_change == b.percent_change


@pytest.mark.parametrize("kind", ["gotk", "tvl"])
def test_replayed_day_changes_nothing(spark, sf_dir, kind):
    """Applying a day to the state it produced is a no-op: no rows and
    the same state, so the next day still matches an uninterrupted run
    (a retried daily job or a replayed micro-batch must not advance a
    series twice)."""
    from defimap_data_pipelines_spark.pipelines.incremental import (
        incremental_tvl_step,
        initial_tvl_state,
    )

    init, step = {
        "gotk": (initial_gotk_state, incremental_gotk_step),
        "tvl": (initial_tvl_state, incremental_tvl_step),
    }[kind]
    raw = orders_raw_series(spark, sf_dir).filter(
        F.col("date").between("2001-07-01", "2001-07-31")
    ).cache()
    split = "2001-07-25"
    d1, d2 = sorted(
        r.date for r in raw.filter(F.col("date") > split)
        .select("date").distinct().collect()
    )[:2]

    def day(d):
        return raw.filter(F.col("date") == F.lit(str(d)))

    def rows_of(df):
        return sorted(df.collect(), key=lambda r: r.name)

    def settle(state):
        return spark.createDataFrame(state.collect(), state.schema)

    state1 = settle(step(settle(init(raw.filter(F.col("date") <= split))), day(d1))[1])
    again, replayed = step(state1, day(d1))
    assert again.count() == 0
    replayed = settle(replayed)
    assert rows_of(replayed) == rows_of(state1)

    straight, _ = step(state1, day(d2))
    after, _ = step(replayed, day(d2))
    assert len(rows_of(straight)) > 0
    assert rows_of(after) == rows_of(straight)


def test_incremental_cum_equals_batch(spark, sf_dir):
    """Advancing the persisted cum series day-by-day reproduces the
    full-history batch pass bit-for-bit (integer cumq; identical cap
    expression tree)."""
    from defimap_data_pipelines_spark.pipelines.incremental import (
        incremental_cum_step,
        initial_gotk_state,
        initial_trailing_cum,
    )

    raw = orders_raw_series(spark, sf_dir).filter(
        F.col("date").between("2001-06-01", "2001-07-31")
    ).cache()
    split = "2001-07-25"
    state = initial_gotk_state(raw.filter(F.col("date") <= split))
    future_dates = sorted(
        r.date for r in raw.filter(F.col("date") > split)
        .select("date").distinct().collect()
    )
    got = []
    for d in future_dates:
        rows, state = incremental_cum_step(
            state, raw.filter(F.col("date") == F.lit(str(d)))
        )
        got.extend(rows.collect())
        state = spark.createDataFrame(state.collect(), state.schema)

    batch = {
        (r.name, str(r.date)): r
        for r in initial_trailing_cum(raw)
        .filter(F.col("date") > split).collect()
    }
    assert len(got) == len(batch) > 0
    for r in got:
        b = batch[(r.name, str(r.date))]
        assert r.cumq == b.cumq, (r.name, r.date)
        assert r.cap == b.cap
        assert r.ap == b.ap
        assert r.q == b.q


def test_trailing_scalars_match_batch_compounded(spark, sf_dir):
    """The telescoped per-period scalars equal the batch
    EXP(SUM(LOG(1+pc))) compounded values at ds, including the
    coverage-rule NULLs. Tolerance 1e-7/1e-6, same class as
    rebase-vs-naive: the batch base series quantizes rewards on the
    DS-365 capital rebase, the incremental cum series on the
    full-history rebase — one micro-unit of grid noise per row."""
    from defimap_data_pipelines_spark.operators.trailing import (
        compounded_return,
        trailing_returns,
    )
    from defimap_data_pipelines_spark.pipelines.incremental import (
        initial_trailing_cum,
        trailing_scalars_from_cum,
    )
    from defimap_data_pipelines_spark.plans.queries import DS

    raw = orders_raw_series(spark, sf_dir).cache()
    inc = {
        (r.period, r.name): r.value
        for r in trailing_scalars_from_cum(
            initial_trailing_cum(raw), DS
        ).collect()
    }
    batch = {
        (r.period, r.name): r.value
        for r in compounded_return(trailing_returns(raw, DS))
        .filter(F.col("date") == F.lit(DS).cast("date"))
        .select("period", "name", "value")
        .collect()
    }
    assert set(inc) == set(batch) and len(inc) > 0
    nulls = 0
    for k, v in batch.items():
        if v is None:
            assert inc[k] is None, k
            nulls += 1
        else:
            assert inc[k] == pytest.approx(v, rel=1e-6, abs=1e-7), k
    # both sides must exercise the coverage-rule NULL path
    assert any(v is not None for v in batch.values())


def test_incremental_return_1y_equals_query(spark, sf_dir):
    from defimap_data_pipelines_spark.pipelines.incremental import (
        incremental_return_1y,
        initial_trailing_cum,
    )
    from defimap_data_pipelines_spark.plans.queries import DS, QUERIES

    raw = orders_raw_series(spark, sf_dir)
    inc = {
        r.name: r.return_1y
        for r in incremental_return_1y(initial_trailing_cum(raw), DS).collect()
    }
    batch = {
        r.name: r.return_1y
        for r in QUERIES["return_1y"](spark, sf_dir).collect()
    }
    assert set(inc) == set(batch) and len(inc) > 0
    for k, v in batch.items():
        if v is None:
            assert inc[k] is None, k
        else:
            # same grid-noise tolerance as the scalars test; the query's
            # round-9 output can flip its last digit across bases
            assert inc[k] == pytest.approx(v, rel=1e-6, abs=1e-7), k


def test_incremental_dedup_equals_batch(spark):
    """Replaying the corpus in any batch split must reproduce the
    batch-mode exact-dedup canonicals (ids arrive in order, so the
    min-id rule agrees)."""
    from defimap_data_pipelines_spark.operators.corpus import (
        dedup_against_seen,
    )
    from defimap_data_pipelines_spark.operators.dedup import exact_dedup

    rows = []
    for i in range(120):
        # 40 distinct texts, each repeated 3x across the id space
        rows.append((i, f"document body {i % 40} common tail"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    batch = {
        r.canonical_id
        for r in exact_dedup(docs).select("canonical_id").collect()
    }

    for split in ((40, 80), (1, 119), (60,)):
        seen = None
        survived = []
        lo = 0
        for hi in list(split) + [120]:
            part = docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
            s, seen = dedup_against_seen(part, seen)
            # cut lineage like a real daily job persisting its state
            seen = seen.localCheckpoint()
            survived += [r.doc_id for r in s.collect()]
            lo = hi
        assert set(survived) == batch, split
        # state holds exactly one row per distinct doc
        assert seen.count() == 40


def test_incremental_dedup_out_of_order_divergence(spark):
    """Documents the dedup_against_seen precondition: when a SMALLER-id
    duplicate arrives in a LATER batch, first-seen wins (the later,
    smaller id is dropped), so the replay diverges from batch-mode
    exact_dedup, whose canonical is always the global min id. This is
    the documented out-of-order divergence in the operator docstring,
    not a bug — ingest pipelines assign monotone ids."""
    from defimap_data_pipelines_spark.operators.corpus import (
        dedup_against_seen,
    )
    from defimap_data_pipelines_spark.operators.dedup import exact_dedup

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha"), (0, "alpha")],
        ["doc_id", "text"],
    )
    batch = {
        r.canonical_id
        for r in exact_dedup(docs).select("canonical_id").collect()
    }
    assert batch == {0, 2}  # global min id canonicalizes "alpha" to 0

    # replay: batch 1 = ids {1,2,3}, batch 2 = the out-of-order id 0
    seen = None
    s1, seen = dedup_against_seen(
        docs.filter(F.col("doc_id") >= 1), seen
    )
    seen = seen.localCheckpoint()
    s2, seen = dedup_against_seen(
        docs.filter(F.col("doc_id") == 0), seen
    )
    survived = {r.doc_id for r in s1.collect()} | {
        r.doc_id for r in s2.collect()
    }
    # first-seen wins: id 1 is the incremental canonical for "alpha";
    # the late-arriving smaller id 0 is dropped -> diverges from batch
    assert survived == {1, 2}
    assert survived != batch


def test_incremental_clean_corpus_equals_batch(spark, sf_dir):
    """Append-then-cure == cure-from-scratch: replaying the documents
    table through clean_corpus_incremental in batches (in-order ids)
    yields exactly the batch-mode clean_corpus survivor set, including
    demotions where a later bridge doc merges two earlier clusters."""
    from defimap_data_pipelines_spark.operators.corpus import (
        clean_corpus,
        clean_corpus_incremental,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    batch = {
        r.doc_id for r in clean_corpus(docs).select("doc_id").collect()
    }

    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    for split in (cuts, [ids[1]], [ids[len(ids) // 2]]):
        state, survivors = None, None
        lo = None
        for hi in list(split) + [None]:
            part = docs
            if lo is not None:
                part = part.filter(F.col("doc_id") >= lo)
            if hi is not None:
                part = part.filter(F.col("doc_id") < hi)
            survivors, state = clean_corpus_incremental(part, state)
            state = state.checkpointed()
            lo = hi
        inc = {r.doc_id for r in survivors.collect()}
        assert inc == batch, (
            f"split {split}: {len(inc)} vs {len(batch)}; "
            f"only-inc={sorted(inc - batch)[:5]} "
            f"only-batch={sorted(batch - inc)[:5]}"
        )
