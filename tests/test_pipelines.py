"""End-to-end pipeline tests: ingest -> clean -> transform -> load, plus
idempotent range re-load (S10) semantics."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from defimap_data_pipelines_spark.operators.cachereg import release
from defimap_data_pipelines_spark.pipelines.ingest import (
    clean_bronze,
    date_range_frame,
    sample_chain_state,
    with_retries,
)
from defimap_data_pipelines_spark.pipelines.load import run_load
from defimap_data_pipelines_spark.pipelines.transform import run_transform
from defimap_data_pipelines_spark.sources.writers import idempotent_replace_range


@pytest.fixture(scope="module")
def bronze(spark):
    dates = date_range_frame(
        spark, "2022-01-01", "2023-06-30", ["aave_usdc", "aave_wbtc"]
    )
    return sample_chain_state(dates).cache()


def test_ingest_produces_full_grid(spark, bronze):
    n_days = 546  # 2022-01-01..2023-06-30
    assert bronze.count() == n_days * 2
    assert bronze.filter(F.col("total_apy").isNull()).count() == 0


def test_retry_wrapper_retries_then_raises():
    calls = []

    def flaky():
        calls.append(1)
        raise RuntimeError("rpc down")

    with pytest.raises(RuntimeError):
        with_retries(flaky, tries=4, sleep=lambda s: None)()
    assert len(calls) == 4

    ok_after = []

    def recovers():
        ok_after.append(1)
        if len(ok_after) < 3:
            raise RuntimeError("transient")
        return 42

    assert with_retries(recovers, tries=5, sleep=lambda s: None)() == 42


def test_clean_interpolates_gaps(spark):
    rows = [
        ("2022-01-01", "s", 1.0, None, 1.0, 10.0, 100.0, 2.0, 50.0),
        ("2022-01-02", "s", None, 0.5, 1.0, None, 100.0, None, 50.0),
        ("2022-01-03", "s", 3.0, 0.5, 1.0, 30.0, 100.0, 4.0, 50.0),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=[
                "date", "name", "stake_apy", "aave_apy", "liquidity_index",
                "total_apy", "atoken_supply", "asset_price", "aave_price",
            ],
        )
    ).withColumn("date", F.col("date").cast("date"))
    out = clean_bronze(df).orderBy("date").collect()
    assert out[0].aave_apy == 0.0  # fillna
    assert out[1].stake_apy == pytest.approx(2.0)  # interpolated
    assert out[1].asset_price == pytest.approx(3.0)
    assert out[1].total_apy == pytest.approx(20.0)


def test_transform_end_to_end(spark, bronze):
    tables = run_transform(bronze, ds="2023-06-30", start_date="2022-01-01")
    assert set(tables) == {
        "growth_of_10k", "tvl", "pre_total_return",
        "pre_trailing_return", "pre_risk",
    }
    gotk = tables["growth_of_10k"]
    # GOTK invariants (SURVEY.md §5.4): edi > 0; pc composes to edi/10000
    assert gotk.filter(F.col("end_day_investment") <= 0).count() == 0
    risk = tables["pre_risk"].collect()
    assert len(risk) == 2
    for row in risk:
        assert row.max_drawdown <= 0
        assert row.duration >= 0
        assert row.valley_date >= row.peak_date
    trailing = tables["pre_trailing_return"]
    assert trailing.select("period").distinct().count() == 6


def test_run_transform_pins_its_caches(spark):
    """The raw scan, the trailing-returns base and the risk tail that
    run_transform caches live in the session's store, so a long-lived
    session's release() frees them instead of leaking three frames per
    daily run."""
    s2 = spark.newSession()
    raw = sample_chain_state(
        date_range_frame(s2, "2023-01-01", "2023-06-30", ["aave_usdc", "aave_wbtc"])
    )
    run_transform(raw, ds="2023-06-30", start_date="2023-01-01")
    assert release(s2) == 3


def test_load_stamps_strategy_id(spark, bronze):
    tables = run_transform(bronze, ds="2023-06-30", start_date="2022-01-01")
    dim = spark.createDataFrame(
        [("id-1", "aave_usdc", 0.0, 0.0), ("id-2", "aave_wbtc", 0.0, 0.0)],
        ["id", "slug", "tvl", "apr"],
    )
    captured: dict[str, object] = {}
    run_load(
        tables["growth_of_10k"],
        tables["tvl"],
        bronze,
        dim,
        write=lambda df, table: captured.__setitem__(table, df.toPandas()),
    )
    assert set(captured) == {
        "strategy_growth", "strategy_tvl", "strategy__tvl_update",
        "strategy_apr", "strategy__apr_update",
    }
    growth = captured["strategy_growth"]
    assert set(growth["strategy_id"]) == {"id-1", "id-2"}
    tvl_dim = captured["strategy__tvl_update"]
    assert len(tvl_dim) == 2  # one latest-tvl row per strategy


def test_idempotent_replace_range(spark, bronze, tmp_path):
    """S10: re-writing a date range twice leaves one copy (dynamic
    partition overwrite == BigQuery DELETE range + append)."""
    path = str(tmp_path / "silver")
    jan = bronze.filter(F.col("date").between("2022-01-01", "2022-01-31"))
    feb = bronze.filter(F.col("date").between("2022-02-01", "2022-02-28"))
    idempotent_replace_range(jan, path)
    idempotent_replace_range(feb, path)
    n1 = spark.read.parquet(path).count()
    # re-run feb (the "retro data" replay) — count must not change
    idempotent_replace_range(feb, path)
    n2 = spark.read.parquet(path).count()
    assert n1 == n2 == jan.count() + feb.count()


def test_idempotent_replace_range_leaves_other_writes_static(
    spark, tmp_path, monkeypatch
):
    """While one thread is inside idempotent_replace_range's write,
    another thread's full ``mode("overwrite")`` must still replace its
    whole table: the dynamic mode is scoped to the one write, not set
    on the shared session conf."""
    import threading

    from pyspark.sql.readwriter import DataFrameWriter

    entered, release = threading.Event(), threading.Event()
    real_parquet = DataFrameWriter.parquet

    def parquet(self, *args, **kwargs):
        if threading.current_thread().name == "replace-range":
            entered.set()
            assert release.wait(60)
        return real_parquet(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    other = str(tmp_path / "other")
    spark.createDataFrame([("old", 1), ("new", 2)], "name string, v int").write.mode(
        "overwrite"
    ).partitionBy("name").parquet(other)

    errors = []

    def replace():
        try:
            idempotent_replace_range(
                spark.createDataFrame([("a", 1)], "name string, v int"),
                str(tmp_path / "ranged"),
                ["name"],
            )
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    writer = threading.Thread(target=replace, name="replace-range")
    writer.start()
    try:
        assert entered.wait(60)
        spark.createDataFrame([("new", 3)], "name string, v int").write.mode(
            "overwrite"
        ).partitionBy("name").parquet(other)
    finally:
        release.set()
        writer.join(120)
    assert not writer.is_alive() and not errors
    assert [tuple(r) for r in spark.read.parquet(other).collect()] == [(3, "new")]
    ranged = spark.read.parquet(str(tmp_path / "ranged")).collect()
    assert [tuple(r) for r in ranged] == [(1, "a")]


def test_date_block_dimension_monotone_and_daily(spark):
    from defimap_data_pipelines_spark.pipelines.ingest import (
        date_block_dimension,
    )

    grid = date_range_frame(
        spark, "2023-01-01", "2023-03-31", ["aave_usdc", "aave_wbtc"]
    )
    dim = date_block_dimension(grid).orderBy("date").collect()
    # one row per DISTINCT date despite two strategies in the grid
    assert len(dim) == 90
    blocks = [r.block for r in dim]
    # closest-after semantics: block strictly increasing in date
    assert all(b2 > b1 for b1, b2 in zip(blocks, blocks[1:]))


def test_date_block_dimension_retries(spark):
    from defimap_data_pipelines_spark.pipelines.ingest import (
        date_block_dimension,
        synthetic_block_resolver,
    )

    grid = date_range_frame(spark, "2023-01-01", "2023-01-05", ["s"])
    calls: dict[str, int] = {}

    # the closure dict lives in the task's Python worker, not the
    # driver — the assertion is that the job SUCCEEDS: without retries
    # the first raise would fail the task
    def flaky(date_iso: str) -> int:
        calls[date_iso] = calls.get(date_iso, 0) + 1
        if calls[date_iso] < 3:
            raise RuntimeError("etherscan 5xx")
        return synthetic_block_resolver(date_iso)

    dim = date_block_dimension(grid.coalesce(1), resolver=flaky)
    assert dim.count() == 5


def test_ingest_samples_at_resolved_block(spark):
    from defimap_data_pipelines_spark.pipelines.ingest import (
        date_block_dimension,
        synthetic_block_resolver,
        synthetic_sampler,
    )

    grid = date_range_frame(spark, "2023-01-01", "2023-01-10", ["a", "b"])
    dim = date_block_dimension(grid)

    # the sampler runs in a Python worker: assert through the OUTPUT
    # frame by encoding the received block into a column
    def block_sampler(name: str, date_iso: str, block: int) -> dict:
        state = synthetic_sampler(name, date_iso)
        state["atoken_supply"] = float(block)
        return state

    out = sample_chain_state(grid, block_sampler, blocks=dim)
    assert out.count() == 20
    expected = {str(r.date): float(r.block) for r in dim.collect()}
    got = out.select("date", "atoken_supply").collect()
    assert all(expected[str(r.date)] == r.atoken_supply for r in got)


def test_run_curation_demo(spark, sf_dir, tmp_path, monkeypatch):
    """The end-to-end curation demo tool: runs, writes all artifacts,
    and the dataset card is internally consistent."""
    import importlib
    import json
    import os
    import sys

    sys.path.insert(0, "/root/repo/tools")
    run_curation = importlib.import_module("run_curation")
    out = str(tmp_path / "cur")
    monkeypatch.setattr(sys, "argv", ["run_curation.py", sf_dir, out])
    run_curation.main()

    card = json.load(open(os.path.join(out, "dataset_card.json")))
    assert card["curation_funnel"]["n_final"] == sum(card["splits"].values())
    assert card["splits"]["train"] > 0 and card["train_tokens"] > 0
    shards = spark.read.parquet(os.path.join(out, "train_shards"))
    assert shards.count() == card["splits"]["train"]
    assert {f.name for f in shards.schema.fields} >= {"doc_id", "text", "shard"}
    bins = spark.read.parquet(os.path.join(out, "packed_bins"))
    assert bins.select("shard", "bin").distinct().count() == card["n_packed_bins"]
