"""``medallion``: the reference's daily batch DAG end to end, then its
incremental daily tail.

One pass, for S strategies x D days from 2022-01-01:

1. ``ingest.sample``: sample the synthetic chain state for the (date,
   name) grid and write bronze (``sources.writers.idempotent_replace_range``);
2. ``ingest.clean``: bronze -> silver;
3. ``transform.plan`` then ``transform.<table>``: the five gold tables,
   each written on its own;
4. ``load``: the datamart extracts, written as Parquet;
5. ``incremental.bootstrap``: GOTK and TVL state from silver up to the
   split date, then one ``incremental.day`` per remaining day: read the
   day's silver rows, advance GOTK and TVL, append their gold rows and
   persist the new state.

Everything is Parquet under the pass's own directory. Strategy names
carry the seed and the pass number, so every pass samples fresh data.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import pyarrow.dataset as pads
from pyspark.sql import functions as F

import catalog
from runctx import Result, timed_passes
from spans import tree_size

from defimap_data_pipelines_spark.pipelines.incremental import (
    incremental_gotk_step,
    incremental_tvl_step,
    initial_gotk_state,
    initial_tvl_state,
)
from defimap_data_pipelines_spark.pipelines.ingest import (
    clean_bronze,
    date_range_frame,
    sample_chain_state,
)
from defimap_data_pipelines_spark.pipelines.load import run_load
from defimap_data_pipelines_spark.pipelines.transform import run_transform
from defimap_data_pipelines_spark.sources.writers import (
    idempotent_replace_range,
    write_partitioned,
)

START = "2022-01-01"
TOKENS = ["usdc", "wbtc", "dai", "weth"]  # two stable, two volatile
# (strategies, days, incremental tail days)
WARMUP = (4, 90, 0)
TIMED = (20, 365, 1)
GOLD = ["growth_of_10k", "tvl", "pre_total_return", "pre_trailing_return", "pre_risk"]


def run(ctx, seconds: float) -> Result:
    traced = ctx.tracer.enabled
    ctx.tracer.enabled = False
    run_pass(ctx, 0, *WARMUP, through_gold=True)
    ctx.end_setup()
    ctx.tracer.enabled = traced

    passes = timed_passes(seconds, lambda k: run_pass(ctx, k, *TIMED))
    pass_s = [p["wall_s"] for p in passes]
    op_s = [s for p in passes for s in p["day_s"]]
    layer = {}
    if traced:
        ctx.tracer.resolve_counts()
        layer = catalog.layer_metrics(
            ctx.tracer,
            len(passes),
            ingest_rows=sum(p["rows"] for p in passes) / len(passes),
            bytes_files=[p["bytes_files"] for p in passes],
            pass_s=pass_s,
        )
    return Result(pass_s=pass_s, op_name="day", op_s=op_s, layer_metrics=layer)


def run_pass(ctx, k: int, n_strategies: int, n_days: int, tail: int, through_gold=False) -> dict:
    """One pass. ``through_gold`` is the warm-up: it stops after the gold
    tables (the stages after them showed no first-run penalty) and writes
    those concurrently."""
    spark = ctx.spark
    out = os.path.join(ctx.work, f"pass{k}")
    names = [f"s{ctx.seed}p{k}n{i:03d}_{TOKENS[i % len(TOKENS)]}" for i in range(n_strategies)]
    start = dt.date.fromisoformat(START)
    ds = (start + dt.timedelta(days=n_days - 1)).isoformat()
    split = (start + dt.timedelta(days=n_days - 1 - tail)).isoformat()
    tail_days = [(start + dt.timedelta(days=n_days - tail + i)).isoformat() for i in range(tail)]
    day_s: list[float] = []
    state: dict = {}

    def sample():
        dates = date_range_frame(spark, START, ds, names)
        idempotent_replace_range(sample_chain_state(dates), f"{out}/bronze", ["name"])

    def clean():
        silver = clean_bronze(spark.read.parquet(f"{out}/bronze"))
        idempotent_replace_range(silver, f"{out}/silver", ["name"])

    def plan():
        state["gold"] = run_transform(spark.read.parquet(f"{out}/silver"), ds=ds, start_date=START)

    def write_gold(table):
        write_partitioned(state["gold"][table], f"{out}/gold/{table}", ["name"])

    def load():
        dim = spark.createDataFrame(
            [(f"id-{i}", n, 0.0, 0.0) for i, n in enumerate(names)],
            ["id", "slug", "tvl", "apr"],
        )
        run_load(
            spark.read.parquet(f"{out}/gold/growth_of_10k"),
            spark.read.parquet(f"{out}/gold/tvl"),
            spark.read.parquet(f"{out}/silver"),
            dim,
            write=lambda df, table: write_partitioned(df, f"{out}/datamart/{table}", []),
        )

    def bootstrap():
        history = spark.read.parquet(f"{out}/silver").filter(F.col("date") <= F.lit(split))
        write_partitioned(initial_gotk_state(history), f"{out}/state/gotk/0", [])
        write_partitioned(initial_tvl_state(history), f"{out}/state/tvl/0", [])

    def day(i, date):
        new_raw = spark.read.parquet(f"{out}/silver").filter(F.col("date") == F.lit(date))
        gotk_state = spark.read.parquet(f"{out}/state/gotk/{i}")
        tvl_state = spark.read.parquet(f"{out}/state/tvl/{i}")
        nxt = {}

        def gotk_step():
            rows, nxt["gotk"] = incremental_gotk_step(gotk_state, new_raw)
            write_partitioned(rows, f"{out}/inc/growth_of_10k", ["name"], mode="append")

        def tvl_step():
            rows, nxt["tvl"] = incremental_tvl_step(tvl_state, new_raw)
            write_partitioned(rows, f"{out}/inc/tvl", ["name"], mode="append")

        def state_write():
            write_partitioned(nxt["gotk"], f"{out}/state/gotk/{i + 1}", [])
            write_partitioned(nxt["tvl"], f"{out}/state/tvl/{i + 1}", [])

        for name, fn in (
            ("incremental.gotk_step", gotk_step),
            ("incremental.tvl_step", tvl_step),
            ("incremental.state_write", state_write),
        ):
            ctx.op(name, fn)

    t0 = time.perf_counter()
    with ctx.tracer.span("medallion.pass"):
        ctx.op("ingest.sample", sample)
        ctx.op("ingest.clean", clean)
        ctx.op("transform.plan", plan)
        if through_gold:
            ctx.concurrently([(f"transform.{t}", write_gold, t) for t in GOLD], len(GOLD))
        else:
            for table in GOLD:
                ctx.op(f"transform.{table}", write_gold, table)
            ctx.op("load", load)
            ctx.op("incremental.bootstrap", bootstrap)
            for i, date in enumerate(tail_days):
                day_s.append(ctx.op("incremental.day", day, i, date)[0])
    wall_s = time.perf_counter() - t0

    rows = check_pass(ctx, out, len(names), n_days, split, through_gold)
    return {
        "wall_s": wall_s,
        "day_s": day_s,
        "rows": rows,
        "bytes_files": tree_size(out),
    }


def _read(path: str):
    return pads.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()


def _rows(path: str) -> int:
    if not os.path.isdir(path):
        return -1
    return pads.dataset(path, format="parquet", partitioning="hive").count_rows()


def check_pass(ctx, out: str, n_strategies: int, n_days: int, split: str, through_gold: bool) -> int:
    """Row counts of every tier against the S x D grid, and the incremental
    tail against the batch gold tables over the same silver rows, exactly.
    Read with pyarrow, so the checks start no Spark jobs."""
    grid = n_strategies * n_days
    bronze = _rows(f"{out}/bronze")
    exact = [
        ("bronze", grid),
        ("silver", grid),
        ("gold/growth_of_10k", grid),
        ("gold/tvl", grid),
        ("gold/pre_risk", n_strategies),
    ]
    nonempty = ["gold/pre_total_return", "gold/pre_trailing_return"]
    if not through_gold:
        exact += [("datamart/strategy_growth", grid), ("datamart/strategy_apr", grid)]
        nonempty += ["datamart/strategy_tvl"]
    for path, want in exact:
        got = _rows(f"{out}/{path}")
        ctx.check(got == want, f"{path} has {got} rows, want {want}")
    for path in nonempty:
        got = _rows(f"{out}/{path}")
        ctx.check(got > 0, f"{path} has {got} rows")
    if through_gold:
        return bronze
    for table, cols in [
        ("growth_of_10k", ["start_day_investment", "end_day_investment", "percent_change"]),
        ("tvl", ["tvl", "change_tvl", "percent_change"]),
    ]:
        ctx.check(*_same_rows(out, table, cols, split))
    return bronze


def _same_rows(out: str, table: str, cols: list[str], split: str) -> tuple[bool, str]:
    try:
        inc = _read(f"{out}/inc/{table}")
        batch = _read(f"{out}/gold/{table}")
    except Exception as e:  # noqa: BLE001
        return False, f"inc/{table}: unreadable ({type(e).__name__})"
    batch = batch[batch["date"].astype(str) > split]
    key = ["name", "date"]
    for df in (inc, batch):
        df["name"] = df["name"].astype(str)
        df["date"] = df["date"].astype(str)
    a = inc[key + cols].sort_values(key).reset_index(drop=True)
    b = batch[key + cols].sort_values(key).reset_index(drop=True)
    same = len(a) == len(b) > 0 and a.equals(b)
    return same, f"inc/{table} ({len(a)} rows) != gold/{table} after {split} ({len(b)} rows)"
