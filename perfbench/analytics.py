"""``analytics_mix``: registered queries from every operator family over a
seeded TPC-H-ish directory, each collected to the client (read-only: no
writes, no ingest).

Set-up stages the inputs and runs the warm-up pass: every chosen query on
a small directory of its own, compared value for value against its DuckDB
oracle (``tools/parity.compare``). Each timed pass then runs the queries,
in the seed's order, on a directory no earlier pass read, so the session's
frame caches (keyed by directory) never serve a timed query. After the
pass the collected results are compared the same way against the oracles
on the same input; the comparison is not timed and starts no Spark job.
"""

from __future__ import annotations

import importlib.util
import os
import random
import time

import catalog
import datagen
from runctx import Result, timed_passes
from spans import final_plan_exchanges

from defimap_data_pipelines_spark.plans.queries import ORACLE, QUERIES

SF_WARMUP = 0.002
SF_TIMED = 0.01
WARMUP_THREADS = 4


def _parity():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "parity", os.path.join(root, "tools", "parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run(ctx, seconds: float) -> Result:
    spark = ctx.spark
    parity = _parity()
    order = list(catalog.QUERY_FAMILY)
    random.Random(ctx.seed).shuffle(order)

    def stage(k: int, sf: float) -> str:
        d = os.path.join(ctx.work, f"sf{sf}-pass{k}")
        datagen.generate(d, sf, seed=ctx.seed * 1000 + k)
        return d

    traced = ctx.tracer.enabled
    ctx.tracer.enabled = False
    warm = stage(0, SF_WARMUP)
    con = parity.duck_connect(warm)
    same = ctx.concurrently(
        [(f"warmup.{q}", parity.compare, q, spark, con.cursor(), warm) for q in order],
        WARMUP_THREADS,
    )
    for q, ok in zip(order, same):
        if ok is not None:
            ctx.check(ok, f"{q} differs from its DuckDB oracle at {os.path.basename(warm)}")
    con.close()
    staged = {1: stage(1, SF_TIMED)}
    ctx.end_setup()
    ctx.tracer.enabled = traced

    def run_pass(k: int) -> dict:
        d = staged.pop(k, None) or stage(k, SF_TIMED)
        op_s = []
        results = {}
        t0 = time.perf_counter()
        with ctx.tracer.span("analytics.pass"):
            for q in order:
                s, results[q] = ctx.op(f"plans.{q}", _collect, QUERIES[q], spark, d)
                op_s.append(s)
        wall_s = time.perf_counter() - t0
        check_results(ctx, parity, results, d)
        return {"wall_s": wall_s, "op_s": op_s}

    passes = timed_passes(seconds, run_pass)
    pass_s = [p["wall_s"] for p in passes]
    layer = {}
    if traced:
        ctx.tracer.resolve_counts()
        ex = final_plan_exchanges(spark, {f"plans.{q}" for q in order})
        layer = catalog.layer_metrics(
            ctx.tracer,
            len(passes),
            pass_s=pass_s,
            exchanges=sum(ex.values()) / len(passes),
        )
    return Result(pass_s=pass_s, op_name="query", op_s=[s for p in passes for s in p["op_s"]], layer_metrics=layer)


def _collect(query, spark, sf_dir: str):
    df = query(spark, sf_dir)
    return df, df.toPandas()


def check_results(ctx, parity, results: dict, sf_dir: str) -> None:
    """Every collected result against its DuckDB oracle on the same input:
    column names and types, row count, and every value (rows sorted, as
    ``tools/parity.compare`` does)."""
    con = parity.duck_connect(sf_dir)
    try:
        for q, got in results.items():
            if got is None:  # the query raised; already counted
                continue
            df, sdf = got
            try:
                oracle = con.execute(ORACLE[q]).arrow()
                ok = parity.dtype_check(q, df, oracle)
                a, b = parity.normalize(sdf), parity.normalize(oracle.to_pandas())
                ok = ok and list(a.columns) == list(b.columns) and len(a) == len(b)
                for c in a.columns if ok else ():
                    if a[c].dtype.kind == "f" or b[c].dtype.kind == "f":
                        ok = ok and bool((a[c].fillna(-9e99) == b[c].fillna(-9e99)).all())
                    else:
                        ok = ok and bool((a[c].astype(str) == b[c].astype(str)).all())
                what = f"{q}: result ({len(a)} rows) differs from its DuckDB oracle ({len(b)} rows)"
            except Exception as e:  # noqa: BLE001
                ok, what = False, f"{q}: oracle comparison raised {type(e).__name__}: {str(e)[:200]}"
            ctx.check(ok, what)
    finally:
        con.close()
