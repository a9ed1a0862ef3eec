"""Round-13 optimization regression tests.

1. Cross-batch state in the rolling mapInPandas recursions (r12
   ADVICE): the per-key state must survive Arrow batch boundaries, and
   the duplicate-order ValueError must fire even when the duplicate
   pair straddles a boundary. The default maxRecordsPerBatch (10,000)
   exceeds every per-partition row count in the suite, so without
   forcing tiny batches the cross-batch path was untested by CI.
2. The r13 session caches (shared IVF codebook, shared cosine/LSH
   top-k frames) must return output-identical frames to the uncached
   operator calls.
3. The bounded plan-cache registry used by fifo_matching must release.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def tiny_arrow_batches(spark):
    """Force 3-row Arrow batches so multi-row keys span batches."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    yield spark
    spark.conf.set(conf, old)


def _series(spark, n=20, keys=(1, 2)):
    rows = [
        (k, o, float((o * 7 + k) % 11) - 5.0)
        for k in keys
        for o in range(1, n + 1)
    ]
    return spark.createDataFrame(rows, "k long, o long, v double")


def test_ewma_state_survives_batch_boundaries(tiny_arrow_batches):
    spark = tiny_arrow_batches
    from defimap_data_pipelines_spark.operators.rolling import (
        ewma_quantized,
    )

    df = _series(spark).coalesce(1)
    got = {
        (r.k, r.o): r.ewma_q
        for r in ewma_quantized(df, "k", "o", "v").collect()
    }
    # reference recursion computed driver-side (trunc-toward-zero /2)
    for k in (1, 2):
        e = None
        for o in range(1, 21):
            xq = round((float((o * 7 + k) % 11) - 5.0) * 1_000_000)
            if e is None:
                e = xq
            else:
                s = xq + e
                e = -((-s) // 2) if s < 0 else s // 2
            assert got[(k, o)] == e, (k, o)


def test_holt_state_survives_batch_boundaries(tiny_arrow_batches):
    spark = tiny_arrow_batches
    from defimap_data_pipelines_spark.operators.rolling import (
        holt_quantized,
    )

    df = _series(spark, n=12).coalesce(1)
    # parity oracle: the same operator under default batch size
    spark.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
    )
    want = {
        (r[0], r[1]): tuple(r[2:])
        for r in holt_quantized(df, "k", "o", "v").collect()
    }
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    got = {
        (r[0], r[1]): tuple(r[2:])
        for r in holt_quantized(df, "k", "o", "v").collect()
    }
    assert got == want


def test_ewma_duplicate_order_across_batch_boundary(tiny_arrow_batches):
    spark = tiny_arrow_batches
    from defimap_data_pipelines_spark.operators.rolling import (
        ewma_quantized,
    )

    # 3-row batches: rows (1,1),(1,2),(1,3) | (1,3),(2,1) — the
    # duplicate order 3 pair straddles the batch boundary
    df = spark.createDataFrame(
        [(1, 1, 1.0), (1, 2, 1.0), (1, 3, 1.0), (1, 3, 2.0), (2, 1, 0.5)],
        "k long, o long, v double",
    ).coalesce(1)
    with pytest.raises(Exception, match="duplicate order"):
        ewma_quantized(df, "k", "o", "v").collect()


def test_shared_ivf_codebook_matches_inline_fit(spark, sf_dir):
    from pyspark.sql import Window

    from defimap_data_pipelines_spark.operators.clustering import (
        assign_clusters,
        update_centroids,
    )
    from defimap_data_pipelines_spark.plans.queries import (
        _ivf_trained_codebook,
    )
    from defimap_data_pipelines_spark.sources.parquet import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    init = (
        v.orderBy("vec_id")
        .limit(8)
        .select(
            F.row_number().over(Window.orderBy("vec_id")).alias("cluster"),
            F.col("e").alias("c"),
        )
    )
    want = sorted(
        (r["cluster"], list(r["c"]))
        for r in update_centroids(assign_clusters(v, init)).collect()
    )
    got = sorted(
        (r["cluster"], list(r["c"]))
        for r in _ivf_trained_codebook(spark, sf_dir).collect()
    )
    assert got == want
    # second call returns the SAME cached frame object
    assert _ivf_trained_codebook(spark, sf_dir) is _ivf_trained_codebook(
        spark, sf_dir
    )


def test_shared_topk_frames_match_operators(spark, sf_dir):
    from defimap_data_pipelines_spark.operators.similarity import (
        cosine_topk,
        lsh_topk,
    )
    from defimap_data_pipelines_spark.plans.queries import (
        _cosine_topk10,
        _lsh_topk10,
    )
    from defimap_data_pipelines_spark.sources.parquet import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    key = lambda r: (r["query_id"], r["vec_id"])  # noqa: E731
    assert sorted(map(key, _cosine_topk10(spark, sf_dir).collect())) == (
        sorted(map(key, cosine_topk(q, emb, k=5).collect()))
    )
    assert sorted(map(key, _lsh_topk10(spark, sf_dir).collect())) == (
        sorted(map(key, lsh_topk(q, emb, k=5).collect()))
    )


def test_fifo_matching_pin_released(spark, sf_dir):
    from defimap_data_pipelines_spark.operators.cachereg import release
    from defimap_data_pipelines_spark.plans.queries import QUERIES

    release(spark)
    lazy = QUERIES["fifo_matching"](spark, sf_dir)
    n = lazy.count()
    assert release(spark) == 1  # the projected lineitem pin
    assert release(spark) == 0
    assert lazy.count() == n  # recomputes past its released pin


def _semdedup_both_paths(spark, id_type: str):
    """(join-path rows, gram-path rows, their dtypes) on planted twins."""
    import random

    from defimap_data_pipelines_spark.operators.similarity import (
        semdedup_prune,
    )

    rng = random.Random(13)
    rows = []
    for i in range(60):
        base = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((i, base))
        if i % 3 == 0:  # planted near-twin
            rows.append(
                (1000 + i, [x * (1.0 + 0.001 * ((i % 7) - 3)) for x in base])
            )
    emb = spark.createDataFrame(
        rows, f"vec_id {id_type}, embedding array<double>"
    )
    kw = dict(k=4, iters=1, tau=0.35)
    join = semdedup_prune(emb, max_cluster=None, **kw)
    gram = semdedup_prune(emb, max_cluster=4096, dim=8, **kw)
    return (
        {tuple(r) for r in join.collect()},
        {tuple(r) for r in gram.collect()},
        (join.dtypes, gram.dtypes),
    )


def test_semdedup_gram_kernel_matches_join_path(spark):
    """The r13 dense-regime gram kernel (max_cluster set) must emit
    the IDENTICAL pruned rows — ids AND rounded cosines — as the
    expression join path (max_cluster=None) when no cluster exceeds
    the cap (the regime where the two formulations are defined to
    coincide)."""
    via_join, via_gram, _ = _semdedup_both_paths(spark, "long")
    assert via_gram == via_join
    assert via_gram  # non-vacuous: the planted twins must be pruned


def test_semdedup_gram_kernel_int32_ids_match_join_path(spark):
    """The gram kernel derives its id dtypes from the input columns:
    int32 vec_ids give the join path's rows and types."""
    via_join, via_gram, (join_t, gram_t) = _semdedup_both_paths(spark, "int")
    assert via_gram == via_join and via_gram
    assert gram_t == join_t and dict(gram_t)["vec_id"] == "int"
