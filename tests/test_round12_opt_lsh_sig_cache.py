"""r12 optimization: cosine_pairs_lsh computes its plane-projection
signatures ONCE into a bounded cached frame shared by both self-join
sides. These tests pin that the cache changes nothing about the
output and that the session store releases what it pinned."""

from __future__ import annotations

from pyspark.sql import functions as F

from defimap_data_pipelines_spark.operators.cachereg import release
from defimap_data_pipelines_spark.operators.similarity import (
    cosine_pairs,
    cosine_pairs_lsh,
)


def _vectors(spark, n=40, dim=8):
    # two exact-duplicate clusters planted in deterministic noise
    rows = []
    for i in range(n):
        base = [((i * 7 + j * 3) % 11) / 11.0 + 0.1 for j in range(dim)]
        rows.append((i, base))
    rows.append((1000, rows[0][1]))  # twin of vec 0
    rows.append((1001, rows[1][1]))  # twin of vec 1
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_sig_cache_output_matches_exact_verifier(spark):
    v = _vectors(spark)
    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_lsh(
            v, threshold=0.999, num_planes=6, num_tables=8, dim=8
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs(v, threshold=0.999).collect()
    }
    # planted twins must be present, and LSH (exact verify) never
    # emits a pair the exhaustive path would not
    assert (0, 1000) in got and (1, 1001) in got
    assert got <= exact


def test_release_drains_lsh_sig_pin(spark):
    v = _vectors(spark, n=10)
    release(spark)  # drain anything left by other tests
    lazy = cosine_pairs_lsh(v, threshold=0.99, num_planes=6, dim=8)
    assert release(spark) == 1  # exactly one signature frame pinned
    # idempotent: nothing left to release
    assert release(spark) == 0
    # the lazy result recomputes its released signatures
    assert (0, 1000) in {(r["id_a"], r["id_b"]) for r in lazy.collect()}
