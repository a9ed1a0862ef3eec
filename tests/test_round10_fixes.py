"""Round-10 verdict/ADVICE fixes pinned as tests.

1. containment_pairs' shingle cache is BOUNDED under loop callers
   (r9 verdict task 6): each call pins exactly one frame in the
   session's bounded store (the bound itself is proven with fake
   frames in tests/test_round11_fixes.py) and release(spark) gives
   eager cleanup.
2. kcore_decompose's single-JVM localCheckpoint ceiling is a guard,
   not a crash (r9 verdict task 7): past the edge budget in local
   mode it raises LocalCheckpointCeiling with the remedy.
3. stress.py's copy-suffix separator is \\x01 (r9 ADVICE): cross-copy
   token disjointness no longer depends on the base vocabulary.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from defimap_data_pipelines_spark.operators import dedup
from defimap_data_pipelines_spark.operators.cachereg import release
from defimap_data_pipelines_spark.operators.graph import (
    KCORE_LOCAL_EDGE_CEILING,
    LocalCheckpointCeiling,
    kcore_decompose,
)


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _docs(spark, tag: str):
    rows = [
        (i, f"{tag} alpha beta gamma delta epsilon zeta token{i % 3}")
        for i in range(12)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_containment_cache_bounded_in_loops(spark):
    release(spark)  # isolate from earlier tests
    base = _persistent_rdd_count(spark)
    loops = 3
    for i in range(loops):
        dedup.containment_pairs(_docs(spark, f"v{i}"), "text", 3, 1).collect()
        assert len(spark._shared_frames) == i + 1  # one pin per call
    grown = _persistent_rdd_count(spark) - base
    assert grown <= loops, (
        f"{loops} loop calls left {grown} pinned shingle caches"
    )
    assert release(spark) == loops
    assert release(spark) == 0  # idempotent


def test_containment_result_correct_after_eviction(spark):
    """A released cache silently recomputes — a result held lazily
    past its pin's release still collects correctly."""
    release(spark)
    lazy = dedup.containment_pairs(_docs(spark, "first"), "text", 3, 1)
    assert release(spark) == 1  # unpersists "first"'s shingle cache
    rows = lazy.collect()
    assert rows and all(r["cont_bp"] >= 1 for r in rows)
    release(spark)


def _edges(spark, n: int):
    return spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src long, dst long"
    )


def test_kcore_local_ceiling_raises_actionably(spark):
    with pytest.raises(LocalCheckpointCeiling, match="SPARK_DRIVER_MEMORY"):
        kcore_decompose(_edges(spark, 8), k=1, rounds=2, max_local_edges=4)


def test_kcore_ceiling_disabled_and_default_paths(spark):
    # None disables the guard outright
    out = kcore_decompose(
        _edges(spark, 8), k=1, rounds=2, max_local_edges=None
    )
    assert out.count() == 16  # a cycle: every node survives each round
    # the default ceiling is far above any test graph — guard silent
    assert KCORE_LOCAL_EDGE_CEILING >= 10_000_000
    out = kcore_decompose(_edges(spark, 8), k=1, rounds=2)
    assert out.count() == 16


def test_stress_copy_suffix_is_vocab_independent(spark, tmp_path):
    """Adversarial vocabulary: base tokens 'aa' and 'aax1' coexist —
    the r9 'x{i}' suffix would collide copy 1's suffixed 'aa' with
    copy 0's 'aax1'; the \\x01 separator cannot."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import stress

    d = spark.createDataFrame(
        [(0, "aa aax1 bb", 10, "en", "web")],
        "doc_id long, text string, n_chars long, lang string, source string",
    )
    base = tmp_path / "base"
    base.mkdir()
    d.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "_tmp"))
    import shutil

    part = next(
        f
        for f in (tmp_path / "_tmp").iterdir()
        if f.name.startswith("part-") and f.name.endswith(".parquet")
    )
    shutil.copy(part, base / "documents.parquet")
    old = stress.BASE_DIR
    stress.BASE_DIR = str(base)
    try:
        rep = stress._replicate(spark, "documents", 2, keep_text=False)
        texts = [r["text"] for r in rep.orderBy("doc_id").collect()]
    finally:
        stress.BASE_DIR = old
    tok0 = set(texts[0].split(" "))
    tok1 = set(texts[1].split(" "))
    assert not tok0 & tok1
    assert all("\x01" in t for t in tok1)
