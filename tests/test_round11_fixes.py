"""Round-11 verdict/ADVICE fixes pinned as tests.

1. group_centroid_similarity's cross-side centroid cache is BOUNDED
   under loop callers (r10 verdict task 3 — the symmetry candidate to
   containment_pairs' shingle cache): each call pins exactly one
   frame in the session's store and release(spark) gives eager
   cleanup.
2. The shared-frame store (operators/cachereg.py, which every pin and
   shared frame uses) holds its bound and single-unpersist guarantee
   under concurrent driver threads (r10 ADVICE: the old module-global
   list raced append/pop).
3. kcore_decompose's single-JVM guard exempts "local-cluster[...]"
   masters, whose checkpoint blocks spread across separate executor
   JVMs (r10 ADVICE).
4. bench.py's BENCH_ONLY guard fails loudly on empty/unknown name
   lists instead of IndexError at the warmup (r10 ADVICE, mirroring
   stress.py's guard).
"""

from __future__ import annotations

import sys
import threading

import pytest

from defimap_data_pipelines_spark.operators.cachereg import _BOUND, pin, release
from defimap_data_pipelines_spark.operators.graph import _is_single_jvm_master
from defimap_data_pipelines_spark.operators.similarity import (
    group_centroid_similarity,
)


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _emb(spark, tag: int):
    rows = [
        (f"g{i % 3}", [float(i % 5 + tag), float(i % 7), 1.0])
        for i in range(12)
    ]
    return spark.createDataFrame(rows, "grp string, embedding array<float>")


def test_centroid_cache_bounded_in_loops(spark):
    release(spark)  # isolate from earlier tests
    base = _persistent_rdd_count(spark)
    loops = 3
    for i in range(loops):
        group_centroid_similarity(_emb(spark, i), "grp", "embedding").collect()
        assert len(spark._shared_frames) == i + 1  # one pin per call
    grown = _persistent_rdd_count(spark) - base
    assert grown <= loops, (
        f"{loops} loop calls left {grown} pinned centroid caches"
    )
    assert release(spark) == loops
    assert release(spark) == 0  # idempotent


def test_centroid_result_correct_after_eviction(spark):
    """A released cache silently recomputes — a result held lazily
    past its pin's release still collects correctly."""
    release(spark)
    lazy = group_centroid_similarity(_emb(spark, 0), "grp", "embedding")
    assert release(spark) == 1  # unpersists its centroid cache
    rows = lazy.collect()
    assert len(rows) == 3  # 3 groups -> 3 unordered pairs
    assert all(r["g_a"] < r["g_b"] and r["cosine"] is not None for r in rows)
    release(spark)


class _FakeSession:
    """Stands in for a SparkSession: only carries the store."""


class _FakeFrame:
    """Stands in for a cached DataFrame: counts unpersist calls."""

    def __init__(self, session: _FakeSession) -> None:
        self.sparkSession = session
        self.unpersists = 0
        self._lock = threading.Lock()

    def unpersist(self, blocking: bool = False) -> None:
        with self._lock:
            self.unpersists += 1


def test_store_evicts_oldest_first_past_bound():
    session = _FakeSession()
    frames = [_FakeFrame(session) for _ in range(_BOUND + 3)]
    for f in frames:
        assert pin(f) is f
    assert [f.unpersists for f in frames[:3]] == [1, 1, 1]
    assert all(f.unpersists == 0 for f in frames[3:])
    assert list(session._shared_frames.values()) == frames[3:]
    assert release(session) == _BOUND
    assert all(f.unpersists == 1 for f in frames)


def test_registry_bound_and_single_unpersist_under_threads():
    session = _FakeSession()
    frames = [_FakeFrame(session) for _ in range(200)]
    errors: list[BaseException] = []

    def worker(chunk):
        try:
            for f in chunk:
                pin(f)
        except BaseException as e:  # pragma: no cover
            errors.append(e)

    threads = [
        threading.Thread(target=worker, args=(frames[i::8],))
        for i in range(8)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # force interleavings inside pin()
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    # bound holds even under contention
    assert len(session._shared_frames) == _BOUND
    released = release(session)
    assert released == _BOUND
    assert not hasattr(session, "_shared_frames")
    # every frame unpersisted at most once; exactly 200 total
    # unpersists (200 - _BOUND evictions + _BOUND releases), none double
    assert all(f.unpersists <= 1 for f in frames)
    assert sum(f.unpersists for f in frames) == len(frames)
    assert release(session) == 0  # idempotent


@pytest.mark.parametrize(
    "master,expected",
    [
        ("local", True),
        ("local[4]", True),
        ("local[*]", True),
        ("local[4,2]", True),
        ("local-cluster[2,1,1024]", False),
        ("spark://host:7077", False),
        ("yarn", False),
        ("k8s://https://host:443", False),
    ],
)
def test_kcore_guard_master_predicate(master, expected):
    assert _is_single_jvm_master(master) is expected


def test_bench_only_guard_raises_before_warmup(monkeypatch):
    import bench

    monkeypatch.setenv("BENCH_ONLY", "no_such_query,also_missing")
    with pytest.raises(ValueError, match="no_such_query"):
        bench.main()
    monkeypatch.setenv("BENCH_ONLY", ",")
    with pytest.raises(ValueError, match="no runnable"):
        bench.main()


def test_auto_planes_sizing():
    """num_planes="auto" (the r11 stress finding: fixed planes make
    LSH candidates quadratic in corpus size) keeps expected bucket
    occupancy ~target while flooring at the 10-plane default."""
    from defimap_data_pipelines_spark.operators.similarity import _auto_planes

    assert _auto_planes(1_000, 64) == 10          # small corpus: floor
    assert _auto_planes(65_536, 64) == 10         # exactly the floor
    assert _auto_planes(1_000_000, 64) == 14      # scales with log2(n)
    assert _auto_planes(1_000_000_000, 64) == 24
    assert _auto_planes(0, 64) == 10              # degenerate-safe
    assert _auto_planes(100, 0) == 10


def test_cosine_pairs_lsh_auto_mode_finds_twins(spark):
    from defimap_data_pipelines_spark.operators.similarity import (
        cosine_pairs_lsh,
    )

    base = [(i, [float((i * 7 + d * 3) % 11 - 5) for d in range(8)])
            for i in range(40)]
    twins = [(i + 1000, [x * 1.0001 for x in v]) for i, v in base]
    df = spark.createDataFrame(
        base + twins, "vec_id long, embedding array<double>"
    )
    out = cosine_pairs_lsh(
        df, threshold=0.98, num_planes="auto", num_tables=6, dim=8
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in out}
    assert all((i, i + 1000) in found for i, _ in base)
