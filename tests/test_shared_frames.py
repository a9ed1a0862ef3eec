"""The session-owned shared-frame store (operators/cachereg.py).

Every ``@shared_frame`` builder is hit-tested here in the default tier:
a second call in one session returns the identical object without
building, and another input dir gets its own frame. The store lives on
the session, so sessions never share a keyed frame, a dropped session
is collectable, and a build writes a DEBUG record, not stdout.
"""

from __future__ import annotations

import gc
import logging
import os
import threading
import weakref
from concurrent.futures import ThreadPoolExecutor

import pytest

from defimap_data_pipelines_spark.operators import cachereg
from defimap_data_pipelines_spark.operators.cachereg import release, shared_frame
from defimap_data_pipelines_spark.plans import queries as q
from defimap_data_pipelines_spark.plans.domain import orders_raw_series

BUILDERS = [
    orders_raw_series,
    q._trailing_df,
    q._doc_shingles,
    q._hashed_doc_shingles,
    q._neardup_labels,
    q._cosine_topk10,
    q._lsh_topk10,
    q._minhash_pairs,
    q._clean_survivors,
    q._kmeans_assigned,
    q._ivf_trained_codebook,
    q._purchase_sym_edges,
    q._copurchase_edges,
    q._repeat_copurchase_edges,
]


def _builds(caplog, name: str) -> list[logging.LogRecord]:
    return [r for r in caplog.records if getattr(r, "frame", None) == name]


@pytest.fixture(scope="module")
def other_dir(tmp_path_factory, sf_dir) -> str:
    """The same input under another path, so another store key."""
    alias = tmp_path_factory.mktemp("alias") / "sf"
    os.symlink(sf_dir, alias)
    return str(alias)


@pytest.mark.parametrize("build", BUILDERS, ids=lambda f: f.__name__)
def test_shared_frame_hit(spark, sf_dir, other_dir, build, caplog):
    first = build(spark, sf_dir)
    with caplog.at_level(logging.DEBUG, logger=cachereg.__name__):
        assert build(spark, sf_dir) is first
    assert _builds(caplog, build.__name__) == []
    assert build(spark, other_dir) is not first


def test_build_logs_one_debug_record(spark, sf_dir, caplog):
    s2 = spark.newSession()
    with caplog.at_level(logging.DEBUG, logger=cachereg.__name__):
        q._cosine_topk10(s2, sf_dir)
        q._cosine_topk10(s2, sf_dir)
        q._copurchase_edges(s2, sf_dir)
    (lazy,) = _builds(caplog, "_cosine_topk10")
    (eager,) = _builds(caplog, "_copurchase_edges")
    assert lazy.sf_dir == sf_dir and lazy.build_s >= 0
    assert lazy.lazy is True  # .cache(): materializes in its consumer
    assert eager.lazy is False  # localCheckpoint(): built eagerly
    release(s2)


def test_build_writes_nothing_to_stdout(spark, sf_dir, capsys):
    s2 = spark.newSession()
    q._cosine_topk10(s2, sf_dir)
    q._copurchase_edges(s2, sf_dir)
    release(s2)
    assert capsys.readouterr().out == ""


def test_sessions_do_not_share_frames(spark, sf_dir):
    s2 = spark.newSession()
    mine = orders_raw_series(spark, sf_dir)
    theirs = orders_raw_series(s2, sf_dir)
    assert theirs is not mine
    assert release(s2) == 1
    assert orders_raw_series(spark, sf_dir) is mine
    assert mine.count() == theirs.count() > 0


def test_dropped_session_is_collected(spark, sf_dir):
    s2 = spark.newSession()
    orders_raw_series(s2, sf_dir).count()
    q._copurchase_edges(s2, sf_dir)
    assert release(s2) == 2
    ref = weakref.ref(s2)
    del s2
    # pyspark's RDD.toDF closure holds the newest session; move it on
    spark.newSession()
    gc.collect()
    assert ref() is None


def test_concurrent_requests_share_one_frame(spark, sf_dir):
    s2 = spark.newSession()
    with ThreadPoolExecutor(4) as ex:
        futs = [ex.submit(q._neardup_labels, s2, sf_dir) for _ in range(4)]
        got = [f.result(timeout=600) for f in futs]
    assert all(g is got[0] for g in got)
    release(s2)


class _Session:
    pass


class _Frame:
    is_cached = True

    def __init__(self, same_plan: bool) -> None:
        self.same_plan = same_plan
        self.unpersists = 0

    def sameSemantics(self, other) -> bool:
        return self.same_plan

    def unpersist(self, blocking: bool = False) -> None:
        self.unpersists += 1


@pytest.mark.parametrize("same_plan", [False, True])
def test_race_first_insert_wins(same_plan):
    """Two builds of one key overlap (the lock is not held while
    building, or the barrier would never release); the first insert
    is returned to both callers. The other frame is unpersisted unless
    it has the winner's plan, whose cache entry the two share."""
    barrier = threading.Barrier(2)
    built: list[_Frame] = []

    @shared_frame
    def frame(spark, sf_dir):
        f = _Frame(same_plan)
        built.append(f)
        barrier.wait(timeout=30)
        return f

    session = _Session()
    with ThreadPoolExecutor(2) as ex:
        got = list(ex.map(lambda _: frame(session, "d"), range(2)))
    assert got[0] is got[1]
    (loser,) = [f for f in built if f is not got[0]]
    assert (got[0].unpersists, loser.unpersists) == (0, 0 if same_plan else 1)
    assert release(session) == 1
