"""The session-owned shared-frame store.

Frames that outlive the call that built them live in one small ordered
map stored on the ``SparkSession`` itself: ``@shared_frame`` builders'
frames, keyed by (builder name, input dir), and ``pin``-ned ``.cache()``
scans behind operators' lazy results. A dropped session takes its
frames with it. Past ``_BOUND`` frames the oldest is unpersisted; a
still-lazy result over it recomputes, never goes wrong.

The store adds no Spark action: each builder keeps its own persistence.
Its lock is never held during a build, because builders nest and
concurrent callers may race on one key; the first insert wins.
"""

from __future__ import annotations

import functools
import logging
import threading
import time
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession

# One input dir's 14 keyed frames plus the pins of one query (at most a
# few) must never evict each other; 32 leaves room for both.
_BOUND = 32

_ATTR = "_shared_frames"
_LOCK = threading.Lock()
_log = logging.getLogger(__name__)


def _put(spark: SparkSession, key: object, df: DataFrame) -> DataFrame:
    """Hold ``df`` under ``key`` unless a frame is already there; return
    the held one."""
    with _LOCK:
        frames = spark.__dict__.setdefault(_ATTR, OrderedDict())
        held = frames.setdefault(key, df)
        evicted = []
        while len(frames) > _BOUND:
            evicted.append(frames.popitem(last=False)[1])
    # a race loser over the same plan shares the winner's cache entry,
    # which unpersisting it would drop
    if held is not df and not held.sameSemantics(df):
        evicted.append(df)
    for old in evicted:
        old.unpersist(blocking=False)
    return held


def shared_frame(build):
    """Decorate a ``(spark, sf_dir) -> DataFrame`` builder so each
    session builds its frame once per ``sf_dir``."""

    @functools.wraps(build)
    def get(spark: SparkSession, sf_dir: str) -> DataFrame:
        key = (build.__name__, sf_dir)
        with _LOCK:
            hit = spark.__dict__.get(_ATTR, {}).get(key)
        if hit is not None:
            return hit
        t0 = time.perf_counter()
        df = build(spark, sf_dir)
        # a lazy .cache() frame materializes in its first consumer, so
        # its build_s is plan construction only
        rec = {"frame": build.__name__, "sf_dir": sf_dir,
               "build_s": time.perf_counter() - t0, "lazy": df.is_cached}
        _log.debug("shared frame %(frame)s built from %(sf_dir)s in "
                   "%(build_s).3f s (lazy=%(lazy)s)", rec, extra=rec)
        return _put(spark, key, df)

    return get


def pin(df: DataFrame) -> DataFrame:
    """Keep a ``.cache()``-ed ``df`` alive in its session's store."""
    return _put(df.sparkSession, object(), df)


def release(spark: SparkSession) -> int:
    """Unpersist every frame ``spark`` holds; return how many."""
    with _LOCK:
        frames = spark.__dict__.pop(_ATTR, {})
    for df in frames.values():
        df.unpersist(blocking=False)
    return len(frames)
