"""Relational + pipeline operators (diff core, dedup, similarity, ...).

Cache discipline: several LSH/sketch operators ``.cache()`` an
intermediate frame that feeds multiple plan branches (without
materialization every branch re-runs the sketch computation). In a
one-shot job the caches die with the session; a caller that reuses one
session for many results should call :func:`release_caches` after
materializing each result, or cached blocks accumulate until eviction.
The registry is per thread: :func:`release_caches` frees only what the
calling thread's operators cached, so concurrent callers on one session
never drop each other's frames.
"""

import threading
from typing import Callable

from pyspark.sql import DataFrame


class _Registry(threading.local):
    def __init__(self) -> None:
        #: release callbacks for what this thread's operators pinned, in order
        self.releases: list[Callable[[], object]] = []


_REGISTRY = _Registry()


def tracked_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` + register the frame so :func:`release_caches` can
    drop it once the consuming plan has been materialized."""
    df = df.cache()
    _REGISTRY.releases.append(df.unpersist)
    return df


def free_checkpoint(df: DataFrame) -> None:
    """Drop the blocks behind a ``localCheckpoint``-ed frame.
    ``DataFrame.unpersist`` does not: the blocks belong to the RDD under
    the frame's ``LogicalRDD`` leaf, not to the cache manager."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def track_checkpoint(df: DataFrame) -> None:
    """Register a ``localCheckpoint``-ed frame so :func:`release_caches`
    frees its blocks (see :func:`free_checkpoint`)."""
    _REGISTRY.releases.append(lambda: free_checkpoint(df))


def release_caches() -> int:
    """Release everything this thread's operators pinned; returns how
    many frames were released. A cached branch that a plan still needs
    is recomputed; a released checkpoint is not, so materialize results
    before calling this."""
    releases = _REGISTRY.releases
    for release in releases:
        release()
    n = len(releases)
    releases.clear()
    return n
