"""Per-session registry for operator-owned persisted frames.

Query functions return lazy DataFrames, so an operator that persists an
intermediate (rank_pick's bucketed input, customer_rfm's customer
aggregate, LSH signature frames) cannot unpersist it before the caller's
final action — the cache would be released before it is ever read.  The
lifetime is therefore CALLER-owned: every such persist is registered
here, and long-lived sessions (bench.py per query, services between
requests) call :func:`release_caches` after the consuming action.
Without that call Spark's LRU still bounds storage — the registry just
makes release deterministic instead of eviction-pressure driven.

Each frame is recorded with the session it belongs to, and a release
unpersists the active session's frames only, so sessions that share one
SparkContext (``spark.newSession()``) never drop each other's caches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_CACHES: list[DataFrame] = []


def _drop_stopped() -> None:
    _CACHES[:] = [c for c in _CACHES if c.sparkSession.sparkContext._jsc is not None]


def register_cache(df: DataFrame) -> DataFrame:
    """Persist ``df`` and record it for a later :func:`release_caches`;
    frames of a stopped session are dropped from the record first."""
    cached = df.persist()
    _drop_stopped()
    _CACHES.append(cached)
    return cached


def release_caches() -> None:
    """Unpersist the active session's registered frames (newest first):
    the calling thread's active session, else the default one, as
    ``SparkSession.active`` resolves it in the JVM."""
    _drop_stopped()
    if not _CACHES:
        return
    jvm = _CACHES[0].sparkSession._jvm
    active = jvm.org.apache.spark.sql.classic.SparkSession.active()
    keep, mine = [], []
    for c in _CACHES:
        (mine if c.sparkSession._jsparkSession.equals(active) else keep).append(c)
    _CACHES[:] = keep
    for c in reversed(mine):
        c.unpersist()
