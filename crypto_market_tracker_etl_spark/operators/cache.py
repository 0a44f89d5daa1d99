"""Cache lifetimes: the builder-side cache scope, the eager checkpoint,
and the dashboard's TTL result cache.

Query builders and operators cache and eagerly checkpoint frames only
through ``cache_scope`` and ``materialize``. A frame is held with
``hold(df)`` (``df.persist()`` at the default storage level) and released
when the ``with`` block exits, also when the body raises; a result that
must outlive the scope is ``materialize``-d inside it. The rule: nothing a
builder persists outlives the call that persisted it. (The one exception,
``sources/files.py::quarantine``, hands its cached frame to the caller:
Spark requires the cache there, SPARK-38523.)

``TTLCache`` is the reference dashboard's per-view cache
(``@st.cache_data(ttl=60)`` / ``ttl=300``, reference
``apps/streamlit-dashboard/app.py:33-51``) as an engine-side utility.

A cached entry is a persisted DataFrame (Tungsten columnar blocks on the
executors — the distributed analogue of Streamlit's driver-side pickle
cache). After ``ttl_s`` the entry is unpersisted and rebuilt on next
access, which is exactly the staleness contract the reference dashboard
gives its users. The clock is injectable so expiry is unit-testable.

Not correctness-bearing (SURVEY.md §2.1 S11): a cache miss only costs a
recompute; plans remain the source of truth.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel


@contextmanager
def cache_scope() -> Iterator[Callable[[DataFrame], DataFrame]]:
    """Yield ``hold``, which persists a frame and returns it; every held
    frame is unpersisted when the block exits, normally or by an
    exception. Materialize what the caller gets back before the block
    ends: a lazy frame read after exit still computes, it only loses the
    cache.

    ::

        with cache_scope() as hold:
            sigs = hold(signatures)
            return materialize(pairs_from(sigs))
    """
    held: list[DataFrame] = []

    def hold(df: DataFrame) -> DataFrame:
        df = df.persist()
        held.append(df)
        return df

    try:
        yield hold
    finally:
        for df in reversed(held):
            df.unpersist()


def materialize(df: DataFrame) -> DataFrame:
    """Run ``df`` now and return it as an eager ``localCheckpoint``: the
    blocks are executor-local and the lineage is cut, so a cache the plan
    read can be released without recomputation. The ContextCleaner frees
    the blocks once the frame is garbage."""
    return df.localCheckpoint(eager=True)


def live_caches(spark: SparkSession) -> tuple[int, int]:
    """(persisted RDDs that are not checkpoints, CacheManager entries): the
    two counts a query must leave unchanged. Eager checkpoints also sit in
    ``getPersistentRDDs`` until their frame is collected, so they are not
    counted."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
    cached = sum(1 for r in rdds if not r.rdd().isCheckpointed())
    entries = spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
    return cached, entries


class TTLCache:
    """Keyed DataFrame cache: ``get(key, build)`` returns the persisted
    frame, rebuilding when absent or older than ``ttl_s`` seconds."""

    def __init__(
        self,
        ttl_s: float,
        clock: Callable[[], float] = time.monotonic,
        storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
    ):
        self.ttl_s = ttl_s
        self.clock = clock
        self.storage_level = storage_level
        self._entries: dict[str, tuple[float, DataFrame]] = {}

    def get(self, key: str, build: Callable[[], DataFrame]) -> DataFrame:
        now = self.clock()
        hit = self._entries.get(key)
        if hit is not None:
            born, df = hit
            if now - born < self.ttl_s:
                return df
            df.unpersist()
        df = build().persist(self.storage_level)
        self._entries[key] = (now, df)
        return df

    def invalidate(self, key: str | None = None) -> None:
        """Drop one entry (or all) and release executor storage."""
        keys = [key] if key is not None else list(self._entries)
        for k in keys:
            hit = self._entries.pop(k, None)
            if hit is not None:
                hit[1].unpersist()
