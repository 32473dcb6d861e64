"""Session-scoped persist lifecycle for lazy query builders.

Query builders in ``plans/`` and ``operators/`` return LAZY DataFrames:
a ``persist()`` placed inside them cannot be paired with an
``unpersist()`` before the caller's terminal action, so without help
the cached relations accumulate in the JVM CacheManager for the life
of the session (ADVICE round 4). ``persist_tracked`` records every
such persist; a runner loop (``tools/drive_contract.py``, ``bench.py``,
``corpus_pipeline.curate_corpus``) calls :func:`release_persisted`
after each query's terminal action to drop exactly the relations that
query pinned — deterministic, unlike relying on Python GC, and scoped,
unlike ``spark.catalog.clearCache()`` (which also evicts caches the
caller owns).

One-shot scripts that never call the hook behave exactly as before
(the cache lives until the session ends); ``clearCache()`` remains a
valid blunt fallback and the bench keeps it as belt-and-braces.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

# Guarded by _LOCK: the tracker is a module-global LIFO, and long-lived
# apps routinely run queries from multiple threads against one
# SparkSession — without the lock, one thread's release_persisted(
# since=mark) could pop and unpersist frames another in-flight query
# tracked after the mark (ADVICE r5). The lock makes each operation
# atomic; the mark/since PROTOCOL itself remains single-runner-scoped:
# interleaved mark/release pairs from concurrent runners can still
# release each other's frames (LIFO depth is global). Concurrent
# runners should each use their own explicit handle list via
# ``release_frames`` instead of depth marks.
_LOCK = threading.Lock()
_TRACKED: list[DataFrame] = []


def persist_tracked(
    df: DataFrame, level: StorageLevel | None = None
) -> DataFrame:
    """``df.persist()`` that registers the frame for later release."""
    df = df.persist(level) if level is not None else df.persist()
    with _LOCK:
        _TRACKED.append(df)
    return df


def fill_cache(df: DataFrame) -> DataFrame:
    """Fill the cache of a persisted ``df`` now, with one Spark job.

    Under AQE, every query that reads a cache nothing has filled yet
    plans its own cache-materialization job: two readers submitted
    concurrently each fill it. An action such as ``count()`` fills it
    once but adds a job of its own. Counting the cache's batch RDD is
    exactly the filling job; later readers then see a loaded cache."""
    df._jdf.queryExecution().withCachedData().cacheBuilder() \
        .cachedColumnBuffers().count()
    return df


def cached_bytes(df: DataFrame) -> int:
    """In-memory size of the filled cache of a persisted ``df``, in
    bytes: the statistics the cache recorded while :func:`fill_cache`
    built it (the size Spark's planner then uses for the relation).
    Reading them starts no job."""
    return df._jdf.queryExecution().withCachedData().cacheBuilder() \
        .sizeInBytesStats().value()


def persist_mark() -> int:
    """Snapshot the tracker depth. A composite job that persists on its
    own behalf (``corpus_pipeline.curate_corpus`` / ``export_shards``)
    takes a mark on entry and releases back TO it on exit, so it drops
    exactly the caches it created — draining the whole global LIFO
    would also evict caches owned by the caller's other in-flight lazy
    queries (the same unscoped-eviction hazard this module's docstring
    criticizes ``clearCache()`` for). Depth marks assume a single
    runner thread; concurrent runners must use ``release_frames``."""
    with _LOCK:
        return len(_TRACKED)


def release_frames(frames: list[DataFrame], blocking: bool = False) -> int:
    """Thread-safe scoped release by EXPLICIT handle list — the
    concurrency-correct alternative to depth marks: unpersist exactly
    ``frames``, removing them from the tracker wherever they sit (no
    LIFO assumption, so another thread's interleaved persists are
    untouched). Returns how many were dropped."""
    import sys

    n = 0
    for df in frames:
        with _LOCK:
            try:
                _TRACKED.remove(df)
            except ValueError:
                continue  # already released (or never tracked)
        try:
            df.unpersist(blocking=blocking)
            n += 1
        except Exception as e:  # noqa: BLE001 — must not fail the runner
            print(
                f"release_frames: unpersist failed "
                f"({type(e).__name__}: {e})",
                file=sys.stderr,
            )
    return n


def release_persisted(since: int = 0, blocking: bool = False) -> int:
    """Unpersist tracked frames down to depth ``since`` (LIFO);
    returns how many dropped.

    Call after the terminal action on a query's result. Default
    ``blocking=False`` — the drop is async JVM-side and costs the
    caller nothing; pass ``blocking=True`` when the caller inspects
    storage state right afterwards (the persist-lifecycle audits),
    since an async drop can still show residual cached blocks.
    """
    import sys

    n = 0
    while True:
        with _LOCK:
            if len(_TRACKED) <= max(0, since):
                break
            df = _TRACKED.pop()
        try:
            df.unpersist(blocking=blocking)
            n += 1
        except Exception as e:  # noqa: BLE001 — must not fail the runner
            # A stopped session has nothing to drop (expected at exit);
            # anything else is surfaced, not swallowed: the returned
            # count is how a runner audits its persist lifecycle.
            print(
                f"release_persisted: unpersist failed "
                f"({type(e).__name__}: {e})",
                file=sys.stderr,
            )
    return n
