"""Session-scoped registry for operator STAGING persists.

Several operators persist an intermediate that feeds two+ branches of
one returned plan (both sides of a self-join, a shared expensive
expression chain). The persist is correct — but a bare ``persist()``
with no ``unpersist()`` accumulates cached blocks for the session
lifetime across repeated operator runs (round-6 ADVICE: the gram
explode in duplicate_spans is k-fold data amplification, so the leak
is large). DataFrame cache entries live in the JVM CacheManager keyed
by plan and are NOT garbage-collected with the Python handle, so the
caller genuinely has to release them.

The contract here: operators call :func:`stage` instead of
``persist``; after the returned plan has been materialized (an
action ran), the caller — a batch driver, the bench harness, a test
fixture — calls :func:`release_staged` to unpersist everything staged
since the last release. Long-lived sessions thereby hold at most one
generation of staging blocks; callers that never release still get
correct results plus Spark's LRU block eviction, the same behavior as
before, minus nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_STAGED: list[DataFrame] = []


def stage(df: DataFrame, level=None) -> DataFrame:
    """``persist()`` a staging DataFrame (MEMORY_AND_DISK by default
    — staging tables must spill, never recompute) and track it so
    :func:`release_staged` can unpersist it after the consuming plan
    has been materialized."""
    from pyspark import StorageLevel

    df = df.persist(level or StorageLevel.MEMORY_AND_DISK)
    _STAGED.append(df)
    return df


def release_staged(blocking: bool = False) -> int:
    """Unpersist every tracked staging DataFrame; returns how many
    were released. Safe to call at any time — releasing before the
    plan's action merely costs a recompute, never correctness."""
    n = 0
    while _STAGED:
        df = _STAGED.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n


def release_all(spark) -> int:
    """Free everything a query may have left cached between runs of a
    long-lived session: the staged frames (:func:`release_staged`),
    the SQL cache manager (``catalog.clearCache``), and the persisted
    RDDs outside it — the iterative operators' localCheckpoint blocks,
    which otherwise linger until the nondeterministic ContextCleaner
    runs. Returns how many staged frames were released."""
    n = release_staged()
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(False)
    return n
