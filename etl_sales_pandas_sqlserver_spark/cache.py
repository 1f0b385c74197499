"""Session-level reuse of expensive frames.

``memo`` is the session memo for expensive intermediates that two
consumers read: several queries of one session (the shingle frame, the
MinHash pair list, the top-k sets, the LM scores, the sales frames) or
two branches of one query's plan (the token projection, the bloom
bitmap). ``memo(spark, name, sf_dir, table, build)`` runs
``build`` once, eagerly ``localCheckpoint``s the result (lineage
severed, so later cache churn cannot invalidate it; a ``build`` that
returns its own ``localCheckpoint`` hands that one over, so no
checkpoint is left pinned without an owner) and hands the SAME
frame to every later caller while ``{sf_dir}/{table}.parquet`` is
unchanged. ``source_tag`` is the one answer to "has that source
changed?": a rewrite of the file or of any part file of a parquet
directory changes the tag, the next call rebuilds, and the superseded
checkpoint is released rather than pinned for the rest of the session.
Entries are weak-keyed by the session object, so a new session
recomputes. Threads that share a session build each entry once: the
check, the build and the store hold that session's re-entrant lock
(re-entrant because builds nest: the MinHash pair list reads the
shingle memo). Only memoize frames whose checkpointed size is small
relative to executor memory.
"""

from __future__ import annotations

import os
import threading
import weakref
from typing import Callable

from pyspark.sql import DataFrame

#: session -> {(name, sf_dir): (source tag, checkpointed frame)}
_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
#: session -> the RLock its memo entries are built and dropped under
_LOCKS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_LOCKS_GUARD = threading.Lock()


def source_tag(sf_dir: str, table: str):
    """Stat-level content tag of ``{sf_dir}/{table}.parquet``.

    A single file tags as (inode, mtime_ns, size); a Spark-written
    parquet directory tags as each child's (name, inode, mtime_ns,
    size), which changes whenever Spark rewrites the dataset (part
    files are replaced, never edited in place). The inode catches a
    same-size replace within one coarse timestamp tick: parquet writers
    write a new file and rename it. A missing path tags as None, so a
    memo built against an absent source misses once it appears.
    """
    p = os.path.join(os.path.normpath(sf_dir), f"{table}.parquet")
    try:
        st = os.stat(p)
    except OSError:
        return None
    if not os.path.isdir(p):
        return (st.st_ino, st.st_mtime_ns, st.st_size)
    children = []
    try:
        for name in sorted(os.listdir(p)):
            try:
                cst = os.stat(os.path.join(p, name))
            except OSError:
                continue
            children.append((name, cst.st_ino, cst.st_mtime_ns, cst.st_size))
    except OSError:
        pass
    return tuple(children)


def memo(
    spark, name: str, sf_dir: str, table: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """The checkpointed ``build()`` for (``name``, ``sf_dir``), rebuilt
    when ``{sf_dir}/{table}.parquet`` changes or the session stopped."""
    with _lock(spark):
        per = _MEMO.setdefault(spark, {})
        tag = source_tag(sf_dir, table)
        hit = per.get((name, sf_dir))
        if hit is not None:
            if hit[0] == tag and _alive(spark):
                return hit[1]
            release(hit[1])
        df = build()
        if not _checkpointed(df):
            df = df.localCheckpoint(eager=True)
        per[(name, sf_dir)] = (tag, df)
        return df


def _checkpointed(df: DataFrame) -> bool:
    """Whether ``df`` is a ``localCheckpoint``ed frame: a LogicalRDD
    over a persisted RDD."""
    plan = df._jdf.queryExecution().analyzed()
    return plan.nodeName() == "LogicalRDD" and plan.rdd().getStorageLevel().isValid()


def _lock(spark) -> threading.RLock:
    with _LOCKS_GUARD:
        return _LOCKS.setdefault(spark, threading.RLock())


def _alive(spark) -> bool:
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:  # noqa: BLE001 -- dead JVM handle: rebuild
        return False


def release(df: DataFrame) -> None:
    """Unpersist the blocks behind a ``localCheckpoint``ed frame (its
    plan is a LogicalRDD over the checkpointed RDD), eager or lazy, run
    or not. Pass the frame ``localCheckpoint`` returned, not one derived
    from it. Best-effort: a stopped session must not turn hygiene into
    an error."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001
        pass


def evict_session_memos(spark) -> None:
    """Release and drop every memo entry held for ``spark``, so the next
    call of each memo rebuilds from its source."""
    with _lock(spark):
        for _, df in _MEMO.pop(spark, {}).values():
            release(df)

