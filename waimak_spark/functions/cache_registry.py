"""Session-hygiene registry for operator-internal ``persist()`` calls.

Several dedup/similarity operators persist an intermediate frame because
interpreted higher-order expressions get no common-subexpression
elimination — without the barrier the expensive upstream pipeline would be
re-evaluated once per downstream reference. The returned operator frame is
lazy, so the operator itself cannot unpersist (the caller hasn't collected
yet). Left alone, every invocation leaks one cached frame into the session
and a long-lived session (a bench run, a notebook) accumulates blocks
until the storage manager evicts under pressure.

``tracked_persist`` registers each such frame; callers (bench harnesses,
flows, tests) call ``release_tracked()`` after consuming an operator's
output to drop all operator-internal cache blocks in one call.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from ..filesystem import FileOps, nullable, read_parquet

_LIVE: list[DataFrame] = []
_CALLBACKS: list[Callable[[], None]] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` + register for later ``release_tracked()``."""
    df = df.persist()
    _LIVE.append(df)
    return df


def parquet_materializer(path: str,
                         cleanup: bool = True) -> Callable[[DataFrame],
                                                           DataFrame]:
    """A ``cacheAsParquet``-style materialization strategy for
    operator-internal reuse: write the frame once under ``path`` and
    re-read it — the plan is CUT (downstream reuse scans files instead of
    re-running lineage), data spills to storage not executor memory, and
    the materialization survives executor loss.  This is the 100 TB-robust
    choice for a frame reused many times (e.g. k-means' (id, v) projection
    reused n_iters+1 times); ``tracked_persist`` (MEMORY_AND_DISK blocks)
    is the lower-latency default at gate/test scale.  The re-read is
    given the written schema, so it launches no inference job.  With
    ``cleanup`` the written files are deleted through the Hadoop
    ``FileSystem`` at ``release_tracked()``, so any path URI works."""

    def materialize(df: DataFrame) -> DataFrame:
        df.write.mode("overwrite").parquet(path)
        spark = df.sparkSession
        if cleanup:
            track_release(lambda: FileOps(spark).delete(path))
        return read_parquet(spark, path, schema=nullable(df.schema))

    return materialize


def track_release(fn: Callable[[], None]) -> None:
    """Register an arbitrary cleanup callable (e.g. freeing
    ``localCheckpoint`` RDD blocks, which ``unpersist`` on the DataFrame
    cache manager does not touch) to run at ``release_tracked()``."""
    _CALLBACKS.append(fn)


def release_tracked() -> int:
    """Unpersist every tracked frame and run every registered cleanup
    (blocking=False); returns how many were released."""
    n = 0
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session may already be stopped
    while _CALLBACKS:
        fn = _CALLBACKS.pop()
        try:
            fn()
            n += 1
        except Exception:
            pass
    return n
