"""Driver-side job overlap for independent plan branches.

A query that certifies several INDEPENDENT computation paths in one
output (recall panels, index-tuning sweeps) naturally builds each path
behind a ``localCheckpoint``.  Materializing those checkpoints lazily
serializes them: the final action discovers each pinned subtree one at
a time, so the wall time is the SUM of the paths even though no path
depends on another.  Spark's scheduler happily runs several jobs at
once inside one application — actions are only sequential because the
driver calls them sequentially (optimization guide §2.6) — so pinning
the independent branches from a small thread pool makes the wall time
the MAX of the paths and lets later jobs back-fill executors idled by
an earlier job's straggler tail.

Nothing about WHAT is computed changes: each branch is the same plan,
eagerly checkpointed exactly once, from the parquet inputs.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame

__all__ = ["materialize_concurrently"]


def materialize_concurrently(
    dfs: list[DataFrame], max_workers: int = 4
) -> list[DataFrame]:
    """Eagerly ``localCheckpoint`` each frame, overlapping the jobs in
    driver threads; returns the pinned frames in input order.

    2-4 jobs in flight is plenty (guide §2.6): enough to fill another
    job's straggler tail, not so many that they fight for cores.  Job
    groups and descriptions are thread-local in Spark, and a plain pool
    thread starts with none, so each pin runs through
    ``inheritable_thread_target``: it inherits the calling thread's
    local properties and job tags, and its jobs stay in the caller's
    job group.
    """
    if len(dfs) <= 1:
        return [df.localCheckpoint(eager=True) for df in dfs]

    @inheritable_thread_target(dfs[0].sparkSession)
    def _pin(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True)

    with ThreadPoolExecutor(max_workers=min(len(dfs), max_workers)) as ex:
        return list(ex.map(_pin, dfs))
