"""Result-owned release of a call's materializations.

A search or op that persists an intermediate (or broadcasts a query
pack) cannot release it before returning: the caller's action on the
returned DataFrame runs later and still reads it. So the returned
DataFrame owns it, and it is released when that DataFrame is garbage
collected — no module-global queue another call has to drain.
"""

from __future__ import annotations

import weakref


def _unpersist_all(resources) -> None:
    for r in resources:
        try:
            r.unpersist()
        except Exception:
            pass


def release_with(owner, *resources):
    """Return ``owner`` after arranging that each of ``resources``
    (persisted DataFrames, broadcasts) is unpersisted once ``owner`` is
    garbage collected. unpersist, never destroy: a DataFrame derived from
    ``owner`` may outlive it and must still re-execute — a dropped cache
    recomputes, a dropped broadcast re-ships from the driver on demand.
    Spark keys a cache by its plan, so two live results over identical
    inputs share one cache entry and the first one collected drops it
    for both; the other then recomputes, to the same rows."""
    if resources:
        # not at interpreter exit: the session may already be stopped
        weakref.finalize(owner, _unpersist_all, resources).atexit = False
    return owner


def materialize(df):
    """``df`` persisted (MEMORY_AND_DISK) and filled by one action, so
    every later subtree over it reads one materialization — unlike a
    local checkpoint, a lost executor's blocks recompute from lineage.
    The caller releases it with release_with on the DataFrame it
    returns."""
    from pyspark import StorageLevel
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.write.format("noop").mode("overwrite").save()  # fills, no output
    return df
