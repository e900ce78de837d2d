"""Per-task kernel cache with an approximate byte budget.

The DAAT kernels (query/fast.py, query/wand.py) memoize query-independent
work — decoded posting chains, per-(chain, w, idf) contribution arrays,
parsed block directories, decoded blocks — in a dict shared across one
task's queries. In the deep-range regime (10^5-10^6 postings per range,
many matched terms) those entries can hold several times the segment
payload bytes per task, so the scoring wrappers hand the kernels a
TaskCache: insertion works like a plain dict, big allocations are
reported via :meth:`charge`, and once the budget is exceeded the OLDEST
charged entries are evicted (python dicts iterate in insertion order —
FIFO, mirroring the design of the process-lifetime dl cache in
query/ranges.py). Kernels stay plain-dict compatible: they only call
``charge`` when the cache object provides it.
"""

from __future__ import annotations

import os

_DEFAULT_BUDGET = int(os.environ.get("W2D_TASK_CACHE_MAX_BYTES",
                                     512 << 20))


class TaskCache(dict):
    """dict + byte accounting. Entries that were never charged (tiny
    bookkeeping values) are not tracked and never evicted."""

    __slots__ = ("budget", "_sizes", "_bytes")

    def __init__(self, budget: int = _DEFAULT_BUDGET):
        super().__init__()
        self.budget = budget
        self._sizes: dict = {}
        self._bytes = 0

    def charged_bytes(self) -> int:
        return self._bytes

    def charge(self, key, nbytes: int) -> None:
        """Record that ``key`` holds ~nbytes; evict oldest charged keys
        until the budget fits (the just-charged key is never evicted —
        the caller is about to use it)."""
        old = self._sizes.pop(key, None)
        if old is not None:
            self._bytes -= old
        self._sizes[key] = nbytes
        self._bytes += nbytes
        while self._bytes > self.budget and len(self._sizes) > 1:
            k0 = next(iter(self._sizes))
            if k0 == key:
                break
            self._bytes -= self._sizes.pop(k0)
            self.pop(k0, None)
