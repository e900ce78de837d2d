"""Sample the per-python-worker profile counters of the query kernels.

`wand.STATS` (block decode/skip) and `ranges.STATS` (scoring-task wall
split) are plain module-level dicts that accumulate inside executor
python workers. They cannot be read with a driver import (different
processes) and cannot be read through an RDD probe either: pandas-UDF
workers are a SEPARATE process pool from plain-python RDD workers
(verified empirically — zero pid overlap), so the probe must ride the
Arrow runner (mapInPandas). Workers are reused across jobs; ``n_tasks``
tiny Arrow tasks touch virtually all of them, deduplicated by pid —
the result is "sampled", not exact, and callers should say so.

Used by scripts/bench_deep.py and scripts/scaling_worker.py to publish
pruning counters and to split measured walls into in-kernel python
seconds versus everything between tasks.
"""

from __future__ import annotations

_FIELDS = (
    # (column, module attr dict key) — all summed over deduped pids
    ("blocks_decoded", "wand"),
    ("blocks_skipped", "wand"),
    ("score_tasks", "ranges"),
    ("score_wall_s", "ranges"),
    ("chain_build_s", "ranges"),
    ("queries_scored", "ranges"),
)


def sample_worker_stats(spark, reset: bool = False,
                        n_tasks: int = 256) -> dict:
    """Sum (or zero, with ``reset=True``) the kernel counters across the
    Arrow worker pool. Returns {counter: total, ..., "workers_sampled": n}."""
    import pandas as pd

    def probe(it):
        import os as _os
        from word2doc_spark.query import ranges as R
        from word2doc_spark.query import wand as W
        if reset:
            W.reset_stats()
            R.reset_stats()
            w, r = W.get_stats(), R.get_stats()
        else:
            w, r = W.get_stats(), R.get_stats()
        row = {"pid": [_os.getpid()]}
        for col, mod in _FIELDS:
            row[col] = [0 if reset else (w if mod == "wand" else r)[col]]
        yield pd.DataFrame(row)
        for _ in it:
            pass

    schema = ("pid long, blocks_decoded long, blocks_skipped long, "
              "score_tasks long, score_wall_s double, "
              "chain_build_s double, queries_scored long")
    # explicit repartition(n) is exempt from AQE coalescing, so all
    # n_tasks Arrow tasks really run
    rows = (spark.range(n_tasks).repartition(n_tasks)
            .mapInPandas(probe, schema).collect())
    by_pid = {r["pid"]: r for r in rows}
    out: dict = {"workers_sampled": len(by_pid)}
    for col, _ in _FIELDS:
        tot = sum(r[col] for r in by_pid.values())
        out[col] = round(tot, 3) if isinstance(tot, float) else int(tot)
    return out
