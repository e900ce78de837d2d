"""Doc-partitioned batch query execution (the scale path).

SURVEY.md §4.1 "per-shard bounded heap + final merge": matched posting
segments are scored WHERE THEIR DOC RANGES LIVE — one task per group of
doc ranges holds every matched segment for its ranges (all query terms),
so each document's full score is computed locally; the task emits only
its per-query top-k candidates, and an exact global merge over the
(n_groups × Q × k) candidate set yields the final top-k.

Two scoring shapes, picked per slice of the batch by how much it
matches. A batch of up to exact._DRIVER_ANALYZE_MAX queries is one
slice, analyzed on the driver; a bigger one is analyzed executor-side in
one pass and collected in slices of about exact.SLICE_MAX_QUERIES
queries (exact.prepare_weighted_terms). Each slice runs one shape and
the slices' results are unioned, ordered by (query_id, rank) within a
slice:

* driver — a slice whose matched postings (Σ df over its (query, term)
  rows) are within the kernel's size rule
  (``fast_topk.driver_max_postings``, ``wand_topk.driver_max_postings``)
  is scored without Spark (_search_on_driver): a pruned pyarrow read of
  the matched segments, the range tasks' own scorer over ONE group
  holding every range, and the shared finish (exact.finish_rows). The
  result is a LocalRelation; the caller's action runs no job for it. At
  serving sizes a Spark-shape call is all fixed cost: its scoring and
  finish jobs take longer than the driver takes to score the same
  postings.
* broadcast — a bigger slice: its weighted-terms table rides to the
  range tasks as a broadcast query pack and each matched segment is
  shuffled ONCE, keyed by a range-slot group. (A join of queries ×
  segments emits one row per (query, segment), so a Q-query batch over
  shared hot terms would ship each hot segment's payload up to Q×
  through shuffle + Arrow — measured 4× wall at Q=500.) The candidates
  finish in ONE task (exact.finish_topk): repartition(1) → mapInPandas
  running exact.finish_rows — one numpy lexsort merge, then the urls of
  just the winners via a pushed-down doc_id filter; rows leave ordered
  by (query_id, rank). Above _PACK_MIN_CANDIDATES estimated candidate
  rows, the candidates first travel as numpy-packed blobs and merge
  vectorized per query bucket (_merge_topk_blobs), so the one task sees
  ≤ Q·k rows.

Two partitioning rules the broadcast shape obeys (measured, not theoretical):
group keys are mapped onto hash-slot ints so every group gets its own
shuffle partition (n keys hashed into n partitions loses 2-3× to
balls-in-bins collisions), and the kernel exchanges use explicit
numbered repartition so AQE's byte-based partition coalescing cannot
collapse CPU-bound scoring into a handful of tasks (measured 6×).

Why this scales where per-query grouping does not: a groupBy(query_id)
plan ships every matched posting of a head term into ONE task; here the
shuffle is keyed by doc-range groups, so no task ever holds more than
its ranges' slice of the index regardless of term df, and parallelism is
the range-group count (set ≫ cores at build time), not n_queries.

bm25 needs per-doc dl at scoring time: each scoring task loads the
compressed dl blobs written at build (index/build.py doclen_seg) for
exactly its ranges, LAZILY inside the task through a process-lifetime
per-range cache (_dl_for_ranges) — never an N-row materialization, and
no per-batch dl shuffle: warm batches read nothing and the bm25 physical
plan equals the drqa plan. The driver shape loads the same per-range
blobs through the same cache in the driver process.

Exactness: per-group scores are complete (a doc's postings for every term
live in its range), and the global top-k is contained in the union of
per-group top-ks (any k docs that beat a candidate within its group also
beat it globally), so the final merge is exact — differential tests
assert identity with search_exact on every fixture.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from word2doc_spark.index.manifest import Manifest, read_table
from word2doc_spark.index.postings import decode_postings
from word2doc_spark.lifetime import release_with
from word2doc_spark.query.exact import (
    _empty_result, _matched_segments, filter_terms, finish_rows,
    finish_topk, local_result, prepare_weighted_terms, read_term_rows,
    term_ids_of, topk_order, union_slices,
)

CAND_SCHEMA = "query_id long, doc_id long, score double"
# broadcast-shape candidates travel as numpy-packed float64 (query_id,
# doc_id, score) triples bucketed by query — a 20k-query × 128-range × k
# batch emits ~10^7 candidate ROWS whose Arrow emission + shuffle +
# window cost more than the scoring itself (same lesson as the build's
# blob staging); packed, the merge moves ~10^3 opaque rows. float64
# holds ids exactly up to 2^53 (enforced at pack time).
CAND_BLOB_SCHEMA = "qb int, blob binary"
TOPK_SCHEMA = "query_id long, rank int, doc_id long, score double"

# above this many estimated candidate rows (queries × range groups × k)
# the broadcast shape packs candidates into blobs and merges in python;
# below it, plain rows + a window cost one stage less
_PACK_MIN_CANDIDATES = 1_000_000

# per-python-worker scoring profile counters (same mechanism as
# wand.STATS): cumulative across tasks within a worker process, sampled
# with query.stats.sample_worker_stats. Lets a scaling run split the
# measured wall into in-kernel python seconds (chain assembly vs query
# scoring) versus everything between tasks (shuffle, scheduling, waves)
# WITHOUT per-query timers in the hot loop — two monotonic() reads per
# task, ~µs against multi-ms tasks.
STATS = {"score_tasks": 0, "score_wall_s": 0.0, "chain_build_s": 0.0,
         "queries_scored": 0}


def reset_stats() -> None:
    STATS.update(score_tasks=0, score_wall_s=0.0, chain_build_s=0.0,
                 queries_scored=0)


def get_stats() -> dict:
    return dict(STATS)


# process-lifetime decoded-dl cache (executor side), keyed by
# (build_id, range_id): bm25 scoring tasks load the dl blobs of exactly
# the ranges whose segments they hold, LAZILY, by reading the range's
# doclen_seg rows straight from parquet (pyarrow, predicate on range_id)
# on cache miss — the old design cogrouped the doclen_seg table into
# every scoring pass, which re-ran a parquet read + shuffle every batch
# even when every decoded blob was already cached (the dominant fixed
# cost of the fast-bm25 path's scaling gap). Python workers are reused
# across tasks, so warm batches pay ZERO dl cost and the bm25 plan is
# byte-identical to the drqa plan. Keyed by the per-publish build_id
# (never the config fingerprint — two builds from different corpora can
# share a fingerprint); bounded by bytes with FIFO eviction. The driver
# shape (_search_on_driver) fills it from caller threads, so inserts and
# evictions hold a lock.
_DL_CACHE: dict = {}
_DL_CACHE_BYTES = [0]
_DL_CACHE_LOCK = threading.Lock()
_DL_CACHE_MAX_BYTES = int(os.environ.get("W2D_DL_CACHE_MAX_BYTES",
                                         256 << 20))


def _load_dl_ranges(index_dir: str, range_ids: list) -> dict:
    """Read + decode the doclen_seg blobs of the given ranges directly
    from parquet (no Spark job — runs inside the scoring task's python
    worker). Returns {range_id: (docs int64, vals float64)}; a range with
    no dl rows maps to empty arrays. At 10^12-doc scale each range's dl
    rows are found via parquet row-group statistics on range_id."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads
    ds = pads.dataset(os.path.join(index_dir, "doclen_seg"),
                      format="parquet")
    tbl = ds.to_table(
        columns=["range_id", "doc_lo", "payload"],
        filter=pc.field("range_id").isin([int(r) for r in range_ids]))
    rids = tbl.column("range_id").to_numpy()
    dlos = tbl.column("doc_lo").to_numpy()
    payloads = tbl.column("payload").to_pylist()
    out: dict = {int(r): [] for r in range_ids}
    for i in np.lexsort((dlos, rids)):
        out[int(rids[i])].append(payloads[i])
    res: dict = {}
    for rid, blobs in out.items():
        if not blobs:
            res[rid] = (np.empty(0, np.int64), np.empty(0, np.float64))
            continue
        parts = [decode_postings(bytes(b)) for b in blobs]
        res[rid] = (
            np.concatenate([d for d, _ in parts]).astype(np.int64,
                                                         copy=False),
            np.concatenate([v for _, v in parts]).astype(np.float64))
    return res


def _dl_for_ranges(index_dir: str, bid: str | None,
                   range_ids) -> "SparseDL | None":
    """SparseDL over exactly the given ranges, served from the process
    cache (per-range entries — batches matching overlapping range sets
    share them) with one batched parquet read for the misses. Raises
    when a range has matched segments but zero dl rows — silently
    falling back to avgdl would mis-score bm25 with no signal."""
    rids = sorted({int(r) for r in range_ids})
    if not rids:
        return None
    local: dict = {}
    miss = []
    for rid in rids:
        hit = _DL_CACHE.get((bid, rid)) if bid is not None else None
        if hit is None:
            miss.append(rid)
        else:
            local[rid] = hit
    if miss:
        loaded = _load_dl_ranges(index_dir, miss)
        for rid, dv in loaded.items():
            if dv[0].size == 0:
                raise RuntimeError(
                    "bm25 scoring: no doclen_seg blobs for a range "
                    f"with matched segments (range_id={rid})")
            local[rid] = dv
            if bid is None:
                continue
            nbytes = int(dv[0].nbytes + dv[1].nbytes)
            with _DL_CACHE_LOCK:
                if (bid, rid) in _DL_CACHE:  # another thread loaded it
                    continue
                while _DL_CACHE and \
                        _DL_CACHE_BYTES[0] + nbytes > _DL_CACHE_MAX_BYTES:
                    old = _DL_CACHE.pop(next(iter(_DL_CACHE)))
                    _DL_CACHE_BYTES[0] -= int(old[0].nbytes
                                              + old[1].nbytes)
                if nbytes <= _DL_CACHE_MAX_BYTES:
                    _DL_CACHE[(bid, rid)] = dv
                    _DL_CACHE_BYTES[0] += nbytes
    # ranges are ascending disjoint doc intervals, so concatenation in
    # range_id order keeps docs globally sorted (single range: no copy)
    if len(rids) == 1:
        docs, vals = local[rids[0]]
    else:
        docs = np.concatenate([local[r][0] for r in rids])
        vals = np.concatenate([local[r][1] for r in rids])
    return SparseDL(docs, vals)


class SparseDL:
    """Doc-length lookup over the decoded per-range dl arrays: behaves like
    ``dl[doc_ids]`` on a dense array but stores only docs with dl > 0
    (every doc that has any posting does)."""

    __slots__ = ("docs", "vals")

    def __init__(self, docs: np.ndarray, vals: np.ndarray):
        self.docs = docs
        self.vals = vals

    def __getitem__(self, key):
        idx = np.searchsorted(self.docs, key)
        # loud failure on a doc absent from the dl blobs (e.g. a gap in
        # doclen_seg coverage) — silently returning a neighbor's dl would
        # mis-score bm25 without any signal. One pass: a key past the last
        # doc clips to the last doc, which differs from it.
        if np.any(self.docs.take(idx, mode="clip") != key):
            raise KeyError("doc_id(s) missing from dl blobs")
        return self.vals[idx]


def search_doc_partitioned(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int,
    score_mode: str | None,
    topk_fn,
    strict: bool = False,
) -> DataFrame:
    """Shared driver for the fast and WAND paths. topk_fn: DAAT kernel
    (term_rows=[(w, idf, [payload,...])], k, mode, k1, b, avgdl, dl,
    cache=) → [(doc_id, score)] ordered (score desc, doc_id asc); its
    ``driver_max_postings`` attribute is the size rule under which a
    slice is scored on the driver (see the module docstring's driver
    shape). Rows are ordered by (query_id, rank) within a slice."""
    manifest = Manifest(index_dir)
    config, stats = manifest.load()
    mode = score_mode or config.score_mode
    if mode not in ("drqa", "bm25"):
        raise ValueError(mode)
    n_docs = int(stats["n_docs"])
    avgdl = float(stats["avgdl"])
    k1, b = config.k1, config.b
    # executor-side process caches key on the per-publish build_id (never
    # the config fingerprint — not a content hash)
    bid = stats["build_id"]
    index_bytes = int(stats.get("index_bytes", 0) or 0)

    slices = prepare_weighted_terms(spark, index_dir, queries, config,
                                    n_docs, strict)
    if not slices:
        return _empty_result(spark)
    # every search counts toward the serving table's warm-up, whichever
    # shape scores it: the persist is lazy, so a build served from the
    # driver pays nothing until a Spark batch runs — and that batch then
    # finds the table
    sp = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    cached = _serving_segs(spark, index_dir, bid, sp, index_bytes)

    def run_slice(wqt: pd.DataFrame):
        term_ids = term_ids_of(wqt)
        # driver shape: the matched postings (Σ df over the slice's
        # (query, term) rows — the work the kernel does) fit the kernel's
        # size rule, so scoring them here beats the scoring and finish
        # jobs' fixed cost
        if float(wqt["df"].sum()) <= topk_fn.driver_max_postings:
            return _search_on_driver(spark, index_dir, term_ids,
                                     config.num_shards, wqt, k, mode, k1,
                                     b, avgdl, topk_fn, bid), []
        # broadcast shape: the weighted-terms table is SMALL — ship it to
        # the range tasks as a broadcast pack and ship each matched
        # segment ONCE per range. (The join formulation emits one row per
        # (query, segment), so a 500-query batch over shared hot terms
        # shipped each hot segment's payload ~500× through the shuffle +
        # Arrow — measured 4× wall on the 500k scaling bench.) The
        # candidates merge and get their urls in one task.
        cand, owned = _score_ranges_broadcast(
            spark, index_dir, term_ids, config, wqt, k, mode, k1, b,
            avgdl, topk_fn, bid, sp, cached)
        return finish_topk(index_dir, cand, k), owned

    parts, owned = [], []
    for wqt in slices:
        part, res = run_slice(wqt)
        parts.append(part)
        owned.extend(res)
    # the union owns every slice's query-pack broadcast: a slice's own
    # DataFrame is not referenced by the union and may be collected
    # before the caller's action runs
    return release_with(union_slices(parts), *owned)


def _search_on_driver(spark, index_dir, term_ids, num_shards, wqt, k,
                      mode, k1, b, avgdl, topk_fn, bid) -> DataFrame:
    """A driver-sized batch scored without Spark: the matched segments
    come from a pruned pyarrow read of ``shards/`` (read_term_rows), and
    the very code the range tasks run scores them — _score_range_broadcast
    over ONE group holding every range (exact by the same argument as
    per-group top-k) and finish_rows. The result is a LocalRelation, so
    the caller's action runs no job. A failed read raises; there is no fallback to Spark."""
    segs = read_term_rows(index_dir, "shards", term_ids, num_shards,
                          ["term_id", "range_id", "doc_lo",
                           "payload"]).to_pandas()
    dl = (_dl_for_ranges(index_dir, bid, segs["range_id"].unique())
          if mode == "bm25" else None)
    unpacked = tuple(a.tolist() for a in _wqt_groups(wqt))
    cand = _score_range_broadcast(segs, unpacked, dl, k, mode, k1, b,
                                  avgdl, topk_fn)
    return local_result(spark, finish_rows(
        os.path.join(index_dir, "docs"), cand["query_id"].to_numpy(),
        cand["doc_id"].to_numpy(), cand["score"].to_numpy(), k))


# worker-side unpacked query packs, keyed by the pack's uuid token (never
# object identity — id() can be reused after GC). A batch's pack is
# unpacked to plain python scalars ONCE PER WORKER PROCESS instead of
# once per task: C-speed tolist, but 128 range-group tasks × 5 arrays of
# a 40k-query batch was still ~2 s of aggregate CPU, and the pack itself
# rode the closure (≈6 MB pickled into EVERY task binary → ~0.8 GB of
# JVM→python pipe traffic per batch at sp=128 — bus-bound, so it taxed
# the 4N level hardest). As a Spark broadcast variable the pack crosses
# to each worker once and is registry-cached across tasks.
_GROUPS_UNPACK_CACHE: dict = {}
_GROUPS_UNPACK_MAX = 2


def _unpack_groups_bc(bc) -> tuple:
    """(qids, offsets, tids, w, idf) python lists from a broadcast query
    pack, cached per worker process by the pack's token."""
    token, groups = bc.value
    got = _GROUPS_UNPACK_CACHE.get(token)
    if got is None:
        got = (groups[0].tolist(), groups[1].tolist(),
               groups[2].tolist(), groups[3].tolist(),
               groups[4].tolist())
        while len(_GROUPS_UNPACK_CACHE) >= _GROUPS_UNPACK_MAX:
            _GROUPS_UNPACK_CACHE.pop(next(iter(_GROUPS_UNPACK_CACHE)))
        _GROUPS_UNPACK_CACHE[token] = got
    return got


def _wqt_groups(wqt: pd.DataFrame) -> tuple:
    """(qids, offsets, tids, w, idf) numpy pack — the closure-shipped
    form of the weighted query terms (qids unique ascending; query i's
    terms are rows offsets[i]:offsets[i+1], term-sorted). Two costs this
    shape kills on a 40k-query batch, both per-BATCH fixed walls: the
    pandas groupby that used to build python tuples (~0.5 s driver), and
    the per-task unpickle of ~10 MB of boxed tuples that every scoring
    task paid before touching a segment (task count tracks cores, so
    that wall was constant across parallelism levels — pure ratio
    loss). Arrays pickle/unpickle at memcpy speed."""
    qids = wqt["query_id"].to_numpy(dtype=np.int64)
    tids = wqt["term_id"].to_numpy(dtype=np.int64)
    order = np.lexsort((tids, qids))
    qs = qids[order]
    starts = np.flatnonzero(np.concatenate(([True], qs[1:] != qs[:-1]))) \
        if len(qs) else np.empty(0, dtype=np.int64)
    offsets = np.concatenate((starts, [len(qs)])).astype(np.int64)
    return (qs[starts], offsets, tids[order],
            wqt["w"].to_numpy(dtype=np.float64)[order],
            wqt["idf"].to_numpy(dtype=np.float64)[order])


def _score_range_broadcast(pdf: pd.DataFrame, unpacked, dl, k, mode, k1,
                           b, avgdl, topk_fn,
                           n_qb: int | None = None) -> pd.DataFrame:
    """Score one slot-group of doc ranges for every query in ``groups``.
    pdf holds each matched segment of the group's ranges exactly once
    (term_id, doc_lo, payload); per-term segment chains are built with one
    lexsort + boundary walk (ranges are disjoint doc intervals, so a
    term's cross-range chain is still doc-ascending), then every query
    assembles its term_rows by dict lookup. Emitting top-k per GROUP of
    ranges is exact: any k docs that beat a doc within the group also
    beat it globally. ``unpacked`` is the _wqt_groups pack as plain
    python lists (worker-cached — see _unpack_groups_bc)."""
    from word2doc_spark.query.kcache import TaskCache
    t_start = time.monotonic()
    tids = pdf["term_id"].to_numpy()
    dlos = pdf["doc_lo"].to_numpy()
    order = np.lexsort((dlos, tids))
    tids = tids[order]
    payloads = pdf["payload"].to_numpy()[order]
    change = np.concatenate(
        ([True], tids[1:] != tids[:-1]))
    starts = np.flatnonzero(change)
    ends = np.concatenate((starts[1:], [len(tids)]))
    chains = {int(tids[s]): [bytes(p) for p in payloads[s:e]]
              for s, e in zip(starts, ends)}
    t_chains = time.monotonic()
    # per-task byte-bounded decode cache; chain cache keys are the
    # term_ids themselves (content-stable — one chain per term per task)
    cache = TaskCache()
    # pack already unpacked to plain python scalars, once per worker
    qids_l, offs, tids_l, w_l, idf_l = unpacked
    grouped = getattr(topk_fn, "grouped_impl", None)
    if grouped is not None:
        # batch the whole pack through the numpy chunk scorer
        out_q, out_d, out_s, n_scored = grouped(
            qids_l, offs, tids_l, w_l, idf_l, chains,
            dl, k, mode, k1, b, avgdl, cache)
    else:
        out_q, out_d, out_s = [], [], []
        n_scored = 0
        chains_get = chains.get
        for i, qid in enumerate(qids_l):
            term_rows = []
            for j in range(offs[i], offs[i + 1]):
                ch = chains_get(tids_l[j])
                if ch is not None:
                    term_rows.append((w_l[j], idf_l[j], ch, tids_l[j]))
            if not term_rows:
                continue
            n_scored += 1
            for doc, score in topk_fn(term_rows, k, mode, k1, b, avgdl,
                                      dl, cache=cache):
                out_q.append(qid)
                out_d.append(doc)
                out_s.append(score)
    t_end = time.monotonic()
    STATS["score_tasks"] += 1
    STATS["score_wall_s"] += t_end - t_start
    STATS["chain_build_s"] += t_chains - t_start
    STATS["queries_scored"] += n_scored
    if n_qb is None:
        return pd.DataFrame({
            "query_id": np.asarray(out_q, dtype=np.int64),
            "doc_id": np.asarray(out_d, dtype=np.int64),
            "score": np.asarray(out_s, dtype=np.float64),
        })
    return _pack_candidates(out_q, out_d, out_s, n_qb)


def _pack_candidates(out_q, out_d, out_s, n_qb: int) -> pd.DataFrame:
    """Candidate (query_id, doc_id, score) lists → (qb, blob) rows of
    packed float64 triples, bucketed by query_id % n_qb."""
    n = len(out_q)
    if n == 0:
        return pd.DataFrame({"qb": pd.Series([], dtype="int32"),
                             "blob": pd.Series([], dtype=object)})
    a = np.empty((n, 3), dtype=np.float64)
    a[:, 0] = out_q
    a[:, 1] = out_d
    a[:, 2] = out_s
    if a[:, 1].max() >= float(1 << 53):
        raise OverflowError("doc_id exceeds exact float64 range (2^53)")
    if np.abs(a[:, 0]).max() >= float(1 << 53):
        # query_id travels the same float64 lane — a user-supplied id
        # beyond 2^53 would silently round and corrupt result grouping
        raise OverflowError("query_id exceeds exact float64 range (2^53)")
    qb = (np.asarray(out_q, dtype=np.int64) % n_qb).astype(np.int64)
    order = np.argsort(qb, kind="stable")
    a, qb = a[order], qb[order]
    bounds = np.flatnonzero(np.concatenate(([True], qb[1:] != qb[:-1])))
    ends = np.concatenate((bounds[1:], [n]))
    return pd.DataFrame({
        "qb": qb[bounds].astype(np.int32),
        "blob": [a[s:e].tobytes() for s, e in zip(bounds, ends)],
    })


def _merge_topk_blobs(blobs: DataFrame, k: int, sp: int,
                      slot_arr) -> DataFrame:
    """Packed candidate blobs → exact global top-k rows (query_id, rank,
    doc_id, score). All of a query's candidates share a qb bucket, so one
    vectorized lexsort + boundary walk per merge task (topk_order)
    replaces the row-explosion + window (score desc, doc_id asc —
    identical tie semantics, differential-tested)."""
    routed = (blobs.withColumn(
        "_mq", F.element_at(slot_arr, F.col("qb") + 1))
        .repartition(sp, "_mq").select("blob"))

    def run(it):
        arrs = []
        for pdf in it:
            arrs.extend(np.frombuffer(b, dtype=np.float64).reshape(-1, 3)
                        for b in pdf["blob"])
        if not arrs:
            return
        a = np.concatenate(arrs) if len(arrs) > 1 else arrs[0]
        if a.size == 0:
            return
        idx, rank = topk_order(a[:, 0], a[:, 1], a[:, 2], k)
        yield pd.DataFrame({
            "query_id": a[idx, 0].astype(np.int64),
            "rank": rank,
            "doc_id": a[idx, 1].astype(np.int64),
            "score": a[idx, 2],
        })

    return routed.mapInPandas(run, TOPK_SCHEMA)


# serving-mode segment cache: the slot-keyed matched-segment exchange is
# query-INDEPENDENT — for a stable index, every broadcast-shape batch
# re-ran the same pruned parquet scan + shuffle as pure per-batch fixed
# cost (the dominant term in the per-batch scaling ratio once the
# kernels got fast). From the second search against the same build,
# the FULL slot-keyed segment table is persisted
# (MEMORY_AND_DISK — the cluster analog is the index resident across
# the serving fleet's memory/SSD, partitioned by doc range); per batch
# only an in-memory term filter remains, which preserves the hash
# partitioning on _g, so the scoring stage needs NO exchange and NO
# parquet scan. Keyed by (applicationId, build_id, shuffle partitions):
# a table persisted by a stopped session is never handed to its
# successor in the same process. Both dicts hold at most
# _SEG_CACHE_MAX_ENTRIES keys; gated on the published index_bytes.
_SEG_CACHE: dict = {}
_SEG_CACHE_SEEN: dict = {}
_SEG_CACHE_MAX_BYTES = int(os.environ.get("W2D_SEG_CACHE_MAX_BYTES",
                                          8 << 30))
_SEG_CACHE_MAX_ENTRIES = 2
_SEG_CACHE_LOCK = threading.Lock()


def _serving_segs(spark, index_dir, bid, sp, index_bytes):
    """Persisted slot-keyed FULL segment table for (session, build, sp),
    or None when the index exceeds _SEG_CACHE_MAX_BYTES or the table is
    not yet warranted (first call on a build stays on the per-batch
    pruned scan — one-shot batches should not pay a whole-index
    materialization). The persist is lazy: nothing is read until a
    broadcast-shape batch runs on the table. Lookup, persist and insert
    hold one lock: two threads warming one build must not both persist
    the table and orphan one copy."""
    if (index_bytes or 0) > _SEG_CACHE_MAX_BYTES:
        return None
    app = spark.sparkContext.applicationId
    key = (app, bid, sp)
    with _SEG_CACHE_LOCK:
        for d in (_SEG_CACHE, _SEG_CACHE_SEEN):
            # entries of a stopped session: its persisted data is gone
            for stale in [key_ for key_ in d if key_[0] != app]:
                del d[stale]
        df = _SEG_CACHE.get(key)
        if df is not None:
            return df
        seen = _SEG_CACHE_SEEN.pop(key, 0) + 1
        if seen < 2:
            while len(_SEG_CACHE_SEEN) >= _SEG_CACHE_MAX_ENTRIES:
                _SEG_CACHE_SEEN.pop(next(iter(_SEG_CACHE_SEEN)))
            _SEG_CACHE_SEEN[key] = seen
            return None
        from pyspark import StorageLevel
        from word2doc_spark.index.build import _partition_slots
        slot_arr = F.array(*[F.lit(x) for x in _partition_slots(sp)])
        segs = (read_table(spark, index_dir, "shards")
                .select("term_id", "range_id", "doc_lo", "payload")
                .withColumn("_g", F.element_at(
                    slot_arr, F.pmod(F.col("range_id"), F.lit(sp)) + 1))
                .repartition(sp, "_g")
                .persist(StorageLevel.MEMORY_AND_DISK))
        while len(_SEG_CACHE) >= _SEG_CACHE_MAX_ENTRIES:
            old = _SEG_CACHE.pop(next(iter(_SEG_CACHE)))
            try:
                old.unpersist()
            except Exception:
                pass
        _SEG_CACHE[key] = segs
        return segs


def _broadcast_runner(index_dir, bid, bc, k, mode, k1, b, avgdl,
                      topk_fn, n_qb):
    """Scoring closure for the broadcast shape. The query pack travels
    as the Spark broadcast variable ``bc`` (once per worker, not once
    per task — see _unpack_groups_bc). bm25 dl blobs load LAZILY
    inside the task (_dl_for_ranges: per-range process cache + one
    pyarrow read for misses) — no cogroup and no per-batch dl shuffle;
    the physical plan is identical for both score modes."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            if n_qb:
                return _pack_candidates([], [], [], n_qb)
            return pd.DataFrame({
                "query_id": pd.Series([], dtype="int64"),
                "doc_id": pd.Series([], dtype="int64"),
                "score": pd.Series([], dtype="float64")})
        dl = (_dl_for_ranges(index_dir, bid, pdf["range_id"].unique())
              if mode == "bm25" else None)
        return _score_range_broadcast(pdf, _unpack_groups_bc(bc), dl, k,
                                      mode, k1, b, avgdl, topk_fn,
                                      n_qb=n_qb)

    return run


def _score_ranges_broadcast(spark, index_dir, term_pred, config, wqt,
                            k, mode, k1, b, avgdl, topk_fn, bid, sp,
                            cached):
    """Range-grouped scoring with the query table in the kernel closure.
    Shuffle volume = each matched segment once (keyed by range_id) —
    independent of batch size; parallelism = n_ranges tasks (set ≫ cores
    at build time). In serving mode (repeat batches on one build) even
    that per-batch exchange disappears: the scoring stage reads
    ``cached``, the persisted slot-keyed segment table of ``sp`` shuffle
    partitions (_serving_segs; None = scan parquet). Returns per-group
    candidate rows (CAND_SCHEMA), or blob-merged top-k rows (TOPK_SCHEMA)
    above _PACK_MIN_CANDIDATES — either is input to exact.finish_topk —
    plus the query-pack broadcast, which the search result owns
    (lifetime.release_with): the caller's action runs after this returns."""
    groups = _wqt_groups(wqt)
    import uuid
    bc = spark.sparkContext.broadcast((uuid.uuid4().hex, groups))
    # group key: ranges are mapped ROUND-ROBIN onto ints that Spark
    # hash-partitions to distinct shuffle partitions (build._partition_slots
    # — grouping 128 range keys straight into 128 partitions loses ~2× to
    # balls-in-bins lumping, measured on the 500k bench). Merging several
    # ranges per task is exact — see _score_range_broadcast.
    from word2doc_spark.index.build import _partition_slots
    slot_arr = F.array(*[F.lit(x) for x in _partition_slots(sp)])

    if cached is not None:
        segs = (filter_terms(cached, term_pred)
                .select("range_id", "term_id", "doc_lo", "payload", "_g"))
    else:
        # explicit repartition(n, _g): (a) the slot mapping gives every
        # range group its own partition, and (b) a user-numbered
        # repartition is exempt from AQE partition COALESCING — the
        # kernel's cost is CPU per (query × range), not shuffle bytes, so
        # byte-based coalescing would collapse the scoring into a handful
        # of tasks (measured 6× wall on the 500k bench: 41s → 244s)
        segs = (_matched_segments(spark, index_dir, term_pred,
                                  config.num_shards)
                .select("range_id", "term_id", "doc_lo", "payload")
                .withColumn("_g", F.element_at(
                    slot_arr, F.pmod(F.col("range_id"), F.lit(sp)) + 1))
                .repartition(sp, "_g"))

    # merge shape: a small batch's candidate rows go straight to the
    # one-task finish (exact.finish_topk); a big batch's candidates must
    # never explode into Arrow rows (a 20k-query batch emits ~10^7) —
    # they travel packed and merge vectorized per query bucket first
    pack = len(groups[0]) * sp * k > _PACK_MIN_CANDIDATES
    out_schema = CAND_BLOB_SCHEMA if pack else CAND_SCHEMA
    qb = sp if pack else None

    run = _broadcast_runner(index_dir, bid, bc, k, mode, k1, b, avgdl,
                            topk_fn, qb)
    cand = segs.groupBy("_g").applyInPandas(run, out_schema)
    if pack:
        cand = _merge_topk_blobs(cand, k, sp, slot_arr)
    return cand, [bc]

