"""Doc-partitioned batch query execution (the scale path).

SURVEY.md §4.1 "per-shard bounded heap + final merge": matched posting
segments are scored WHERE THEIR DOC RANGES LIVE — one task per group of
doc ranges holds every matched segment for its ranges (all query terms),
so each document's full score is computed locally; the task emits only
its per-query top-k candidates, and an exact global merge over the
(n_groups × Q × k) candidate set yields the final top-k.

The final merge, by how the batch was analyzed:

* driver-analyzed batches finish in ONE task (exact.finish_topk):
  candidates → repartition(1) → mapInPandas, where one numpy lexsort
  merges the per-group top-ks and the urls of just the winners are read
  with a pushed-down doc_id filter; rows leave ordered by (query_id,
  rank). Above _PACK_MIN_CANDIDATES estimated candidate rows, the
  candidates first travel as numpy-packed blobs and merge vectorized per
  query bucket (_merge_topk_blobs), so the one task sees ≤ Q·k rows.
* distributed batches — no driver-known size bound — keep the query_id
  window, the broadcast url join (exact.attach_urls) and a global sort.

Two shapes, picked by how the query batch was analyzed:

* driver-analyzed (small) batches — BROADCAST-QUERY scoring: the
  weighted-terms table rides in the kernel closure and each matched
  segment is shuffled ONCE, keyed by a range-slot group. (A join of
  queries × segments emits one row per (query, segment), so a Q-query
  batch over shared hot terms would ship each hot segment's payload up
  to Q× through shuffle + Arrow — measured 4× wall at Q=500.)
* distributed (huge) batches — the join shape, sub-bucketed by query id
  for task balance; shuffle volume is the join output, which is the
  price of a query table too large for a closure.

Two partitioning rules both shapes obey (measured, not theoretical):
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
per-range cache (_dl_for_ranges) — never a driver-side N-row
materialization, and no per-batch dl shuffle: warm batches read nothing
and the bm25 physical plan equals the drqa plan.

Exactness: per-group scores are complete (a doc's postings for every term
live in its range), and the global top-k is contained in the union of
per-group top-ks (any k docs that beat a candidate within its group also
beat it globally), so the final merge is exact — differential tests
assert identity with search_exact on every fixture.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from word2doc_spark.index.manifest import Manifest, read_table
from word2doc_spark.index.postings import decode_postings
from word2doc_spark.query.exact import (
    _empty_result, _matched_segments, attach_urls, finish_topk,
    prepare_weighted_terms, topk_order,
)

CAND_SCHEMA = "query_id long, doc_id long, score double"
# broadcast-shape candidates travel as numpy-packed float64 (query_id,
# doc_id, score) triples bucketed by query — a 20k-query × 128-range × k
# batch emits ~10^7 candidate ROWS whose Arrow emission + shuffle +
# window cost more than the scoring itself (same lesson as the build's
# blob staging); packed, the merge moves ~10^3 opaque rows. float64
# holds ids exactly up to 2^53 (enforced at pack time).
CAND_BLOB_SCHEMA = "qb int, blob binary"
SEED_KTH_SCHEMA = "query_id long, score double"
TOPK_SCHEMA = "query_id long, rank int, doc_id long, score double"

# θ seeding collects O(Q) (id, float) rows to the driver — safe far past
# the analysis threshold, but skip it for truly enormous batches
SEED_MAX_QUERIES = 200_000
# 'auto' seeding threshold: the seed pre-pass costs ~3 extra Spark jobs
# (densest-range agg, seed scoring, k-th window) — a CONSTANT overhead —
# while the pruning it buys grows linearly with n_ranges (each range's θ
# restart forfeits the cross-range threshold). Measured at 128 ranges /
# 500k docs the constant loses (~10 s overhead vs ~2 s pruning gain);
# the 10^12-doc sizing uses 10^4+ ranges where the linear term wins.
SEED_MIN_RANGES = 1024
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
# share a fingerprint); bounded by bytes with FIFO eviction.
_DL_CACHE: dict = {}
_DL_CACHE_BYTES = [0]
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
            while _DL_CACHE and \
                    _DL_CACHE_BYTES[0] + nbytes > _DL_CACHE_MAX_BYTES:
                old = _DL_CACHE.pop(next(iter(_DL_CACHE)))
                _DL_CACHE_BYTES[0] -= int(old[0].nbytes + old[1].nbytes)
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
        # mis-score bm25 without any signal
        if np.isscalar(key) or getattr(key, "ndim", 0) == 0:
            if idx >= len(self.docs) or self.docs[idx] != key:
                raise KeyError(f"doc_id {key} missing from dl blobs")
        else:
            if np.any(idx >= len(self.docs)) or \
                    np.any(self.docs[np.minimum(idx, len(self.docs) - 1)]
                           != key):
                raise KeyError("doc_id(s) missing from dl blobs")
        return self.vals[idx]


def _score_range(pdf: pd.DataFrame, dl, k: int, mode: str, k1: float,
                 b: float, avgdl: float, topk_fn,
                 seeds=None) -> pd.DataFrame:
    """Score one doc range: group matched segments per query, chain each
    term's segments in doc order, run the DAAT kernel, emit candidates.
    Grouping is one lexsort + numpy boundary walks (no per-group pandas
    frames — the hot loop runs once per (query, term), not per row).
    ``seeds``: optional {query_id: θ0} lower bounds (see search_wand
    seeding) passed through to the kernel. A ``theta0`` COLUMN on ``pdf``
    (the distributed-batch seed join; the query's k-th seed-pass score,
    NaN when unseeded) takes precedence — the kernel seed is nudged
    strictly below it, preserving exactness."""
    from word2doc_spark.query.kcache import TaskCache
    qids = pdf["query_id"].to_numpy()
    tids = pdf["term_id"].to_numpy()
    dlos = pdf["doc_lo"].to_numpy()
    order = np.lexsort((dlos, tids, qids))
    qids, tids, dlos = qids[order], tids[order], dlos[order]
    ws = pdf["w"].to_numpy()[order]
    idfs = pdf["idf"].to_numpy()[order]
    payloads = pdf["payload"].to_numpy()[order]
    thetas = (pdf["theta0"].to_numpy(dtype=np.float64)[order]
              if "theta0" in pdf.columns else None)
    n = len(pdf)
    q_change = np.flatnonzero(
        np.concatenate(([True], qids[1:] != qids[:-1])))
    q_ends = np.concatenate((q_change[1:], [n]))
    t_change = np.concatenate(
        ([True], (qids[1:] != qids[:-1]) | (tids[1:] != tids[:-1])))
    out_q, out_d, out_s = [], [], []
    # per-task byte-bounded decode cache shared across the queries; the
    # 4th term-row element is the chain's content-stable cache key
    # (term_id + first doc_lo — unique within this task's doc ranges)
    cache = TaskCache()
    for qs, qe in zip(q_change, q_ends):
        starts = qs + np.flatnonzero(t_change[qs:qe])
        ends = np.concatenate((starts[1:], [qe]))
        term_rows = [
            (float(ws[s]), float(idfs[s]),
             [bytes(p) for p in payloads[s:e]],
             (int(tids[s]), int(dlos[s])))
            for s, e in zip(starts, ends)
        ]
        qid = int(qids[qs])
        if thetas is not None and np.isfinite(thetas[qs]):
            theta0 = float(np.nextafter(thetas[qs], -np.inf))
        else:
            theta0 = seeds.get(qid, -1.0) if seeds else -1.0
        for doc, score in topk_fn(term_rows, k, mode, k1, b, avgdl, dl,
                                  theta0=theta0, cache=cache):
            out_q.append(qid)
            out_d.append(doc)
            out_s.append(score)
    return pd.DataFrame({
        "query_id": np.asarray(out_q, dtype=np.int64),
        "doc_id": np.asarray(out_d, dtype=np.int64),
        "score": np.asarray(out_s, dtype=np.float64),
    })


def search_doc_partitioned(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int,
    score_mode: str | None,
    topk_fn,
    strict: bool = False,
    analysis: str = "auto",
    seed_theta: bool | str = False,
) -> DataFrame:
    """Shared driver for the fast and WAND paths. topk_fn: DAAT kernel
    (term_rows=[(w, idf, [payload,...])], k, mode, k1, b, avgdl, dl,
    theta0=) → [(doc_id, score)] ordered (score desc, doc_id asc).

    analysis: 'driver' | 'distributed' | 'auto' — see search_exact.

    seed_theta (WAND): True, False, or 'auto' (seed only when the index
    has ≥ SEED_MIN_RANGES deep-segment doc ranges — where per-range θ
    restarts actually cost pruning power). The pre-pass scores, per
    query, only its seed range (the w·idf presence-mass winner over
    payload-free segment METADATA — see _densest_ranges) and seeds every
    range task's pruning
    threshold with just-below that range's k-th score. A range's local
    k-th score is ≤ the global k-th score, and the seed sits strictly
    below it, so a doc scoring ≥ the global k-th can never be pruned —
    exactness (incl. doc_id tie-breaks) is preserved; differential tests
    assert identity. This restores cross-range pruning power that
    per-range θ restarts lose as n_ranges grows (10^4+ ranges at the
    10^12-doc sizing).

    Driver-analyzed batches seed through an O(Q)-row driver collect;
    distributed batches stay fully executor-side (per-query densest
    range and k-th seed computed by joins, seeds delivered to the range
    tasks as a broadcast ``theta0`` column). Batches beyond
    SEED_MAX_QUERIES skip seeding — a ≤SEED_MAX_QUERIES seed table
    broadcasts in single-digit MB; beyond it the seed join would carry
    more weight than the pruning it buys."""
    _drain_unpersist()
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

    qdf, term_pred, wqt, nq = prepare_weighted_terms(
        spark, index_dir, queries, config, n_docs, strict, analysis,
        build_qdf=False)
    if term_pred is None:
        return _empty_result(spark)
    # actual range count from the published layout (config.n_ranges may be
    # 0 = auto-sized at build)
    n_ranges = -(-n_docs // max(int(stats.get("range_width", n_docs)), 1))
    # auto-seed gate: many ranges (per-range θ restarts cost pruning) AND
    # deep matched runs (avg matched postings per (term, range) cell ≥ 2
    # blocks — shallow cells leave block-max nothing to skip, so the
    # pre-pass is pure overhead; measured +20% on a tiny corpus whose
    # cells average 5 postings). Depth is BATCH-aware when the batch was
    # driver-analyzed (per-term dfs are already in hand — a rare+head
    # query batch seeds even on an index whose average segment is
    # shallow); distributed batches fall back to the index-global mean.
    if wqt is not None and len(wqt):
        u = wqt.drop_duplicates("term_id")["df"].to_numpy(
            dtype=np.float64)
        depth = float(u.sum()
                      / max(np.minimum(u, n_ranges).sum(), 1.0))
    else:
        depth = (float(stats.get("n_postings", 0))
                 / max(float(stats.get("n_segments", 0) or 0), 1.0))
    want_seed = (seed_theta is True
                 or (seed_theta == "auto"
                     and n_ranges >= SEED_MIN_RANGES
                     and depth >= 2 * config.block_size))
    if want_seed:
        # bounded count — only run the extra job when seeding is on the
        # table at all (a driver-analyzed batch already knows its size)
        n_q = nq if nq is not None else \
            queries.limit(SEED_MAX_QUERIES + 1).count()
        do_seed = n_q <= SEED_MAX_QUERIES
    else:
        n_q, do_seed = nq, False

    if wqt is not None:
        # driver-analyzed batch: the weighted-terms table is SMALL — ship
        # it to the range tasks in the kernel closure and ship each
        # matched segment ONCE per range. (The join formulation emits one
        # row per (query, segment), so a 500-query batch over shared hot
        # terms shipped each hot segment's payload ~500× through the
        # shuffle + Arrow — measured 4× wall on the 500k scaling bench.)
        # The candidates merge and get their urls in one task.
        cand = _score_ranges_broadcast(
            spark, index_dir, term_pred, config, wqt, k, mode, k1, b,
            avgdl, topk_fn, do_seed, bid, index_bytes)
        return finish_topk(index_dir, cand, k)
    else:
        # distributed batch: query table is executor-resident; fall back
        # to the join shape, sub-bucketed by query for task balance
        # (join output is already one row per (query, segment) — extra
        # buckets add no shuffle volume)
        segs = _matched_segments(spark, index_dir, term_pred,
                                 config.num_shards)
        n_buckets = 32 if n_q is None else int(min(32, max(1, n_q // 32)))
        joined = (segs.join(qdf, "term_id")
                  .withColumn("qb",
                              F.pmod(F.col("query_id"), F.lit(n_buckets))
                              .cast("int"))
                  .select("range_id", "qb", "query_id", "term_id", "w",
                          "idf", "doc_lo", "payload"))
        if do_seed:
            theta0 = _theta_seeds_distributed(
                spark, index_dir, term_pred, config, qdf, joined, k,
                mode, k1, b, avgdl, topk_fn, n_buckets, bid)
            if theta0 is not None:
                joined = joined.join(F.broadcast(theta0), "query_id",
                                     "left")
        cand = _score_all_ranges(spark, index_dir, joined, k, mode, k1, b,
                                 avgdl, topk_fn, n_buckets, bid)

        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id"))
        topk = (cand.withColumn("rank", F.row_number().over(w))
                    .filter(F.col("rank") <= k))
        return attach_urls(spark, index_dir, topk)


# DataFrames persisted for a seed+main job pair; unpersisted at the START
# of the next search call (the caller's action on the returned DataFrame
# runs after this function exits, so an in-call unpersist would drop the
# cache before the main job reads it; MEMORY_AND_DISK evicts cleanly
# under pressure in the meantime)
_PENDING_UNPERSIST: list = []


def _drain_unpersist() -> None:
    while _PENDING_UNPERSIST:
        df = _PENDING_UNPERSIST.pop()
        try:
            df.unpersist()
        except Exception:
            pass
    while _PENDING_BC_DESTROY:
        bc = _PENDING_BC_DESTROY.pop()
        try:
            # unpersist, NOT destroy: a caller may lawfully run a PREVIOUS
            # search's lazy DataFrame after a newer search call; destroy
            # would fail its tasks, unpersist just re-broadcasts on demand
            bc.unpersist(blocking=False)
        except Exception:
            pass


# query-pack broadcasts are released (executor copies dropped) at the
# START of the next search call (same lazy-evaluation reason as
# _PENDING_UNPERSIST: the caller's job on the returned DataFrame runs
# after this function exits)
_PENDING_BC_DESTROY: list = []

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


def _align_to_pack(qids: np.ndarray, keys, values, default, dtype):
    """Value-per-query array aligned to the pack's qids (sorted unique):
    position of each key via searchsorted; keys absent from the pack are
    dropped, queries absent from ``keys`` get ``default``."""
    out = np.full(len(qids), default, dtype=dtype)
    if len(keys):
        k = np.asarray(keys, dtype=np.int64)
        v = np.asarray(values, dtype=dtype)
        pos = np.searchsorted(qids, k)
        ok = (pos < len(qids))
        ok[ok] &= qids[pos[ok]] == k[ok]
        out[pos[ok]] = v[ok]
    return out


def _score_range_broadcast(pdf: pd.DataFrame, unpacked, dl, k, mode, k1,
                           b, avgdl, topk_fn, seeds=None,
                           only_groups=None,
                           n_qb: int | None = None,
                           kth_only: bool = False) -> pd.DataFrame:
    """Score one slot-group of doc ranges for every query in ``groups``.
    pdf holds each matched segment of the group's ranges exactly once
    (term_id, doc_lo, payload); per-term segment chains are built with one
    lexsort + boundary walk (ranges are disjoint doc intervals, so a
    term's cross-range chain is still doc-ascending), then every query
    assembles its term_rows by dict lookup. Emitting top-k per GROUP of
    ranges is exact: any k docs that beat a doc within the group also
    beat it globally. ``unpacked`` is the _wqt_groups pack as plain
    python lists (worker-cached — see _unpack_groups_bc);
    ``seeds`` / ``only_groups`` are pack-aligned arrays (θ0 per query,
    -1.0 = unseeded; slot group per query, -1 = skip — the θ-seed
    pre-pass scores each query only in its densest slot group).

    ``kth_only``: emit one (query_id, score) row per fully-matched query
    — its LOCAL k-th score — instead of candidate rows. Used by the
    θ-seed pre-pass: with ``only_groups`` each query scores in exactly
    ONE task, so no cross-group merge exists and the k-th can leave the
    task directly (the old pack→merge→window route spent two extra
    stages re-deriving it)."""
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
    g = int(pdf["_g"].iloc[0])
    # per-task byte-bounded decode cache; chain cache keys are the
    # term_ids themselves (content-stable — one chain per term per task)
    cache = TaskCache()
    # pack already unpacked to plain python scalars, once per worker;
    # seeds / only_groups arrive as pack-aligned arrays, not dicts
    qids_l, offs, tids_l, w_l, idf_l = unpacked
    og_l = only_groups.tolist() if only_groups is not None else None
    grouped = getattr(topk_fn, "grouped_impl", None)
    if grouped is not None:
        # batch the whole pack through the numpy chunk scorer (the fast
        # kernel ignores θ seeds, so seeds never change its results)
        out_q, out_d, out_s, n_scored = grouped(
            qids_l, offs, tids_l, w_l, idf_l, og_l, g, chains,
            dl, k, mode, k1, b, avgdl, cache)
    else:
        out_q, out_d, out_s = [], [], []
        n_scored = 0
        seed_l = seeds.tolist() if seeds is not None else None
        chains_get = chains.get
        for i, qid in enumerate(qids_l):
            if og_l is not None and og_l[i] != g:
                continue
            term_rows = []
            for j in range(offs[i], offs[i + 1]):
                ch = chains_get(tids_l[j])
                if ch is not None:
                    term_rows.append((w_l[j], idf_l[j], ch, tids_l[j]))
            if not term_rows:
                continue
            n_scored += 1
            theta0 = seed_l[i] if seed_l is not None else -1.0
            for doc, score in topk_fn(term_rows, k, mode, k1, b, avgdl,
                                      dl, theta0=theta0, cache=cache):
                out_q.append(qid)
                out_d.append(doc)
                out_s.append(score)
    t_end = time.monotonic()
    STATS["score_tasks"] += 1
    STATS["score_wall_s"] += t_end - t_start
    STATS["chain_build_s"] += t_chains - t_start
    STATS["queries_scored"] += n_scored
    if kth_only:
        return _kth_rows(out_q, out_s, k)
    if n_qb is None:
        return pd.DataFrame({
            "query_id": np.asarray(out_q, dtype=np.int64),
            "doc_id": np.asarray(out_d, dtype=np.int64),
            "score": np.asarray(out_s, dtype=np.float64),
        })
    return _pack_candidates(out_q, out_d, out_s, n_qb)


def _kth_rows(out_q, out_s, k: int) -> pd.DataFrame:
    """Per-query k-th score from candidate lists where each query's rows
    are CONTIGUOUS and ordered (score desc, doc asc) — true for both the
    per-query loop and the grouped scorer (each query scores in one chunk
    or the fallback, never both). Queries with fewer than k matched docs
    emit nothing: their local k-th does not exist, so they stay unseeded
    (exactly what filter(rank == k) produced on the merge route). Reads
    the score at starts + k - 1 under ``lens >= k`` so a kernel that
    ever emits MORE than k rows per query (e.g. keeping ties past the
    k-th) still seeds from its true k-th instead of silently unseeding
    (current kernels cap emission at k, making this equivalent)."""
    qarr = np.asarray(out_q, dtype=np.int64)
    sarr = np.asarray(out_s, dtype=np.float64)
    if qarr.size == 0:
        return pd.DataFrame({"query_id": pd.Series([], dtype="int64"),
                             "score": pd.Series([], dtype="float64")})
    starts = np.flatnonzero(np.concatenate(([True],
                                            qarr[1:] != qarr[:-1])))
    lens = np.diff(np.concatenate((starts, [qarr.size])))
    keep = lens >= k
    return pd.DataFrame({"query_id": qarr[starts[keep]],
                         "score": sarr[starts[keep] + k - 1]})


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
# kernels got fast). From the second broadcast-shape search against the
# same build, the FULL slot-keyed segment table is persisted
# (MEMORY_AND_DISK — the cluster analog is the index resident across
# the serving fleet's memory/SSD, partitioned by doc range); per batch
# only an in-memory term filter remains, which preserves the hash
# partitioning on _g, so the scoring stage needs NO exchange and NO
# parquet scan. Keyed by (build_id, shuffle partitions); bounded to
# _SEG_CACHE_MAX_ENTRIES builds and gated on the published index_bytes.
_SEG_CACHE: dict = {}
_SEG_CACHE_SEEN: dict = {}
_SEG_CACHE_MAX_BYTES = int(os.environ.get("W2D_SEG_CACHE_MAX_BYTES",
                                          8 << 30))
_SEG_CACHE_MAX_ENTRIES = 2


def _serving_segs(spark, index_dir, bid, sp, slot_arr, index_bytes):
    """Persisted slot-keyed FULL segment table for (build, sp), or None
    when the index exceeds _SEG_CACHE_MAX_BYTES or the table is not yet
    warranted (first call on a build stays on the per-batch pruned scan
    — one-shot batches should not pay a whole-index materialization)."""
    if (index_bytes or 0) > _SEG_CACHE_MAX_BYTES:
        return None
    key = (bid, sp)
    df = _SEG_CACHE.get(key)
    if df is not None:
        return df
    _SEG_CACHE_SEEN[key] = _SEG_CACHE_SEEN.get(key, 0) + 1
    if _SEG_CACHE_SEEN[key] < 2:
        return None
    from pyspark import StorageLevel
    segs = (read_table(spark, index_dir, "shards")
            .select("term_id", "range_id", "doc_lo", "n_postings",
                    "payload")
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


def _prune_cached_segs(segs: DataFrame, term_ids: list) -> DataFrame:
    """Term pruning over the cached slot-keyed table. Both shapes (isin
    filter, broadcast left-semi) preserve the streamed side's hash
    partitioning on _g — no exchange reappears downstream."""
    from word2doc_spark.query.exact import _ISIN_PRUNE_LIMIT, term_in
    if len(term_ids) <= _ISIN_PRUNE_LIMIT:
        return segs.filter(term_in(term_ids))
    spark = segs.sparkSession
    wanted = spark.createDataFrame([(int(t),) for t in term_ids],
                                   "term_id long")
    return segs.join(F.broadcast(wanted), "term_id", "left_semi")


def _broadcast_runner(index_dir, bid, bc, k, mode, k1, b, avgdl,
                      topk_fn, n_qb, seeds=None, only_groups=None,
                      kth_only=False):
    """Scoring closure for the broadcast shape. The query pack travels
    as the Spark broadcast variable ``bc`` (once per worker, not once
    per task — see _unpack_groups_bc); seeds/only_groups are small
    pack-aligned arrays and ride the closure. bm25 dl blobs load LAZILY
    inside the task (_dl_for_ranges: per-range process cache + one
    pyarrow read for misses) — no cogroup and no per-batch dl shuffle;
    the physical plan is identical for both score modes."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            if kth_only:
                return _kth_rows([], [], k)
            if n_qb:
                return _pack_candidates([], [], [], n_qb)
            return pd.DataFrame({
                "query_id": pd.Series([], dtype="int64"),
                "doc_id": pd.Series([], dtype="int64"),
                "score": pd.Series([], dtype="float64")})
        dl = (_dl_for_ranges(index_dir, bid, pdf["range_id"].unique())
              if mode == "bm25" else None)
        return _score_range_broadcast(pdf, _unpack_groups_bc(bc), dl, k,
                                      mode, k1, b,
                                      avgdl, topk_fn, seeds=seeds,
                                      only_groups=only_groups, n_qb=n_qb,
                                      kth_only=kth_only)

    return run


def _score_ranges_broadcast(spark, index_dir, term_pred, config, wqt,
                            k, mode, k1, b, avgdl, topk_fn, do_seed,
                            bid, index_bytes=0):
    """Range-grouped scoring with the query table in the kernel closure.
    Shuffle volume = each matched segment once (keyed by range_id) —
    independent of batch size; parallelism = n_ranges tasks (set ≫ cores
    at build time). In serving mode (repeat batches on one build) even
    that per-batch exchange disappears: the scoring stage reads the
    persisted slot-keyed segment table (_serving_segs). Returns per-group
    candidate rows (CAND_SCHEMA), or blob-merged top-k rows (TOPK_SCHEMA)
    above _PACK_MIN_CANDIDATES — either is input to exact.finish_topk."""
    groups = _wqt_groups(wqt)
    # one broadcast of the (token, pack) tuple serves the seed pass and
    # the main pass; destroyed at the start of the next search call
    import uuid
    bc = spark.sparkContext.broadcast((uuid.uuid4().hex, groups))
    _PENDING_BC_DESTROY.append(bc)
    # group key: ranges are mapped ROUND-ROBIN onto ints that Spark
    # hash-partitions to distinct shuffle partitions (build._partition_slots
    # — grouping 128 range keys straight into 128 partitions loses ~2× to
    # balls-in-bins lumping, measured on the 500k bench). Merging several
    # ranges per task is exact — see _score_range_broadcast.
    from word2doc_spark.index.build import _partition_slots
    sp = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    slots = _partition_slots(sp)
    slot_arr = F.array(*[F.lit(x) for x in slots])

    cached = _serving_segs(spark, index_dir, bid, sp, slot_arr,
                           index_bytes)
    if cached is not None:
        segs = (_prune_cached_segs(cached, term_pred)
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

    seeds = None
    if do_seed:
        if cached is None:
            # the seed pre-pass and the main pass both consume the
            # matched segments — persist so the segment scan + shuffle
            # runs once (unpersisted at the next search call, see
            # _PENDING_UNPERSIST; the serving cache needs no extra
            # persist — it already is one)
            from pyspark import StorageLevel
            segs = segs.persist(StorageLevel.MEMORY_AND_DISK)
            _PENDING_UNPERSIST.append(segs)
        seeds = _theta_seeds_broadcast(spark, index_dir, term_pred,
                                       config, wqt, groups, bc, segs,
                                       slots, sp, k, mode,
                                       k1, b, avgdl, topk_fn, bid,
                                       segs_meta=cached)

    # merge shape: a small batch's candidate rows go straight to the
    # one-task finish (exact.finish_topk); a big batch's candidates must
    # never explode into Arrow rows (a 20k-query batch emits ~10^7) —
    # they travel packed and merge vectorized per query bucket first
    pack = len(groups[0]) * sp * k > _PACK_MIN_CANDIDATES
    out_schema = CAND_BLOB_SCHEMA if pack else CAND_SCHEMA
    qb = sp if pack else None

    run = _broadcast_runner(index_dir, bid, bc, k, mode, k1, b, avgdl,
                            topk_fn, qb, seeds=seeds)
    cand = segs.groupBy("_g").applyInPandas(run, out_schema)
    if pack:
        return _merge_topk_blobs(cand, k, sp, slot_arr)
    return cand


def _densest_ranges(spark, index_dir, term_pred, config,
                    qterms: DataFrame, segs_meta=None) -> DataFrame:
    """(query_id, range_id) — the doc range each query should SEED from,
    chosen from payload-free segment metadata joined executor-side
    against the weighted query terms (query_id, term_id, w, idf).

    Ranking: per (query, range), primary key = Σ w·idf over the DISTINCT
    matched terms PRESENT in the range (each term's per-doc contribution
    is bounded by a multiple of w·idf, so presence mass tracks the best
    score the range can possibly hold); tie-break = matched-posting count,
    then smallest range_id. For a dense-only topical query every range
    carries the same term set, the mass ties everywhere, and the np
    tie-break reduces to the old most-postings rule. For a selective
    rare+dense query the rare term's idf dominates the mass, so the seed
    pass scores a range that actually CONTAINS rare-term docs — its k-th
    score then carries the rare idf contribution, which is what lets
    dense-only ranges fail the chain-ub short-circuit in O(terms)
    (wand_topk theta0) instead of merely block-skipping. Any range's
    k-th score is a valid θ0 (exactness never depends on this choice —
    differential tests run both seeded and unseeded); this picks the
    range whose θ0 prunes hardest.

    ``segs_meta``: serving-cache segment table to read the metadata from
    (in-memory columnar, payload column pruned) instead of parquet."""
    if segs_meta is not None:
        base = (_prune_cached_segs(segs_meta, term_pred)
                .select("term_id", "range_id", "n_postings"))
    else:
        base = _matched_segments(spark, index_dir, term_pred,
                                 config.num_shards, with_counts=True)
    meta = (base.groupBy("term_id", "range_id")
            .agg(F.sum("n_postings").alias("np")))
    dens = (meta.join(qterms, "term_id")
            .groupBy("query_id", "range_id")
            .agg(F.sum(F.col("w") * F.col("idf")).alias("mass"),
                 F.sum("np").alias("np")))
    best = (dens.groupBy("query_id")
            .agg(F.max(F.struct(
                F.col("mass"), F.col("np"),
                (-F.col("range_id")).alias("nr"))).alias("b"))
            .select("query_id",
                    (-F.col("b").getField("nr")).cast("int")
                    .alias("range_id")))
    return best


def _theta_seeds_broadcast(spark, index_dir, term_pred, config, wqt,
                           groups, bc, segs, slots, sp,
                           k, mode, k1, b, avgdl, topk_fn, bid,
                           segs_meta=None):
    """{query_id: θ0} for the broadcast path: pick each query's seed
    range executor-side (w·idf presence-mass over segment metadata ⋈
    broadcast weighted query terms — see _densest_ranges; the driver
    collects O(Q) winner rows, never the O(terms × ranges) metadata),
    score each query only in the slot GROUP holding that range (a
    superset of the range — the k-th over any doc subset is still ≤ the
    global k-th, so the seed stays valid), take the k-th scores, seed
    just below them. bm25 dl loads lazily in-task."""
    qterms = F.broadcast(spark.createDataFrame(
        wqt[["query_id", "term_id", "w", "idf"]].drop_duplicates(
            ["query_id", "term_id"]),
        "query_id long, term_id long, w double, idf double"))
    best = _densest_ranges(spark, index_dir, term_pred, config,
                           qterms, segs_meta=segs_meta).collect()
    if not best:
        return None
    # pack-aligned int64 array (default -1 = query has no densest range
    # → skipped in the seed pass), shipped instead of a 40k-entry dict
    only_groups = _align_to_pack(
        groups[0],
        [int(r["query_id"]) for r in best],
        [slots[int(r["range_id"]) % sp] for r in best],
        default=-1, dtype=np.int64)

    # only_groups pins each query to ONE task, so its local k-th needs
    # no cross-group merge: the seed job emits (query_id, kth) rows
    # directly — one stage + collect, where the pack→merge→window route
    # spent two extra stages and a second shuffle re-deriving it
    run_seed = _broadcast_runner(index_dir, bid, bc, k, mode, k1, b,
                                 avgdl, topk_fn, None,
                                 only_groups=only_groups, kth_only=True)
    kth = (segs.groupBy("_g").applyInPandas(run_seed, SEED_KTH_SCHEMA)
           .collect())
    if not kth:
        return None
    # θ0 just below each k-th score, aligned to the pack (-1.0 = unseeded)
    return _align_to_pack(
        groups[0],
        [int(r["query_id"]) for r in kth],
        [float(np.nextafter(r["score"], -np.inf)) for r in kth],
        default=-1.0, dtype=np.float64)


def _theta_seeds_distributed(spark, index_dir, term_pred, config, qdf,
                             joined, k, mode, k1, b, avgdl, topk_fn,
                             n_buckets, bid=None):
    """Executor-side θ seeding for distributed-analyzed batches: the
    per-query densest range comes from joins (no driver collect at all),
    the seed pass scores each query only in that range (a left-semi
    restriction of the main join), and the k-th scores return as a
    (query_id, theta0) DataFrame the caller broadcast-joins onto the
    main pass (capped at SEED_MAX_QUERIES rows — single-digit MB)."""
    best = _densest_ranges(spark, index_dir, term_pred, config,
                           qdf.select("query_id", "term_id", "w", "idf"))
    seed_joined = joined.join(best, ["query_id", "range_id"],
                              "left_semi")
    seed_cand = _score_all_ranges(spark, index_dir, seed_joined, k, mode,
                                  k1, b, avgdl, topk_fn, n_buckets, bid)
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id"))
    return (seed_cand.withColumn("_r", F.row_number().over(wk))
            .filter(F.col("_r") == k)
            .select("query_id", F.col("score").alias("theta0")))


def _score_all_ranges(spark, index_dir, joined, k, mode, k1, b, avgdl,
                      topk_fn, n_buckets, bid=None):
    """(range_id, qb)-partitioned scoring of a joined (segments × query
    terms) DataFrame → candidate rows (the distributed-batch shape). An
    optional ``theta0`` column on ``joined`` carries per-query pruning
    seeds (see _theta_seeds_distributed). bm25 dl blobs load lazily
    inside the task (one range per task; the per-range process cache
    means the n_buckets replicas of a range decode its dl once per
    executor, and warm batches read nothing)."""

    joined = _pin_partitions(joined, spark, "range_id", "qb")

    def run1(pdf: pd.DataFrame) -> pd.DataFrame:
        dl = (_dl_for_ranges(index_dir, bid, pdf["range_id"].unique())
              if mode == "bm25" else None)
        return _score_range(pdf, dl, k, mode, k1, b, avgdl, topk_fn)

    return (joined.groupBy("range_id", "qb")
            .applyInPandas(run1, CAND_SCHEMA))


def _pin_partitions(df: DataFrame, spark, *cols) -> DataFrame:
    """Explicit numbered repartition on the grouping keys: exempts the
    downstream applyInPandas exchange from AQE byte-based coalescing
    (kernel cost is CPU-per-group, not bytes)."""
    sp = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return df.repartition(sp, *cols)
