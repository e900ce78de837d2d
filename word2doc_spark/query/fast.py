"""Vectorized DAAT scoring kernel + doc-partitioned "fast exact" path.

The reference's hot loop is a scipy CSR sparse dot product
(tfidf_doc_ranker.py:62-63) — C-speed accumulation over all matching
postings. This kernel is its per-range analog: the matched posting
segments of one doc range are decoded (vectorized varint) and accumulated
with one argsort + ``np.add.reduceat`` — no per-posting Python. Top-k via
argpartition, ties (score desc, doc_id asc).

Distribution: queries fan out over doc ranges (query/ranges.py) — every
range task scores its complete local slice for every query and emits only
top-k candidates; the global merge over n_ranges × Q × k candidates is
exact (window for small sets, packed-blob vectorized merge for large).

Results are exact and identical to search_exact / search_wand
(differential-tested). WAND wins when k is small relative to very long
posting lists AND per-doc evaluation is expensive — at Python speeds the
vectorized full scan is usually faster, which is why this is the default
fast path.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from word2doc_spark.index.postings import decode_postings


def _decode_chain(payloads) -> tuple[np.ndarray, np.ndarray]:
    """One term's segment payloads (doc-ascending, disjoint) → full
    (doc_ids, tfs). Accepts a single payload for the unsegmented case."""
    if isinstance(payloads, (bytes, bytearray)):
        return decode_postings(payloads)
    parts = [decode_postings(p) for p in payloads]
    if len(parts) == 1:
        return parts[0]
    return (np.concatenate([d for d, _ in parts]),
            np.concatenate([t for _, t in parts]))


def fast_topk(
    term_rows,
    k: int, mode: str, k1: float, b: float, avgdl: float,
    dl,
    cache: dict | None = None,
) -> list[tuple[int, float]]:
    """Exact top-k by full vectorized accumulation. term_rows: (w_q, idf,
    payload-or-[payloads]); dl: dense array, SparseDL, or None.

    cache: optional per-TASK dict shared across a batch's queries — a
    term's decoded chain is query-independent, so hot terms decode once
    per task instead of once per query (the dominant kernel cost for
    overlapping batches). Cache keys are CONTENT-stable: the scoring
    wrappers thread an explicit chain key (term_id + first doc_lo,
    carried in the same rows as the payloads) as an optional 4th element
    of each term row; direct kernel callers without one fall back to the
    payload bytes objects themselves as the key (dict equality = content
    equality — never object identity, whose ids can be reused after GC).
    When the cache exposes ``charge`` (query/kcache.py TaskCache), big
    entries are byte-accounted and the oldest evict beyond the budget."""
    doc_parts: list[np.ndarray] = []
    score_parts: list[np.ndarray] = []
    charge = getattr(cache, "charge", None)
    for row in term_rows:
        w, idf, payload = row[0], row[1], row[2]
        if w <= 0.0:
            continue
        # per-(chain, w, idf) CONTRIBUTION arrays are also shared across
        # queries (same term + same query-side tf → identical per-doc
        # scores; dl is task-constant) — cache them so a query's marginal
        # cost is just concat + accumulate
        if cache is not None:
            pid = row[3] if len(row) > 3 else (
                payload if isinstance(payload, (bytes, bytearray))
                else tuple(payload))
            ckey = ("contrib", pid, w, idf, mode)
            got = cache.get(ckey)
        else:
            got = None
        if got is None:
            chain = cache.get(("chain", pid)) if cache is not None else None
            if chain is None:
                d_raw, t_raw = _decode_chain(payload)
                chain = (d_raw.astype(np.int64),
                         t_raw.astype(np.float64))
                if cache is not None:
                    cache[("chain", pid)] = chain
                    if charge is not None:
                        charge(("chain", pid),
                               chain[0].nbytes + chain[1].nbytes)
            docs, tfs = chain
            if mode == "drqa":
                contrib = (w * idf) * np.log1p(tfs)
            else:
                d = np.asarray(dl[docs], dtype=np.float64) \
                    if dl is not None else np.full(docs.size, avgdl)
                contrib = w * (tfs * (k1 + 1.0)) / (
                    tfs + k1 * (1.0 - b + b * d / avgdl))
            got = (docs, contrib)
            if cache is not None:
                cache[ckey] = got
                if charge is not None:
                    charge(ckey, docs.nbytes + contrib.nbytes)
        doc_parts.append(got[0])
        score_parts.append(got[1])
    if not doc_parts:
        return []
    all_docs = np.concatenate(doc_parts)
    all_scores = np.concatenate(score_parts)
    # sort + reduceat accumulate (np.unique + np.add.at measured ~3× the
    # cost at typical per-range sizes — add.at is the slow path)
    order = np.argsort(all_docs, kind="stable")
    sdocs = all_docs[order]
    bounds = np.flatnonzero(
        np.concatenate(([True], sdocs[1:] != sdocs[:-1])))
    uniq = sdocs[bounds]
    acc = np.add.reduceat(all_scores[order], bounds)
    if uniq.size > k:
        # keep every doc scoring ≥ the k-th score so boundary ties resolve
        # by doc_id in the full sort below (exact-path tie semantics)
        thresh = np.partition(acc, uniq.size - k)[uniq.size - k]
        cand = np.flatnonzero(acc >= thresh)
    else:
        cand = np.arange(uniq.size)
    order = cand[np.lexsort((uniq[cand], -acc[cand]))][:k]
    return [(int(uniq[i]), float(acc[i])) for i in order]


# dense-vs-sparse rule of _grouped_fast, per query: a dense accumulator
# row costs ~30 µs + 16 ns × n_active (zero, partition, mask) whatever the
# query matches; fast_topk ~50 µs + 70 ns × its matched postings P
# (synthetic chains, 2,000 queries per task, one core). Break-even is
# n_active ≈ 1,250 + 4.4·P; the base is set above the ~3k-doc active
# spaces of small indexes, where the dense path keeps every query.
# Measured: n_active 125k, P≈20: dense 2.1 ms, fast_topk 1.1 ms per query;
# n_active 60k, P≈600: 864 vs 281 µs; n_active 3k, P≈2,500: 111 vs 183 µs
_SPARSE_ACTIVE_BASE = 4096
_SPARSE_ACTIVE_PER_POSTING = 4


def _grouped_fast(qids_l, offs, tids_l, w_l, idf_l, chains, dl, k: int,
                  mode: str, k1: float, b: float, avgdl: float,
                  cache) -> tuple[list, list, list, int]:
    """Batch form of fast_topk over one slot-group task: score EVERY
    matched query of the broadcast pack in numpy chunks instead of a
    python call per query.

    Three per-task preparations (the first and last cached in the
    TaskCache, byte-charged):
    * each term chain decodes once to (global doc_ids, tfs) — as before;
    * the group's ACTIVE doc space: the sorted union of every matched
      chain's docs. Scoring happens in rank-compressed active indices,
      so the dense accumulator width is O(matched docs of this group),
      bounded by the group's posting count — independent of the doc-
      range width (a 32M-doc production range with sparse matches stays
      narrow);
    * per (term, mode): (active_idx int32, fvals float64) where fvals is
      the query-independent factor of the contribution — log1p(tf) for
      drqa, the BM25 tf/dl kernel for bm25 — so a query's contribution
      is scale·fvals with scale = w·idf (drqa) or w (bm25), the exact
      expression fast_topk computes (bit-identical float ops).

    Each chunk of R queries accumulates into a reused dense (R ×
    n_active) float64 matrix with one fancy-indexed scatter-add PER
    DISTINCT TERM (rows-holding-term ⊗ term postings — every (row, col)
    pair is unique within a term, so `m[rows, cols] += outer` is
    well-defined), iterating terms in ascending term_id: per (query,
    doc) the contributions add in the same ascending-term order
    fast_topk feeds to reduceat. The per-doc sums can differ from
    fast_topk's in the LAST ULP only (np.add.reduceat reduces segments
    pairwise, the scatter adds strictly term-by-term; measured ≤1 ulp ≈
    1e-15 relative — far inside the 1e-9 differential contract).
    Top-k is chunk-vectorized: a per-row k-th-value via np.partition,
    a `(m ≥ kth) & (m > 0)` candidate mask (the `> 0` leg handles rows
    with ≤ k matched docs, where the k-th value is an unmatched 0), and
    ONE global lexsort (row, score desc, doc asc) + boundary walk —
    identical tie semantics to fast_topk (keep ≥ k-th, doc_id breaks).

    Queries where some matched term has scale == 0 (idf clamped to 0 on
    a >N/3-df head term) fall back to fast_topk: such terms mark a doc
    as MATCHED at score contribution 0, which the zero-pruned dense
    accumulator cannot represent when the match count is ≤ k. So do
    queries with few matched postings against a wide active doc space
    (n_active > _SPARSE_ACTIVE_BASE + _SPARSE_ACTIVE_PER_POSTING × the
    query's postings): a dense row costs O(n_active) whatever the query
    matches, fast_topk O(its postings) plus a fixed call cost.
    Returns (out_q, out_d, out_s, n_scored)."""
    charge = getattr(cache, "charge", None)
    def get_chain(tid):
        ck = ("chain", tid)
        chain = cache.get(ck)
        if chain is None:  # first touch, or evicted by the byte budget
            d_raw, t_raw = _decode_chain(chains[tid])
            chain = (d_raw.astype(np.int64), t_raw.astype(np.float64))
            cache[ck] = chain
            if charge is not None:
                charge(ck, chain[0].nbytes + chain[1].nbytes)
        return chain

    parts = [get_chain(tid)[0] for tid in chains]
    active = np.unique(np.concatenate(parts)) if parts else \
        np.empty(0, dtype=np.int64)
    n_active = int(active.size)
    if n_active == 0:
        return [], [], [], 0
    # a query with fewer matched postings than this scores cheaper alone
    # (see _SPARSE_ACTIVE_BASE); ≤ 0: every query takes the dense path
    sparse_below = ((n_active - _SPARSE_ACTIVE_BASE)
                    / _SPARSE_ACTIVE_PER_POSTING)
    n_post = {tid: p.size for tid, p in zip(chains, parts)}

    def term_factors(tid):
        fk = ("gf", tid, mode)
        got = cache.get(fk)
        if got is None:
            docs, tfs = get_chain(tid)
            if mode == "drqa":
                fvals = np.log1p(tfs)
            else:
                d = np.asarray(dl[docs], dtype=np.float64) \
                    if dl is not None else np.full(docs.size, avgdl)
                fvals = (tfs * (k1 + 1.0)) / (
                    tfs + k1 * (1.0 - b + b * d / avgdl))
            got = (np.searchsorted(active, docs).astype(np.int32), fvals)
            cache[fk] = got
            if charge is not None:
                charge(fk, got[0].nbytes + got[1].nbytes)
        return got

    # chunk size: the dense accumulator must stay small enough that
    # ncores × buffer fits the SHARED L3 — an 8 MB buffer measured 2×
    # per-task cpu inflation at 32 procs (L3 thrash) vs 8
    budget = int(os.environ.get("W2D_GROUP_BUDGET", str(1 << 20)))
    R = max(1, min(512, budget // max(1, 8 * n_active)))
    m_buf = np.zeros((R, n_active), dtype=np.float64)
    out_q: list = []
    out_d: list = []
    out_s: list = []
    n_scored = 0
    fallback: list = []  # (qid, term_rows)
    chunk_qids: list = []
    chunk_terms: dict = {}  # tid -> ([chunk rows], [scales])
    chains_get = chains.get

    def flush():
        nr = len(chunk_qids)
        if nr == 0:
            return
        m = m_buf[:nr]
        m[:] = 0.0
        for tid in sorted(chunk_terms):
            rows_t, scales_t = chunk_terms[tid]
            offs_t, fvals_t = term_factors(tid)
            r_arr = np.asarray(rows_t, dtype=np.int64)
            s_arr = np.asarray(scales_t, dtype=np.float64)
            m[r_arr[:, None], offs_t[None, :]] += \
                s_arr[:, None] * fvals_t[None, :]
        if n_active > k:
            kth = np.partition(m, n_active - k, axis=1)[:, n_active - k]
        else:
            kth = np.zeros(nr)
        mask = (m >= kth[:, None]) & (m > 0.0)
        rows, cols = np.nonzero(mask)
        vals = m[rows, cols]
        order = np.lexsort((cols, -vals, rows))
        rows, cols, vals = rows[order], cols[order], vals[order]
        starts = np.flatnonzero(
            np.concatenate(([True], rows[1:] != rows[:-1])))
        lens = np.diff(np.concatenate((starts, [rows.size])))
        pos = np.arange(rows.size) - np.repeat(starts, lens)
        keep = pos < k
        qarr = np.asarray(chunk_qids, dtype=np.int64)
        out_q.extend(qarr[rows[keep]].tolist())
        out_d.extend(active[cols[keep]].tolist())
        out_s.extend(vals[keep].tolist())
        chunk_qids.clear()
        chunk_terms.clear()

    for i, qid in enumerate(qids_l):
        terms = []
        zero_scale = False
        for j in range(offs[i], offs[i + 1]):
            if chains_get(tids_l[j]) is None:
                continue
            w = w_l[j]
            if w <= 0.0:
                continue
            scale = w * idf_l[j] if mode == "drqa" else w
            if scale == 0.0:
                zero_scale = True
            terms.append((scale, tids_l[j]))
        if not terms:
            continue
        n_scored += 1
        if zero_scale or (sparse_below > 0 and sum(
                n_post[tid] for _, tid in terms) < sparse_below):
            term_rows = [
                (w_l[j], idf_l[j], chains_get(tids_l[j]), tids_l[j])
                for j in range(offs[i], offs[i + 1])
                if chains_get(tids_l[j]) is not None and w_l[j] > 0.0]
            fallback.append((qid, term_rows))
            continue
        r = len(chunk_qids)
        chunk_qids.append(qid)
        for scale, tid in terms:
            slot = chunk_terms.get(tid)
            if slot is None:
                slot = chunk_terms[tid] = ([], [])
            slot[0].append(r)
            slot[1].append(scale)
        if len(chunk_qids) >= R:
            flush()
    flush()
    for qid, term_rows in fallback:
        for doc, score in fast_topk(term_rows, k, mode, k1, b, avgdl,
                                    dl, cache=cache):
            out_q.append(qid)
            out_d.append(doc)
            out_s.append(score)
    return out_q, out_d, out_s, n_scored


# the broadcast slot-group scorer (ranges._score_range_broadcast) uses
# this batch implementation when the kernel advertises one — WAND keeps
# the per-query loop (its pruning is inherently per-query)
fast_topk.grouped_impl = _grouped_fast
# ranges.search_doc_partitioned scores a slice of a batch on the
# driver (no Spark job) when its matched postings — Σ df over the
# slice's (query, term) rows — are at most this: the grouped scorer
# still beat the Spark shape's fixed cost at ~1.9M postings (1,600
# questions); the bound keeps driver-side decoded postings to ~16 MB
fast_topk.driver_max_postings = 1_000_000


def search_fast(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    score_mode: str | None = None,
    strict: bool = False,
) -> DataFrame:
    """Same output contract (and rows) as search_exact / search_wand:
    ordered by (query_id, rank) within a slice of the batch (see
    ranges.search_doc_partitioned)."""
    from word2doc_spark.query.ranges import search_doc_partitioned
    return search_doc_partitioned(spark, index_dir, queries, k, score_mode,
                                  fast_topk, strict=strict)
