"""Block-max WAND top-k: document-at-a-time scoring with block skipping.

The reference scores every matching doc via a full sparse dot product
(tfidf_doc_ranker.py:62-63); WAND visits only docs whose term-upper-bound
sum can beat the running k-th score θ, and the *block-max* refinement
(Ding & Suel, SIGIR 2011 — public literature) skips whole compressed blocks
whose block-level bound cannot beat θ, without decoding them.

Distribution shape: doc ranges are the parallel axis (query/ranges.py) —
each range task runs one WAND instance per query over its local slice of
the matched segments (a term's segments chain into one cursor), keeps a
bounded heap of k candidates, and the global merge is exact. θ restarts
per range (slightly less pruning than a single global cursor, in exchange
for bounded tasks at any term df).

Upper bounds per block (monotone score contributions, §2.K):
* drqa : w_q · idf · ln(1+max_tf)                      (tight)
* bm25 : w_q · max_tf(k1+1)/(max_tf + k1(1−b))         (dl→0, conservative)

bm25 per-doc dl is served range-locally from the decoded doclen_seg blobs
— no driver-side N-row materialization and no broadcast that grows with
corpus size. The cursor looks a decoded block's dl up in ONE vectorized
call (``dl[docs]``, a SparseDL searchsorted over the whole block) and
caches it next to the block's docs and tfs, so scoring a posting reads a
list slot instead of running a numpy searchsorted per posting.
"""

from __future__ import annotations

import heapq
from bisect import bisect_left
from math import log1p

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from word2doc_spark.index.postings import block_directory, decode_block

# per-process pruning counters (reset_stats/get_stats) — lets tests and
# local drivers measure block-skip rates; per-executor, not aggregated
STATS = {"blocks_decoded": 0, "blocks_skipped": 0}


def reset_stats() -> None:
    STATS["blocks_decoded"] = 0
    STATS["blocks_skipped"] = 0


def get_stats() -> dict:
    return dict(STATS)


def _chain_key(payloads, ckey=None):
    """Content-stable identity of a segment chain for cache keys. The
    scoring wrappers thread an explicit key (term_id + first doc_lo from
    the same rows the payloads travel in); direct kernel callers fall
    back to the payload bytes objects themselves (dict equality = content
    equality). NEVER id(): a GC'd id can be reused by a different payload
    → silent wrong-chain cache hit."""
    if ckey is not None:
        return ckey
    return tuple(payloads)


def _chain_directory(payloads, cache: dict, ckey=None):
    """Parsed block directory of a segment chain, memoized per task —
    query-independent, and a batch's queries overlap heavily on hot
    terms, so each directory parse (one walk over every block header)
    runs once per task instead of once per query."""
    dkey = ("dir", _chain_key(payloads, ckey))
    entry = cache.get(dkey)
    if entry is None:
        seg_of, offs, lasts, prevs, maxtfs = [], [], [], [], []
        for si, payload in enumerate(payloads):
            o, _c, l, m = block_directory(payload)
            seg_of.append(np.full(len(o), si, dtype=np.int64))
            offs.append(o)
            lasts.append(l)
            # delta chains restart per segment: block j's decode base
            # is block j-1's last doc WITHIN the same segment, 0 at
            # the start
            p = np.zeros(len(o), dtype=np.uint64)
            p[1:] = l[:-1]
            prevs.append(p)
            maxtfs.append(m)
        entry = (dkey[1],
                 np.concatenate(seg_of).tolist(),
                 np.concatenate(offs).tolist(),
                 np.concatenate(lasts).tolist(),
                 np.concatenate(prevs).tolist(),
                 np.concatenate(maxtfs).astype(np.float64))
        cache[dkey] = entry
        charge = getattr(cache, "charge", None)
        if charge is not None:
            # 4 python-int lists + one float64 array per block
            charge(dkey, len(entry[2]) * (4 * 40 + 8))
    return entry


class _Cursor:
    """Lazy block-decoding posting cursor for one query term, chaining the
    term's doc-ascending disjoint segments into one logical list.

    Hot-path state lives in plain python lists (directory arrays, decoded
    block contents): the pivot loop touches one element at a time, where
    list indexing + bisect run ~20× faster than numpy scalar indexing /
    np scalar ufuncs (the r3 kernel spent most of its wall in exactly
    those per-element numpy calls)."""

    __slots__ = ("payloads", "ckey", "seg_of", "offs", "lasts", "prevs",
                 "block_ubs", "ub", "w", "idf", "bi", "docs", "tfs", "dls",
                 "pos", "exhausted", "_nblocks", "cache", "dl")

    def __init__(self, payloads, w: float, idf: float, block_ub_fn,
                 cache: dict, ckey=None, dl=None) -> None:
        if isinstance(payloads, (bytes, bytearray)):
            payloads = [payloads]
        self.payloads = payloads
        self.cache = cache
        self.ckey, self.seg_of, self.offs, self.lasts, self.prevs, \
            maxtfs_arr = _chain_directory(payloads, cache, ckey)
        self._nblocks = len(self.offs)
        # block upper bounds depend only on (chain, w, idf) — shared by
        # every query using this term with the same query-side tf
        ukey = ("ubs", self.ckey, w, idf)
        got = cache.get(ukey)
        if got is None:
            ubs = block_ub_fn(maxtfs_arr)
            got = (float(ubs.max()), ubs.tolist())
            cache[ukey] = got
            charge = getattr(cache, "charge", None)
            if charge is not None:
                charge(ukey, len(got[1]) * 40)
        self.ub, self.block_ubs = got
        self.w = w
        self.idf = idf
        self.bi = -1
        self.docs = None
        self.tfs = None
        # per-block doc lengths, loaded with each block when dl is given
        # (bm25 only)
        self.dl = dl
        self.dls = None
        self.pos = 0
        self.exhausted = False
        self._load_block(0)

    def _load_block(self, bi: int) -> None:
        if bi >= self._nblocks:
            self.exhausted = True
            return
        payload = self.payloads[self.seg_of[bi]]
        # block index within the chain directory is stable for a given
        # chain content — content-keyed, unlike the old id(payload)
        bkey = ("blk", self.ckey, bi)
        got = self.cache.get(bkey)
        charge = getattr(self.cache, "charge", None)
        docs = None
        if got is None:
            docs, tfs = decode_block(payload, self.offs[bi],
                                     self.prevs[bi])
            got = (docs.tolist(), tfs.tolist())
            self.cache[bkey] = got
            if charge is not None:
                # two boxed-python-int lists (~40 B per element incl.
                # list slot) — several times the payload bytes, which is
                # exactly why the task cache is byte-budgeted
                charge(bkey, len(got[0]) * 80)
            STATS["blocks_decoded"] += 1
        self.docs, self.tfs = got
        if self.dl is not None:
            # the block's doc lengths in one vectorized lookup, under
            # their own key: a drqa call sharing the cache leaves no
            # dl-less entry behind. A doc missing from a SparseDL raises
            # KeyError here.
            lkey = ("bdl", self.ckey, bi)
            dls = self.cache.get(lkey)
            if dls is None:
                docs = np.array(self.docs, dtype=np.int64) if docs is None \
                    else docs.astype(np.int64)
                dls = np.asarray(self.dl[docs], dtype=np.float64).tolist()
                self.cache[lkey] = dls
                if charge is not None:
                    charge(lkey, len(dls) * 40)
            self.dls = dls
        self.bi = bi
        self.pos = 0

    @property
    def cur_doc(self) -> int:
        return self.docs[self.pos]

    @property
    def cur_block_ub(self) -> float:
        return self.block_ubs[self.bi]

    def block_last(self) -> int:
        return self.lasts[self.bi]

    def seek_block(self, target: int) -> None:
        """Advance block pointer (without decoding) until block may contain
        target; decodes only the landing block. The directory is globally
        doc-ascending, so the scan is one bisect."""
        if self.exhausted:
            return
        bi = bisect_left(self.lasts, target, self.bi)
        if bi >= self._nblocks:
            STATS["blocks_skipped"] += self._nblocks - self.bi - 1
            self.exhausted = True
        elif bi != self.bi:
            STATS["blocks_skipped"] += bi - self.bi - 1
            self._load_block(bi)

    def seek(self, target: int) -> None:
        """Advance to first doc >= target."""
        self.seek_block(target)
        if self.exhausted:
            return
        if self.docs[self.pos] < target:
            pos = bisect_left(self.docs, target, self.pos)
            if pos >= len(self.docs):  # cannot happen: block_last >= target
                pos = len(self.docs) - 1
            self.pos = pos

    def advance(self) -> None:
        self.pos += 1
        if self.pos >= len(self.docs):
            self._load_block(self.bi + 1)


def wand_topk(
    term_rows,
    k: int,
    mode: str,
    k1: float,
    b: float,
    avgdl: float,
    dl,
    cache: dict | None = None,
) -> list[tuple[int, float]]:
    """One query's exact top-k via block-max WAND.

    term_rows: (w_q, idf, payload-or-[payloads]) per matched term; dl is a
    dense array, SparseDL, or None. Returns [(doc_id, score)] ordered by
    (score desc, doc_id asc).

    cache: optional per-TASK dict shared across a batch's queries —
    parsed block directories, decoded blocks and (bm25) their doc
    lengths are query-independent, so hot terms decode once per task
    instead of once per query. Keys are content-stable (see _chain_key),
    so one cache serves drqa and bm25 calls alike, but it must not
    outlive one index: a block's cached doc lengths are those of the dl
    it was first loaded with. A TaskCache (query/kcache.py) byte-bounds
    the cached entries per task.
    """
    if cache is None:
        cache = {}
    cursors: list[_Cursor] = []
    for row in term_rows:
        w, idf, payload = row[0], row[1], row[2]
        if w <= 0.0:
            continue
        if mode == "drqa":
            ub_fn = lambda mx, w=w, idf=idf: w * idf * np.log1p(mx)
        else:
            ub_fn = lambda mx, w=w: w * (mx * (k1 + 1.0)) / (
                mx + k1 * (1.0 - b))
        cursors.append(_Cursor(payload, w, idf, ub_fn, cache,
                               ckey=row[3] if len(row) > 3 else None,
                               dl=dl if mode == "bm25" else None))
    cursors = [c for c in cursors if not c.exhausted]
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap of top-k
    # below every score (a matched term can contribute 0): each doc is
    # a candidate until the heap holds k
    theta = -1.0

    def score_at(c: _Cursor) -> float:
        tf = c.tfs[c.pos]
        if mode == "drqa":
            return c.w * c.idf * log1p(tf)
        d = c.dls[c.pos] if dl is not None else avgdl
        return c.w * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * d / avgdl))

    while True:
        cursors = [c for c in cursors if not c.exhausted]
        if not cursors:
            break
        cursors.sort(key=lambda c: c.cur_doc)
        # find pivot: first prefix whose ub sum beats θ
        acc = 0.0
        pivot_idx = -1
        for i, c in enumerate(cursors):
            acc += c.ub
            if acc > theta:
                pivot_idx = i
                break
        if pivot_idx < 0:
            break  # no prefix can beat θ — done
        pivot_doc = cursors[pivot_idx].cur_doc
        if cursors[0].cur_doc == pivot_doc:
            # extend the prefix over ALL cursors parked at pivot_doc — they
            # contribute to it and to the skipped region just past it
            ext = pivot_idx
            while ext + 1 < len(cursors) and cursors[ext + 1].cur_doc == pivot_doc:
                ext += 1
            # block-max shallow check before full evaluation
            block_acc = 0.0
            for c in cursors[:ext + 1]:
                c.seek_block(pivot_doc)
                if not c.exhausted:
                    block_acc += c.cur_block_ub
            if block_acc <= theta:
                # skip to the earliest block boundary past pivot, capped by
                # the next cursor's doc (terms beyond the extended prefix
                # could contribute to docs in between — don't skip them)
                nxt = min((c.block_last() for c in cursors[:ext + 1]
                           if not c.exhausted), default=pivot_doc) + 1
                if ext + 1 < len(cursors):
                    nxt = min(nxt, cursors[ext + 1].cur_doc)
                nxt = max(nxt, pivot_doc + 1)
                for c in cursors[:ext + 1]:
                    if not c.exhausted and c.cur_doc < nxt:
                        c.seek(nxt)
                continue
            score = 0.0
            for c in cursors:
                if c.exhausted:
                    continue
                if c.cur_doc == pivot_doc:
                    score += score_at(c)
                    c.advance()
                elif c.cur_doc > pivot_doc:
                    break
            if len(heap) < k:
                heapq.heappush(heap, (score, -pivot_doc))
                if len(heap) == k:
                    theta = heap[0][0]
            elif score > theta:
                heapq.heapreplace(heap, (score, -pivot_doc))
                theta = heap[0][0]
        else:
            # advance all pre-pivot cursors to the pivot doc
            for c in cursors[:pivot_idx]:
                if c.cur_doc < pivot_doc:
                    c.seek(pivot_doc)
    out = [(-nd, s) for s, nd in heap]
    out.sort(key=lambda t: (-t[1], t[0]))
    return out


# driver-shape size rule (see fast_topk.driver_max_postings): with the
# per-block dl lookup, WAND's per-query python loop breaks even with the
# Spark shape between 308k and 367k matched postings. Warm bm25 batches
# of the perfbench seed-61 corpus (3,000 pages, hash 2^22, 8 shards),
# local[4], 4 shuffle partitions, wall incl. probe, median of 5
# interleaved reps, driver vs Spark:
#   questions  postings  driver  Spark
#           1     1,201  0.25 s  0.65 s
#          50    64,860  0.41 s  0.76 s
#         100   124,571  0.52 s  0.81 s
#         200   245,894  0.72 s  0.84 s
#         250   307,607  0.90 s  1.08 s
#         300   367,072  1.22 s  0.94 s
#         400   488,544  1.25 s  1.10 s
#         800   970,825  1.96 s  1.22 s
#       1,600 1,934,901  3.40 s  2.02 s
wand_topk.driver_max_postings = 300_000


def search_wand(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    score_mode: str | None = None,
    strict: bool = False,
) -> DataFrame:
    """→ (query_id, rank, doc_id, url, score); identical output contract
    (and, by differential test, identical rows) to ``search_exact``,
    ordered by (query_id, rank) within a slice of the batch (see
    ranges.search_doc_partitioned).

    A ``queries`` frame built from a pyarrow.Table skips the analysis
    probe; a list-built one, and by default a pandas-built one, pays it
    (see search_exact)."""
    from word2doc_spark.query.ranges import search_doc_partitioned
    return search_doc_partitioned(spark, index_dir, queries, k, score_mode,
                                  wand_topk, strict=strict)
