"""Vectorized fast path must be identical to exact and WAND paths."""

import math

import numpy as np
import pytest

from word2doc_spark.index.postings import encode_postings
from word2doc_spark.query.fast import fast_topk
from word2doc_spark.query.wand import wand_topk


@pytest.mark.parametrize("mode", ["drqa", "bm25"])
@pytest.mark.parametrize("seed", range(10))
def test_fast_matches_wand_random(mode, seed):
    rng = np.random.default_rng(seed + 100)
    n_docs = 4000
    dl = rng.integers(10, 300, size=n_docs).astype(np.uint32)
    avgdl = float(dl.mean())
    term_rows = []
    for _ in range(int(rng.integers(2, 6))):
        n_post = int(rng.integers(1, 1200))
        docs = np.sort(rng.choice(n_docs, size=n_post,
                                  replace=False)).astype(np.uint64)
        tfs = rng.integers(1, 15, size=n_post).astype(np.uint64)
        term_rows.append((float(rng.uniform(0.1, 3.0)),
                          float(rng.uniform(0.1, 5.0)),
                          encode_postings(docs, tfs, block_size=64)))
    dla = dl if mode == "bm25" else None
    for k in (1, 10, 50):
        a = fast_topk(term_rows, k, mode, 1.2, 0.75, avgdl, dla)
        b = wand_topk(term_rows, k, mode, 1.2, 0.75, avgdl, dla)
        assert [d for d, _ in a] == [d for d, _ in b], (mode, seed, k)
        for (d1, s1), (d2, s2) in zip(a, b):
            assert math.isclose(s1, s2, rel_tol=1e-9)


def test_fast_boundary_ties():
    # two docs with identical scores straddling the k boundary: the
    # smaller doc_id must win
    docs = np.array([5, 9], dtype=np.uint64)
    tfs = np.array([2, 2], dtype=np.uint64)
    rows = [(1.0, 1.0, encode_postings(docs, tfs))]
    top = fast_topk(rows, 1, "drqa", 1.2, 0.75, 10.0, None)
    assert len(top) == 1 and top[0][0] == 5


def test_fast_spark_differential(spark, tmp_path, scoring_gate):
    from word2doc_spark.config import IndexConfig
    from word2doc_spark.index.build import build_index
    from word2doc_spark.query.exact import search_exact
    from word2doc_spark.query.fast import search_fast
    from word2doc_spark.sources.pages import synthetic_pages

    cfg = IndexConfig(hash_size=2 ** 18, num_shards=4, block_size=64)
    idx = str(tmp_path / "idx")
    build_index(spark, synthetic_pages(spark, 150, num_partitions=4),
                idx, cfg, input_token="fast")
    qdf = spark.createDataFrame(
        [(1, "spark shuffle partition"), (2, "café naïve"),
         (3, "posting wand block heap"), (4, "webscale crawl")],
        "query_id long, query string")
    key = lambda r: (r["query_id"], r["rank"])
    for mode in ("drqa", "bm25"):
        a = search_exact(spark, idx, qdf, k=10, score_mode=mode).collect()
        a.sort(key=key)
        for on in (True, False):  # driver shape, then Spark shape
            scoring_gate(on)
            b = search_fast(spark, idx, qdf, k=10,
                            score_mode=mode).collect()
            b.sort(key=key)
            assert [(r["query_id"], r["rank"], r["doc_id"]) for r in a] \
                == [(r["query_id"], r["rank"], r["doc_id"]) for r in b], on
            for x, y in zip(a, b):
                assert math.isclose(x["score"], y["score"], rel_tol=1e-9)


def test_pack_candidates_overflow_guard():
    """doc_ids beyond exact float64 range must fail loudly, never pack."""
    import pytest as _pytest
    from word2doc_spark.query.ranges import _pack_candidates

    ok = _pack_candidates([1, 2], [10 ** 12, (1 << 53) - 1], [0.5, 0.25],
                          n_qb=8)
    assert len(ok) == 2  # two distinct qb buckets
    with _pytest.raises(OverflowError):
        _pack_candidates([1], [1 << 53], [0.5], n_qb=8)


def test_pack_merge_roundtrip_semantics():
    """Packed triples decode back exactly, and the merge's lexsort order
    matches the window semantics (score desc, doc_id asc) incl. ties."""
    import numpy as np
    from word2doc_spark.query.ranges import _pack_candidates

    q = [7, 7, 7, 8]
    d = [5, 3, 9, 1]
    s = [1.5, 2.5, 2.5, 0.5]
    pdf = _pack_candidates(q, d, s, n_qb=4)
    a = np.concatenate([np.frombuffer(b, dtype=np.float64).reshape(-1, 3)
                        for b in pdf["blob"]])
    assert sorted(map(tuple, a.tolist())) == sorted(
        [(7.0, 5.0, 1.5), (7.0, 3.0, 2.5), (7.0, 9.0, 2.5),
         (8.0, 1.0, 0.5)])
    order = np.lexsort((a[:, 1], -a[:, 2], a[:, 0]))
    got = [tuple(map(float, a[i])) for i in order]
    # query 7: score 2.5 doc 3, score 2.5 doc 9 (tie -> doc asc), 1.5 doc 5
    assert got == [(7.0, 3.0, 2.5), (7.0, 9.0, 2.5), (7.0, 5.0, 1.5),
                   (8.0, 1.0, 0.5)]


def _grouped_pack(rng, tids, idf_map, n_q=200):
    """A _wqt_groups-shaped pack of random multi-term queries."""
    qids, offs, tl, wl, il = [], [0], [], [], []
    for q in range(n_q):
        hi = min(5, len(tids) + 1)
        terms = sorted(rng.choice(tids, size=int(rng.integers(1, hi)),
                                  replace=False))
        qids.append(q)
        for t in terms:
            tl.append(int(t))
            wl.append(float(np.log1p(int(rng.integers(1, 3)))))
            il.append(idf_map[int(t)])
        offs.append(len(tl))
    return qids, offs, tl, wl, il


@pytest.mark.parametrize("mode", ["drqa", "bm25"])
def test_grouped_fast_matches_per_query(mode):
    """_grouped_fast (chunked bincount scorer) must emit the same docs
    and rank order as per-query fast_topk with scores within the last
    ulp (reduceat reduces pairwise, bincount sequentially), including
    multi-segment chains and the idf=0 zero-scale fallback."""
    _check_grouped_vs_per_query(mode)


@pytest.mark.parametrize("base,per_posting", [(0, 1), (-10 ** 9, 1)])
def test_grouped_fast_sparse_rule_matches_per_query(monkeypatch, base,
                                                    per_posting):
    """Queries the dense-vs-sparse rule sends to fast_topk inside a
    grouped task — some of them (a low base), or all — score exactly as
    the per-query reference, next to dense-path queries of the same
    task."""
    from word2doc_spark.query import fast as FM
    monkeypatch.setattr(FM, "_SPARSE_ACTIVE_BASE", base)
    monkeypatch.setattr(FM, "_SPARSE_ACTIVE_PER_POSTING", per_posting)
    for mode in ("drqa", "bm25"):
        _check_grouped_vs_per_query(mode)


def _check_grouped_vs_per_query(mode):
    from word2doc_spark.query.fast import _grouped_fast
    from word2doc_spark.query.kcache import TaskCache

    rng = np.random.default_rng(11)
    n_docs, base = 4000, 100_000

    def make_chain(df, seed, n_seg):
        r = np.random.default_rng(seed)
        docs = np.sort(r.choice(n_docs, size=df,
                                replace=False)).astype(np.uint64) + base
        tfs = r.integers(1, 30, size=df).astype(np.uint64)
        cuts = np.linspace(0, df, n_seg + 1).astype(int)
        return [encode_postings(docs[a:b], tfs[a:b])
                for a, b in zip(cuts, cuts[1:]) if b > a]

    tids = list(range(1, 13))
    chains = {t: make_chain(int(rng.integers(50, 1200)), 100 + t,
                            3 if t % 4 == 0 else 1) for t in tids}
    # term 5 idf=0: drqa queries holding it take the zero-scale fallback
    idf_map = {t: (0.0 if t == 5 else float(rng.uniform(0.2, 5)))
               for t in tids}
    qids, offs, tl, wl, il = _grouped_pack(rng, tids, idf_map)
    dl = None
    if mode == "bm25":
        dlv = np.full(2 * base, 120.0)
        dlv[base:base + n_docs] = rng.integers(40, 400, n_docs)
        dl = dlv
    for k in (1, 10):
        oq, od, os_, ns = _grouped_fast(
            qids, offs, tl, wl, il, chains, dl,
            k, mode, 1.2, 0.75, 130.0, TaskCache())
        got: dict = {}
        for q, d, s in zip(oq, od, os_):
            got.setdefault(q, []).append((d, s))
        cache = TaskCache()
        n_ref = 0
        for i, q in enumerate(qids):
            term_rows = [(wl[j], il[j], chains[tl[j]], tl[j])
                         for j in range(offs[i], offs[i + 1])]
            ref = fast_topk(term_rows, k, mode, 1.2, 0.75, 130.0, dl,
                            cache=cache)
            n_ref += 1
            g = got.get(q, [])
            assert [d for d, _ in g] == [d for d, _ in ref], (mode, k, q)
            for (_, gs), (_, rs) in zip(g, ref):
                assert math.isclose(gs, rs, rel_tol=1e-12, abs_tol=0.0)
        assert ns == n_ref

