"""End-to-end: Spark build + exact query vs the numpy oracle.

Rank-identity contract: top-k (doc_id, url) sequences identical, scores
equal within 1e-9 (float64, different accumulation order).
"""

import math

import pytest

from word2doc_spark.config import IndexConfig
from word2doc_spark.functions.extract import extract_text
from word2doc_spark.index.build import build_index
from word2doc_spark.oracle import build_oracle_index, oracle_search
from word2doc_spark.query.exact import search_exact
from word2doc_spark.query.fast import search_fast
from word2doc_spark.query.wand import search_wand
from word2doc_spark.sources.pages import synthetic_pages, synthetic_pages_rows

N_DOCS = 240
# hash_size small enough to force real collisions, like the unit goldens
CFG = IndexConfig(hash_size=2 ** 18, num_shards=8, block_size=64,
                  n_ranges=6, max_seg_postings=64)

QUERIES = [
    (1, "spark shuffle partition"),
    (2, "posting wand block"),
    (3, "café naïve résumé"),
    (4, "crawl warc fetch html"),
    (5, "hash bucket collision idf"),
    (6, "the of and a is"),              # stopwords only → no results
    (7, "webscale"),                      # planted head term (df > N/2 → idf 0)
    (8, "spark spark shuffle shuffle shuffle"),  # qtf > 1
    (9, "tungsten codegen"),
    (10, "frontier dedup charset robots"),
]


def _oracle_docs():
    """(url, text) exactly as the engine sees them: text ?? extract(html)."""
    out = []
    for url, _ts, html, text, _lang in synthetic_pages_rows(N_DOCS, seed=42):
        t = text if text else extract_text(html)
        if t:
            out.append((url, t))
    return out


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("index"))
    pages = synthetic_pages(spark, N_DOCS, num_partitions=6)
    metrics = build_index(spark, pages, index_dir, CFG, input_token="e2e")
    return index_dir, metrics


@pytest.fixture(scope="module")
def oracle_idx():
    return build_oracle_index(_oracle_docs(), CFG)


def test_build_metrics(built):
    _, metrics = built
    assert metrics["n_docs"] == N_DOCS
    assert metrics["n_postings"] > 0
    assert metrics["avgdl"] > 0


def test_corpus_stats_match_oracle(built, oracle_idx):
    _, metrics = built
    assert metrics["n_docs"] == oracle_idx.n_docs
    assert metrics["n_terms"] == len(oracle_idx.postings)
    assert metrics["n_postings"] == sum(
        arr.shape[1] for arr in oracle_idx.postings.values())
    assert math.isclose(metrics["avgdl"], oracle_idx.avgdl, rel_tol=1e-12)


def _assert_rank_identical(spark, index_dir, oracle_idx, mode, gate,
                           k=10):
    """Exact, fast and WAND, each in both the driver and the Spark shape,
    against the oracle."""
    qdf = spark.createDataFrame(QUERIES, "query_id long, query string")
    oracle_idx.config = IndexConfig(**{**CFG.to_dict(), "score_mode": mode,
                                       "extras": {}})
    wants = {qid: oracle_search(oracle_idx, qtext, k=k)
             for qid, qtext in QUERIES}
    runs = [(fn, on) for fn in (search_exact, search_fast, search_wand)
            for on in (True, False)]
    for fn, on in runs:
        gate(on)
        got = fn(spark, index_dir, qdf, k=k, score_mode=mode).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(r)
        for qid, qtext in QUERIES:
            want = wants[qid]
            rows = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
            assert len(rows) == len(want), (fn.__name__, on, qid, qtext,
                                            len(rows), len(want))
            for row, (doc_id, url, score) in zip(rows, want):
                assert row["doc_id"] == doc_id, (fn.__name__, on, qid, row)
                assert row["url"] == url
                assert math.isclose(row["score"], score, rel_tol=1e-9,
                                    abs_tol=1e-12)


def test_drqa_rank_identity(spark, built, oracle_idx, scoring_gate):
    _assert_rank_identical(spark, built[0], oracle_idx, "drqa",
                           scoring_gate)


def test_bm25_rank_identity(spark, built, oracle_idx, scoring_gate):
    _assert_rank_identical(spark, built[0], oracle_idx, "bm25",
                           scoring_gate)


@pytest.mark.parametrize("mode", ["drqa", "bm25"])
def test_exact_driver_shape_is_independent(spark, built, oracle_idx, mode,
                                           monkeypatch, scoring_gate):
    """The exact driver shape is the reference fast and WAND are checked
    against, so it must not score through their kernels: with fast_topk,
    its grouped scorer, wand_topk and the range scorer all raising, a
    driver-shape search_exact still returns the oracle's rows."""
    from word2doc_spark.query import fast, ranges, wand

    def boom(*a, **kw):
        raise AssertionError("exact called a fast/WAND kernel")

    for mod, name in ((fast, "fast_topk"), (fast, "_grouped_fast"),
                      (wand, "wand_topk"),
                      (ranges, "_score_range_broadcast")):
        monkeypatch.setattr(mod, name, boom)
    scoring_gate(True)
    qdf = spark.createDataFrame(QUERIES, "query_id long, query string")
    res = search_exact(spark, built[0], qdf, k=10, score_mode=mode)
    assert res.isLocal()
    oracle_idx.config = IndexConfig(**{**CFG.to_dict(), "score_mode": mode,
                                       "extras": {}})
    got = _keyed(res.collect())
    want = sorted((qid, rank, doc_id, score) for qid, qtext in QUERIES
                  for rank, (doc_id, _url, score) in
                  enumerate(oracle_search(oracle_idx, qtext, k=10), 1))
    assert got
    _assert_same_rows(got, want)


def test_extraction_byte_identity(spark, built):
    """Per-row invariant: Spark-extracted text == oracle extractor, per url."""
    import pyspark.sql.functions as F
    from word2doc_spark.index.analyze import extracted_docs

    pages = synthetic_pages(spark, 60, num_partitions=4)
    got = {r["url"]: r["text"]
           for r in extracted_docs(pages).collect()}
    for url, _ts, html, text, _lang in synthetic_pages_rows(60, seed=42):
        want = text if text else extract_text(html)
        if want:
            assert got[url].encode() == want.encode(), url
        else:
            assert url not in got


def test_sparse_dl_guard():
    """SparseDL raises loudly on doc_ids absent from the dl blobs instead
    of silently returning a neighbor's dl (ADVICE r2)."""
    import numpy as np
    import pytest
    from word2doc_spark.query.ranges import SparseDL

    dl = SparseDL(np.array([2, 5, 9]), np.array([10.0, 20.0, 30.0]))
    assert dl[5] == 20.0
    assert list(dl[np.array([2, 9])]) == [10.0, 30.0]
    with pytest.raises(KeyError):
        dl[4]
    with pytest.raises(KeyError):
        dl[11]
    with pytest.raises(KeyError):
        dl[np.array([2, 4])]
    with pytest.raises(KeyError):
        dl[np.array([9, 11])]


@pytest.mark.parametrize("mode", ["drqa", "bm25"])
def test_expand_postings_decodes_each_payload_once(mode, monkeypatch):
    """expand_postings expands each row over its segment's postings in
    row order — the per-row loop it replaced — and decodes a payload
    shared by several rows once."""
    import numpy as np
    from word2doc_spark.index.postings import (decode_postings,
                                               encode_postings)
    from word2doc_spark.query import exact

    payloads = [encode_postings(np.array([3, 7, 40]), np.array([1, 2, 5]),
                                block_size=2),
                encode_postings(np.array([9]), np.array([4]))]
    seg_ix = np.array([0, 1, 0])
    qid = np.array([10, 10, 11])
    w = np.array([0.5, 1.5, 2.0])
    idf = np.array([1.25, 3.0, 1.25])
    calls = []

    def counted(p):
        calls.append(p)
        return decode_postings(p)
    monkeypatch.setattr(exact, "decode_postings", counted)
    got = exact.expand_postings(payloads, seg_ix, qid, w, idf, mode)
    assert len(calls) == 2
    want = {c: [] for c in got}
    for i, s in enumerate(seg_ix):
        docs, tfs = decode_postings(payloads[s])
        tfs = tfs.astype(np.float64)
        want["query_id"] += [qid[i]] * docs.size
        want["doc_id"] += docs.tolist()
        if mode == "drqa":
            want["contrib"] += (w[i] * idf[i] * np.log1p(tfs)).tolist()
        else:
            want["w"] += [w[i]] * docs.size
            want["tf"] += tfs.tolist()
    assert {c: v.tolist() for c, v in got.items()} == want


def _keyed(res):
    return sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                  for r in res)


def _assert_same_rows(got, want):
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert math.isclose(g[3], w[3], rel_tol=1e-9, abs_tol=1e-12)


@pytest.mark.parametrize("mode", ["drqa", "bm25"])
def test_distributed_analysis_identity(spark, built, mode, slicing,
                                       scoring_gate):
    """A batch past the driver-analysis bound is analyzed executor-side
    and scored in slices: the same rows (scores within 1e-9) as the
    default driver-analyzed path on all three search surfaces, with fast
    and WAND slices in both shapes, in both score modes. The query ids
    are strided — every id is ≡ 0 mod the slice count — so a raw
    pmod(query_id, n) slice key would put the whole batch in one slice;
    the hashed key must spread it over several."""
    from word2doc_spark.index.manifest import Manifest
    from word2doc_spark.query.exact import prepare_weighted_terms

    built, _ = built
    n_slices = 5
    qdf = spark.createDataFrame(
        [(qid * n_slices, q) for qid, q in QUERIES],
        "query_id long, query string")
    searches = (search_exact, search_fast, search_wand)
    want = {fn.__name__: _keyed(fn(spark, built, qdf, k=5,
                                   score_mode=mode).collect())
            for fn in searches}
    assert all(want.values())

    slicing(-(-len(QUERIES) // n_slices))
    config, stats = Manifest(built).load()
    slices = prepare_weighted_terms(spark, built, qdf, config,
                                    int(stats["n_docs"]), False)
    assert len(slices) >= 2
    qids = [set(s["query_id"]) for s in slices]
    assert sum(map(len, qids)) == len(set().union(*qids))
    for on in (True, False):
        scoring_gate(on)
        for fn in searches:
            got = _keyed(fn(spark, built, qdf, k=5,
                            score_mode=mode).collect())
            _assert_same_rows(got, want[fn.__name__])


def test_distributed_strict_raises(spark, built, slicing):
    """strict=True on a sliced batch raises for a stopword-only query,
    and the analyzed batch it persisted for the check is released."""
    import gc

    built, _ = built

    def n_persisted():
        gc.collect()
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    qdf = spark.createDataFrame(
        [(1, "spark shuffle"), (2, "the and of"),  # q2: stopwords only
         (3, "crawl warc html")],
        "query_id long, query string")
    before = n_persisted()
    slicing(1)
    with pytest.raises(RuntimeError, match="No valid word"):
        search_fast(spark, built, qdf, k=5, strict=True).collect()
    assert n_persisted() == before


def test_auto_n_ranges():
    from word2doc_spark.config import IndexConfig
    from word2doc_spark.index.build import resolve_n_ranges

    assert resolve_n_ranges(IndexConfig(n_ranges=64), 10 ** 9) == 64
    auto = IndexConfig(n_ranges=0)
    assert resolve_n_ranges(auto, 500_000) == 32
    assert resolve_n_ranges(auto, 10 ** 12) == 31250
    assert resolve_n_ranges(auto, 0) == 32


@pytest.mark.parametrize("mode", ["drqa", "bm25"])
def test_packed_candidate_merge_identity(spark, built, mode, monkeypatch,
                                        scoring_gate):
    """Force the big-batch packed-candidate merge (blobs + vectorized
    top-k) and assert row/score identity with the exact path — tiny
    test batches otherwise take the rows+window bypass (and the driver
    shape, which has no merge at all)."""
    import math
    import word2doc_spark.query.ranges as R
    from word2doc_spark.query.exact import search_exact
    from word2doc_spark.query.fast import search_fast
    from word2doc_spark.query.wand import search_wand

    index_dir, _ = built
    qdf = spark.createDataFrame(QUERIES, "query_id long, query string")
    exact = search_exact(spark, index_dir, qdf, k=7,
                         score_mode=mode).collect()
    monkeypatch.setattr(R, "_PACK_MIN_CANDIDATES", 0)
    scoring_gate(False)
    packed_fast = search_fast(spark, index_dir, qdf, k=7,
                              score_mode=mode).collect()
    packed_wand = search_wand(spark, index_dir, qdf, k=7,
                              score_mode=mode).collect()
    key = lambda r: (r["query_id"], r["rank"])
    for got in (packed_fast, packed_wand):
        assert sorted(map(key, got)) == sorted(map(key, exact))
        for a, b in zip(sorted(got, key=key), sorted(exact, key=key)):
            assert (a["doc_id"], a["url"]) == (b["doc_id"], b["url"])
            assert math.isclose(a["score"], b["score"], rel_tol=1e-9,
                                abs_tol=1e-12)
