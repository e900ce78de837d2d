"""Block-max WAND must emit IDENTICAL top-k to the exact path (M6 gate).

Also unit-tests wand_topk directly against a brute-force scorer on random
posting sets (no Spark in the loop → many more cases).
"""

import math

import numpy as np
import pytest

from word2doc_spark.config import IndexConfig
from word2doc_spark.index.build import build_index
from word2doc_spark.index.postings import decode_postings, encode_postings
from word2doc_spark.query.exact import search_exact
from word2doc_spark.query.ranges import SparseDL
from word2doc_spark.query.wand import search_wand, wand_topk
from word2doc_spark.sources.pages import synthetic_pages

CFG = IndexConfig(hash_size=2 ** 18, num_shards=8, block_size=64)

QUERIES = [
    (1, "spark shuffle partition"),
    (2, "posting wand block heap"),
    (3, "café naïve résumé"),
    (4, "crawl warc fetch html parser"),
    (5, "hash bucket collision idf tfidf"),
    (6, "webscale crawl"),
    (7, "spark spark shuffle shuffle shuffle"),
    (8, "tungsten codegen arrow dataframe broadcast"),
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("wandidx"))
    pages = synthetic_pages(spark, 300, num_partitions=6)
    build_index(spark, pages, index_dir, CFG, input_token="wand")
    return index_dir


@pytest.mark.parametrize("mode", ["drqa", "bm25"])
@pytest.mark.parametrize("k", [5, 10])
def test_wand_identical_to_exact(spark, built, mode, k, scoring_gate):
    qdf = spark.createDataFrame(QUERIES, "query_id long, query string")
    exact = search_exact(spark, built, qdf, k=k, score_mode=mode).collect()
    key = lambda r: (r["query_id"], r["rank"])
    exact.sort(key=key)
    for on in (True, False):  # driver shape, then Spark shape
        scoring_gate(on)
        fast = search_wand(spark, built, qdf, k=k,
                           score_mode=mode).collect()
        fast.sort(key=key)
        assert len(exact) == len(fast), on
        for a, b in zip(exact, fast):
            assert (a["query_id"], a["rank"], a["doc_id"], a["url"]) == \
                   (b["query_id"], b["rank"], b["doc_id"], b["url"]), on
            assert math.isclose(a["score"], b["score"], rel_tol=1e-9,
                                abs_tol=1e-12)


# ---------------------------------------------------------------------------
# pure-python wand_topk vs brute force on synthetic posting lists
# ---------------------------------------------------------------------------

def _brute(term_rows, k, mode, k1, b, avgdl, dl):
    from word2doc_spark.index.postings import decode_postings
    scores = {}
    for w, idf, payload in term_rows:
        if w <= 0:
            continue
        docs, tfs = decode_postings(payload)
        for d, tf in zip(docs.tolist(), tfs.tolist()):
            if mode == "drqa":
                s = w * idf * math.log1p(tf)
            else:
                dld = float(dl[d]) if dl is not None else avgdl
                s = w * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dld / avgdl))
            scores[d] = scores.get(d, 0.0) + s
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return ranked


def _random_rows(rng, n_docs):
    term_rows = []
    for _ in range(rng.integers(2, 7)):
        n_post = int(rng.integers(1, 1500))
        docs = np.sort(rng.choice(n_docs, size=n_post, replace=False)).astype(np.uint64)
        tfs = rng.integers(1, 20, size=n_post).astype(np.uint64)
        payload = encode_postings(docs, tfs, block_size=32)
        w = float(rng.uniform(0.1, 3.0))
        idf = float(rng.uniform(0.1, 5.0))
        term_rows.append((w, idf, payload))
    return term_rows


def _sparse(dl):
    """The SparseDL the range tasks score with, over the same values."""
    return SparseDL(np.arange(len(dl), dtype=np.int64),
                    dl.astype(np.float64))


def _assert_rows(got, want, *ctx):
    assert [d for d, _ in got] == [d for d, _ in want], ctx
    for (_, s1), (_, s2) in zip(got, want):
        assert math.isclose(s1, s2, rel_tol=1e-9), ctx


class _CountingDL:
    def __init__(self, dl):
        self.dl, self.calls = dl, 0

    def __getitem__(self, key):
        self.calls += 1
        return self.dl[key]


@pytest.mark.parametrize("mode", ["drqa", "bm25"])
@pytest.mark.parametrize("seed", range(8))
def test_wand_topk_random(mode, seed):
    """bm25 runs over a dense dl array and over a SparseDL of the same
    values (the range tasks' dl), both against brute force; the SparseDL
    is looked up once per decoded block, not once per scored posting."""
    from word2doc_spark.query import wand as W

    rng = np.random.default_rng(seed)
    n_docs = 5000
    dl = rng.integers(10, 300, size=n_docs).astype(np.uint32)
    avgdl = float(dl.mean())
    term_rows = _random_rows(rng, n_docs)
    counting = _CountingDL(_sparse(dl))
    dls = (dl, counting) if mode == "bm25" else (None,)
    for k in (1, 10, 100):
        want = _brute(term_rows, k, mode, 1.2, 0.75, avgdl,
                      dl if mode == "bm25" else None)
        for dlv in dls:
            W.reset_stats()
            counting.calls = 0
            got = wand_topk(term_rows, k, mode, 1.2, 0.75, avgdl, dlv)
            _assert_rows(got, want, mode, seed, k, type(dlv).__name__)
            if dlv is counting:
                assert 0 < counting.calls <= W.get_stats()["blocks_decoded"]


def test_wand_topk_missing_dl_raises():
    """A doc absent from a SparseDL fails loudly, never scores with a
    neighbour's dl."""
    rng = np.random.default_rng(5)
    n_docs = 5000
    dl = rng.integers(10, 300, size=n_docs).astype(np.uint32)
    term_rows = _random_rows(rng, n_docs)
    gone = int(decode_postings(term_rows[0][2])[0][0])
    keep = np.arange(n_docs, dtype=np.int64) != gone
    holey = SparseDL(np.arange(n_docs, dtype=np.int64)[keep],
                     dl.astype(np.float64)[keep])
    with pytest.raises(KeyError):
        wand_topk(term_rows, 10, "bm25", 1.2, 0.75, float(dl.mean()), holey)


def test_wand_cache_shared_across_modes():
    """One cache dict serves a drqa call and then bm25 calls (and back):
    a block decoded without doc lengths gets them on first bm25 use."""
    rng = np.random.default_rng(11)
    n_docs = 5000
    dl = rng.integers(10, 300, size=n_docs).astype(np.uint32)
    avgdl = float(dl.mean())
    term_rows = _random_rows(rng, n_docs)
    cache: dict = {}
    for mode, dlv in (("drqa", None), ("bm25", dl), ("bm25", _sparse(dl)),
                      ("drqa", None)):
        got = wand_topk(term_rows, 10, mode, 1.2, 0.75, avgdl, dlv,
                        cache=cache)
        _assert_rows(got, _brute(term_rows, 10, mode, 1.2, 0.75, avgdl, dlv),
                     mode)


def test_wand_topk_empty_and_zero_weight():
    payload = encode_postings(np.array([1, 2], np.uint64),
                              np.array([1, 1], np.uint64))
    assert wand_topk([], 5, "drqa", 1.2, 0.75, 10.0, None) == []
    assert wand_topk([(0.0, 1.0, payload)], 5, "drqa", 1.2, 0.75, 10.0, None) == []


@pytest.mark.parametrize("mode", ["drqa", "bm25"])
def test_wand_topk_block_max_skips(mode):
    """On a WAND-friendly shape the block-max check skips whole blocks
    without decoding them, and the rows stay identical to brute force."""
    from word2doc_spark.query import wand as W

    rng = np.random.default_rng(99)
    n_docs, k = 120000, 5
    dl = rng.integers(10, 300, size=n_docs).astype(np.uint32)
    avgdl = float(dl.mean())
    # one rare high-weight term whose docs dominate the top-k, plus long
    # low-weight tail lists that θ lets the cursors leap over block-wise
    term_rows = []
    rare = np.sort(rng.choice(n_docs, size=40,
                              replace=False)).astype(np.uint64)
    term_rows.append((5.0, 5.0, encode_postings(
        rare, rng.integers(5, 20, size=40).astype(np.uint64), 32)))
    for _ in range(3):
        docs = np.sort(rng.choice(n_docs, size=30000,
                                  replace=False)).astype(np.uint64)
        tfs = rng.integers(1, 3, size=30000).astype(np.uint64)
        term_rows.append((0.2, 0.4, encode_postings(docs, tfs, 32)))
    dlv = dl if mode == "bm25" else None
    W.reset_stats()
    got = wand_topk(term_rows, k, mode, 1.2, 0.75, avgdl, dlv)
    st = W.get_stats()
    want = _brute(term_rows, k, mode, 1.2, 0.75, avgdl, dlv)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, s1), (_, s2) in zip(got, want):
        assert math.isclose(s1, s2, rel_tol=1e-9)
    assert st["blocks_skipped"] > 0, st
