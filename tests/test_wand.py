"""Block-max WAND must emit IDENTICAL top-k to the exact path (M6 gate).

Also unit-tests wand_topk directly against a brute-force scorer on random
posting sets (no Spark in the loop → many more cases).
"""

import math

import numpy as np
import pytest

from word2doc_spark.config import IndexConfig
from word2doc_spark.index.build import build_index
from word2doc_spark.index.postings import encode_postings
from word2doc_spark.query.exact import search_exact
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
def test_wand_identical_to_exact(spark, built, mode, k):
    qdf = spark.createDataFrame(QUERIES, "query_id long, query string")
    exact = search_exact(spark, built, qdf, k=k, score_mode=mode).collect()
    fast = search_wand(spark, built, qdf, k=k, score_mode=mode).collect()
    key = lambda r: (r["query_id"], r["rank"])
    exact.sort(key=key)
    fast.sort(key=key)
    assert len(exact) == len(fast)
    for a, b in zip(exact, fast):
        assert (a["query_id"], a["rank"], a["doc_id"], a["url"]) == \
               (b["query_id"], b["rank"], b["doc_id"], b["url"])
        assert math.isclose(a["score"], b["score"], rel_tol=1e-9, abs_tol=1e-12)


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


@pytest.mark.parametrize("mode", ["drqa", "bm25"])
@pytest.mark.parametrize("seed", range(8))
def test_wand_topk_random(mode, seed):
    rng = np.random.default_rng(seed)
    n_docs = 5000
    dl = rng.integers(10, 300, size=n_docs).astype(np.uint32)
    avgdl = float(dl.mean())
    n_terms = rng.integers(2, 7)
    term_rows = []
    for _ in range(n_terms):
        n_post = int(rng.integers(1, 1500))
        docs = np.sort(rng.choice(n_docs, size=n_post, replace=False)).astype(np.uint64)
        tfs = rng.integers(1, 20, size=n_post).astype(np.uint64)
        payload = encode_postings(docs, tfs, block_size=32)
        w = float(rng.uniform(0.1, 3.0))
        idf = float(rng.uniform(0.1, 5.0))
        term_rows.append((w, idf, payload))
    for k in (1, 10, 100):
        got = wand_topk(term_rows, k, mode, 1.2, 0.75, avgdl,
                        dl if mode == "bm25" else None)
        want = _brute(term_rows, k, mode, 1.2, 0.75, avgdl,
                      dl if mode == "bm25" else None)
        assert [d for d, _ in got] == [d for d, _ in want], (mode, seed, k)
        for (d1, s1), (d2, s2) in zip(got, want):
            assert math.isclose(s1, s2, rel_tol=1e-9)


def test_wand_topk_empty_and_zero_weight():
    payload = encode_postings(np.array([1, 2], np.uint64),
                              np.array([1, 1], np.uint64))
    assert wand_topk([], 5, "drqa", 1.2, 0.75, 10.0, None) == []
    assert wand_topk([(0.0, 1.0, payload)], 5, "drqa", 1.2, 0.75, 10.0, None) == []


@pytest.mark.parametrize("mode", ["drqa", "bm25"])
def test_wand_topk_theta_seed_exact_and_prunes(mode):
    """A θ0 seed strictly below the true k-th score leaves results
    IDENTICAL (incl. boundary ties) while decoding no more — and on
    typical inputs strictly fewer — blocks."""
    from word2doc_spark.query import wand as W

    rng = np.random.default_rng(99)
    n_docs, k = 120000, 5
    dl = rng.integers(10, 300, size=n_docs).astype(np.uint32)
    avgdl = float(dl.mean())
    # the classic WAND-friendly shape: one rare high-weight term whose
    # docs dominate the top-k, plus long low-weight tail lists (ABOVE the
    # eager-merge threshold, so the lazy block path runs) that an
    # effective θ lets the cursor leap over block-wise
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
    base = wand_topk(term_rows, k, mode, 1.2, 0.75, avgdl, dlv)
    sb = W.get_stats()
    kth = base[-1][1]
    seed = float(np.nextafter(kth, -np.inf))
    W.reset_stats()
    seeded = wand_topk(term_rows, k, mode, 1.2, 0.75, avgdl, dlv,
                       theta0=seed)
    s = W.get_stats()
    assert [d for d, _ in seeded] == [d for d, _ in base]
    for (d1, s1), (d2, s2) in zip(seeded, base):
        assert math.isclose(s1, s2, rel_tol=1e-9)
    # the seed must make pruning strictly cheaper on this workload
    assert s["blocks_decoded"] < sb["blocks_decoded"], (s, sb)
    assert s["blocks_skipped"] > 0


def test_wand_seeding_differential_on_index(spark, built):
    """search_wand with and without θ seeding returns identical rows."""
    qdf = spark.createDataFrame(QUERIES, "query_id long, query string")
    on = search_wand(spark, built, qdf, k=7, score_mode="bm25",
                     seed_theta=True).collect()
    off = search_wand(spark, built, qdf, k=7, score_mode="bm25",
                      seed_theta=False).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(((r["query_id"], r["rank"], r["doc_id"]) for r in on)) \
        == sorted(((r["query_id"], r["rank"], r["doc_id"]) for r in off))


@pytest.mark.parametrize("mode", ["drqa", "bm25"])
def test_wand_seeding_distributed_identity(spark, built, mode):
    """Distributed-analyzed batch + θ seeding (the executor-side seed
    join path): identical rows to the exact path and the unseeded run."""
    qdf = spark.createDataFrame(QUERIES, "query_id long, query string")
    seeded = search_wand(spark, built, qdf, k=6, score_mode=mode,
                         analysis="distributed",
                         seed_theta=True).collect()
    plain = search_wand(spark, built, qdf, k=6, score_mode=mode,
                        analysis="distributed",
                        seed_theta=False).collect()
    exact = search_exact(spark, built, qdf, k=6, score_mode=mode).collect()
    key = lambda r: (r["query_id"], r["rank"], r["doc_id"])
    assert sorted(map(key, seeded)) == sorted(map(key, plain)) \
        == sorted(map(key, exact))
    for a, b in zip(sorted(seeded, key=key), sorted(exact, key=key)):
        assert math.isclose(a["score"], b["score"], rel_tol=1e-9,
                            abs_tol=1e-12)


def test_seed_range_carries_rare_term_mass(spark, built):
    """The θ-seed range choice ranks ranges by Σ w·idf of the terms
    PRESENT in them (ranges._densest_ranges): for a rare+dense query the
    chosen range must be one that actually CONTAINS the rare term's
    postings — its k-th score then carries the rare idf mass, which is
    what lets dense-only ranges fail wand_topk's chain-ub short-circuit
    in O(terms). (A pure posting-count rule picks a dense range whose
    k-th score lacks that mass.)"""
    from word2doc_spark.index.manifest import Manifest
    from word2doc_spark.query import ranges as R
    from word2doc_spark.query.exact import (_matched_segments,
                                            prepare_weighted_terms)

    config, stats = Manifest(built).load()
    n_docs = int(stats["n_docs"])
    # "137" is a title number → df≈1 (max idf); the rest are topic words
    qdf = spark.createDataFrame([(1, "137 spark shuffle partition")],
                                "query_id long, query string")
    _, term_pred, wqt, _ = prepare_weighted_terms(
        spark, built, qdf, config, n_docs, False, "driver")
    rare_tid = int(wqt.loc[(wqt["w"] * wqt["idf"]).idxmax(), "term_id"])
    qterms = spark.createDataFrame(
        wqt[["query_id", "term_id", "w", "idf"]],
        "query_id long, term_id long, w double, idf double")
    best = R._densest_ranges(spark, built, term_pred, config,
                             qterms).collect()
    assert len(best) == 1
    chosen = int(best[0]["range_id"])
    rare_ranges = {
        int(r["range_id"])
        for r in _matched_segments(spark, built, [rare_tid],
                                   config.num_shards)
        .select("range_id").distinct().collect()}
    assert rare_ranges, "fixture lost its rare term"
    assert chosen in rare_ranges, (chosen, rare_ranges)
