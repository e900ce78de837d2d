"""Randomized end-to-end property: for seeded random unicode corpora and
queries, the full Spark pipeline (build → all three query paths) is
rank- and score-identical to the numpy oracle (SURVEY.md §5.5)."""

import math
import random

import pytest

from word2doc_spark.config import IndexConfig
from word2doc_spark.index.build import build_index
from word2doc_spark.oracle import build_oracle_index, oracle_search
from word2doc_spark.query.exact import search_exact
from word2doc_spark.query.fast import search_fast
from word2doc_spark.query.wand import search_wand
from word2doc_spark.sources.pages import PAGES_SCHEMA

VOCAB = ["spark", "shuffle", "Índex", "café", "ﬁsh", "漢字", "token0",
         "the", "of", "und", "naïve", "a1b2", "--", "...", "'s", "don't",
         "zebra", "Ω", "ß", "éclair", "x" * 40]


def _random_corpus(seed: int, n_docs: int = 60):
    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        n = rng.randint(0, 40)
        text = " ".join(rng.choice(VOCAB) for _ in range(n))
        rows.append((f"u{i:04d}", None, None, text if text else None, "en"))
    return rows


def _random_queries(seed: int, n_q: int = 12):
    rng = random.Random(seed * 7 + 1)
    out = []
    for qid in range(n_q):
        n = rng.randint(1, 5)
        out.append((qid, " ".join(rng.choice(VOCAB) for _ in range(n))))
    return out


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_corpus_rank_identity(spark, tmp_path, seed, scoring_gate):
    cfg = IndexConfig(hash_size=2 ** 16, num_shards=3, block_size=16,
                      n_ranges=5, max_seg_postings=8)
    rows = _random_corpus(seed)
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    idx = str(tmp_path / f"idx{seed}")
    build_index(spark, pages, idx, cfg, input_token=f"prop{seed}")

    docs = [(u, t) for (u, _, _, t, _) in rows if t]
    oracle = build_oracle_index(docs, cfg)
    queries = _random_queries(seed)
    qdf = spark.createDataFrame(queries, "query_id long, query string")

    for mode in ("drqa", "bm25"):
        oracle.config = IndexConfig(
            **{**cfg.to_dict(), "score_mode": mode, "extras": {}})
        wants = {qid: oracle_search(oracle, q, k=8) for qid, q in queries}
        # each path in the driver shape, then in the Spark shape
        for fn, on in [(fn, on)
                       for fn in (search_exact, search_fast, search_wand)
                       for on in (True, False)]:
            scoring_gate(on)
            got = fn(spark, idx, qdf, k=8, score_mode=mode).collect()
            by_q = {}
            for r in got:
                by_q.setdefault(r["query_id"], []).append(r)
            for qid, want in wants.items():
                rows_q = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
                assert [(r["doc_id"], r["url"]) for r in rows_q] == \
                    [(d, u) for d, u, _ in want], (fn.__name__, on, mode,
                                                   qid)
                for r, (_, _, s) in zip(rows_q, want):
                    assert math.isclose(r["score"], s, rel_tol=1e-9,
                                        abs_tol=1e-12)
