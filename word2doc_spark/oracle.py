"""Single-process numpy oracle — the rank-identity contract.

Re-implements the reference scoring semantics exactly (SURVEY.md §2.K):

    tf_{t,d}  = count of hashed gram t in doc d
    N         = number of documents
    df_t      = number of docs containing t
    idf_t     = max(0, ln((N - df_t + 0.5) / (df_t + 0.5)))
    drqa:  score(q,d) = Σ_t [ln(1+qtf_t)·idf_t] · [idf_t·ln(1+tf_{t,d})]
           (/root/reference/src/word2doc/retriever/build_tfidf.py:151-164 +
            tfidf_doc_ranker.py:105-123 — idf appears squared)
    bm25:  score(q,d) = Σ_t ln(1+qtf_t)·idf_t·tf(k1+1)/(tf+k1(1−b+b·dl/avgdl))
           (our production mode; dl = Σ tf over kept terms of d)

Top-k ties break (score desc, doc_id asc) — the reference's np.argsort tie
order is unstable (SURVEY.md §2.J3), so the deterministic order is OURS and
both this oracle and the Spark engine implement it.

Everything is float64; per-doc accumulation order is ascending term_id then
posting order, matching the engine's exact path within 1e-9.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from word2doc_spark.config import IndexConfig
from word2doc_spark.functions.tokenize import Analyzer


@dataclass
class OracleIndex:
    config: IndexConfig
    doc_urls: list[str]                      # doc_id -> url (sorted by url)
    postings: dict[int, np.ndarray]          # term_id -> (2, m) [doc_ids; tfs]
    df: dict[int, int]
    doc_len: np.ndarray                      # dl per doc_id (sum of kept tfs)
    n_docs: int
    avgdl: float

    def idf(self, term_id: int) -> float:
        df = self.df.get(term_id, 0)
        v = np.log((self.n_docs - df + 0.5) / (df + 0.5))
        return float(max(0.0, v))


def build_oracle_index(
    docs: list[tuple[str, str]], config: IndexConfig | None = None
) -> OracleIndex:
    """docs: list of (url, text). doc_id = position in url-sorted order."""
    config = config or IndexConfig()
    analyzer = Analyzer(ngram=config.ngram, hash_size=config.hash_size,
                        tokenizer=config.analyzer)
    ordered = sorted(docs, key=lambda p: p[0])
    urls = [u for u, _ in ordered]
    postings_acc: dict[int, list[tuple[int, int]]] = {}
    doc_len = np.zeros(len(ordered), dtype=np.int64)
    for doc_id, (_, text) in enumerate(ordered):
        terms, tfs = analyzer.analyze(text or "")
        doc_len[doc_id] = int(tfs.sum())
        for t, tf in zip(terms.tolist(), tfs.tolist()):
            postings_acc.setdefault(t, []).append((doc_id, tf))
    postings = {
        t: np.array(lst, dtype=np.int64).T.copy()
        for t, lst in postings_acc.items()
    }
    df = {t: arr.shape[1] for t, arr in postings.items()}
    n = len(ordered)
    avgdl = float(doc_len.mean()) if n else 0.0
    return OracleIndex(config, urls, postings, df, doc_len, n, avgdl)


def oracle_query_weights(
    index: OracleIndex, query: str, analyzer: Analyzer | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """(term_ids, w_q) for a query: w_q = ln(1+qtf)·idf (both modes)."""
    a = analyzer or Analyzer(index.config.ngram, index.config.hash_size,
                             tokenizer=index.config.analyzer)
    terms, qtfs = a.analyze(query)
    if terms.size == 0:
        return terms, np.empty(0, dtype=np.float64)
    idfs = np.array([index.idf(int(t)) for t in terms], dtype=np.float64)
    w_q = np.log1p(qtfs.astype(np.float64)) * idfs
    return terms, w_q


def oracle_search(
    index: OracleIndex, query: str, k: int = 10, strict: bool = False
) -> list[tuple[int, str, float]]:
    """Top-k (doc_id, url, score) under index.config.score_mode."""
    cfg = index.config
    terms, w_q = oracle_query_weights(index, query)
    if terms.size == 0:
        if strict:
            raise RuntimeError(f"No valid word in: {query}")
        return []
    scores: dict[int, float] = {}
    for t, wq in zip(terms.tolist(), w_q.tolist()):
        arr = index.postings.get(t)
        if arr is None or wq == 0.0:
            continue
        doc_ids, tfs = arr[0], arr[1].astype(np.float64)
        idf = index.idf(t)
        if cfg.score_mode == "drqa":
            w_d = idf * np.log1p(tfs)
        elif cfg.score_mode == "bm25":
            # idf appears ONCE in bm25 (already in w_q); doc side is pure
            # tf saturation — unlike drqa where idf is squared (§2.K).
            dl = index.doc_len[doc_ids].astype(np.float64)
            denom = tfs + cfg.k1 * (1.0 - cfg.b + cfg.b * dl / index.avgdl)
            w_d = tfs * (cfg.k1 + 1.0) / denom
        else:
            raise ValueError(cfg.score_mode)
        contrib = wq * w_d
        for d, s in zip(doc_ids.tolist(), contrib.tolist()):
            scores[d] = scores.get(d, 0.0) + s
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(d, index.doc_urls[d], s) for d, s in ranked]
