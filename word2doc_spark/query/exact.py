"""Exact batch query path (the goldens-grade scorer).

Every (query, term) row is expanded into one contribution per posting of
the term, the contributions are summed per (query_id, doc_id), and each
query keeps its top-k with deterministic ties (score desc, doc_id asc) —
the reference's in-process ``batch_closest_docs``
(retriever/tfidf_doc_ranker.py:75-82) without any pruning, so the fast
and WAND paths are checked against it.

Batch sizes (prepare_weighted_terms): up to _DRIVER_ANALYZE_MAX queries
are analyzed on the driver; a bigger batch is analyzed and weighted
executor-side in one pass and collected in slices of about
SLICE_MAX_QUERIES queries. Each slice runs one of two shapes, picked by
its matched postings (Σ df over its (query, term) rows); the slices'
results are unioned.

* driver — a slice within DRIVER_MAX_POSTINGS is scored in the driver
  process (_search_on_driver): a pruned pyarrow read of the matched
  segments (read_term_rows), each segment decoded once, the rows
  expanded by expand_postings, one lexsort + ``np.add.reduceat``
  group-sum, and the shared finish (finish_rows). The result is a
  LocalRelation, so a warm call runs only the analysis probe. It shares
  I/O and finish helpers with ranges.py and no scoring kernel: it stays
  an independent reference for fast and WAND.
* Spark (SURVEY.md §3.2 Spark shape) — a bigger slice: (query_id,
  term_id, w, idf) → broadcast-join against the matched posting SEGMENTS
  (term_id-pruned shard scan) → expand_postings inside one Arrow pass →
  groupBy(query_id, doc_id) sum → per-query top-k window → ordering +
  url lookup in one task (``finish_topk``).

Scale notes:
* the segment scan is pruned two ways: parquet row-group predicate
  pushdown on ``term_id IN (...)`` and hive partition pruning on
  ``shard_id IN (...)`` — a batch of queries touches only the shards its
  terms hash into, and reads only (term_id, range_id, doc_lo, payload).
* per-term IDF comes from the ``terms/`` stats table, read on the driver
  with pyarrow (same shard + term_id pruning, no Spark job), so posting
  rows carry no denormalized df and the query plan needs no big
  join-back.
* every Spark read of an index table declares its schema
  (index/manifest.read_table): no per-query schema-inference job.
* posting payloads are bounded segments (≤ max_seg_postings), never one
  unbounded cell per term — a df=N stop-bigram decodes as many small
  tasks, not one multi-GB row.
* the Spark shape shuffles the matched per-doc contributions into the
  (query_id, doc_id) aggregation — simple and exactly twin-able, but the
  shuffle grows with matched postings; the doc-partitioned fast/wand
  paths (query/fast.py, query/wand.py) are the scale surface.
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from word2doc_spark.config import IndexConfig
from word2doc_spark.index.manifest import Manifest, read_table
from word2doc_spark.index.postings import decode_postings

QUERY_TERMS_SCHEMA = "query_id long, term_id long, qtf int"
RESULT_SCHEMA = ("query_id long, rank int, doc_id long, url string, "
                 "score double")

# above this many distinct query terms, an In() literal list stops being a
# useful parquet filter (and bloats the plan); switch to a semi-join
_ISIN_PRUNE_LIMIT = 20_000

# batches above this size tokenize executor-side and collect only the
# weighted-terms result (perf crossover, not a safety bound — see
# prepare_weighted_terms)
_DRIVER_ANALYZE_MAX = 4096

# an executor-analyzed batch is collected and scored in slices of about
# this many queries, so no single driver collect, query pack or one-task
# finish grows with the batch (ADVICE r2: multi-million-query batches
# must not funnel through the driver in one piece)
SLICE_MAX_QUERIES = 50_000

# a slice whose matched postings (Σ df over its (query, term) rows) are
# at most this is scored on the driver (search_exact's driver shape). On
# 4 cores the driver shape beat the Spark shape at every driver-analyzed
# size measured (1.8 vs 3.5 s at 1.9M postings, 3.1 vs 5.3 s at 3.9M), so
# the bound is the driver's memory, not its wall: the expanded arrays
# peak at ~100 bytes per matched posting, ~100 MB at this bound
DRIVER_MAX_POSTINGS = 1_000_000


def analyze_queries(queries: DataFrame, config: IndexConfig) -> DataFrame:
    """Executor-side variant: (query_id, query) → (query_id, term_id,
    qtf); identical analysis pipeline as documents
    (tfidf_doc_ranker.py:84-107 semantics). Used when a query batch is
    too large to analyze serially on the driver."""
    ngram, hash_size = config.ngram, config.hash_size
    tokenizer = config.analyzer

    def run(it):
        from word2doc_spark.functions.tokenize import shared_analyzer
        analyzer = shared_analyzer(ngram=ngram, hash_size=hash_size,
                                   tokenizer=tokenizer)
        for pdf in it:
            if len(pdf) == 0:
                continue
            terms, tfs = analyzer.analyze_batch(pdf["query"].fillna("").tolist())
            lens = np.fromiter((t.size for t in terms), dtype=np.int64,
                               count=len(terms))
            if lens.sum() == 0:
                continue
            yield pd.DataFrame({
                "query_id": np.repeat(pdf["query_id"].to_numpy(), lens),
                "term_id": np.concatenate(terms),
                "qtf": np.concatenate(tfs).astype(np.int32),
            })

    return queries.select("query_id", "query").mapInPandas(
        run, schema=QUERY_TERMS_SCHEMA)


def analyze_query_rows(query_ids, texts: list, config: IndexConfig,
                       strict: bool = False) -> pd.DataFrame:
    """Analysis of an already-collected batch, as columns: ``query_ids``
    (int array) and ``texts`` (list of str or None) — lets the caller
    fold the batch-size probe and the analysis collect into ONE job
    (prepare_weighted_terms collects with a bounded LIMIT first)."""
    from word2doc_spark.functions.tokenize import Analyzer
    analyzer = Analyzer(ngram=config.ngram, hash_size=config.hash_size,
                        tokenizer=config.analyzer)
    terms, tfs = analyzer.analyze_batch([q or "" for q in texts])
    if strict:
        for q, t in zip(texts, terms):
            if t.size == 0:
                raise RuntimeError(f"No valid word in: {q}")
    qids = np.asarray(query_ids, dtype=np.int64)
    lens = np.fromiter((t.size for t in terms), dtype=np.int64,
                       count=len(terms))
    if lens.sum() == 0:
        return pd.DataFrame(columns=["query_id", "term_id", "qtf"])
    return pd.DataFrame({
        "query_id": np.repeat(qids, lens),
        "term_id": np.concatenate(terms),
        "qtf": np.concatenate(tfs).astype(np.int64),
    })


def term_in(term_ids: list):
    """``term_id IN (...)`` over a driver-known list of ints, built as ONE
    parsed expression: Column.isin makes a py4j round trip per literal,
    ~0.6 ms each — 150 ms of driver wall for a 250-term batch."""
    return F.expr(f"term_id IN ({','.join(str(int(t)) for t in term_ids)})")


def filter_terms(df: DataFrame, term_ids: list) -> DataFrame:
    """``df`` restricted to the given term ids: one parsed IN filter (on
    a parquet scan, pushed down to the row groups) up to _ISIN_PRUNE_LIMIT
    terms, a broadcast left-semi join against an Arrow-built term table
    above. Both keep the streamed side's partitioning, so a filtered
    hash-partitioned table needs no new exchange downstream."""
    if len(term_ids) <= _ISIN_PRUNE_LIMIT:
        return df.filter(term_in(term_ids))
    wanted = df.sparkSession.createDataFrame(
        pa.table({"term_id": pa.array(term_ids, pa.int64())}),
        "term_id long")
    return df.join(F.broadcast(wanted), "term_id", "left_semi")


def _prune_terms(df: DataFrame, term_ids: list,
                 num_shards: int) -> DataFrame:
    """Prune a shard-partitioned table to the query batch's terms: hive
    partition pruning on the terms' shards, then filter_terms."""
    shard_ids = sorted({t % num_shards for t in term_ids})
    if len(shard_ids) < num_shards:
        df = df.filter(F.col("shard_id").isin(shard_ids))
    return filter_terms(df, term_ids)


def _matched_segments(spark: SparkSession, index_dir: str,
                      term_ids: list, num_shards: int) -> DataFrame:
    return (_prune_terms(read_table(spark, index_dir, "shards"), term_ids,
                         num_shards)
            .select("term_id", "range_id", "doc_lo", "payload"))


def read_term_rows(index_dir: str, table: str, term_ids: list,
                   num_shards: int, columns: list):
    """The rows of the given terms in a shard-partitioned index table
    (``terms`` or ``shards``) as a pyarrow Table, read on the driver — no
    Spark job. Hive partition pruning on the term→shard route plus a
    term_id filter pushed down to the row groups: the same read the
    scoring workers use for dl loads."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads
    ds = pads.dataset(os.path.join(index_dir, table), format="parquet",
                      partitioning="hive")
    filt = pc.field("term_id").isin(term_ids)
    shard_ids = sorted({t % num_shards for t in term_ids})
    if len(shard_ids) < num_shards:
        filt = filt & pc.field("shard_id").isin(shard_ids)
    return ds.to_table(columns=columns, filter=filt)


def _term_dfs(index_dir: str, term_ids: list, num_shards: int) -> dict:
    """{term_id: df} of the given terms present in the index (the
    ``terms/`` stats table via read_term_rows)."""
    tbl = read_term_rows(index_dir, "terms", term_ids, num_shards,
                         ["term_id", "df"])
    return dict(zip(tbl.column("term_id").to_pylist(),
                    tbl.column("df").to_pylist()))


def weighted_query_terms(spark: SparkSession, index_dir: str,
                         qt: pd.DataFrame, n_docs: int,
                         num_shards: int,
                         bid: str | None = None) -> pd.DataFrame:
    """Attach df/idf/w to analyzed query terms via a pruned pyarrow read
    of the terms stats table (_term_dfs); drops terms absent from the
    index (they match no postings) and terms with w == 0 (idf clamped to
    0). ``spark`` and ``bid`` are unused — the read needs no session and
    costs a few ms, so nothing is cached per build — and stay for the
    callers that pass them."""
    term_ids = sorted({int(t) for t in qt["term_id"].unique()})
    df_map = {t: d for t, d in
              _term_dfs(index_dir, term_ids, num_shards).items()
              if d > 0}
    out = qt[qt["term_id"].isin(df_map.keys())].copy()
    if out.empty:
        out["df"] = out["idf"] = out["w"] = np.empty(0, dtype=np.float64)
        return out
    dfs = out["term_id"].map(df_map).to_numpy(dtype=np.float64)
    idfs = np.maximum(np.log((n_docs - dfs + 0.5) / (dfs + 0.5)), 0.0)
    w = np.log1p(out["qtf"].to_numpy(dtype=np.float64)) * idfs
    out["df"] = dfs
    out["idf"] = idfs
    out["w"] = w
    return out[out["w"] > 0.0]


def weighted_query_terms_distributed(spark: SparkSession, index_dir: str,
                                     qt: DataFrame, n_docs: int) -> DataFrame:
    """Executor-side twin of ``weighted_query_terms``: join the analyzed
    query terms against the ``terms/`` stats table executor-side instead
    of reading per-term stats on the driver. Terms absent from the index
    and zero-weight terms drop, exactly as in the driver variant. The
    stats side is vocabulary-bounded (≤ hash_size rows), the qt side is
    batch-sized — a plain shuffle join AQE can re-plan."""
    stats = read_table(spark, index_dir, "terms").select("term_id", "df")
    idf = F.greatest(
        F.lit(0.0),
        F.log((F.lit(float(n_docs)) - F.col("df") + 0.5)
              / (F.col("df") + 0.5)))
    return (qt.join(stats, "term_id")
              .withColumn("idf", idf)
              .withColumn("w", F.log1p(F.col("qtf").cast("double"))
                          * F.col("idf"))
              .filter(F.col("w") > 0.0)
              .select("query_id", "term_id", "w", "idf", "df"))


def probe_batch(queries: DataFrame):
    """The batch as collected (query_ids, texts) columns when it holds at
    most _DRIVER_ANALYZE_MAX queries, else None.

    A LocalRelation batch is driver-resident already: its Row collect
    runs no job (NOTE: list-built createDataFrame goes through
    parallelize and is NOT local; Arrow input is local, and pandas input
    only with spark.sql.execution.arrow.pyspark.enabled, which is off by
    default). Any other batch is probed with a BOUNDED
    limit(_DRIVER_ANALYZE_MAX+1) head collected as one Arrow table —
    toArrow runs the limit as a single all-partition job (a Row collect
    runs the staged take: 1, 4, 16, … partitions = 2-4 jobs) — so a batch
    small enough for SERIAL driver analysis is fully in hand after one
    tiny job and no second collect."""
    if queries.isLocal():
        rows = queries.select("query_id", "query").collect()
        if len(rows) > _DRIVER_ANALYZE_MAX:
            return None
        return [r[0] for r in rows], [r[1] for r in rows]
    tbl = (queries.select("query_id", "query")
           .limit(_DRIVER_ANALYZE_MAX + 1).toArrow())
    if tbl.num_rows > _DRIVER_ANALYZE_MAX:
        return None
    return (tbl.column("query_id").to_numpy(),
            tbl.column("query").to_pylist())


def _strict_check_distributed(queries: DataFrame, qt: DataFrame) -> None:
    """B9 strict semantics for an executor-analyzed batch: raise when any
    query analyzed to zero kept terms (tfidf_doc_ranker.py:98-103)."""
    missing = (queries.select("query_id", "query")
               .join(qt.select("query_id").distinct(), "query_id",
                     "left_anti").limit(1).collect())
    if missing:
        raise RuntimeError(f"No valid word in: {missing[0]['query']}")


def _executor_weighted_slices(spark: SparkSession, index_dir: str,
                              queries: DataFrame, config: IndexConfig,
                              n_docs: int, strict: bool) -> list:
    """Weighted query terms of a batch too big for driver analysis: ONE
    executor pass (analyze_queries → weighted_query_terms_distributed),
    collected in n = ceil(Q / SLICE_MAX_QUERIES) slices. A query's slice
    is pmod(xxhash64(query_id), n) — a hash, not the raw id, so strided
    ids still spread — and all its terms land in that slice. With n > 1
    the weighted frame is persisted so the pass runs once, and each
    slice is one filtered toArrow. Every collect is eager, so whatever
    this persists is unpersisted before it returns. The strict check
    covers the whole batch, once."""
    from pyspark import StorageLevel
    n = max(1, -(-queries.count() // SLICE_MAX_QUERIES))
    qt = analyze_queries(queries, config)
    held = []
    try:
        if strict:
            qt = qt.persist(StorageLevel.MEMORY_AND_DISK)
            held.append(qt)
            _strict_check_distributed(queries, qt)
        wqt = weighted_query_terms_distributed(spark, index_dir, qt, n_docs)
        if n == 1:
            return [wqt.toArrow().to_pandas()]
        wqt = (wqt.withColumn("_slice",
                              F.pmod(F.xxhash64("query_id"), F.lit(n)))
               .persist(StorageLevel.MEMORY_AND_DISK))
        held.append(wqt)
        return [wqt.filter(F.col("_slice") == i).drop("_slice")
                .toArrow().to_pandas() for i in range(n)]
    finally:
        for df in held:
            df.unpersist()


def prepare_weighted_terms(spark: SparkSession, index_dir: str,
                           queries: DataFrame, config: IndexConfig,
                           n_docs: int, strict: bool) -> list:
    """Shared query-side prep for all three search paths → the batch's
    weighted query terms (query_id, term_id, w, idf, df) as driver-resident
    pandas frames, one per slice; a query's terms all sit in one slice.
    Slices with no term in the index drop, so [] means nothing matches.

    Up to _DRIVER_ANALYZE_MAX queries, the probe's rows are analyzed and
    weighted on the driver: one slice. A bigger batch tokenizes and
    weights EXECUTOR-side (that scales with cores; serial driver analysis
    of a 20k-query batch measured 2.6 s flat at any parallelism) and
    only the O(Q × matched terms) weighted rows come back, in slices of
    about SLICE_MAX_QUERIES queries (_executor_weighted_slices)."""
    head = probe_batch(queries)
    if head is None:
        slices = _executor_weighted_slices(spark, index_dir, queries,
                                           config, n_docs, strict)
    else:
        qt = analyze_query_rows(*head, config, strict=strict)
        slices = [] if qt.empty else [weighted_query_terms(
            spark, index_dir, qt, n_docs, config.num_shards)]
    return [wqt for wqt in slices if len(wqt)]


def term_ids_of(wqt: pd.DataFrame) -> list:
    """Sorted distinct term ids of a weighted-terms slice: the list that
    prunes its segment scan."""
    return np.unique(wqt["term_id"].to_numpy(dtype=np.int64)).tolist()


def union_slices(parts: list) -> DataFrame:
    """One DataFrame over the slices' results (same schema, by position)."""
    return functools.reduce(DataFrame.unionAll, parts)


def topk_order(qid: np.ndarray, doc: np.ndarray, score: np.ndarray,
               k: int) -> tuple[np.ndarray, np.ndarray]:
    """(indices, ranks) of each query's top-k rows, ordered (query_id asc,
    score desc, doc_id asc) — the tie rule of every path's top-k window.
    One lexsort + a boundary walk; ranks are 1-based."""
    order = np.lexsort((doc, -score, qid))
    q = qid[order]
    gstart = np.flatnonzero(np.concatenate(([True], q[1:] != q[:-1])))
    glen = np.diff(np.concatenate((gstart, [q.size])))
    pos = np.arange(q.size) - np.repeat(gstart, glen)
    keep = pos < k
    return order[keep], (pos[keep] + 1).astype(np.int32)


def _lookup_urls(docs_path: str, doc_ids: np.ndarray):
    """(found mask, urls) for ``doc_ids`` from the docs table, read with
    pyarrow: a doc_id range plus an IN filter, so row groups outside the
    wanted ids are skipped by their min/max footer statistics (the build
    sorts docs by doc_id within each file)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads
    if doc_ids.size == 0:
        return np.zeros(0, dtype=bool), np.empty(0, dtype=object)
    want = np.unique(doc_ids)
    f = pc.field("doc_id")
    tbl = pads.dataset(docs_path, format="parquet").to_table(
        columns=["doc_id", "url"],
        filter=((f >= int(want[0])) & (f <= int(want[-1]))
                & f.isin(want.tolist())))
    if tbl.num_rows == 0:
        return (np.zeros(doc_ids.size, dtype=bool),
                np.empty(doc_ids.size, dtype=object))
    ids = tbl.column("doc_id").to_numpy()
    urls = np.asarray(tbl.column("url").to_pylist(), dtype=object)
    order = np.argsort(ids, kind="stable")
    ids, urls = ids[order], urls[order]
    pos = np.minimum(np.searchsorted(ids, doc_ids), ids.size - 1)
    return ids[pos] == doc_ids, urls[pos]


def finish_rows(docs_path: str, qid: np.ndarray, doc: np.ndarray,
                score: np.ndarray, k: int) -> pd.DataFrame:
    """Candidate (query_id, doc_id, score) arrays → the final RESULT_SCHEMA
    rows, ordered by (query_id, rank): one numpy lexsort merge
    (topk_order), then the urls of just the winning doc_ids (pushed-down
    doc_id filter). Docs absent from the docs table drop, as a url join
    would drop them. Shared by the one-task Spark finish (finish_topk)
    and the driver shapes (_search_on_driver here and in ranges.py)."""
    idx, rank = topk_order(qid, doc, score, k)
    found, urls = _lookup_urls(docs_path, doc[idx])
    idx, rank = idx[found], rank[found]
    return pd.DataFrame({"query_id": qid[idx], "rank": rank,
                         "doc_id": doc[idx], "url": urls[found],
                         "score": score[idx]})


# RESULT_SCHEMA as Arrow: a driver shape hands Spark a typed table
_RESULT_ARROW = pa.schema([("query_id", pa.int64()), ("rank", pa.int32()),
                           ("doc_id", pa.int64()), ("url", pa.string()),
                           ("score", pa.float64())])


def local_result(spark: SparkSession, out: pd.DataFrame) -> DataFrame:
    """finish_rows output as a LocalRelation: the caller's action runs no
    job for it."""
    return spark.createDataFrame(
        pa.Table.from_pandas(out, schema=_RESULT_ARROW,
                             preserve_index=False), RESULT_SCHEMA)


def _empty_result(spark: SparkSession) -> DataFrame:
    """No rows, as a LocalRelation: a batch that matches nothing runs no
    job (a list-built empty frame goes through parallelize, one job)."""
    return spark.createDataFrame(_RESULT_ARROW.empty_table(), RESULT_SCHEMA)


def finish_topk(index_dir: str, cand: DataFrame, k: int) -> DataFrame:
    """Final top-k + url lookup of one slice in ONE task: candidates
    (query_id, doc_id, score) → repartition(1) → mapInPandas running
    finish_rows. It replaces a query_id window, a broadcast join that
    scans the whole docs table, and a global sort — each its own Spark
    job(s). A slice holds at most about SLICE_MAX_QUERIES queries, so its
    candidate set fits a task."""
    docs_path = os.path.join(index_dir, "docs")

    def run(it):
        parts = [pdf for pdf in it if len(pdf)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        out = finish_rows(docs_path,
                          pdf["query_id"].to_numpy(dtype=np.int64),
                          pdf["doc_id"].to_numpy(dtype=np.int64),
                          pdf["score"].to_numpy(dtype=np.float64), k)
        if len(out):
            yield out

    return (cand.select("query_id", "doc_id", "score").repartition(1)
            .mapInPandas(run, RESULT_SCHEMA))


def _spans(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """The index ranges [starts[i], starts[i] + counts[i]) concatenated."""
    ends = np.cumsum(counts)
    return np.arange(ends[-1] if ends.size else 0) + np.repeat(
        starts - (ends - counts), counts)


def expand_postings(payloads, seg_ix: np.ndarray, query_id: np.ndarray,
                    w: np.ndarray, idf: np.ndarray, mode: str) -> dict:
    """Both exact shapes' per-posting work, on column arrays: row i —
    (query_id[i], w[i], idf[i]) joined with the segment
    ``payloads[seg_ix[i]]`` — becomes one entry per posting of that
    segment. Each payload is decoded once however many rows share it.
    → {query_id, doc_id, contrib = w·idf·log1p(tf)} (drqa) or
    {query_id, doc_id, w, tf} (bm25: its tf part needs dl, which each
    shape looks up its own way), concatenated in row order. ``payloads``
    must not be empty."""
    parts = [decode_postings(p) for p in payloads]
    lens = np.fromiter((d.size for d, _ in parts), np.int64, len(parts))
    n = lens[seg_ix]
    row = np.repeat(np.arange(seg_ix.size), n)
    pos = _spans((np.cumsum(lens) - lens)[seg_ix], n)
    docs = np.concatenate([d for d, _ in parts])[pos].astype(np.int64)
    tfs = np.concatenate([t for _, t in parts])[pos].astype(np.float64)
    if mode == "drqa":
        return {"query_id": query_id[row], "doc_id": docs,
                "contrib": (w * idf)[row] * np.log1p(tfs)}
    return {"query_id": query_id[row], "doc_id": docs, "w": w[row],
            "tf": tfs}


def _search_on_driver(spark: SparkSession, index_dir: str,
                      wqt: pd.DataFrame, k: int, mode: str, k1: float,
                      b: float, avgdl: float, num_shards: int,
                      bid: str | None) -> DataFrame:
    """A driver-sized slice scored without Spark: a pruned pyarrow read of
    its terms' segments, each (query, term) row joined with its term's
    segments by a searchsorted over the term-sorted segments,
    expand_postings, bm25's dl from the per-range dl cache
    (ranges._dl_for_ranges), one lexsort + reduceat group-sum per
    (query_id, doc_id), and finish_rows. No fast or WAND kernel runs:
    this is the exact reference. A failed read raises; there is no
    fallback to Spark."""
    segs = read_term_rows(index_dir, "shards", term_ids_of(wqt),
                          num_shards, ["term_id", "range_id", "payload"])
    if segs.num_rows == 0:
        return _empty_result(spark)
    seg_term = segs.column("term_id").to_numpy()
    order = np.argsort(seg_term, kind="stable")
    seg_term = seg_term[order]
    tid = wqt["term_id"].to_numpy(dtype=np.int64)
    lo = np.searchsorted(seg_term, tid, "left")
    cnt = np.searchsorted(seg_term, tid, "right") - lo
    row = np.repeat(np.arange(tid.size), cnt)
    cols = expand_postings(
        segs.column("payload").take(order).to_pylist(), _spans(lo, cnt),
        wqt["query_id"].to_numpy(dtype=np.int64)[row],
        wqt["w"].to_numpy(dtype=np.float64)[row],
        wqt["idf"].to_numpy(dtype=np.float64)[row], mode)
    qid, doc = cols["query_id"], cols["doc_id"]
    if mode == "drqa":
        contrib = cols["contrib"]
    else:
        from word2doc_spark.query.ranges import _dl_for_ranges
        dl = _dl_for_ranges(index_dir, bid,
                            segs.column("range_id").to_numpy())[doc]
        tf = cols["tf"]
        contrib = cols["w"] * (tf * (k1 + 1.0)) / (
            tf + k1 * (1.0 - b + b * dl / avgdl))
    order = np.lexsort((doc, qid))
    qid, doc, contrib = qid[order], doc[order], contrib[order]
    new_key = np.ones(qid.size, dtype=bool)
    new_key[1:] = (qid[1:] != qid[:-1]) | (doc[1:] != doc[:-1])
    first = np.flatnonzero(new_key)
    return local_result(spark, finish_rows(
        os.path.join(index_dir, "docs"), qid[first], doc[first],
        np.add.reduceat(contrib, first), k))


def search_exact(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    score_mode: str | None = None,
    strict: bool = False,
) -> DataFrame:
    """→ (query_id long, rank int, doc_id long, url string, score double).

    Each slice of the batch (see prepare_weighted_terms) is scored in one
    of two shapes (module docstring): on the driver when its matched
    postings (Σ df over its (query, term) rows) are within
    DRIVER_MAX_POSTINGS, else by its own broadcast join and finish. The
    result is the union of the slices' rows, ordered by (query_id, rank)
    within a slice.

    A ``queries`` frame built from a pyarrow.Table is a local relation:
    the call skips the analysis probe, so a batch scored on the driver
    runs no Spark job. A list-built frame is not local, nor is a
    pandas-built one unless spark.sql.execution.arrow.pyspark.enabled is
    set; either pays one probe job (probe_batch)."""
    manifest = Manifest(index_dir)
    config, stats = manifest.load()
    mode = score_mode or config.score_mode
    if mode not in ("drqa", "bm25"):
        raise ValueError(mode)
    n_docs = int(stats["n_docs"])
    avgdl = float(stats["avgdl"])
    k1, b = config.k1, config.b

    slices = prepare_weighted_terms(spark, index_dir, queries, config,
                                    n_docs, strict)
    if not slices:
        return _empty_result(spark)

    if mode == "drqa":
        out_schema = "query_id long, doc_id long, contrib double"
    else:
        out_schema = "query_id long, doc_id long, w double, tf double"

    def score_terms(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            # rows of one segment joined with several queries share a
            # payload: factorize so each decodes once per Arrow batch
            seg_ix, payloads = pd.factorize(pdf["payload"].to_numpy())
            cols = expand_postings(
                payloads, seg_ix, pdf["query_id"].to_numpy(dtype=np.int64),
                pdf["w"].to_numpy(dtype=np.float64),
                pdf["idf"].to_numpy(dtype=np.float64), mode)
            if cols["doc_id"].size:
                yield pd.DataFrame(cols)

    # one exchange for BOTH the aggregation and the top-k window: an
    # explicit hash repartition on query_id satisfies the clustering
    # requirement of groupBy(query_id, doc_id) (subset partitioning) AND
    # of the query_id window, so the agg + window run in the same stage
    # — the naive plan paid two back-to-back Exchanges (one per key set)
    sp = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id"))

    def run_slice(wqt: pd.DataFrame) -> DataFrame:
        if float(wqt["df"].sum()) <= DRIVER_MAX_POSTINGS:
            return _search_on_driver(spark, index_dir, wqt, k, mode, k1, b,
                                     avgdl, config.num_shards,
                                     stats["build_id"])
        qdf = spark.createDataFrame(
            pa.Table.from_pandas(wqt[["query_id", "term_id", "w", "idf"]],
                                 preserve_index=False),
            "query_id long, term_id long, w double, idf double")
        segs = _matched_segments(spark, index_dir, term_ids_of(wqt),
                                 config.num_shards)
        contribs = (segs.join(F.broadcast(qdf), "term_id")
                    .mapInPandas(score_terms, schema=out_schema))
        if mode == "bm25":
            doclen = read_table(spark, index_dir, "doclen")
            contribs = contribs.join(doclen, "doc_id").withColumn(
                "contrib",
                F.col("w") * (F.col("tf") * (k1 + 1.0)) /
                (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)),
            )
        scored = (contribs.repartition(sp, "query_id")
                  .groupBy("query_id", "doc_id")
                  .agg(F.sum("contrib").alias("score")))
        topk = (scored.withColumn("rank", F.row_number().over(w))
                      .filter(F.col("rank") <= k))
        return finish_topk(index_dir, topk, k)

    return union_slices([run_slice(wqt) for wqt in slices])
