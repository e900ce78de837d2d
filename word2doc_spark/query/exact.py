"""Exact batch query path (the goldens-grade scorer).

Shape (SURVEY.md §3.2 Spark shape): queries → analyze (driver-side; the
query batch is the small side by construction, the analog of the
reference's in-process ``batch_closest_docs`` —
/root/reference/src/word2doc/retriever/tfidf_doc_ranker.py:75-82) →
(query_id, term_id, qtf, w, idf) → broadcast-join against the matched
posting SEGMENTS (term_id-pruned shard scan) → decode+score inside one
Arrow pass → groupBy(query_id, doc_id) sum → per-query top-k window with
deterministic ties (score desc, doc_id asc) → ordering + url lookup
(one task for driver-analyzed batches, ``finish_topk``; the broadcast
url join ``attach_urls`` for distributed ones).

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
* this path shuffles the matched per-doc contributions into the
  (query_id, doc_id) aggregation — simple and exactly twin-able, but the
  shuffle grows with matched postings; the doc-partitioned fast/wand
  paths (query/fast.py, query/wand.py) are the scale surface.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
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

# above this many queries in a batch, driver-side analysis (one collect of
# the batch) stops being safe — switch to the distributed pipeline where
# analysis/weighting stay executor-side (ADVICE r2: multi-million-query
# batches must not funnel through the driver)
DISTRIBUTED_ANALYSIS_THRESHOLD = 50_000

# within driver mode, batches above this size tokenize executor-side and
# collect only the weighted-terms result (perf crossover, not a safety
# bound — see prepare_weighted_terms)
_DRIVER_ANALYZE_MAX = 4096


def analyze_queries(queries: DataFrame, config: IndexConfig) -> DataFrame:
    """Distributed variant: (query_id, query) → (query_id, term_id, qtf);
    identical analysis pipeline as documents (tfidf_doc_ranker.py:84-107
    semantics). Used when a query batch is too large to collect."""
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


def analyze_query_rows(rows, config: IndexConfig,
                       strict: bool = False) -> pd.DataFrame:
    """Analysis of already-collected (query_id, query) rows — lets the
    caller fold the batch-size probe and the analysis collect into ONE
    job (prepare_weighted_terms collects with a bounded LIMIT first)."""
    from word2doc_spark.functions.tokenize import Analyzer
    analyzer = Analyzer(ngram=config.ngram, hash_size=config.hash_size,
                        tokenizer=config.analyzer)
    terms, tfs = analyzer.analyze_batch([r["query"] or "" for r in rows])
    if strict:
        for r, t in zip(rows, terms):
            if t.size == 0:
                raise RuntimeError(f"No valid word in: {r['query']}")
    qids = np.array([r["query_id"] for r in rows], dtype=np.int64)
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


def _prune_terms(df: DataFrame, term_ids,
                 num_shards: int) -> DataFrame:
    """Prune a shard-partitioned table to the query batch's terms.
    ``term_ids`` is a list (driver-analyzed batch) or a DataFrame with a
    distinct ``term_id`` column (distributed batch: shard ids come from a
    tiny ≤num_shards-row collect; term pruning is a broadcast semi-join,
    the same shape the >_ISIN_PRUNE_LIMIT list path already uses)."""
    if isinstance(term_ids, DataFrame):
        shard_ids = sorted(
            r["s"] for r in term_ids.select(
                F.pmod(F.col("term_id"), F.lit(num_shards))
                .cast("int").alias("s")).distinct().collect())
        if len(shard_ids) < num_shards:
            df = df.filter(F.col("shard_id").isin(shard_ids))
        return df.join(F.broadcast(term_ids.select("term_id")),
                       "term_id", "left_semi")
    shard_ids = sorted({t % num_shards for t in term_ids})
    if len(shard_ids) < num_shards:
        df = df.filter(F.col("shard_id").isin(shard_ids))
    if len(term_ids) <= _ISIN_PRUNE_LIMIT:
        # row-group predicate pushdown on term_id
        return df.filter(term_in(term_ids))
    spark = df.sparkSession
    wanted = spark.createDataFrame([(int(t),) for t in term_ids],
                                   "term_id long")
    return df.join(F.broadcast(wanted), "term_id", "left_semi")


def _matched_segments(spark: SparkSession, index_dir: str,
                      term_ids, num_shards: int,
                      with_counts: bool = False) -> DataFrame:
    segs = read_table(spark, index_dir, "shards")
    cols = ["term_id", "range_id", "doc_lo", "payload"]
    if with_counts:
        cols.insert(3, "n_postings")
    return _prune_terms(segs, term_ids, num_shards).select(*cols)


def _term_dfs(index_dir: str, term_ids: list, num_shards: int) -> dict:
    """{term_id: df} of the given terms present in the index, read on the
    driver with pyarrow — no Spark job. Hive partition pruning on the
    term→shard route plus a term_id filter pushed down to the row groups:
    the same read the scoring workers use for dl and segment loads."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads
    ds = pads.dataset(os.path.join(index_dir, "terms"), format="parquet",
                      partitioning="hive")
    filt = pc.field("term_id").isin(term_ids)
    shard_ids = sorted({t % num_shards for t in term_ids})
    if len(shard_ids) < num_shards:
        filt = filt & pc.field("shard_id").isin(shard_ids)
    tbl = ds.to_table(columns=["term_id", "df"], filter=filt)
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
                                     qt: DataFrame, n_docs: int,
                                     with_df: bool = False) -> DataFrame:
    """Distributed twin of ``weighted_query_terms``: join the analyzed
    query terms against the ``terms/`` stats table executor-side instead
    of collecting per-term stats to the driver. Terms absent from the
    index and zero-weight terms drop, exactly as in the driver variant.
    The stats side is vocabulary-bounded (≤ hash_size rows), the qt side
    is batch-sized — a plain shuffle join AQE can re-plan."""
    stats = read_table(spark, index_dir, "terms").select("term_id", "df")
    idf = F.greatest(
        F.lit(0.0),
        F.log((F.lit(float(n_docs)) - F.col("df") + 0.5)
              / (F.col("df") + 0.5)))
    cols = ["query_id", "term_id", "w", "idf"]
    if with_df:
        cols.append("df")
    return (qt.join(stats, "term_id")
              .withColumn("idf", idf)
              .withColumn("w", F.log1p(F.col("qtf").cast("double"))
                          * F.col("idf"))
              .filter(F.col("w") > 0.0)
              .select(*cols))


import contextlib


@contextlib.contextmanager
def _arrow_conversions(spark: SparkSession):
    """Arrow-backed toPandas/createDataFrame for the scope (columnar
    batches instead of per-row pickling — measured ~1.6× on a 120k-row
    weighted-terms table); restores the caller's session conf."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        # restore only if the flag still holds OUR value: two scopes
        # interleaving on one session must not clobber each other's
        # restore (outermost-wins would re-disable a scope still active)
        if spark.conf.get(key, "false") == "true":
            spark.conf.set(key, old)


def resolve_analysis_mode(queries: DataFrame, analysis: str,
                          with_rows: bool = False):
    """'driver' | 'distributed' | 'auto' → concrete mode.

    with_rows=True returns (mode, rows_or_None). The auto probe first
    collects a BOUNDED limit(_DRIVER_ANALYZE_MAX+1) head, forced into a
    single all-partition job (spark.sql.limit.initialNumPartitions —
    the default staged take runs 1, 4, 16, … partitions = 3-4 jobs): a
    batch small enough for SERIAL driver analysis is then fully in hand
    with one tiny job and no second collect. A bigger batch escalates
    to a bounded COUNT with no row materialization (the old probe
    shipped up to THRESHOLD rows to the driver only to measure the
    batch's size — ~1.2 s of serial wall per 40k-query batch, pure
    per-batch fixed cost) to pick driver-resident-wqt vs fully
    distributed analysis."""
    rows = None
    if analysis in ("driver", "distributed"):
        mode = analysis
    elif analysis != "auto":
        raise ValueError(analysis)
    elif getattr(queries, "_w2d_probe", None) is not None:
        # same queries DataFrame object probed before (a serving loop
        # re-issuing one batch across paths/modes): the probe collect is
        # a pure function of the immutable DataFrame — reuse it instead
        # of re-running a 1-job collect per search call
        mode, rows = queries._w2d_probe
    elif queries.isLocal():
        # a LocalRelation batch is driver-resident already — no job
        # needed to know it is small (NOTE: list-built createDataFrame
        # goes through parallelize and is NOT local; only pandas/Arrow
        # input produces a LocalRelation)
        mode = "driver"
    else:
        spark = queries.sparkSession
        key = "spark.sql.limit.initialNumPartitions"
        old = spark.conf.get(key, "1")
        spark.conf.set(key, "1000000")
        try:
            rows = (queries.select("query_id", "query")
                    .limit(_DRIVER_ANALYZE_MAX + 1).collect())
            if len(rows) <= _DRIVER_ANALYZE_MAX:
                mode = "driver"
            else:
                n = (queries.select("query_id")
                     .limit(DISTRIBUTED_ANALYSIS_THRESHOLD + 1).count())
                mode = ("distributed"
                        if n > DISTRIBUTED_ANALYSIS_THRESHOLD
                        else "driver")
                rows = None
        finally:
            spark.conf.set(key, old)
        try:
            queries._w2d_probe = (mode, rows)
        except Exception:
            pass
    return (mode, rows) if with_rows else mode


def _strict_check_distributed(queries: DataFrame, qt: DataFrame) -> None:
    """B9 strict semantics for the distributed path: raise when any query
    analyzed to zero kept terms (tfidf_doc_ranker.py:98-103)."""
    missing = (queries.select("query_id", "query")
               .join(qt.select("query_id").distinct(), "query_id",
                     "left_anti").limit(1).collect())
    if missing:
        raise RuntimeError(f"No valid word in: {missing[0]['query']}")


def prepare_weighted_terms(spark: SparkSession, index_dir: str,
                           queries: DataFrame, config: IndexConfig,
                           n_docs: int, strict: bool, analysis: str,
                           build_qdf: bool = True):
    """Shared query-side prep for all three search paths.

    → (qdf, term_pred, wqt_pandas, n_queries_hint) where qdf is the
    weighted term DataFrame (query_id, term_id, w, idf), term_pred prunes
    the segment scan (list of term_ids, or a distinct-term DataFrame),
    wqt_pandas is the driver-resident weighted-terms table when the batch
    was analyzed driver-side (None in distributed mode — its presence IS
    the broadcastable signal), and n_queries_hint is the distinct query
    count when driver-known. Returns (None, None, None, 0) when no query
    term matches the index (driver mode only — in distributed mode
    emptiness propagates lazily)."""
    mode, head = resolve_analysis_mode(queries, analysis, with_rows=True)
    if mode == "driver":
        # a small auto-probed batch already delivered its rows (one
        # bounded job); a big auto-probed batch was only COUNTED and
        # goes straight to executor-side analysis; an explicit
        # analysis='driver' or a LocalRelation batch collects here —
        # one plain job, never a staged limit().collect() take
        # (1, 4, 16, … partitions = 3-4 extra jobs per call, measured
        # +0.5 s on the sf0.1 toy bench)
        probed_big = (head is None and analysis == "auto"
                      and not queries.isLocal())
        if head is None and not probed_big:
            head = queries.select("query_id", "query").collect()
        if probed_big or len(head) > _DRIVER_ANALYZE_MAX:
            # big-but-driver-sized batch: tokenization+weighting run
            # EXECUTOR-side (they scale with cores; serial driver
            # analysis of a 20k-query batch measured 2.6 s flat at any
            # parallelism) and only the SMALL weighted-terms result —
            # O(Q × matched terms) rows — collects back, preserving the
            # broadcast-closure scoring shape
            from pyspark import StorageLevel
            qt = analyze_queries(queries, config)
            if strict:
                qt = qt.persist(StorageLevel.MEMORY_AND_DISK)
                _strict_check_distributed(queries, qt)
            with _arrow_conversions(spark):
                wqt = weighted_query_terms_distributed(
                    spark, index_dir, qt, n_docs, with_df=True).toPandas()
            if strict:
                qt.unpersist()
            if wqt.empty:
                return None, None, None, 0
        else:
            qt = analyze_query_rows(head, config, strict=strict)
            if qt.empty:
                return None, None, None, 0
            wqt = weighted_query_terms(spark, index_dir, qt, n_docs,
                                       config.num_shards)
            if wqt.empty:
                return None, None, None, 0
        # the broadcast-closure scoring shape never touches qdf — a 40k
        # query batch's qdf cost ~1.1 s of serial driver wall per batch
        # for nothing (ranges passes build_qdf=False)
        qdf = None
        if build_qdf:
            with _arrow_conversions(spark):
                qdf = spark.createDataFrame(
                    wqt[["query_id", "term_id", "w", "idf"]],
                    "query_id long, term_id long, w double, idf double")
        return (qdf, sorted({int(t) for t in wqt["term_id"]}), wqt,
                int(wqt["query_id"].nunique()))
    from pyspark import StorageLevel
    qt = analyze_queries(queries, config).persist(
        StorageLevel.MEMORY_AND_DISK)
    if strict:
        _strict_check_distributed(queries, qt)
    qdf = weighted_query_terms_distributed(spark, index_dir, qt, n_docs)
    return qdf, qdf.select("term_id").distinct(), None, None


def _empty_result(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], RESULT_SCHEMA)


def attach_urls(spark: SparkSession, index_dir: str,
                topk: DataFrame) -> DataFrame:
    """url lookup + global order for DISTRIBUTED batches, whose top-k has
    no driver-known size bound: broadcast the top-k rows so the docs
    table is never shuffled (it is scanned whole, though). Driver-analyzed
    batches finish in one task instead — see finish_topk."""
    docs = read_table(spark, index_dir, "docs")
    return (docs.join(F.broadcast(topk), "doc_id")
                .select("query_id", "rank", "doc_id", "url", "score")
                .orderBy("query_id", "rank"))


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


def finish_topk(index_dir: str, cand: DataFrame, k: int) -> DataFrame:
    """Final top-k + url lookup of a DRIVER-ANALYZED batch in ONE task:
    candidates (query_id, doc_id, score) → repartition(1) → mapInPandas.
    The task merges with one numpy lexsort (topk_order), reads the urls
    of just the winning doc_ids (pushed-down doc_id filter), and emits
    rows already ordered by (query_id, rank). It replaces a query_id
    window, a broadcast join that scans the whole docs table, and a
    global sort — each its own Spark job(s). The batch is bounded (≤
    DISTRIBUTED_ANALYSIS_THRESHOLD queries), so its candidate set fits a
    task; distributed batches keep attach_urls. Docs absent from the
    docs table drop, as the join dropped them."""
    docs_path = os.path.join(index_dir, "docs")

    def run(it):
        parts = [pdf for pdf in it if len(pdf)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        qid = pdf["query_id"].to_numpy(dtype=np.int64)
        doc = pdf["doc_id"].to_numpy(dtype=np.int64)
        score = pdf["score"].to_numpy(dtype=np.float64)
        idx, rank = topk_order(qid, doc, score, k)
        if idx.size == 0:
            return
        found, urls = _lookup_urls(docs_path, doc[idx])
        idx, rank = idx[found], rank[found]
        yield pd.DataFrame({"query_id": qid[idx], "rank": rank,
                            "doc_id": doc[idx], "url": urls[found],
                            "score": score[idx]})

    return (cand.select("query_id", "doc_id", "score").repartition(1)
            .mapInPandas(run, RESULT_SCHEMA))


def search_exact(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    score_mode: str | None = None,
    strict: bool = False,
    analysis: str = "auto",
) -> DataFrame:
    """→ (query_id long, rank int, doc_id long, url string, score double).

    analysis: 'driver' (collect the query batch — the small-batch default),
    'distributed' (analysis + weighting stay executor-side for huge
    batches), or 'auto' (switch on DISTRIBUTED_ANALYSIS_THRESHOLD)."""
    manifest = Manifest(index_dir)
    config, stats = manifest.load()
    mode = score_mode or config.score_mode
    if mode not in ("drqa", "bm25"):
        raise ValueError(mode)
    n_docs = int(stats["n_docs"])
    avgdl = float(stats["avgdl"])
    k1, b = config.k1, config.b

    qdf, term_pred, wqt, _nq = prepare_weighted_terms(
        spark, index_dir, queries, config, n_docs, strict, analysis)
    if qdf is None:
        return _empty_result(spark)
    segs = _matched_segments(spark, index_dir, term_pred,
                             config.num_shards)
    joined = segs.join(F.broadcast(qdf) if wqt is not None else qdf,
                       "term_id")

    if mode == "drqa":
        out_schema = "query_id long, doc_id long, contrib double"
    else:
        out_schema = "query_id long, doc_id long, w double, tf double"

    def score_terms(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            outs = []
            for i in range(len(pdf)):
                docs, tfs = decode_postings(pdf["payload"].iloc[i])
                tfs = tfs.astype(np.float64)
                w = pdf["w"].iloc[i]
                if mode == "drqa":
                    contrib = w * pdf["idf"].iloc[i] * np.log1p(tfs)
                    outs.append(pd.DataFrame({
                        "query_id": np.full(docs.size, pdf["query_id"].iloc[i]),
                        "doc_id": docs.astype(np.int64),
                        "contrib": contrib,
                    }))
                else:
                    outs.append(pd.DataFrame({
                        "query_id": np.full(docs.size, pdf["query_id"].iloc[i]),
                        "doc_id": docs.astype(np.int64),
                        "w": np.full(docs.size, w),
                        "tf": tfs,
                    }))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    contribs = joined.mapInPandas(score_terms, schema=out_schema)

    # one exchange for BOTH the aggregation and the top-k window: an
    # explicit hash repartition on query_id satisfies the clustering
    # requirement of groupBy(query_id, doc_id) (subset partitioning) AND
    # of the query_id window, so the agg + window run in the same stage
    # — the naive plan paid two back-to-back Exchanges (one per key set)
    sp = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if mode == "drqa":
        scored = (contribs.repartition(sp, "query_id")
                  .groupBy("query_id", "doc_id")
                  .agg(F.sum("contrib").alias("score")))
    else:
        doclen = read_table(spark, index_dir, "doclen")
        with_dl = contribs.join(doclen, "doc_id")
        per_term = with_dl.withColumn(
            "contrib",
            F.col("w") * (F.col("tf") * (k1 + 1.0)) /
            (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)),
        )
        scored = (per_term.repartition(sp, "query_id")
                  .groupBy("query_id", "doc_id")
                  .agg(F.sum("contrib").alias("score")))

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id"))
    topk = (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))
    if wqt is not None:
        return finish_topk(index_dir, topk, k)
    return attach_urls(spark, index_dir, topk)
