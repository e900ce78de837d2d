"""Skew differential (SURVEY.md §5.4): the range-segmented build must
produce the same logical postings regardless of segmentation config, on a
corpus with a planted head term (~55% of docs contain HEAD_TERM) — i.e.
doc-range salting is a pure physical rewrite.

Also asserts the head term is actually split across multiple segments
(the salting really happened) and that no parquet cell outgrows the
max_seg_postings bound."""

import os

from word2doc_spark.config import IndexConfig
from word2doc_spark.index.build import build_index
from word2doc_spark.index.postings import decode_postings
from word2doc_spark.sources.pages import synthetic_pages


def _postings_map(spark, index_dir):
    """term_id -> (df, [doc_ids], [tfs]) reconstructed from segment rows."""
    rows = (spark.read.parquet(os.path.join(index_dir, "shards"))
            .select("term_id", "range_id", "seg_id", "n_postings", "payload")
            .collect())
    segs: dict[int, list] = {}
    for r in rows:
        segs.setdefault(r["term_id"], []).append(r)
    dfs = {r["term_id"]: r["df"]
           for r in spark.read.parquet(os.path.join(index_dir, "terms"))
           .select("term_id", "df").collect()}
    out = {}
    for t, lst in segs.items():
        lst.sort(key=lambda r: (r["range_id"], r["seg_id"]))
        docs, tfs = [], []
        for r in lst:
            d, f = decode_postings(bytes(r["payload"]))
            docs.extend(d.tolist())
            tfs.extend(f.tolist())
        assert dfs[t] == len(docs)
        out[t] = (dfs[t], docs, tfs)
    return out


def test_segmented_build_identical_to_single_range(spark, tmp_path):
    pages = synthetic_pages(spark, 200, num_partitions=4)
    base = IndexConfig(hash_size=2 ** 18, num_shards=4, block_size=64)

    # single range, huge segments: one segment per term (unsalted shape)
    dir_a = str(tmp_path / "a")
    build_index(spark, pages, dir_a,
                IndexConfig(**{**base.to_dict(), "n_ranges": 1,
                               "max_seg_postings": 10 ** 9, "extras": {}}),
                input_token="skew")
    # many ranges + tiny segment cap: heavy splitting
    dir_b = str(tmp_path / "b")
    build_index(spark, pages, dir_b,
                IndexConfig(**{**base.to_dict(), "n_ranges": 8,
                               "max_seg_postings": 16, "extras": {}}),
                input_token="skew")

    a = _postings_map(spark, dir_a)
    b = _postings_map(spark, dir_b)
    assert a.keys() == b.keys()
    assert a == b  # df, doc order, tfs — everything identical


def test_head_term_actually_segmented(spark, tmp_path):
    pages = synthetic_pages(spark, 200, num_partitions=4)
    d = str(tmp_path / "c")
    build_index(spark, pages, d,
                IndexConfig(hash_size=2 ** 18, num_shards=4, block_size=64,
                            n_ranges=8, max_seg_postings=16),
                input_token="skew2")
    import pyspark.sql.functions as F
    segs = spark.read.parquet(os.path.join(d, "shards"))
    per_term = (segs.groupBy("term_id")
                .agg(F.count("*").alias("n_segs"),
                     F.max("n_postings").alias("max_seg"))
                .collect())
    # the planted head term (and bigrams around it) must split
    assert max(r["n_segs"] for r in per_term) > 1
    # no cell ever exceeds the segment cap
    assert all(r["max_seg"] <= 16 for r in per_term)


def test_query_identity_across_segmentation(spark, tmp_path,
                                            scoring_gate):
    """All three query paths, each in both shapes, return identical
    results on physically different segmentations of the same corpus
    (n_ranges/max_seg are pure layout knobs)."""
    import math
    from word2doc_spark.query.exact import search_exact
    from word2doc_spark.query.fast import search_fast
    from word2doc_spark.query.wand import search_wand

    pages = synthetic_pages(spark, 150, num_partitions=4)
    base = IndexConfig(hash_size=2 ** 18, num_shards=4, block_size=64)
    dirs = []
    for name, nr, ms in (("one", 1, 10 ** 9), ("many", 8, 16)):
        d = str(tmp_path / name)
        build_index(spark, pages, d,
                    IndexConfig(**{**base.to_dict(), "n_ranges": nr,
                                   "max_seg_postings": ms, "extras": {}}),
                    input_token="qident")
        dirs.append(d)
    qdf = spark.createDataFrame(
        [(1, "spark shuffle partition"), (2, "webscale crawl"),
         (3, "posting wand block heap")],
        "query_id long, query string")
    key = lambda r: (r["query_id"], r["rank"])
    for fn, on in [(fn, on)
                   for fn in (search_exact, search_fast, search_wand)
                   for on in (True, False)]:
        scoring_gate(on)
        a = sorted(fn(spark, dirs[0], qdf, k=8, score_mode="bm25").collect(),
                   key=key)
        b = sorted(fn(spark, dirs[1], qdf, k=8, score_mode="bm25").collect(),
                   key=key)
        assert [(r["query_id"], r["rank"], r["doc_id"]) for r in a] == \
               [(r["query_id"], r["rank"], r["doc_id"]) for r in b], \
            (fn, on)
        for x, y in zip(a, b):
            assert math.isclose(x["score"], y["score"], rel_tol=1e-9)
