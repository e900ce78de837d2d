"""Round-5 serving-path behavior: lazy executor-side dl loading, the
serving-mode segment cache (repeat batches on one build run without a
parquet scan or a shuffle), content-stable kernel cache keys, the
byte-bounded per-task cache, and session-state hygiene of the build."""

import pytest

from word2doc_spark.config import IndexConfig
from word2doc_spark.index.build import build_index
from word2doc_spark.sources.pages import synthetic_pages

CFG = IndexConfig(hash_size=2 ** 18, num_shards=4, block_size=64,
                  n_ranges=6, max_seg_postings=64)

QUERIES = [(1, "spark shuffle partition"), (2, "posting wand block"),
           (3, "crawl warc fetch html"), (4, "hash bucket collision idf")]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("servidx"))
    build_index(spark, synthetic_pages(spark, 220, num_partitions=4),
                index_dir, CFG, input_token="serving")
    return index_dir


# ---------------------------------------------------------------------------
# lazy dl loading
# ---------------------------------------------------------------------------

def test_dl_for_ranges_matches_doclen_table(spark, built):
    """The pyarrow-side lazy loader must reproduce the plain doclen
    table (doc_id, dl) exactly, per range and combined."""
    import numpy as np
    from word2doc_spark.index.manifest import Manifest
    from word2doc_spark.query.ranges import _dl_for_ranges

    _, stats = Manifest(built).load()
    n_ranges = -(-int(stats["n_docs"]) // int(stats["range_width"]))
    rows = (spark.read.parquet(f"{built}/doclen")
            .orderBy("doc_id").collect())
    want_docs = np.array([r["doc_id"] for r in rows])
    want_dl = np.array([r["dl"] for r in rows], dtype=np.float64)

    dl = _dl_for_ranges(built, None, list(range(n_ranges)))
    assert np.array_equal(dl.docs, want_docs)
    assert np.array_equal(dl.vals, want_dl)
    # subset request returns exactly that range's slice
    width = int(stats["range_width"])
    one = _dl_for_ranges(built, None, [1])
    m = (want_docs >= width) & (want_docs < 2 * width)
    assert np.array_equal(one.docs, want_docs[m])
    assert np.array_equal(one.vals, want_dl[m])


def test_dl_for_ranges_caches_per_range(built):
    from word2doc_spark.query import ranges as R
    R._DL_CACHE.clear()
    R._DL_CACHE_BYTES[0] = 0
    dl1 = R._dl_for_ranges(built, "bid-test", [0, 2])
    assert ("bid-test", 0) in R._DL_CACHE
    assert ("bid-test", 2) in R._DL_CACHE
    # warm call must not re-read: poison the loader and expect a hit
    orig = R._load_dl_ranges
    R._load_dl_ranges = lambda *a: (_ for _ in ()).throw(
        AssertionError("re-read on warm cache"))
    try:
        dl2 = R._dl_for_ranges(built, "bid-test", [0, 2])
    finally:
        R._load_dl_ranges = orig
    import numpy as np
    assert np.array_equal(dl1.docs, dl2.docs)
    R._DL_CACHE.clear()
    R._DL_CACHE_BYTES[0] = 0


def test_dl_for_ranges_raises_on_missing_range(built):
    from word2doc_spark.query.ranges import _dl_for_ranges
    with pytest.raises(RuntimeError, match="no doclen_seg blobs"):
        _dl_for_ranges(built, None, [9999])


# ---------------------------------------------------------------------------
# serving-mode segment cache
# ---------------------------------------------------------------------------

def test_serving_cache_identical_results_and_no_exchange(
        spark, built, monkeypatch):
    """Serving mode (JVM-persisted segment table): calls 1..3 on one
    build return identical rows; from call 2 the slot-keyed full segment
    table is persisted, and the warm plan has an InMemoryTableScan with
    NO _g exchange (the in-memory table already carries the hash
    partitioning the scoring stage needs)."""
    from tests.test_plans import plan_of
    from word2doc_spark.query import ranges as R
    from word2doc_spark.query.fast import search_fast

    for key in list(R._SEG_CACHE):
        R._SEG_CACHE.pop(key).unpersist()
    R._SEG_CACHE_SEEN.clear()

    qdf = spark.createDataFrame(QUERIES, "query_id long, query string")

    def rows(df):
        return [(r["query_id"], r["rank"], r["doc_id"],
                 round(r["score"], 9)) for r in df.collect()]

    r1 = rows(search_fast(spark, built, qdf, k=5, score_mode="bm25"))
    assert len(R._SEG_CACHE) == 0  # first call: no warm-up yet
    r2 = rows(search_fast(spark, built, qdf, k=5, score_mode="bm25"))
    assert len(R._SEG_CACHE) == 1  # second call warmed the cache
    res3 = search_fast(spark, built, qdf, k=5, score_mode="bm25")
    r3 = rows(res3)
    assert r1 == r2 == r3 and len(r1) > 0

    plan = plan_of(res3)
    assert "InMemoryTableScan" in plan
    # the per-batch execution path from the scoring stage down to the
    # cached table must contain NO exchange (the only hashpartitioning
    # on _g sits INSIDE the InMemoryRelation's one-time materialization
    # plan); first occurrences are in the Final Plan tree
    seg = plan[plan.index("FlatMapGroupsInPandas"):
               plan.index("InMemoryTableScan")]
    assert "Exchange" not in seg and "ShuffleQueryStage" not in seg

    # cold plan (index over the serving-cache byte budget) reads the
    # segments from parquet and DOES pay the _g exchange — the assertion
    # above is a real discriminator, not vacuous
    with monkeypatch.context() as m:
        m.setattr(R, "_SEG_CACHE_MAX_BYTES", -1)
        cold = plan_of(search_fast(spark, built, qdf, k=5,
                                   score_mode="bm25"))
        assert "hashpartitioning(_g" in cold
        assert "InMemoryTableScan" not in cold
        # drqa over the same cache stays rank-identical to its cold run
        cold_rows = rows(search_fast(spark, built, qdf, k=5,
                                     score_mode="drqa"))
    warm_rows = rows(search_fast(spark, built, qdf, k=5,
                                 score_mode="drqa"))
    assert cold_rows == warm_rows

    for key in list(R._SEG_CACHE):
        R._SEG_CACHE.pop(key).unpersist()
    R._SEG_CACHE_SEEN.clear()


def test_serving_cache_evicts_oldest_build(spark, built, tmp_path_factory):
    from word2doc_spark.query import ranges as R
    from word2doc_spark.query.fast import search_fast

    other_dir = str(tmp_path_factory.mktemp("servidx2"))
    build_index(spark, synthetic_pages(spark, 60, num_partitions=2),
                other_dir, CFG, input_token="serving2")
    for key in list(R._SEG_CACHE):
        R._SEG_CACHE.pop(key).unpersist()
    R._SEG_CACHE_SEEN.clear()
    qdf = spark.createDataFrame(QUERIES, "query_id long, query string")
    old_max = R._SEG_CACHE_MAX_ENTRIES
    R._SEG_CACHE_MAX_ENTRIES = 1
    try:
        for _ in range(2):
            search_fast(spark, built, qdf, k=3, score_mode="drqa").count()
        assert len(R._SEG_CACHE) == 1
        for _ in range(2):
            search_fast(spark, other_dir, qdf, k=3,
                        score_mode="drqa").count()
        assert len(R._SEG_CACHE) == 1  # old build evicted, new one in
    finally:
        R._SEG_CACHE_MAX_ENTRIES = old_max
        for key in list(R._SEG_CACHE):
            R._SEG_CACHE.pop(key).unpersist()
        R._SEG_CACHE_SEEN.clear()


# ---------------------------------------------------------------------------
# content-stable kernel cache keys
# ---------------------------------------------------------------------------

def test_kernel_cache_hits_across_distinct_payload_objects(monkeypatch):
    """Two equal-content but DISTINCT bytes objects with the same chain
    key must hit the same cache entry (the r4 id()-keyed design decoded
    again — or worse, could alias a reused id). Decode must run once."""
    import numpy as np
    from word2doc_spark import index as _  # noqa: F401
    from word2doc_spark.index.postings import encode_postings
    from word2doc_spark.query import fast as Fm
    from word2doc_spark.query import wand as Wm

    docs = np.arange(0, 500, 2, dtype=np.uint64)
    tfs = np.ones(docs.size, dtype=np.uint64)
    payload = encode_postings(docs, tfs, 64)
    p1, p2 = bytes(payload), bytes(bytearray(payload))
    assert p1 is not p2 and p1 == p2

    calls = {"n": 0}
    orig = Fm.decode_postings

    def counting(b):
        calls["n"] += 1
        return orig(b)

    monkeypatch.setattr(Fm, "decode_postings", counting)
    cache: dict = {}
    a = Fm.fast_topk([(1.0, 2.0, [p1], ("t", 7))], 3, "drqa", 1.2, 0.75,
                     10.0, None, cache=cache)
    b = Fm.fast_topk([(1.0, 2.0, [p2], ("t", 7))], 3, "drqa", 1.2, 0.75,
                     10.0, None, cache=cache)
    assert a == b and calls["n"] == 1

    # wand: same chain key, distinct payload objects → one directory
    # parse, one block decode per touched block
    cache2: dict = {}
    Wm.reset_stats()
    r1 = Wm.wand_topk([(1.0, 2.0, [p1], ("t", 7))], 3, "drqa", 1.2, 0.75,
                      10.0, None, cache=cache2)
    decoded_first = Wm.get_stats()["blocks_decoded"]
    r2 = Wm.wand_topk([(1.0, 2.0, [p2], ("t", 7))], 3, "drqa", 1.2, 0.75,
                      10.0, None, cache=cache2)
    assert r1 == r2
    assert Wm.get_stats()["blocks_decoded"] == decoded_first

    # no-explicit-key fallback is the payload content itself, not id()
    cache3: dict = {}
    x = Fm.fast_topk([(1.0, 2.0, [p1])], 3, "drqa", 1.2, 0.75, 10.0,
                     None, cache=cache3)
    y = Fm.fast_topk([(1.0, 2.0, [p2])], 3, "drqa", 1.2, 0.75, 10.0,
                     None, cache=cache3)
    assert x == y and calls["n"] == 2  # p1 decoded once more, p2 hit


def test_no_id_keyed_caches_in_kernels():
    """Regression guard for the r4 ADVICE item: no id(...) call may
    appear in kernel code (comments/docstrings excluded via tokenizer)."""
    import io
    import tokenize
    for mod in ("query/fast.py", "query/wand.py", "query/ranges.py"):
        src = open(f"word2doc_spark/{mod}").read()
        toks = list(tokenize.generate_tokens(io.StringIO(src).readline))
        for i, t in enumerate(toks):
            if t.type == tokenize.NAME and t.string == "id":
                nxt = toks[i + 1]
                assert not (nxt.type == tokenize.OP
                            and nxt.string == "("), (mod, t.start)


# byte budgets are the only environment settings the library reads: an
# env flag that picks an algorithm doubles the configurations every test
# and benchmark must cover
_ENV_BUDGETS = {"W2D_DL_CACHE_MAX_BYTES", "W2D_SEG_CACHE_MAX_BYTES",
                "W2D_TASK_CACHE_MAX_BYTES", "W2D_GROUP_BUDGET"}


def test_env_reads_are_byte_budgets_only():
    import pathlib
    import re
    read = re.compile(r"""(?:environ\.get|getenv|environ\.setdefault"""
                      r"""|environ\[)\s*\(?\s*["'](W2D_\w+)["']""")
    pkg = pathlib.Path(__file__).resolve().parent.parent / "word2doc_spark"
    found = {}
    for path in sorted(pkg.rglob("*.py")):
        for name in read.findall(path.read_text()):
            found.setdefault(name, []).append(path.name)
    assert found, "no W2D_* env read found — is the pattern stale?"
    extra = {n: f for n, f in found.items() if n not in _ENV_BUDGETS}
    assert not extra, f"env reads beyond the byte budgets: {extra}"


# ---------------------------------------------------------------------------
# byte-bounded per-task cache
# ---------------------------------------------------------------------------

def test_task_cache_evicts_oldest_charged():
    from word2doc_spark.query.kcache import TaskCache
    c = TaskCache(budget=100)
    for i in range(5):
        c[("blk", i)] = i
        c.charge(("blk", i), 30)
    # 5 × 30 B > 100 B → the two oldest were evicted
    assert ("blk", 0) not in c and ("blk", 1) not in c
    assert all(("blk", i) in c for i in (2, 3, 4))
    assert c.charged_bytes() <= 100
    # uncharged entries are never evicted
    c["meta"] = "x"
    for i in range(5, 10):
        c[("blk", i)] = i
        c.charge(("blk", i), 30)
    assert c["meta"] == "x"
    # re-charging an existing key replaces its accounting
    c.charge(("blk", 9), 90)
    assert c.charged_bytes() <= 100


def test_task_cache_never_evicts_current_key():
    from word2doc_spark.query.kcache import TaskCache
    c = TaskCache(budget=10)
    c["a"] = 1
    c.charge("a", 50)  # over budget but alone — stays
    assert "a" in c
    c["b"] = 2
    c.charge("b", 60)  # evicts a, keeps b even though still over
    assert "a" not in c and "b" in c


# ---------------------------------------------------------------------------
# candidate packing + build session hygiene
# ---------------------------------------------------------------------------

def test_pack_candidates_query_id_overflow_guard():
    from word2doc_spark.query.ranges import _pack_candidates
    ok = _pack_candidates([(1 << 53) - 1], [5], [0.5], n_qb=8)
    assert len(ok) == 1
    with pytest.raises(OverflowError, match="query_id"):
        _pack_candidates([1 << 53], [5], [0.5], n_qb=8)


def test_build_restores_conf_on_failure(spark, tmp_path):
    key = "spark.sql.inMemoryColumnarStorage.compressed"
    before = spark.conf.get(key, "true")

    def boom(text):
        raise ValueError("plugin failure")

    with pytest.raises(Exception):
        build_index(spark, synthetic_pages(spark, 30, num_partitions=2),
                    str(tmp_path / "failidx"), CFG,
                    input_token="conf-fail", preprocess=boom)
    assert spark.conf.get(key, "true") == before


def test_wqt_groups_matches_pandas_groupby_and_handles_empty():
    import numpy as np
    import pandas as pd
    from word2doc_spark.query.ranges import _wqt_groups

    rng = np.random.default_rng(11)
    n = 3000
    wqt = pd.DataFrame({
        "query_id": rng.integers(0, 500, n),
        "term_id": rng.integers(0, 8000, n),
        "w": rng.random(n),
        "idf": rng.random(n),
    })
    qids, offs, tids, w, idf = _wqt_groups(wqt)
    got = [(int(qids[i]),
            list(zip(tids[offs[i]:offs[i + 1]].tolist(),
                     w[offs[i]:offs[i + 1]].tolist(),
                     idf[offs[i]:offs[i + 1]].tolist())))
           for i in range(len(qids))]
    want = []
    for qid, grp in wqt.sort_values(["query_id", "term_id"]).groupby(
            "query_id", sort=True):
        want.append((int(qid), list(zip(
            grp["term_id"].astype(int), grp["w"].astype(float),
            grp["idf"].astype(float)))))
    assert len(got) == len(want)
    for (qa, ta), (qb, tb) in zip(got, want):
        assert qa == qb
        assert [(int(x), float(y), float(z)) for x, y, z in ta] == \
               [(int(x), float(y), float(z)) for x, y, z in tb]
    # empty batch (all-stopword queries) must not crash
    e_q, e_off, e_t, _, _ = _wqt_groups(wqt.iloc[0:0])
    assert len(e_q) == 0 and len(e_t) == 0 and e_off.tolist() == [0]


def test_align_to_pack():
    import numpy as np
    from word2doc_spark.query.ranges import _align_to_pack

    qids = np.array([3, 7, 10, 50], dtype=np.int64)
    out = _align_to_pack(qids, [7, 50, 99], [1.5, 2.5, 9.9],
                         default=-1.0, dtype=np.float64)
    assert out.tolist() == [-1.0, 1.5, -1.0, 2.5]  # 99 not in pack
    out = _align_to_pack(qids, [], [], default=-1, dtype=np.int64)
    assert out.tolist() == [-1, -1, -1, -1]
    # key beyond the last pack qid must not index out of bounds
    out = _align_to_pack(qids, [51, 3], [8, 4], default=-1,
                         dtype=np.int64)
    assert out.tolist() == [4, -1, -1, -1]


def test_stale_dataframe_survives_broadcast_drain(spark, built):
    """A caller may lawfully execute a PREVIOUS search's lazy DataFrame
    after a newer search call has drained the pending broadcasts — the
    drain must unpersist (re-broadcast on demand), never destroy."""
    from word2doc_spark.query.fast import search_fast

    qdf = spark.createDataFrame(QUERIES, "query_id long, query string")
    df1 = search_fast(spark, built, qdf, k=3, score_mode="drqa")
    want = sorted((r["query_id"], r["rank"], r["doc_id"])
                  for r in df1.collect())
    assert want
    # a second search drains df1's broadcast...
    search_fast(spark, built, qdf.limit(2), k=3,
                score_mode="drqa").count()
    # ...and df1 must still re-execute to identical rows
    got = sorted((r["query_id"], r["rank"], r["doc_id"])
                 for r in df1.collect())
    assert got == want
