"""Serving-path behavior: lazy executor-side dl loading, the
serving-mode segment cache (repeat batches on one build run without a
parquet scan or a shuffle; keyed by the live session; warmed by
driver-shape searches too), the driver shape's size rule,
content-stable kernel cache keys, the byte-bounded per-task cache, and
session hygiene: no build or search writes session conf, and a search's
materializations are released with its result."""

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
        spark, built, monkeypatch, scoring_gate):
    """Serving mode (JVM-persisted segment table): calls 1..3 on one
    build return identical rows; from call 2 the slot-keyed full segment
    table is persisted, and the warm plan has an InMemoryTableScan with
    NO _g exchange (the in-memory table already carries the hash
    partitioning the scoring stage needs)."""
    from tests.test_plans import plan_of
    from word2doc_spark.query import ranges as R
    from word2doc_spark.query.fast import search_fast

    scoring_gate(False)

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


def test_serving_cache_evicts_oldest_build(spark, built, tmp_path_factory,
                                           scoring_gate):
    from word2doc_spark.query import ranges as R
    from word2doc_spark.query.fast import search_fast

    scoring_gate(False)

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


def test_library_threads_are_inheritable():
    """Library threads submit Spark jobs, so they must carry the
    caller's thread-local properties (job group, scheduler pool):
    pyspark.InheritableThread, never a plain threading.Thread."""
    import pathlib
    pkg = pathlib.Path(__file__).resolve().parent.parent / "word2doc_spark"
    hits = [f"{path.relative_to(pkg)}:{i}"
            for path in sorted(pkg.rglob("*.py"))
            for i, line in enumerate(path.read_text().splitlines(), 1)
            if "threading.Thread(" in line]
    assert not hits, f"plain threads: {hits}"


def test_build_jobs_stay_in_the_callers_job_group(spark, tmp_path,
                                                  monkeypatch):
    """Every job a build submits — from its concurrent-job threads, its
    dl thread and its python-worker warm-up too — lands in the job group
    the caller set, so the caller's cancelJobGroup reaches all of them."""
    from word2doc_spark.index import build as B

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # the warm-up runs once per application: make this build run it
    monkeypatch.setattr(B, "_WARMED_SESSIONS", set())
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("caller", "job-group test build")
    try:
        build_index(spark, synthetic_pages(spark, 40, num_partitions=2),
                    str(tmp_path / "idx"), CFG, input_token="job-group")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert tracker.getJobIdsForGroup("caller")
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_library_writes_no_session_conf():
    """Session conf belongs to the caller: a library write of it races
    every other thread on the same SparkSession. Per-call APIs (writer
    options, toArrow, createDataFrame of a pyarrow.Table) replace it."""
    import pathlib
    pkg = pathlib.Path(__file__).resolve().parent.parent / "word2doc_spark"
    hits = [f"{path.relative_to(pkg)}:{i}"
            for path in sorted(pkg.rglob("*.py"))
            for i, line in enumerate(path.read_text().splitlines(), 1)
            if ".conf.set(" in line or ".conf.unset(" in line]
    assert not hits, f"session conf writes: {hits}"


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


def _recording_release(monkeypatch, owned, unpersisted):
    """Patch ranges.release_with to record each resource a search result
    takes ownership of, and every unpersist call made on one."""
    from word2doc_spark.query import ranges as R
    real_release = R.release_with

    def recording(owner, *resources):
        for r in resources:
            real = r.unpersist

            def counted(*a, _real=real, _r=r, **kw):
                unpersisted.append(_r)
                return _real(*a, **kw)
            r.unpersist = counted
        owned.extend(resources)
        return real_release(owner, *resources)
    monkeypatch.setattr(R, "release_with", recording)


def test_derived_dataframe_survives_result_release(spark, built,
                                                   monkeypatch,
                                                   scoring_gate):
    """A Spark-shape search result owns exactly its query-pack broadcast,
    which is unpersisted when the result is garbage collected. Release
    is unpersist, never destroy — a DataFrame derived from the result
    must still re-execute to identical rows after it is gone."""
    import gc
    from pyspark.broadcast import Broadcast
    from word2doc_spark.query import ranges as R
    from word2doc_spark.query.wand import search_wand

    owned, unpersisted = [], []
    _recording_release(monkeypatch, owned, unpersisted)
    # Spark shape, no serving table
    scoring_gate(False)
    monkeypatch.setattr(R, "_SEG_CACHE_MAX_BYTES", -1)
    qdf = spark.createDataFrame(QUERIES, "query_id long, query string")
    res = search_wand(spark, built, qdf, k=3, score_mode="drqa")
    derived = res.select("query_id", "rank", "doc_id")
    want = sorted(tuple(r) for r in derived.collect())
    assert want
    assert len(owned) == 1 and isinstance(owned[0], Broadcast)
    assert unpersisted == []
    del res
    gc.collect()
    assert unpersisted == owned
    assert sorted(tuple(r) for r in derived.collect()) == want


def test_sliced_search_releases_what_it_persists(spark, built,
                                                monkeypatch, slicing,
                                                scoring_gate):
    """A multi-slice search persists the analyzed batch for its strict
    check and the weighted slices while it collects them — both are
    released before it returns — and each slice's query-pack broadcast,
    which the result owns until it is garbage collected. Once the result
    is collected and dropped, every broadcast has been unpersisted and
    the session's persisted-RDD count is back at its baseline."""
    import gc
    from pyspark.broadcast import Broadcast
    from word2doc_spark.query import ranges as R
    from word2doc_spark.query.wand import search_wand

    def n_persisted():
        gc.collect()
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    owned, unpersisted = [], []
    _recording_release(monkeypatch, owned, unpersisted)
    # Spark shape, no serving table: nothing outlives the call but the
    # result's broadcasts
    scoring_gate(False)
    monkeypatch.setattr(R, "_SEG_CACHE_MAX_BYTES", -1)
    qdf = spark.createDataFrame(QUERIES, "query_id long, query string")
    want = sorted(tuple(r) for r in search_wand(
        spark, built, qdf, k=3, score_mode="drqa").collect())
    gc.collect()
    owned.clear()
    unpersisted.clear()
    before = n_persisted()
    slicing(1)
    res = search_wand(spark, built, qdf, k=3, score_mode="drqa",
                      strict=True)
    # one broadcast per scored slice; the slice collects' persists are
    # already released
    assert len(owned) >= 2
    assert all(isinstance(r, Broadcast) for r in owned)
    assert n_persisted() == before
    got = sorted(tuple(r) for r in res.collect())
    assert [g[:3] for g in got] == [w[:3] for w in want]
    assert unpersisted == []
    del res
    assert n_persisted() == before
    assert sorted(map(id, unpersisted)) == sorted(map(id, owned))


def test_release_with_unpersists_when_owner_is_collected(spark):
    import gc
    from pyspark import StorageLevel
    from word2doc_spark.lifetime import materialize, release_with

    cached = materialize(spark.range(50).selectExpr("id * 3 AS x"))
    owner = release_with(spark.range(3), cached)
    assert cached.storageLevel != StorageLevel.NONE
    del owner
    gc.collect()
    assert cached.storageLevel == StorageLevel.NONE
    assert not cached.is_cached


def test_serving_segs_concurrent_warmup_persists_once(spark, built,
                                                      monkeypatch):
    """Two threads making their second call on one build: only one may
    persist the full segment table. A barrier inside the table read
    holds every racer that got past the cache lookup; the lock lets
    exactly one through, so the barrier times out instead."""
    import threading
    from word2doc_spark.index.manifest import Manifest
    from word2doc_spark.query import ranges as R

    for key in list(R._SEG_CACHE):
        R._SEG_CACHE.pop(key).unpersist()
    R._SEG_CACHE_SEEN.clear()
    _, stats = Manifest(built).load()
    bid, sp = stats["build_id"], 8
    key = (spark.sparkContext.applicationId, bid, sp)
    R._SEG_CACHE_SEEN[key] = 1  # the first call ran already
    barrier = threading.Barrier(2, timeout=3)
    reads = []
    real_read = R.read_table

    def read_table(*a, **kw):
        reads.append(a)
        try:
            barrier.wait()
        except threading.BrokenBarrierError:
            pass
        return real_read(*a, **kw)

    monkeypatch.setattr(R, "read_table", read_table)
    got = [None, None]

    def call(i):
        got[i] = R._serving_segs(spark, built, bid, sp,
                                 stats["index_bytes"])

    threads = [threading.Thread(target=call, args=(i,)) for i in (0, 1)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        assert len(reads) == 1
        assert len(R._SEG_CACHE) == 1
        assert got[0] is got[1] is R._SEG_CACHE[key]
    finally:
        for df in {id(d): d for d in got + list(R._SEG_CACHE.values())
                   if d is not None}.values():
            df.unpersist()
        R._SEG_CACHE.clear()
        R._SEG_CACHE_SEEN.clear()


def _clear_seg_cache():
    from word2doc_spark.query import ranges as R
    for key in list(R._SEG_CACHE):
        R._SEG_CACHE.pop(key).unpersist()
    R._SEG_CACHE_SEEN.clear()


def test_driver_searches_warm_the_serving_table(spark, built,
                                                scoring_gate):
    """Every driver-analyzed search counts toward the serving table's
    warm-up, whichever shape scores it: two driver-shape calls persist the
    table lazily (they run only their analysis probes), and a later
    Spark-shape batch scores from it, with the driver shape's rows."""
    from tests.test_plans import _jobs_of_call, plan_of
    from word2doc_spark.query import ranges as R
    from word2doc_spark.query.fast import search_fast

    _clear_seg_cache()
    qdf = spark.createDataFrame(QUERIES, "query_id long, query string")

    def rows(df):
        return sorted((r["query_id"], r["rank"], r["doc_id"], r["url"],
                       round(r["score"], 9)) for r in df.collect())

    scoring_gate(True)
    got = []
    n_jobs, _ = _jobs_of_call(spark, lambda: got.extend(
        rows(search_fast(spark, built, qdf, k=5, score_mode="bm25"))
        for _ in range(2)))
    assert n_jobs == 2  # the two probes; the persist ran nothing
    assert got[0] == got[1] and got[0]
    assert len(R._SEG_CACHE) == 1
    scoring_gate(False)
    res = search_fast(spark, built, qdf, k=5, score_mode="bm25")
    assert "InMemoryTableScan" in plan_of(res)
    assert rows(res) == got[0]
    _clear_seg_cache()


def test_serving_cache_forgets_stopped_sessions(spark, built):
    """Both serving-cache dicts key on the live session's applicationId:
    what a stopped session left for the same (build, sp) is dropped and
    never handed out; a key promoted into the cache leaves the warm-up
    counts."""
    from word2doc_spark.index.manifest import Manifest
    from word2doc_spark.query import ranges as R

    _clear_seg_cache()
    _, stats = Manifest(built).load()
    bid, sp, nbytes = stats["build_id"], 8, stats["index_bytes"]
    live = (spark.sparkContext.applicationId, bid, sp)
    stale = spark.range(1)  # stands in for a stopped session's table
    R._SEG_CACHE[("app-stopped", bid, sp)] = stale
    R._SEG_CACHE_SEEN[("app-stopped", bid, sp)] = 7
    try:
        assert R._serving_segs(spark, built, bid, sp, nbytes) is None
        assert not R._SEG_CACHE
        assert list(R._SEG_CACHE_SEEN) == [live]
        table = R._serving_segs(spark, built, bid, sp, nbytes)
        assert table is not None and table is not stale
        assert list(R._SEG_CACHE) == [live] and not R._SEG_CACHE_SEEN
    finally:
        _clear_seg_cache()


def test_serving_cache_warmup_counts_stay_bounded(spark, built):
    """One-shot searches over many builds leave at most
    _SEG_CACHE_MAX_ENTRIES warm-up counts behind."""
    from word2doc_spark.query import ranges as R

    _clear_seg_cache()
    for i in range(3 * R._SEG_CACHE_MAX_ENTRIES):
        assert R._serving_segs(spark, built, f"build-{i}", 8, 0) is None
    assert len(R._SEG_CACHE_SEEN) == R._SEG_CACHE_MAX_ENTRIES
    assert not R._SEG_CACHE
    _clear_seg_cache()


def test_worker_warmup_keyed_by_application_id(spark):
    from word2doc_spark.index import build as B
    th = B._warm_python_workers(spark)
    if th is not None:
        th.join()
    assert spark.sparkContext.applicationId in B._WARMED_SESSIONS
    assert B._warm_python_workers(spark) is None


def test_driver_gate_is_matched_postings_bound(spark, built, monkeypatch):
    """A driver-analyzed batch takes the driver shape exactly when Σ df
    over its (query, term) rows is within its path's rule (the kernel's
    driver_max_postings, exact's DRIVER_MAX_POSTINGS); its result is
    then a local relation."""
    from word2doc_spark.index.manifest import Manifest
    from word2doc_spark.query import exact
    from word2doc_spark.query.exact import (prepare_weighted_terms,
                                            search_exact)
    from word2doc_spark.query.fast import fast_topk, search_fast
    from word2doc_spark.query.wand import search_wand, wand_topk

    config, stats = Manifest(built).load()
    qdf = spark.createDataFrame(QUERIES, "query_id long, query string")
    (wqt,) = prepare_weighted_terms(spark, built, qdf, config,
                                    int(stats["n_docs"]), False)
    bound = int(wqt["df"].sum())
    for kernel, search in ((fast_topk, search_fast),
                           (wand_topk, search_wand)):
        monkeypatch.setattr(kernel, "driver_max_postings", bound)
        assert search(spark, built, qdf, k=3).isLocal()
        monkeypatch.setattr(kernel, "driver_max_postings", bound - 1)
        assert not search(spark, built, qdf, k=3).isLocal()
    monkeypatch.setattr(exact, "DRIVER_MAX_POSTINGS", bound)
    assert search_exact(spark, built, qdf, k=3).isLocal()
    monkeypatch.setattr(exact, "DRIVER_MAX_POSTINGS", bound - 1)
    assert not search_exact(spark, built, qdf, k=3).isLocal()


def test_finish_rows_and_url_lookup_take_empty_input(built):
    import os
    import numpy as np
    from word2doc_spark.query.exact import _lookup_urls, finish_rows

    docs = os.path.join(built, "docs")
    found, urls = _lookup_urls(docs, np.empty(0, dtype=np.int64))
    assert found.size == 0 and urls.size == 0
    none = np.empty(0, dtype=np.int64)
    out = finish_rows(docs, none, none, np.empty(0), k=5)
    assert len(out) == 0
    assert list(out.columns) == ["query_id", "rank", "doc_id", "url",
                                 "score"]


# ---------------------------------------------------------------------------
# the caller's session conf is never written
# ---------------------------------------------------------------------------

def _boom(text):
    raise ValueError("plugin failure")


def test_build_and_search_write_no_session_conf(spark, built, tmp_path,
                                                monkeypatch, scoring_gate):
    """Every RuntimeConfig.set/unset during a build, a failing build and
    one search on each path (exact, fast and WAND, each in both shapes)
    is recorded; there must be none."""
    from pyspark.sql.conf import RuntimeConfig
    from word2doc_spark.query.exact import search_exact
    from word2doc_spark.query.fast import search_fast
    from word2doc_spark.query.wand import search_wand

    writes = []
    for name in ("set", "unset"):
        def record(self, *a, _name=name, _real=getattr(RuntimeConfig, name),
                   **kw):
            writes.append((_name, a))
            return _real(self, *a, **kw)
        monkeypatch.setattr(RuntimeConfig, name, record)

    build_index(spark, synthetic_pages(spark, 40, num_partitions=2),
                str(tmp_path / "idx"), CFG, input_token="no-conf")
    with pytest.raises(Exception):
        build_index(spark, synthetic_pages(spark, 30, num_partitions=2),
                    str(tmp_path / "failidx"), CFG,
                    input_token="no-conf-fail", preprocess=_boom)
    qdf = spark.createDataFrame(QUERIES, "query_id long, query string")
    for on in (True, False):
        scoring_gate(on)
        for search in (search_fast, search_wand, search_exact):
            assert search(spark, built, qdf, k=3).collect()
    assert writes == []


def test_concurrent_searches_and_build_share_one_session(spark, built,
                                                         tmp_path):
    """Two threads search one session (fast, WAND, exact) while the
    first also builds a second index: every result equals the
    sequential run, and the session's conf is unchanged afterwards."""
    import threading
    from word2doc_spark.query.exact import search_exact
    from word2doc_spark.query.fast import search_fast
    from word2doc_spark.query.wand import search_wand

    searches = (search_fast, search_wand, search_exact)

    def rows(search):
        qdf = spark.createDataFrame(QUERIES, "query_id long, query string")
        return sorted((r["query_id"], r["rank"], r["doc_id"],
                       round(r["score"], 9))
                      for r in search(spark, built, qdf, k=5,
                                      score_mode="bm25").collect())

    want = {s.__name__: rows(s) for s in searches}
    before = dict(spark.conf.getAll)
    got, errors = [], []
    other = str(tmp_path / "second")
    building = threading.Event()
    building.set()

    def worker(builds: bool):
        try:
            if builds:
                build_index(spark, synthetic_pages(spark, 60,
                                                   num_partitions=2),
                            other, CFG, input_token="concurrent")
                building.clear()
            rounds = 0
            while rounds < 2 or (not builds and building.is_set()
                                 and rounds < 20):
                for s in searches:
                    got.append((s.__name__, rows(s)))
                rounds += 1
        except BaseException as e:  # noqa: BLE001 — asserted below
            errors.append(e)
            building.clear()

    threads = [threading.Thread(target=worker, args=(b,))
               for b in (True, False)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(got) >= 12
    for name, r in got:
        assert r == want[name], name
    assert dict(spark.conf.getAll) == before
    assert search_fast(spark, other,
                       spark.createDataFrame(QUERIES,
                                             "query_id long, query string"),
                       k=3).collect()
