"""Physical-plan audits: the scale claims, enforced by tests.

Every "this op never shuffles / prunes its scan / broadcasts the small
side" statement in the operator docstrings is checked here against the
actual Catalyst physical plan (explain 'formatted'), so a regression in
plan shape fails CI rather than surfacing at 100 TB.
"""

import contextlib
import io
import os
import re
import time
import uuid

import pytest
import pyspark.sql.functions as F

from word2doc_spark.config import IndexConfig
from word2doc_spark.index.build import build_index
from word2doc_spark.index.manifest import TABLE_SCHEMAS, read_table
from word2doc_spark.ops import dedup as D
from word2doc_spark.ops import similarity as S
from word2doc_spark.sources.pages import synthetic_pages

CFG = IndexConfig(hash_size=2 ** 20, num_shards=4, n_ranges=8)


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def n_nodes(plan: str, name: str) -> int:
    """Count physical-plan NODES of a type (formatted explain prints each
    node twice: once in the tree, once as a '(i) Name' detail header)."""
    return len(re.findall(rf"^\(\d+\) {name}", plan, flags=re.MULTILINE))


def node_detail(plan: str, node_id: str) -> str:
    """The '(i) Name' detail block of one node of a formatted plan."""
    m = re.search(rf"^\({node_id}\) .*?(?=^\(\d+\) |\Z)", plan,
                  flags=re.MULTILINE | re.DOTALL)
    return m.group(0)


def scanned_tables(plan: str) -> set:
    """Last path component of every file scan's Location in a plan."""
    return set(re.findall(r"^Location: \w+ \[.*/(\w+)\]$", plan,
                          flags=re.MULTILINE))


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("planidx"))
    build_index(spark, synthetic_pages(spark, 200, num_partitions=4),
                index_dir, CFG, input_token="plans")
    return index_dir


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"alpha beta gamma delta epsilon tok{i} zeta eta theta")
            for i in range(40)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(8)])
            for i in range(30)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_segment_scan_is_pruned(spark, built):
    """The query-side segment scan must show hive partition pruning on
    shard_id AND parquet row-group pushdown on term_id."""
    from word2doc_spark.query.exact import _matched_segments
    segs = _matched_segments(spark, built, [12345, 67890], CFG.num_shards)
    plan = plan_of(segs)
    assert "PartitionFilters" in plan and "shard_id" in plan
    assert "PushedFilters" in plan and "term_id" in plan
    # the pruned scan must not read payload metadata columns it is not
    # asked for: ReadSchema carries only the selected columns
    assert "n_postings" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_exact_search_broadcasts_small_sides(spark, built):
    """Query terms are broadcast — the segment table is never shuffled by
    a join — and the url lookup reads no docs table through Spark (a
    driver-analyzed batch finishes in one task, exact.finish_topk)."""
    from word2doc_spark.query.exact import search_exact
    qdf = spark.createDataFrame([(1, "spark shuffle partition")],
                                "query_id long, query string")
    res = search_exact(spark, built, qdf, k=5, score_mode="drqa")
    assert res.count() > 0, "query must match the synthetic vocabulary"
    plan = plan_of(res)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "docs" not in scanned_tables(plan), plan


def test_shingles_plan_has_no_join(docs):
    """Shingle construction is per-row (transform+slice+array_distinct) —
    zero joins and zero aggregations; the only exchange allowed is the
    small-input round-robin spread (_spread_input), never a distinct."""
    plan = plan_of(D.shingles(docs, 3))
    assert "Join" not in plan
    assert "HashAggregate" not in plan, plan
    assert n_nodes(plan, "Exchange") <= 1, plan


def test_lsh_pairs_plan_no_cartesian(docs):
    """Candidate pairs come from an equi-join on (band, band_sig) — any
    cartesian/nested-loop join here explodes at corpus scale."""
    plan = plan_of(D.lsh_candidate_pairs(docs, num_perm=8, bands=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_single_aggregation(docs):
    """Simhash reduces map-side: one groupBy(doc_id) aggregation plus the
    outer join back to all docs — the 60x posexplode shuffle is gone."""
    plan = plan_of(D.simhash64(docs))
    assert n_nodes(plan, "Generate") == 1, plan  # only the token explode
    # one agg exchange + at most two for the final left join
    assert n_nodes(plan, "Exchange") <= 3, plan


def test_ivf_assign_is_shuffle_free(vectors):
    """Centroid assignment is a per-row argmax — no window, no join, no
    exchange anywhere in the plan (the r2 plan shuffled N x n_cells rows
    through a row_number window)."""
    cent = S.train_centroids(vectors, n_cells=8)
    plan = plan_of(S.ivf_assign(vectors, cent))
    assert "Window" not in plan
    assert "Join" not in plan
    assert "Exchange" not in plan, plan


def test_strip_repartitions_drops_caller_repartition(spark):
    """build._strip_repartitions rebuilds the DataFrame through the
    private ``classic.Dataset.ofRows`` and returns its input unchanged
    on any reflection error — so only this test notices a break."""
    from word2doc_spark.index.build import _strip_repartitions
    df = spark.range(1000).repartition(7)
    out = _strip_repartitions(df)
    assert out is not df
    plan = plan_of(out, "extended")
    analyzed = plan[plan.index("== Analyzed Logical Plan =="):
                    plan.index("== Optimized Logical Plan ==")]
    assert "Repartition" not in analyzed
    assert "Exchange" not in plan[plan.index("== Physical Plan =="):]
    assert sorted(r["id"] for r in out.collect()) == list(range(1000))


def test_doc_partitioned_query_plan(spark, built):
    """The fast/WAND scoring plan of a driver-analyzed batch: the
    range-group scoring tasks (FlatMapGroupsInPandas) feed ONE
    single-partition exchange into the one-task finish, and the docs
    table is never scanned by Spark (no url join, no global sort)."""
    from word2doc_spark.query.fast import search_fast
    qdf = spark.createDataFrame(
        [(1, "spark shuffle partition"), (2, "crawl warc html")],
        "query_id long, query string")
    res = search_fast(spark, built, qdf, k=5, score_mode="drqa")
    assert res.count() > 0
    plan = plan_of(res)
    assert "CartesianProduct" not in plan
    m = re.search(r"Exchange \((\d+)\)\n\s*\+- FlatMapGroupsInPandas", plan)
    assert m, plan
    assert "SinglePartition" in node_detail(plan, m.group(1)), plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert "docs" not in scanned_tables(plan), plan


@pytest.mark.parametrize("table", sorted(TABLE_SCHEMAS))
def test_declared_schemas_match_written_tables(spark, built, table):
    """Every schema the index reader declares equals the schema Spark
    infers from the freshly built table, so a writer change cannot
    silently desync the readers."""
    inferred = spark.read.parquet(os.path.join(built, table)).schema
    assert read_table(spark, built, table).schema == inferred


def _jobs_of_call(spark, fn):
    """(job count, stage names) of the Spark jobs ``fn`` runs, counted by
    job group; waits until the status tracker has seen them finish."""
    sc = spark.sparkContext
    group = f"jobs-per-call-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs per call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    seen, deadline = None, time.time() + 10
    while time.time() < deadline:
        ids = sorted(st.getJobIdsForGroup(group))
        infos = [st.getJobInfo(j) for j in ids]
        if ids == seen and all(i is not None and i.status == "SUCCEEDED"
                               for i in infos):
            break
        seen = ids
        time.sleep(0.25)
    names = [st.getStageInfo(s).name for i in infos for s in i.stageIds
             if st.getStageInfo(s) is not None]
    return len(seen), names


def test_warm_search_jobs_per_call(spark, built):
    """Jobs per warm search call: the analysis probe plus the jobs that
    score and finish. No call infers a table schema from parquet footers
    (a 'parquet at ...' job) — every index read declares its schema and
    term stats are read without Spark."""
    from word2doc_spark.query.exact import search_exact
    from word2doc_spark.query.fast import search_fast
    from word2doc_spark.query.wand import search_wand
    words = ["spark shuffle partition", "crawl warc html", "alpha beta"]

    def batch(n):
        # list-built: not a local relation, so the analysis probe runs
        return spark.createDataFrame(
            [(i, words[i % len(words)]) for i in range(n)],
            "query_id long, query string")

    calls = {
        "fast_one_question": lambda: search_fast(
            spark, built, batch(1), k=5).collect(),
        "wand": lambda: search_wand(
            spark, built, batch(20), k=5, score_mode="bm25").collect(),
        "exact": lambda: search_exact(
            spark, built, batch(20), k=5, score_mode="bm25").collect(),
    }
    for call in calls.values():  # one warm-up call each
        call()
    bounds = {"fast_one_question": 3, "wand": 3, "exact": 8}
    for name, call in calls.items():
        n_jobs, stages = _jobs_of_call(spark, call)
        assert n_jobs <= bounds[name], (name, n_jobs, stages)
        assert not [s for s in stages if s.startswith("parquet at")], \
            (name, stages)
