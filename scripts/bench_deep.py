#!/usr/bin/env python
"""Deep-list end-to-end bench: block-max WAND in ITS regime, through Spark.

Two configs, each a row set in BENCH/deep_summary.json (rendered into
BASELINE.md by scripts/sync_baseline_counts.py):

* ``deep8`` (default): the DEPTH regime. The kernel depth-crossover probe
  (bench_scaling._wand_depth_probe) shows WAND beating the vectorized
  full scan once per-range dense lists reach ~10^5 postings (14x at
  10^6) — the layout the 10^12-doc sizing produces (range_width 32M
  docs). The 1M synthetic corpus indexed with n_ranges=8 puts ~125k
  matched postings per range under a rare+all-dense-topics query
  (5 topic head words, df~200k each, + one tok<digits> rare term,
  df~80), k=1.

* ``deep8m`` (--config deep8m): the 10^12-doc DEPTH sizing — 8M docs /
  8 ranges, per-range dense lists of ~2×10^5 postings, rare + ONE dense
  head word per query.

Each config runs the same query batch through search_fast and
search_wand, reporting q/s plus sampled per-worker block skip/decode
counters. (The summary's ``ranges1024`` rows and ``wand_seeded``
contender were measured on WAND θ seeding, since deleted.)

Usage: python scripts/bench_deep.py [--config deep8|deep8m]
                                    [--cpus 32] [--n-queries N]
"""

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def deep_queries(n: int) -> list:
    """rare term (df~80) + one dense head word per topic (df~200k each):
    the rare term's idf² contribution dominates every dense upper bound."""
    return [(i, f"tok{(i * 7919) % 100000} spark index crawl café query")
            for i in range(n)]


def narrow_deep_queries(n: int) -> list:
    """rare tok term + ONE dense topic head word — the shape block-max
    WAND is built for: θ fills from the rare term's idf² and ONE deep
    list gets block-skipped. This is the kernel crossover probe's exact
    shape; at per-range dense df ≈ 2×10^5 (8M docs / 8 ranges) the
    kernel gap is ~5× (measured 0.75 ms vs 3.6 ms per query·range).
    Many-term dense queries are the OPPOSITE regime: with 50 dense
    terms the upper-bound SUM exceeds any θ, the pivot never moves past
    the haystack, and WAND degenerates to per-posting python evaluation
    (measured 1.5 s/query vs 23 ms grouped-fast) — that regime belongs
    to the vectorized scan, which is why search_fast is the default."""
    from word2doc_spark.sources.pages import _TOPICS
    words = [ws[0] for _, ws in _TOPICS]
    return [(i, f"tok{(i * 7919) % 100000} {words[i % len(words)]}")
            for i in range(n)]


CONFIGS = {
    "deep8": {"n_ranges": 8, "queries": deep_queries,
              "index_dir": "/tmp/w2d_deep_idx_1m", "n_queries": 8000},
    # the 10^12-doc DEPTH sizing: 8M docs / 8 ranges → per-range dense
    # lists of ~2×10^5 postings, rare+single-dense queries
    "deep8m": {"n_ranges": 8, "queries": narrow_deep_queries,
               "index_dir": "/tmp/w2d_deep_idx_8m", "n_queries": 6000,
               "n_docs": 8_000_000,
               "corpus": "/tmp/w2d_scaling_corpus_8000000"},
}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--config", default="deep8", choices=sorted(CONFIGS))
    p.add_argument("--cpus", type=int, default=32)
    p.add_argument("--corpus", default="/tmp/w2d_scaling_corpus_1000000")
    p.add_argument("--index-dir", default=None)
    p.add_argument("--n-queries", type=int, default=None)
    p.add_argument("--k", type=int, default=1)
    p.add_argument("--reps", type=int, default=2)
    args = p.parse_args()
    conf = CONFIGS[args.config]
    index_dir = args.index_dir or conf["index_dir"]
    n_queries = args.n_queries or conf["n_queries"]
    make_queries = conf["queries"]
    corpus = conf.get("corpus", args.corpus)
    corpus_docs = conf.get("n_docs", 1_000_000)

    from pyspark.sql import SparkSession
    from word2doc_spark.query.stats import sample_worker_stats
    from word2doc_spark.config import IndexConfig
    from word2doc_spark.index.build import build_index
    from word2doc_spark.index.manifest import Manifest
    from word2doc_spark.query.fast import search_fast
    from word2doc_spark.query.wand import search_wand
    from word2doc_spark.sources.pages import synthetic_pages_distributed

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("w2d-deep-bench")
        .config("spark.sql.shuffle.partitions", str(args.cpus * 4))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    cfg = IndexConfig(hash_size=2 ** 24, num_shards=4,
                      n_ranges=conf["n_ranges"])
    if not Manifest(index_dir).is_published():
        if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
            print(f"generating corpus {corpus} ...", file=sys.stderr)
            (synthetic_pages_distributed(spark, corpus_docs,
                                         num_partitions=128)
             .write.mode("overwrite").parquet(corpus))
        pages = spark.read.parquet(corpus)
        print(f"building {args.config} index ...", file=sys.stderr)
        build_index(spark, pages, index_dir, cfg,
                    input_token=f"deep_{args.config}")

    _, stats = Manifest(index_dir).load()
    qdf = spark.createDataFrame(make_queries(n_queries),
                                "query_id long, query string")
    # warmup (untimed, identical for every contender): parquet footers,
    # codegen, python workers, serving-cache materialization, dl decode
    warm = spark.createDataFrame(make_queries(3),
                                 "query_id long, query string")
    for _ in range(2):
        search_fast(spark, index_dir, warm, k=args.k,
                    score_mode="drqa").count()
        search_wand(spark, index_dir, warm, k=args.k,
                    score_mode="drqa").count()

    contenders = [
        ("fast", lambda: search_fast(spark, index_dir, qdf, k=args.k,
                                     score_mode="drqa")),
        ("wand", lambda: search_wand(spark, index_dir, qdf, k=args.k,
                                     score_mode="drqa")),
    ]
    entry = {"n_docs": int(stats["n_docs"]), "n_ranges": conf["n_ranges"],
             "range_width": int(stats["range_width"]),
             "n_queries": n_queries, "k": args.k, "cpus": args.cpus,
             "phases": {}}
    rows_ref = None
    for name, fn in contenders:
        walls, st = [], None
        for rep in range(args.reps):
            sample_worker_stats(spark, reset=True)
            t0 = time.time()
            fn().count()
            walls.append(round(time.time() - t0, 2))
            st = sample_worker_stats(spark)
        # result-identity across contenders (the win must not come from
        # different answers). Scores compare at 1e-9 rel; the doc must
        # match only when the score is unambiguous — exactly-tied docs
        # in DIFFERENT ranges can legitimately flip winner between
        # kernels (per-range sums accumulate term contributions in
        # different orders, so one side of a tie can land 1 ulp under
        # the other; both answers are correct top-k under float64)
        got = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"])
               for r in fn().select("query_id", "rank", "doc_id",
                                    "score").collect()}
        if rows_ref is None:
            rows_ref = got
        else:
            assert set(got) == set(rows_ref), f"{name}: key sets differ"
            amb = 0
            for key, (d, s) in got.items():
                d0, s0 = rows_ref[key]
                assert abs(s - s0) <= 1e-9 * max(1.0, abs(s0)), \
                    f"{name}: score mismatch at {key}: {s} vs {s0}"
                if d != d0:
                    amb += 1
            # tie-flips must be rare — anything more is a real bug
            assert amb <= max(2, len(got) // 200), \
                f"{name}: {amb} doc mismatches beyond tie ambiguity"
        entry["phases"][name] = {
            "walls_s": walls, "wall_s": min(walls),
            "qps": round(n_queries / min(walls), 1),
            "blocks_decoded_sampled": st["blocks_decoded"],
            "blocks_skipped_sampled": st["blocks_skipped"],
            "workers_sampled": st["workers_sampled"],
        }
        print(name, entry["phases"][name], file=sys.stderr)
    spark.stop()

    # merge this config's rows into the summary, preserving the others
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    path = os.path.join(REPO, "BENCH", "deep_summary.json")
    out = {"configs": {}}
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        if "configs" in prev:
            out = prev
        elif "phases" in prev:  # pre-config single-entry format
            out["configs"]["deep8"] = prev
    out["configs"][args.config] = entry
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({args.config: entry}))


if __name__ == "__main__":
    main()
