#!/usr/bin/env python
"""Interactive query REPL: load the index manifest once, query repeatedly.

The analog of the reference's main UX
(/root/reference/src/model-interactive.py:32-70 — load model once, loop on
stdin, print a ranked table):

    spark-submit --py-files word2doc_spark.zip scripts/interactive.py \\
        --index-dir /path/to/index [--k 10] [--path fast|wand|exact] \\
        [--score-mode drqa|bm25]

Each line read from stdin is one query; top-k (rank, score, doc_id, url)
rows print to stdout. Blank line or EOF exits. Each line's frame is built
from a pyarrow.Table, so it is a local relation: the search skips its
analysis probe, and a question scored on the driver runs no Spark job.
"""

import argparse
import os
import sys
import time

# plain-python convenience: make the repo importable when not shipped via
# spark-submit --py-files
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--index-dir", required=True)
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--path", default="fast",
                   choices=["fast", "wand", "exact"])
    p.add_argument("--score-mode", default=None,
                   choices=[None, "drqa", "bm25"])
    args = p.parse_args(argv)

    import pyarrow as pa
    from pyspark.sql import SparkSession
    from word2doc_spark.index.manifest import Manifest
    from word2doc_spark.query.exact import search_exact
    from word2doc_spark.query.fast import search_fast
    from word2doc_spark.query.wand import search_wand

    spark = SparkSession.builder.appName("w2d-interactive").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    config, stats = Manifest(args.index_dir).load()
    print(f"index: {stats['n_docs']} docs, {stats['n_terms']} terms, "
          f"{stats['n_postings']} postings "
          f"(analyzer={config.analyzer}, mode="
          f"{args.score_mode or config.score_mode}, path={args.path})")
    fn = {"fast": search_fast, "wand": search_wand,
          "exact": search_exact}[args.path]

    qid = 0
    while True:
        try:
            line = input("query> ").strip()
        except EOFError:
            break
        if not line:
            break
        qid += 1
        qdf = spark.createDataFrame(
            pa.table({"query_id": pa.array([qid], pa.int64()),
                      "query": [line]}), "query_id long, query string")
        t0 = time.time()
        rows = fn(spark, args.index_dir, qdf, k=args.k,
                  score_mode=args.score_mode).collect()
        dt = time.time() - t0
        if not rows:
            print("  (no results)")
        for r in rows:
            print(f"  {r['rank']:>3}  {r['score']:>12.6f}  "
                  f"{r['doc_id']:>10}  {r['url']}")
        print(f"  [{len(rows)} rows, {dt:.2f}s]")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
