#!/usr/bin/env python
"""spark-submit entrypoint: batch top-k retrieval against a built index.

    spark-submit --py-files word2doc_spark.zip scripts/run_queries.py \\
        --index-dir /path/to/index --queries /path/to/queries.parquet \\
        --out /path/to/results [--k 10] [--path fast|wand|exact] \\
        [--score-mode drqa|bm25] [--strict]

queries parquet schema: (query_id long, query string). Results are written
as parquet (query_id, rank, doc_id, url, score).
"""

import argparse


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--index-dir", required=True)
    p.add_argument("--queries", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--k", type=int, default=10)
    p.add_argument("--path", default="fast",
                   choices=["fast", "wand", "exact"])
    p.add_argument("--score-mode", default=None, choices=[None, "drqa", "bm25"])
    p.add_argument("--strict", action="store_true",
                   help="raise on queries with zero valid terms (reference "
                        "B9 semantics)")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession
    from word2doc_spark.query.exact import search_exact
    from word2doc_spark.query.fast import search_fast
    from word2doc_spark.query.wand import search_wand

    import os
    if not os.path.exists(os.path.join(args.index_dir, "manifest",
                                       "config.json")):
        raise SystemExit(
            f"error: no published index at {args.index_dir} "
            "(manifest/config.json missing — run build_index.py first)")

    spark = SparkSession.builder.appName("w2d-run-queries").getOrCreate()
    queries = spark.read.parquet(args.queries)
    fn = {"fast": search_fast, "wand": search_wand,
          "exact": search_exact}[args.path]
    out = fn(spark, args.index_dir, queries, k=args.k,
             score_mode=args.score_mode, strict=args.strict)
    out.write.mode("overwrite").parquet(args.out)
    print(f"wrote {spark.read.parquet(args.out).count()} result rows to {args.out}")


if __name__ == "__main__":
    main()
