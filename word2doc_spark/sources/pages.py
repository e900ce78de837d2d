"""Pages-table sources.

The engine's canonical input is a table of Common-Crawl-style pages
``(url string, warc_ts timestamp, html binary, text string, lang string)``
(BASELINE.json input_hint). In production this is an Iceberg table
partitioned by ``days(warc_ts)`` + ``bucket(N, url)``; in this sandbox we
read/write plain parquet with the same schema (the DataFrame pipeline is
identical — only the catalog differs).

Two sources:
* :func:`synthetic_pages` — deterministic seeded generator per FIXTURES.md §1
  (unicode needing NFD, HTML entities, stopword-heavy text, planted head
  term, disambiguation titles, null-text rows that must go through the
  HTML extractor).
* :func:`pages_from_documents` — maps the driver's
  ``documents.parquet`` (doc_id, text, lang, source, n_chars) onto the pages
  schema per FIXTURES.md §6.
"""

from __future__ import annotations

import datetime as _dt
import random

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
import pyspark.sql.types as T

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

_EPOCH = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)

_TOPICS = [
    ("spark", ["spark", "executor", "shuffle", "partition", "catalyst",
               "tungsten", "dataframe", "broadcast", "codegen", "arrow"]),
    ("index", ["index", "posting", "term", "document", "retrieval",
               "ranking", "score", "wand", "heap", "block"]),
    ("crawl", ["crawl", "warc", "fetch", "html", "parser",
               "robots", "sitemap", "frontier", "dedup", "charset"]),
    ("café", ["café", "naïve", "résumé", "ﬁsh", "piñata",
              "über", "señor", "cliché", "déjà", "smörgås"]),
    ("query", ["query", "token", "bigram", "stopword", "hash",
               "bucket", "collision", "idf", "tfidf", "bm25"]),
]
_FILLER = ["the", "of", "and", "a", "is", "to", "in", "was", "for", "it"]
HEAD_TERM = "webscale"  # planted in ~55% of docs → head-term skew fixture


def _page_text(rng: random.Random, topic_words: list[str], with_head: bool) -> str:
    n_sent = rng.randint(3, 9)
    sents = []
    for _ in range(n_sent):
        n = rng.randint(6, 14)
        words = []
        for _ in range(n):
            r = rng.random()
            if r < 0.35:
                words.append(rng.choice(_FILLER))
            else:
                words.append(rng.choice(topic_words))
        if with_head and rng.random() < 0.6:
            words.insert(rng.randrange(len(words)), HEAD_TERM)
        sents.append(" ".join(words).capitalize() + rng.choice([".", "!", "?"]))
    return "  ".join(sents)


def _page_html(rng: random.Random, title: str, body: str) -> bytes:
    ent_body = (
        body.replace("café", "caf&eacute;")
            .replace("&", "&amp;", 1)
    )
    return (
        f"<html><head><title>{title}</title>"
        f"<script>var x = 1 < 2;</script><style>p {{color:red}}</style></head>"
        f"<body><!-- crawler:{rng.randint(0, 999)} --><h1>{title}</h1>"
        f"<p>{ent_body}</p><div>footer &copy; 2024</div></body></html>"
    ).encode("utf-8")


def synthetic_pages_rows(n_docs: int, seed: int = 42) -> list[tuple]:
    """Deterministic raw rows (url, warc_ts, html, text, lang)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        tname, twords = _TOPICS[i % len(_TOPICS)]
        with_head = rng.random() < 0.55
        title = f"{tname.capitalize()} article {i}"
        if i % 41 == 0:
            title = f"{title} (disambiguation)"
        elif i % 53 == 0:
            title = f"List of {tname} topics {i}"
        body = _page_text(rng, twords, with_head)
        url = f"https://example.org/{tname}/{i:06d}"
        ts = _EPOCH + _dt.timedelta(seconds=i * 17)
        html_bytes = _page_html(rng, title, body)
        # ~25% of rows ship only html (text goes through the extractor);
        # text rows carry "title \n\n body" like extracted pages do.
        if i % 4 == 0:
            text = None
        else:
            text = f"{title}\n\n{body}"
        lang = "en" if i % 11 else ("de" if i % 2 else "fr")
        rows.append((url, ts, html_bytes, text, lang))
    return rows


def synthetic_pages(spark: SparkSession, n_docs: int, seed: int = 42,
                    num_partitions: int | None = None) -> DataFrame:
    rows = synthetic_pages_rows(n_docs, seed)
    # Arrow-backed LocalRelation instead of a pickled-row parallelize:
    # every job over the corpus then prunes columns JVM-side (a bounds
    # sample ships urls, not the 25%-of-rows html payloads) and skips
    # the per-job python unpickle of the full row set. Identical rows
    # and schema (collect-compared).
    import pyarrow as pa
    df = spark.createDataFrame(
        pa.Table.from_pydict({f.name: [r[i] for r in rows]
                              for i, f in enumerate(PAGES_SCHEMA)}),
        PAGES_SCHEMA)
    if num_partitions:
        df = df.repartition(num_partitions, "url")
    return df


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → pages schema (FIXTURES.md §6 mapping)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(F.lit("https://fixtures.local/"), F.col("source"),
                 F.lit("/"), F.col("doc_id").cast("string")).alias("url"),
        (F.lit(_EPOCH) + F.make_interval(secs=F.col("doc_id").cast("double"))
         ).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


# ---------------------------------------------------------------------------
# distributed generator (bench scale) — deterministic per doc_id
# ---------------------------------------------------------------------------

def synthetic_pages_distributed(spark: SparkSession, n_docs: int,
                                seed: int = 42,
                                num_partitions: int | None = None,
                                words_low: int = 120,
                                words_high: int = 400) -> DataFrame:
    """Spark-parallel synthetic pages: each row derived from
    random.Random(seed * 10**9 + i) so the corpus is independent of
    partitioning. Bigger bodies than :func:`synthetic_pages` (~1-3 KB text,
    Common-Crawl-ish) — used by the bench/scaling harness."""
    import pandas as pd

    n_part = num_partitions or spark.sparkContext.defaultParallelism * 2

    def gen(it):
        for pdf in it:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                rng = random.Random(seed * 1_000_000_000 + i)
                tname, twords = _TOPICS[i % len(_TOPICS)]
                with_head = rng.random() < 0.55
                title = f"{tname.capitalize()} page {i}"
                n_words = rng.randint(words_low, words_high)
                words = []
                while len(words) < n_words:
                    r = rng.random()
                    if r < 0.35:
                        words.append(rng.choice(_FILLER))
                    elif r < 0.97:
                        words.append(rng.choice(twords))
                    else:
                        words.append(f"tok{rng.randint(0, 99999)}")
                if with_head:
                    words.insert(rng.randrange(len(words)), HEAD_TERM)
                body = " ".join(words)
                url = f"https://example.org/{tname}/{i:09d}"
                ts = _EPOCH + _dt.timedelta(seconds=i % 86_400_000)
                if i % 4 == 0:
                    html_b = _page_html(rng, title, body)
                    text = None
                else:
                    html_b = None
                    text = f"{title}\n\n{body}"
                rows.append((url, ts, html_b, text,
                             "en" if i % 11 else ("de" if i % 2 else "fr")))
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html",
                                              "text", "lang"])

    return (spark.range(0, n_docs, numPartitions=n_part)
            .mapInPandas(gen, schema=PAGES_SCHEMA))
