"""Extraction stage of the index build: pages → (url, text).

The text of each page is its pre-extracted ``text`` or, failing that,
:func:`extract_text` over its ``html`` (the reference's extract step,
SURVEY.md §2.A1), run as one Arrow UDF pass; the optional user plugin
runs in the same pass. Term analysis of the extracted text happens in
index/build.py, fused with doc_id assignment.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from word2doc_spark.functions.extract import extract_text


def extracted_docs(pages: DataFrame, lang_filter: str | None = None,
                   preprocess=None) -> DataFrame:
    """pages → (url, text) with text = text ?? extract(html), empties dropped.

    The extraction UDF calls exactly the single-process
    :func:`extract_text`, so the per-row byte-identity invariant vs the
    oracle extractor holds by construction (asserted in tests).

    ``preprocess`` is the reference's user plugin contract
    (/root/reference/src/word2doc/retriever/build_db.py:28-42): a callable
    ``doc_dict -> doc_dict | None`` applied to each ``{"url", "text"}``
    after extraction; returning None drops the document. It runs inside
    the same Arrow batch pass (per-doc python, like the reference's
    per-article plugin).
    """
    @F.pandas_udf("string")
    def extract_udf(html: pd.Series) -> pd.Series:
        return html.map(lambda b: extract_text(b) if b is not None else None)

    df = pages
    if lang_filter:
        df = df.filter(F.col("lang") == lang_filter)
    # Catalyst hoists the python UDF out of the CASE into an
    # ArrowEvalPython node that runs for EVERY row — so the html of rows
    # that already carry text is masked to NULL *inside the UDF's input
    # expression*: those rows cross the Arrow boundary as nulls (no
    # bytes shipped) and take extract_text's None fast path instead of
    # paying the full regex extraction for a result the CASE discards
    has_text = F.col("text").isNotNull() & (F.length("text") > 0)
    df = df.withColumn(
        "text",
        F.when(has_text, F.col("text"))
         .otherwise(extract_udf(F.when(~has_text, F.col("html")))),
    )
    out = (
        df.filter(F.col("text").isNotNull() & (F.length("text") > 0))
          .select("url", "text")
    )
    if preprocess is not None:
        def run_plugin(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                kept = []
                for url, text in zip(pdf["url"], pdf["text"]):
                    doc = preprocess({"url": url, "text": text})
                    if doc is not None and doc.get("text"):
                        kept.append((doc["url"], doc["text"]))
                if kept:
                    yield pd.DataFrame(kept, columns=["url", "text"])

        out = out.mapInPandas(run_plugin, schema="url string, text string")
    return out
