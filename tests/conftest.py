import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("word2doc_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture
def scoring_gate(monkeypatch):
    """``scoring_gate(on)`` forces every slice of an exact, fast or WAND
    batch onto the driver shape (True) or the Spark shape (False)
    whatever its size, by patching the kernels' ``driver_max_postings``
    rule and exact's ``DRIVER_MAX_POSTINGS``."""
    from word2doc_spark.query import exact
    from word2doc_spark.query.fast import fast_topk
    from word2doc_spark.query.wand import wand_topk

    def force(on: bool):
        bound = float("inf") if on else -1
        for kernel in (fast_topk, wand_topk):
            monkeypatch.setattr(kernel, "driver_max_postings", bound)
        monkeypatch.setattr(exact, "DRIVER_MAX_POSTINGS", bound)
    return force


@pytest.fixture
def slicing(monkeypatch):
    """``slicing(n)`` sends every list-built query batch through the
    executor-analyzed path in slices of about ``n`` queries, by patching
    the driver-analysis bound to 0 and the slice size to ``n``."""
    from word2doc_spark.query import exact

    def force(slice_queries: int):
        monkeypatch.setattr(exact, "_DRIVER_ANALYZE_MAX", 0)
        monkeypatch.setattr(exact, "SLICE_MAX_QUERIES", slice_queries)
    return force
