"""M7: resumable build — a killed job must not recompute finished shards,
and the resumed index must be identical (north rule).

Also covers: fingerprint mismatch forces rebuild; manifest metrics exist
per shard (lineage contract).
"""

import hashlib
import os
import threading

import pytest

from word2doc_spark.config import IndexConfig
from word2doc_spark.index.build import build_index
from word2doc_spark.index.manifest import Manifest
from word2doc_spark.sources.pages import synthetic_pages

# shards_per_job=1 → one encode job per shard: the finest resume
# granularity (the default 0 encodes all shards in ONE job and resumes at
# stage level; test_one_job_encode_identical covers that equivalence)
CFG = IndexConfig(hash_size=2 ** 18, num_shards=6, block_size=64,
                  shards_per_job=1)


def _index_digest(spark, index_dir):
    """Order-insensitive content hash of the published shards."""
    rows = (spark.read.parquet(os.path.join(index_dir, "shards"))
            .select("term_id", "range_id", "seg_id", "payload").collect())
    items = sorted((r["term_id"], r["range_id"], r["seg_id"],
                    bytes(r["payload"])) for r in rows)
    h = hashlib.sha256()
    for t, rid, sid, p in items:
        h.update(f"{t}:{rid}:{sid}:".encode())
        h.update(p)
    return h.hexdigest()


def test_resume_skips_finished_shards(spark, tmp_path):
    index_dir = str(tmp_path / "idx")
    pages = synthetic_pages(spark, 150, num_partitions=4)

    # full build → digest + per-shard metrics
    m1 = build_index(spark, pages, index_dir, CFG, input_token="r1")
    digest1 = _index_digest(spark, index_dir)
    manifest = Manifest(index_dir)
    shard_rows = manifest.shard_metrics()
    assert len(shard_rows) == CFG.num_shards
    for row in shard_rows:
        assert row["fingerprint"] == m1["fingerprint"]
        for key in ("n_terms", "n_postings", "bytes", "wall_s"):
            assert key in row

    # simulate a kill after 2 shards: drop manifest rows for shards >= 2
    # and delete their data (as if the job died mid-write)
    import shutil
    for sid in range(2, CFG.num_shards):
        os.unlink(manifest.shard_path(sid))
        shutil.rmtree(os.path.join(index_dir, "shards", f"shard_id={sid}"))

    m2 = build_index(spark, pages, index_dir, CFG, input_token="r1")
    # finished work was NOT redone
    assert "stage" in m2["resumed_stages"]
    assert "shard_0" in m2["resumed_stages"]
    assert "shard_1" in m2["resumed_stages"]
    assert "shard_2" not in m2["resumed_stages"]
    # and the result is identical
    assert _index_digest(spark, index_dir) == digest1
    assert m2["n_postings"] == m1["n_postings"]


def test_failed_encode_leaves_no_dl_thread(spark, tmp_path, monkeypatch):
    """An encode failure must not leave the concurrent dl chain running
    (still writing doclen and its marker) once build_index has raised;
    a rerun then resumes to the same index as a clean build."""
    from word2doc_spark.index import build as B
    pages = synthetic_pages(spark, 60, num_partitions=2)
    clean = str(tmp_path / "clean")
    build_index(spark, pages, clean, CFG, input_token="fail")

    def boom(*args, **kwargs):
        raise RuntimeError("injected encode failure")

    index_dir = str(tmp_path / "idx5")
    monkeypatch.setattr(B, "_encode_segments", boom)
    with pytest.raises(RuntimeError, match="injected encode failure"):
        build_index(spark, pages, index_dir, CFG, input_token="fail")
    assert not [t for t in threading.enumerate()
                if t.name == "build-dl" and t.is_alive()]
    monkeypatch.undo()
    build_index(spark, pages, index_dir, CFG, input_token="fail")
    assert _index_digest(spark, index_dir) == _index_digest(spark, clean)


def test_fingerprint_change_invalidates(spark, tmp_path):
    index_dir = str(tmp_path / "idx2")
    pages = synthetic_pages(spark, 60, num_partitions=2)
    build_index(spark, pages, index_dir, CFG, input_token="a")
    m2 = build_index(spark, pages, index_dir, CFG, input_token="b")
    # different input fingerprint → nothing may be reused
    assert m2["resumed_stages"] == []


def test_noop_rerun_resumes_everything(spark, tmp_path):
    index_dir = str(tmp_path / "idx3")
    pages = synthetic_pages(spark, 60, num_partitions=2)
    build_index(spark, pages, index_dir, CFG, input_token="x")
    m2 = build_index(spark, pages, index_dir, CFG, input_token="x")
    assert "stage" in m2["resumed_stages"]
    assert sum(1 for s in m2["resumed_stages"] if s.startswith("shard_")) \
        == CFG.num_shards


def test_one_job_encode_identical(spark, tmp_path):
    """shards_per_job is a pure physical knob: the default one-job encode
    produces the same index content as per-shard sequential jobs."""
    pages = synthetic_pages(spark, 120, num_partitions=4)
    grouped = str(tmp_path / "grouped")
    onejob = str(tmp_path / "onejob")
    build_index(spark, pages, grouped, CFG, input_token="g")
    one_cfg = IndexConfig(**{**CFG.to_dict(), "shards_per_job": 0,
                             "extras": {}})
    m = build_index(spark, pages, onejob, one_cfg, input_token="g")
    assert _index_digest(spark, grouped) == _index_digest(spark, onejob)
    assert len(Manifest(onejob).shard_metrics()) == CFG.num_shards
    assert m["n_postings"] > 0


def test_stale_layout_wiped_on_config_change(spark, tmp_path):
    """Rebuilding with fewer shards must not leave stale shard partitions
    readable by query scans (fingerprint change wipes the index dir)."""
    index_dir = str(tmp_path / "idx4")
    pages = synthetic_pages(spark, 60, num_partitions=2)
    build_index(spark, pages, index_dir, CFG, input_token="x")
    small = IndexConfig(**{**CFG.to_dict(), "num_shards": 2, "extras": {}})
    build_index(spark, pages, index_dir, small, input_token="x")
    shard_dirs = [d for d in os.listdir(os.path.join(index_dir, "shards"))
                  if d.startswith("shard_id=")]
    assert sorted(shard_dirs) == ["shard_id=0", "shard_id=1"]
    rows = Manifest(index_dir).shard_metrics()
    assert [r["shard_id"] for r in rows] == [0, 1]
