"""Index manifest: config, global stats, per-shard lineage + build metrics.

Analog of the reference's npz metadata + resumable mapping cache
(/root/reference/src/word2doc/retriever/build_tfidf.py:106-135,186-196),
re-designed for a distributed, resumable build:

* ``manifest/config.json`` — IndexConfig + global stats (N, avgdl,
  n_terms, n_postings) written once at publish time
* ``manifest/shard_XXXX.json`` — one atomic file per completed shard with
  lineage (stage fingerprint) and metrics (terms, postings, bytes, wall
  seconds). A killed build resumes by skipping shards whose file exists
  with a matching fingerprint (left_anti semantics, SURVEY.md §2.H1).

Files are written write-temp → atomic rename, so a crash mid-write never
yields a corrupt "done" marker.

The manifest also holds the schemas of the published tables
(``TABLE_SCHEMAS``): every Spark read of an index table goes through
``read_table``, which declares the schema instead of inferring it from
parquet footers — inference is a Spark job of its own, paid on every
query that touches the table.
"""

from __future__ import annotations

import json
import os
import tempfile

from word2doc_spark.config import IndexConfig

MANIFEST_DIR = "manifest"

# segment rows as the build's encode emits them (index/build.py)
SEG_SCHEMA = ("term_id long, range_id int, seg_id int, n_postings long, "
              "doc_lo long, doc_hi long, payload binary")
# the published tables exactly as build_index writes them, hive partition
# columns last (the order spark.read.parquet infers); a test pins each
# one against the inferred schema of a freshly built index
TABLE_SCHEMAS = {
    "shards": SEG_SCHEMA + ", shard_id int",
    "terms": "term_id long, df long, segments long, bytes long, "
             "shard_id int",
    "docs": "doc_id long, url string",
    "doclen": "doc_id long, dl long",
}


def read_table(spark, index_dir: str, name: str):
    """One published index table with its declared schema (no
    schema-inference job)."""
    return (spark.read.schema(TABLE_SCHEMAS[name])
            .parquet(os.path.join(index_dir, name)))


def _atomic_write_json(path: str, obj: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


class Manifest:
    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        self.dir = os.path.join(index_dir, MANIFEST_DIR)

    # -- stage markers -------------------------------------------------
    def marker_path(self, name: str) -> str:
        return os.path.join(self.dir, f"{name}.done.json")

    def has_marker(self, name: str, fingerprint: str | None = None) -> bool:
        p = self.marker_path(name)
        if not os.path.exists(p):
            return False
        if fingerprint is None:
            return True
        with open(p) as f:
            return json.load(f).get("fingerprint") == fingerprint

    def write_marker(self, name: str, fingerprint: str | None = None,
                     **extra) -> None:
        _atomic_write_json(self.marker_path(name),
                           {"fingerprint": fingerprint, **extra})

    def read_marker(self, name: str) -> dict | None:
        p = self.marker_path(name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    # -- shards ----------------------------------------------------------
    def shard_path(self, shard_id: int) -> str:
        return os.path.join(self.dir, f"shard_{shard_id:04d}.json")

    def completed_shards(self, fingerprint: str | None = None) -> set[int]:
        done = set()
        if not os.path.isdir(self.dir):
            return done
        for fn in os.listdir(self.dir):
            if fn.startswith("shard_") and fn.endswith(".json"):
                with open(os.path.join(self.dir, fn)) as f:
                    row = json.load(f)
                if fingerprint is None or row.get("fingerprint") == fingerprint:
                    done.add(int(row["shard_id"]))
        return done

    def write_shard(self, shard_id: int, fingerprint: str, **metrics) -> None:
        _atomic_write_json(
            self.shard_path(shard_id),
            {"shard_id": shard_id, "fingerprint": fingerprint, **metrics},
        )

    def shard_metrics(self) -> list[dict]:
        rows = []
        for sid in sorted(self.completed_shards()):
            with open(self.shard_path(sid)) as f:
                rows.append(json.load(f))
        return rows

    # -- published config/stats ------------------------------------------
    def config_path(self) -> str:
        return os.path.join(self.dir, "config.json")

    def publish(self, config: IndexConfig, **stats) -> None:
        _atomic_write_json(self.config_path(),
                           {"config": config.to_dict(), "stats": stats})

    def load(self) -> tuple[IndexConfig, dict]:
        with open(self.config_path()) as f:
            doc = json.load(f)
        return IndexConfig.from_dict(doc["config"]), doc["stats"]

    def is_published(self) -> bool:
        return os.path.exists(self.config_path())
