"""Distributed, resumable inverted-index build (v4: blob-staged,
range-segmented lists).

Pipeline (SURVEY.md §7.0), all DataFrame-declarative except the two
Arrow-UDF stages (analysis, posting encode):

    pages ──extract──▶ (url, text)
          ──bucket by sampled url bounds, sort within bucket──▶ cached
              corpus; per-bucket counts give each bucket's id offset, so
              doc_id = position of the url in url-sorted order
          two concurrent passes over the cached corpus:
          ──ids_only mapInPandas──▶ docs (doc_id, url)
          ──ids_and_analyze mapInPandas──▶ numpy-PACKED posting blobs
              (shard_id, route, blob)  blob = raw int64 (term, doc, tf)
              triples grouped by (shard, route); per-doc dl pairs ride in
              their own blobs under the shard_id = -1 hive partition
          ──write partitioned by shard_id──▶ stage/terms
          ──decode dl blobs──▶ doclen + doclen_seg (per-range blobs)
    encode (one Spark job by default; optionally grouped for finer resume):
          read stage/terms blobs
          repartition by slot(shard, route)  [all blobs of a (term, range)
              share a (shard, route) key, so every run lands whole]
          frombuffer + lexsort(term_id, doc_id) → run-encode SEGMENTS per
          (term, range), each ≤ max_seg_postings postings
          write shards/shard_id=K (term_id, range_id, seg_id, n_postings,
                                   doc_lo, doc_hi, payload)
          derive terms/shard_id=K (term_id, df) from segment metadata
          manifest/shard_K.json   (lineage fingerprint + metrics)
    publish: manifest/config.json (N, avgdl, range_width, totals)

Why blobs (v4): shipping 10^8 exploded (doc, term, tf) rows across the
JVM/Python Arrow boundary — python→JVM out of analysis, JVM→python into
encode — cost ~4× more CPU than every other part of those two stages
COMBINED (measured on the 500k scaling bench: a no-op mapInPandas over
the sorted triples ran 15s where shuffle+sort alone ran 3s). Packing the
triples into opaque numpy buffers python-side makes both crossings and
the shuffle byte-copies of ~1000× fewer rows; the JVM never touches
individual postings. The encode task decodes with zero-copy
``np.frombuffer``, lexsorts (term_id, doc_id) — the same unique total
order the JVM sort produced, so segment bytes are IDENTICAL to v3 — and
run-encodes. Memory per encode task = total staged bytes / shuffle
partitions (one partition materialized in numpy; the v3 JVM sort
materialized the same partition with spill); size
``spark.sql.shuffle.partitions`` so partitions stay task-sized, exactly
the sizing rule the rest of the engine already assumes.

Skew: the doc-range split IS the explicit head-term salting (north rule):
a term with df = N never concentrates in one task or one parquet cell —
its postings spread over n_ranges × (width / max_seg_postings) bounded
segments, built by hash-partitioned (term_id, range_id) keys. AQE splits
skewed joins but not skewed aggregations, hence the explicit composite
key (SURVEY.md §4.1). Segments double as the doc-partitioned parallel
axis of query scoring (query/fast.py, query/wand.py).

Resume: every stage writes an atomic manifest marker keyed by a build
fingerprint; a rerun skips completed stages/shard-groups without
recomputing (north rule: checkpointed shards, per-partition lineage +
metrics). A fingerprint change (config or input) wipes the index dir so
stale partitions from an older layout can never leak into query scans.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from word2doc_spark.config import IndexConfig
from word2doc_spark.index.analyze import extracted_docs
from word2doc_spark.index.manifest import SEG_SCHEMA, Manifest, read_table
from word2doc_spark.index.postings import (
    encode_postings, encode_postings_batch,
)

DL_SEG_SCHEMA = ("range_id int, chunk_id int, doc_lo long, n_docs long, "
                 "payload binary")
# staged blob rows: posting blobs under shard_id >= 0 pack raw int64
# (term_id, doc_id, tf) triples for one (shard, route) cell; dl blobs
# under shard_id = -1 pack raw int64 (doc_id, dl) pairs
STAGE_SCHEMA = "shard_id int, route int, blob binary"
# routes per shard in the staged layout: enough keys that even a
# one-shard encode group fans out over every core; encode-side placement
# only needs all blobs of a (shard, route) to land together, so the
# value is NOT part of the on-disk contract (resume with a different
# shuffle-partition count still groups correctly)
_ROUTES_MIN = 32
# analyze tasks flush packed blobs whenever this many postings are
# buffered — bounds task memory at ~24 B × cap regardless of input
# partition size
_PACK_FLUSH_POSTINGS = 8_000_000


def _fingerprint(config: IndexConfig, input_token: str) -> str:
    blob = json.dumps({"config": config.to_dict(), "input": input_token},
                      sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def range_width_for(n_docs: int, n_ranges: int) -> int:
    return max(1, -(-max(n_docs, 1) // max(n_ranges, 1)))


# auto n_ranges sizing: keep per-range slices task-sized as the corpus
# grows (n_ranges=0 in IndexConfig picks this)
_AUTO_DOCS_PER_RANGE = 32_000_000


def resolve_n_ranges(config: IndexConfig, n_docs: int) -> int:
    if config.n_ranges > 0:
        return config.n_ranges
    return max(32, -(-max(n_docs, 1) // _AUTO_DOCS_PER_RANGE))


# ---------------------------------------------------------------------------
# segment encoding over partition-sorted (term_id, doc_id) runs
# ---------------------------------------------------------------------------

def _encode_segment_runs(range_width: int, max_seg: int, block_size: int):
    """mapInPandas generator factory.

    Input: (doc_id, term_id, tf) sorted by (term_id, doc_id) within each
    partition; every (term_id, range_id) run is wholly contained in one
    partition (hash-partitioned on that composite key upstream).
    Output: SEG_SCHEMA rows — one run split into ≤max_seg-posting segments.

    Memory is bounded at max_seg + one Arrow batch: complete segments of an
    open run are flushed eagerly; only the < max_seg remainder is carried
    across batches.
    """

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        open_key: tuple[int, int] | None = None  # (term_id, range_id)
        open_seg = 0  # next seg_id for the open run

        def flush(pdf: pd.DataFrame, flush_all: bool):
            nonlocal carry, open_key, open_seg
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                if flush_all:
                    open_key, open_seg = None, 0
                return None
            terms = pdf["term_id"].to_numpy()
            docs = pdf["doc_id"].to_numpy()
            rids = (docs // range_width).astype(np.int64)
            change = np.concatenate(
                ([True], (terms[1:] != terms[:-1]) | (rids[1:] != rids[:-1])))
            starts = np.flatnonzero(change)
            ends = np.concatenate((starts[1:], [len(pdf)]))
            tfs = pdf["tf"].to_numpy()
            # the first run may CONTINUE the open run from prior batches
            # (its carried rows head this pdf) — its segments keep
            # numbering from open_seg
            first_base = open_seg if (int(terms[0]), int(rids[0])) == \
                open_key else 0
            if not flush_all:
                # trailing run may continue in the next batch: flush only
                # its full max_seg segments, carry the remainder
                ls, le = int(starts[-1]), int(ends[-1])
                n_full = ((le - ls) // max_seg) * max_seg
                last_base = first_base if len(starts) == 1 else 0
                open_key = (int(terms[ls]), int(rids[ls]))
                open_seg = last_base + n_full // max_seg
                carry = pdf.iloc[ls + n_full:]
                cut = ls + n_full
                if cut == ls:
                    starts, ends = starts[:-1], ends[:-1]
                else:
                    ends = ends.copy()
                    ends[-1] = cut
                if len(starts) == 0:
                    return None
                docs, tfs, terms = docs[:cut], tfs[:cut], terms[:cut]
                rids = rids[:cut]
            else:
                open_key, open_seg = None, 0
            # split runs into ≤max_seg segments, all vectorized
            run_lens = ends - starts
            nseg_run = (run_lens + max_seg - 1) // max_seg
            seg_of_run = np.repeat(np.arange(len(starts)), nseg_run)
            seg_idx = np.arange(len(seg_of_run)) - np.repeat(
                np.concatenate(([0], np.cumsum(nseg_run)[:-1])), nseg_run)
            seg_starts = starts[seg_of_run] + seg_idx * max_seg
            seg_ends = np.minimum(seg_starts + max_seg, ends[seg_of_run])
            seg_ids = seg_idx.copy()
            if first_base:
                seg_ids[seg_of_run == 0] += first_base
            payloads = encode_postings_batch(docs, tfs, seg_starts,
                                             block_size)
            return pd.DataFrame({
                "term_id": terms[seg_starts],
                "range_id": rids[seg_starts].astype(np.int32),
                "seg_id": seg_ids.astype(np.int32),
                "n_postings": (seg_ends - seg_starts).astype(np.int64),
                "doc_lo": docs[seg_starts].astype(np.int64),
                "doc_hi": docs[seg_ends - 1].astype(np.int64),
                "payload": payloads,
            })

        for pdf in it:
            out = flush(pdf, flush_all=False)
            if out is not None:
                yield out
        if carry is not None and len(carry):
            out = flush(pd.DataFrame(columns=carry.columns), flush_all=True)
            if out is not None:
                yield out

    return gen


def _pack_posting_blobs(terms: np.ndarray, docs: np.ndarray,
                        tfs: np.ndarray, num_shards: int, n_routes: int,
                        range_width: int) -> list[tuple[int, int, bytes]]:
    """Buffered (term, doc, tf) arrays → [(shard_id, route, blob)] rows,
    each blob delta+varint packed (postings.pack_triples).
    route = mix(term, range) so a head term's postings spread over its
    ranges (the explicit skew salt), while every (term, range) cell maps
    to exactly one (shard, route) key."""
    from word2doc_spark.index.postings import pack_triples
    shard = terms % num_shards
    rid = docs // range_width
    route = (terms * 1000003 + rid * 7919) % n_routes
    key = shard * n_routes + route
    # one lexsort orders blobs AND sorts (term, doc) within each blob —
    # the order pack_triples' delta chains require
    order = np.lexsort((docs, terms, key))
    key = key[order]
    terms, docs, tfs = terms[order], docs[order], tfs[order]
    rows = []
    for s, e, k in _walk_key_runs(key):
        rows.append((int(k // n_routes), int(k % n_routes),
                     pack_triples(terms[s:e], docs[s:e], tfs[s:e])))
    return rows


def _merge_blob_triples(blobs) -> pd.DataFrame | None:
    """Staged blob payloads → one (doc_id, term_id, tf) frame sorted by
    (term_id, doc_id) — the same unique total order the v3 JVM sort
    produced (pairs are unique per analyze output), so downstream segment
    bytes are identical. Vectorized varint decode + one lexsort."""
    from word2doc_spark.index.postings import unpack_triples
    parts = [unpack_triples(bytes(b)) for b in blobs]
    parts = [p for p in parts if p[0].size]
    if not parts:
        return None
    if len(parts) == 1:
        t, d, f = parts[0]
    else:
        t = np.concatenate([p[0] for p in parts])
        d = np.concatenate([p[1] for p in parts])
        f = np.concatenate([p[2] for p in parts])
    order = np.lexsort((d, t))
    return pd.DataFrame({"doc_id": d[order], "term_id": t[order],
                         "tf": f[order].astype(np.int32)})


def _encode_segments(blobs: DataFrame, config: IndexConfig,
                     range_width: int, shuffle_partitions: int) -> DataFrame:
    """Staged blob rows (shard_id, route, blob) → SEG_SCHEMA segment rows.

    Placement: (shard, route) keys are mapped onto hash-slot ints
    (``_partition_slots``) so every key group gets its own shuffle
    partition; all blobs of a (term, range) share one key, so each run is
    encoded whole. The task decodes its blobs (np.frombuffer, zero-copy),
    lexsorts once, and streams through the same run-encoder v3 used."""
    slots = _partition_slots(shuffle_partitions)
    slot_arr = F.array(*[F.lit(s) for s in slots])
    if shuffle_partitions % config.num_shards == 0 \
            and shuffle_partitions >= config.num_shards:
        # shard-aligned placement: task p holds routes of exactly ONE
        # shard, so the partitionBy(shard_id) write emits one file per
        # task (sp files) instead of up to sp × num_shards tiny files —
        # the write and every later shards scan (term stats, query
        # pruning, serving-cache load) pay per-file open cost (guide §6)
        k = shuffle_partitions // config.num_shards
        part_idx = (F.col("shard_id") * k
                    + F.pmod(F.col("route"), F.lit(k)))
    else:
        part_idx = F.pmod(F.col("shard_id") * 100003 + F.col("route"),
                          F.lit(shuffle_partitions))
    keyed = (blobs.withColumn(
        "_slot", F.element_at(slot_arr, part_idx + 1))
        .repartition(shuffle_partitions, "_slot")
        .select("blob"))
    run_encode = _encode_segment_runs(range_width, config.max_seg_postings,
                                      config.block_size)

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        blobs_local: list = []
        for pdf in it:
            blobs_local.extend(pdf["blob"])
        triples = _merge_blob_triples(blobs_local)
        if triples is None:
            return
        yield from run_encode(iter([triples]))

    return keyed.mapInPandas(gen, schema=SEG_SCHEMA)


def _encode_dl_runs(range_width: int, chunk_docs: int, block_size: int):
    """(doc_id, dl) sorted by doc_id per partition, partitioned by
    (range_id, chunk_id) → DL_SEG_SCHEMA blob rows (payload reuses the
    postings codec over (doc_id, dl) pairs)."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None

        def flush(pdf: pd.DataFrame, flush_all: bool):
            nonlocal carry
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                return None
            docs = pdf["doc_id"].to_numpy()
            rids = (docs // range_width).astype(np.int64)
            cids = ((docs % range_width) // chunk_docs).astype(np.int64)
            change = np.concatenate(
                ([True], (rids[1:] != rids[:-1]) | (cids[1:] != cids[:-1])))
            starts = np.flatnonzero(change)
            if not flush_all:
                if len(starts) == 1:
                    carry = pdf
                    return None
                carry = pdf.iloc[starts[-1]:]
                pdf = pdf.iloc[:starts[-1]]
                docs = docs[:starts[-1]]
                rids, cids = rids[:starts[-1]], cids[:starts[-1]]
                starts = starts[:-1]
            ends = np.concatenate((starts[1:], [len(pdf)]))
            dls = pdf["dl"].to_numpy()
            rows = [
                (int(rids[s]), int(cids[s]), int(docs[s]), e - s,
                 encode_postings(docs[s:e], dls[s:e], block_size))
                for s, e in zip(starts, ends)
            ]
            return pd.DataFrame(rows, columns=[
                "range_id", "chunk_id", "doc_lo", "n_docs", "payload"])

        for pdf in it:
            out = flush(pdf, flush_all=False)
            if out is not None:
                yield out
        if carry is not None and len(carry):
            out = flush(pd.DataFrame(columns=carry.columns), flush_all=True)
            if out is not None:
                yield out

    return gen


def _write_staged(df: DataFrame, stage_path: str,
                  config: IndexConfig) -> None:
    """Write the staged blob table. Default (one-job encode): hive
    partition by the 2-value ``_dl`` flag only — the encode consumes
    every posting blob anyway, and the dl chain prunes to its own (tiny)
    partition; per-shard hive partitioning made every analyze task open
    num_shards+1 parquet writers (32 tasks × 9 values = 288 small files
    at the bench shape; the dynamic-partition write measured ~2.5× a
    flat write). Grouped encode (shards_per_job > 0) keeps the per-shard
    layout its shard-subset reads prune on; the choice is part of the
    config fingerprint, so resume never mixes layouts."""
    if config.shards_per_job > 0:
        (df.write.mode("overwrite").partitionBy("shard_id")
         .parquet(stage_path))
    else:
        (df.withColumn("_dl", (F.col("shard_id") < 0).cast("int"))
         .write.mode("overwrite").partitionBy("_dl").parquet(stage_path))


def _staged_part(spark: SparkSession, stage_path: str, dl: bool,
                 config: IndexConfig) -> DataFrame:
    """The posting (dl=False) or dl-blob (dl=True) slice of a staged
    table, pruning on the layout _write_staged chose for ``config``: the
    ``_dl`` flag (shards_per_job == 0), or the per-shard hive partitioning
    with the dl blobs under shard_id = -1 (shards_per_job > 0). The read
    declares STAGE_SCHEMA plus the layout's partition column, so it runs
    no schema-inference job."""
    if config.shards_per_job > 0:
        staged = spark.read.schema(STAGE_SCHEMA).parquet(stage_path)
        return staged.filter(F.col("shard_id") == -1 if dl
                             else F.col("shard_id") >= 0)
    staged = (spark.read.schema(STAGE_SCHEMA + ", _dl int")
              .parquet(stage_path))
    return staged.filter(F.col("_dl") == F.lit(1 if dl else 0))


def _build_doclen(spark: SparkSession, index_dir: str, stage_path: str,
                  range_width: int, config: IndexConfig, sp: int) -> int:
    """doclen + doclen_seg tables decoded from the staged dl blobs
    (the shard_id = -1 hive partition); returns total_dl — the avgdl
    numerator, summed here so publish needs no extra Spark job.
    Independent of the segment encode: build_index runs this chain in a
    driver thread overlapping the encode jobs (guide §2.6)."""

    def decode_dl_pairs(it):
        import numpy as np  # noqa: F811
        import pandas as pd  # noqa: F811
        from word2doc_spark.index.postings import unpack_pairs
        for pdf in it:
            parts = [unpack_pairs(bytes(b)) for b in pdf["blob"]]
            parts = [p for p in parts if p[0].size]
            if not parts:
                continue
            yield pd.DataFrame({
                "doc_id": np.concatenate([p[0] for p in parts]),
                "dl": np.concatenate([p[1] for p in parts]),
            })

    # sequential chain INSIDE the dl thread: the whole chain already
    # overlaps the segment encode; fanning these three jobs out
    # concurrently as well was measured SLOWER (4 simultaneous python
    # stages × n_cores workers oversubscribe the box — encode wall
    # inflated ~2× at the sf0.1 bench)
    (_staged_part(spark, stage_path, dl=True, config=config).select("blob")
           .coalesce(max(8, sp // 4))
           .mapInPandas(decode_dl_pairs, "doc_id long, dl long")
           .write.mode("overwrite")
           .parquet(os.path.join(index_dir, "doclen")))
    doclen = read_table(spark, index_dir, "doclen")
    dl_keyed = doclen.withColumn(
        "range_id", (F.col("doc_id") / F.lit(range_width)).cast("int")
    ).withColumn(
        "chunk_id",
        ((F.col("doc_id") % F.lit(range_width))
         / F.lit(config.dl_chunk_docs)).cast("int"))
    (dl_keyed.repartition(sp, "range_id", "chunk_id")
             .sortWithinPartitions("doc_id")
             .select("doc_id", "dl")
             .mapInPandas(_encode_dl_runs(range_width,
                                          config.dl_chunk_docs,
                                          config.block_size),
                          schema=DL_SEG_SCHEMA)
             .write.mode("overwrite")
             .parquet(os.path.join(index_dir, "doclen_seg")))
    agg = doclen.agg(F.sum("dl").alias("total_dl")).collect()[0]
    return int(agg["total_dl"] or 0)


# ---------------------------------------------------------------------------
# build driver
# ---------------------------------------------------------------------------

# the subdirectories the build owns — the ONLY paths a stale-wipe may
# touch; anything else under index_dir (user files, a mispointed path)
# must survive a fingerprint change
_BUILD_OWNED = ("docs", "stage", "doclen", "doclen_seg", "shards", "terms",
                "manifest")


def _wipe_stale(index_dir: str, manifest: Manifest, fp: str) -> None:
    """A fingerprint change invalidates EVERYTHING (input or config moved):
    wipe the build-owned subdirs so stale shards/terms/doclen from an older
    layout or num_shards can never be read alongside fresh data. Only the
    directories this build writes are removed — a config typo pointed at a
    populated directory cannot destroy unrelated data."""
    stale = False
    marker = manifest.read_marker("stage")
    if marker is not None and marker.get("fingerprint") != fp:
        stale = True
    if manifest.is_published():
        try:
            with open(manifest.config_path()) as f:
                if json.load(f)["stats"].get("fingerprint") != fp:
                    stale = True
        except Exception:
            stale = True
    if stale and os.path.isdir(index_dir):
        for sub in _BUILD_OWNED:
            shutil.rmtree(os.path.join(index_dir, sub), ignore_errors=True)


def _shard_groups(num_shards: int, shards_per_job: int) -> list[list[int]]:
    k = shards_per_job if shards_per_job > 0 else num_shards
    return [list(range(s, min(s + k, num_shards)))
            for s in range(0, num_shards, k)]


# staged dl blobs ride in the terms table under their own hive partition
# (shard_id=-1) so doc lengths fall out of the analyze pass instead of a
# second full shuffle over the posting stream


def _strip_repartitions(df: DataFrame) -> DataFrame:
    """Peel top-level Repartition/RepartitionByExpression nodes off a
    DataFrame's plan — for ROW-SET consumers (like boundary sampling)
    the caller's repartition is a pure wasted Exchange (measured 3× the
    sampling wall on a driver-local 30k corpus, whose repartition
    re-ships every row). Best-effort: any reflection hiccup returns the
    DataFrame unchanged."""
    try:
        lp = df._jdf.queryExecution().analyzed()
        changed = False
        while lp.getClass().getSimpleName() in (
                "Repartition", "RepartitionByExpression"):
            lp = lp.children().head()
            changed = True
        if not changed:
            return df
        spark = df.sparkSession
        jnew = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, lp)
        return DataFrame(jnew, spark)
    except Exception:
        return df


def _sample_url_bounds(pages: DataFrame, n_buckets: int,
                       max_sample: int = 100_000) -> list[str]:
    """URL range-bucket boundaries from a PRE-extraction sample.

    repartitionByRange would run its boundary-sampling job through the
    extract UDF's lineage (forcing a second full cache materialization);
    sampling the raw ``url`` column instead is a cheap column-pruned scan
    with no Python in it. Boundaries are approximate — the empty-text
    filter later removes some urls — which only skews bucket sizes
    slightly, never correctness (ids come from per-bucket counts).

    ONE job: each partition returns (its row count, up to ``cap``
    evenly-spaced urls from its sorted slice). The old count-then-collect
    shape materialized the input twice before the extract cache — for a
    driver-local (parallelize) corpus that is two full pickles of every
    page — just to learn n before choosing collect vs sample. When no
    partition truncates (any corpus ≤ max_sample with even partitions)
    the combined sample is every url, i.e. the same exact quantiles the
    old full-collect produced; truncated partitions degrade to stratified
    evenly-spaced samples, still quantile-preserving per slice. The pass
    runs as a plain RDD ``mapPartitions`` — an Arrow mapInPandas variant
    was interleave-measured ~2× slower for this tiny per-row payload
    (the Arrow eval machinery costs more than pickling short urls) —
    over the repartition-stripped plan (bounds are a row-set function;
    the caller's repartition is a wasted Exchange here)."""
    rdd = _strip_repartitions(pages).select("url").rdd
    cap = max(256, max_sample // max(rdd.getNumPartitions(), 1))

    def part_sample(it):
        urls = sorted(r[0] for r in it)
        n = len(urls)
        if n > cap:
            urls = [urls[(i * n) // cap] for i in range(cap)]
        yield (n, urls)

    parts = rdd.mapPartitions(part_sample).collect()
    if sum(p[0] for p in parts) == 0:
        return []
    urls = sorted(u for _, us in parts for u in us)
    bounds = {urls[min(len(urls) - 1, (i * len(urls)) // n_buckets)]
              for i in range(1, n_buckets)}
    return sorted(bounds)


def _url_bucket_col(bounds: list[str]):
    """searchsorted-right over the boundary literals, JVM-side: bucket =
    #bounds ≤ url. O(n_buckets) string compares per row inside codegen."""
    if not bounds:
        return F.lit(0).cast("int")
    arr = F.array(*[F.lit(b) for b in bounds])
    return F.size(F.filter(arr, lambda b: F.col("url") >= b)).cast("int")


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF


def _murmur3_int(k: int, seed: int = 42) -> int:
    """Spark's ``hash()`` of an IntegerType column (Murmur3 x86_32 hashInt,
    seed 42) — verified bit-identical against F.hash. Public-domain
    algorithm (Appleby)."""
    k = (k & 0xFFFFFFFF) * 0xcc9e2d51 & 0xFFFFFFFF
    k = _rotl32(k, 15) * 0x1b873593 & 0xFFFFFFFF
    h = seed ^ k
    h = (_rotl32(h, 13) * 5 + 0xe6546b64) & 0xFFFFFFFF
    h ^= 4
    h ^= h >> 16
    h = (h * 0x85ebca6b) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xc2b2ae35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _spark_hash_partition(k: int, n_parts: int) -> int:
    h = _murmur3_int(k)
    signed = h - (1 << 32) if h >= (1 << 31) else h
    return signed % n_parts  # python % == Spark pmod (non-negative)


def _partition_slots(n_parts: int) -> list[int]:
    """slot[i] = an int Spark hash-partitions to exactly i. Mapping each
    url bucket through its slot makes ``repartition(n, slot)`` place every
    bucket in its OWN task — range-partition balance without the
    range-sampling job (plain hash placement of n keys into n partitions
    loses ~2.5× to balls-in-bins collisions). Coupon-collector search,
    O(n·ln n) driver-side hashes."""
    slots: list[int | None] = [None] * n_parts
    found, k = 0, 0
    while found < n_parts:
        p = _spark_hash_partition(k, n_parts)
        if slots[p] is None:
            slots[p] = k
            found += 1
        k += 1
    return slots  # type: ignore[return-value]


def _concurrent_jobs(*named_fns):
    """Run independent Spark actions from driver threads so the tail of
    one job back-fills executors freed by the other (the scheduler runs
    concurrent jobs FIFO — exactly the overlap shape of guide §2.6).
    InheritableThreads, so the jobs carry the caller's thread-local
    properties (job group, scheduler pool) like the caller's own jobs.
    Re-raises the first failure after all threads join."""
    errs: list = []
    threads = []
    for name, fn in named_fns:
        def w(fn=fn, name=name):
            try:
                fn()
            except BaseException as e:  # noqa: BLE001 — re-raised below
                errs.append((name, e))
        t = InheritableThread(w, name=f"build-{name}", daemon=True)
        t.start()
        threads.append(t)
    for t in threads:
        t.join()
    if errs:
        raise errs[0][1]


_WARMED_SESSIONS: set = set()


def _warm_python_workers(spark: SparkSession):
    """Spin up the executor python workers — fork + numpy/pandas/Arrow
    imports, measured as ~2.5 s of near-idle wall at the front of the
    first UDF stage at BOTH 8 and 32 cores (a pure fixed cost that was
    flattening the extract sub-phase's scaling ratio). Runs as a tiny
    mapInPandas job in a background thread so it overlaps the JVM-only
    url-bounds sampling job. Once per SparkSession; on a long-lived
    cluster the workers are warm and this is a no-op."""
    # applicationId, not id(): a stopped context's id can be reused
    key = spark.sparkContext.applicationId
    if key in _WARMED_SESSIONS:
        return None
    _WARMED_SESSIONS.add(key)
    cores = spark.sparkContext.defaultParallelism

    def _run():
        try:
            def w(it):
                import numpy  # noqa: F401
                import pandas  # noqa: F401
                from word2doc_spark.functions import tokenize  # noqa: F401
                yield from it

            (spark.range(0, cores * 2, 1, cores * 2)
             .mapInPandas(w, "id long").count())
        except Exception:
            pass

    th = InheritableThread(_run, daemon=True)
    th.start()
    return th


def _walk_key_runs(keys: np.ndarray):
    """Yield (start, end, key) for consecutive equal-key runs."""
    change = np.concatenate(
        ([0], np.flatnonzero(keys[1:] != keys[:-1]) + 1, [keys.size]))
    for s, e in zip(change[:-1], change[1:]):
        yield int(s), int(e), int(keys[s])


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    config: IndexConfig | None = None,
    lang_filter: str | None = None,
    input_token: str = "default",
    shuffle_partitions: int | None = None,
    preprocess=None,
) -> dict:
    """Build (or resume) an index at ``index_dir``. Returns build metrics."""
    config = config or IndexConfig()
    manifest = Manifest(index_dir)
    fp = _fingerprint(config, input_token)
    _wipe_stale(index_dir, manifest, fp)
    sp = shuffle_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32"))
    metrics: dict = {"fingerprint": fp, "resumed_stages": []}
    t_start = time.time()

    docs_path = os.path.join(index_dir, "docs")
    stage_path = os.path.join(index_dir, "stage", "terms")
    shards_path = os.path.join(index_dir, "shards")
    terms_path = os.path.join(index_dir, "terms")

    # -- stage 1+2: docs + staged terms + doc lengths ---------------------
    # One python stage per action: the url-bucketed cached corpus feeds
    # (a) a narrow ids-only pass → docs(doc_id, url) and (b) a combined
    # ids+analyze pass → packed posting blobs + per-doc dl blobs under the
    # shard_id=-1 partition (doc lengths fall out of the analyze pass — no
    # second full shuffle over the posting stream). Chaining separate
    # id-assignment and analysis UDF stages in one task doubles the
    # concurrent python-worker count per core — measurably anti-scales.
    n_docs = None
    if manifest.has_marker("stage", fp):
        metrics["resumed_stages"].append("stage")
        n_docs = manifest.read_marker("stage").get("n_docs")
    else:
        from pyspark import StorageLevel
        t0 = time.time()
        sub: dict[str, float] = {}

        def _lap(name: str, t_prev: float) -> float:
            now = time.time()
            sub[name] = round(now - t_prev, 2)
            return now

        # global url order via explicit buckets sampled BEFORE extraction:
        # bucket boundaries are driver-known literals, so no lineage ever
        # re-runs the extract UDF for boundary sampling and only ONE cache
        # materialization is needed (the old repartitionByRange plan paid
        # a sampling job through the extract UDF plus a second cache)
        warm = _warm_python_workers(spark)
        bounds = _sample_url_bounds(pages, n_buckets=sp)
        t_sub = _lap("url_bounds", t0)
        if warm is not None:
            warm.join()
        t_sub = _lap("py_warmup", t_sub)
        ext = extracted_docs(pages, lang_filter, preprocess=preprocess)
        # bucket → slot → own shuffle partition (perfect balance; see
        # _partition_slots). sortWithinPartitions keeps (_pkey, url) order
        # so id assignment walks bucket runs even if buckets ever share a
        # task (e.g. collapsed duplicate boundaries).
        slots = F.array(*[F.lit(s) for s in _partition_slots(sp)])
        ranged = None
        try:
            ranged = (ext.withColumn("_pkey", _url_bucket_col(bounds))
                         .withColumn("_pslot", F.element_at(
                             slots, F.col("_pkey") + 1))
                         .repartition(sp, "_pslot")
                         .sortWithinPartitions("_pkey", "url")
                         .drop("_pslot")
                         .persist(StorageLevel.MEMORY_AND_DISK))
            counts = {r["_pkey"]: r["cnt"] for r in
                      ranged.groupBy("_pkey").agg(F.count("*").alias("cnt"))
                            .collect()}
            t_sub = _lap("extract_count", t_sub)
            offsets: dict[int, int] = {}
            acc = 0
            for pkey in sorted(counts):
                offsets[pkey] = acc
                acc += counts[pkey]
            n_docs = acc
            range_width = range_width_for(
                n_docs, resolve_n_ranges(config, n_docs))

            # hash partitioning may co-locate several url buckets in one task
            # (sorted (_pkey, url) within it) — ids are assigned per bucket run
            # from the global offsets, so doc_id = position in url-sorted order
            def ids_only(it):
                import numpy as np  # noqa: F811
                import pandas as pd  # noqa: F811
                pos: dict[int, int] = {}
                for pdf in it:
                    if len(pdf) == 0:
                        continue
                    pk = pdf["_pkey"].to_numpy()
                    out = np.empty(len(pdf), dtype=np.int64)
                    for s, e, key in _walk_key_runs(pk):
                        start = pos.get(key, offsets[key])
                        out[s:e] = np.arange(start, start + (e - s))
                        pos[key] = start + (e - s)
                    yield pd.DataFrame({"doc_id": out, "url": pdf["url"]})

            ngram, hash_size = config.ngram, config.hash_size
            analyzer_name = config.analyzer
            num_shards = config.num_shards
            n_routes = max(_ROUTES_MIN, sp)

            def ids_and_analyze(it):
                import numpy as np  # noqa: F811
                import pandas as pd  # noqa: F811
                from word2doc_spark.functions.tokenize import shared_analyzer
                analyzer = shared_analyzer(ngram=ngram, hash_size=hash_size,
                                           tokenizer=analyzer_name)
                pos: dict[int, int] = {}
                buf_t: list = []
                buf_d: list = []
                buf_f: list = []
                dl_d: list = []
                dl_v: list = []
                buffered = 0

                def flush_postings():
                    nonlocal buffered
                    if not buf_t:
                        return None
                    rows = _pack_posting_blobs(
                        np.concatenate(buf_t), np.concatenate(buf_d),
                        np.concatenate(buf_f), num_shards, n_routes,
                        range_width)
                    buf_t.clear()
                    buf_d.clear()
                    buf_f.clear()
                    buffered = 0
                    return pd.DataFrame(rows,
                                        columns=["shard_id", "route", "blob"])

                for pdf in it:
                    if len(pdf) == 0:
                        continue
                    pk = pdf["_pkey"].to_numpy()
                    row_ids = np.empty(len(pdf), dtype=np.int64)
                    for s, e, key in _walk_key_runs(pk):
                        start = pos.get(key, offsets[key])
                        row_ids[s:e] = np.arange(start, start + (e - s))
                        pos[key] = start + (e - s)
                    texts = pdf["text"].fillna("").tolist()
                    term_lists, tf_lists = analyzer.analyze_batch(texts)
                    lens = np.fromiter((t.size for t in term_lists),
                                       dtype=np.int64, count=len(term_lists))
                    if lens.sum() > 0:
                        buf_t.append(np.concatenate(term_lists)
                                     .astype(np.int64, copy=False))
                        buf_d.append(np.repeat(row_ids, lens))
                        buf_f.append(np.concatenate(tf_lists)
                                     .astype(np.int64, copy=False))
                        buffered += int(lens.sum())
                    # per-doc dl pairs (dl = Σtf — exactly what the old
                    # groupBy over exploded staged terms computed)
                    dls = np.fromiter((t.sum() for t in tf_lists),
                                      dtype=np.int64, count=len(tf_lists))
                    mask = dls > 0
                    if mask.any():
                        dl_d.append(row_ids[mask])
                        dl_v.append(dls[mask])
                    if buffered >= _PACK_FLUSH_POSTINGS:
                        out = flush_postings()
                        if out is not None:
                            yield out
                out = flush_postings()
                if out is not None:
                    yield out
                if dl_d:
                    from word2doc_spark.index.postings import pack_pairs
                    d = np.concatenate(dl_d)
                    v = np.concatenate(dl_v)
                    order = np.argsort(d, kind="stable")
                    blob = pack_pairs(d[order], v[order])
                    yield pd.DataFrame(
                        [(-1, int(d[0]) % n_routes, blob)],
                        columns=["shard_id", "route", "blob"])

            # doc-ids and analysis are INDEPENDENT passes over the cached
            # corpus — run them as concurrent jobs (guide §2.6) so the
            # light ids pass back-fills executors the analyze stage's
            # stragglers leave idle (sequential they cost wall(ids) +
            # wall(analyze); ids_only is numpy-cheap, so its workers
            # barely contend with the analyzer's)
            # coalesce the narrow (doc_id, url) output: sp files of a few
            # hundred rows each tax every url lookup with per-file opens;
            # ids_only handles several buckets per task (offset-keyed
            # runs), so merging partitions is id-safe. Sorted by doc_id
            # within each file, so the footer min/max statistics let a
            # query's url lookup (exact.finish_topk) skip whole row groups
            n_docs_files = max(8, sp // 4)
            _concurrent_jobs(
                ("doc_ids",
                 lambda: (ranged.select("url", "_pkey")
                          .coalesce(n_docs_files)
                          .mapInPandas(ids_only, "doc_id long, url string")
                          .sortWithinPartitions("doc_id")
                          .write.mode("overwrite").parquet(docs_path))),
                ("analyze_stage",
                 lambda: _write_staged(
                     ranged.select("text", "_pkey")
                     .mapInPandas(ids_and_analyze, STAGE_SCHEMA),
                     stage_path, config)),
            )
            t_sub = _lap("ids+analyze", t_sub)
        finally:
            if ranged is not None:
                ranged.unpersist()
        manifest.write_marker("stage", fp, wall_s=time.time() - t0,
                              n_docs=n_docs, range_width=range_width,
                              sub_walls=sub)

    if n_docs is None:
        n_docs = read_table(spark, index_dir, "docs").count()
    range_width = manifest.read_marker("stage").get(
        "range_width",
        range_width_for(n_docs, resolve_n_ranges(config, n_docs)))

    # -- stage 2b ∥ 3: the doc-length tables (doclen, doclen_seg, total
    #    dl) and the segment encode both derive from the staged blobs and
    #    are independent of each other — the dl chain runs in a driver
    #    thread overlapping the encode jobs (guide §2.6: concurrent jobs
    #    back-fill each other's stragglers). Its marker carries total_dl
    #    so publish computes avgdl without a Spark job; it is joined on
    #    every way out of the encode.
    # -- stage 3: segment encode (one job by default; grouped for finer
    #    resume). Dynamic partition overwrite makes a rerun of a group
    #    idempotent: it replaces exactly the hive partitions it produces.
    done = manifest.completed_shards(fp)
    groups = _shard_groups(config.num_shards, config.shards_per_job)
    metrics["resumed_stages"].extend(
        f"shard_{s}" for s in range(config.num_shards) if s in done)

    total_dl_holder = [0]
    dl_thread = None
    dl_errs: list = []
    try:
        if manifest.has_marker("dl", fp):
            metrics["resumed_stages"].append("dl")
            total_dl_holder[0] = int(
                manifest.read_marker("dl").get("total_dl", 0))
        else:
            def _dl_work():
                try:
                    t0dl = time.time()
                    total_dl_holder[0] = _build_doclen(
                        spark, index_dir, stage_path, range_width, config, sp)
                    manifest.write_marker(
                        "dl", fp, wall_s=round(time.time() - t0dl, 2),
                        total_dl=total_dl_holder[0])
                except BaseException as e:  # noqa: BLE001 — re-raised below
                    dl_errs.append(e)

            dl_thread = InheritableThread(_dl_work, name="build-dl",
                                          daemon=True)
            dl_thread.start()
        # exclude the dl blobs — segment encode consumes posting blobs
        # only (layout-adaptive pruning, see _staged_part)
        staged_all = _staged_part(spark, stage_path, dl=False,
                                  config=config)
        for group in groups:
            todo = [s for s in group if s not in done]
            if not todo:
                continue
            t0 = time.time()
            part = staged_all
            if len(group) < config.num_shards:
                part = staged_all.filter(F.col("shard_id").isin(group))
            encoded = _encode_segments(
                part.select("shard_id", "route", "blob"), config,
                range_width, sp)
            (encoded.withColumn(
                "shard_id", F.pmod(F.col("term_id"),
                                   F.lit(config.num_shards)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("shard_id").parquet(shards_path))
            wall = time.time() - t0
            # derive the per-term stats table from the segment METADATA
            # (column-pruned scan; payloads unread), carrying per-term
            # segment/byte counts so the per-shard lineage rows fall out
            # of the SAME job: observed per-shard conditional aggregates
            # ride the terms write (Observation metrics are exactly-once
            # per successful action) — the old shape paid a second
            # scan+groupBy job over the shards metadata, then a third
            # over the terms table
            written = read_table(spark, index_dir, "shards").filter(
                F.col("shard_id").isin(group))
            # repartition by shard_id BEFORE the agg: the partitioning
            # satisfies groupBy(shard_id, term_id) (subset clustering),
            # so no second exchange appears, and the hive write emits
            # ONE file per shard instead of one per (shuffle partition,
            # shard) pair — sp × |group| small files otherwise
            term_stats = (written
                          .repartition(config.num_shards, "shard_id")
                          .groupBy("shard_id", "term_id")
                          .agg(F.sum("n_postings").alias("df"),
                               F.count("*").alias("segments"),
                               F.sum(F.length("payload")).alias("bytes")))
            obs = None
            if len(group) <= 64:
                from pyspark.sql import Observation
                obs = Observation(f"shard_stats_{group[0]}")
                aggs = []
                for s in group:
                    cond = F.col("shard_id") == s
                    aggs += [
                        F.count(F.when(cond, 1)).alias(f"t{s}"),
                        F.sum(F.when(cond, F.col("segments")))
                         .alias(f"s{s}"),
                        F.sum(F.when(cond, F.col("df"))).alias(f"p{s}"),
                        F.sum(F.when(cond, F.col("bytes")))
                         .alias(f"b{s}"),
                    ]
                term_stats = term_stats.observe(obs, *aggs)
            (term_stats.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("shard_id").parquet(terms_path))
            if obs is not None:
                m = obs.get
                got = {s: (int(m[f"t{s}"] or 0), int(m[f"s{s}"] or 0),
                           int(m[f"p{s}"] or 0), int(m[f"b{s}"] or 0))
                       for s in group}
            else:  # very wide groups: one tiny read of the terms table
                srows = (read_table(spark, index_dir, "terms")
                         .filter(F.col("shard_id").isin(group))
                         .groupBy("shard_id")
                         .agg(F.count("*").alias("terms"),
                              F.sum("segments").alias("segments"),
                              F.sum("df").alias("postings"),
                              F.sum("bytes").alias("bytes"))
                         .collect())
                got = {r["shard_id"]: (int(r["terms"]),
                                       int(r["segments"]),
                                       int(r["postings"] or 0),
                                       int(r["bytes"] or 0))
                       for r in srows}
            for shard_id in group:
                t_, s_, p_, b_ = got.get(shard_id, (0, 0, 0, 0))
                manifest.write_shard(
                    shard_id, fp,
                    n_terms=t_, n_postings=p_, n_segments=s_, bytes=b_,
                    wall_s=wall / len(group),
                )
    finally:
        # joined on every way out: a failed encode must not leave the dl
        # chain running behind the caller, still writing doclen and its
        # marker into the index directory
        if dl_thread is not None:
            dl_thread.join()
    if dl_errs:
        raise dl_errs[0]

    # -- stage 4: publish -------------------------------------------------
    shard_rows = manifest.shard_metrics()
    # avgdl over ALL N docs — docs whose text yields zero kept terms have
    # dl = 0 and are absent from doclen rows but still count in the mean;
    # total_dl was summed inside the dl stage (no publish-time Spark job)
    stats = {
        "n_docs": n_docs,
        "avgdl": (float(total_dl_holder[0]) / n_docs) if n_docs else 0.0,
        "range_width": range_width,
        "n_terms": sum(r["n_terms"] for r in shard_rows),
        "n_postings": sum(r["n_postings"] for r in shard_rows),
        "n_segments": sum(r.get("n_segments", 0) for r in shard_rows),
        "index_bytes": sum(r["bytes"] for r in shard_rows),
        "input_token": input_token,
        "fingerprint": fp,
        # per-PUBLISH unique id: executor-side process-lifetime caches key
        # on this, never on the fingerprint — the fingerprint hashes only
        # config + the caller's input_token (not corpus content), so two
        # indexes built from different corpora under the same token, or an
        # in-place rebuild after the corpus changed, would collide and
        # silently serve another build's cached doc lengths
        "build_id": uuid.uuid4().hex,
    }
    manifest.publish(config, **stats)
    metrics.update(stats)
    metrics["wall_s"] = time.time() - t_start
    return metrics
