"""Engine configuration.

Defaults mirror the reference CLI defaults
(/root/reference/src/build-doc-retriever-model.py:30-37): ngram=2,
hash_size=2^24, SimpleTokenizer analyzer.
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict


@dataclass(frozen=True)
class IndexConfig:
    # --- analysis (reference parity; changing these changes term_ids) ---
    ngram: int = 2              # all n-grams of length 1..ngram
    hash_size: int = 2 ** 24    # feature-hash buckets (murmur3_32 % hash_size)
    analyzer: str = "simple"    # 'simple' (reference default) | 'regexp'

    # --- scoring ---
    score_mode: str = "drqa"    # 'drqa' (reference formula) | 'bm25'
    k1: float = 1.2             # bm25 only
    b: float = 0.75             # bm25 only

    # --- physical layout ---
    block_size: int = 128       # postings per block (block-max WAND skip unit)
    num_shards: int = 32        # posting shards = hash partitions of term_id
    # doc-range segmentation: every term's posting list is split at global
    # doc-range boundaries (n_ranges buckets over [0, n_docs)) — this IS the
    # always-on head-term salting (salt = doc range), and it is also the
    # parallel axis of doc-partitioned query scoring. Within one range a run
    # is further split at max_seg_postings so no parquet cell outgrows a few
    # hundred KB regardless of df. At 10^12-doc scale n_ranges would be set
    # to O(10^4-10^5); the local default keeps ranges >= cores.
    # 0 = auto-size at build time: max(32, ceil(n_docs / 32M docs/range)) —
    # 10^12 docs resolves to ~31k ranges, tiny corpora to 32.
    n_ranges: int = 32
    max_seg_postings: int = 131072
    # doclen blob chunking (docs per encoded dl chunk row)
    dl_chunk_docs: int = 1 << 20
    # encode-stage resume granularity: 0 = all shards in ONE Spark job
    # (fastest); k > 0 = sequential jobs of k shards each, each group an
    # atomic resume unit (per-shard lineage rows written either way)
    shards_per_job: int = 0

    # bookkeeping (bump on any stats/layout semantic change — the build
    # fingerprint includes it, so stale indexes rebuild; v3: range-segmented
    # posting lists + terms/doclen_seg tables; v4: numpy-packed blob staging
    # (stage/terms holds (route, blob) rows, not exploded triples); v5:
    # every published index carries stats.build_id)
    version: int = 5
    extras: dict = field(default_factory=dict)

    def to_dict(self) -> dict:
        return asdict(self)

    @staticmethod
    def from_dict(d: dict) -> "IndexConfig":
        known = {f for f in IndexConfig.__dataclass_fields__}
        return IndexConfig(**{k: v for k, v in d.items() if k in known})
