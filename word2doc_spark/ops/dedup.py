"""Deduplication operators for training-data pipelines.

Four families, all over a ``documents(doc_id, text, ...)`` table:

* exact        — md5 fingerprint groupBy (one shuffle on the hash)
* minhash LSH  — shingle → K minhashes → B bands → bucket self-join →
                 candidate pairs (+ optional exact-jaccard verify)
* n-gram jaccard — shingle-inverted-index pair generation + exact jaccard
* simhash      — 60-bit simhash via built-in conditional-sum aggregates
                 + pigeonhole hamming bands

Scale notes: every pair-generating op goes through an equi-join on a
bucket/band/shingle key — never a cross join. Hot shingles are dropped by
a document-frequency cap before the self-join (standard stop-shingle
trick), which bounds the join fan-out; the cap is logged, not silent.
The cross-engine-stable string→int hash is ``md5 hex prefix → bigint``,
identical in Spark and DuckDB, so the LSH ops have exact SQL oracles.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from word2doc_spark.lifetime import materialize, release_with
from word2doc_spark.ops.textstats import spread_input, sql_tokens

# md5-prefix hash: deterministic and identical in DuckDB
# (Spark: conv(substring(md5(s),1,15),16,10); DuckDB: from_hex / strtol)


def _md5_long(col) -> F.Column:
    # 15 hex chars = 60 bits < 2^63: always fits signed bigint
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


_spread_input = spread_input


def _shingle_arr(tk: F.Column, n: int) -> F.Column:
    """Per-row DISTINCT shingle array from a token array column.
    sequence(0, size-n) would COUNT DOWN when size < n (Spark infers a
    negative step) — guard short docs to an empty shingle list instead."""
    return F.when(
        F.size(tk) >= n,
        F.array_distinct(F.transform(
            F.sequence(F.lit(0), F.size(tk) - n),
            lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)))),
    ).otherwise(F.array().cast("array<string>"))


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct word n-gram shingles per doc.

    Built per row with higher-order functions — transform over a position
    sequence + slice + concat_ws + array_distinct — then ONE explode.
    ZERO shuffles and zero joins: per-doc distinctness is established
    row-locally by array_distinct (``doc_id`` is the table key, so the
    old post-explode global .distinct() deduplicated exactly within rows
    — one full Exchange of the shingle stream for nothing), and the old
    pre-v3 plan additionally self-joined the exploded token table (n−1)
    times on (doc_id, pos).

    The token array is materialized in its OWN projection first: Catalyst
    does not CSE expressions into higher-order-function lambdas, so
    referencing sql_tokens(...) directly inside transform() re-tokenizes
    the document once per element (measured 6× slower at sf0.1)."""
    base = _spread_input(docs.select("doc_id", "text"))
    tok_df = base.select("doc_id", sql_tokens("text").alias("_tk"))
    per_row = _shingle_arr(F.col("_tk"), n)
    return tok_df.select("doc_id", F.explode(per_row).alias("shingle"))


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """(fp, n_dups, keep_doc_id, doc_ids) — exact-content duplicate groups;
    keep the smallest doc_id per group (deterministic survivor)."""
    fp = docs.select("doc_id",
                     F.md5(F.array_join(sql_tokens("text"), " ")).alias("fp"))
    return (fp.groupBy("fp")
              .agg(F.count("*").alias("n_dups"),
                   F.min("doc_id").alias("keep_doc_id"),
                   F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
              .filter(F.col("n_dups") > 1))


def _minhash_wide(docs: DataFrame, num_perm: int,
                  shingle_n: int) -> DataFrame:
    """(doc_id, _m0.._m{P-1}) — all P minhashes of a doc in ONE row via a
    single groupBy(doc_id) over the per-doc-distinct shingle stream with
    P min() aggregates. The P md5 hashes per shingle are plain projected
    columns (whole-stage codegen — a per-row transform() lambda computing
    the same hashes ran ~2× slower, HOF lambdas are interpreted), and the
    map-side partial aggregation reduces the only Exchange to one row per
    doc per map partition. Docs with zero shingles produce no row — the
    same rows the old groupBy(doc_id, perm) never saw."""
    sh = shingles(docs, shingle_n)
    hcols = [_md5_long(F.concat_ws(":", F.lit(str(i)), F.col("shingle")))
             .alias(f"_h{i}") for i in range(num_perm)]
    return (sh.select("doc_id", *hcols)
            .groupBy("doc_id")
            .agg(*[F.min(f"_h{i}").alias(f"_m{i}")
                   for i in range(num_perm)]))


def minhash_signatures(docs: DataFrame, num_perm: int = 16,
                       shingle_n: int = 3) -> DataFrame:
    """(doc_id, perm, minhash) — K independent minhashes per doc.
    Permutation i's hash of shingle s = md5_long(i || ':' || s); min over
    the doc's shingle set. Pure built-ins → exact SQL twin.

    One groupBy(doc_id) with K min aggregates (_minhash_wide) + a K-way
    struct explode. The old plan shuffled the expanded stream twice —
    a global (doc, shingle) distinct (now row-local array_distinct in
    shingles) and a groupBy(doc_id, perm) over K× exploded rows; this
    shape's only Exchange carries one partially-aggregated row per doc."""
    agg = _minhash_wide(docs, num_perm, shingle_n)
    mh = F.array(*[
        F.struct(F.lit(i).cast("long").alias("perm"),
                 F.col(f"_m{i}").alias("minhash"))
        for i in range(num_perm)])
    return (agg.select("doc_id", F.explode(mh).alias("_pm"))
            .select("doc_id",
                    F.col("_pm").getField("perm").alias("perm"),
                    F.col("_pm").getField("minhash").alias("minhash")))


def lsh_candidate_pairs(docs: DataFrame, num_perm: int = 16,
                        bands: int = 4, shingle_n: int = 3) -> DataFrame:
    """(doc_a, doc_b) candidate near-dup pairs: docs sharing ≥1 LSH band.

    band signature = md5 of the band's concatenated minhashes; equi-join
    on (band, signature) — no cross join, shuffle keyed by band buckets.

    Band signatures are computed from the one-row-per-doc minhash table
    (_minhash_wide): the band's "perm:minhash" entries sorted with
    sort_array — byte-identical to the old sort_array(collect_list(...))
    over grouped rows — then a (band, band_sig) struct explode. Each join
    side pays ONE Exchange (the doc groupBy) before the join's own; the
    old plan paid three per side (shingle distinct, minhash groupBy,
    band groupBy)."""
    rows_per_band = num_perm // bands
    band_perms: dict[int, list[int]] = {}
    for p in range(num_perm):
        band_perms.setdefault(p // rows_per_band, []).append(p)

    def band_sig(perms: list[int]) -> F.Column:
        entries = [F.concat_ws(":", F.lit(str(p)),
                               F.col(f"_m{p}").cast("string"))
                   for p in perms]
        return F.md5(F.concat_ws(",", F.sort_array(F.array(*entries))))

    bands_arr = F.array(*[
        F.struct(F.lit(band).cast("int").alias("band"),
                 band_sig(perms).alias("band_sig"))
        for band, perms in sorted(band_perms.items())])
    banded = (_minhash_wide(docs, num_perm, shingle_n)
              .select("doc_id", F.explode(bands_arr).alias("_bb"))
              .select("doc_id",
                      F.col("_bb").getField("band").alias("band"),
                      F.col("_bb").getField("band_sig").alias("band_sig")))
    # materialize the (tiny, bands-per-doc-row) band table ONCE before
    # the self-join: Catalyst plans each join side as an independent
    # subtree, so without this both sides re-run the whole tokenize +
    # shingle + K×md5 + groupBy lineage (filled eagerly so the join
    # stages can never race the first materialization)
    banded = materialize(banded)
    a = banded.alias("a")
    b = banded.alias("b")
    return release_with(
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_sig") == F.col("b.band_sig"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
         .select(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
         .distinct(), banded)


def ngram_jaccard_pairs(docs: DataFrame, shingle_n: int = 3,
                        threshold: float = 0.8,
                        max_shingle_df: int = 1000) -> DataFrame:
    """(doc_a, doc_b, jaccard) — exact n-gram jaccard over candidate pairs
    from a shingle inverted index. Shingles occurring in more than
    ``max_shingle_df`` docs are dropped before the self-join (fan-out
    bound; affects only pairs whose sole overlap is stop-shingles —
    those are below any useful threshold anyway)."""
    # materialize the shingle table once: it feeds FOUR independent
    # subtrees (sizes, the shingle-df table, and both self-join sides of
    # the inverted index), each of which would otherwise re-run the
    # tokenize + shingle lineage
    sh = materialize(shingles(docs, shingle_n))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    rare = (sh.join(sh.groupBy("shingle")
                      .agg(F.count("*").alias("df_sh")),
                    "shingle")
              .filter(F.col("df_sh") <= max_shingle_df)
              .select("doc_id", "shingle"))
    a = rare.alias("a")
    b = rare.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
               .groupBy(F.col("a.doc_id").alias("doc_a"),
                        F.col("b.doc_id").alias("doc_b"))
               .agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_sh").alias("n_b"))
    jac = (F.col("inter").cast("double")
           / (F.col("n_a") + F.col("n_b") - F.col("inter")))
    # threshold the UNROUNDED ratio (round only for display) so the filter
    # boundary matches an oracle that compares the exact quotient
    return release_with(inter.join(sa, "doc_a").join(sb, "doc_b")
                        .filter(jac >= threshold)
                        .withColumn("jaccard", F.round(jac, 6))
                        .select("doc_a", "doc_b", "jaccard"), sh)


# ---------------------------------------------------------------------------
# simhash — pure built-ins (JVM-side, whole-stage codegen) over the
# md5-prefix token hash, so DuckDB can run an exact SQL twin
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # md5_long yields 60 usable bits (15 hex chars)


def simhash64(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 60-bit simhash over the token multiset.

    Per token: h = md5_long(token); per bit position b: vote +1 when bit b
    of h is set else −1, summed over all tokens (duplicates included);
    simhash bit b = 1 iff the vote is positive. Docs with zero tokens get
    simhash 0. All built-in column ops in ONE groupBy(doc_id) with 60
    conditional-sum aggregate expressions — map-side partial aggregation
    reduces each doc to a single 60-long row before the only shuffle (the
    old plan posexploded every token into 60 vote rows and shuffled
    n_tokens × 60 rows through a (doc_id, pos) aggregation)."""
    toks = (spread_input(docs.select("doc_id", "text"))
            .select("doc_id",
                    F.explode(sql_tokens("text")).alias("token"))
            .select("doc_id", _md5_long(F.col("token")).alias("h")))
    votes = toks.groupBy("doc_id").agg(*[
        F.sum(F.shiftrightunsigned(F.col("h"), b).bitwiseAND(F.lit(1))
               .cast("long") * 2 - 1).alias(f"v{b}")
        for b in range(SIMHASH_BITS)])
    bit_terms = [
        F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long"))
         .otherwise(F.lit(0).cast("long"))
        for b in range(SIMHASH_BITS)]
    acc = bit_terms[0]
    for t in bit_terms[1:]:
        acc = acc + t
    sim = votes.select("doc_id", acc.alias("simhash"))
    return (docs.select("doc_id").join(sim, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("simhash"), F.lit(0).cast("long"))
                     .alias("simhash")))


def simhash_near_dupes(docs: DataFrame, hamming_max: int = 3) -> DataFrame:
    """(doc_a, doc_b, hamming) — near-dup pairs by simhash distance.
    Candidate generation by 4×15-bit band equality (any doc pair within
    hamming ≤ 3 shares at least one of 4 bands by pigeonhole)."""
    sh = simhash64(docs)
    bands = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.shiftrightunsigned(F.col("simhash"), 15 * i)
                      .bitwiseAND(F.lit(0x7FFF)).alias("key"))
            for i in range(4)
        ])).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.col("a.simhash").alias("sh_a"),
                     F.col("b.simhash").alias("sh_b"))
             .distinct())
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (cand.withColumn("hamming", hamming)
                .filter(F.col("hamming") <= hamming_max)
                .select("doc_a", "doc_b", "hamming"))
