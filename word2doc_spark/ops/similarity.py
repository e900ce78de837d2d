"""Similarity search over an embedding column (array<float>).

* brute_force_topk — exact cosine top-k: query side broadcast, dot
  products via built-in higher-order functions (zip_with + aggregate,
  JVM-side), window top-k. The correctness baseline; O(Q·N) but fully
  distributed and shuffle-free until the final per-query window.
* lsh_topk — scale path: random-hyperplane LSH bucket join; only
  candidates sharing a bucket are scored. Recall<1 by design; the
  baseline is the oracle for its quality tests.

All float math is double-precision and sequential (aggregate folds left),
so the brute-force op has an exact DuckDB twin (list_cosine_similarity
is double too); scores are rounded to 6 dp on both sides before compare.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
import pyspark.sql.functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


from word2doc_spark.lifetime import materialize, release_with
from word2doc_spark.ops.textstats import spread_input as _spread_input


def brute_force_topk(vectors: DataFrame, queries: DataFrame,
                     k: int = 5) -> DataFrame:
    """vectors(vec_id, embedding), queries(query_vec_id, embedding) →
    (query_vec_id, rank, neighbor_id, cosine). Excludes self-matches.

    Per-side norms are precomputed BEFORE the crossJoin: cosine =
    dot/(qn·vn) then evaluates one array fold per pair instead of three
    (the old plan re-folded both norms for every (query, vector) pair —
    Q× per vector, N× per query; values are bit-identical, the fold and
    the multiply order are unchanged). The streamed vector side is
    spread to the shuffle width first (_spread_input): a small vector
    parquet is one scan task, which would serialize all Q·N folds onto
    one core."""
    from pyspark.sql import Window

    q = (queries.select(
            F.col("query_vec_id"),
            F.col("embedding").cast("array<double>").alias("qe"))
         .withColumn("_qn", _norm(F.col("qe"))))
    v = (_spread_input(vectors.select("vec_id", "embedding"))
         .select(F.col("vec_id").alias("neighbor_id"),
                 F.col("embedding").cast("array<double>").alias("ve"))
         .withColumn("_vn", _norm(F.col("ve"))))
    scored = (v.crossJoin(F.broadcast(q))
               .filter(F.col("neighbor_id") != F.col("query_vec_id"))
               .select("query_vec_id", "neighbor_id",
                       F.round(_dot(F.col("qe"), F.col("ve"))
                               / (F.col("_qn") * F.col("_vn")), 6)
                        .alias("cosine")))
    w = Window.partitionBy("query_vec_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
                  .filter(F.col("rank") <= k)
                  .select("query_vec_id", "rank", "neighbor_id", "cosine"))


def random_hyperplanes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def _embedding_dim(df: DataFrame, emb_col: str = "embedding") -> int | None:
    """Embedding width, or None when the table is empty. One bounded
    ``head(1)`` — callers that know the dim should pass it explicitly and
    skip the probe (array<> schemas don't carry a length)."""
    row = df.select(emb_col).head(1)
    if not row or row[0][emb_col] is None:
        return None
    return len(row[0][emb_col])


def _empty_pairs(spark) -> DataFrame:
    return spark.createDataFrame(
        [], "vec_a long, vec_b long, cosine double")


def _empty_topk(spark) -> DataFrame:
    return spark.createDataFrame(
        [], "query_vec_id long, rank long, neighbor_id long, cosine double")


def lsh_bucket(df: DataFrame, planes: np.ndarray, id_col: str,
               emb_col: str = "embedding") -> DataFrame:
    """Sign-of-projection bucket id per vector — one bucket per vector
    (single hash table; multiple tables = union of calls with different
    seeds). Small plane matrices are baked as JVM literal expressions
    (zip_with/aggregate, exact-SQL-twin surface); past the literal budget
    (production widths: 1k-4k dims × 16 planes would be a 16k-64k-literal
    expression tree) an Arrow-batched numpy matmul computes the same sign
    bits, still shuffle-free."""
    if planes.size > _CENT_LITERAL_MAX_FLOATS:
        return _lsh_bucket_pandas(df, planes, id_col, emb_col)
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in plane])
        proj = _dot(F.col(emb_col).cast("array<double>"), arr)
        bucket = bucket + F.when(proj > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return df.select(F.col(id_col), F.col(emb_col), bucket.alias("bucket"))


def _lsh_bucket_pandas(df: DataFrame, planes: np.ndarray, id_col: str,
                       emb_col: str) -> DataFrame:
    """Arrow-batched twin of the literal ``lsh_bucket`` expression: one
    matmul per batch against the process-held plane matrix. Sign bits
    use the same strict ``proj > 0`` rule; numpy's dot can differ from
    the JVM fold in the last ulp only when a projection sits at exactly
    0.0, a measure-zero event for random hyperplanes (identity vs the
    literal path is pytest-gated on real data)."""
    import pandas as pd

    pm = planes.astype(np.float64).T  # dim × n_planes
    weights = (1 << np.arange(planes.shape[0], dtype=np.int64))
    emb_type = dict(df.dtypes)[emb_col]
    schema = f"{id_col} long, {emb_col} {emb_type}, bucket long"

    def run(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            emb = np.array([np.asarray(v, dtype=np.float64)
                            for v in pdf[emb_col]])
            proj = emb @ pm
            buckets = ((proj > 0) @ weights).astype(np.int64)
            yield pd.DataFrame({id_col: pdf[id_col],
                                emb_col: pdf[emb_col],
                                "bucket": buckets})

    return df.select(id_col, emb_col).mapInPandas(run, schema=schema)


def train_centroids(vectors: DataFrame,
                    n_cells: int = 16) -> list[tuple[int, list[float]]]:
    """Deterministic coarse quantizer: the ``n_cells`` vectors with the
    smallest md5(vec_id) — a seedless sample both Spark and a SQL oracle
    reproduce. O(n_cells) driver collect: the coarse codebook is
    driver-resident by design (as in any IVF trainer); n_cells = O(√N)
    stays driver-sized even at 10^9 vectors."""
    rows = (vectors
            .withColumn("_h", F.md5(F.encode(
                F.col("vec_id").cast("string"), "UTF-8")))
            .orderBy("_h", "vec_id")
            .limit(n_cells)
            .select(F.col("vec_id").alias("cell_id"),
                    F.col("embedding").cast("array<double>").alias("cemb"))
            .collect())
    return [(int(r["cell_id"]), [float(x) for x in r["cemb"]])
            for r in rows]


# above this many codebook floats the literal-array plan (n_cells × dim
# literals baked into every expression) stops being sane — switch to the
# Arrow-batched numpy path (same argmax/probe answers; the exact-SQL twin
# uses the small-codebook literal form)
_CENT_LITERAL_MAX_FLOATS = 16_384


def _cent_scored(emb_col, cent) -> F.Column:
    """array<struct(csim, neg_cell)> — cosine of one row's embedding
    against every centroid, computed per row from the codebook literal
    (JVM higher-order functions; no join, no shuffle). neg_cell makes
    struct-ordering break csim ties toward the SMALLEST cell_id."""
    ca = F.array(*[
        F.struct(F.lit(int(cid)).cast("long").alias("cell_id"),
                 F.array(*[F.lit(float(x)) for x in emb]).alias("cemb"))
        for cid, emb in cent])
    e = F.col(emb_col).cast("array<double>")
    return F.transform(ca, lambda c: F.struct(
        F.round(cosine_col(e, c["cemb"]), 6).alias("csim"),
        (-c["cell_id"]).alias("neg_cell")))


def _cent_is_literal(cent) -> bool:
    return sum(len(emb) for _, emb in cent) <= _CENT_LITERAL_MAX_FLOATS


def _closest_cells_pandas(df: DataFrame, cent, id_col: str, emb_col: str,
                          keep: int) -> DataFrame:
    """Arrow-batched top-``keep`` centroid assignment for LARGE codebooks:
    one local matmul per batch against the process-broadcast centroid
    matrix — still shuffle-free and embarrassingly parallel. Ordering
    matches the literal path (csim desc on the 6-dp-rounded value,
    cell_id asc); the numpy dot's summation order can differ from the
    JVM fold in the last bit, which the 6-dp rounding absorbs — the
    literal path remains the exact-SQL-twin surface for small codebooks.
    Emits (id, embedding, cell_id) rows (embedding repeated keep times)."""
    import pandas as pd

    # cell_id-ascending column order makes stable argsort break csim
    # ties toward the smallest cell_id, like the literal struct ordering
    cent_sorted = sorted(cent)
    cell_ids = np.array([c for c, _ in cent_sorted], dtype=np.int64)
    cmat = np.array([e for _, e in cent_sorted], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    emb_type = dict(df.dtypes)[emb_col]
    schema = f"{id_col} long, {emb_col} {emb_type}, cell_id long"

    def run(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            emb = np.array([np.asarray(v, dtype=np.float64)
                            for v in pdf[emb_col]])
            sims = (emb @ cmat.T) / (
                np.linalg.norm(emb, axis=1)[:, None] * cnorm[None, :])
            sims = np.round(sims, 6)
            order = np.argsort(-sims, axis=1, kind="stable")[:, :keep]
            n = len(pdf)
            yield pd.DataFrame({
                id_col: np.repeat(pdf[id_col].to_numpy(), keep),
                emb_col: [v for v in pdf[emb_col] for _ in range(keep)],
                "cell_id": cell_ids[order].reshape(n * keep),
            })

    return df.select(id_col, emb_col).mapInPandas(run, schema=schema)


def ivf_assign(vectors: DataFrame, cent: list[tuple[int, list[float]]],
               id_col: str = "vec_id",
               emb_col: str = "embedding") -> DataFrame:
    """(id, embedding, cell_id) — each vector assigned to its max-cosine
    centroid by a per-row argmax (array_max over the scored codebook).
    Shuffle-free and embarrassingly parallel: the old plan shuffled all
    N × n_cells scored rows through a row_number window (N^1.5 rows at
    n_cells=O(√N)). Small codebooks use JVM literal expressions (exact
    SQL twin); large ones an Arrow-batched matmul."""
    if not _cent_is_literal(cent):
        return _closest_cells_pandas(vectors, cent, id_col, emb_col, 1)
    best = F.array_max(_cent_scored(emb_col, cent))
    return vectors.select(id_col, emb_col,
                          (-best["neg_cell"]).alias("cell_id"))


def build_ivf_index(vectors: DataFrame, path: str,
                    n_cells: int = 16) -> list[tuple[int, list[float]]]:
    """Persist the IVF index: assignment parquet partitioned by cell_id
    (query-time probes prune to their cells' partitions) + the codebook
    as JSON next to it. Returns the trained centroids."""
    import json
    cent = train_centroids(vectors, n_cells)
    (ivf_assign(vectors, cent)
     .write.mode("overwrite").partitionBy("cell_id").parquet(path))
    jvm_safe = [[cid, emb] for cid, emb in cent]
    # write the codebook through the driver (tiny)
    with open(path.rstrip("/") + "_centroids.json", "w") as f:
        json.dump(jvm_safe, f)
    return cent


def load_ivf_index(spark, path: str):
    """→ (assignment DataFrame, centroids) as written by build_ivf_index."""
    import json
    with open(path.rstrip("/") + "_centroids.json") as f:
        cent = [(int(c), [float(x) for x in e]) for c, e in json.load(f)]
    return spark.read.parquet(path), cent


def ivf_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
             n_cells: int = 16, n_probe: int = 4,
             assignment: DataFrame | None = None,
             centroids: list[tuple[int, list[float]]] | None = None
             ) -> DataFrame:
    """IVF-flat approximate cosine top-k (the inverted-file ANN shape).

    Coarse quantizer: deterministic md5-sampled centroids
    (``train_centroids``). Vectors are assigned to their max-cosine
    centroid by a per-row argmax over the codebook literal — shuffle-free
    (``ivf_assign``); pass ``assignment``/``centroids`` from
    ``build_ivf_index``/``load_ivf_index`` to reuse a persisted index
    instead of re-assigning per query batch. A query probes its
    ``n_probe`` closest cells (per-row array_sort + slice, also
    shuffle-free) and scores only their members exactly. Recall < 1 by
    design; the brute-force path is the quality oracle.

    At 100-TB scale: n_cells grows to O(√N); the only shuffles are the
    candidate equi-join on cell_id and the final per-query window — the
    all-pairs product never materializes, and no window ever sees
    N × n_cells rows.
    """
    from pyspark.sql import Window

    if centroids is None:
        centroids = train_centroids(vectors, n_cells)
    if not centroids:
        return _empty_topk(vectors.sparkSession)
    if assignment is None:
        # spread HERE (not in ivf_assign, whose plan stays shuffle-free
        # for persisted-index builds): the per-row codebook argmax is an
        # interpreted HOF fold, serialized onto a small parquet's few
        # scan tasks otherwise
        assignment = ivf_assign(
            _spread_input(vectors.select("vec_id", "embedding")),
            centroids)

    # per-query probe list: sort the scored codebook descending per row,
    # keep n_probe, explode — no crossJoin, no window
    q = queries.select("query_vec_id", F.col("embedding").alias("qe"))
    if _cent_is_literal(centroids):
        scored_cells = _cent_scored("qe", centroids)
        probe_arr = F.slice(
            F.array_sort(scored_cells,
                         lambda a, b: F.when(a > b, -1)
                                       .when(a < b, 1).otherwise(0)),
            1, n_probe)
        probes = (q.select("query_vec_id", "qe",
                           F.explode(probe_arr).alias("pc"))
                   .select("query_vec_id", "qe",
                           (-F.col("pc.neg_cell")).alias("cell_id")))
    else:
        probes = _closest_cells_pandas(q, centroids, "query_vec_id", "qe",
                                       n_probe)
    # broadcast the probe side only when the query batch is known small
    # (driver-local relation); probes carry full query embeddings ×
    # n_probe, so force-broadcasting an arbitrary distributed batch could
    # exceed the broadcast limit where a shuffle join degrades gracefully
    # — let AQE pick the strategy there
    probe_side = F.broadcast(probes) if queries.isLocal() else probes
    # per-side norms once per assignment/probe row instead of per
    # candidate pair (bit-identical: same fold, same multiply order)
    cand = (assignment
            .withColumn("_vn",
                        _norm(F.col("embedding").cast("array<double>")))
            .join(probe_side.withColumn(
                "_qn", _norm(F.col("qe").cast("array<double>"))),
                "cell_id")
            .filter(F.col("vec_id") != F.col("query_vec_id")))
    scored = cand.select(
        "query_vec_id", F.col("vec_id").alias("neighbor_id"),
        F.round(_dot(F.col("qe").cast("array<double>"),
                     F.col("embedding").cast("array<double>"))
                / (F.col("_qn") * F.col("_vn")), 6)
         .alias("cosine"))
    w = Window.partitionBy("query_vec_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
                  .filter(F.col("rank") <= k)
                  .select("query_vec_id", "rank", "neighbor_id", "cosine"))


def embedding_near_dupes(vectors: DataFrame, threshold: float = 0.9,
                         n_planes: int = 8, seed: int = 7,
                         n_tables: int = 2,
                         dim: int | None = None) -> DataFrame:
    """(vec_a, vec_b, cosine) — embedding-cosine near-duplicate pairs.

    Candidates = vector pairs sharing a random-hyperplane bucket in any of
    ``n_tables`` tables (equi-join on (table, bucket) — never all-pairs);
    survivors = exact cosine ≥ threshold. The standard embedding near-dup
    sweep for training-data dedup: at 100 TB the bucket join bounds the
    candidate fan-out the same way MinHash-LSH bands do for text."""
    dim = dim or _embedding_dim(vectors)
    if dim is None:
        return _empty_pairs(vectors.sparkSession)
    v = _spread_input(vectors.select("vec_id", "embedding"))
    owned = ()
    if n_tables > 1:
        v = materialize(v)
        owned = (v,)
    cands = None
    for t in range(n_tables):
        planes = random_hyperplanes(dim, n_planes, seed + 101 * t)
        # per-vector norm computed once per table row, not per pair —
        # bit-identical (same fold, same multiply order)
        vb = (lsh_bucket(v, planes, "vec_id").withColumn("tbl", F.lit(t))
              .withColumn("_n",
                          _norm(F.col("embedding").cast("array<double>"))))
        a = vb.alias("a")
        b = vb.alias("b")
        c = (a.join(b, (F.col("a.tbl") == F.col("b.tbl"))
                    & (F.col("a.bucket") == F.col("b.bucket"))
                    & (F.col("a.vec_id") < F.col("b.vec_id")))
               .select(F.col("a.vec_id").alias("vec_a"),
                       F.col("b.vec_id").alias("vec_b"),
                       F.col("a.embedding").alias("ea"),
                       F.col("b.embedding").alias("eb"),
                       F.col("a._n").alias("_na"),
                       F.col("b._n").alias("_nb")))
        cands = c if cands is None else cands.unionByName(c)
    cand = cands.dropDuplicates(["vec_a", "vec_b"])
    cos = (_dot(F.col("ea").cast("array<double>"),
                F.col("eb").cast("array<double>"))
           / (F.col("_na") * F.col("_nb")))
    return release_with(
        cand.filter(cos >= threshold)
            .select("vec_a", "vec_b", F.round(cos, 6).alias("cosine")), *owned)


def lsh_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
             n_planes: int = 8, seed: int = 7,
             n_tables: int = 1, dim: int | None = None) -> DataFrame:
    """Approximate cosine top-k: candidates = vectors sharing a bucket with
    the query in ANY of ``n_tables`` independent hash tables (multi-probe
    by table union — the standard recall lever; one table keeps the old
    single-bucket behavior). Shuffle is keyed by (table, bucket); the
    all-pairs product never materializes."""
    from pyspark.sql import Window

    dim = dim or _embedding_dim(vectors)
    if dim is None:
        return _empty_topk(vectors.sparkSession)
    # spread BEFORE the per-table bucket projections (the literal-plane
    # dot products are interpreted HOF folds, serialized onto the few
    # scan tasks of a small vector parquet otherwise) and materialize
    # once: every hash table is an independent subtree over the same
    # vector set, so n_tables lineages would otherwise re-run the scan
    v = _spread_input(
        vectors.select(F.col("vec_id").alias("neighbor_id"), "embedding"))
    owned = ()
    if n_tables > 1:
        v = materialize(v)
        owned = (v,)
    cands = None
    for t in range(n_tables):
        planes = random_hyperplanes(dim, n_planes, seed + 101 * t)
        # per-side norms computed once per (vector, table) row BEFORE the
        # join — the old plan re-folded both norms per candidate pair
        # (bit-identical values: same fold, same multiply order)
        vb = (lsh_bucket(v, planes, "neighbor_id")
              .withColumn("tbl", F.lit(t))
              .withColumn("_vn",
                          _norm(F.col("embedding").cast("array<double>"))))
        qb = (lsh_bucket(queries, planes, "query_vec_id")
              .withColumn("tbl", F.lit(t))
              .withColumnRenamed("embedding", "qe")
              .withColumn("_qn", _norm(F.col("qe").cast("array<double>"))))
        c = (vb.join(F.broadcast(qb), ["tbl", "bucket"])
               .filter(F.col("neighbor_id") != F.col("query_vec_id"))
               .select("query_vec_id", "neighbor_id", "qe", "embedding",
                       "_qn", "_vn"))
        cands = c if cands is None else cands.unionByName(c)
    cand = cands.dropDuplicates(["query_vec_id", "neighbor_id"])
    scored = cand.select(
        "query_vec_id", "neighbor_id",
        F.round(_dot(F.col("qe").cast("array<double>"),
                     F.col("embedding").cast("array<double>"))
                / (F.col("_qn") * F.col("_vn")), 6)
         .alias("cosine"))
    w = Window.partitionBy("query_vec_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id"))
    return release_with(
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
              .filter(F.col("rank") <= k)
              .select("query_vec_id", "rank", "neighbor_id", "cosine"),
        *owned)
