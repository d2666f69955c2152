"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k per query — query set is
  broadcast (it's small), similarity is relational zip_with/aggregate
  math, top-k is a row_number window (plans as WindowGroupLimit partial
  top-k, so only k rows per partition per query shuffle).
- ``lsh_ann``: random-hyperplane LSH — a vectorized Arrow UDF signs
  each vector against H shared hyperplanes into a bucket id; queries
  probe their bucket (+ optional multi-probe neighbors by flipping one
  bit); exact re-rank inside candidates.  The 100 TB path: candidate
  generation is an equi-join on bucket, never a cross join.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F
from pyspark.sql.types import ArrayType, LongType

from ukis_pysat_spark.operators.dedup import _block_matrix, _fixed_lists, cosine_col


def _topk(cand: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact cosine top-k; `queries` has (query_id, query_vec)."""
    cand = embeddings.join(F.broadcast(queries)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    return _topk(
        cand.select(
            "query_id",
            "vec_id",
            F.round(cosine_col(F.col("embedding"), F.col("query_vec")), 6).alias("cosine"),
        ),
        k,
    )


def _hyperplanes(dim: int, n_planes: int, n_tables: int, seed: int) -> np.ndarray:
    rng = np.random.Generator(np.random.Philox(key=np.uint64(seed)))
    return rng.standard_normal((n_tables, n_planes, dim)).astype(np.float64)


def _bucket_udf(n_planes: int, n_tables: int, seed: int, multiprobe: bool):
    """Bucket-id UDF; hyperplanes are constructed LAZILY on the executor
    from (seed, observed vector dim) — deterministic across tasks and
    between the data and query sides, and no driver-side action (the
    old path ran a `.first()` on the driver to learn the dim)."""
    state: dict[int, np.ndarray] = {}
    # each bucket, then (multiprobe) its 1-bit flips: b ^ 0 == b
    probes = np.array([0] + [1 << j for j in range(n_planes)] if multiprobe else [0], np.int64)
    weights = np.int64(1) << np.arange(n_planes - 1, -1, -1, dtype=np.int64)

    @F.arrow_udf(ArrayType(LongType()))
    def buckets(vecs: pa.Array) -> pa.Array:
        m = _block_matrix(vecs)
        dim = m.shape[1]
        planes = state.get(dim)
        if planes is None:
            planes = state[dim] = _hyperplanes(dim, n_planes, n_tables, seed)
        base = np.empty((len(m), n_tables), dtype=np.int64)
        for t in range(n_tables):
            signs = (m @ planes[t].T) > 0  # (n, n_planes), MSB first
            # disjoint bucket spaces per table
            base[:, t] = signs @ weights + np.int64(t) * np.int64(1 << (n_planes + 1))
        return _fixed_lists((base[:, :, None] ^ probes).reshape(len(m), -1))

    return buckets


def lsh_ann(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 6,
    n_tables: int = 8,
    seed: int = 7,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane-LSH bucket equi-join +
    exact re-rank of candidates.  More tables / fewer planes raise
    recall at the cost of candidate volume; tests measure recall against
    brute force on the driver fixtures.

    Shuffle discipline: the bucket tables carry ONLY (id, bucket) — a
    vector would otherwise cross the exchange n_tables*(1+n_planes)
    times under multiprobe.  Embeddings are re-attached once per
    DISTINCT candidate pair, and the (small) query vectors come back
    via a broadcast join.
    """
    # two Python nodes: the data and the query side each bucket their own input
    b_data = _bucket_udf(n_planes, n_tables, seed, multiprobe=False)
    b_query = _bucket_udf(n_planes, n_tables, seed, multiprobe=multiprobe)
    data = embeddings.select("vec_id", F.explode(b_data("embedding")).alias("bucket"))
    qrs = queries.select("query_id", F.explode(b_query("query_vec")).alias("bucket"))
    cand_ids = (
        data.join(qrs, "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    cand = cand_ids.join(embeddings, "vec_id").join(F.broadcast(queries), "query_id")
    return _topk(
        cand.select(
            "query_id",
            "vec_id",
            F.round(cosine_col(F.col("embedding"), F.col("query_vec")), 6).alias("cosine"),
        ),
        k,
    )


def train_ivf_centroids(
    embeddings: DataFrame,
    n_lists: int = 16,
    sample: int = 4096,
    n_iters: int = 10,
    seed: int = 5,
) -> np.ndarray:
    """Coarse quantizer for IVF: k-means on a BOUNDED deterministic
    sample (standard IVF practice — the quantizer is a model of fixed
    size, not a data-path collect; the sample is the `sample` smallest
    xxhash64(vec_id) rows, so it is stable across runs/partitionings)."""
    rows = (
        embeddings.select("vec_id", "embedding")
        .orderBy(F.xxhash64("vec_id"), "vec_id")
        .limit(int(sample))
        .collect()
    )
    X = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.Generator(np.random.Philox(key=np.uint64(seed)))
    C = X[rng.choice(len(X), size=min(n_lists, len(X)), replace=False)].copy()
    for _ in range(n_iters):
        assign = np.argmax(X @ C.T, axis=1)  # cosine on normalized rows
        for j in range(C.shape[0]):
            m = assign == j
            if m.any():
                v = X[m].mean(axis=0)
                C[j] = v / max(np.linalg.norm(v), 1e-12)
    return C


def _ivf_assign_udf(centroids: np.ndarray, n_probe: int):
    C = np.ascontiguousarray(centroids, dtype=np.float64)

    @F.arrow_udf(ArrayType(LongType()))
    def assign(vecs: pa.Array) -> pa.Array:
        m = _block_matrix(vecs)
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ C.T
        if n_probe == 1:
            return _fixed_lists(np.argmax(sims, axis=1)[:, None])
        return _fixed_lists(np.argsort(-sims, axis=1)[:, :n_probe])

    return assign


def ivf_ann(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    centroids: np.ndarray | None = None,
    seed: int = 5,
) -> DataFrame:
    """IVF approximate top-k: vectors are partitioned into n_lists
    Voronoi cells of a k-means coarse quantizer; each query probes its
    n_probe nearest cells and exact-re-ranks only those members.

    Scale shape: the inverted-list table carries (vec_id, list_id)
    ONLY — the equi-join prunes to ~n_probe/n_lists of the corpus per
    query, embeddings re-attach once per distinct candidate, and the
    quantizer is a broadcast-sized model (n_lists x dim floats).
    recall@k rises with n_probe (tests measure it against brute force).
    """
    if centroids is None:
        centroids = train_ivf_centroids(embeddings, n_lists=n_lists, seed=seed)
    # two Python nodes: the data and the query side each assign their own input
    data = embeddings.select(
        "vec_id", F.explode(_ivf_assign_udf(centroids, 1)("embedding")).alias("list_id")
    )
    qrs = queries.select(
        "query_id", F.explode(_ivf_assign_udf(centroids, n_probe)("query_vec")).alias("list_id")
    )
    cand_ids = (
        data.join(qrs, "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    cand = cand_ids.join(embeddings, "vec_id").join(F.broadcast(queries), "query_id")
    return _topk(
        cand.select(
            "query_id",
            "vec_id",
            F.round(cosine_col(F.col("embedding"), F.col("query_vec")), 6).alias("cosine"),
        ),
        k,
    )
