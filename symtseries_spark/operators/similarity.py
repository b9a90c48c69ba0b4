"""Similarity search over embedding columns (array<float>).

Three paths:
  * brute_force_topk — exact cosine top-k. The query vector lives in the
    UDF closure (broadcast); per Arrow batch the candidate matrix is one
    numpy matmul. orderBy+limit compiles to TakeOrderedAndProject (per-
    partition heaps, no global sort shuffle).
  * build_srp_index + lsh_topk_indexed — random-hyperplane LSH (SRP): each
    vector's per-table buckets are computed once at build and the index is
    written partitioned by (table, bucket); a query reads only the probed
    bucket directories and exactly reranks them.
  * build_ivf_index + ivf_topk_indexed — IVF-style coarse quantizer:
    vectors are written partitioned by their nearest centroid (centroids
    from train_centroids_np); a query reads only the nprobe nearest cells.

Also: pairwise embedding near-dup (embedding_dupes) for the dedup ladder.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, IntegerType


def _normalize(X: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(X, axis=1, keepdims=True)
    return X / np.where(n == 0, 1.0, n)


def cosine_udf(query_vec):
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / (np.linalg.norm(q) or 1.0)

    @pandas_udf(DoubleType())
    def _cos(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=np.float64)
        X = np.stack(vecs.to_numpy()).astype(np.float64, copy=False)
        return pd.Series(_normalize(X) @ q)

    return _cos


def brute_force_topk(
    emb: DataFrame, query_vec, k: int, vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: one vectorized pass + TakeOrderedAndProject."""
    return (
        emb.withColumn("cosine", cosine_udf(query_vec)(F.col(vec_col)))
        .select(id_col, "cosine")
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# signed random projection LSH
# ---------------------------------------------------------------------------


def srp_udf(dim: int, bits: int = 16, seed: int = 7, tables: int = 1):
    """array<float> → array<int> of per-table SRP buckets.

    ``tables`` independent hyperplane sets; near vectors collide in at
    least one table with high probability (classic L-table LSH)."""
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(tables, dim, bits))
    weights = (1 << np.arange(bits)).astype(np.int64)

    @pandas_udf(ArrayType(IntegerType()))
    def _srp(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(vecs.to_numpy()).astype(np.float64, copy=False)
        # (T, B, bits) sign matrix → (B, T) bucket ints
        signs = np.einsum("bd,tdk->tbk", X, planes) > 0
        buckets = (signs @ weights).astype(np.int32).T
        return pd.Series(list(buckets))

    return _srp


def srp_buckets_of(query_vec, bits: int = 16, seed: int = 7,
                   tables: int = 1) -> list[list[int]]:
    """Per-table probe sets for the query: own bucket + 1-bit-flip probes."""
    q = np.asarray(query_vec, dtype=np.float64)
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(tables, len(q), bits))
    weights = (1 << np.arange(bits)).astype(np.int64)
    out = []
    for t in range(tables):
        base = int(((q @ planes[t]) > 0).astype(np.int64) @ weights)
        out.append([base] + [base ^ (1 << b) for b in range(bits)])
    return out


# ---------------------------------------------------------------------------
# IVF coarse quantizer
# ---------------------------------------------------------------------------


def train_centroids_np(X: np.ndarray, n_centroids: int = 16,
                       iters: int = 5, seed: int = 13) -> np.ndarray:
    """Deterministic mini k-means on in-memory vectors (a sample of the
    corpus: the train step is tiny, assignment stays distributed in
    build_ivf_index) — the single source of truth for centroid math (the
    IVF query and the DuckDB oracle literal generator both call this, so
    they can never drift)."""
    X = _normalize(np.asarray(X, dtype=np.float64))
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        assign = (X @ C.T).argmax(axis=1)
        for j in range(len(C)):
            m = assign == j
            if m.any():
                C[j] = X[m].mean(axis=0)
        C = _normalize(C)
    return C


def assign_udf(centroids: np.ndarray):
    C = np.asarray(centroids, dtype=np.float64)

    @pandas_udf(IntegerType())
    def _assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=np.int32)
        X = _normalize(np.stack(vecs.to_numpy()).astype(np.float64, copy=False))
        return pd.Series((X @ C.T).argmax(axis=1).astype(np.int32))

    return _assign


# ---------------------------------------------------------------------------
# stored (index-shaped) ANN: bucket/cell assignment is precomputed at BUILD
# time and the table is written partitioned by it, so a query is partition
# pruning + a rerank of one bucket's worth of vectors — never a corpus scan.
# ---------------------------------------------------------------------------


def build_srp_index(
    emb: DataFrame, path: str, vec_col: str = "embedding",
    id_col: str = "vec_id", bits: int = 8, seed: int = 7, tables: int = 4,
) -> None:
    """Materialize an L-table SRP index: one row per (table, vector),
    written partitioned by (table, bucket).

    Storage is ``tables``× the corpus (the classic L-table LSH tradeoff);
    at query time only the probed (table, bucket) directories are read —
    the assignment UDF never runs over the corpus again.
    """
    dim = len(emb.select(vec_col).first()[0])
    b = emb.select(
        id_col,
        vec_col,
        F.posexplode(srp_udf(dim, bits, seed, tables)(F.col(vec_col))).alias(
            "table", "bucket"
        ),
    )
    # shuffle onto the partition columns first: each (table, bucket) dir
    # gets ONE file instead of one per writer task — tables·2^bits dirs of
    # tiny files would otherwise dominate the build (and every listing)
    b.repartition("table", "bucket").write.mode("overwrite").partitionBy(
        "table", "bucket"
    ).parquet(path)


def lsh_topk_indexed(
    spark, path: str, query_vec, k: int, vec_col: str = "embedding",
    id_col: str = "vec_id", bits: int = 8, seed: int = 7, tables: int = 4,
) -> DataFrame:
    """ANN top-k against a stored SRP index.

    The probe set (own bucket + 1-bit flips per table) is computed
    driver-side from the query alone; the scan filter is on PARTITION
    columns, so Spark prunes to ~(bits+1)·tables directories out of
    tables·2^bits — the plan shows PartitionFilters, no UDF over the
    corpus. Duplicated candidates across tables collapse before rerank.
    """
    probes = srp_buckets_of(query_vec, bits, seed, tables)
    idx = spark.read.parquet(path)
    cond = None
    for t in range(tables):
        c = (F.col("table") == t) & F.col("bucket").isin(probes[t])
        cond = c if cond is None else (cond | c)
    cand = idx.filter(cond).select(id_col, vec_col).dropDuplicates([id_col])
    return brute_force_topk(cand, query_vec, k, vec_col, id_col)


def build_ivf_index(
    emb: DataFrame, path: str, centroids: np.ndarray,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> None:
    """Materialize an IVF index: vectors written partitioned by their
    nearest-centroid cell (assignment runs ONCE, at build)."""
    assigned = emb.select(
        id_col, vec_col, assign_udf(centroids)(F.col(vec_col)).alias("cell")
    )
    assigned.repartition("cell").write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path)


def ivf_topk_indexed(
    spark, path: str, query_vec, k: int, centroids: np.ndarray,
    nprobe: int = 3, vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k against a stored IVF index: probe the nprobe nearest cells
    via partition pruning, exact-rerank their contents."""
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / (np.linalg.norm(q) or 1.0)
    cells = [int(x) for x in np.argsort(-(centroids @ q))[:nprobe]]
    idx = spark.read.parquet(path)
    cand = idx.filter(F.col("cell").isin(cells)).select(id_col, vec_col)
    return brute_force_topk(cand, query_vec, k, vec_col, id_col)


def embedding_dupes(
    emb: DataFrame, threshold: float = 0.95, vec_col: str = "embedding",
    id_col: str = "vec_id", bits: int = 12, seed: int = 7,
    max_bucket: int = 256, tables: int = 2,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via SRP bucketing + exact check.

    Same scale discipline as minhash_lsh_candidates (dedup.py):
      * buckets larger than ``max_bucket`` are dropped before the self-join
        — a degenerate SRP bucket (e.g. zero / boilerplate embeddings) is
        quadratic in its size and melts the stage at web scale;
      * the bucket join and the pair-space dedup move (table, bucket,
        id, id) rows ONLY — the full embedding vectors rejoin onto the
        (narrow, distinct) candidate pairs afterwards, so no vector arrays
        travel through the pair-dedup exchange.
    """
    from pyspark.sql.types import DoubleType as _D

    dim_row = emb.select(F.size(vec_col)).first()
    dim = int(dim_row[0])
    b = emb.select(
        F.col(id_col).alias("id"),
        F.posexplode(srp_udf(dim, bits, seed, tables)(F.col(vec_col))).alias(
            "table", "bucket"
        ),
    )
    if max_bucket:
        from pyspark.sql import Window

        cnt = F.count(F.lit(1)).over(Window.partitionBy("table", "bucket"))
        b = b.withColumn("_bn", cnt).filter(F.col("_bn") <= max_bucket).drop("_bn")
    left = b.select(F.col("id").alias("id_a"), "table", "bucket")
    right = b.select(F.col("id").alias("id_b"), "table", "bucket")
    pairs = (
        left.join(right, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    withA = pairs.join(
        emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a")),
        "id_a",
    )
    withB = withA.join(
        emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b")),
        "id_b",
    )

    @pandas_udf(_D())
    def _pair_cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype=np.float64)
        A = _normalize(np.stack(va.to_numpy()).astype(np.float64, copy=False))
        B = _normalize(np.stack(vb.to_numpy()).astype(np.float64, copy=False))
        return pd.Series((A * B).sum(axis=1))

    return (
        withB.withColumn("cosine", _pair_cos("v_a", "v_b"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
