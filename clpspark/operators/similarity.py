"""Similarity search over embedding columns.

Brute-force cosine top-k as the exact baseline and a hyperplane-LSH bucketed
variant as the scale path (prunes the scan to buckets within a signature
hamming radius of the query — at 100 TB the bucket signature becomes a
partition/cluster key so pruning happens at the storage layer).

Vector math runs in Arrow-batched numpy UDFs: one (batch x dim) matrix op per
batch. Spark's array higher-order functions (aggregate/zip_with) evaluate
interpreted per element and are ~100x slower for wide vectors; the top-k
itself stays JVM-side (TakeOrderedAndProject).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _mat(v: pd.Series) -> np.ndarray:
    return np.stack([np.asarray(x, dtype=np.float64) for x in v])


def cosine_udf(query_vec: list[float]):
    """pandas UDF: cosine(row_vec, query_vec), rounded to 6 decimals."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(q))

    @F.pandas_udf("double")
    def cos(v: pd.Series) -> pd.Series:
        m = _mat(v)
        dots = m @ q
        norms = np.sqrt((m * m).sum(axis=1))
        return pd.Series(np.round(dots / (norms * qn), 6))

    return cos


def lsh_planes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force cosine top-k: one scan, no shuffle, TakeOrdered."""
    cos = cosine_udf(query_vec)
    return (
        emb.select(F.col(id_col), cos(F.col(vec_col)).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def signature_int_udf(planes: np.ndarray):
    """pandas UDF: hyperplane sign bits packed into a bigint bucket id.

    int64 end to end: the recommended sizing for large corpora is 24-32+
    planes, and an int32 signature wraps negative at bit 31 while the
    driver-side query_signature stays non-negative — probes would silently
    miss every high-bit bucket."""
    if planes.shape[0] > 62:
        raise ValueError("n_planes must be <= 62 for an int64 bucket id")
    pt = planes.T.copy()
    weights = (1 << np.arange(planes.shape[0], dtype=np.int64))[None, :]

    @F.pandas_udf("long")
    def sig(v: pd.Series) -> pd.Series:
        bits = (_mat(v) @ pt) >= 0
        return pd.Series((bits * weights).sum(axis=1).astype(np.int64))

    return sig


def query_signature(planes: np.ndarray, query_vec: list[float]) -> int:
    bits = (planes @ np.asarray(query_vec, dtype=np.float64)) >= 0
    return int((bits * (1 << np.arange(planes.shape[0], dtype=np.int64))).sum())


def signature_neighborhood(sig: int, n_planes: int, probe_hamming: int) -> list[int]:
    """All bucket ids within hamming distance <= probe_hamming of sig."""
    from itertools import combinations

    out = []
    for d in range(probe_hamming + 1):
        for flips in combinations(range(n_planes), d):
            s = sig
            for b in flips:
                s ^= 1 << b
            out.append(s)
    return out


def with_lsh_signature(
    emb: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    sig_col: str = "sig",
) -> DataFrame:
    """Materialize the hyperplane-LSH bucket id as a column — written at
    ingest (and used as a partition/cluster key) so ANN queries prune at the
    storage layer instead of recomputing signatures per query."""
    planes = lsh_planes(_dim(emb, vec_col), n_planes, seed)
    return emb.withColumn(sig_col, signature_int_udf(planes)(F.col(vec_col)))


def write_ann_index(
    emb: DataFrame,
    out_dir: str,
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
) -> None:
    """ANN index = the embedding table partitioned by its LSH bucket id:
    bucket probes become partition-pruned scans (no full-table pass).

    Shuffle on sig before the partitioned write: without it every input
    task writes a sliver into every bucket dir (tasks x 2^n_planes small
    files — listing alone dominated cold probes); with it each bucket is
    one file. Hyperplane buckets are near-uniform, so the shuffle is
    skew-free. The partition count is pinned (an explicit repartition(N)
    is exempt from AQE coalescing) — a coalesced-to-one task would open
    all 2^n_planes parquet writers serially."""
    spark = emb.sparkSession
    n_tasks = min(2 ** n_planes, 4 * spark.sparkContext.defaultParallelism)
    with_lsh_signature(emb, vec_col, n_planes, seed).repartition(
        n_tasks, "sig"
    ).write.mode("overwrite").partitionBy("sig").parquet(out_dir)


def _dim(emb: DataFrame, vec_col: str) -> int:
    return len(emb.select(vec_col).first()[0])


# --------------------------------------------------------------------- IVF
#
# Inverted-file ANN: a coarse k-means quantizer assigns every vector to its
# nearest centroid; the index is the table partitioned by centroid id, and a
# query scans only the ``nprobe`` nearest cells. Complements the hyperplane
# LSH index: IVF adapts to the data distribution (cells follow density)
# where LSH is data-oblivious.
#
# Everything is DETERMINISTIC and engine-portable so oracles can replay it:
# the training sample is the first ``sample_size`` rows by (md5(id), id) —
# the same hash-order trick the curation samplers use — the quantizer is
# plain Lloyd on that sample (numpy, fixed iterations, first-k init), and
# centroids/distances are rounded (6 / 9 decimals) so float summation-order
# ULPs can never flip an argmin between engines.


def kmeans_from_matrix(
    X: "np.ndarray", n_centroids: int, n_iter: int = 5
) -> "np.ndarray":
    """Lloyd's k-means on a sample matrix: first-k init, ties to the lowest
    centroid index, empty cells keep their previous centroid. Pure numpy —
    shared by the Spark path and the DuckDB-oracle path."""
    C = X[:n_centroids].astype(np.float64).copy()
    for _ in range(n_iter):
        d = np.round(
            np.sqrt(((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)), 9
        )
        a = d.argmin(axis=1)
        for j in range(n_centroids):
            members = X[a == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return np.round(C, 6)


def ivf_train_sample(
    emb: DataFrame,
    sample_size: int = 2048,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Deterministic training sample: global (md5(id), id) order — invariant
    to partitioning/parallelism and replayable in any engine."""
    rows = (
        emb.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(sample_size)
        .collect()
    )
    return np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])


def ivf_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 5,
    sample_size: int = 2048,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    return kmeans_from_matrix(
        ivf_train_sample(emb, sample_size, vec_col, id_col),
        n_centroids,
        n_iter,
    )


def assign_centroid_udf(centroids: np.ndarray):
    """pandas UDF: nearest-centroid id (rounded-distance argmin, first index
    wins — the exact rule the SQL oracle replays)."""
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        M = _mat(v)
        d = np.round(
            np.sqrt(((M[:, None, :] - C[None, :, :]) ** 2).sum(-1)), 9
        )
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return assign


def write_ivf_index(
    emb: DataFrame,
    out_dir: str,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """IVF index = the table partitioned by nearest-centroid cell, centroids
    in a JSON sidecar. Same write discipline as the LSH index: pinned
    repartition on the cell id so each cell is one file, not tasks x cells
    slivers."""
    import json
    import os

    spark = emb.sparkSession
    C = ivf_centroids(emb, n_centroids, vec_col=vec_col, id_col=id_col)
    n_tasks = min(n_centroids, 4 * spark.sparkContext.defaultParallelism)
    emb.withColumn("centroid", assign_centroid_udf(C)(F.col(vec_col))).repartition(
        n_tasks, "centroid"
    ).write.mode("overwrite").partitionBy("centroid").parquet(out_dir)
    tmp = os.path.join(out_dir, "_centroids.json.tmp")
    with open(tmp, "w") as f:
        json.dump(C.tolist(), f)
    os.replace(tmp, os.path.join(out_dir, "_centroids.json"))
    return C


def read_ivf_centroids(out_dir: str) -> np.ndarray:
    import json
    import os

    with open(os.path.join(out_dir, "_centroids.json")) as f:
        return np.asarray(json.load(f), dtype=np.float64)


def probe_cells(centroids: np.ndarray, query_vec: list[float],
                nprobe: int) -> list[int]:
    q = np.asarray(query_vec, dtype=np.float64)
    d = np.round(np.sqrt(((centroids - q[None, :]) ** 2).sum(-1)), 9)
    order = np.lexsort((np.arange(len(d)), d))
    return [int(i) for i in order[:nprobe]]


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    centroids: np.ndarray | None = None,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "centroid",
) -> DataFrame:
    """Approximate cosine top-k scanning only the ``nprobe`` nearest IVF
    cells. Over a materialized index (:func:`write_ivf_index`) the probe is
    an ``isin`` on the partition column — storage-layer pruning; raw inputs
    assign cells on the fly (one pass, no index)."""
    if centroids is None:
        centroids = (
            ivf_centroids(emb, n_centroids, vec_col=vec_col, id_col=id_col)
            if cell_col not in emb.columns
            else None
        )
        if centroids is None:
            raise ValueError(
                "indexed input needs explicit centroids (read_ivf_centroids)"
            )
    cells = probe_cells(centroids, query_vec, nprobe)
    if cell_col in emb.columns:
        pruned = emb.where(F.col(cell_col).isin(cells))
    else:
        cell = assign_centroid_udf(centroids)(F.col(vec_col))
        pruned = emb.where(cell.isin(cells))
    return cosine_topk(pruned, query_vec, k, vec_col, id_col)


def lsh_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    probe_hamming: int = 2,
    seed: int = 42,
    sig_col: str = "sig",
) -> DataFrame:
    """Approximate cosine top-k scanning only LSH buckets near the query.

    Buckets whose signature is within ``probe_hamming`` bits of the query's
    are scanned (multi-probe); probe_hamming = n_planes degenerates to brute
    force. When ``emb`` carries a materialized ``sig`` column (ANN index,
    :func:`write_ann_index`) the probe is an ``isin`` on it — a pushed /
    partition-pruning filter, NOT a recompute-per-row scan; the signature is
    only computed on the fly for raw inputs.
    """
    planes = lsh_planes(len(query_vec), n_planes, seed)
    probes = signature_neighborhood(
        query_signature(planes, query_vec), n_planes, probe_hamming
    )
    if sig_col in emb.columns:
        pruned = emb.where(F.col(sig_col).isin(probes))
    else:
        sig = signature_int_udf(planes)(F.col(vec_col))
        pruned = emb.where(sig.isin(probes))
    return cosine_topk(pruned, query_vec, k, vec_col, id_col)
