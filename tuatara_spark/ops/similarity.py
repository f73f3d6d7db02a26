"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, and a random-hyperplane
LSH-bucketed variant as the scale path (bucket the corpus once, probe only
matching/adjacent buckets). All vector math is Catalyst ``zip_with`` +
``aggregate`` — JVM-side, no Python UDFs, columnar-friendly.

Scale notes (100 TB): brute force is a full scan per query — fine for
offline joins, wrong for online probes; the LSH variant turns a probe into
a bucket-pruned scan (the bucket column is a cheap persisted/partition
column). For batched query sets, broadcast the (small) query table and let
the bucket equi-join prune. ``cosine_topk_batched`` is NOT a scale path:
BENCH/crossover.json measures it at 0.27–0.45× ``cosine_topk`` at every
size; it stays only as a frozen bench.py line.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def _lit_vec(vec) -> "F.Column":
    return F.array(*[F.lit(float(v)) for v in vec])


def dot_expr(col: str, other) -> "F.Column":
    """Sequential-fold dot product in double precision (deterministic
    accumulation order; per-element double products so float32 inputs
    match an ANSI-SQL ::DOUBLE oracle exactly)."""
    prods = F.zip_with(F.col(col), other,
                       lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm_expr(col: str) -> "F.Column":
    return F.sqrt(F.aggregate(
        F.col(col), F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine_topk(df: DataFrame, query_vec, k: int = 10,
                vec_col: str = "embedding",
                id_col: str = "vec_id") -> DataFrame:
    """Exact brute-force cosine top-k against a constant query vector.
    Returns the raw double cosine — callers round/scale for presentation."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))
    cos = dot_expr(vec_col, _lit_vec(q)) / (norm_expr(vec_col) * F.lit(qn))
    return (df.select(F.col(id_col), cos.alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col(id_col))
            .limit(k))


def cosine_topk_batched(df: DataFrame, query_vec, k: int = 10,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Brute-force cosine top-k as one NumPy matmul per Arrow batch via
    pandas_udf, instead of Catalyst ``zip_with``/``aggregate`` lambdas.

    Semantics match ``cosine_topk``; values may differ in final ulps
    because BLAS accumulates pairwise while the Catalyst fold is
    sequential.

    Not the scale path: BENCH/crossover.json (32 cores, dim=64) measures
    it at 0.27–0.45× the Catalyst form at every size from 2k to 256k rows
    (exporting the vector column over Arrow costs more than one
    interpreted dot per row). It stays only as a frozen bench.py line;
    use ``cosine_topk``. The multi-dot scorers are where batching pays
    (with_ivf_cell_batched: 4.1×, with_lsh_bucket_batched: 1.6× at 256k
    rows).
    """
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))

    @pandas_udf("double")
    def cos_udf(vecs: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        dots = x @ q
        norms = np.sqrt((x * x).sum(axis=1))
        return pd.Series(dots / (norms * qn))

    return (df.select(F.col(id_col), cos_udf(F.col(vec_col)).alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col(id_col))
            .limit(k))


def _matmul_udf(mat: np.ndarray, out_fn, ret_type: str):
    """pandas_udf over an embedding column: stack the Arrow batch into one
    (n, dim) float64 matrix, multiply against ``mat`` (dim, m) ONCE, then
    reduce with ``out_fn(scores) -> 1-D array``. One BLAS GEMM per Arrow
    batch instead of n·m interpreted Catalyst lambda folds — the measured
    per-element HOF interpretation overhead on this engine is ~250×
    (ops/dedup.simhash64), and bucket/cell assignment is a scan-wide
    per-row cost at 100 TB."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(ret_type)
    def udf(vecs: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        return pd.Series(out_fn(x @ mat))

    return udf


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 7) -> np.ndarray:
    """Deterministic random hyperplanes for sign-LSH."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def with_lsh_bucket(df: DataFrame, planes: np.ndarray,
                    vec_col: str = "embedding") -> DataFrame:
    """Add a sign-LSH ``bucket`` (one bit per hyperplane). At scale this is
    computed once and persisted / used as a partition column."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        bit = F.when(dot_expr(vec_col, _lit_vec(p)) > 0, F.lit(1 << i)) \
            .otherwise(F.lit(0))
        bucket = bucket + bit
    return df.withColumn("bucket", bucket.cast("int"))


def with_lsh_bucket_batched(df: DataFrame, planes: np.ndarray,
                            vec_col: str = "embedding") -> DataFrame:
    """Scale-path twin of :func:`with_lsh_bucket`: sign bits from ONE
    (batch × planes) GEMM per Arrow batch instead of n_planes interpreted
    ``zip_with``/``aggregate`` folds per row.

    Bit semantics match the Catalyst form (strict ``> 0``); values can
    differ only if a dot product lands within accumulation-order ulps of
    exactly 0 — measured identical on the fixture embeddings
    (tests/test_ops_extra.py). Policy: Catalyst form for oracle-checked
    queries, this one for the 100 TB scan."""
    p = np.ascontiguousarray(np.asarray(planes, dtype=np.float64).T)
    weights = (1 << np.arange(p.shape[1], dtype=np.int64))

    def to_bucket(scores: np.ndarray) -> np.ndarray:
        return ((scores > 0) @ weights).astype(np.int32)

    udf = _matmul_udf(p, to_bucket, "int")
    return df.withColumn("bucket", udf(F.col(vec_col)))


def lsh_topk(df: DataFrame, query_vec, k: int = 10, n_planes: int = 8,
             seed: int = 7, vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """Approximate cosine top-k: score only vectors whose LSH bucket is
    within 1 bit of the query's bucket (multi-probe)."""
    q = np.asarray(query_vec, dtype=np.float64)
    planes = hyperplanes(len(q), n_planes, seed)
    qbits = sum((1 << i) for i, p in enumerate(planes) if float(p @ q) > 0)
    probe = [qbits] + [qbits ^ (1 << i) for i in range(n_planes)]
    bucketed = with_lsh_bucket(df, planes, vec_col)
    pruned = bucketed.filter(F.col("bucket").isin(probe))
    return cosine_topk(pruned, q, k, vec_col, id_col)


def dot_cols(a: str, b: str) -> "F.Column":
    """Dot product of two vector COLUMNS (double accumulation)."""
    prods = F.zip_with(F.col(a), F.col(b),
                       lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def cosine_dup_pairs(df: DataFrame, threshold: float = 0.9,
                     block_col: str = "label", vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key.

    Exact cosine over a blocked self-join (block on an existing key such as
    a shard/label/LSH bucket — at 100 TB the block comes from
    ``with_lsh_bucket`` so the join never goes quadratic globally).
    Returns (id_a, id_b, cosine) with id_a < id_b, cosine >= threshold.
    """
    base = df.select(F.col(id_col).alias("_id"), F.col(block_col).alias("_blk"),
                     F.col(vec_col).alias("_v"),
                     norm_expr(vec_col).alias("_n"))
    left = base.select(F.col("_id").alias("id_a"), F.col("_blk"),
                       F.col("_v").alias("va"), F.col("_n").alias("na"))
    right = base.select(F.col("_id").alias("id_b"), F.col("_blk"),
                        F.col("_v").alias("vb"), F.col("_n").alias("nb"))
    cos = dot_cols("va", "vb") / (F.col("na") * F.col("nb"))
    return (left.join(right, "_blk")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cosine", cos)
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def ivf_centroids(df: DataFrame, n_centroids: int = 8, n_iters: int = 5,
                  sample: int = 2048, vec_col: str = "embedding",
                  seed: int = 11, id_col: str = "vec_id") -> np.ndarray:
    """Deterministic IVF coarse quantizer: k-means on a seeded driver-side
    sample (Lloyd iterations in NumPy). At 100 TB the sample is a tiny
    `df.sample` collect; centroids then broadcast as literals.

    The sample is orderBy(id)+limit — Spark gives no row-order guarantee on
    a bare limit(), so centroids would otherwise change across runs /
    repartitionings."""
    pdf = (df.select(id_col, vec_col).orderBy(id_col).limit(sample)
           .toPandas())
    x = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(n_iters):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        for c in range(cent.shape[0]):
            m = assign == c
            if m.any():
                cent[c] = x[m].mean(0)
    return cent


def with_ivf_cell(df: DataFrame, centroids: np.ndarray,
                  vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its nearest centroid ('cell') — pure Catalyst
    argmin over squared distances (computed once and persisted / used as a
    partition column at scale)."""
    best_d = None
    best_i = F.lit(0)
    for i, c in enumerate(centroids):
        diff = F.zip_with(F.col(vec_col), _lit_vec(c),
                          lambda x, y: (x.cast("double") - y) *
                                       (x.cast("double") - y))
        d = F.aggregate(diff, F.lit(0.0), lambda a, v: a + v)
        if best_d is None:
            best_d, best_i = d, F.lit(0)
        else:
            best_i = F.when(d < best_d, F.lit(i)).otherwise(best_i)
            best_d = F.least(best_d, d)
    return df.withColumn("ivf_cell", best_i.cast("int"))


def with_ivf_cell_batched(df: DataFrame, centroids: np.ndarray,
                          vec_col: str = "embedding") -> DataFrame:
    """Scale-path twin of :func:`with_ivf_cell`: nearest-centroid argmin
    over the whole Arrow batch in vectorized NumPy (one (n, k, dim)
    broadcast-subtract per batch) instead of k interpreted fold lambdas
    per row. ``np.argmin`` and the Catalyst ``when(d < best)`` chain both
    keep the FIRST index on ties; divergence requires distances within
    accumulation-order ulps — measured identical on fixtures."""
    from pyspark.sql.functions import pandas_udf

    cent = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def cell_udf(vecs: pd.Series) -> pd.Series:
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        return pd.Series(d.argmin(1).astype(np.int32))

    return df.withColumn("ivf_cell", cell_udf(F.col(vec_col)))


def ivf_topk(df: DataFrame, query_vec, centroids: np.ndarray, k: int = 10,
             n_probe: int = 2, vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """IVF approximate top-k: score only the n_probe cells nearest to the
    query (the inverted-file scale path; complements sign-LSH lsh_topk)."""
    q = np.asarray(query_vec, dtype=np.float64)
    dq = ((centroids - q[None, :]) ** 2).sum(1)
    probe = [int(i) for i in np.argsort(dq)[:n_probe]]
    celled = with_ivf_cell(df, centroids, vec_col)
    pruned = celled.filter(F.col("ivf_cell").isin(probe))
    return cosine_topk(pruned, q, k, vec_col, id_col)


def norm_stats(df: DataFrame, vec_col: str = "embedding",
               label_col: str = "label") -> DataFrame:
    """Per-label embedding norm statistics (sanity/quality op)."""
    return (df.select(label_col, norm_expr(vec_col).alias("nrm"))
            .groupBy(label_col)
            .agg(F.count("*").alias("n_vecs"),
                 F.avg("nrm").alias("avg_norm"),
                 F.max("nrm").alias("max_norm"))
            .orderBy(label_col))
