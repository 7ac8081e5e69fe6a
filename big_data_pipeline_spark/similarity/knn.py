"""Approximate & exact nearest-neighbor search over array<float> embeddings.

Extension surface (SURVEY.md §0 north star): brute-force cosine top-k as
the exact baseline, plus two approximate scale paths — LSH bucketing
(random hyperplane signatures) and IVF (coarse k-means quantizer with
multi-probe, the Faiss-style inverted-file structure as joins).

Scale analysis (100 TB / billions of vectors):
- Brute force is a broadcast nested loop: broadcast the (small) query
  set, stream the candidate corpus once, keep a per-partition top-k
  (TakeOrderedAndProject after the window rank — no full sort). Cost is
  O(|Q| * |C| * d) FLOPs but only ONE pass over the corpus and zero
  shuffle of the corpus itself. Right answer for |Q| up to ~10^3.
- The LSH variant buckets both sides by an r-bit signature of signs of
  random-hyperplane projections: candidates shrink by ~2^r with recall
  controlled by the number of independent tables. Join becomes an
  equi-join on (table, signature) — shuffle keyed, skew-safe via AQE.
- Hyperplanes are generated driver-side from a fixed seed (tiny:
  n_tables * r * d floats) and embedded as literal arrays — broadcast
  by construction, deterministic across runs.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from big_data_pipeline_spark.functions.vectors import cosine

EMB_DIMS = 64


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score: Column | None = None,
) -> DataFrame:
    """Exact cosine top-k: broadcast queries x stream candidates."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            score if score is not None else cosine(F.col("q_vec"), F.col("c_vec")),
        )
    )
    return _rank_topk(scored, k)


def _hyperplanes(n_tables: int, bits: int, dims: int, seed: int) -> list[list[list[float]]]:
    """Deterministic pseudo-random unit-free hyperplanes (Box-Muller over
    a splitmix-style integer stream — no numpy on the hot path, and the
    stream is reproducible everywhere)."""
    state = seed & 0xFFFFFFFFFFFFFFFF

    def next_u64() -> int:
        nonlocal state
        state = (state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        return z ^ (z >> 31)

    def gauss() -> float:
        u1 = (next_u64() >> 11) / float(1 << 53) or 5e-324
        u2 = (next_u64() >> 11) / float(1 << 53)
        return math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2)

    return [
        [[gauss() for _ in range(dims)] for _ in range(bits)]
        for _ in range(n_tables)
    ]


def _signatures_udf(planes: list[list[list[float]]]):
    """Vectorized all-tables signature: embeddings batch (n, d) @
    stacked planes (d, tables*bits) in one BLAS call, then bit-pack the
    sign matrix per table. Returns array<int> of length n_tables."""
    mat = np.asarray(planes, dtype=np.float64)  # (tables, bits, d)
    n_tables, bits, _ = mat.shape
    stacked = mat.reshape(n_tables * bits, -1).T  # (d, tables*bits)
    weights = (1 << np.arange(bits, dtype=np.int64))  # bit i -> 2^i

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def sigs(embs: pd.Series) -> pd.Series:
        x = np.vstack(embs.to_numpy()).astype(np.float64)  # (n, d)
        signs = (x @ stacked) >= 0  # (n, tables*bits)
        per_table = signs.reshape(len(x), n_tables, bits)
        packed = (per_table * weights).sum(axis=2).astype(np.int32)
        return pd.Series(list(packed))

    return sigs


@pandas_udf(T.DoubleType())
def _cosine_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    x = np.vstack(a.to_numpy()).astype(np.float64)
    y = np.vstack(b.to_numpy()).astype(np.float64)
    num = (x * y).sum(axis=1)
    den = np.linalg.norm(x, axis=1) * np.linalg.norm(y, axis=1)
    return pd.Series(num / den)


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_tables: int = 8,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    exact_scores: bool = False,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH bucketing.

    Both sides get per-table signatures; candidate pairs must collide in
    at least one table. Collisions then get exact cosine + top-k rank.

    ``exact_scores=True`` scores collisions with the LEFT-ASSOCIATED
    cosine (``seq_cosine`` — the same fixed IEEE association as the
    brute-force oracle twin) instead of the BLAS-ordered ``_cosine_udf``;
    use it when the output feeds a cell-exact cross-engine comparison
    (ann_recall_report). The candidate SET is identical either way —
    only last-ulp score association differs.
    """
    planes = _hyperplanes(n_tables, bits, EMB_DIMS, seed)
    sig_fn = _signatures_udf(planes)

    def signed(df: DataFrame, role: str) -> DataFrame:
        # IDs + signature only: the 64-float vectors stay out of the
        # collision join and the pair-dedup shuffle entirely. With
        # n_tables-way explode, carrying vectors here multiplies the
        # shuffled bytes by ~n_tables x vector-width; dropping them makes
        # both shuffles a few ints wide, and each side's vectors are
        # joined back exactly once per UNIQUE surviving pair below.
        return df.select(
            F.col(id_col).alias(f"{role}_id"),
            F.posexplode(sig_fn(F.col(vec_col))).alias("table_id", "sig"),
        )

    q = signed(queries, "query")
    c = signed(candidates, "neighbor")
    pair_ids = (
        c.join(F.broadcast(q), ["table_id", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    cv = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("neighbor_vec")
    )
    pairs = pair_ids.join(cv, "neighbor_id").join(F.broadcast(qv), "query_id")
    if exact_scores:
        from big_data_pipeline_spark.functions.vectors import (
            seq_cosine,
            sq_norm_sql,
        )

        pairs = pairs.withColumn(
            "cos_sim",
            seq_cosine(
                F.col("query_vec"),
                F.col("neighbor_vec"),
                F.expr(sq_norm_sql("query_vec", EMB_DIMS, offset=0)),
                F.expr(sq_norm_sql("neighbor_vec", EMB_DIMS, offset=0)),
            ),
        )
    else:
        pairs = pairs.withColumn(
            "cos_sim",
            _cosine_udf(F.col("query_vec"), F.col("neighbor_vec")),
        )
    return _rank_topk(pairs, k)


def lsh_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    n_tables: int = 8,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicate PAIRS via symmetric LSH bucketing — the
    scale path next to the exact all-pairs baseline
    (workloads/multimodal.embedding_near_dups, which is slice-capped
    because all-pairs is quadratic).

    Candidate pairs must share a (table, signature) bucket; uniques are
    then exact-cosine verified, so every emitted pair truly clears the
    threshold (precision 1.0 — approximation only costs recall, and
    identical/near-identical vectors collide with probability ~1).

    Scale shape: both exploded sides are corpus-sized, so the collision
    join is pinned to a shuffle-hash equi-join on (table_id, sig) —
    Catalyst sizes the exploded frames from the compact parquet and
    would otherwise try to broadcast them — and it carries ids only;
    vectors join back once per unique surviving pair. With b-bit
    signatures, bucket population ~ n/2^b per table keeps in-bucket
    pair counts linear for dispersed corpora; boilerplate-heavy buckets
    are the usual skew source and AQE skew-split handles them.
    """
    planes = _hyperplanes(n_tables, bits, EMB_DIMS, seed)
    sig_fn = _signatures_udf(planes)
    signed = vectors.select(
        F.col(id_col).alias("id"),
        F.posexplode(sig_fn(F.col(vec_col))).alias("table_id", "sig"),
    )
    a = signed.select(
        F.col("id").alias("id_a"), "table_id", "sig"
    )
    b = signed.select(
        F.col("id").alias("id_b"), "table_id", "sig"
    )
    pair_ids = (
        a.join(b.hint("shuffle_hash"), ["table_id", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    vb = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    return (
        pair_ids.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", _cosine_udf(F.col("vec_a"), F.col("vec_b")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def _kmeans_centroids(
    sample: np.ndarray, n_clusters: int, iters: int = 10, seed: int = 42
) -> np.ndarray:
    """Driver-side k-means on a bounded sample (model fitting, not data
    processing: the sample is capped, the result is a tiny model matrix
    that ships to executors inside the UDF closure)."""
    rng = np.random.default_rng(seed)
    cent = sample[rng.choice(len(sample), size=n_clusters, replace=False)]
    # sample normalization is loop-invariant — hoist; centroids move
    # every round, so their normalization stays inside
    s = sample / np.linalg.norm(sample, axis=1, keepdims=True)
    for _ in range(iters):
        c = cent / np.linalg.norm(cent, axis=1, keepdims=True)
        assign = (s @ c.T).argmax(axis=1)
        for j in range(n_clusters):
            members = sample[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
    return cent


def _nearest_clusters_udf(centroids: np.ndarray, n_probe: int):
    c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(embs: pd.Series) -> pd.Series:
        x = np.vstack(embs.to_numpy()).astype(np.float64)
        x = x / np.linalg.norm(x, axis=1, keepdims=True)
        sims = x @ c.T  # (n, n_clusters)
        top = np.argsort(-sims, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(top))

    return probes


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 6,
    train_cap: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via IVF (inverted-file) clustering.

    The other classic ANN scale path next to LSH: a coarse k-means
    quantizer partitions the corpus; each query probes only its
    ``n_probe`` nearest clusters, cutting scored pairs by roughly
    n_probe/n_clusters with recall controlled by n_probe.

    Scale shape: centroids are a driver-trained model on a CAPPED
    sample (train_cap rows — independent of corpus size); assignment is
    one matmul per Arrow batch; the probe join is an equi-join on
    cluster id — shuffle-keyed, skew-safe under AQE, and the corpus
    side is partitioned by cluster so repeated query batches reuse the
    layout. Exactly the IVF structure Faiss uses, expressed as joins.
    """
    train = np.vstack(
        [
            r[0]
            for r in candidates.select(vec_col).limit(train_cap).collect()
        ]
    ).astype(np.float64)
    # tiny corpora: can't have more clusters than training vectors
    n_clusters = min(n_clusters, len(train))
    n_probe = min(n_probe, n_clusters)
    cent = _kmeans_centroids(train, n_clusters, seed=seed)
    # fence the corpus-side assignment: the inferred isnotnull(cluster)
    # join filter otherwise duplicates the centroid matmul into a
    # second ArrowEvalPython node (every candidate row assigned twice).
    # Mutating here is safe — _nearest_clusters_udf returns a FRESH
    # UDF instance per call (unlike the shared seq_cosine, see
    # functions/vectors.py).
    assign1 = _nearest_clusters_udf(cent, 1).asNondeterministic()
    probe_n = _nearest_clusters_udf(cent, n_probe)

    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("neighbor_vec"),
        assign1(F.col(vec_col))[0].alias("cluster"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("query_vec"),
        F.explode(probe_n(F.col(vec_col))).alias("cluster"),
    )
    pairs = (
        c.join(F.broadcast(q), "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", _cosine_udf(F.col("query_vec"), F.col("neighbor_vec")))
    )
    return _rank_topk(pairs, k)
