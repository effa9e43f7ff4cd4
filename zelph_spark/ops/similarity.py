"""Similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k — broadcast the (small) query side,
JVM-side dot products via zip_with/aggregate, one window for top-k.
Scale path: random-hyperplane LSH bucketing (sign sketch) so candidate
generation is an equi-join on bucket ids instead of a cross join, plus an
IVF-style variant with deterministic centroids. Exact verify in both;
the near-dup pair join reuses ``dedup``'s pair primitives.

Scoring uses built-in columnar functions (whole-stage codegen); the one
Python UDF is the LSH sign sketch, a single Arrow-batched numpy matmul —
at 1e9 vectors the cross join is the enemy, not the arithmetic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf

from .dedup import attach, colliding_pairs


def dot(a, b, dim: int | None = None) -> Column:
    """Inner product. With ``dim`` known, emit the flat left-associated
    element chain a[0]*b[0] + ... + a[dim-1]*b[dim-1]: Catalyst evaluates
    higher-order lambdas INTERPRETED per element (guide §4.2), so the
    aggregate(zip_with(...)) form costs ~4*dim interpreted calls per row —
    the whole cost of a 10M-pair verify stage — while the flat chain is
    whole-stage-codegen'd. Bit-identical results: same fold order, and the
    lambda fold's 0.0 + t0 seed equals t0 for every float.
    """
    if dim is not None:
        a = F.col(a) if isinstance(a, str) else a
        b = F.col(b) if isinstance(b, str) else b
        out = a[0] * b[0]
        for i in range(1, dim):
            out = out + a[i] * b[i]
        return out
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def norm(a, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a, b, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def _top_k(cands: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, cos, rn): score each (query_id, qvec,
    neighbor_id, nvec) candidate by exact cosine and keep the ``k`` best per
    query, ties broken by neighbor id."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        cands.withColumn("cos", F.round(cosine("qvec", "nvec"), 6))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos", "rn")
    )


def topk_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cos) — top-k cosine neighbors per query.
    ``queries`` is broadcast (the small side); self-matches excluded.
    Deterministic: ties broken by neighbor id."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    e = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec")
    )
    return _top_k(
        e.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")), k
    )


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane (no RNG state —
    reproducible across engines and runs)."""
    import math

    return [
        math.sin(0.7 * seed + 0.311 * j) + math.cos(1.3 * seed - 0.17 * j)
        for j in range(dim)
    ]


def lsh_buckets_multi(
    embeddings: DataFrame,
    n_planes: int,
    n_tables: int,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """One (table, bucket) row per vector per table. Candidate recall for a
    per-plane agreement probability p is 1 - (1 - p^n_planes)^n_tables —
    n_tables is the recall knob, n_planes the selectivity knob.

    All (n_tables x n_planes) projections happen in ONE Arrow-batched
    pandas UDF as a single numpy matmul — dense numeric inner loops are
    exactly where a vectorized UDF beats interpreted Catalyst higher-order
    functions (the per-plane ``aggregate(zip_with(...))`` chain evaluated a
    lambda per element per plane: ~n_tables*n_planes*dim interpreted calls
    per row). Plane values are identical to :func:`_hyperplane`, so bucket
    ids are unchanged."""
    weights = np.array(
        [
            _hyperplane(dim, 1000 * t + i)
            for t in range(n_tables)
            for i in range(n_planes)
        ]
    ).T  # (dim, n_tables*n_planes)
    bit_mult = 1 << np.arange(n_planes, dtype=np.int64)

    def _buckets(v: pd.Series) -> pd.Series:
        mat = np.vstack(v.to_numpy()).astype(np.float64)  # (n, dim)
        bits = (mat @ weights > 0).astype(np.int64)
        per_table = bits.reshape(len(v), -1, len(bit_mult)) * bit_mult
        return pd.Series(list(per_table.sum(axis=2)))

    buckets = pandas_udf(_buckets, "array<long>")

    out = embeddings.withColumn("_bkts", buckets(F.col(vec_col)))
    return out.select(
        *embeddings.columns, F.posexplode("_bkts").alias("table", "bucket")
    )


def topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k via multi-table LSH: candidates share the query's bucket in
    ANY of ``n_tables`` independent tables (equi-join on (table, bucket)),
    exact cosine verify + window. Recall grows with n_tables; tests measure
    it against brute force."""
    eb = lsh_buckets_multi(embeddings, n_planes, n_tables, dim, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nvec"),
        "table", "bucket",
    )
    qb = lsh_buckets_multi(queries, n_planes, n_tables, dim, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"),
        "table", "bucket",
    )
    cands = (
        eb.join(F.broadcast(qb), ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _top_k(cands, k)


def ivf_assign(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF bucketing with deterministic centroids (the ``n_centroids``
    smallest ids — a seed-free stand-in for k-means; the *plumbing* is the
    scale path: assignment is a broadcast join, search probes one cell).
    Returns (assigned, centroids)."""
    # TakeOrdered (sort().limit(k)) picks the centroids — a per-partition
    # top-k then a k-row driver merge, NOT a single-task global sort of the
    # whole table (the round-1 unpartitioned Window was exactly that).
    # The row_number window below runs on <= n_centroids rows only.
    small = embeddings.sort(F.col(id_col).asc()).limit(n_centroids)
    w = Window.orderBy(F.col(id_col).asc())
    cents = small.withColumn("rn", F.row_number().over(w)).select(
        F.col("rn").alias("centroid_id"), F.col(vec_col).alias("cvec")
    )
    scored = embeddings.join(F.broadcast(cents)).withColumn(
        "sim", cosine(vec_col, "cvec")
    )
    # argmin as a map-side-combinable min(struct) aggregate: the broadcast
    # join fans each vector out n_centroids-fold, but the partial aggregate
    # collapses it back to one row per vector BEFORE the exchange — the
    # shuffle carries |embeddings| rows, not |embeddings| * n_centroids
    # (the previous row_number window shuffled the full fan-out). Same
    # ordering: -sim ascending == sim descending, ties to lowest centroid
    # (centroid_id is unique per vector so deeper struct fields never tie).
    # PRECONDITION (documented, ADVICE r5): no zero-norm vectors or
    # centroids. cosine() yields NaN on a zero norm, and NaN ranks FIRST
    # under the oracle's row_number(sim DESC) but LAST under min(struct) —
    # the two formulations agree only while every norm is positive (true of
    # every driver/test corpus; ORACLE_SIM_IVF documents the same bound).
    best = scored.groupBy(id_col).agg(
        F.min(
            F.struct(
                (-F.col("sim")).alias("neg_sim"),
                F.col("centroid_id").alias("cid"),
                F.col(vec_col).alias("vec"),
            )
        ).alias("b")
    )
    assigned = best.select(
        id_col,
        F.col("b.vec").alias(vec_col),
        F.col("b.cid").alias("centroid_id"),
    )
    return assigned, cents


def topk_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k via IVF cell probing: every vector lives in exactly ONE
    cell (:func:`ivf_assign`), each query probes its ``nprobe`` nearest
    cells, and only those cells' vectors are scored exactly.

    Scale shape: candidate generation is a single equi-join on
    ``centroid_id`` between the partitioned inverted file and the
    broadcast (query, probed-cell) pairs — the fraction of the corpus
    scanned per query is ~nprobe/n_centroids instead of the brute-force
    full scan, and (unlike multi-table LSH) no dedup is needed because
    cells are disjoint. Recall/latency trade on (n_centroids, nprobe)."""
    assigned, cents = ivf_assign(embeddings, n_centroids, id_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    qscored = q.join(F.broadcast(cents)).withColumn(
        "sim", cosine("qvec", "cvec")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("centroid_id").asc()
    )
    probes = (
        qscored.withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "qvec", "centroid_id")
    )
    cand = (
        assigned.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("nvec"),
            "centroid_id",
        )
        .join(F.broadcast(probes), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    return _top_k(cand, k)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table LSH blocking +
    exact verify: (a, b, cos >= threshold), a < b. At cos 0.95 the per-plane
    agreement is ~0.9, so 8 planes x 4 tables gives ~0.9 candidate recall
    while keeping the join selective."""
    # [r6] Two structural fixes, same lesson as the minhash candidate join
    # (guide §8: decide with small rows, move payloads once):
    # - the bucket table is materialized ONCE: it comes out of an Arrow
    #   UDF (the numpy multi-table projection), and building each join
    #   side from the lazy plan re-ran that Python stage per side;
    # - the bucket self-join and candidate dedup handle BARE 16-byte id
    #   pairs; the two ~0.5 KB vectors are attached to the surviving
    #   distinct pairs afterwards, so the dedup shuffle carries ids
    #   instead of ~n_tables x |collisions| x 1 KB of payload
    #   (measured at 50k docs/64 dims: 25-42 s -> ~7 s, identical pairs).
    bk = lsh_buckets_multi(embeddings, n_planes, n_tables, dim, vec_col).select(
        id_col, "table", "bucket"
    ).localCheckpoint()
    # candidate dedup on BARE id pairs first, verify after (A/B'd both
    # orders at replica sf1.0: verify-first reads 49-54 s because the raw
    # multi-table collision stream then drags two 0.5 KB vectors per row
    # through the attach joins; dedup-first reads 14-17 s)
    pairs = (
        colliding_pairs(bk, id_col, ["table", "bucket"])
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    # norms once per vector, not per pair: a per-pair cosine is three
    # dim-term chains, whose generated code outgrows Janino's 64 KB method
    # limit and runs interpreted. Same expressions in the same fold order,
    # so cos is bit-identical to cosine(va, vb, dim).
    per_vec = embeddings.select(
        id_col, F.col(vec_col).alias("v"), norm(vec_col, dim).alias("n")
    )
    cos = dot("va", "vb", dim) / (F.col("na") * F.col("nb"))
    return (
        attach(pairs, per_vec, id_col)
        .withColumn("cos", F.round(cos, 6))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )
