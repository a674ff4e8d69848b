"""Similarity search over embedding columns (training-data tier).

Two strategies, both pure DataFrame ops (no Python on the hot path):

- `cosine_topk`: brute-force cosine top-k — broadcast the (small)
  query set against the corpus, higher-order-function dot products,
  per-query window ranking. At 100 TB this is the exact-baseline: one
  broadcast, no shuffle until the (tiny) per-query top-k aggregation.

- `lsh_bucket` / `lsh_topk`: random-hyperplane LSH — bucket id =
  sign-bit vector of `n_planes` fixed hyperplane dot products. The
  corpus is bucketed once (8 ints per row), candidates come from a
  bucket equi-join instead of a full cross product: the scale path
  when the query set is large. Hyperplanes are deterministic
  (seeded), shared verbatim with the DuckDB oracle.

Determinism: ranking happens on cosine ROUNDED to 6 decimals with
vec_id as tiebreak, so float noise below 1e-6 can never flip an
ordering between engines or parallelism levels.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

__all__ = ["HYPERPLANES", "dot", "norm", "cosine", "cosine_topk",
           "lsh_bucket_expr", "lsh_topk", "ivf_centroids", "ivf_topk"]


def _gen_hyperplanes(n_planes: int = 8, dim: int = 64, seed: int = 7) -> list[list[int]]:
    """INTEGER hyperplane components (uniform in [-1e6, 1e6]): integers
    are exact in every engine, so the sign of the dot product — hence
    the bucket id — can't be flipped by decimal-literal parsing
    differences between Spark and the oracle."""
    rng = random.Random(seed)
    return [
        [rng.randint(-1_000_000, 1_000_000) for _ in range(dim)] for _ in range(n_planes)
    ]


HYPERPLANES = _gen_hyperplanes()


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold double dot product (F.aggregate folds in element
    order — same order the oracle's list_sum uses)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, ndigits: int = 6) -> Column:
    return F.round(dot(a, b) / (norm(a) * norm(b)), ndigits)


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbours per query row (self-match excluded)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    joined = emb.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
    return _top_k(joined, "q_vec", k, id_col, vec_col)


def _top_k(cand: DataFrame, q_vec: str, k: int, id_col: str,
           vec_col: str) -> DataFrame:
    """Each query's k best candidates: cosine of the query vector
    `q_vec` against the candidate's `vec_col`, ranked per query by the
    rounded cosine with neighbor_id breaking ties (the ordering every
    oracle's ROW_NUMBER uses). `cand` holds query_id, `q_vec`,
    `id_col` and `vec_col`, self-matches already excluded."""
    scored = cand.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine(F.col(q_vec), F.col(vec_col)).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


def lsh_bucket_expr(vec: Column, planes: list[list[float]] | None = None) -> Column:
    """Hyperplane-sign bucket id: bit j set iff dot(vec, plane_j) > 0."""
    planes = planes or HYPERPLANES
    bucket = F.lit(0)
    for j, plane in enumerate(planes):
        p = F.array(*[F.lit(x) for x in plane])
        bucket = bucket + F.when(dot(vec, p) > 0, F.lit(2 ** j)).otherwise(F.lit(0))
    return bucket.cast("bigint")


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket.
    The corpus-side bucket column is computed once in the scan stage;
    the join is a plain equi-join on bucket (shuffle/broadcast decided
    by AQE) — this is what replaces the cross product at scale."""
    bucketed = emb.select(
        F.col(id_col), F.col(vec_col), lsh_bucket_expr(F.col(vec_col)).alias("bucket"))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        lsh_bucket_expr(F.col(vec_col)).alias("bucket"),
    )
    cand = bucketed.join(F.broadcast(q), on="bucket").filter(
        F.col(id_col) != F.col("query_id"))
    return _top_k(cand, "q_vec", k, id_col, vec_col)


def _nearest(vecs: DataFrame, cents: DataFrame, vec_col: str, n: int) -> DataFrame:
    """`vecs` plus `near`: the cids of the n centroids nearest to
    `vec_col`, nearest first — highest cosine rounded to 6 dp, ties to
    the lowest cid (sort key (-cs, cid) ascending). The (cid, centroid)
    table collapses into ONE broadcast row holding every centroid with
    its precomputed norm, so ranking is a per-row map stage with no
    per-vector shuffle — the shape that matters at 10^12 rows. The
    vector norm is hoisted to a projected column: referencing an
    expression inside the transform lambda would re-evaluate it per
    centroid (textstats.let_col rationale)."""
    carr = cents.select("cid", "centroid", norm(F.col("centroid")).alias("cn")).agg(
        F.collect_list(F.struct("cid", "centroid", "cn")).alias("cents"))
    withn = vecs.crossJoin(F.broadcast(carr)).select(
        "*", norm(F.col(vec_col)).alias("_vn"))
    ranked = F.array_sort(F.transform(
        F.col("cents"),
        lambda c: F.struct(
            (-F.round(dot(F.col(vec_col), c["centroid"])
                      / (F.col("_vn") * c["cn"]), 6)).alias("ncs"),
            c["cid"].alias("cid"),
        ),
    ))
    return withn.select(*vecs.columns, F.slice(ranked, 1, n)["cid"].alias("near"))


def _assign_nearest(vecs: DataFrame, cents: DataFrame, id_col: str,
                    vec_col: str) -> DataFrame:
    """(id, vec, cid): every vector in its nearest centroid's list."""
    return _nearest(vecs.select(id_col, vec_col), cents, vec_col, 1).select(
        id_col, vec_col, F.col("near")[0].alias("cid"))


def ivf_centroids(
    emb: DataFrame,
    n_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantizer, trained deterministically: seeds = the
    `n_clusters` lowest-id vectors (orderBy+limit — correct for sparse
    or non-zero-based ids too, ADVICE r2; compiles to
    TakeOrderedAndProject, a per-partition top-n + driver merge, NOT a
    global sort), ONE Lloyd refinement (assign all vectors to their
    nearest seed by rounded cosine, recompute each centroid as the
    element-wise mean). Engine-portable by construction: position-sums
    go through DECIMAL(18,9) so partial-agg order can't change a bit,
    means round to 6 dp — the DuckDB oracle reproduces every centroid
    exactly.

    Scale shape: seeds broadcast (n_clusters rows), assignment is a
    map-side broadcast join + per-row argmax, the mean is a
    map-side-combinable agg on (cluster, position) — one shuffle of
    n_clusters*dim tiny rows. Lloyd iterations beyond one are the same
    job repeated; production IVF trains on a sample anyway."""
    seeds = emb.orderBy(F.asc(id_col)).limit(n_clusters).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("centroid"))
    assigned = _assign_nearest(emb, seeds, id_col, vec_col)
    pos = assigned.select(
        "cid", F.posexplode(F.col(vec_col)).alias("pos", "v"))
    means = pos.groupBy("cid", "pos").agg(
        F.round(
            (F.sum(F.col("v").cast("decimal(18,9)")).cast("double")
             / F.count("*")), 6).alias("m"))
    return means.groupBy("cid").agg(
        F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
    ).select("cid", F.col("pm.m").alias("centroid"))


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_clusters: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their nearest
    centroid's inverted list; each query probes only its `n_probe`
    nearest centroids and ranks exactly within those lists. The scale
    path when LSH bucketing recalls poorly on clustered data: candidate
    count per query ≈ n_probe/n_clusters of the corpus, and the
    inverted lists are a bucketed table co-partitioned by cid (at
    100 TB: written once, probed by every query batch)."""
    # materialize once: the centroid table feeds both the inverted-list
    # build and the query probes (8 rows — the in-session stand-in for
    # the written-once coarse quantizer)
    cents = ivf_centroids(emb, n_clusters, id_col, vec_col).localCheckpoint(
        eager=False)
    # inverted lists: every vector -> its nearest (refined) centroid,
    # assigned in a pure map stage (no per-vector shuffle)
    inv = _assign_nearest(emb, cents, id_col, vec_col)
    # query probes: each query's n_probe nearest centroids, ranked
    # in-row the same way
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"))
    probes = _nearest(q, cents, "qv", n_probe).select(
        "query_id", "qv", F.explode("near").alias("cid"))
    cand = inv.join(F.broadcast(probes), "cid").filter(
        F.col(id_col) != F.col("query_id"))
    return _top_k(cand, "qv", k, id_col, vec_col)
