"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: JVM-side zip_with/aggregate math (no UDF),
  broadcast of the (small) query set, ranked window — the correctness
  baseline.
- random-hyperplane LSH bucketing: deterministic md5-derived ±1 planes;
  the scale path is bucket → search within bucket (candidates share a
  signature), turning the O(N·Q) cross join into a bucket-local join.

- IVF (inverted file): driver-side deterministic k-means coarse
  quantizer; vectors bucket by nearest centroid, queries scan n_probe
  nearest clusters — cluster granularity adapts to the data where the
  sign-random LSH buckets cannot.

For 100 TB-scale corpora the bucketed variants are the default: signatures
or centroid cells partition the vector set, queries probe only their own
bucket(s) (multi-probe: low-margin bit flips / n_probe nearest cells).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a, b) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(c) -> Column:
    return F.sqrt(F.aggregate(F.transform(c, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def _cosine_topk_tail(pairs: DataFrame, k: int, id_col: str, vec_col: str,
                      qid_col: str, qvec_col: str) -> DataFrame:
    """Candidate (vector, query) pairs → the k best by cosine per query,
    self pairs dropped, ties broken by vector id:
    (query_id, neighbor_id, rank, cos)."""
    scored = (pairs.where(F.col(id_col) != F.col(qid_col))
              .withColumn("cos", _dot(F.col(vec_col), F.col(qvec_col)) /
                          (_norm(F.col(vec_col)) * _norm(F.col(qvec_col)))))
    w = Window.partitionBy(qid_col).orderBy(F.desc("cos"), id_col)
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(qid_col, F.col(id_col).alias("neighbor_id"), "rank",
                    "cos"))


def cosine_topk(vectors: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                qid_col: str = "query_id", qvec_col: str = "qv") -> DataFrame:
    """Brute-force cosine top-k: → (query_id, neighbor_id, rank, cos)."""
    return _cosine_topk_tail(vectors.crossJoin(F.broadcast(queries)), k,
                             id_col, vec_col, qid_col, qvec_col)


def hyperplane_planes(dim: int, n_planes: int = 8,
                      offset: int = 0) -> list[list[float]]:
    """Deterministic ±1 hyperplanes: sign of plane j, dim d is derived from
    md5(f"plane{j}|{d}") — reproducible in any engine (incl. SQL oracles).
    ``offset`` shifts the plane index range (band b of banded LSH uses
    planes [b*n_planes, (b+1)*n_planes) so bands are independent)."""
    import hashlib

    def sign(j: int, d: int) -> float:
        h = hashlib.md5(f"plane{j}|{d}".encode()).hexdigest()
        return 1.0 if int(h[:2], 16) % 2 == 0 else -1.0

    return [[sign(j, d) for d in range(dim)]
            for j in range(offset, offset + n_planes)]


def hyperplane_signature(vec_col: Column, dim: int, n_planes: int = 8,
                         offset: int = 0) -> Column:
    """Random-hyperplane signature over literal plane arrays.

    Planes are data-independent constants, so they are computed driver-side
    and inlined as literals — no per-row hashing, and no nested-lambda
    expression trees (deeply nested transform-lambdas miscompile in
    pyspark 4.1: the same expression evaluated in two plans produced
    different plane signs; literals sidestep the whole class of bug).
    """
    sig = F.lit(0).cast("long")
    for j, plane in enumerate(hyperplane_planes(dim, n_planes, offset)):
        lit_plane = F.array(*[F.lit(x) for x in plane])
        dot = _dot(vec_col, lit_plane)
        sig = sig + F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0)) \
            .cast("long")
    return sig


def hyperplane_probe_buckets(vec_col: Column, dim: int, n_planes: int = 8,
                             n_probes: int = 1) -> Column:
    """Multi-probe bucket list: the base signature plus variants with the
    lowest-|margin| plane bits flipped (one flip per extra probe).

    Low |dot| means the vector sits near that hyperplane, so its true
    neighbors are likely just across it — flipping that bit probes the
    adjacent bucket first (standard multi-probe LSH). Plane constants are
    driver-side literals (see hyperplane_signature for why).
    """
    planes = hyperplane_planes(dim, n_planes)
    dots = [_dot(vec_col, F.array(*[F.lit(x) for x in p])) for p in planes]
    base = F.lit(0).cast("long")
    for j, d in enumerate(dots):
        base = base + F.when(d > 0, F.lit(1 << j)).otherwise(F.lit(0)) \
            .cast("long")
    # planes ordered by |margin| ascending; struct sort uses field order
    margins = F.array_sort(F.array(*[
        F.struct(F.abs(d).alias("m"), F.lit(j).alias("j"))
        for j, d in enumerate(dots)]))
    buckets = [base]
    for k in range(1, min(n_probes, n_planes + 1)):
        j_k = F.try_element_at(margins, F.lit(k))["j"]
        flip = F.pow(F.lit(2.0), j_k.cast("double")).cast("long")
        buckets.append(base.bitwiseXOR(flip))
    return F.array_distinct(F.array(*buckets))


def lsh_bucketed_topk(vectors: DataFrame, queries: DataFrame, dim: int,
                      k: int = 5, n_planes: int = 8, id_col: str = "vec_id",
                      vec_col: str = "embedding", qid_col: str = "query_id",
                      qvec_col: str = "qv", n_probes: int = 1) -> DataFrame:
    """Bucketed ANN: candidates = same hyperplane signature; then exact
    cosine rank within bucket. Recall < 1 by design; raise n_planes ↓bucket
    size, lower it ↑recall. n_probes > 1 additionally probes the buckets
    across the query's lowest-margin hyperplanes (multi-probe LSH) —
    recall rises without shrinking n_planes. Each vector lives in exactly
    one bucket, so probe buckets yield disjoint candidate sets (no dedup
    shuffle needed)."""
    sig_v = hyperplane_signature(F.col(vec_col), dim, n_planes)
    v = vectors.withColumn("bucket", sig_v)
    if n_probes > 1:
        probes = hyperplane_probe_buckets(F.col(qvec_col), dim, n_planes,
                                          n_probes)
        q = queries.withColumn("bucket", F.explode(probes))
    else:
        q = queries.withColumn(
            "bucket", hyperplane_signature(F.col(qvec_col), dim, n_planes))
    return _cosine_topk_tail(v.join(F.broadcast(q), "bucket"), k, id_col,
                             vec_col, qid_col, qvec_col)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + cluster-pruned search
# ---------------------------------------------------------------------------

def train_ivf_centroids(vectors: DataFrame, n_clusters: int = 8,
                        iters: int = 5, sample: int = 2048,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> list[list[float]]:
    """Driver-side deterministic k-means (Lloyd) on a bounded sample.

    Sample = first ``sample`` vectors by id (deterministic, no RNG — the
    engine bans Date/random for resumability); init = first k sampled
    vectors. The centroid table is tiny (k × dim) and is inlined as column
    literals by the search path, like the LSH hyperplanes.
    """
    import numpy as np
    rows = (vectors.select(id_col, vec_col).orderBy(id_col)
            .limit(sample).collect())
    x = np.array([r[vec_col] for r in rows], dtype=np.float64)
    k = min(n_clusters, len(x))
    c = x[:k].copy()
    for _ in range(iters):
        d = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(k):
            m = x[assign == j]
            if len(m):
                c[j] = m.mean(axis=0)
    return [[float(v) for v in row] for row in c]


def _sq_l2(vec_col: Column, centroid: list[float]) -> Column:
    lit = F.array(*[F.lit(float(v)) for v in centroid])
    return F.aggregate(
        F.zip_with(vec_col, lit, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x)


def ivf_assign(vec_col: Column, centroids: list[list[float]]) -> Column:
    """Nearest-centroid id: array_min over (distance, cid) structs —
    lexicographic struct ordering gives min-distance with min-cid ties."""
    entries = F.array(*[
        F.struct(_sq_l2(vec_col, c).alias("d"), F.lit(j).alias("cid"))
        for j, c in enumerate(centroids)])
    return F.array_min(entries)["cid"]


def ivf_probe_list(vec_col: Column, centroids: list[list[float]],
                   n_probe: int) -> Column:
    """The ``n_probe`` nearest centroid ids, nearest first."""
    entries = F.array_sort(F.array(*[
        F.struct(_sq_l2(vec_col, c).alias("d"), F.lit(j).alias("cid"))
        for j, c in enumerate(centroids)]))
    return F.transform(F.slice(entries, 1, n_probe), lambda e: e["cid"])


def ivf_topk(vectors: DataFrame, queries: DataFrame,
             centroids: list[list[float]], k: int = 5, n_probe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             qid_col: str = "query_id", qvec_col: str = "qv") -> DataFrame:
    """IVF ANN: vectors are bucketed by nearest centroid (the inverted
    file); each query scans only its ``n_probe`` nearest clusters, exact
    cosine rank within. The scale path when hyperplane LSH buckets are too
    coarse: cluster granularity adapts to the data (k-means) instead of
    being sign-random, and recall is tuned by n_probe without re-bucketing
    the corpus. At 100 TB the assignment is a pure narrow projection
    (centroid literals broadcast in the plan) and the join is keyed by
    cluster id — the classic IVF partition-pruning shape.
    """
    v = vectors.withColumn("cid", ivf_assign(F.col(vec_col), centroids))
    q = queries.withColumn(
        "cid", F.explode(ivf_probe_list(F.col(qvec_col), centroids,
                                        n_probe)))
    return _cosine_topk_tail(v.join(F.broadcast(q), "cid"), k, id_col,
                             vec_col, qid_col, qvec_col)
