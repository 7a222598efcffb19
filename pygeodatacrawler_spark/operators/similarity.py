"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: broadcast the (small) query set against the
  corpus; cosine is an Arrow-batched numpy kernel (a pandas UDF over the
  joined vector pairs). At 100 TB the corpus side is the big side and
  never shuffles: the broadcast join is a map-only stage, then one
  shuffle for the per-query top-k window (or RANK <= k via
  AQE-coalesced partitions).
- LSH-bucketed ANN: random-hyperplane signs (deterministic planes from
  md5 of (plane, dim)) bucket the corpus once; queries probe only their
  bucket — the scale path that avoids scanning all vectors per query.

Embedding-cosine near-dup dedup reuses the same primitives.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
import pyspark.sql.functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Top-k cosine neighbors per query vector (excluding self).

    Returns (query_id, neighbor_id, cos_sim, rank). Query side is
    broadcast; ties broken deterministically on neighbor id so results
    are stable at any parallelism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )

    # Cosine in one Arrow-batched numpy pass (round 6, guide §4.2): the
    # Column form is three interpreted ``aggregate`` folds plus a
    # zip_with array allocation per pair — HOFs run outside codegen, so
    # corpus x queries pairs paid ~1.3 s at 20k x 5 / 64 dims. The UDF
    # accumulates dimension-by-dimension over the row batch
    # (acc = acc + x[:,d]*y[:,d]), i.e. the exact left-fold IEEE
    # operation order of aggregate(zip_with(a,b,*), 0.0, +) — results
    # are bit-identical to the expression form (asserted against the
    # DuckDB oracle, which uses the same fold order). Rounding stays
    # JVM-side so F.round's HALF_UP semantics are untouched.
    @F.pandas_udf("double")
    def _cos(qv: pd.Series, cv: pd.Series) -> pd.Series:
        x = np.stack(qv.values)
        y = np.stack(cv.values)
        dot = np.zeros(len(x))
        nx = np.zeros(len(x))
        ny = np.zeros(len(x))
        for d in range(x.shape[1]):
            xd = x[:, d]
            yd = y[:, d]
            dot = dot + xd * yd
            nx = nx + xd * xd
            ny = ny + yd * yd
        return pd.Series(dot / (np.sqrt(nx) * np.sqrt(ny)))

    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", F.round(_cos(F.col("qv"), F.col("cv")), 4))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def derive_n_planes(
    n_vectors: int, target_bucket: int = 256, lo: int = 4, hi: int = 24
) -> int:
    """Scale-tuned plane count: ~log2(N / target_bucket), clamped.

    At N vectors and b planes, a bucket holds ~N/2^b vectors; within-
    bucket work is quadratic in that, so the plane count must GROW with
    the corpus — round-2's fixed default of 4 was a sandbox setting.
    target_bucket=256 keeps the per-bucket candidate set cheap to score
    while multi-probe recovers recall (more planes = finer buckets =
    more probes needed, which multiplies only the broadcast query
    side). hi=24 caps bucket-id arithmetic far below int overflow.
    """
    import math

    if n_vectors <= target_bucket:
        return lo
    return max(lo, min(hi, round(math.log2(n_vectors / target_bucket))))


def plane_components(n_planes: int, n_dims: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5("plane{p}:{d}") — computed
    once in Python so engine AND SQL oracle share identical constants."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(n_dims):
            h = int(hashlib.md5(f"plane{p}:{d}".encode()).hexdigest()[:4], 16)
            row.append(1.0 if h & 1 else -1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, n_planes: int, n_dims: int) -> Column:
    """Random-hyperplane LSH bucket id: sign pattern of n_planes dots."""
    planes = plane_components(n_planes, n_dims)
    bucket = F.lit(0)
    for p in range(n_planes):
        plane = F.array(*[F.lit(v) for v in planes[p]])
        s = dot(vec.cast("array<double>"), plane)
        bucket = bucket + F.when(s > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def lsh_probe_buckets(
    vec: Column, n_planes: int, n_dims: int, n_probes: int = 1
) -> Column:
    """Multi-probe bucket list: the home bucket plus every bucket
    within ``n_probes`` sign-flips (Lv et al., "Multi-Probe LSH",
    VLDB 2007 — public). Flipping the planes whose dot product is
    nearest zero first would be the refined order; flipping ALL
    single (and at n_probes=2, all pairs of) planes subsumes that and
    stays a pure Column expression. Probe fan-out multiplies only the
    (tiny, broadcast) query side — the corpus is still bucketed
    exactly once. At 16 planes, Hamming-2 is 137 probes and is what
    keeps recall >=0.9 on near-neighbors (a cos~0.95 pair agrees with
    each plane w.p. ~0.9, so ~1.6 of 16 signs flip in expectation)."""
    home = lsh_bucket(vec, n_planes, n_dims)
    probes = [home]
    if n_probes >= 1:
        probes += [home.bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
    if n_probes >= 2:
        probes += [
            home.bitwiseXOR(F.lit((1 << p) | (1 << q)))
            for p in range(n_planes)
            for q in range(p + 1, n_planes)
        ]
    return F.array(*probes)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int | None = None,
    n_dims: int = 64,
    n_probes: int = 1,
    n_vectors: int | None = None,
) -> DataFrame:
    """ANN top-k restricted to the query's LSH bucket(s) (approximate).

    At scale the corpus bucketing is computed once and written
    partitioned by bucket, so each query probes one partition per probe
    bucket — partition pruning does the candidate selection.
    ``n_planes`` defaults to :func:`derive_n_planes` of the corpus size
    (pass ``n_vectors`` to avoid the count() job); recall at high plane
    counts comes from Hamming-1/2 multi-probe, not fewer planes.
    """
    if n_planes is None:
        n_planes = derive_n_planes(n_vectors if n_vectors is not None else corpus.count())
    cb = corpus.withColumn("bucket", lsh_bucket(F.col(vec_col), n_planes, n_dims))
    qb = queries.withColumn(
        "bucket",
        F.explode(
            lsh_probe_buckets(F.col(vec_col), n_planes, n_dims, n_probes)
        ),
    )
    q = qb.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        "bucket",
    )
    c = cb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        "bucket",
    )
    scored = (
        c.join(F.broadcast(q), ["bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", F.round(cosine(F.col("qv"), F.col("cv")), 4))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_train_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    max_iter: int = 8,
    seed: int = 42,
) -> list[list[float]]:
    """IVF coarse quantizer: k-means centroids via Spark ML (public
    API). Centroids are tiny (k × dims floats) and live on the driver
    like any broadcast dimension — training is the only iterative part
    and runs once per corpus snapshot, off the query path."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=k, maxIter=max_iter, seed=seed).fit(feat)
    return [list(map(float, c)) for c in model.clusterCenters()]


def _nearest_centroids(
    vec: Column, centroids: list[list[float]], nprobe: int
) -> Column:
    """Array of the nprobe nearest centroid ids (squared-L2) — pure
    Column expression over literal centroid arrays."""
    dists = []
    for cid, c in enumerate(centroids):
        carr = F.array(*[F.lit(v) for v in c])
        d2 = F.aggregate(
            F.zip_with(vec.cast("array<double>"), carr, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        dists.append(F.struct(d2.alias("d"), F.lit(cid).alias("cid")))
    ranked = F.array_sort(F.array(*dists))
    return F.transform(F.slice(ranked, 1, nprobe), lambda s: s["cid"])


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF ANN top-k: corpus rows live in their nearest centroid's
    bucket (computed ONCE — at scale, written partitioned by bucket so
    probes are partition-pruned scans); each query probes its nprobe
    nearest buckets. Same join/window shape as lsh_topk: the probe
    fan-out multiplies only the broadcast query side.

    IVF vs LSH trade-off (both are in the operator set on purpose):
    data-adaptive buckets give IVF better recall per candidate on
    clustered corpora; LSH needs no training and its bucket of a row
    never changes when the corpus grows.
    """
    cb = corpus.withColumn(
        "bucket", F.element_at(_nearest_centroids(F.col(vec_col), centroids, 1), 1)
    )
    qb = queries.withColumn(
        "bucket",
        F.explode(_nearest_centroids(F.col(vec_col), centroids, nprobe)),
    )
    q = qb.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        "bucket",
    )
    c = cb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        "bucket",
    )
    scored = (
        c.join(F.broadcast(q), ["bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_sim", F.round(cosine(F.col("qv"), F.col("cv")), 4))
        .select("query_id", "neighbor_id", "cos_sim")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_dupes(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int | None = None,
    n_dims: int = 64,
    n_probes: int = 0,
    n_vectors: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold.

    LSH-bucketed self-join: pairs only form inside a bucket, so the
    shuffle is per-bucket, never the full cross product. ``n_planes``
    defaults to :func:`derive_n_planes` of the input size (pass
    ``n_vectors`` to avoid the count() job) so within-bucket pair
    counts stay ~(target_bucket)^2 as the corpus grows; ``n_probes``
    > 0 explodes Hamming-near probe buckets on ONE side of the join
    (pairs deduped) to recover the recall finer buckets cost.
    """
    if n_planes is None:
        n_planes = derive_n_planes(n_vectors if n_vectors is not None else df.count())
    b = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        lsh_bucket(F.col(vec_col), n_planes, n_dims).alias("bucket"),
    )
    probe = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.explode(
            lsh_probe_buckets(F.col(vec_col), n_planes, n_dims, n_probes)
        ).alias("bucket"),
    )

    # Round 6 (guide §8 "decide with small rows" + §4.2): the old shape
    # was a bucket self-JOIN with the rounded-cosine filter attached —
    # Catalyst pushed the filter into the join condition, so the
    # 3-fold interpreted HOF cosine ran multiple times per candidate
    # pair, and each pair row carried both 64-d vectors (O(pairs)
    # vector copies). Minutes at 20k vectors / 16 buckets (~12.5M
    # in-bucket pairs). Now: cogroup per bucket — each vector crosses
    # the shuffle ONCE per probe bucket, and a numpy kernel scores one
    # home row against the bucket's probe matrix per iteration,
    # accumulating dimension-by-dimension (acc = acc + x[d]*R[:,d]):
    # the exact left-fold IEEE order of aggregate(zip_with(a,b,*)),
    # so cosines are bit-identical to the expression form. The UDF
    # prefilters at (threshold - 1e-4) — strictly wider than anything
    # HALF_UP rounding to 4 dp could pull up to the threshold — and
    # the exact F.round + filter runs JVM-side after, so the kept set
    # is identical to the old plan's. Ids must be integral (they ride
    # a long schema through the cogroup).
    margin = threshold - 1e-4

    def _score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "_cos": []}).astype(
                {"id_a": "int64", "id_b": "int64", "_cos": "float64"}
            )
        lid = left["id"].to_numpy()
        rid = right["id"].to_numpy()
        lv = np.stack(left["v"].to_numpy())
        rv = np.stack(right["v"].to_numpy())
        ndim = lv.shape[1]
        rnorm = np.zeros(len(rid))
        for d in range(ndim):
            rd = rv[:, d]
            rnorm = rnorm + rd * rd
        rnorm = np.sqrt(rnorm)
        ia: list = []
        ib: list = []
        cs: list = []
        for i in range(len(lid)):
            x = lv[i]
            nx = 0.0
            dot = np.zeros(len(rid))
            for d in range(ndim):
                xd = x[d]
                dot = dot + xd * rv[:, d]
                nx = nx + xd * xd
            cos = dot / (np.sqrt(nx) * rnorm)
            keep = (lid[i] < rid) & (cos >= margin)
            if keep.any():
                ia.append(np.full(int(keep.sum()), lid[i], dtype=np.int64))
                ib.append(rid[keep].astype(np.int64))
                cs.append(cos[keep])
        if not ia:
            return pd.DataFrame({"id_a": [], "id_b": [], "_cos": []}).astype(
                {"id_a": "int64", "id_b": "int64", "_cos": "float64"}
            )
        return pd.DataFrame(
            {
                "id_a": np.concatenate(ia),
                "id_b": np.concatenate(ib),
                "_cos": np.concatenate(cs),
            }
        )

    scored = (
        b.groupBy("bucket")
        .cogroup(probe.groupBy("bucket"))
        .applyInPandas(_score, schema="id_a long, id_b long, _cos double")
    )
    pairs = (
        scored.withColumn("cos_sim", F.round(F.col("_cos"), 4))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )
    if n_probes > 0:
        pairs = pairs.dropDuplicates(["id_a", "id_b"])
    return pairs
