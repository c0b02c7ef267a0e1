"""Distributed Lloyd k-means over an embedding column.

The reference has no clustering, but an IVF vector index (queries/similarity
q54/q55) needs a coarse quantizer, and a training-data pipeline uses k-means
for corpus clustering / diversity sampling. This is the iterative-algorithm
pattern: per-iteration work is fully distributed (one scan + one narrow agg);
only the k*dim centroid matrix ever reaches the driver — same topology as
Spark MLlib's own KMeans (driver holds centers, executors assign points).

Scale notes (100 TB):
- assignment is a broadcast of k*dim doubles folded into a scan-side
  expression — no join, no shuffle;
- the update step shuffles (cluster, dim, partial sum/count): k*dim keys
  regardless of row count, with map-side combine doing virtually all the
  reduction;
- iterations are O(k*dim) driver memory; the point set never leaves
  executors. Deterministic: init = k lowest-id vectors, so runs are
  reproducible across partitionings (no seeding, unlike MLlib's kmeans||).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sq_dists(vec: str, matrix: list[list[float]]):
    """array<double> of squared L2 distances from the vector SQL expression
    `vec` to each row of `matrix` — the one per-centroid fold every
    nearest-centroid consumer shares (cluster_expr, assign_clusters_ranked,
    similarity.adc_topk's lookup tables):

        transform(<matrix>, c -> aggregate(zip_with(<vec>, c,
            (x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x))

    Element-order left fold from 0.0 — the order the SQL oracles restate
    (similarity._kmeans_dist_sql), so argmin ties see bit-equal distances.
    ONE F.expr parse with the matrix as ONE literal node
    (fastlit.double_matrix_sql): PySpark's lambda API costs py4j round
    trips per lambda, and a matrix spelled as nested arrays enters the
    analysed plan as a k*dim CreateArray tree (at IVF scale, k=256 and
    d=512, ~131k nodes)."""
    from .fastlit import double_matrix_sql

    return F.expr(
        f"transform({double_matrix_sql(matrix)}, c -> aggregate(zip_with({vec}, c, "
        "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x))"
    )


def cluster_expr(vec: str, centroids: list[list[float]]):
    """Nearest-centroid index of the vector SQL expression `vec` as a pure
    COLUMN (ties -> lowest index, via array_position returning the first
    match) — usable several times in one projection (the PQ case: 8
    subspace codes off a single scan)."""
    dists = sq_dists(vec, centroids)
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def assign_clusters(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Add a `cluster` column: index of the nearest centroid (cluster_expr
    above applied to a named column)."""
    return df.withColumn("cluster", cluster_expr(f"`{vec_col}`", centroids))


def assign_clusters_ranked(
    df: DataFrame, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """Add `cluster` (nearest centroid) AND `cluster2` (second-nearest) —
    the nprobe=2 / hard-negative-mining assignment. Entirely scan-side: the
    second-nearest is the argmin over the distance array with the FIRST
    minimum masked by POSITION (not by value, so a centroid tied with the
    winner stays eligible and the tie resolves to the lower index — the
    same `ORDER BY dist, cid` rule the SQL oracles state). No shuffle, no
    window; requires k >= 2."""
    df = df.withColumn("__d", sq_dists(f"`{vec_col}`", centroids))
    i1 = F.array_position("__d", F.array_min("__d")) - 1
    df = df.withColumn("cluster", i1.cast("int"))
    masked = F.transform(
        "__d",
        lambda x, i: F.when(i == F.col("cluster"), F.lit(float("inf"))).otherwise(x),
    )
    df = df.withColumn("__d2", masked)
    i2 = F.array_position("__d2", F.array_min("__d2")) - 1
    return df.withColumn("cluster2", i2.cast("int")).drop("__d", "__d2")


def _update_centroids(assigned: DataFrame, vec_col: str, k: int) -> list[list[float]]:
    """New centroid matrix from the current assignment (empty clusters keep
    position by falling back to their previous slot being absent — callers
    re-insert the old centroid)."""
    rows = (
        assigned.select("cluster", F.posexplode(vec_col).alias("dim", "val"))
        .groupBy("cluster", "dim")
        .agg(F.avg("val").alias("c"))
        .collect()
    )
    out: dict[int, dict[int, float]] = {}
    for r in rows:
        out.setdefault(r["cluster"], {})[r["dim"]] = r["c"]
    return [
        [out[j][d] for d in sorted(out[j])] if j in out else []
        for j in range(k)
    ]


def lloyd_kmeans(
    df: DataFrame, vec_col: str, id_col: str, k: int = 8, iters: int = 3
) -> tuple[DataFrame, list[list[float]]]:
    """Run `iters` Lloyd iterations; returns (assignments DF, final centroids).

    Init: the k rows with the lowest ids (deterministic, engine-portable).
    The returned DataFrame has (id_col, cluster) with the FINAL assignment
    against the post-iteration centroids.
    """
    # materialize the projected point set once: every iteration (and the
    # final assignment) re-reads it, so without this the source re-scans
    # iters+1 times. At cluster scale this is persist(MEMORY_AND_DISK) on
    # the (id, vector) projection — the same choice MLlib's KMeans makes.
    # LAZY: the init collect right below is the materializing action, so
    # setup costs one Spark job, not a checkpoint job plus an init job.
    df = df.select(id_col, vec_col).localCheckpoint(eager=False)
    init_rows = df.orderBy(id_col).limit(k).collect()
    centroids = [[float(x) for x in r[vec_col]] for r in init_rows]
    if not centroids:
        raise ValueError("lloyd_kmeans: input has no rows")
    if len(centroids) < k:
        # fewer points than requested clusters: clamp (every point is its
        # own centroid) instead of letting the empty-cluster fallback index
        # past the init list
        k = len(centroids)
    for _ in range(iters):
        assigned = assign_clusters(df, vec_col, centroids)
        new = _update_centroids(assigned, vec_col, k)
        centroids = [new[j] if new[j] else centroids[j] for j in range(k)]
    final = assign_clusters(df, vec_col, centroids).select(id_col, "cluster")
    return final, centroids
