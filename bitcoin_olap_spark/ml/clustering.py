"""Distributed clustering over embedding columns.

Two quantizers. `kmeans_assign` runs the pyspark.ml KMeans estimator
in-engine (distributed Lloyd iterations, each a map + tree-aggregate
of partial centroid sums, fixed seed for reproducibility); it backs
`ml_kmeans`. The fixed-point Lloyd machinery (`quantize_fixed`,
`lloyd_fixed`, `pq_lloyd_fixed`) replays exactly in SQL, so the
quantizers it trains carry a full DuckDB oracle: the IVF inverted
lists of operators/vectors.ivf_topk_exact, SemDeDup's clusters and
the PQ codebooks of operators/vectors.pq_topk_adc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def kmeans_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """Cluster `vec_col` (array<float>) into k clusters; returns
    (id_col, cluster, dist) with dist = Euclidean distance to the
    assigned centroid. Deterministic for a fixed seed + input."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feat = df.select(
        F.col(id_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias(
            "features"
        ),
    )
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feat)
    assigned = model.transform(feat).withColumnRenamed(
        "prediction", "cluster"
    )
    centers = assigned.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cluster int, center array<double>",
    )
    with_center = assigned.join(F.broadcast(centers), "cluster")
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                vector_to_array("features"),
                "center",
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return with_center.select(
        id_col,
        F.col("cluster").cast("long").alias("cluster"),
        dist.alias("dist"),
    )


# ---- fixed-point Lloyd (engine-exact twin machinery) --------------
#: feature/centroid scale for the exact path; |x| < 1 on the unit-norm
#: embedding corpus, so |xq| < 2^20 and per-vector squared distances
#: stay below 2^48 (argmin keys d*K + cid < 2^53, exact in int64 and
#: in any engine's float64 widening)
KM_SCALE = 1 << 20


def quantize_fixed(df, id_col: str, vec_col: str, scale: int = KM_SCALE):
    """(id_col, original vec_col, xq ARRAY<BIGINT>) — features floored
    onto the fixed-point grid. floor(x * scale) is one IEEE multiply +
    floor per element, identical in any engine."""
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        F.transform(
            vec_col, lambda e: F.floor(e.cast("double") * scale).cast("long")
        ).alias("xq"),
    )


def lloyd_fixed(
    base, id_col: str, k: int, iters: int, dim: int
) -> list[list[int]]:
    """Fixed-point Lloyd: init = the k lowest-id vectors, then `iters`
    rounds of (map-only integer argmin assignment -> ONE
    posexplode/groupBy(cid, j) hash aggregate -> floor-division
    means). Returns the k integer centroid vectors (k*dim longs of
    driver control plane per iteration — the tree-aggregated posture
    of any distributed Lloyd; pyspark.ml's KMeans does exactly this
    internally). Empty clusters keep their previous centroid. The
    recurrence is deliberately SQL-expressible: floor division is the
    sign-safe pmod form, so an unrolled-CTE oracle replays it
    exactly. `base` must carry (id_col, xq). Every reduce here is
    <= k*dim groups however large the corpus, and AQE coalesces its
    shuffle to one partition."""
    from ..operators.vectors import lloyd_partials_arrow

    seeds = base.orderBy(id_col).limit(k).collect()
    if len(seeds) < k:
        raise ValueError(
            f"lloyd_fixed: corpus has only {len(seeds)} vectors but "
            f"k={k}; reduce k to at most the corpus size"
        )
    cents = [list(r["xq"]) for r in seeds]
    for _ in range(iters):
        # one job per iteration: the Arrow combine emits <= k*dim
        # partial rows per chunk, the reduce SUMs them — integer
        # addition is associative, so the totals equal the
        # oracle's direct per-(cid, j) SUM bit for bit
        sums = (
            lloyd_partials_arrow(base, cents, k)
            .groupBy("cid", "j")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        got = {(int(r["cid"]), int(r["j"])): r for r in sums}
        cents = [
            [
                int(got[(c, j)]["s"]) // int(got[(c, j)]["n"])
                if (c, j) in got
                else cents[c][j]
                for j in range(dim)
            ]
            for c in range(k)
        ]
    return cents


def pq_lloyd_fixed(
    base, id_col: str, k: int, m: int, iters: int, dim: int
) -> list[list[int]]:
    """Per-subspace fixed-point Lloyd for a product quantizer: init =
    the k lowest-id vectors (each subspace seeded from the same
    rows), then `iters` rounds where ALL m subspace codebooks update
    from ONE job (operators/vectors.pq_lloyd_partials_arrow — the
    bounded reduce is <= k*dim groups regardless of m or corpus
    size). Same recurrence as lloyd_fixed per subspace — integer
    argmin with low-cid ties, floor-division means, empty codewords
    keep their previous value — so the unrolled-CTE oracle replays
    every subspace exactly. Returns (k, dim) integer codewords; row
    c's subspace-s slice is codeword c of subspace s."""
    from ..operators.vectors import pq_lloyd_partials_arrow

    sub = dim // m
    seeds = base.orderBy(id_col).limit(k).collect()
    if len(seeds) < k:
        raise ValueError(
            f"pq_lloyd_fixed: corpus has only {len(seeds)} vectors "
            f"but k={k}; reduce k to at most the corpus size"
        )
    cents = [list(r["xq"]) for r in seeds]
    for _ in range(iters):
        sums = (
            pq_lloyd_partials_arrow(base, cents, k, m)
            .groupBy("sub", "cid", "jj")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        got = {
            (int(r["sub"]), int(r["cid"]), int(r["jj"])): r
            for r in sums
        }
        cents = [
            [
                int(got[(j // sub, c, j % sub)]["s"])
                // int(got[(j // sub, c, j % sub)]["n"])
                if (j // sub, c, j % sub) in got
                else cents[c][j]
                for j in range(dim)
            ]
            for c in range(k)
        ]
    return cents
