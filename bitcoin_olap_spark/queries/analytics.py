"""Driver-side analytics surface moved in-engine (SURVEY.md §2.10):
stratified sampling and the log-log OLS regression tail.

The reference does both in pandas/numpy/statsmodels AFTER `.df()`
(btc_logregression_pre.py:28-86); here they are engine operators —
sampling as ntile windows, the regression as one exact-decimal moment
aggregation (map-side partials, tiny reduce) with closed-form math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import table
from ..functions import ORACLE_DAY, day, exact_sum, oracle_exact_sum
from ..ml import loglog_ols_exact, loglog_ols_ml
from ..ml.regression import ORACLE_OLS
from ..operators.cacheutil import scoped_cache
from ..registry import query


def _fdiv_sql(a: str, b: str) -> str:
    """Exact FLOOR division for signed BIGINTs, spelled only with
    operators whose semantics agree between Spark SQL and DuckDB
    (% keeps the dividend's sign in both; the subtraction makes the
    numerator exactly divisible, so truncating division == floor)."""
    return f"((({a}) - (((({a}) % ({b})) + ({b})) % ({b}))) {{DIV}} ({b}))"



#: percentile bins / per-bin cap, mirroring smart_sampling's 20 bins +
#: cap (btc_logregression_pre.py:53-70)
N_BINS = 20
BIN_CAP = 50


@query(
    "sample_stratified",
    oracle=f"""
    WITH ranked AS (
        SELECT value,
               ROW_NUMBER() OVER (ORDER BY value) AS rn,
               COUNT(*) OVER () AS n
        FROM events
    ),
    bounds AS (
        SELECT k, MIN(value) AS b
        FROM ranked CROSS JOIN range(1, {N_BINS}) t(k)
        WHERE rn = (k * n + {N_BINS - 1}) // {N_BINS}
        GROUP BY k
    ),
    binned AS (
        SELECT e.event_id, e.value,
               1 + COUNT(b.b) AS bin
        FROM events e LEFT JOIN bounds b ON b.b < e.value
        GROUP BY e.event_id, e.value
    )
    SELECT event_id, value, bin FROM (
        SELECT event_id, value, bin,
               row_number() OVER (PARTITION BY bin ORDER BY event_id) AS rn
        FROM binned
    ) WHERE rn <= {BIN_CAP}
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling: `smart_sampling`'s 20-percentile-bin
    cap-per-bin scheme (btc_logregression_pre.py:53-70 — np.percentile
    boundaries + digitize + per-bin cap), fully distributed.

    Bin k's lower boundary is the EXACT value at global rank
    ceil(k*n/20) (PERCENTILE_DISC semantics), computed with no global
    sort and no un-partitioned window:

    1. groupBy(value).count() — one shuffle down to distinct values;
    2. repartitionByRange(value) + per-partition subtotal collect
       (≤ num_partitions rows, driver-sized control data) → exclusive
       prefix offsets, broadcast back;
    3. within-partition running count via a window PARTITIONED by
       spark_partition_id() — every window here is partitioned;
    4. boundary_k = MIN(value WHERE global_cum >= rank_k), one tiny
       reduce; the 19 boundaries (driver-sized) become literal
       comparisons, so bin assignment is map-side JVM code.

    The per-bin cap is row_number over partitionBy(bin) — also
    properly partitioned. Ties share a bin (np.digitize semantics;
    ntile would split them by rank), reproducible, no RNG. At 100 TB
    swap step 1-4 for approx_percentile boundaries — same digitize
    pipeline, sketch-accurate cuts."""
    e = table(spark, sf_dir, "events")

    nparts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1)
    vc = (
        e.groupBy("value")
        .agg(F.count(F.lit(1)).alias("c"))
        .repartitionByRange(nparts, "value")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    try:
        part_totals = sorted(
            (r["pid"], r["t"])
            for r in vc.groupBy("pid").agg(F.sum("c").alias("t")).collect()
        )
        n = sum(t for _, t in part_totals)
        offsets, acc = {}, 0
        for pid, t in part_totals:
            offsets[pid] = acc
            acc += t
        off_expr = F.coalesce(
            F.element_at(
                F.create_map(
                    *[
                        x
                        for pid, o in offsets.items()
                        for x in (F.lit(pid), F.lit(o))
                    ]
                ),
                F.col("pid"),
            ),
            F.lit(0),
        )
        cum = (
            F.sum("c").over(
                Window.partitionBy("pid")
                .orderBy("value")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            + off_expr
        )
        ranks = [(k * n + N_BINS - 1) // N_BINS for k in range(1, N_BINS)]
        brow = (
            vc.withColumn("cum", cum)
            .agg(
                *[
                    F.min(
                        F.when(F.col("cum") >= F.lit(r), F.col("value"))
                    ).alias(f"b{k}")
                    for k, r in enumerate(ranks, start=1)
                ]
            )
            .collect()[0]
        )
    finally:
        vc.unpersist()
    bounds = [brow[f"b{k}"] for k in range(1, N_BINS)]

    bin_col = F.lit(1)
    for b in bounds:
        if b is not None:
            bin_col = bin_col + F.when(F.col("value") > F.lit(b), 1).otherwise(0)
    binned = e.select(
        "event_id", "value", bin_col.cast("long").alias("bin")
    )
    capped = binned.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("bin").orderBy("event_id")),
    )
    return capped.filter(F.col("rn") <= BIN_CAP).drop("rn")


_DAILY_XY = f"""(
    SELECT x.day, x.x, y.y FROM (
        SELECT {ORACLE_DAY.format(col='CAST(ts AS TIMESTAMP)')} AS day,
               {oracle_exact_sum('value', 'x')}
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ) x JOIN (
        SELECT {ORACLE_DAY.format(col='CAST(ts AS TIMESTAMP)')} AS day,
               {oracle_exact_sum('value', 'y')}
        FROM events WHERE event_type = 'view' GROUP BY 1
    ) y ON x.day = y.day
    WHERE x.x > 1 AND y.y > 1
)"""


def _daily_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase-flow (x) vs view-flow (y), joined on date with
    the reference's >1 thresholds — the pd.merge + threshold filters of
    btc_logregression_pre.py:28-49, in-engine."""
    e = table(spark, sf_dir, "events")
    dx = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(day("ts").alias("day"))
        .agg(exact_sum("value", "x"))
    )
    dy = (
        e.filter(F.col("event_type") == "view")
        .groupBy(day("ts").alias("day"))
        .agg(exact_sum("value", "y"))
    )
    return dx.join(dy, "day").filter((F.col("x") > 1) & (F.col("y") > 1))


@query(
    "ml_ols_loglog",
    oracle=ORACLE_OLS.format(rel=_DAILY_XY, x="x", y="y"),
)
def ml_ols_loglog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log OLS of daily flows (the reference's regression,
    btc_logregression_pre.py:80-86) from exact-decimal moment sums +
    closed form: (n, slope, intercept, r2) in one aggregation."""
    return loglog_ols_exact(_daily_xy(spark, sf_dir), "x", "y")


@query(
    "ml_linreg_fit",
    oracle=ORACLE_OLS.format(rel=_DAILY_XY, x="x", y="y"),
)
def ml_linreg_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same regression through pyspark.ml LinearRegression with
    solver='normal' — the closed-form normal-equation solve, no
    iteration — so its 6-dp rounded output is checked by the SAME
    closed-form OLS oracle as ml_ols_loglog (the two paths agree to
    ~1e-12 before rounding; tests additionally pin the agreement)."""
    return loglog_ols_ml(_daily_xy(spark, sf_dir), "x", "y")


@query(
    "sample_hash_split",
    oracle="""
    SELECT doc_id, h2,
           CASE WHEN h2 < '0d' THEN 'val'
                WHEN h2 < '1a' THEN 'test'
                ELSE 'train' END AS split
    FROM (
        SELECT doc_id,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h2
        FROM documents
    )
    """,
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by hashed id (~5/5/90 via
    md5-hex-prefix thresholds) — the reproducible, engine-portable way
    to partition a training corpus: no RNG state, stable under
    reshuffling/re-partitioning, and any engine that can md5 a string
    assigns identical splits. Map-only; the hash also load-balances
    a later partitionBy(split) write."""
    docs = table(spark, sf_dir, "documents")
    h2 = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
    )
    return docs.select(
        "doc_id",
        h2.alias("h2"),
        F.when(h2 < "0d", "val")
        .when(h2 < "1a", "test")
        .otherwise("train")
        .alias("split"),
    )


@query(
    "ml_kmeans",
    oracle="""
    SELECT vec_id,
           TRUE AS cluster_in_range,
           TRUE AS dist_ok,
           TRUE AS sse_le_k1
    FROM embeddings
    """,
)
def ml_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans(k=10) over the embedding corpus (ml/clustering.py):
    distributed Lloyd iterations, fixed seed, per-vector assignment.

    The assignment VALUES are estimator-defined (pyspark.ml's
    k-means|| seeding is not reproducible in any external engine), so
    — per the same envelope-oracle posture as the HLL/CMS sketch rows
    (aggregates.py) — the registered output is the checkable
    projection: per-vector totality (every vec_id exactly once, hashed
    by the driver), cluster in [0, k), a finite non-negative distance,
    and the Lloyd-optimality envelope SSE <= SSE(k=1). The last bound
    is mathematically guaranteed once an update step has run: final
    centroids are cluster means, and per-cluster SSE around the mean
    is <= per-cluster SSE around the GLOBAL mean, summing to the k=1
    objective. A violated envelope (broken seeding, NaN features,
    truncated fit) turns a row FALSE and hash-mismatches. Value-level
    parity for the full recurrence lives in ml_kmeans_lloyd, the
    exact-fixed-point twin whose DuckDB oracle replays the identical
    iterations. Raw (vec_id, cluster, dist) remains available via
    ml.kmeans_assign (tests pin determinism + totality on it)."""
    from ..catalog import table as _table
    from ..ml import kmeans_assign

    emb = _table(spark, sf_dir, "embeddings")
    assigned = kmeans_assign(emb, "vec_id", "embedding", k=10)

    # k=1 objective: squared distance to the global mean, summed.
    # One extra aggregate over the (already small relative to the fit)
    # embedding relation; both aggregates are map-side partials.
    xs = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dims = emb.select(
        F.posexplode(xs).alias("j", "x")
    )
    mu = dims.groupBy("j").agg(F.avg("x").alias("mu"))
    k1_sse = (
        dims.join(F.broadcast(mu), "j")
        .select(((F.col("x") - F.col("mu")) ** 2).alias("d2"))
        .agg(F.sum("d2").alias("k1_sse"))
    )
    kmeans_sse = assigned.agg(
        F.sum(F.col("dist") * F.col("dist")).alias("km_sse")
    )
    envelope = kmeans_sse.crossJoin(k1_sse).select(
        (F.col("km_sse") <= F.col("k1_sse")).alias("sse_le_k1")
    )
    return assigned.crossJoin(F.broadcast(envelope)).select(
        "vec_id",
        ((F.col("cluster") >= 0) & (F.col("cluster") < 10)).alias(
            "cluster_in_range"
        ),
        (
            (F.col("dist") >= 0) & ~F.isnan("dist")
        ).alias("dist_ok"),
        "sse_le_k1",
    )


# ---- fixed-point Lloyd k-means (oracle-exact twin of ml_kmeans) ---
_KM_K = 8
_KM_ITERS = 3
_KM_S = 1 << 20  # feature scale; |x| < 1 so |xq| < 2^20,
#                  per-vector dist < 64*(2^21)^2 = 2^48, key < 2^51


def _oracle_kmeans_sql() -> str:
    """DuckDB twin of ml_kmeans_lloyd: the identical fixed-point Lloyd
    recurrence unrolled as chained CTEs. Deterministic argmin via the
    integer key d*K + cid (d < 2^48, K = 8 -> key < 2^51, exact in
    int64 and in the float64 both engines would widen to), centroid
    means via the sign-safe floor division, empty clusters carrying
    their previous centroid through a left join."""
    fdiv = _fdiv_sql

    def d(expr: str) -> str:
        return expr.replace("{DIV}", "//")

    K, S = _KM_K, _KM_S
    sql = [
        f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(
                   embedding,
                   e -> CAST(floor(CAST(e AS DOUBLE) * {S}) AS BIGINT))
                 AS xq
        FROM embeddings
    ),
    xl AS (
        SELECT vec_id, j.j AS j, xq[CAST(j.j AS INTEGER) + 1] AS xv
        FROM q CROSS JOIN (SELECT unnest(range(64)) AS j) j
    ),
    seeds AS (
        SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
        FROM q
    ),
    c0 AS (
        SELECT s.cid, x.j, x.xv AS cv
        FROM seeds s JOIN xl x USING (vec_id)
        WHERE s.cid < {K}
    )"""
    ]
    for i in range(_KM_ITERS):
        prev, cur = f"c{i}", f"c{i + 1}"
        sql.append(
            f""",
    d{i} AS (
        SELECT x.vec_id, c.cid,
               CAST(SUM((x.xv - c.cv) * (x.xv - c.cv)) AS BIGINT) AS d
        FROM xl x JOIN {prev} c ON x.j = c.j
        GROUP BY 1, 2
    ),
    a{i} AS (
        SELECT vec_id,
               CAST(MIN(d * {K} + cid) % {K} AS BIGINT) AS cid
        FROM d{i} GROUP BY 1
    ),
    m{i} AS (
        SELECT a.cid, x.j,
               CAST({d(fdiv('SUM(x.xv)', 'COUNT(*)'))} AS BIGINT) AS cv
        FROM a{i} a JOIN xl x USING (vec_id)
        GROUP BY a.cid, x.j
    ),
    {cur} AS (
        SELECT p.cid, p.j, COALESCE(m.cv, p.cv) AS cv
        FROM {prev} p LEFT JOIN m{i} m
          ON m.cid = p.cid AND m.j = p.j
    )"""
        )
    sql.append(
        f"""
    SELECT x.vec_id,
           CAST(MIN(d * {K} + cid) % {K} AS BIGINT) AS cluster,
           CAST(MIN(d * {K} + cid) // {K} AS BIGINT) AS dist_sq
    FROM (
        SELECT x.vec_id,
               c.cid,
               CAST(SUM((x.xv - c.cv) * (x.xv - c.cv)) AS BIGINT) AS d
        FROM xl x JOIN c{_KM_ITERS} c ON x.j = c.j
        GROUP BY 1, 2
    ) x
    GROUP BY 1"""
    )
    return "".join(sql)


@query("ml_kmeans_lloyd", oracle=_oracle_kmeans_sql())
def ml_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means (k=8, 3 iterations) over embeddings in EXACT
    fixed-point arithmetic — the oracle-checkable twin of ml_kmeans'
    pyspark.ml estimator (whose k-means|| seeded init no external
    engine can reproduce). Init = the k lowest-id vectors; assignment
    is a MAP-ONLY argmin over the broadcast-literal centroids (the
    per-cluster (distance, cid) struct array's array_min gives the
    deterministic tie-break); the update is one hash aggregate per
    iteration — 64 SUMs + a count per cluster, map-side partials, k*65
    longs of driver control plane (the same tree-aggregated posture as
    ml_logreg's gradient; pyspark.ml's Lloyd does exactly this
    internally). Centroid means use the sign-safe floor division;
    empty clusters keep their previous centroid. Magnitudes: |xq| <
    2^20 -> per-vector distance < 2^48, argmin key d*8+cid < 2^51 —
    int64-exact, so the unrolled DuckDB recurrence hash-matches every
    (vec_id, cluster, dist_sq) row. dist_sq rides at scale 2^40.

    Measured and REJECTED (r6, the logreg-unroll posture): a fully
    lazy ONE-JOB relational Lloyd — each round's centroids as a 1-row
    broadcast array relation (seeds -> crossJoin assignment ->
    posexplode partial-agg sums -> floor-div merge, repeated in-plan,
    zero driver collects) — is bit-identical but 2.92 s vs 1.10 s at
    sf0.1 (min of 3, noop-forced): the per-round in-plan
    posexplode(corpus x dim) exchange plus re-optimizing the deepening
    plan costs far more than the 4 driver syncs it removes, and the
    Arrow partials kernel (vectorized, <= k*dim rows out per chunk)
    already made the per-round job cheap. The sequential-job floor is
    the honest cost of an iterative fit; at sf1 this query is 0.58x
    vs DuckDB (BASELINE.md sf1 table) — the floor amortizes, the
    relational unroll's exchanges would not."""
    from ..ml.clustering import lloyd_fixed, quantize_fixed
    from ..operators.vectors import assign_fixed_arrow

    K = _KM_K
    base = quantize_fixed(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding", _KM_S
    ).drop("embedding").persist()
    try:
        cents = lloyd_fixed(base, "vec_id", K, _KM_ITERS, dim=64)
    finally:
        base.unpersist()
    # final assignment through the same vectorized int64 kernel as the
    # iterations (bit-identical keys; cluster = key % k, dist_sq =
    # key // k)
    return assign_fixed_arrow(
        base, "vec_id", cents, K, with_dist=True
    ).select("vec_id", F.col("cid").alias("cluster"), "dist_sq")


@query(
    "sample_pergroup_topk_hash",
    oracle="""
    SELECT event_type, event_id, rk FROM (
        SELECT event_type, event_id,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
                   AS rk
        FROM events
    ) WHERE rk <= 100
    """,
)
def sample_pergroup_topk_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group uniform sample: keep the 100 rows with
    the smallest md5(id) per event_type — reservoir-sampling semantics
    with NO RNG state (the hash ordering is uniform and identical on
    every engine and every re-run, unlike rand(seed), whose stream
    depends on partitioning). The row_number window is PARTITIONED BY
    the group and lowers to WindowGroupLimit (Spark 3.5+): each map
    task pre-trims to its local top-100 before the shuffle, so shuffle
    volume is O(k * partitions) however large the fact is."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string").cast("binary")), "event_id"
    )
    return (
        e.select(
            "event_type",
            "event_id",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= 100)
    )


@query(
    "sample_temperature",
    oracle="""
    WITH stats AS (
        SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY 1
    ), wt AS (
        SELECT source, chars,
               CAST(floor(sqrt(CAST(chars AS DOUBLE)) * 1e6) AS BIGINT) AS w
        FROM stats
    ), tgt AS (
        SELECT source,
               CAST((200 * w) // (SELECT CAST(SUM(w) AS BIGINT) FROM wt)
                    AS BIGINT) AS target_n
        FROM wt
    ), ranked AS (
        SELECT d.doc_id, d.source,
               row_number() OVER (
                   PARTITION BY d.source
                   ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rk
        FROM documents d
    )
    SELECT r.doc_id, r.source
    FROM ranked r JOIN tgt t USING (source)
    WHERE r.rk <= t.target_n
    """,
)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (the standard LLM data-mix step:
    sample source s proportionally to weight_s = size_s^alpha, here
    alpha=0.5): per-source char mass -> sqrt weight -> integer target
    allocation out of a 200-doc budget -> deterministic per-source
    pick by md5 hash order. Everything that could drift is pinned
    exact: the weight is floor(sqrt*1e6) (identical IEEE double ->
    identical BIGINT on both engines), the allocation is pure BIGINT
    division (no float ratio near a floor boundary), and the pick order
    is (md5, doc_id) — no RNG. Plan: one tiny per-source aggregate
    (broadcast back), one row_number window partitioned by source —
    scales as a map + one source-keyed shuffle; the aggregate relation
    is #sources rows at any corpus size."""
    docs = table(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("chars")
    )
    # localCheckpoint: wt feeds both the scalar total and the target
    # allocation; a broadcast subtree re-executes the per-source
    # aggregate otherwise (#sources rows — free to pin at any scale)
    wt = stats.select(
        "source",
        F.floor(F.sqrt(F.col("chars").cast("double")) * 1e6)
        .cast("long")
        .alias("w"),
    ).localCheckpoint()
    total_w = wt.agg(F.sum("w").cast("long").alias("tw"))
    tgt = wt.crossJoin(F.broadcast(total_w)).select(
        "source",
        F.expr("(200 * w) div tw").cast("long").alias("target_n"),
    )
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string").cast("binary")), "doc_id"
        )
    )
    ranked = docs.select("doc_id", "source", rk.alias("rk"))
    return (
        ranked.join(F.broadcast(tgt), "source")
        .filter(F.col("rk") <= F.col("target_n"))
        .select("doc_id", "source")
    )


# --------------------------------------------------- graph analytics

_PAGERANK_EDGES_CTE = """edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey != b.l_partkey
    )"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed co-purchase edge list: part -> part when both appear in
    the same order. Built symmetric (both directions), so every node is
    a source — the precondition pagerank_int documents.

    Built group-wise, not by self-join: one orderkey shuffle collects
    each order's part set (orders have few parts, so sets are tiny),
    pairs explode map-side from the array, and one (src,dst) exchange
    dedupes. The equivalent orderkey self-join (the form the oracle
    states) shuffles the relation twice and materializes every
    duplicate pair into the join output before the distinct; group-wise
    the duplicates never leave the map side. Skew note: a pathological
    order with 1e5 parts would explode 1e10 pairs in one task — TPC-H
    orders cap at 7 lineitems, and a real deployment would cap or salt
    giant groups first."""
    li = table(spark, sf_dir, "lineitem", spread=True).select(
        "l_orderkey", "l_partkey"
    )
    parts = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    pairs = (
        parts.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ps",
                        lambda x: F.transform(
                            "ps",
                            lambda y: F.struct(
                                x.alias("src"), y.alias("dst")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .filter(F.col("src") != F.col("dst"))
    )
    return pairs.distinct()


from ..operators.graph import oracle_pagerank_sql, pagerank_int  # noqa: E402


@query(
    "graph_pagerank",
    oracle=oracle_pagerank_sql(_PAGERANK_EDGES_CTE, iters=6),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (parts linked when one
    order contains both) — 6 power-method iterations in exact integer
    fixed-point (operators/graph.pagerank_int; rank scaled by 1e12).
    The join strategy is node-count gated: small graphs broadcast the
    node-sized rank relation per round; big graphs shuffle-hash-join it
    against the src-partitioned cached edge list (the only shape that
    survives 1e8+ nodes). The oracle unrolls the identical integer
    recurrence as chained CTEs — integer arithmetic is the determinism
    move; float PageRank drifts ULPs per iteration and can never
    hash-match across engines. Complements dedup_doc_clusters'
    converge-tested label propagation as the fixed-iteration half of
    the iterative-graph family."""
    return pagerank_int(
        _copurchase_edges(spark, sf_dir), "src", "dst", iters=6
    )


from ..operators.graph import bfs_reach  # noqa: E402


@query(
    "graph_bfs_reach",
    oracle="""
    WITH RECURSIVE e AS (
        SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
    ),
    reach(kind, node, hop) AS (
        SELECT 'p', p_partkey, 0 FROM part WHERE p_size = 1
        UNION
        SELECT CASE WHEN r.kind = 'p' THEN 's' ELSE 'p' END,
               CASE WHEN r.kind = 'p' THEN e.sk ELSE e.pk END,
               r.hop + 1
        FROM reach r JOIN e
          ON (r.kind = 'p' AND e.pk = r.node)
          OR (r.kind = 's' AND e.sk = r.node)
        WHERE r.hop < 3
    )
    SELECT kind, node, MIN(hop) AS hops FROM reach GROUP BY 1, 2
    """,
)
def graph_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS reachability — the `WITH RECURSIVE` shape
    (supply-chain blast radius: every supplier/part within 3 hops of
    the p_size=1 parts over the part↔supplier bipartite graph from
    lineitem). Spark SQL has no recursive CTE; operators/graph.bfs_reach
    is the engine's answer — frontier BFS with a visited anti-join,
    whose min-hop output provably equals the oracle's recursive-UNION +
    MIN(hop) (first-reach level IS the minimum). The frontier form is
    also the 100 TB-correct one: per level the working set is bounded
    by NODES (the recursive CTE enumerates hop-tagged tuples and prunes
    only on exact-duplicate rows), and each level is one keyed shuffle
    join against the edge list plus a node-sized anti-join."""
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    fwd = li.select(
        F.lit("p").alias("src_kind"),
        F.col("l_partkey").alias("src_id"),
        F.lit("s").alias("dst_kind"),
        F.col("l_suppkey").alias("dst_id"),
    )
    rev = li.select(
        F.lit("s").alias("src_kind"),
        F.col("l_suppkey").alias("src_id"),
        F.lit("p").alias("dst_kind"),
        F.col("l_partkey").alias("dst_id"),
    )
    edges = fwd.union(rev).localCheckpoint()
    seeds = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_size") == 1)
        .select(F.lit("p").alias("kind"), F.col("p_partkey").alias("node"))
    )
    return bfs_reach(edges, seeds, max_hops=3)


def _strong_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strong part co-purchase edge list (u < v, co-ordered >= 2), the
    shared base of every graph_* query over that graph. Per-order
    pairs explode map-side from the sorted part-set array (posexplode
    picks u, slice explodes each later part as v, so sortedness makes
    u < v); ONE (u, v) exchange then counts multiplicity. The relation
    is lazy: each caller picks its own materialization."""
    li = table(spark, sf_dir, "lineitem", spread=True).select(
        "l_orderkey", "l_partkey"
    )
    parts = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    p1 = parts.select(F.sort_array("ps").alias("ps")).select(
        "ps", F.posexplode("ps").alias("i", "u")
    )
    return (
        p1.select(
            "u",
            F.explode(
                F.slice("ps", F.col("i") + 2, F.size("ps"))
            ).alias("v"),
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
    )


@query(
    "graph_triangles",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    und AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    deg AS (
        SELECT node, count(*) AS d FROM (
            SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        GROUP BY 1
    ),
    ori AS (
        SELECT CASE WHEN (da.d, u) < (db.d, v) THEN u ELSE v END AS src,
               CASE WHEN (da.d, u) < (db.d, v) THEN v ELSE u END AS dst
        FROM und JOIN deg da ON da.node = u JOIN deg db ON db.node = v
    ),
    wedge AS (
        SELECT e1.dst AS b, e2.dst AS c
        FROM ori e1 JOIN ori e2
          ON e1.src = e2.src AND e1.dst < e2.dst
    )
    SELECT count(*) AS triangles
    FROM wedge w JOIN und e ON e.u = w.b AND e.v = w.c
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count over the STRONG part co-purchase graph
    (parts co-ordered at least twice) via degree-ordered edge
    orientation — the canonical distributed triangle algorithm (Suri &
    Vassilvitskii's MR wedge counting / Cohen's MapReduce graph
    patterns). Orienting every edge from its (degree, id)-smaller
    endpoint makes each triangle countable at exactly one apex AND
    bounds every node's oriented out-degree by O(sqrt(m)), so wedge
    generation — the only superlinear step — is O(m^1.5) worst case
    instead of the unbounded hub-degree^2 a naive neighbor join pays.
    Wedges explode MAP-SIDE from per-apex sorted adjacency arrays (one
    src-keyed shuffle of m rows; in-array order makes pairs
    id-canonical b < c for free), never through an m x m self-join
    exchange. The closing probe then hits the u < v edge set directly
    on an equi-key — no OR-condition join, which no engine can hash;
    the edge side broadcasts or shuffle-joins at AQE's discretion from
    its measured cached size (no guessed threshold), the 100 TB-correct
    shape. AQE skew splitting covers residual hot apexes."""
    und = _strong_edges(spark, sf_dir).transform(scoped_cache)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    db = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    u_first = F.struct("du", "u") < F.struct("dv", "v")
    ori = und.join(da, "u").join(db, "v").select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    adj = ori.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("ns")
    )
    # two-level explode streams wedge pairs without materializing a
    # per-apex pair array: posexplode picks b, slice explodes each
    # later neighbor as c (b < c holds because ns is sorted)
    w1 = adj.select("ns", F.posexplode("ns").alias("i", "b"))
    wedges = w1.select(
        "b",
        F.explode(F.slice("ns", F.col("i") + 2, F.size("ns"))).alias("c"),
    )
    # closing join strategy is AQE's call from the cached edge set's
    # MEASURED size (no driver count job, no guessed threshold): small
    # graphs broadcast-hash, big ones shuffle on the composite key —
    # the 100 TB-correct shape
    return wedges.join(
        und, (wedges.b == und.u) & (wedges.c == und.v)
    ).agg(F.count(F.lit(1)).cast("long").alias("triangles"))


# ----------------------------------------------- anomaly detection

@query(
    "anomaly_zscore",
    oracle="""
    WITH v AS (
        SELECT event_id, event_type, value,
               CAST(round(value * 10000) AS BIGINT) AS v4
        FROM events
    ), stats AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v4) AS BIGINT) AS s,
               CAST(SUM(CAST(v4 AS HUGEINT) * v4) AS DOUBLE) AS s2
        FROM v GROUP BY 1
    )
    SELECT v.event_id, v.event_type, v.value,
           round((CAST(v.v4 AS DOUBLE) - CAST(st.s AS DOUBLE) / st.n)
                 / sqrt((st.s2 - CAST(st.s AS DOUBLE)
                                 * CAST(st.s AS DOUBLE) / st.n)
                        / (st.n - 1)), 6) AS z
    FROM v JOIN stats st USING (event_type)
    WHERE abs((CAST(v.v4 AS DOUBLE) - CAST(st.s AS DOUBLE) / st.n)
              / sqrt((st.s2 - CAST(st.s AS DOUBLE)
                              * CAST(st.s AS DOUBLE) / st.n)
                     / (st.n - 1))) > 3
    """,
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier flagging: events whose value sits more than 3
    sample standard deviations from their event-type mean. The moments
    are exact integers (values are 4dp-exact -> BIGINT fixed-point;
    the squared sum accumulates as DECIMAL(38,0) because v4^2 * rows
    overflows int64), so mean and variance derive from identical exact
    inputs on both engines and the final double arithmetic — written as
    the same expression tree — is bit-identical before the defensive
    6dp round. One aggregate (6 groups), broadcast back, map-side
    filter: two passes over events, no window. The two-pass shape is
    the scale-correct one — a windowed z-score would shuffle the whole
    fact table into event_type partitions (6 reducers at any size)."""
    v = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.round(F.col("value") * 10000).cast("long").alias("v4"),
    )
    stats = v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v4").cast("long").alias("s"),
        F.sum(F.col("v4").cast("decimal(38,0)") * F.col("v4"))
        .cast("double")
        .alias("s2"),
    )
    sd = F.col("s").cast("double")
    z = (F.col("v4").cast("double") - sd / F.col("n")) / F.sqrt(
        (F.col("s2") - sd * sd / F.col("n")) / (F.col("n") - 1)
    )
    return (
        v.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3)
        .select(
            "event_id", "event_type", "value", F.round(z, 6).alias("z")
        )
    )


# ------------------------------------------------- table profiling

_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


@query(
    "profile_table",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
    FROM orders"""
        for c in _PROFILE_COLS
    ),
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality column profile of `orders`: per column — row count,
    null count, exact distinct count — in long form, the first pass any
    ingest pipeline runs on a new table. ONE scan: all 6 columns'
    (count, count(col), count(distinct col)) aggregate together —
    Catalyst plans multi-distinct via a single Expand (rows x columns),
    so the cost is one shuffle regardless of column count — then a
    `stack` projection melts the single aggregate row to long form
    (zero extra shuffle, 6-row output). The oracle's UNION ALL of
    per-column scans states the same relation. At 100 TB: exact
    distinct is the expensive choice — the sketch tier
    (agg_approx_distinct) is the 1000x-cheaper profile; this operator
    is the exact-audit tier."""
    o = table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append(F.count(c).alias(f"cnt_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    row = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', n_rows - cnt_{c}, nd_{c}" for c in _PROFILE_COLS
    )
    return row.selectExpr(
        "n_rows",
        f"stack({len(_PROFILE_COLS)}, {stack_args}) "
        "AS (column_name, n_null, n_distinct)",
    ).select(
        "column_name",
        F.col("n_rows").cast("long"),
        F.col("n_null").cast("long"),
        F.col("n_distinct").cast("long"),
    )


@query(
    "skew_profile",
    oracle="""
    WITH kc AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1
    )
    SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(cnt) AS BIGINT) AS max_key_rows,
           CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS avg_key_rows,
           CAST(MAX(cnt) AS DOUBLE) * COUNT(*) / SUM(cnt) AS skew_ratio
    FROM kc
    """,
)
def skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic for lineitem.l_partkey — the
    pre-flight check before choosing a join strategy (plain shuffle vs
    AQE skew split vs operators/skew.salted_join): per-key row counts,
    then max/avg concentration. skew_ratio = max_key_rows / avg_key_rows
    (1.0 = perfectly uniform); a ratio >> task count means the hottest
    key alone overflows one reducer and salting is warranted. Two hash
    aggregates, the second over the per-key relation; all ratios are
    exact-integer divisions done identically on both engines. At 100 TB
    the per-key relation is the only shuffle and is key-cardinality
    sized."""
    kc = (
        table(spark, sf_dir, "lineitem", spread=True)
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = F.sum("cnt").cast("long")
    nk = F.count(F.lit(1))
    mx = F.max("cnt").cast("long")
    return kc.agg(
        total.alias("n_rows"),
        nk.cast("long").alias("n_keys"),
        mx.alias("max_key_rows"),
        (total.cast("double") / nk).alias("avg_key_rows"),
        (mx.cast("double") * nk / total).alias("skew_ratio"),
    )


# ---- fixed-point logistic regression (full-batch GD) -------------
#: feature / weight scale 2^20; probabilities ride at scale 2^40
_LR_S = 1 << 20
_LR_T = 1 << 40
_LR_H = 1 << 39
_LR_DIM = 65  # 64 embedding dims + bias at index 0
_LR_ITERS = 4


def _lr_eh_sql(dialect_div: str) -> str:
    """Per-row hard-sigmoid error at weight scale: from margin z
    (scale 2^40) -> p = clamp(2^39 + z/4, 0, 2^40) -> e = p - y*2^40
    -> eh = e/2^20. All floor divisions, all int64."""
    zq = _fdiv_sql("z", "4")
    p = f"least(greatest({_LR_H} + {zq}, 0), {_LR_T})"
    e = f"({p} - y * {_LR_T})"
    return _fdiv_sql(e, str(_LR_S)).format(DIV=dialect_div).replace(
        "{DIV}", dialect_div
    )


def _oracle_logreg_sql() -> str:
    """DuckDB twin of ml_logreg: the identical fixed-point full-batch
    gradient-descent recurrence unrolled as chained CTEs (like
    graph_pagerank's oracle — standard SQL forbids aggregation inside
    a recursive term, so the fixed iteration count unrolls). Exploded
    (vec_id, j, xv) features are built once and reused by every
    iteration's margin and gradient aggregates."""
    fdiv = _fdiv_sql

    def d(expr: str) -> str:
        return expr.replace("{DIV}", "//")

    sql = [
        f"""
    WITH q AS (
        SELECT vec_id,
               CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
               list_prepend(
                   CAST({_LR_S} AS BIGINT),
                   list_transform(
                       embedding,
                       e -> CAST(floor(CAST(e AS DOUBLE) * {_LR_S})
                                 AS BIGINT))) AS xq
        FROM embeddings
    ),
    xl AS (
        SELECT vec_id, y, j.j AS j, xq[CAST(j.j AS INTEGER) + 1] AS xv
        FROM q CROSS JOIN (SELECT unnest(range({_LR_DIM})) AS j) j
    ),
    nn AS (SELECT COUNT(*) AS n FROM q),
    w0 AS (
        SELECT j AS j, CAST(0 AS BIGINT) AS wq
        FROM range({_LR_DIM}) t(j)
    )"""
    ]
    for i in range(_LR_ITERS):
        prev, cur = f"w{i}", f"w{i + 1}"
        sql.append(
            f""",
    z{i} AS (
        SELECT x.vec_id, any_value(x.y) AS y,
               CAST(SUM(x.xv * w.wq) AS BIGINT) AS z
        FROM xl x JOIN {prev} w ON x.j = w.j
        GROUP BY x.vec_id
    ),
    e{i} AS (
        SELECT vec_id, CAST({d(_lr_eh_sql("//"))} AS BIGINT) AS eh
        FROM z{i}
    ),
    g{i} AS (
        SELECT x.j, CAST(SUM(e.eh * x.xv) AS BIGINT) AS g
        FROM xl x JOIN e{i} e USING (vec_id)
        GROUP BY x.j
    ),
    {cur} AS (
        SELECT w.j,
               CAST(w.wq - {d(fdiv("g.g", f"nn.n * {_LR_S}"))} AS BIGINT)
                 AS wq
        FROM g{i} g JOIN {prev} w USING (j), nn
    )"""
        )
    sql.append(
        f""",
    zf AS (
        SELECT x.vec_id, any_value(x.y) AS y,
               CAST(SUM(x.xv * w.wq) AS BIGINT) AS z
        FROM xl x JOIN w{_LR_ITERS} w ON x.j = w.j
        GROUP BY x.vec_id
    )
    SELECT CAST(y AS BIGINT) AS label,
           CAST(CASE WHEN z > 0 THEN 1 ELSE 0 END AS BIGINT)
             AS prediction,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM zf GROUP BY 1, 2"""
    )
    return "".join(sql)


@query("ml_logreg", oracle=_oracle_logreg_sql())
def ml_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary logistic regression over embeddings by full-batch
    gradient descent in EXACT fixed-point arithmetic: label = whether
    the stored class label is < 5, features = bias + the 64-dim
    embedding quantized to BIGINT at scale 2^20. Each of the 4
    iterations is ONE distributed pass: the margin folds JVM-side over
    the feature array (zip_with + aggregate — no explode, no Python),
    the hard-sigmoid error clamp(1/2 + z/4) substitutes the logistic
    (keeping every step rational, hence engine-exact), and the
    65-component gradient comes back as 65 SUM aggregates in a single
    map-side-partial hash aggregate — the tree-aggregated-gradient
    posture of any distributed GD, with only 65 longs crossing to the
    driver per iteration. Magnitude audit: |z| < 2^55 (int64-safe) and
    every floor-division numerator < 2^53, so the identical recurrence
    unrolled as DuckDB CTEs (_oracle_logreg_sql) hash-matches the
    confusion counts exactly. The synthetic labels are only weakly
    separable — the operator demonstrates the distributed fit/score
    path, not the dataset. (A production pipeline wanting LBFGS swaps
    in pyspark.ml.classification.LogisticRegression over the same
    relation; GD-with-fixed-iterations is what makes the op
    oracle-checkable.)

    Rewrite measured and REJECTED at sf0.1 (r5): unrolling all 4
    iterations into ONE lazy plan — weights as single-row broadcast
    relations, gradient packed back via array_sort(collect_list),
    zip_with update — ran 2.19 s vs 0.75 s. Each iteration's
    broadcast exchange materializes its OWN subtree and Spark's
    exchange reuse does not deduplicate across the nested broadcast
    chains, so iteration i recomputes iterations 1..i-1: the unroll
    turns 4 sequential gradient passes into 10. The driver loop's
    4+1 bounded-reduce jobs (~0.15 s scheduling floor each) are the
    cheaper barrier, flat in data volume — measured 1.35x DuckDB at
    the sf1 scaling point (BASELINE.md) against 3-4x at sf0.1's
    fixed-cost-dominated scale."""
    S = _LR_S
    base = (
        table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.when(F.col("label") < 5, 1).otherwise(0).cast("long").alias("y"),
            F.concat(
                F.array(F.lit(S).cast("long")),
                F.transform(
                    "embedding",
                    lambda e: F.floor(e.cast("double") * S).cast("long"),
                ),
            ).alias("xq"),
        )
        .persist()
    )
    eh_expr = _lr_eh_sql("div")

    def margin_sql(wvec: list[int]) -> str:
        # ONE SQL-text array literal: building the 65 elements as
        # individual F.lit Columns costs ~0.3 s of py4j round trips
        # per plan, and even the DataFrame-API formulation pays ~0.1 s
        # of py4j + analysis per iteration; the full-SQL iteration is
        # one spark.sql call (~0.04 s, measured)
        wlit = "array(" + ",".join(f"{int(v)}L" for v in wvec) + ")"
        return (
            f"aggregate(zip_with(xq, {wlit}, (x, wv) -> x * wv),"
            " 0L, (acc, v) -> acc + v)"
        )

    vname = "__ml_logreg_base"
    base.createOrReplaceTempView(vname)
    w = [0] * _LR_DIM
    # the per-iteration reduce is 65 groups however large the corpus;
    # AQE coalesces it to one partition while the map side stays as
    # wide as the data
    try:
        for _ in range(_LR_ITERS):
            # ONE job per iteration: posexplode the feature array and
            # reduce to (j, sum(xv*eh), count) — a narrow n*dim
            # exchange with map-side partials and a 65-row result.
            # count(*) per j IS the corpus size, so no separate count
            # job runs. (The 65-separate-SUM-columns formulation
            # computes the same thing with zero shuffle but pays
            # ~0.5 s of Catalyst/codegen per iteration on a 65-wide
            # aggregate — measured slower below ~10M rows; at larger
            # scale flip back to the wide-agg form.)
            grad = spark.sql(
                f"""
                SELECT j, SUM(xv * eh) AS g, COUNT(*) AS n FROM (
                  SELECT eh, posexplode(xq) AS (j, xv) FROM (
                    SELECT xq, CAST({eh_expr} AS BIGINT) AS eh FROM (
                      SELECT xq, y, {margin_sql(w)} AS z
                      FROM {vname})))
                GROUP BY j"""
            ).collect()
            n = int(grad[0]["n"])
            gd = {int(r["j"]): int(r["g"]) for r in grad}
            # Python // floors like the SQL fdiv; 65 longs of control
            # plane per iteration, the same bounded-collect pattern as
            # pagerank's convergence scalar
            w = [w[j] - (gd[j] // (n * S)) for j in range(_LR_DIM)]
    finally:
        base.unpersist()
    return spark.sql(
        f"""
        SELECT label, prediction, COUNT(*) AS n FROM (
          SELECT CAST(y AS BIGINT) AS label,
                 CAST(CASE WHEN {margin_sql(w)} > 0 THEN 1 ELSE 0 END
                      AS BIGINT) AS prediction
          FROM {vname})
        GROUP BY label, prediction"""
    )


@query(
    "quality_expectations",
    oracle="""
    SELECT 'orders_pk_unique' AS expectation,
           CAST((SELECT COALESCE(SUM(cnt - 1), 0) FROM (
               SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderkey
               HAVING COUNT(*) > 1)) AS BIGINT) AS violations,
           (SELECT COUNT(*) FROM orders) AS n_checked
    UNION ALL
    SELECT 'orders_fk_customer',
           CAST((SELECT COUNT(*) FROM orders o
                 LEFT JOIN customer c ON o.o_custkey = c.c_custkey
                 WHERE c.c_custkey IS NULL) AS BIGINT),
           (SELECT COUNT(*) FROM orders)
    UNION ALL
    SELECT 'lineitem_fk_orders',
           CAST((SELECT COUNT(*) FROM lineitem l
                 LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
                 WHERE o.o_orderkey IS NULL) AS BIGINT),
           (SELECT COUNT(*) FROM lineitem)
    UNION ALL
    SELECT 'lineitem_qty_range',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_quantity IS NULL
                    OR l_quantity < 1 OR l_quantity > 50) AS BIGINT),
           (SELECT COUNT(*) FROM lineitem)
    UNION ALL
    SELECT 'events_ts_not_null',
           CAST((SELECT COUNT(*) - COUNT(ts) FROM events) AS BIGINT),
           (SELECT COUNT(*) FROM events)
    """,
)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch constraint validation (the dbt-test / Great-Expectations
    contract pass every ingest gate runs): primary-key uniqueness,
    two referential-integrity checks, a value-range rule, and a
    not-null rule, each reported as (expectation, violations,
    n_checked). Each check is the cheapest distributed form of its
    class — PK uniqueness is one groupBy-count on the key (map-side
    partials), the FK checks are left-anti-shaped probes where AQE
    broadcasts the dimension side from its measured size, and the
    scalar rules fuse into single scans. Violation COUNTS (not
    violating rows) keep the result driver-sized at any scale; a
    production gate materializes the counts, then pulls sample rows
    only for failing checks."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    li = table(spark, sf_dir, "lineitem")
    e = table(spark, sf_dir, "events")

    def one(name, violations, total):
        return violations.crossJoin(total).select(
            F.lit(name).alias("expectation"),
            F.col("violations").cast("long"),
            F.col("n_checked").cast("long"),
        )

    pk = one(
        "orders_pk_unique",
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(
            F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0)).alias("violations")
        ),
        o.agg(F.count(F.lit(1)).alias("n_checked")),
    )
    fk_oc = one(
        "orders_fk_customer",
        o.join(c, o.o_custkey == c.c_custkey, "left_anti").agg(
            F.count(F.lit(1)).alias("violations")
        ),
        o.agg(F.count(F.lit(1)).alias("n_checked")),
    )
    fk_lo = one(
        "lineitem_fk_orders",
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").agg(
            F.count(F.lit(1)).alias("violations")
        ),
        li.agg(F.count(F.lit(1)).alias("n_checked")),
    )
    rng = one(
        "lineitem_qty_range",
        li.agg(
            F.count(
                F.when(
                    F.col("l_quantity").isNull()
                    | (F.col("l_quantity") < 1)
                    | (F.col("l_quantity") > 50),
                    1,
                )
            ).alias("violations")
        ),
        li.agg(F.count(F.lit(1)).alias("n_checked")),
    )
    nn = one(
        "events_ts_not_null",
        e.agg((F.count(F.lit(1)) - F.count("ts")).alias("violations")),
        e.agg(F.count(F.lit(1)).alias("n_checked")),
    )
    return pk.unionByName(fk_oc).unionByName(fk_lo).unionByName(rng).unionByName(nn)


@query(
    "sample_balance_classes",
    oracle="""
    WITH mn AS (
        SELECT MIN(cnt) AS m FROM (
            SELECT COUNT(*) AS cnt FROM events GROUP BY event_type)
    )
    SELECT event_id, event_type FROM (
        SELECT event_id, event_type,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY event_id) AS rn
        FROM events
    ), mn WHERE rn <= mn.m
    """,
)
def sample_balance_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every event_type keeps exactly
    min-class-count rows (the lowest event_ids — deterministic, no
    RNG), the rebalancing pass a classifier-training pipeline runs on
    skewed labels. One class-keyed shuffle for the per-class
    row_number, the min count broadcast back as a one-row literal
    (bounded driver data). Deterministic tier of the family:
    sample_temperature is the probabilistic rebalancer (temperature-
    scaled allocations), this is the hard-cap equalizer; at 100 TB a
    giant class's sort-within-class is the cost driver and the hashed
    variant (sample_pergroup_topk_hash) trades the sort for a
    hash-order cap."""
    e = table(spark, sf_dir, "events").select("event_id", "event_type")
    counts = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    mn = counts.agg(F.min("cnt").alias("m"))
    w = Window.partitionBy("event_type").orderBy("event_id")
    ranked = e.withColumn("rn", F.row_number().over(w))
    return (
        ranked.crossJoin(F.broadcast(mn))
        .filter(F.col("rn") <= F.col("m"))
        .select("event_id", "event_type")
    )


@query(
    "profile_drift_psi",
    oracle="""
    WITH binned AS (
        SELECT CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15
                    THEN 0 ELSE 1 END AS side,
               CAST(least(greatest(floor(value / 50), 0), 9)
                    AS BIGINT) AS bin
        FROM events
    ), c AS (
        SELECT bin,
               COUNT(CASE WHEN side = 0 THEN 1 END) AS base_n,
               COUNT(CASE WHEN side = 1 THEN 1 END) AS cur_n
        FROM binned GROUP BY 1
    ), t AS (
        SELECT SUM(base_n) AS bt, SUM(cur_n) AS ct FROM c
    )
    SELECT c.bin,
           CAST(c.base_n AS BIGINT) AS base_n,
           CAST(c.cur_n AS BIGINT) AS cur_n,
           round(
             (CAST(c.base_n + 1 AS DOUBLE) / (t.bt + 10)
              - CAST(c.cur_n + 1 AS DOUBLE) / (t.ct + 10))
             * ln((CAST(c.base_n + 1 AS DOUBLE) / (t.bt + 10))
                  / (CAST(c.cur_n + 1 AS DOUBLE) / (t.ct + 10))),
             6) AS psi_contrib
    FROM c, t
    """,
)
def profile_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection between two time slices of the
    corpus — the population stability index every production feature
    store monitors (PSI > 0.2 = retrain signal). The value column
    bins into 10 fixed-width buckets; baseline = first half of the
    month, current = second; per-bin contribution =
    (p_i - q_i) * ln(p_i / q_i) with Laplace-smoothed proportions
    ((n+1)/(N+10)) so empty bins never divide by zero and both
    engines see the same exact rationals. One hash aggregate (bin
    counts both sides via conditional counts — a single scan), one
    broadcast one-row total; ln rounds to 6 dp per the repo's libm
    convention. Per-bin rows keep the output driver-sized at any
    corpus scale; SUM(psi_contrib) is the headline statistic."""
    e = table(spark, sf_dir, "events")
    binned = e.select(
        F.when(F.dayofmonth("ts") <= 15, 0).otherwise(1).alias("side"),
        F.least(
            F.greatest(F.floor(F.col("value") / 50), F.lit(0)),
            F.lit(9),
        )
        .cast("long")
        .alias("bin"),
    )
    c = binned.groupBy("bin").agg(
        F.count(F.when(F.col("side") == 0, 1)).alias("base_n"),
        F.count(F.when(F.col("side") == 1, 1)).alias("cur_n"),
    )
    t = c.agg(
        F.sum("base_n").alias("bt"), F.sum("cur_n").alias("ct")
    )
    p = (F.col("base_n") + 1).cast("double") / (F.col("bt") + 10)
    q_ = (F.col("cur_n") + 1).cast("double") / (F.col("ct") + 10)
    return c.crossJoin(F.broadcast(t)).select(
        "bin",
        F.col("base_n").cast("long"),
        F.col("cur_n").cast("long"),
        F.round((p - q_) * F.log(p / q_), 6).alias("psi_contrib"),
    )


@query(
    "sample_reservoir",
    oracle="""
    SELECT doc_id, h FROM (
        SELECT doc_id,
               md5(CAST(doc_id AS VARCHAR)) AS h,
               row_number() OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents
    ) WHERE rn <= 200
    """,
)
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample without replacement (k=200), the
    distributed-deterministic equivalent of reservoir sampling: rank
    every row by a cryptographic hash of its id and keep the k
    smallest. Same marginal as Vitter's algorithm R when the hash is
    uniform, but stateless, reproducible across engines/retries, and
    scale-correct: orderBy(h).limit(k) lowers to TakeOrdered — each
    task keeps a local k-heap and only k*partitions candidate rows
    reach the driver-side merge, no global sort, no single-partition
    window (the oracle's row_number formulation is exactly the shape
    to AVOID in Spark at 100 TB). The per-corpus sample is stable
    under repartitioning and incremental appends only re-rank new
    ids — the property that makes hash-rank sampling the standard
    corpus-inspection tool in training-data pipelines. The true
    streaming reservoir (mutating state per arrival) is what
    applyInPandasWithState would host; batch has no reason to pay
    its sequential dependency."""
    docs = table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    return (
        docs.select("doc_id", h.alias("h"))
        .orderBy("h", "doc_id")
        .limit(200)
    )


#: power-iteration scales: v on a 2^10 grid, features on 2^20
#: (KM_SCALE), u = X@v <= 64 * 2^30 = 2^36 then floor-div 2^16 ->
#: 2^20, w = X^T@u <= n * 2^40 (safe to n ~ 2^22), v' = w * 2^10
#: / max|w| <= 2^10 — every intermediate fits int64 exactly.
_PCA_VS = 1 << 10
_PCA_US = 1 << 16
_PCA_ITERS = 3


def _oracle_pca_sql() -> str:
    """DuckDB twin of ml_pca_power: the fixed-point power iteration
    unrolled as chained CTEs — matrix-vector products as SUM
    aggregates, the u rescale and the max-norm normalization as the
    same floor divisions the Spark loop computes driver-side."""
    S = 1 << 20
    fd_u = _fdiv_sql("SUM(x.xv * v.v)", str(_PCA_US)).replace("{DIV}", "//")
    parts = [
        f"""
    WITH xl AS (
        SELECT vec_id, j.j AS j,
               CAST(floor(CAST(embedding[CAST(j.j AS INTEGER) + 1]
                    AS DOUBLE) * {S}) AS BIGINT) AS xv
        FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS j) j
    ),
    v0 AS (
        SELECT j, CAST({_PCA_VS} AS BIGINT) AS v
        FROM range(64) t(j)
    )"""
    ]
    for i in range(_PCA_ITERS):
        parts.append(
            f""",
    u{i} AS (
        SELECT x.vec_id, {fd_u} AS u
        FROM xl x JOIN v{i} v ON v.j = x.j GROUP BY x.vec_id
    ),
    w{i} AS (
        SELECT x.j, CAST(SUM(x.xv * u.u) AS BIGINT) AS w
        FROM xl x JOIN u{i} u ON u.vec_id = x.vec_id GROUP BY x.j
    ),
    n{i} AS (SELECT MAX(ABS(w)) AS wmax FROM w{i}),
    v{i + 1} AS (
        SELECT w.j,
               {_fdiv_sql(f"w.w * {_PCA_VS}", "n.wmax").replace("{DIV}", "//")}
                 AS v
        FROM w{i} w CROSS JOIN n{i} n
    )"""
        )
    parts.append(
        f"""
    SELECT j, v AS v_q FROM v{_PCA_ITERS} ORDER BY j"""
    )
    return "".join(parts)


@query("ml_pca_power", oracle=_oracle_pca_sql())
def ml_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the (uncentered) embedding
    corpus by POWER ITERATION in exact fixed-point arithmetic —
    3 rounds of v <- (X^T X v) / max|..| with max-norm normalization
    (integer-exact, unlike an L2 norm whose sqrt no two engines
    floor identically). Each round is ONE distributed job: the
    per-row dot u = x.v folds JVM-side against the 64-long literal
    v (no explode on the map side), the 64-component w = X^T u comes
    back through one narrow posexplode aggregate with map-side
    partials, and the driver normalizes 64 longs — the same bounded
    control plane as ml_logreg's gradient loop (by the measured
    rejection note there, unrolling the rounds into one lazy plan
    recomputes earlier rounds through nested broadcasts). The FINAL
    normalization stays in-engine (w cross-join its max) so the
    output derives from the distributed plan. Returns the direction
    as 64 rows (j, v_q) on the 2^10 grid — sign and magnitude are
    deterministic, so the oracle's unrolled-CTE replay hash-matches
    exactly. At 100 TB: per-iteration traffic is 64 longs however
    large the corpus; X never materializes beyond its parquet scan.

    Convergence honesty: power iteration damps off-axis mass by
    (lam2/lam1) per round, and THIS corpus is near-isotropic
    (lam2/lam1 ~ 0.98), so 3 rounds raise the captured variance
    monotonically (the testable guarantee —
    tests/test_llmdata.test_pca_power_rayleigh_monotone) without
    isolating the top eigenvector; a production run sets iters ~
    O(1/(1 - lam2/lam1)) or swaps in pyspark.ml's PCA when spectra
    are flat — fixed-iteration power steps are what stay
    oracle-checkable."""
    from ..ml.clustering import quantize_fixed

    base = quantize_fixed(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    ).select("vec_id", "xq")
    v = [_PCA_VS] * 64
    fd_u = _fdiv_sql("u_raw", str(_PCA_US)).replace("{DIV}", "div")

    def u_expr(vvec: list[int]) -> str:
        vlit = "array(" + ",".join(f"{int(x)}L" for x in vvec) + ")"
        return (
            f"aggregate(zip_with(xq, {vlit}, (x, vv) -> x * vv),"
            " 0L, (acc, p) -> acc + p)"
        )

    vname = "__ml_pca_base"
    base.createOrReplaceTempView(vname)
    for _ in range(_PCA_ITERS - 1):
        w = spark.sql(
            f"""
            SELECT j, SUM(xv * u) AS w FROM (
              SELECT CAST({fd_u} AS BIGINT) AS u,
                     posexplode(xq) AS (j, xv) FROM (
                SELECT xq, {u_expr(v)} AS u_raw FROM {vname}))
            GROUP BY j"""
        ).collect()
        wd = {int(r["j"]): int(r["w"]) for r in w}
        wmax = max(abs(x) for x in wd.values())
        if wmax == 0:
            raise ValueError(
                "ml_pca_power: X^T X v is the zero vector — the "
                "corpus has no variance along any direction "
                "(all-zero embeddings?); power iteration is "
                "undefined on a zero matrix"
            )
        v = [(wd[j] * _PCA_VS) // wmax for j in range(64)]
    wfin = spark.sql(
        f"""
        SELECT j, SUM(xv * u) AS w FROM (
          SELECT CAST({fd_u} AS BIGINT) AS u,
                 posexplode(xq) AS (j, xv) FROM (
            SELECT xq, {u_expr(v)} AS u_raw FROM {vname}))
        GROUP BY j"""
    )
    nfin = wfin.agg(F.max(F.abs(F.col("w"))).alias("wmax"))
    vq = _fdiv_sql(f"w * {_PCA_VS}", "wmax").replace("{DIV}", "div")
    return (
        wfin.crossJoin(F.broadcast(nfin))
        .select("j", F.expr(f"CAST({vq} AS BIGINT)").alias("v_q"))
    )


# ------------------------------------------------- naive bayes classifier

_NB_LANGS = ["en", "de", "es", "fr", "zh"]

_NB_ORACLE = """
    WITH w AS (
        SELECT doc_id, lang,
               unnest(string_split(lower(text), ' ')) AS w
        FROM documents
    ), wc AS (
        SELECT doc_id, lang, w, CAST(COUNT(*) AS BIGINT) AS n
        FROM w WHERE w != '' GROUP BY 1, 2, 3
    ), dict AS (
        SELECT w,
               {cnt_cols}
        FROM wc GROUP BY 1
    ), consts AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS vocab,
               {tot_cols}
        FROM dict
    ), priors AS (
        SELECT {prior_cols},
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents
    ), docagg AS (
        SELECT wc.doc_id, ANY_VALUE(wc.lang) AS lang,
               CAST(SUM(wc.n) AS BIGINT) AS n_tokens,
               {sum_cols}
        FROM wc JOIN dict USING (w)
        GROUP BY wc.doc_id
    ), scored AS (
        SELECT d.doc_id, d.lang,
               {score_cols}
        FROM docagg d CROSS JOIN consts c CROSS JOIN priors p
    )
    SELECT doc_id, lang, {s_list},
           {pred_case} AS pred,
           ({pred_case} = lang) AS correct
    FROM scored
"""


def _oracle_nb_sql() -> str:
    L = _NB_LANGS
    cnt_cols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN lang = '{g}' THEN n ELSE 0 END) AS BIGINT)"
        f" AS c_{g}"
        for g in L
    )
    tot_cols = ",\n               ".join(
        f"CAST(SUM(c_{g}) AS BIGINT) AS tot_{g}" for g in L
    )
    prior_cols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN lang = '{g}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS d_{g}"
        for g in L
    )
    sum_cols = ",\n               ".join(
        f"SUM(wc.n * ln(CAST(dict.c_{g} + 1 AS DOUBLE))) AS l_{g}"
        for g in L
    )
    score_cols = ",\n               ".join(
        f"round(ln(CAST(p.d_{g} AS DOUBLE) / p.n_docs)"
        f" + d.l_{g}"
        f" - d.n_tokens * ln(CAST(c.tot_{g} + c.vocab AS DOUBLE)), 6)"
        f" AS s_{g}"
        for g in L
    )
    s_list = ", ".join(f"s_{g}" for g in L)
    conds = []
    for i, g in enumerate(L):
        ands = " AND ".join(
            f"s_{g} >= s_{o}" for o in L if o != g
        )
        conds.append(f"WHEN {ands} THEN '{g}'")
    pred_case = "CASE " + " ".join(conds) + " ELSE 'und' END"
    return _NB_ORACLE.format(
        cnt_cols=cnt_cols,
        tot_cols=tot_cols,
        prior_cols=prior_cols,
        sum_cols=sum_cols,
        score_cols=score_cols,
        s_list=s_list,
        pred_case=pred_case,
    )


@query("ml_naive_bayes", oracle=_oracle_nb_sql())
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes document classifier with Laplace
    smoothing — the linear bag-of-words classifier tier (the
    fastText-style quality/domain scorer GPT-3- and LLaMA-class
    pipelines run after rule filters; same plan shape, learned
    weights swapped for closed-form count ratios). Self-trained on
    the corpus's lang labels and scored back over every document:
    s_c = ln P(c) + sum_w n_dw * ln((cnt_cw + 1) / (tot_c + |V|)),
    argmax with a fixed tiebreak order.

    Plan: the word explode stays OCCURRENCE grain — no (doc, word)
    pre-aggregation shuffle (measured: the 2.8M-key pre-agg variant
    costs 1.40 s vs 1.25 s at sf0.1; per-occurrence ln sums equal the
    n*ln form modulo the final 6dp round). Training is one
    vocabulary-keyed aggregate with map-side partials (the class
    pivot is conditional sums, no per-class scan), pinned with
    localCheckpoint because it feeds both the model scalars and the
    scoring broadcast — vocabulary-sized, free to pin at any corpus
    scale. Scoring broadcast-joins the dictionary back onto the
    occurrences and reduces per-doc class scores in ONE doc-keyed
    aggregate; model scalars (class totals, vocabulary size, priors)
    ride broadcast 1-row crossJoins. Two shuffles total at any corpus
    size — word grain then doc grain — and the model artifact stays
    vocabulary-sized, the property that makes NB trainable in one
    pass at 100 TB. Scores round to 6dp: the summed ln terms differ
    across engines only at ~1e-12 (SURVEY.md §5.1 transcendental
    rule), argmax runs on the rounded values with a deterministic
    CASE order, so prediction and scores hash-match."""
    docs = table(spark, sf_dir, "documents", spread=True)
    L = _NB_LANGS
    ex = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
    ).filter(F.col("w") != "")
    dict_df = ex.groupBy("w").agg(
        *[
            F.sum(F.when(F.col("lang") == g, 1).otherwise(0))
            .cast("long")
            .alias(f"c_{g}")
            for g in L
        ]
    ).localCheckpoint()
    consts = dict_df.agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        *[F.sum(f"c_{g}").cast("long").alias(f"tot_{g}") for g in L],
    )
    priors = docs.agg(
        *[
            F.sum(F.when(F.col("lang") == g, 1).otherwise(0))
            .cast("long")
            .alias(f"d_{g}")
            for g in L
        ],
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    docagg = (
        ex.join(F.broadcast(dict_df), "w")
        .groupBy("doc_id")
        .agg(
            F.any_value(F.col("lang")).alias("lang"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            *[
                F.sum(
                    F.log(F.col(f"c_{g}").cast("double") + 1)
                ).alias(f"l_{g}")
                for g in L
            ],
        )
    )
    scored = docagg.crossJoin(F.broadcast(consts)).crossJoin(
        F.broadcast(priors)
    )
    s_cols = {
        g: F.round(
            F.log(F.col(f"d_{g}").cast("double") / F.col("n_docs"))
            + F.col(f"l_{g}")
            - F.col("n_tokens")
            * F.log((F.col(f"tot_{g}") + F.col("vocab")).cast("double")),
            6,
        )
        for g in L
    }
    scored = scored.select(
        "doc_id", "lang", *[s_cols[g].alias(f"s_{g}") for g in L]
    )
    pred = F.lit("und")
    for g in reversed(L):
        cond = F.lit(True)
        for o in L:
            if o != g:
                cond = cond & (F.col(f"s_{g}") >= F.col(f"s_{o}"))
        pred = F.when(cond, F.lit(g)).otherwise(pred)
    return scored.select(
        "doc_id",
        "lang",
        *[f"s_{g}" for g in L],
        pred.alias("pred"),
        (pred == F.col("lang")).alias("correct"),
    )


@query(
    "stat_ttest",
    oracle="""
    WITH v AS (
        SELECT event_type,
               CAST(round(value * 10000) AS BIGINT) AS v4
        FROM events WHERE event_type IN ('purchase', 'view')
    ), mo AS (
        SELECT
            CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                     ELSE 0 END) AS BIGINT) AS n1,
            CAST(SUM(CASE WHEN event_type = 'view' THEN 1
                     ELSE 0 END) AS BIGINT) AS n2,
            CAST(SUM(CASE WHEN event_type = 'purchase' THEN v4
                     ELSE 0 END) AS BIGINT) AS s1,
            CAST(SUM(CASE WHEN event_type = 'view' THEN v4
                     ELSE 0 END) AS BIGINT) AS s2,
            CAST(SUM(CASE WHEN event_type = 'purchase' THEN v4 * v4
                     ELSE 0 END) AS BIGINT) AS q1,
            CAST(SUM(CASE WHEN event_type = 'view' THEN v4 * v4
                     ELSE 0 END) AS BIGINT) AS q2
        FROM v
    ), st AS (
        SELECT n1, n2,
            CAST(s1 AS DOUBLE) / n1 AS m1,
            CAST(s2 AS DOUBLE) / n2 AS m2,
            (CAST(q1 AS DOUBLE)
             - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1) AS var1,
            (CAST(q2 AS DOUBLE)
             - CAST(s2 AS DOUBLE) * s2 / n2) / (n2 - 1) AS var2
        FROM mo
    ), se AS (
        SELECT n1, n2, m1, m2, var1, var2,
               var1 / n1 AS a, var2 / n2 AS b
        FROM st
    )
    SELECT n1, n2,
           round((m1 - m2) / 10000, 6) AS mean_diff,
           round((m1 - m2) / sqrt(a + b), 6) AS t_stat,
           round((a + b) * (a + b)
                 / (a * a / (n1 - 1) + b * b / (n2 - 1)), 6)
             AS welch_df
    FROM se
    """,
)
def stat_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test (unequal variances) of purchase vs view
    event values — the A/B-test primitive every analytics engine
    ships. ONE conditional-moment scan: both groups' (n, sum, sum-of-
    squares) accumulate as exact int64 on the 1e4 fixed-point grid
    (v4^2 sums stay < 2^63 through sf10), then the t statistic and the
    Welch-Satterthwaite degrees of freedom are a handful of IEEE
    double ops on identical integer inputs — deterministic on both
    engines — rounded to 6 dp. No shuffle beyond the single
    1-row aggregate; at 100 TB this is a map-side-partial scan
    whatever the corpus size. mean_diff reports on the original value
    scale (the /1e4 de-quantization is the only scale-dependent op)."""
    e = table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type").isin("purchase", "view")).select(
        "event_type",
        F.round(F.col("value") * 10000).cast("long").alias("v4"),
    )
    P = F.col("event_type") == "purchase"
    V_ = F.col("event_type") == "view"
    mo = v.agg(
        F.sum(F.when(P, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(V_, 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(P, F.col("v4")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(V_, F.col("v4")).otherwise(0))
        .cast("long")
        .alias("s2"),
        F.sum(F.when(P, F.col("v4") * F.col("v4")).otherwise(0))
        .cast("long")
        .alias("q1"),
        F.sum(F.when(V_, F.col("v4") * F.col("v4")).otherwise(0))
        .cast("long")
        .alias("q2"),
    )
    m1 = F.col("s1").cast("double") / F.col("n1")
    m2 = F.col("s2").cast("double") / F.col("n2")
    var1 = (
        F.col("q1").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n1")
    ) / (F.col("n1") - 1)
    var2 = (
        F.col("q2").cast("double")
        - F.col("s2").cast("double") * F.col("s2") / F.col("n2")
    ) / (F.col("n2") - 1)
    st = mo.select("n1", "n2", m1.alias("m1"), m2.alias("m2"),
                   var1.alias("var1"), var2.alias("var2"))
    a = F.col("var1") / F.col("n1")
    b = F.col("var2") / F.col("n2")
    se = st.select("n1", "n2", "m1", "m2", a.alias("a"), b.alias("b"))
    return se.select(
        "n1",
        "n2",
        F.round((F.col("m1") - F.col("m2")) / 10000, 6).alias(
            "mean_diff"
        ),
        F.round(
            (F.col("m1") - F.col("m2"))
            / F.sqrt(F.col("a") + F.col("b")),
            6,
        ).alias("t_stat"),
        F.round(
            (F.col("a") + F.col("b"))
            * (F.col("a") + F.col("b"))
            / (
                F.col("a") * F.col("a") / (F.col("n1") - 1)
                + F.col("b") * F.col("b") / (F.col("n2") - 1)
            ),
            6,
        ).alias("welch_df"),
    )


@query(
    "stat_chisq",
    oracle="""
    WITH c AS (
        SELECT event_type AS r,
               CASE WHEN value >= 50 THEN 1 ELSE 0 END AS col,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ), tot AS (
        SELECT SUM(o) AS n FROM c
    ), rt AS (
        SELECT r, SUM(o) AS row_tot FROM c GROUP BY 1
    ), ct AS (
        SELECT col, SUM(o) AS col_tot FROM c GROUP BY 1
    ), cells AS (
        SELECT c.r, c.col, c.o,
               CAST(rt.row_tot AS DOUBLE) * ct.col_tot / tot.n AS e
        FROM c JOIN rt ON rt.r = c.r
               JOIN ct ON ct.col = c.col, tot
    )
    SELECT CAST((SELECT COUNT(*) FROM rt) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM ct) AS BIGINT) AS n_cols,
           CAST(tot.n AS BIGINT) AS n,
           round(SUM((o - e) * (o - e) / e), 6) AS chi2,
           CAST(((SELECT COUNT(*) FROM rt) - 1)
                * ((SELECT COUNT(*) FROM ct) - 1) AS BIGINT) AS dof
    FROM cells, tot GROUP BY tot.n
    """,
)
def stat_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between event type and
    a value band (value >= 50) — the categorical-association sibling
    of stat_ttest. The contingency table is ONE conditional-count
    aggregate (exact int64 cells, map-side partials); marginals
    derive from the tiny cell relation (cardinality = types x bands,
    driver-scale at any corpus size), expected counts are rationals
    of exact integers evaluated in IEEE double in the same order on
    both engines, and the statistic rounds to 6 dp. Corpus-scale work
    is the single scan; everything after runs on the cell grain."""
    e = table(spark, sf_dir, "events")
    c = (
        e.select(
            F.col("event_type").alias("r"),
            F.when(F.col("value") >= 50, 1).otherwise(0).alias("col"),
        )
        .groupBy("r", "col")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    tot = c.agg(F.sum("o").alias("n"))
    rt = c.groupBy("r").agg(F.sum("o").alias("row_tot"))
    ct = c.groupBy("col").agg(F.sum("o").alias("col_tot"))
    cells = (
        c.join(rt, "r")
        .join(ct, "col")
        .crossJoin(F.broadcast(tot))
        .select(
            "o",
            (
                F.col("row_tot").cast("double")
                * F.col("col_tot")
                / F.col("n")
            ).alias("e"),
            "n",
        )
    )
    nr = rt.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    nc = ct.agg(F.count(F.lit(1)).cast("long").alias("n_cols"))
    return (
        cells.groupBy("n")
        .agg(
            F.round(
                F.sum(
                    (F.col("o") - F.col("e"))
                    * (F.col("o") - F.col("e"))
                    / F.col("e")
                ),
                6,
            ).alias("chi2")
        )
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            "n_rows",
            "n_cols",
            F.col("n").cast("long").alias("n"),
            "chi2",
            ((F.col("n_rows") - 1) * (F.col("n_cols") - 1))
            .cast("long")
            .alias("dof"),
        )
    )


@query(
    "graph_jaccard_nbrs",
    oracle="""
    WITH pairs AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY a.l_orderkey, 1, 2
    ), und AS (
        SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2
    ), adj AS (
        SELECT u AS node, v AS nbr FROM und
        UNION ALL
        SELECT v AS node, u AS nbr FROM und
    ), deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1
    ), common AS (
        SELECT a.node AS u, b.node AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM adj a JOIN adj b
          ON b.nbr = a.nbr AND a.node < b.node
        GROUP BY 1, 2
    ), scored AS (
        SELECT c.u, c.v, c.c,
               round(CAST(c.c AS DOUBLE) / (du.d + dv.d - c.c), 6)
                 AS jaccard
        FROM common c
        JOIN deg du ON du.node = c.u
        JOIN deg dv ON dv.node = c.v
    ), rk AS (
        SELECT u, v, c, jaccard,
               row_number() OVER (ORDER BY jaccard DESC, u, v) AS rnk
        FROM scored
    )
    SELECT u, v, c AS n_common, jaccard, CAST(rnk AS BIGINT) AS rnk
    FROM rk WHERE rnk <= 100
    """,
)
def graph_jaccard_nbrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard similarity over the strong part
    co-purchase graph — the structural-equivalence / link-prediction
    primitive (two parts are similar when they co-occur with the SAME
    other parts, even if never together): |N(u) ∩ N(v)| / |N(u) ∪
    N(v)| for every pair sharing >= 1 neighbor, top-100 by rounded
    score with an id tiebreak. Same candidate discipline as the
    near-dup tier: pairs GENERATE from shared middle nodes (the
    wedge join — each executor pairs only nodes adjacent to the same
    neighbor, never the all-pairs product), counts stay exact int64,
    one final division rounds to 6 dp. Union size derives as
    deg(u) + deg(v) - common (no second pass). The strong-edge filter
    (co-ordered >= 2) bounds hub degree the same way it does for
    graph_triangles; AQE skew-splitting covers residual hot middles.
    The edge list is `_strong_edges`."""
    und = _strong_edges(spark, sf_dir)
    adj = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).select(F.col("u").alias("node"), F.col("v").alias("nbr"))
    deg = adj.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    a, b = adj.alias("a"), adj.alias("b")
    common = (
        a.join(
            b,
            (F.col("b.nbr") == F.col("a.nbr"))
            & (F.col("a.node") < F.col("b.node")),
        )
        .groupBy(
            F.col("a.node").alias("u"), F.col("b.node").alias("v")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    scored = (
        common.join(
            deg.select(F.col("node").alias("u"), F.col("d").alias("du")),
            "u",
        )
        .join(
            deg.select(F.col("node").alias("v"), F.col("d").alias("dv")),
            "v",
        )
        .select(
            "u",
            "v",
            "c",
            F.round(
                F.col("c").cast("double")
                / (F.col("du") + F.col("dv") - F.col("c")),
                6,
            ).alias("jaccard"),
        )
    )
    return (
        scored.withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.desc("jaccard"), "u", "v")
            ),
        )
        .filter(F.col("rnk") <= 100)
        .select(
            "u",
            "v",
            F.col("c").alias("n_common"),
            "jaccard",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@query(
    "ml_decision_stump",
    oracle="""
    WITH v AS (
        SELECT CAST(round(value * 10000) AS BIGINT) AS v4,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE event_type IN ('purchase', 'view')
    ), g AS (
        SELECT v4, CAST(SUM(y) AS BIGINT) AS pos,
               CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
        FROM v GROUP BY 1
    ), cum AS (
        SELECT v4,
               CAST(SUM(pos) OVER (ORDER BY v4) AS BIGINT) AS pos_l,
               CAST(SUM(neg) OVER (ORDER BY v4) AS BIGINT) AS neg_l,
               CAST(SUM(pos) OVER () AS BIGINT) AS pos_t,
               CAST(SUM(neg) OVER () AS BIGINT) AS neg_t
        FROM g
    ), cand AS (
        SELECT v4, pos_l, neg_l,
               pos_t - pos_l AS pos_r, neg_t - neg_l AS neg_r,
               pos_l + neg_l AS n_l,
               (pos_t - pos_l) + (neg_t - neg_l) AS n_r,
               pos_t + neg_t AS n
        FROM cum WHERE pos_l + neg_l < pos_t + neg_t
    ), scored AS (
        SELECT v4, n_l, n_r, n,
               round(2.0 * (CAST(pos_l AS DOUBLE) * neg_l / n_l
                            + CAST(pos_r AS DOUBLE) * neg_r / n_r)
                     / n, 6) AS gini,
               round((GREATEST(pos_l, neg_l) + GREATEST(pos_r, neg_r))
                     * 1.0 / n, 6) AS acc
        FROM cand
    )
    SELECT round(v4 / 10000.0, 6) AS threshold, gini, acc,
           CAST(n_l AS BIGINT) AS n_left, CAST(n_r AS BIGINT) AS n_right
    FROM (
        SELECT *, row_number() OVER (ORDER BY gini, v4) AS r
        FROM scored
    ) WHERE r = 1
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single-feature decision stump (the depth-1 CART split, and
    the unit step of every gradient-boosted tree): choose the value
    threshold that minimizes Gini impurity for purchase-vs-view. ONE
    corpus-scale pass builds the per-value class histogram (exact
    int64 counts); every candidate split's left/right counts then
    come from cumulative sums over the VALUE grain (a window over the
    distinct-value relation — thousands of rows at any corpus size,
    the post-aggregation boundedness posture), so the O(N * splits)
    naive evaluation collapses to O(distinct values). Gini and the
    stump's training accuracy are rationals of exact integers
    evaluated in IEEE double, rounded to 6 dp, argmin with a
    threshold tiebreak — deterministic on both engines."""
    e = table(spark, sf_dir, "events")
    v = e.filter(
        F.col("event_type").isin("purchase", "view")
    ).select(
        F.round(F.col("value") * 10000).cast("long").alias("v4"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    g = v.groupBy("v4").agg(
        F.sum("y").cast("long").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("neg"),
    )
    wc = Window.orderBy("v4").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy()
    cum = g.select(
        "v4",
        F.sum("pos").over(wc).alias("pos_l"),
        F.sum("neg").over(wc).alias("neg_l"),
        F.sum("pos").over(wt).alias("pos_t"),
        F.sum("neg").over(wt).alias("neg_t"),
    )
    cand = cum.select(
        "v4",
        "pos_l",
        "neg_l",
        (F.col("pos_t") - F.col("pos_l")).alias("pos_r"),
        (F.col("neg_t") - F.col("neg_l")).alias("neg_r"),
        (F.col("pos_l") + F.col("neg_l")).alias("n_l"),
        (
            F.col("pos_t")
            - F.col("pos_l")
            + F.col("neg_t")
            - F.col("neg_l")
        ).alias("n_r"),
        (F.col("pos_t") + F.col("neg_t")).alias("n"),
    ).filter(F.col("n_l") < F.col("n"))
    scored = cand.select(
        "v4",
        "n_l",
        "n_r",
        "n",
        F.round(
            2.0
            * (
                F.col("pos_l").cast("double")
                * F.col("neg_l")
                / F.col("n_l")
                + F.col("pos_r").cast("double")
                * F.col("neg_r")
                / F.col("n_r")
            )
            / F.col("n"),
            6,
        ).alias("gini"),
        F.round(
            (
                F.greatest("pos_l", "neg_l")
                + F.greatest("pos_r", "neg_r")
            )
            * F.lit(1.0)
            / F.col("n"),
            6,
        ).alias("acc"),
    )
    return (
        scored.withColumn(
            "r", F.row_number().over(Window.orderBy("gini", "v4"))
        )
        .filter(F.col("r") == 1)
        .select(
            F.round(F.col("v4") / 10000.0, 6).alias("threshold"),
            "gini",
            "acc",
            F.col("n_l").cast("long").alias("n_left"),
            F.col("n_r").cast("long").alias("n_right"),
        )
    )


@query(
    "stat_weighted_median",
    oracle="""
    WITH v AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_q,
               CAST(round(l_quantity * 100) AS BIGINT) AS w,
               l_orderkey, l_linenumber
        FROM lineitem
    ), c AS (
        SELECT flag, price_q, w,
               SUM(w) OVER (PARTITION BY flag
                            ORDER BY price_q, l_orderkey, l_linenumber
                            ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(w) OVER (PARTITION BY flag) AS tw
        FROM v
    ), sat AS (
        SELECT flag, price_q, tw,
               row_number() OVER (PARTITION BY flag
                                  ORDER BY cw) AS r
        FROM c WHERE 2 * cw >= tw
    )
    SELECT flag AS l_returnflag,
           round(price_q / 100.0, 6) AS weighted_median_price,
           round(tw / 100.0, 6) AS total_weight
    FROM sat WHERE r = 1
    """,
)
def stat_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (quantity-weighted extendedprice per return
    flag) — the robust center for skewed monetary distributions,
    where every row counts proportionally to its weight. EXACT rank
    pick on the integer grid (never interpolation, the
    ts_mad_outlier posture): the lower weighted median is the FIRST
    value in price order whose cumulative weight reaches half the
    total (2*cum >= total in integers — no halving division),
    deterministic via the (price, orderkey, linenumber) tiebreak.

    TWO-PHASE bucket rank-pick — the shape that survives scale.
    Phase 1 aggregates weight per (flag, price div 65536) bucket —
    a fully parallel map-side-combinable shuffle whose output is
    flags x ~160 rows — and cumulates THAT tiny relation to locate
    the single bucket containing each flag's median (carrying the
    weight below it). Phase 2 broadcast-semi-joins the target
    buckets back and runs the exact ordered pick over ONLY the
    in-bucket rows (~n/buckets per flag). The naive one-window form
    (cumulative sum over every row, partitioned by flag) was
    measured and REJECTED for the registered query: with 3 flags
    its per-flag sort runs on 3 effective cores and grows
    superlinearly — 0.64 s at sf0.1 but 5.40 s at sf1 (3.3x vs
    DuckDB, the only r6 row that got WORSE one decade up); the
    bucket form pays +0.27 s of fixed stage latency at sf0.1
    (0.91 s) and is FLAT at sf1 (1.10 s = 0.66x, inverting) —
    exactly the trade a 100 TB engine makes. Same answer, same
    oracle (DuckDB keeps the one-window form; the bucket
    decomposition is Spark's physical strategy, not a semantic)."""
    li = table(spark, sf_dir, "lineitem", spread=True)
    v = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("price_q"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("w"),
        "l_orderkey",
        "l_linenumber",
    ).withColumn("bkt", F.expr("price_q div 65536"))
    hist = v.groupBy("flag", "bkt").agg(F.sum("w").alias("bw"))
    wcum = (
        Window.partitionBy("flag")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("flag")
    marked = hist.select(
        "flag",
        "bkt",
        F.sum("bw").over(wcum).alias("cum"),
        (F.sum("bw").over(wcum) - F.col("bw")).alias("prev"),
        F.sum("bw").over(wtot).alias("tw"),
    )
    target = marked.filter(
        (2 * F.col("cum") >= F.col("tw"))
        & (2 * F.col("prev") < F.col("tw"))
    ).select("flag", "bkt", "prev", "tw")
    inb = v.join(F.broadcast(target), ["flag", "bkt"])
    win = (
        Window.partitionBy("flag")
        .orderBy("price_q", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = inb.select(
        "flag",
        "price_q",
        "tw",
        (F.col("prev") + F.sum("w").over(win)).alias("cw"),
    )
    sat = c.filter(2 * F.col("cw") >= F.col("tw")).select(
        "flag",
        "price_q",
        "tw",
        F.row_number()
        .over(Window.partitionBy("flag").orderBy("cw"))
        .alias("r"),
    )
    return sat.filter(F.col("r") == 1).select(
        F.col("flag").alias("l_returnflag"),
        F.round(F.col("price_q") / 100.0, 6).alias(
            "weighted_median_price"
        ),
        F.round(F.col("tw") / 100.0, 6).alias("total_weight"),
    )


@query(
    "stat_gini",
    oracle="""
    WITH w AS (
        SELECT user_id,
               CAST(SUM(CAST(round(value * 10000) AS BIGINT))
                    AS BIGINT) AS bal
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), r AS (
        SELECT bal,
               row_number() OVER (ORDER BY bal, user_id) AS i,
               COUNT(*) OVER () AS n,
               CAST(SUM(bal) OVER () AS BIGINT) AS tot
        FROM w
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_holders,
           round(CAST(2 * SUM(i * bal) AS DOUBLE)
                 / (MAX(n) * MAX(tot))
                 - CAST(MAX(n) + 1 AS DOUBLE) / MAX(n), 6) AS gini
    FROM r
    """,
)
def stat_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user purchase-flow concentration — the
    inequality metric the reference's exchange-flow domain invites
    (how concentrated are flows across wallets): G = 2*sum(i*x_i) /
    (n*sum x) - (n+1)/n over the balance-sorted sequence. The
    corpus-scale work is ONE per-user aggregate; the rank window runs
    on the post-aggregation HOLDER grain (users, not events — the
    documented boundedness posture; a 100 TB deployment's holder
    relation is the small output of the big aggregation). All
    rank-weighted sums are exact int64 (ranks deterministic via the
    (balance, user) tiebreak); the two final divisions round to
    6 dp."""
    e = table(spark, sf_dir, "events")
    w = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 10000).cast("long"))
            .cast("long")
            .alias("bal")
        )
    )
    r = w.select(
        "bal",
        F.row_number()
        .over(Window.orderBy("bal", "user_id"))
        .alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        F.sum("bal").over(Window.partitionBy()).cast("long").alias("tot"),
    )
    return r.agg(
        F.max("n").cast("long").alias("n_holders"),
        F.round(
            (2 * F.sum(F.col("i") * F.col("bal"))).cast("double")
            / (F.max("n") * F.max("tot"))
            - (F.max("n") + 1).cast("double") / F.max("n"),
            6,
        ).alias("gini"),
    )


@query(
    "stat_mannwhitney",
    oracle="""
    WITH v AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS g1,
               CAST(round(value * 10000) AS BIGINT) AS v4
        FROM events WHERE event_type IN ('purchase', 'view')
    ), cells AS (
        SELECT v4,
               CAST(SUM(g1) AS BIGINT) AS n1v,
               CAST(COUNT(*) AS BIGINT) AS t
        FROM v GROUP BY 1
    ), ranked AS (
        SELECT v4, n1v, t,
               COALESCE(SUM(t) OVER (ORDER BY v4
                   ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS cprev
        FROM cells
    ), tot AS (
        SELECT CAST(SUM(n1v) AS BIGINT) AS n1,
               CAST(SUM(t - n1v) AS BIGINT) AS n2,
               CAST(SUM(t) AS BIGINT) AS n,
               CAST(SUM(n1v * (2 * cprev + t + 1)) AS BIGINT)
                   AS r1_x2,
               CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS DOUBLE)
                   AS ties
        FROM ranked
    )
    SELECT n1, n2,
           CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2 AS u1,
           round((CAST(r1_x2 - n1 * (n1 + 1) AS DOUBLE) / 2
                  - CAST(n1 AS DOUBLE) * n2 / 2)
                 / sqrt(CAST(n1 AS DOUBLE) * n2 / 12
                        * ((n + 1) - ties
                           / (CAST(n AS DOUBLE) * (n - 1)))),
                 6) AS z
    FROM tot
    """,
)
def stat_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (purchase vs view event values) —
    the distribution-free complement of stat_ttest: no normality
    assumption, ties handled by midranks with the standard tie-
    corrected normal approximation (no continuity correction; both
    engines state the identical formula).

    Exactness and shape: values discretize to the shared v4 fixed
    point; ONE conditional-count aggregate collapses the corpus to
    the distinct-value grain (the only fact-sized shuffle — the grain
    is bounded by the VALUE DOMAIN, ~5e6 possible v4 cells at any
    corpus size, so the unpartitioned cumulative window after it
    never sees fact-scale rows; a wider domain would swap in the
    distributed prefix-sum used by sample_stratified); midrank sums
    stay exact as 2x-scaled int64 (2*R1 = sum n1v*(2*cprev+t+1)),
    the tie term t^3-t accumulates in decimal/HUGEINT, and only the
    final z divides into IEEE double, rounded 6dp."""
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    v = e.select(
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("g1"),
        F.round(F.col("value") * 10000).cast("long").alias("v4"),
    )
    cells = v.groupBy("v4").agg(
        F.sum("g1").cast("long").alias("n1v"),
        F.count(F.lit(1)).cast("long").alias("t"),
    )
    w = Window.orderBy("v4").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = cells.select(
        "v4",
        "n1v",
        "t",
        F.coalesce(F.sum("t").over(w), F.lit(0)).alias("cprev"),
    )
    td = F.col("t").cast("decimal(38,0)")
    tot = ranked.agg(
        F.sum("n1v").cast("long").alias("n1"),
        F.sum(F.col("t") - F.col("n1v")).cast("long").alias("n2"),
        F.sum("t").cast("long").alias("n"),
        F.sum(
            F.col("n1v") * (2 * F.col("cprev") + F.col("t") + 1)
        )
        .cast("long")
        .alias("r1_x2"),
        F.sum(td * td * td - td).cast("double").alias("ties"),
    )
    u1 = (
        F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)
    ).cast("double") / 2
    mu = F.col("n1").cast("double") * F.col("n2") / 2
    var = (
        F.col("n1").cast("double") * F.col("n2") / 12
        * (
            (F.col("n") + 1)
            - F.col("ties")
            / (F.col("n").cast("double") * (F.col("n") - 1))
        )
    )
    return tot.select(
        "n1",
        "n2",
        u1.alias("u1"),
        F.round((u1 - mu) / F.sqrt(var), 6).alias("z"),
    )


@query(
    "stat_ks_2samp",
    oracle="""
    WITH v AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS g1,
               CAST(round(value * 10000) AS BIGINT) AS v4
        FROM events WHERE event_type IN ('purchase', 'view')
    ), cells AS (
        SELECT v4,
               CAST(SUM(g1) AS BIGINT) AS c1v,
               CAST(COUNT(*) - SUM(g1) AS BIGINT) AS c2v
        FROM v GROUP BY 1
    ), cum AS (
        SELECT v4,
               SUM(c1v) OVER (ORDER BY v4) AS f1,
               SUM(c2v) OVER (ORDER BY v4) AS f2
        FROM cells
    ), tot AS (
        SELECT CAST(SUM(c1v) AS BIGINT) AS n1,
               CAST(SUM(c2v) AS BIGINT) AS n2
        FROM cells
    ), dmax AS (
        SELECT CAST(MAX(ABS(f1 * tot.n2 - f2 * tot.n1)) AS BIGINT)
                   AS dnum
        FROM cum, tot GROUP BY tot.n1, tot.n2
    )
    SELECT tot.n1, tot.n2,
           round(CAST(dnum AS DOUBLE)
                 / (CAST(tot.n1 AS DOUBLE) * tot.n2), 6) AS d,
           round(CAST(dnum AS DOUBLE)
                 / (CAST(tot.n1 AS DOUBLE) * tot.n2)
                 * sqrt(CAST(tot.n1 AS DOUBLE) * tot.n2
                        / (tot.n1 + tot.n2)), 6) AS ks_stat
    FROM dmax, tot
    """,
)
def stat_ks_2samp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic (purchase vs view
    value distributions): D = sup_x |F1(x) - F2(x)| — the
    whole-distribution drift test completing the stats family
    (t-test: means; Mann-Whitney: stochastic order; chi-square:
    categorical association; KS: any distributional difference, the
    batch twin of profile_drift_psi's binned score).

    Same scale shape as stat_mannwhitney: one conditional-count
    aggregate to the distinct-v4 grain (the only fact-sized
    shuffle, grain bounded by the value domain), cumulative counts
    by one ordered window on that grain, and the supremum kept
    EXACT by cross-multiplication — max |F1*n2 - F2*n1| over int64
    — so the only floating division is the final D and the
    sqrt(n1*n2/(n1+n2))-scaled KS statistic, both rounded 6dp."""
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    v = e.select(
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("g1"),
        F.round(F.col("value") * 10000).cast("long").alias("v4"),
    )
    cells = v.groupBy("v4").agg(
        F.sum("g1").cast("long").alias("c1v"),
        (F.count(F.lit(1)) - F.sum("g1")).cast("long").alias("c2v"),
    )
    w = Window.orderBy("v4").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = cells.select(
        F.sum("c1v").over(w).alias("f1"),
        F.sum("c2v").over(w).alias("f2"),
    )
    tot = cells.agg(
        F.sum("c1v").cast("long").alias("n1"),
        F.sum("c2v").cast("long").alias("n2"),
    )
    dmax = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(
                    F.col("f1") * F.col("n2")
                    - F.col("f2") * F.col("n1")
                )
            )
            .cast("long")
            .alias("dnum"),
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
        )
    )
    d = F.col("dnum").cast("double") / (
        F.col("n1").cast("double") * F.col("n2")
    )
    return dmax.select(
        "n1",
        "n2",
        F.round(d, 6).alias("d"),
        F.round(
            d
            * F.sqrt(
                F.col("n1").cast("double")
                * F.col("n2")
                / (F.col("n1") + F.col("n2"))
            ),
            6,
        ).alias("ks_stat"),
    )


@query(
    "ml_ridge",
    oracle="""
    WITH v AS (
        SELECT CAST(round(l_quantity) AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
    ), mo AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        FROM v
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6)
               AS slope_ols,
           round((CAST(sy AS DOUBLE)
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
               AS icept_ols,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx + n * 10000 AS DOUBLE), 6)
               AS slope_ridge,
           round((CAST(sy AS DOUBLE)
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx + n * 10000 AS DOUBLE)
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
               AS icept_ridge
    FROM mo
    """,
)
def ml_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form ridge regression (price-cents on quantity,
    unpenalized intercept, lambda = 10000) next to its OLS limit —
    the L2-regularized member of the regression family
    (ml_ols_loglog / ml_linreg_fit are the lambda=0 case; ridge is
    what a feature pipeline actually fits when x is collinear or
    near-constant, and the closed form needs no iteration at all).

    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2 + n*lambda): the centered
    moments cross-multiplied so everything stays integral — ONE
    moment aggregate over the fact table (map-side partials, 5 longs
    of traffic per partition, no second pass), cross products
    accumulated in decimal(38,0)/HUGEINT (n*Sxy overflows int64 by
    sf1), and a single IEEE division per coefficient rounded 6dp.
    Shrinkage is visible against the OLS twin from the same moment
    row."""
    v = table(spark, sf_dir, "lineitem", spread=True).select(
        F.round("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("y"),
    )
    dec = "decimal(38,0)"
    mo = v.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den_ols = (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    den_rdg = (
        F.col("n") * F.col("sxx")
        - F.col("sx") * F.col("sx")
        + F.col("n") * 10000
    ).cast("double")
    def icept(slope):
        return (
            F.col("sy").cast("double")
            - slope * F.col("sx").cast("double")
        ) / F.col("n").cast("double")
    return mo.select(
        F.col("n").cast("long").alias("n"),
        F.round(num / den_ols, 6).alias("slope_ols"),
        F.round(icept(num / den_ols), 6).alias("icept_ols"),
        F.round(num / den_rdg, 6).alias("slope_ridge"),
        F.round(icept(num / den_rdg), 6).alias("icept_ridge"),
    )


def _oracle_adaboost_sql(T: int = 3, S: int = 10**9) -> str:
    """DuckDB twin of ml_adaboost: the cell aggregate, then T unrolled
    boosting rounds — candidate weighted errors, (e, feat, thr, pol)
    argmin, exact rational mass update, floor renormalization onto the
    integer simplex (ml/ensemble.adaboost_cells' recurrence) — and the
    integer-alpha sign-vote accuracy. Every compared state is int64."""

    def h(feat: str, thr: str, pol: str, x: str) -> str:
        fv = (
            f"(CASE {feat} WHEN 1 THEN {x}.f1 "
            f"WHEN 2 THEN {x}.f2 ELSE {x}.f3 END)"
        )
        return (
            f"({pol} * (CASE WHEN {fv} <= {thr} THEN 1 ELSE -1 END))"
        )

    parts = [
        f"""
    WITH cells AS (
        SELECT CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS f1,
               CAST((CAST(CAST(ts AS TIMESTAMP) AS DATE)
                     - DATE '1970-01-01') % 7 AS BIGINT) AS f2,
               LEAST(CAST(floor(value / 50) AS BIGINT), 9) AS f3,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE -1 END
                   AS y,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2, 3, 4
    ), ntot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM cells
    ), cand AS (
        SELECT feat, thr, CAST(p.pol AS BIGINT) AS pol FROM (
            SELECT CAST(1 AS BIGINT) AS feat,
                   CAST(unnest(range(23)) AS BIGINT) AS thr
            UNION ALL
            SELECT 2, CAST(unnest(range(6)) AS BIGINT)
            UNION ALL
            SELECT 3, CAST(unnest(range(9)) AS BIGINT)
        ), (SELECT unnest([1, -1]) AS pol) p
    ), m0 AS (
        SELECT f1, f2, f3, y, cnt,
               (cnt * {S}) // ntot.n AS m
        FROM cells, ntot
    )"""
    ]
    for i in range(T):
        hc = h("c.feat", "c.thr", "c.pol", "x")
        hb = h("b.feat", "b.thr", "b.pol", "x")
        parts.append(
            f""",
    t{i} AS (SELECT CAST(SUM(m) AS BIGINT) AS mm FROM m{i}),
    e{i} AS (
        SELECT c.feat, c.thr, c.pol,
               CAST(SUM(CASE WHEN {hc} != x.y THEN x.m ELSE 0 END)
                    AS BIGINT) AS e
        FROM cand c, m{i} x GROUP BY 1, 2, 3
    ),
    b{i} AS (
        SELECT feat, thr, pol, e FROM e{i}
        ORDER BY e, feat, thr, pol LIMIT 1
    ),
    m{i + 1} AS (
        SELECT x.f1, x.f2, x.f3, x.y, x.cnt,
               CAST((CAST(x.m AS HUGEINT)
                     * (CASE WHEN {hb} != x.y
                             THEN t.mm - b.e ELSE b.e END)
                     * {S})
                    // (2 * CAST(b.e AS HUGEINT) * (t.mm - b.e))
                    AS BIGINT) AS m
        FROM m{i} x, b{i} b, t{i} t
    )"""
        )
    spec_rows = "\n        UNION ALL\n".join(
        f"""        SELECT CAST({i + 1} AS BIGINT) AS rnd, feat, thr,
               pol, e, (SELECT mm FROM t{i}) AS mm FROM b{i}"""
        for i in range(T)
    )
    hs = h("s.feat", "s.thr", "s.pol", "x")
    parts.append(
        f""",
    spec AS (
{spec_rows}
    ),
    votes AS (
        SELECT x.f1, x.f2, x.f3, x.y, x.cnt,
               SUM(CAST(round(0.5 * ln(CAST(s.mm - s.e AS DOUBLE)
                                       / s.e) * 1000000) AS BIGINT)
                   * {hs}) AS vote
        FROM cells x, spec s GROUP BY 1, 2, 3, 4, 5
    ),
    acc AS (
        SELECT round(SUM(CASE WHEN (CASE WHEN vote > 0 THEN 1
                                        ELSE -1 END) = y
                              THEN cnt ELSE 0 END) * 1.0
                     / SUM(cnt), 6) AS train_acc
        FROM votes
    )
    SELECT s.rnd, s.feat, s.thr, s.pol,
           round(CAST(s.e AS DOUBLE) / s.mm, 6) AS eps,
           round(0.5 * ln(CAST(s.mm - s.e AS DOUBLE) / s.e), 6)
               AS alpha,
           acc.train_acc
    FROM spec s, acc"""
    )
    return "".join(parts)


@query("ml_adaboost", oracle=_oracle_adaboost_sql())
def ml_adaboost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete AdaBoost (3 rounds of decision stumps over
    hour / day-of-week / value-band features, purchase-vs-rest) on
    the FEATURE-CELL grain — the boosting loop never rescans the
    corpus: one O(N) aggregate collapses events to <= 24*7*10*2
    cells, and every round's candidate sweep, mass update, and
    renormalization runs on that domain-bounded relation
    (ml/ensemble.adaboost_cells). Weight algebra is integer-exact
    (misclassified mass scales by M-E, correct by E — the exact
    rational form of exp(+/-alpha) — then floor-renormalizes onto a
    1e9 integer simplex), so the unrolled DuckDB oracle hash-matches
    every chosen stump and error mass; alpha and accuracy are IEEE
    functions of identical integers, 6dp. Control plane: one 1-row
    collect per FUSED PAIR of rounds (adaboost_cells_fused)."""
    from ..ml.ensemble import adaboost_cells_fused

    e = table(spark, sf_dir, "events")
    cells = (
        e.select(
            F.hour("ts").cast("long").alias("f1"),
            (
                F.datediff(F.to_date("ts"), F.lit("1970-01-01")) % 7
            )
            .cast("long")
            .alias("f2"),
            F.least(
                F.floor(F.col("value") / 50).cast("long"), F.lit(9)
            ).alias("f3"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(-1)
            .alias("y"),
        )
        .groupBy("f1", "f2", "f3", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # fused control plane: two rounds per collect job (interleaved
    # A/B at sf0.1, min of 3: loop 2.72 s vs fuse=2 2.64 s vs fuse=3
    # 3.04 s — the 3-wide plan's recomputed argmin branches cost more
    # than the saved round trip)
    return adaboost_cells_fused(
        spark, cells, domains={1: 24, 2: 7, 3: 10}, rounds=3, fuse=2
    )


def _oracle_kcore_sql(k: int = 2, rounds: int = 4) -> str:
    """Unrolled peeling twin of graph_k_core: `rounds` iterations of
    degree-filter + edge restriction over the strong co-purchase
    graph, stated as plain CTEs."""
    parts = [
        """
    WITH pairs AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY a.l_orderkey, 1, 2
    ), e0 AS MATERIALIZED (
        SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2
    )"""
    ]
    # each round references e{r} three times (directly + inside both
    # k{r} joins); without MATERIALIZED DuckDB inlines the reference,
    # expanding e{rounds} to 3^rounds copies of the base self-join --
    # measured as an 80 GB temp-spill out-of-disk at sf0.1. The hint
    # pins linear evaluation; results are unchanged (DuckDB-only
    # syntax is fine: oracles never run on Spark).
    for r in range(rounds):
        parts.append(
            f""",
    a{r} AS (
        SELECT u AS node, v AS nbr FROM e{r}
        UNION ALL SELECT v, u FROM e{r}
    ),
    d{r} AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d
        FROM a{r} GROUP BY 1
    ),
    k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE d >= {k}),
    e{r + 1} AS MATERIALIZED (
        SELECT e.u, e.v FROM e{r} e
        JOIN k{r} ku ON ku.node = e.u
        JOIN k{r} kv ON kv.node = e.v
    )"""
        )
    parts.append(
        f"""
    SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
    FROM (SELECT u AS node FROM e{rounds}
          UNION ALL SELECT v FROM e{rounds})
    GROUP BY 1"""
    )
    return "".join(parts)


@query("graph_k_core", oracle=_oracle_kcore_sql())
def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core extraction by 4 PEELING rounds over the strong part
    co-purchase graph — the community-pruning primitive (drop nodes
    with degree < k, repeat; survivors are the densely-embedded
    core). Each round is one degree aggregate + two LEFT-SEMI edge
    restrictions, with LAZY checkpoints between rounds (REWRITTEN r7
    after the measured sf3 blow-up of the eager form — 9.89 s at sf3:
    the EAGER localCheckpoint materialized every round's shrinking
    edge set as its own barrier job; eager=False folds each
    materialization into the next round's aggregate job. Interleaved
    A/B at sf0.1/sf3, min of 3: eager 1.94/6.42 s, lazy 1.52/5.44 s.
    An anti-join-against-the-dropped-set variant was measured
    equivalent — 1.52/5.78 s — because the edge relation collapses
    ~30x in round 1, so rounds 2-4 are floor-bound either way;
    semi-join kept for the simpler NULL story). Remaining cost is the
    BASE derivation's two fact-scale exchanges (order-grouped part
    sets, then the (u,v) pair aggregate) — the measured trajectory
    vs DuckDB ends in an OUTRIGHT INVERSION: ~4.4-5x sf0.1-sf3,
    7.6x sf10, 4.2x sf30, **0.29x at sf100** (600M rows: duck's
    in-process peel loop blows up 36x superlinearly past cache,
    20.9 -> 750.5 s, while the per-round exchanges grow 2.5x,
    87 -> 220 s) — the single-box exchange tax amortizes and the
    exchanges are exactly what shards across a real cluster.
    r8 map-side-combine experiment on that base (VERDICT item 6, min
    of 3): (a) Arrow partition-local pre-count of (u,v) pairs before
    the global aggregate REJECTED — 2.77 s sf0.1, 30.5 s sf3 vs
    2.17/6.87 adopted in the same session (the exploded pair stream
    is near-fact volume at sf3 and the Python-side dict merge
    collapses); (b) DuckDB's own self-join-on-orderkey pair
    derivation (no collect_set) REJECTED at scale — 1.57 s sf0.1
    (wins the floor: one exchange fewer) but 7.25 s sf3 (the
    orderkey shuffle-hash join ships the fact twice and
    re-aggregates at the (o,u,v) grain, which GROWS with
    multiplicity while the adopted per-order array explode emits
    each order once).
    Edge counts per round at sf3: 107k -> 10.9k -> 1.6k -> 300 ->
    120 — no early convergence inside the 4-round spec, and rounds
    past the first are scheduling-floor. A production run swaps the fixed unroll for
    dedup_doc_clusters' convergence-sum loop over the identical
    round body; 4 rounds suffice for this graph (verified by the
    oracle match — a 5th round would change nothing, see test).
    Returns surviving (node, deg) after the final peel. Same
    strong-edge derivation (co-ordered >= 2) as graph_triangles /
    graph_jaccard_nbrs: map-side pair explode from sorted per-order
    part arrays, one (u, v) exchange."""
    K, ROUNDS = 2, 4
    edges = _strong_edges(spark, sf_dir)
    for _ in range(ROUNDS):
        edges = _peel_round(edges, K)
    return _core_degrees(edges)


def _peel_round(edges: DataFrame, k: int) -> DataFrame:
    """One k-core peel round: degree aggregate + two left-semi edge
    restrictions, lazily checkpointed (the materialization rides the
    next round's aggregate job instead of being its own barrier —
    measured eager 6.42 s vs lazy 5.44 s at sf3, same at sf0.1)."""
    adj = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).select(F.col("u").alias("node"))
    keep = (
        adj.groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") >= k)
        .select("node")
    )
    return (
        edges.join(
            keep.select(F.col("node").alias("u")), "u", "left_semi"
        )
        .join(
            keep.select(F.col("node").alias("v")), "v", "left_semi"
        )
        .localCheckpoint(eager=False)
    )


def _core_degrees(edges: DataFrame) -> DataFrame:
    final_adj = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).select(F.col("u").alias("node"))
    return final_adj.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )


@query("graph_k_core_converged", oracle=_oracle_kcore_sql(rounds=6))
def graph_k_core_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE 2-core: graph_k_core's peel round body run to FIXPOINT —
    the production form its docstring promises (dedup_doc_clusters'
    convergence-sum loop applied to peeling). Each round is the
    identical degree-aggregate + two left-semi restrictions; the loop
    stops when a round removes no edge, detected by ONE count action
    per round over the lazily-checkpointed (already shrunken) edge
    relation — O(surviving edges) per check, never the base graph.
    Peeling only ever REMOVES edges, so an unchanged count IS the
    fixpoint, and the fixpoint is the k-core regardless of peel order
    (Matula/Beck) — which is why the unrolled-6-rounds oracle states
    the same relation on any graph that converges within 6 (the
    fixture converges in 4; test_properties pins fixpoint equality
    with the registered 4-round unroll, and a hard cap of 50 rounds
    guards pathological chains: a path graph peels one layer per
    round, so production graphs with adversarial diameter should
    raise the cap or pre-bucket by degeneracy).
    Scale posture: identical to graph_k_core (whose measured decades
    end 0.29x at sf100) plus one count job per round — each a
    metadata-cheap reduce over the checkpointed relation that
    collapses ~30x in round 1."""
    K = 2
    edges = _strong_edges(spark, sf_dir).localCheckpoint(eager=False)
    prev = -1
    for _ in range(50):
        n = edges.count()  # materializes the pending lazy checkpoint
        if n == prev:
            break
        prev = n
        edges = _peel_round(edges, K)
    return _core_degrees(edges)


@query(
    "graph_connected_components",
    oracle="""
    WITH RECURSIVE pairs AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY a.l_orderkey, 1, 2
    ), e0 AS MATERIALIZED (
        SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2
    ), edges AS MATERIALIZED (
        SELECT u AS a, v AS b FROM e0
        UNION
        SELECT v, u FROM e0
    ), nodes AS (
        SELECT DISTINCT a AS node FROM edges
    ), reach AS (
        SELECT node, node AS m FROM nodes
        UNION
        SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.m
    )
    SELECT node, MIN(m) AS component FROM reach GROUP BY 1
    """,
)
def graph_connected_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Connected components of the strong co-purchase graph — the
    canonical transitive-closure operator, first-class rather than
    embedded in a pipeline (dedup_doc_clusters and ml_dbscan_grid run
    the same fixpoint on their own derived graphs): every edge-touched
    part labeled with the MINIMUM part id reachable from it. The
    strong edge list (`_strong_edges`, co-ordered >= 2) feeds
    operators/dedup.connected_components' min-label propagation (one
    node-keyed join + aggregate per round, label-sum convergence, lazy
    checkpoints; converges in diameter rounds).

    The oracle states the same fixpoint as a recursive reach-set CTE
    (node x every reachable label, MIN per node) — correct, but
    O(sum of component-size^2) tuples: at sf0.01 this graph has a
    1,860-node giant component and the reach relation is ~3.4M rows
    (measured 6.8 s), while the engine's propagation carries exactly
    ONE label per node per round at any component shape. That
    asymmetry — enumerate-all-reachable vs iterate-min — is the whole
    scale argument for label propagation, and it is why GraphX/
    GraphFrames ship this loop rather than a closure join. Diameter
    note: min-label needs diameter rounds; on adversarial
    high-diameter graphs the O(log n)-round large-star/small-star
    alternation is the published upgrade (same per-round shuffle
    inventory), which connected_components' docstring already cites.

    Measured (r8d, BASELINE.md r8d scaling section): the synthetic
    disjoint-copy decade grows component COUNT only — the one
    dimension the quadratic oracle is immune to — and reads 10.0x;
    on a merged-component decade (6M rows, partkeys shared across
    copies so components fuse) the engine finishes in 13.0 s while
    the oracle did not complete one run in 30 wall-clock minutes
    (>= 140x inversion) — the component-SIZE dimension a growing
    corpus actually follows, the k_core-sf100 result's analogue."""
    from ..operators.dedup import connected_components

    edges = _strong_edges(spark, sf_dir).localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col("u").alias("id"))
        .unionByName(edges.select(F.col("v").alias("id")))
        .distinct()
    )
    return connected_components(
        edges, nodes, id_col="id", src_col="u", dst_col="v"
    )


@query(
    "stat_spearman",
    oracle="""
    WITH v AS (
        SELECT CAST(round(l_quantity * 10000) AS BIGINT) AS q4,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS p4
        FROM lineitem
    ), rx AS (
        SELECT q4,
               2 * COALESCE(SUM(t) OVER (ORDER BY q4
                     ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) + t + 1 AS rx2
        FROM (SELECT q4, CAST(COUNT(*) AS BIGINT) AS t
              FROM v GROUP BY 1)
    ), ry AS (
        SELECT p4,
               2 * COALESCE(SUM(t) OVER (ORDER BY p4
                     ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) + t + 1 AS ry2
        FROM (SELECT p4, CAST(COUNT(*) AS BIGINT) AS t
              FROM v GROUP BY 1)
    ), j AS (
        SELECT rx.rx2, ry.ry2
        FROM v JOIN rx USING (q4) JOIN ry USING (p4)
    ), mo AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(rx2) AS HUGEINT) AS sx,
               CAST(SUM(ry2) AS HUGEINT) AS sy,
               CAST(SUM(CAST(rx2 AS HUGEINT) * rx2) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(ry2 AS HUGEINT) * ry2) AS HUGEINT) AS syy,
               CAST(SUM(CAST(rx2 AS HUGEINT) * ry2) AS HUGEINT) AS sxy
        FROM j
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6)
               AS rho
    FROM mo
    """,
)
def stat_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (quantity vs extended price) — the
    distribution-free complement of agg_corr's Pearson: correlate the
    MIDRANKS, so monotone-but-nonlinear association registers and
    outliers lose leverage. Completes the nonparametric family
    (stat_mannwhitney location, stat_ks_2samp shape, this one
    association).

    Exactness and shape: both variables discretize to fixed-point
    ints; each rank map is ONE distinct-value-grain aggregate plus a
    cumulative count window, and midranks stay integral as 2x-scaled
    ranks (2*cprev + t + 1) — Pearson is scale-invariant so rho on 2x
    ranks equals rho on ranks. The quantity map (~50 cells, bounded
    by the value domain) broadcasts onto the fact table; the price
    map joins on its own key (domain-bounded like stat_mannwhitney's
    cells, never fact-scale). Moment cross-products accumulate in
    decimal(38,0)/HUGEINT (rx2*ry2*n overflows int64 past sf0.3) and
    only the final rho divides into IEEE double, rounded 6dp.

    Plan (REWRITTEN r7 after the measured sf3 refutation of the lazy
    3-scan form — 1.80 s at sf1 but 3.99 s at sf3, growing faster
    than DuckDB): the fact table collapses ONCE to the JOINT
    (q4, p4) cell grain — the minimal sufficient statistic, bounded
    by the value grid like stat_mannwhitney's cells — LAZY-
    checkpointed so its three consumers (two marginal aggregates +
    the weighting join) read one materialization instead of
    re-running the fact aggregate (plain exchange reuse does NOT
    dedupe it: ReusedExchange verified absent; EAGER checkpointing
    adds a barrier job, 2.64 vs 2.16 s at sf0.1). Everything
    downstream is cell-side: each midrank map is its own marginal
    aggregate plus ONE skinny cumulative window (orderBy's default
    RANGE frame is ties-inclusive, midrank2 = 2*cum - t + 1), the
    ~50-value quantity map broadcasts, and the five moment sums
    weight each cell by its count. ONE fact scan + ONE fact exchange
    total; the r6 shape paid three fact scans plus a FACT-scale join
    on the 583k-value price key. Alternatives measured and rejected
    (min of 3 at sf0.1/sf1/sf3): four chained windows over the joint
    collapse to one partition, 2.49/2.43/3.94 s; spread scan
    1.97/1.98/2.78 s (wins only the sf0.1 floor, loses both scale
    points to shard-read overhead); ADOPTED lazy-checkpoint unspread
    2.16/1.73/2.51 s vs the r6 form's 2.13/1.80/3.99 s. The residual
    ratio vs DuckDB (~6x, flattening with scale) is the fact
    exchange itself: the joint-cell partial aggregate barely
    combines map-side (~30 rows/cell spread across all tasks), so
    the shuffle carries near-fact volume a single-box engine never
    serializes — exactly the cost that shards across a real
    cluster. r8 map-side-combine experiment (VERDICT item 6; min of
    3, same session): (a) an explicit partition-local pre-reduce to
    the cell grain (Arrow mapInPandas before the global aggregate)
    REJECTED — 5.44 s sf0.1 / 6.22 s sf3 vs 3.30/3.30 adopted; the
    Python-side hash merge re-pays what Spark's partial
    HashAggregate already does JVM-side. (b) broadcasting BOTH rank
    maps onto the raw fact scan (zero fact exchange, three fact
    scans) REJECTED at scale — 2.81 s sf0.1 (wins the floor) but
    3.97 s sf3: the extra scans grow linearly while the adopted
    form's joint-cell exchange is domain-bounded, so its partials
    combine BETTER as multiplicity rises (sf3 == sf0.1 == 3.30 s,
    duck 0.574 s at sf3 -> flat ~5.7x, the documented single-box
    exchange tax). Late-r8 endgame: the trajectory measured out to
    five decades CROSSES UNDER THE BAR — 8.26x sf1, 5.80x sf3,
    3.58x sf10, **1.38x at sf30** (180M rows: duck's cell aggregate
    goes superlinear, 1.02 -> 5.31 s on 3x data, while this plan's
    one exchange merely doubles, 3.66 -> 7.32 s)."""
    cells = (
        table(spark, sf_dir, "lineitem")
        .select(
            F.round(F.col("l_quantity") * 10000)
            .cast("long")
            .alias("q4"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("p4"),
        )
        .groupBy("q4", "p4")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    # orderBy's default frame is RANGE UNBOUNDED PRECEDING..CURRENT
    # ROW: ties-inclusive cum, midrank2 = 2*cum - t + 1.
    def rank_map(key: str, out: str) -> DataFrame:
        marg = cells.groupBy(key).agg(F.sum("c").alias("t"))
        cum = F.sum("t").over(Window.orderBy(key))
        return marg.select(key, (2 * cum - F.col("t") + 1).alias(out))

    ranked = (
        cells.join(F.broadcast(rank_map("q4", "rx2")), "q4")
        .join(rank_map("p4", "ry2"), "p4")
        .select("c", "rx2", "ry2")
    )
    dec = "decimal(38,0)"
    cd = F.col("c").cast(dec)
    mo = ranked.agg(
        F.sum("c").cast(dec).alias("n"),
        F.sum(cd * F.col("rx2")).cast(dec).alias("sx"),
        F.sum(cd * F.col("ry2")).cast(dec).alias("sy"),
        F.sum(cd * F.col("rx2") * F.col("rx2")).cast(dec).alias("sxx"),
        F.sum(cd * F.col("ry2") * F.col("ry2")).cast(dec).alias("syy"),
        F.sum(cd * F.col("rx2") * F.col("ry2")).cast(dec).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return mo.select(
        F.col("n").cast("long").alias("n"),
        F.round(num / den, 6).alias("rho"),
    )


@query(
    "stat_kendall",
    oracle="""
    WITH v AS (
        SELECT CAST(round(l_quantity) AS BIGINT) AS x,
               CAST(round(l_discount * 100) AS BIGINT) AS y
        FROM lineitem
    ), cells AS (
        SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c
        FROM v GROUP BY 1, 2
    ), pairs AS (
        SELECT CAST(SUM(CASE WHEN a.y < b.y
                        THEN CAST(a.c AS HUGEINT) * b.c
                        ELSE 0 END) AS HUGEINT) AS conc,
               CAST(SUM(CASE WHEN a.y > b.y
                        THEN CAST(a.c AS HUGEINT) * b.c
                        ELSE 0 END) AS HUGEINT) AS disc
        FROM cells a JOIN cells b ON a.x < b.x
    ), margins AS (
        SELECT CAST(SUM((CAST(tx AS HUGEINT) * (tx - 1)) // 2)
                    AS HUGEINT) AS t_x
        FROM (SELECT x, CAST(SUM(c) AS BIGINT) AS tx
              FROM cells GROUP BY 1)
    ), margins_y AS (
        SELECT CAST(SUM((CAST(ty AS HUGEINT) * (ty - 1)) // 2)
                    AS HUGEINT) AS t_y
        FROM (SELECT y, CAST(SUM(c) AS BIGINT) AS ty
              FROM cells GROUP BY 1)
    ), tot AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM v
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(conc AS BIGINT) AS concordant,
           CAST(disc AS BIGINT) AS discordant,
           round(CAST(conc - disc AS DOUBLE)
                 / sqrt(CAST((n * (n - 1)) // 2 - t_x AS DOUBLE)
                        * CAST((n * (n - 1)) // 2 - t_y AS DOUBLE)), 6)
               AS tau_b
    FROM pairs, margins, margins_y, tot
    """,
)
def stat_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b (quantity vs discount) — the pair-concordance
    rank correlation. Naively O(n^2) over ROWS; here both variables
    have DOMAIN-BOUNDED integer support (quantity 1..50, discount
    0..10), so the joint distribution collapses to a <=561-cell grid
    and concordant/discordant pair mass is an exact sum of c_i*c_j
    over grid-cell pairs — one fact-scale aggregate, then a
    few-hundred-row broadcast self-join that costs the same at 100 TB
    as at sf0.01 (the stat_mannwhitney distinct-value-grain posture
    taken to two dimensions). Tie corrections come off the grid
    margins; everything stays integral in decimal(38,0)/HUGEINT
    (pair counts pass int64 around sf30) until the single tau-b
    division, rounded 6dp."""
    v = table(spark, sf_dir, "lineitem", spread=True).select(
        F.round("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_discount") * 100).cast("long").alias("y"),
    )
    cells = v.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    dec = "decimal(38,0)"
    a = cells.select(
        F.col("x").alias("ax"), F.col("y").alias("ay"),
        F.col("c").cast(dec).alias("ac"),
    )
    b = cells.select(
        F.col("x").alias("bx"), F.col("y").alias("by"),
        F.col("c").cast(dec).alias("bc"),
    )
    pairs = a.join(
        F.broadcast(b), F.col("ax") < F.col("bx")
    ).agg(
        F.sum(
            F.when(
                F.col("ay") < F.col("by"), F.col("ac") * F.col("bc")
            ).otherwise(F.lit(0).cast(dec))
        )
        .cast(dec)
        .alias("conc"),
        F.sum(
            F.when(
                F.col("ay") > F.col("by"), F.col("ac") * F.col("bc")
            ).otherwise(F.lit(0).cast(dec))
        )
        .cast(dec)
        .alias("disc"),
    )
    tx = (
        cells.groupBy("x")
        .agg(F.sum("c").cast(dec).alias("t"))
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) / 2)
            .cast(dec)
            .alias("t_x")
        )
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("c").cast(dec).alias("t"))
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) / 2)
            .cast(dec)
            .alias("t_y")
        )
    )
    n = v.agg(F.count(F.lit(1)).cast(dec).alias("n"))
    tot = (
        pairs.crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .crossJoin(F.broadcast(n))
    )
    n0 = F.col("n") * (F.col("n") - 1) / 2
    return tot.select(
        F.col("n").cast("long").alias("n"),
        F.col("conc").cast("long").alias("concordant"),
        F.col("disc").cast("long").alias("discordant"),
        F.round(
            (F.col("conc") - F.col("disc")).cast("double")
            / F.sqrt(
                (n0 - F.col("t_x")).cast("double")
                * (n0 - F.col("t_y")).cast("double")
            ),
            6,
        ).alias("tau_b"),
    )


@query(
    "graph_adamic_adar",
    oracle="""
    WITH pairs AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY a.l_orderkey, 1, 2
    ), und AS (
        SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2
    ), adj AS (
        SELECT u AS node, v AS nbr FROM und
        UNION ALL
        SELECT v AS node, u AS nbr FROM und
    ), deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY 1
    ), scored AS (
        SELECT a.node AS u, b.node AS v,
               CAST(COUNT(*) AS BIGINT) AS n_common,
               round(SUM(1.0 / ln(dm.d)), 6) AS aa
        FROM adj a
        JOIN adj b ON b.nbr = a.nbr AND a.node < b.node
        JOIN deg dm ON dm.node = a.nbr
        GROUP BY 1, 2
    ), nonedge AS (
        SELECT s.* FROM scored s
        WHERE NOT EXISTS (SELECT 1 FROM und e
                          WHERE e.u = s.u AND e.v = s.v)
    ), rk AS (
        SELECT u, v, n_common, aa,
               row_number() OVER (ORDER BY aa DESC, u, v) AS rnk
        FROM nonedge
    )
    SELECT u, v, n_common, aa, CAST(rnk AS BIGINT) AS rnk
    FROM rk WHERE rnk <= 100
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the strong part co-purchase
    graph — graph_jaccard_nbrs' weighted sibling: a shared neighbor w
    contributes 1/ln(deg(w)), so RARE middles dominate (two parts
    bridged only by a ubiquitous hub score ~0, the same inverse-
    frequency idea BM25's idf applies to terms). Only NON-adjacent
    pairs rank (it predicts missing links), so the existing edge set
    anti-joins out before the top-100 cut.

    Shape: the wedge join generates candidates from shared middles
    (never all-pairs); the middle's degree joins at the ADJACENCY
    grain before pairing, so the weight is a per-row constant by the
    time pairs form and the pair aggregate is one fused sum. Counts
    and degrees stay exact int64; 1/ln(d) is IEEE-identical across
    engines on identical integer d, the per-pair sum has few terms,
    and the 6-dp round absorbs order drift (the text_bm25 posture).
    Hub middles cost deg^2 wedges — bounded here by the strong-edge
    filter; at 100 TB the production guard is the same hub-degree cap
    the shingle df-cap applies, recall-lossless for AA because capped
    hubs contribute the least score."""
    und = _strong_edges(spark, sf_dir).transform(scoped_cache)
    adj = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).select(F.col("u").alias("node"), F.col("v").alias("nbr"))
    deg = adj.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    # degree-1 middles can never anchor a wedge; dropping them BEFORE
    # the weight expression also keeps ANSI mode away from 1/ln(1)
    wadj = adj.join(
        deg.select(F.col("node").alias("nbr"), "d"), "nbr"
    ).filter(F.col("d") >= 2).select(
        "node", "nbr", (F.lit(1.0) / F.log(F.col("d"))).alias("wm")
    )
    a, b = wadj.alias("a"), wadj.alias("b")
    scored = (
        a.join(
            b,
            (F.col("b.nbr") == F.col("a.nbr"))
            & (F.col("a.node") < F.col("b.node")),
        )
        .groupBy(
            F.col("a.node").alias("u"), F.col("b.node").alias("v")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.round(F.sum("a.wm"), 6).alias("aa"),
        )
    )
    nonedge = scored.join(und, ["u", "v"], "left_anti")
    return (
        nonedge.withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.desc("aa"), "u", "v")),
        )
        .filter(F.col("rnk") <= 100)
        .select(
            "u", "v", "n_common", "aa",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@query(
    "graph_clustering_coeff",
    oracle="""
    WITH pairs AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY a.l_orderkey, 1, 2
    ), und AS (
        SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        GROUP BY 1
    ),
    ori AS (
        SELECT CASE WHEN (da.d, u) < (db.d, v) THEN u ELSE v END AS src,
               CASE WHEN (da.d, u) < (db.d, v) THEN v ELSE u END AS dst
        FROM und JOIN deg da ON da.node = u JOIN deg db ON db.node = v
    ),
    closed AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM ori e1
        JOIN ori e2 ON e2.src = e1.src AND e1.dst < e2.dst
        JOIN und e ON e.u = e1.dst AND e.v = e2.dst
    ),
    tri AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM (
            SELECT unnest(ARRAY[a, b, c]) AS node FROM closed)
        GROUP BY 1
    ),
    scored AS (
        SELECT deg.node, deg.d, COALESCE(tri.t, 0) AS t,
               round(2.0 * COALESCE(tri.t, 0)
                     / (deg.d * (deg.d - 1)), 6) AS coeff
        FROM deg LEFT JOIN tri ON tri.node = deg.node
        WHERE deg.d >= 2
    ), rk AS (
        SELECT node, d, t, coeff,
               row_number() OVER (ORDER BY coeff DESC, node) AS rnk
        FROM scored
    )
    SELECT node, d AS degree, t AS triangles, coeff,
           CAST(rnk AS BIGINT) AS rnk
    FROM rk WHERE rnk <= 100
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node (2*tri / d*(d-1)) over
    the strong co-purchase graph — the node-grain refinement of
    graph_triangles' global count: how close each part's neighborhood
    is to a clique, the standard community-structure / spam-node
    feature. Reuses the degree-ordered orientation verbatim, but the
    wedge keeps its APEX so every closed triangle lands once as
    (a, b, c) and explodes to its three member nodes map-side — per-
    node counts then cost one node-keyed exchange, and degrees join
    at the node grain. Nodes with d >= 2 rank top-100 by rounded
    coefficient with an id tiebreak; integers everywhere until the
    one division."""
    und = _strong_edges(spark, sf_dir).transform(scoped_cache)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    da = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    db = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    u_first = F.struct("du", "u") < F.struct("dv", "v")
    ori = und.join(da, "u").join(db, "v").select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    adj = ori.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("ns")
    )
    w1 = adj.select("src", "ns", F.posexplode("ns").alias("i", "b"))
    wedges = w1.select(
        "src",
        "b",
        F.explode(F.slice("ns", F.col("i") + 2, F.size("ns"))).alias("c"),
    )
    closed = wedges.join(
        und, (wedges.b == und.u) & (wedges.c == und.v)
    ).select("src", "b", "c")
    tri = (
        closed.select(
            F.explode(F.array("src", "b", "c")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    scored = (
        deg.filter(F.col("d") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            "d",
            F.coalesce(F.col("t"), F.lit(0)).alias("t"),
            F.round(
                2.0
                * F.coalesce(F.col("t"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("coeff"),
        )
    )
    return (
        scored.withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.desc("coeff"), "node")
            ),
        )
        .filter(F.col("rnk") <= 100)
        .select(
            "node",
            F.col("d").alias("degree"),
            F.col("t").alias("triangles"),
            "coeff",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


_DBSCAN_EPS4 = 500       # eps = 0.05 in the v4 fixed point
_DBSCAN_MINPTS = 4


def _grid_eps_pairs(pts: DataFrame, eps4: int) -> DataFrame:
    """Every ORDERED pair (pa, pb), pa != pb, within integer distance
    eps4 — exactly one row per direction — via eps-sized grid cells.

    r12 (VERDICT r11 item 5, guide §2.3 — shuffle fewer probe rows):
    HALF-neighborhood probe with mirror expansion. The former 3x3
    grid probe replicated every point 9x into the (cell-key)
    exchange; eps-adjacency is symmetric, so probing only {(0,0)} ∪
    one offset from each antipodal pair {(0,1),(1,-1),(1,0),(1,1)}
    finds every unordered pair exactly once — cross-cell pairs in
    the probed direction (a point lives in exactly one cell, so
    pa != pb holds by construction), same-cell pairs pinned to
    pa < pb — and a map-side mirror union AFTER the join restores
    both directions for the degree count, the CC edge list, and the
    border attach. 5/9 the probe explode rows into the exchange,
    ~half the join output; identical ordered-pair multiset (pinned
    by test_dbscan_halfprobe_pairset and the query's oracle hash)."""
    fd = lambda a: F.expr(_fdiv_sql(a, str(eps4)).format(DIV="div"))  # noqa: E731
    cells = pts.select(
        "pid", "x4", "y4",
        fd("x4").alias("cx"), fd("y4").alias("cy"),
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx, dy in ((0, 0), (0, 1), (1, -1), (1, 0), (1, 1))
        ]
    )
    probe = cells.select(
        F.col("pid").alias("pa"),
        F.col("x4").alias("ax4"),
        F.col("y4").alias("ay4"),
        F.explode(offs).alias("o"),
        "cx",
        "cy",
    ).select(
        "pa", "ax4", "ay4",
        (F.col("cx") + F.col("o.dx")).alias("kx"),
        (F.col("cy") + F.col("o.dy")).alias("ky"),
        ((F.col("o.dx") == 0) & (F.col("o.dy") == 0)).alias("same"),
    )
    half = (
        probe.join(
            cells.select(
                F.col("pid").alias("pb"),
                F.col("x4").alias("bx4"),
                F.col("y4").alias("by4"),
                F.col("cx").alias("kx"),
                F.col("cy").alias("ky"),
            ),
            ["kx", "ky"],
        )
        .filter(
            (~F.col("same") | (F.col("pa") < F.col("pb")))
            & (
                (F.col("ax4") - F.col("bx4"))
                * (F.col("ax4") - F.col("bx4"))
                + (F.col("ay4") - F.col("by4"))
                * (F.col("ay4") - F.col("by4"))
                <= eps4 * eps4
            )
        )
        .select("pa", "pb")
    )
    # mirror MAP-SIDE in the same pass (explode of a 2-element array),
    # NOT as a self-union — a union would reference the probe-join
    # subtree twice and re-execute it per reference (the r11
    # sim_dedup_recall lesson)
    return half.select(
        F.explode(
            F.array(
                F.struct(F.col("pa"), F.col("pb")),
                F.struct(F.col("pb").alias("pa"), F.col("pa").alias("pb")),
            )
        ).alias("p")
    ).select("p.pa", "p.pb")

_DBSCAN_ORACLE = f"""
    WITH RECURSIVE pts AS (
        SELECT vec_id AS pid,
               CAST(round(CAST(embedding[1] AS DOUBLE) * 10000)
                    AS BIGINT) AS x4,
               CAST(round(CAST(embedding[2] AS DOUBLE) * 10000)
                    AS BIGINT) AS y4
        FROM embeddings
    ), pairs AS (
        SELECT a.pid AS pa, b.pid AS pb
        FROM pts a JOIN pts b
          ON a.pid != b.pid
         AND (a.x4 - b.x4) * (a.x4 - b.x4)
             + (a.y4 - b.y4) * (a.y4 - b.y4)
             <= {_DBSCAN_EPS4 * _DBSCAN_EPS4}
    ), deg AS (
        SELECT pa AS pid, CAST(COUNT(*) AS BIGINT) AS n
        FROM pairs GROUP BY 1
    ), cores AS (
        SELECT pid FROM deg WHERE n >= {_DBSCAN_MINPTS}
    ), ce AS (
        SELECT pa, pb FROM pairs
        JOIN cores ca ON ca.pid = pa
        JOIN cores cb ON cb.pid = pb
    ), reach AS (
        SELECT pid AS node, pid AS m FROM cores
        UNION
        SELECT r.node, e.pb FROM reach r JOIN ce e ON e.pa = r.m
    ), cc AS (
        SELECT node, MIN(m) AS comp FROM reach GROUP BY 1
    ), border AS (
        SELECT p.pa AS pid, MIN(cc.comp) AS comp
        FROM pairs p
        JOIN cores c ON c.pid = p.pb
        JOIN cc ON cc.node = p.pb
        WHERE p.pa NOT IN (SELECT pid FROM cores)
        GROUP BY 1
    )
    SELECT c.pid, 'core' AS role, cc.comp AS cluster
    FROM cores c JOIN cc ON cc.node = c.pid
    UNION ALL
    SELECT pid, 'border' AS role, comp AS cluster FROM border
    UNION ALL
    SELECT p.pid, 'noise' AS role, CAST(-1 AS BIGINT) AS cluster
    FROM pts p
    WHERE p.pid NOT IN (SELECT pid FROM cores)
      AND p.pid NOT IN (SELECT pid FROM border)
"""


@query("ml_dbscan_grid", oracle=_DBSCAN_ORACLE)
def ml_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-blocked DBSCAN over the first two embedding coordinates —
    the density clustering that, unlike k-means, needs no k, finds
    arbitrary-shape clusters, and labels outliers as NOISE (its role
    in a curation pipeline: embedding-space outlier quarantine).
    eps = 0.05 (v4 units 500), minPts = 4; border points attach to
    the MIN component among their core neighbors (classic DBSCAN
    leaves this arbitrary; pinning it makes both engines agree).

    Shape — the epsilon-neighborhood join is the whole game at scale:
    points land in eps-sized grid cells (sign-safe integer floor
    division), each point replicates to its 3x3 cell neighborhood
    map-side (bounded 9x fan-out), and ONE (cell-key) hash join
    yields exactly the candidate pairs whose cells touch — every
    true eps-pair is among them, so the exact integer distance filter
    loses nothing. Cost is sum of products of adjacent-cell
    populations, never n^2 (the oracle states the n^2 form; the grid
    is the scale path, same discipline as join_geo_grid /
    dedup_embedding_cosine's blocking). Core flags are one count
    aggregate; the cluster fixpoint reuses operators/dedup.
    connected_components (min-label propagation, convergence by
    label-sum, localCheckpoint per round) on the CORE-CORE subgraph
    only — the same edge-touched-nodes-only discipline as
    dedup_doc_clusters. Everything stays integer: squared distances,
    labels, grid keys; no doubles anywhere."""
    from ..operators.dedup import connected_components

    eps4, minpts = _DBSCAN_EPS4, _DBSCAN_MINPTS
    emb = table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").alias("pid"),
        F.round(F.element_at("embedding", 1).cast("double") * 10000)
        .cast("long")
        .alias("x4"),
        F.round(F.element_at("embedding", 2).cast("double") * 10000)
        .cast("long")
        .alias("y4"),
    ).localCheckpoint()
    pairs = _grid_eps_pairs(pts, eps4).localCheckpoint()
    deg = pairs.groupBy("pa").agg(F.count(F.lit(1)).alias("n"))
    cores = deg.filter(F.col("n") >= minpts).select(
        F.col("pa").alias("pid")
    ).localCheckpoint()
    ca = cores.select(F.col("pid").alias("pa"))
    cb = cores.select(F.col("pid").alias("pb"))
    ce = pairs.join(ca, "pa").join(cb, "pb")
    # shortcut=True (r11): the eps-graph's core components are DEEP
    # (grid-adjacent density ridges chain; 10 propagation rounds at
    # sf0.1) — pointer doubling converges them in ~6 rounds, measured
    # faster in 3 of 4 interleaved A/B runs (e.g. 6.07 -> 4.82 s; see
    # connected_components docstring). Near-dup consumers keep the
    # default: their cluster graphs are shallow and the extra
    # node-scale join per round costs more than it saves.
    cc = connected_components(
        ce, cores.select(F.col("pid").alias("id")),
        id_col="id", src_col="pa", dst_col="pb", shortcut=True,
    )
    core_rows = cores.join(
        cc, cores.pid == cc.node
    ).select(
        "pid", F.lit("core").alias("role"),
        F.col("component").alias("cluster"),
    )
    border = (
        pairs.join(cb.select(F.col("pb"), F.lit(1).alias("_c")), "pb")
        .join(cores.select(F.col("pid").alias("pa")), "pa", "left_anti")
        .join(cc, F.col("pb") == F.col("node"))
        .groupBy("pa")
        .agg(F.min("component").alias("cluster"))
        .select(
            F.col("pa").alias("pid"),
            F.lit("border").alias("role"),
            "cluster",
        )
    )
    labeled = core_rows.unionByName(border)
    noise = pts.join(
        labeled.select("pid"), "pid", "left_anti"
    ).select(
        "pid",
        F.lit("noise").alias("role"),
        F.lit(-1).cast("long").alias("cluster"),
    )
    return labeled.unionByName(noise)


@query(
    "sql_recursive_hierarchy",
    oracle="""
    WITH RECURSIVE walk AS (
        SELECT p_partkey AS node, p_partkey AS cur,
               CAST(0 AS BIGINT) AS d
        FROM part
        UNION ALL
        SELECT node, cur // 10, d + 1 FROM walk WHERE cur >= 10
    ), finals AS (
        SELECT node, cur AS root, d FROM walk WHERE cur < 10
    )
    SELECT d AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(COUNT(DISTINCT root) AS BIGINT) AS n_roots,
           CAST(SUM(root) AS BIGINT) AS root_sum
    FROM finals GROUP BY 1
    """,
)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive hierarchy walk (WITH RECURSIVE's bread-and-butter:
    org charts, BOM explosion, category trees) — every part climbs
    its construction-stated ancestor chain parent(n) = n div 10 to
    its single-digit root, reporting per-depth node counts and root
    aggregates. The oracle states the walk LITERALLY as a recursive
    CTE; Spark has no recursive CTE, and the scale-correct
    translation is POINTER DOUBLING, not linear peeling: each round
    joins the frontier's ancestor pointer onto itself (anc' =
    anc(anc), d' = d + d(anc)), so a depth-D hierarchy resolves in
    ceil(log2 D) self-joins — 3 rounds here for depth <= 6 (partkey
    < 10^7), 20 rounds would cover a million-deep chain. Roots are
    fixpoints (anc = self, d = 0), so converged rows pass through
    unchanged; each round is one equi-join on the ancestor key,
    localCheckpointed to keep lineage flat. All integers; sign-safe
    floor division per the shared _fdiv_sql convention."""
    parts = table(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("node")
    )
    fd10 = F.expr(_fdiv_sql("node", "10").format(DIV="div"))
    state = parts.select(
        "node",
        F.when(F.col("node") < 10, F.col("node"))
        .otherwise(fd10)
        .alias("anc"),
        F.when(F.col("node") < 10, F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("d"),
    ).localCheckpoint(eager=False)
    # lazy checkpoints: each round references `state` twice, so the
    # lineage would double per round (2^rounds leaves at a depth the
    # driver window never hits here, but fatal at 20 doublings for a
    # million-deep chain); eager=False truncates it at the final
    # action's materialization without paying a barrier job per round
    # (measured: 4 eager jobs 1.13 s vs one lazy job 0.89 s at sf0.1)
    for _ in range(3):  # 2^3 >= max depth 6
        hop = state.select(
            F.col("node").alias("anc"),
            F.col("anc").alias("anc2"),
            F.col("d").alias("d2"),
        )
        state = (
            state.join(hop, "anc")
            .select(
                "node",
                F.col("anc2").alias("anc"),
                (F.col("d") + F.col("d2")).alias("d"),
            )
            .localCheckpoint(eager=False)
        )
    return state.groupBy(F.col("d").alias("depth")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.countDistinct("anc").cast("long").alias("n_roots"),
        F.sum("anc").cast("long").alias("root_sum"),
    )


def _oracle_gbt_sql(rounds: int = 3) -> str:
    """DuckDB twin of ml_gbt_stumps: the cell aggregate, then
    `rounds` unrolled L2-boosting rounds — candidate variance gains
    (4dp-rounded doubles of exact int64 sums, (feat, thr) tiebreak),
    sign-safe floor leaf means, halved floor updates — and the
    post-round SSE. Every compared state is integral until the two
    display doubles."""

    def fd(a: str, b: str) -> str:
        return _fdiv_sql(a, b).format(DIV="//")

    parts = [
        f"""
    WITH v AS (
        SELECT CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS f1,
               CAST((CAST(CAST(ts AS TIMESTAMP) AS DATE)
                     - DATE '1970-01-01') % 7 AS BIGINT) AS f2,
               CAST(round(value * 10000) AS BIGINT) AS y
        FROM events
    ), cells AS (
        SELECT f1, f2, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM v GROUP BY 1, 2
    ), cand AS (
        SELECT 1 AS feat, unnest(range(0, 23)) AS thr
        UNION ALL
        SELECT 2 AS feat, unnest(range(0, 6)) AS thr
    ), tot0 AS (
        SELECT CAST(SUM(sy) AS BIGINT) AS s,
               CAST(SUM(n) AS BIGINT) AS m
        FROM cells
    ), p0 AS (
        SELECT f1, f2, n, sy, syy,
               {fd('s', 'm')} AS pred
        FROM cells, tot0
    )"""
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f""", rs{k} AS (
        SELECT f1, f2, n, sy, syy, pred,
               sy - n * pred AS rs
        FROM p{k - 1}
    ), sc{k} AS (
        SELECT c.feat, c.thr,
               CAST(SUM(CASE WHEN (CASE c.feat WHEN 1 THEN r.f1
                                   ELSE r.f2 END) <= c.thr
                        THEN r.rs ELSE 0 END) AS BIGINT) AS sl,
               CAST(SUM(CASE WHEN (CASE c.feat WHEN 1 THEN r.f1
                                   ELSE r.f2 END) <= c.thr
                        THEN r.n ELSE 0 END) AS BIGINT) AS nl,
               CAST(SUM(r.rs) AS BIGINT) AS st,
               CAST(SUM(r.n) AS BIGINT) AS nt
        FROM cand c, rs{k} r GROUP BY 1, 2
    ), best{k} AS (
        SELECT feat, thr, sl, nl, st, nt,
               {fd('sl', 'nl')} AS gl,
               {fd('(st - sl)', '(nt - nl)')} AS gr
        FROM (
            SELECT *, row_number() OVER (
                ORDER BY round(CAST(sl AS DOUBLE) * sl / nl
                               + CAST(st - sl AS DOUBLE) * (st - sl)
                                 / (nt - nl), 4) DESC,
                         feat, thr) AS rk
            FROM sc{k} WHERE nl > 0 AND nt - nl > 0
        ) WHERE rk = 1
    ), p{k} AS (
        SELECT r.f1, r.f2, r.n, r.sy, r.syy,
               r.pred + (CASE WHEN (CASE b.feat WHEN 1 THEN r.f1
                                    ELSE r.f2 END) <= b.thr
                         THEN {fd('b.gl', '2')}
                         ELSE {fd('b.gr', '2')} END) AS pred
        FROM rs{k} r, best{k} b
    ), sse{k} AS (
        SELECT round(CAST(SUM(syy
                    - 2 * CAST(pred AS HUGEINT) * sy
                    + CAST(n AS HUGEINT) * pred * pred) AS DOUBLE)
                / 100000000.0, 4) AS sse
        FROM p{k}
    )"""
        )
    finals = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({k} AS BIGINT) AS rnd,
           CAST(b.feat AS BIGINT) AS feat, CAST(b.thr AS BIGINT) AS thr,
           CAST(b.gl AS BIGINT) AS leaf_l, CAST(b.gr AS BIGINT) AS leaf_r,
           s.sse
    FROM best{k} b, sse{k} s"""
        for k in range(1, rounds + 1)
    )
    return "".join(parts) + "\n" + finals


@query("ml_gbt_stumps", oracle=_oracle_gbt_sql())
def ml_gbt_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 gradient-boosted stumps (3 rounds, learning rate 1/2) on
    event value vs hour/day-of-week features — the squared-loss GBM
    next to ml_adaboost's exponential-loss classifier, completing the
    boosting family with the regressor production pipelines actually
    run. Same cell-grain architecture (ml/ensemble.gbt_cells): ONE
    O(N) aggregate collapses the corpus to <= 24*7 cells carrying
    (n, sum y, sum y^2); every round's candidate sweep, leaf fit, and
    prediction update runs on that domain-bounded relation, so
    per-round cost is independent of corpus size. Predictions and
    leaves are integer-exact (floor means, floor-halved updates);
    the split criterion sl^2/nl + sr^2/nr is an IEEE double of
    identical int64 sums, 4dp-rounded with a (feat, thr) tiebreak;
    the unrolled DuckDB oracle hash-matches every split, leaf, and
    post-round SSE."""
    from ..ml.ensemble import gbt_cells_fused

    e = table(spark, sf_dir, "events")
    cells = (
        e.select(
            F.hour("ts").cast("long").alias("f1"),
            (
                F.datediff(F.to_date("ts"), F.lit("1970-01-01")) % 7
            )
            .cast("long")
            .alias("f2"),
            F.round(F.col("value") * 10000).cast("long").alias("y"),
        )
        .groupBy("f1", "f2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
            .cast("decimal(38,0)")
            .alias("syy"),
        )
    )
    # fused control plane: all three rounds in ONE collect job
    # (interleaved A/B at sf0.1, min of 3: loop 2.61 s vs fuse=2
    # 2.34 s vs fuse=3 2.25 s — gbt's argmax branches are cheap
    # enough that full fusion wins, unlike adaboost's)
    return gbt_cells_fused(
        spark, cells, domains={1: 24, 2: 7}, rounds=3, fuse=3
    )


@query(
    "graph_modularity",
    oracle="""
    WITH RECURSIVE pairs AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY a.l_orderkey, 1, 2
    ), und AS (
        SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2
    ), sym AS (
        SELECT u AS a, v AS b FROM und
        UNION ALL SELECT v, u FROM und
    ), nodes AS (
        SELECT DISTINCT a AS node FROM sym
    ), reach AS (
        SELECT node, node AS m FROM nodes
        UNION
        SELECT r.node, s.b FROM reach r JOIN sym s ON s.a = r.m
    ), cc AS (
        SELECT node, MIN(m) AS comp FROM reach GROUP BY 1
    ), deg AS (
        SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY 1
    ), dc AS (
        SELECT cc.comp, CAST(SUM(deg.d) AS BIGINT) AS d_c
        FROM deg JOIN cc ON cc.node = deg.node GROUP BY 1
    ), lc AS (
        SELECT ca.comp, CAST(COUNT(*) AS BIGINT) AS l_c
        FROM und
        JOIN cc ca ON ca.node = und.u
        JOIN cc cb ON cb.node = und.v AND cb.comp = ca.comp
        GROUP BY 1
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM und
    )
    SELECT m.m_edges,
           CAST(COUNT(*) AS BIGINT) AS n_communities,
           round(CAST(SUM(4 * CAST(m.m_edges AS HUGEINT)
                          * COALESCE(lc.l_c, 0)
                          - CAST(dc.d_c AS HUGEINT) * dc.d_c)
                      AS DOUBLE)
                 / (4.0 * m.m_edges * m.m_edges), 6) AS modularity
    FROM dc LEFT JOIN lc ON lc.comp = dc.comp, m
    GROUP BY 1
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the co-purchase graph's connected-
    component partition — the community-QUALITY metric next to the
    community-FINDING ops (doc_clusters, k_core): Q = sum_c(L_c/m -
    (d_c/2m)^2), how much denser communities are than a degree-
    preserving random rewiring. The eval-tier posture of
    sim_ann_recall applied to graph clustering.

    Exactness: Q's numerator folds to sum_c(4*m*L_c - d_c^2) —
    INTEGER in HUGEINT/decimal(38,0) — over one component-grain
    aggregate; a single division by 4m^2 rounds at 6dp. Shape: edges
    + degrees are the shared co-purchase derivation; the partition
    reuses operators/dedup.connected_components (min-label fixpoint);
    intra-edge counts are one join of the edge list against the
    broadcast-or-shuffled label map on BOTH endpoints — all
    node/edge-grain exchanges, nothing quadratic."""
    from ..operators.dedup import connected_components

    und = _strong_edges(spark, sf_dir).localCheckpoint()
    nodes = (
        und.select(F.col("u").alias("id"))
        .unionByName(und.select(F.col("v").alias("id")))
        .distinct()
    )
    cc = connected_components(
        und, nodes, id_col="id", src_col="u", dst_col="v"
    ).localCheckpoint()
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    dec = "decimal(38,0)"
    dc = (
        deg.join(cc, "node")
        .groupBy("component")
        .agg(F.sum("d").cast("long").alias("d_c"))
    )
    lc = (
        und.join(
            cc.select(F.col("node").alias("u"), F.col("component").alias("ca")),
            "u",
        )
        .join(
            cc.select(F.col("node").alias("v"), F.col("component").alias("cb")),
            "v",
        )
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("component"))
        .agg(F.count(F.lit(1)).cast("long").alias("l_c"))
    )
    m = und.agg(F.count(F.lit(1)).cast("long").alias("m_edges"))
    per_c = dc.join(lc, "component", "left").crossJoin(F.broadcast(m))
    num = (
        4 * F.col("m_edges").cast(dec) * F.coalesce(F.col("l_c"), F.lit(0))
        - F.col("d_c").cast(dec) * F.col("d_c")
    )
    return per_c.groupBy("m_edges").agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.round(
            F.sum(num).cast("double")
            / (4.0 * F.col("m_edges") * F.col("m_edges")),
            6,
        ).alias("modularity"),
    )


_ALS_S = 10**4           # fixed-point scale for factors
_ALS_S2 = _ALS_S * _ALS_S
_ALS_LAM = _ALS_S2 // 10  # lambda = 0.1 in S^2 units


def _oracle_als_sql() -> str:
    def fd(a: str, b: str) -> str:
        return _fdiv_sql(a, b).format(DIV="//")

    S, S2, LAM = _ALS_S, _ALS_S2, _ALS_LAM
    return f"""
    WITH ratings AS (
        SELECT o.o_custkey AS u, l.l_partkey AS p,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ), v0 AS (
        SELECT DISTINCT p, CAST({S} AS BIGINT) AS v FROM ratings
    ), u1 AS (
        SELECT r.u,
               {fd(f'CAST(SUM(r.c * v.v) AS BIGINT) * {S2}',
                   f'CAST(SUM(v.v * v.v) AS BIGINT) + {LAM}')} AS f
        FROM ratings r JOIN v0 v ON v.p = r.p GROUP BY 1
    ), v1 AS (
        SELECT r.p,
               {fd(f'CAST(SUM(r.c * u.f) AS BIGINT) * {S2}',
                   f'CAST(SUM(u.f * u.f) AS BIGINT) + {LAM}')} AS v
        FROM ratings r JOIN u1 u ON u.u = r.u GROUP BY 1
    ), u2 AS (
        SELECT r.u,
               {fd(f'CAST(SUM(r.c * v.v) AS BIGINT) * {S2}',
                   f'CAST(SUM(v.v * v.v) AS BIGINT) + {LAM}')} AS f
        FROM ratings r JOIN v1 v ON v.p = r.p GROUP BY 1
    ), v2 AS (
        SELECT r.p,
               {fd(f'CAST(SUM(r.c * u.f) AS BIGINT) * {S2}',
                   f'CAST(SUM(u.f * u.f) AS BIGINT) + {LAM}')} AS v
        FROM ratings r JOIN u2 u ON u.u = r.u GROUP BY 1
    ), rk AS (
        SELECT p, v, row_number() OVER (ORDER BY v DESC, p) AS rnk
        FROM v2
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, p AS partkey, v AS v_q
    FROM rk WHERE rnk <= 20
    """


@query("ml_als", oracle=_oracle_als_sql())
def ml_als(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-1 ALTERNATING LEAST SQUARES matrix factorization over the
    (customer, part) purchase-count matrix — the collaborative-
    filtering workhorse (implicit-feedback recommenders), in the
    fixed-point-exact formulation the engine uses for every iterative
    fit: factors live on an integer grid (S = 1e4), each half-step
    solves the rank-1 ridge normal equation u_i = S^2 * sum(c*v) /
    (sum(v^2) + lambda*S^2) with a sign-safe floor division, and two
    full alternations run as ONE lazy plan of ratings-grain joins +
    factor-grain aggregates (the classic large-scale ALS data flow:
    item factors join the ratings ON ITEM, partial products reduce
    per user — never a dense matrix anywhere). Every factor both
    engines compare is int64 (overflow headroom audited to sf1-scale
    fan-in ~3e15 < 2^63); the oracle replays both alternations
    verbatim. Output: top-20 parts by final item factor.

    At 100 TB rank-k replaces the scalar divisions with per-key k x k
    normal-equation solves inside the same join/aggregate shape (the
    pyspark.ml ALS layout); rank-1 keeps the recurrence on the
    integer grid so the cross-engine compare stays exact — the
    ml_kmeans_lloyd/ml_logreg posture applied to factorization.

    Measured r7 (warm pass + min of 3): 7.76x at sf0.1 -> 5.30x
    at sf1 (duck 0.784 / spark 4.156 s); the first r8 pass added the
    asked-for third point (5.12x at sf3, duck 2.386 / spark 12.217 s
    — flat, the exchange-tax class). Late r8 then FUSED the first
    user half-step: v0 is the constant S for every part in ratings,
    so the v0 build (distinct + p-exchange) and the first ratings
    join fold into one per-user aggregate, bit-identically (the
    oracle keeps the explicit join). Measured: sf0.1 interleaved A/B
    (one session, min of 5 alternating passes) 1.895 -> 1.462 s
    (-23%); sf1 4.156 -> 4.007 s; sf3 12.217 -> **7.973 s (-35%,
    ratio 5.12x -> 3.34x)** — the slope now DECLINES with scale
    (5.11x sf1 -> 3.34x sf3) instead of sitting flat: one of the
    three fact-grain join exchanges was the removable one. Rejected
    earlier with numbers (interleaved A/B, min of 3 at sf1):
    maintaining TWO pre-partitioned checkpointed ratings copies (by u
    and by p) so each half-step's join avoids its ratings exchange —
    5.95 s vs 4.55 s; the two extra checkpoint materializations of
    the fact-scale ratings cost more than the four join exchanges
    they remove, and the factor-side aggregates still re-exchange on
    their group keys either way."""
    S, S2, LAM = _ALS_S, _ALS_S2, _ALS_LAM
    li = table(spark, sf_dir, "lineitem", spread=True).select(
        "l_orderkey", "l_partkey"
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    ratings = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("u"),
            F.col("l_partkey").alias("p"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )

    def half_step(
        factors: DataFrame, key: str, other: str, fcol: str
    ) -> DataFrame:
        """One ALS half-step: solve for `key`'s factors given
        `other`'s (join ratings ON other, reduce per key). The factor
        side is materialized (localCheckpoint — factor grain, never
        fact grain) so later half-steps join a pinned relation instead
        of re-deriving the whole chain inside their own plans, and
        broadcast (MBs vs the fact-scale ratings; measured on the
        rank-2 sibling: 1.57 s -> 0.84 s per p-side half-step at
        sf3). At extreme item cardinality this seam becomes
        pyspark.ml ALS's block co-partitioning."""
        j = ratings.join(F.broadcast(factors.localCheckpoint()), other)
        num = F.sum(F.col("c") * F.col(fcol)).cast("long") * S2
        den = (
            F.sum(F.col(fcol) * F.col(fcol)).cast("long") + LAM
        )
        agg = j.groupBy(key).agg(
            num.alias("_n"), den.alias("_d")
        )
        return agg.select(
            key,
            F.expr(_fdiv_sql("_n", "_d").format(DIV="div")).alias(
                fcol
            ),
        )

    # First user half-step FUSED: v0 is the constant S for every part
    # present in ratings, so the v0 build (a distinct + exchange on p)
    # and the first ratings-join (two more p-exchanges) fold into ONE
    # per-user aggregate over the checkpointed ratings: sum(c*v) =
    # S*sum(c), sum(v*v) = S^2*count — bit-identical to the joined
    # form (the oracle keeps the explicit v0 join; same integers).
    u = (
        ratings.groupBy("u")
        .agg(
            (F.sum("c").cast("long") * S * S2).alias("_n"),
            (F.count(F.lit(1)).cast("long") * S2 + LAM).alias("_d"),
        )
        .select(
            "u",
            F.expr(_fdiv_sql("_n", "_d").format(DIV="div")).alias("f"),
        )
    )
    v = half_step(u.withColumnRenamed("f", "v"), "p", "u", "v")
    u = half_step(v, "u", "p", "v").withColumnRenamed("v", "f")
    v = half_step(u.withColumnRenamed("f", "v"), "p", "u", "v")
    return (
        v.withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.desc("v"), "p")),
        )
        .filter(F.col("rnk") <= 20)
        .select(
            F.col("rnk").cast("long"),
            F.col("p").alias("partkey"),
            F.col("v").alias("v_q"),
        )
    )


def _oracle_als2_sql() -> str:
    S, S2, LAM = _ALS_S, _ALS_S2, _ALS_LAM
    H = "HUGEINT"

    def fd(a: str, b: str) -> str:
        return _fdiv_sql(a, b).format(DIV="//")

    def solve(src: str, key: str, other: str) -> str:
        # per-key 2x2 ridge normal-equation solve, all moments HUGEINT
        det = "(a11 * a22 - a12 * a12)"
        return f"""
        SELECT {key},
               CAST({fd('(a22 * b1 - a12 * b2)', det)} AS BIGINT) AS f1,
               CAST({fd('(a11 * b2 - a12 * b1)', det)} AS BIGINT) AS f2
        FROM (
          SELECT r.{key},
                 CAST(SUM(CAST(g.f1 AS {H}) * g.f1) AS {H}) + {LAM} AS a11,
                 CAST(SUM(CAST(g.f1 AS {H}) * g.f2) AS {H}) AS a12,
                 CAST(SUM(CAST(g.f2 AS {H}) * g.f2) AS {H}) + {LAM} AS a22,
                 CAST(SUM(CAST(r.c AS {H}) * g.f1) AS {H}) * {S2} AS b1,
                 CAST(SUM(CAST(r.c AS {H}) * g.f2) AS {H}) * {S2} AS b2
          FROM ratings r JOIN {src} g ON g.{other} = r.{other}
          GROUP BY 1
        ) s
        """

    return f"""
    WITH ratings AS (
        SELECT o.o_custkey AS u, l.l_partkey AS p,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ), v0 AS (
        SELECT DISTINCT p,
               CAST({S} AS BIGINT) AS f1,
               CAST({S} + ((p % 97) - 48) * {S // 100} AS BIGINT) AS f2
        FROM ratings
    ), u1 AS ({solve('v0', 'u', 'p')}
    ), v1 AS ({solve('u1', 'p', 'u')}
    ), u2 AS ({solve('v1', 'u', 'p')}
    ), v2 AS ({solve('u2', 'p', 'u')}
    ), rk AS (
        SELECT p, f1, f2,
               row_number() OVER (ORDER BY f1 DESC, f2 DESC, p) AS rnk
        FROM v2
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, p AS partkey,
           f1 AS v1_q, f2 AS v2_q
    FROM rk WHERE rnk <= 20
    """


@query("ml_als_rank2", oracle=_oracle_als2_sql())
def ml_als_rank2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-2 ALTERNATING LEAST SQUARES over the (customer, part)
    purchase-count matrix — the production generalization ml_als's
    docstring promises: each half-step solves a per-key 2x2 ridge
    normal equation A f = b with A = sum(g g^T) + lambda*S^2*I and
    b = S^2 * sum(c*g), via the closed-form adjugate (det = a11*a22 -
    a12^2 > 0 since lambda > 0) and the sign-safe floor division —
    the same join-ratings-on-other / reduce-per-key data flow as
    rank-1 (pyspark.ml's ALS layout: factors are rows co-partitioned
    with their key, never a dense matrix), with TWO factor columns
    riding the same exchanges, so rank-k costs the same shuffle
    structure as rank-1.

    Integer-grid discipline: factors are int64 on the S = 1e4 grid
    between half-steps; within a solve every moment is
    decimal(38,0)/HUGEINT (overflow audit at sf1 fan-in ~1e3,
    |f| <~ 1e6: a_ij <= 1e15, b_i <= S^2*1e12 = 1e20, adjugate
    products <= 1e35 < 1e38). Init breaks rank symmetry
    deterministically — f2_0 = S + ((p % 97) - 48) * S/100 — because
    identical columns would keep A singular up to lambda forever;
    the fused first half-step evaluates (f1_0, f2_0) as expressions
    OF THE RATINGS' p COLUMN, so the v0 build needs no join at all
    (the rank-2 extension of ml_als's fused constant half-step; the
    oracle keeps the explicit v0 CTE + join, same integers). Two full
    alternations; output: top-20 parts by final (f1, f2).

    Reference parity: generalizes the regression-over-aggregates
    pattern of btc_logregression_pre.py:80-86 to factorization, per
    SURVEY.md §2.11."""
    S, S2, LAM = _ALS_S, _ALS_S2, _ALS_LAM
    D = "decimal(38,0)"
    li = table(spark, sf_dir, "lineitem", spread=True).select(
        "l_orderkey", "l_partkey"
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    ratings = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("u"),
            F.col("l_partkey").alias("p"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )

    def _solve_exprs(g1: str, g2: str):
        """Aggregate the five 2x2-normal-equation moments of (g1, g2)
        and return the two solved factor columns (decimal-exact
        adjugate, floor-div back onto the int64 grid).

        r10: the AGGREGATES are plain int64 — the moments fit
        comfortably (audited through sf30: fan-in <= ~2e4 per user at
        copy-shared custkeys, |f| <= ~1e6, so a_ij <= 2e16 and
        s_i = sum(c*g_i) <= 2e12, both < 2^63), and int64 hash-agg
        stays in whole-stage codegen while Decimal(38) sums fall off
        the primitive path — measured 31.9 s -> (see BASELINE) at sf3
        on the ratings-grain exchange this query is made of. The S^2
        numerator scale folds into the SOLVE (b_i = S2 * s_i exactly,
        distributivity over the adjugate), which runs per key at
        factor grain in decimal(38,0) as before — bit-identical
        integers to the oracle's HUGEINT b_i-inside-the-aggregate
        form."""
        a11 = (
            F.sum(F.col(g1) * F.col(g1)).cast("long") + F.lit(LAM)
        ).alias("a11")
        a12 = F.sum(F.col(g1) * F.col(g2)).cast("long").alias("a12")
        a22 = (
            F.sum(F.col(g2) * F.col(g2)).cast("long") + F.lit(LAM)
        ).alias("a22")
        s1 = F.sum(F.col("c") * F.col(g1)).cast("long").alias("s1")
        s2 = F.sum(F.col("c") * F.col(g2)).cast("long").alias("s2")
        dd = f"CAST({S2} AS {D})"
        det = f"(CAST(a11 AS {D}) * a22 - CAST(a12 AS {D}) * a12)"
        num1 = f"({dd} * (CAST(a22 AS {D}) * s1 - CAST(a12 AS {D}) * s2))"
        num2 = f"({dd} * (CAST(a11 AS {D}) * s2 - CAST(a12 AS {D}) * s1))"
        f1 = F.expr(_fdiv_sql(num1, det).format(DIV="div")).cast("long")
        f2 = F.expr(_fdiv_sql(num2, det).format(DIV="div")).cast("long")
        return (a11, a12, a22, s1, s2), (f1, f2)

    def half_step(factors: DataFrame, key: str, other: str) -> DataFrame:
        # factors are factor-grain (users/parts, thousands of rows —
        # never fact-grain): localCheckpoint PINS each half-step's
        # result so the next one joins a materialized relation instead
        # of re-deriving the whole chain inside its own plan (the
        # unmaterialized form re-executed half-step k inside k+1..n —
        # 1+2+3+4 aggregates over the 18M-row ratings at sf3, measured
        # 42 s suite time; materialized: each half-step runs once).
        # broadcast: the factor side is MBs (3 longs/row) vs the
        # fact-side ratings — A/B at sf3: p-side half-step 1.57 s
        # shuffled vs 0.84 s broadcast. At extreme item cardinality
        # this seam becomes pyspark.ml ALS's block co-partitioning.
        j = ratings.join(F.broadcast(factors.localCheckpoint()), other)
        moments, (f1, f2) = _solve_exprs("f1", "f2")
        return (
            j.groupBy(key)
            .agg(*moments)
            .select(key, f1.alias("f1"), f2.alias("f2"))
        )

    # fused first half-step: v0's factors are EXPRESSIONS of p, so no
    # v0 relation and no join — aggregate straight off ratings
    r0 = ratings.withColumn("f1", F.lit(S).cast("long")).withColumn(
        "f2",
        (
            F.lit(S) + ((F.col("p") % 97) - 48) * F.lit(S // 100)
        ).cast("long"),
    )
    moments, (f1, f2) = _solve_exprs("f1", "f2")
    u = (
        r0.groupBy("u")
        .agg(*moments)
        .select("u", f1.alias("f1"), f2.alias("f2"))
    )
    v = half_step(u, "p", "u")
    u = half_step(v, "u", "p")
    v = half_step(u, "p", "u")
    return (
        v.withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.desc("f1"), F.desc("f2"), "p")
            ),
        )
        .filter(F.col("rnk") <= 20)
        .select(
            F.col("rnk").cast("long"),
            F.col("p").alias("partkey"),
            F.col("f1").alias("v1_q"),
            F.col("f2").alias("v2_q"),
        )
    )


#: rank-4 saturation bound: |f| <= 1e8 between updates keeps every
#: inner-solve product (a_ij * f_e <= 1e20 * 1e8 = 1e28) inside
#: decimal(38,0)/HUGEINT exactly, for ANY corpus — saturation
#: arithmetic, the standard fixed-point safety net
_ALS4_CLAMP = 10**8
#: symmetry-breaking init moduli per extra dimension (see v0 docs)
_ALS4_INIT = ((97, 48), (89, 44), (83, 41))


def _als4_init_exprs(pcol: str) -> list[str]:
    """Deterministic symmetry-breaking item init per dimension, as SQL
    expression strings of the part key (shared verbatim by both
    engines): f1 = S; f_d = S + ((p %% m_d) - o_d) * S/100 with
    coprime moduli per extra dimension — identical columns would keep
    the normal matrix singular up to lambda forever."""
    S = _ALS_S
    out = [f"CAST({S} AS BIGINT)"]
    for m, o in _ALS4_INIT:
        out.append(
            f"CAST({S} + (({pcol} % {m}) - {o}) * {S // 100} AS BIGINT)"
        )
    return out


def _als4_solve_steps() -> tuple[list[tuple[str, str]], list[str]]:
    """The rank-4 inner solve as a shared expression program: two
    cyclic coordinate-descent sweeps over the per-key ridge normal
    equations A f = b, zero-initialized — f_d := clamp(fdiv(b_d -
    sum_{e != d} a_de * f_e, a_dd)) in dimension order. Returns
    ([(column_name, sql_expr_with_{DIV})], final_factor_columns);
    both engines evaluate the IDENTICAL integer program, so the
    cross-engine compare stays hash-exact. Every intermediate is
    bounded by a_max * clamp <= 1e28 — inside decimal(38,0) and
    HUGEINT — which is WHY the inner solve is coordinate descent
    (CCD, Yu et al. ICDM 2012, the production distributed-MF inner
    loop) and not the closed-form adjugate: a 4x4 integer Cramer
    needs ~24 * a_max^4 ~ 1e61 intermediates, outside both engines'
    exact range."""
    C = _ALS4_CLAMP
    steps: list[tuple[str, str]] = []
    cur: dict[int, str | None] = {d: None for d in range(1, 5)}
    for sweep in (1, 2):
        for d in range(1, 5):
            terms = []
            for e in range(1, 5):
                if e == d or cur[e] is None:
                    continue
                i, j = min(d, e), max(d, e)
                terms.append(f" - a{i}{j} * {cur[e]}")
            num = f"(b{d}{''.join(terms)})"
            name = f"f{d}_s{sweep}"
            expr = (
                f"LEAST(GREATEST({_fdiv_sql(num, f'a{d}{d}')}, "
                f"-{C}), {C})"
            )
            steps.append((name, expr))
            cur[d] = name
    return steps, [str(cur[d]) for d in range(1, 5)]


def _oracle_als4_sql() -> str:
    S, S2, LAM = _ALS_S, _ALS_S2, _ALS_LAM
    H = "HUGEINT"
    steps, finals = _als4_solve_steps()

    def solve(src: str, key: str, other: str) -> str:
        moments = []
        for i in range(1, 5):
            for j in range(i, 5):
                lam = f" + {LAM}" if i == j else ""
                moments.append(
                    f"CAST(SUM(CAST(g.f{i} AS {H}) * g.f{j}) AS {H})"
                    f"{lam} AS a{i}{j}"
                )
            moments.append(
                f"CAST(SUM(CAST(r.c AS {H}) * g.f{i}) AS {H})"
                f" * {S2} AS b{i}"
            )
        inner = f"""
          SELECT r.{key}, {', '.join(moments)}
          FROM ratings r JOIN {src} g ON g.{other} = r.{other}
          GROUP BY 1
        """
        for name, expr in steps:
            inner = (
                f"SELECT *, {expr.format(DIV='//')} AS {name}"
                f" FROM ({inner})"
            )
        fcols = ", ".join(
            f"CAST({fin} AS BIGINT) AS f{d}"
            for d, fin in enumerate(finals, 1)
        )
        return f"SELECT {key}, {fcols} FROM ({inner})"

    init = _als4_init_exprs("p")
    init_cols = ", ".join(
        f"{e} AS f{d}" for d, e in enumerate(init, 1)
    )
    return f"""
    WITH ratings AS MATERIALIZED (
        SELECT o.o_custkey AS u, l.l_partkey AS p,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ), v0 AS (
        SELECT DISTINCT p, {init_cols} FROM ratings
    ), u1 AS MATERIALIZED ({solve('v0', 'u', 'p')}
    ), v1 AS MATERIALIZED ({solve('u1', 'p', 'u')}
    ), u2 AS MATERIALIZED ({solve('v1', 'u', 'p')}
    ), v2 AS MATERIALIZED ({solve('u2', 'p', 'u')}
    ), rk AS (
        SELECT p, f1, f2, f3, f4,
               row_number() OVER (ORDER BY f1 DESC, f2 DESC, f3 DESC,
                                           f4 DESC, p) AS rnk
        FROM v2
    )
    SELECT CAST(rnk AS BIGINT) AS rnk, p AS partkey,
           f1 AS v1_q, f2 AS v2_q, f3 AS v3_q, f4 AS v4_q
    FROM rk WHERE rnk <= 20
    """


@query("ml_als_rank4", oracle=_oracle_als4_sql())
def ml_als_rank4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-4 ALTERNATING LEAST SQUARES over the (customer, part)
    purchase-count matrix — retiring the rank-k seam ml_als and
    ml_als_rank2 promised: the half-step data flow is UNCHANGED from
    rank-1 (join ratings on the other side's key, reduce per key —
    pyspark.ml's ALS layout, never a dense matrix), with k(k+3)/2 =
    14 moment columns riding the same two exchanges per half-step,
    so rank-k costs the same shuffle structure as rank-1; only the
    per-key arithmetic widens.

    Inner solve: the per-key ridge normal equations A f = b
    (A = sum(g g^T) + lambda*S^2*I, b = S^2 sum(c*g)) are solved by
    TWO cyclic coordinate-descent sweeps from zero — the CCD inner
    loop of Yu et al., "Scalable Coordinate Descent Approaches to
    Parallel Matrix Factorization" (ICDM 2012) — rather than the
    closed-form adjugate rank-2 uses: an exact 4x4 integer Cramer
    needs ~24 * a_max^4 ~ 1e61 intermediates, outside decimal(38,0)
    AND HUGEINT, while each CCD update is one scalar sign-safe floor
    division with every product bounded by a_max * clamp <= 1e28.
    Factors saturate at +/-1e8 between updates (saturation
    arithmetic — deterministic, engine-identical, and inert on this
    data where factors hover near S). Both engines run the IDENTICAL
    generated integer program (_als4_solve_steps), so the oracle
    hash-checks every factor of both alternations.

    Init: f1 = S; f_d = S + ((p % m_d) - o_d) * S/100 with coprime
    moduli (97, 89, 83) — per-dimension deterministic symmetry
    breaking (identical columns would keep A singular up to lambda
    forever); the first user half-step is FUSED (init factors are
    expressions of the ratings' own p column — no v0 relation, no
    join; the oracle keeps the explicit v0 CTE, same integers).
    Two full alternations; output: top-20 parts by final factor
    vector. Reference parity: SURVEY.md §2.11 iterative-fit family
    (generalizes btc_logregression_pre.py:80-86's
    regression-over-aggregates to factorization)."""
    S, S2, LAM = _ALS_S, _ALS_S2, _ALS_LAM
    D = "decimal(38,0)"
    li = table(spark, sf_dir, "lineitem", spread=True).select(
        "l_orderkey", "l_partkey"
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    ratings = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("u"),
            F.col("l_partkey").alias("p"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    steps, finals = _als4_solve_steps()

    # r11 (guide §2.3/§4.2 — keep the fact-grain aggregate on the
    # int64 codegen path): the 14 moments are aggregated as SPLIT
    # int64 sums instead of decimal(38,0) sums. Each per-row product
    # p = f_i*f_j (or c*f_i) fits int64 (|f| <= clamp = 1e8 so
    # |p| <= 1e16; c <= 9.2e10 keeps c*f_i <= 9.2e18), and is split
    # exactly as p = q*1e8 + r with q = p div 1e8 (trunc-toward-zero),
    # r = p - q*1e8. |r| < 1e8 always, so the r-sums are exact for
    # per-key fan-in up to 9.2e10 rows. The q bound differs by moment
    # kind (r12 ADVICE fix): a-moments have |q| <= |f_i*f_j| div 1e8
    # <= 1e8, exact to 9.2e10 rows/key; b-moments have |q| <= c, so
    # their q-sum is exact while a key's total rating mass sum(c)
    # stays <= 9.2e18 — c is a per-(u,p) purchase count, so either
    # bound is beyond any 100 TB corpus (decimal's headroom is 1e22).
    # The moments reconstruct EXACTLY at
    # factor grain as decimal(38,0) = q*1e8 + r (+ LAM on the
    # diagonal), feeding the unchanged decimal CCD solve — bit-
    # identical integers to the oracle's HUGEINT-inside-the-aggregate
    # form. Measured (interleaved, min of 4, sf0.1): one half-step
    # moment pass 1.10 s (decimal aggs) -> 0.59 s (split int64 aggs),
    # reconstruction verified equal on all 15k user keys.
    _SPLIT_B = 10**8

    def _moment_aggs():
        aggs = []

        def split(prod: str, name: str):
            q = F.expr(f"({prod}) div {_SPLIT_B}")
            r = F.expr(f"({prod}) - (({prod}) div {_SPLIT_B}) * {_SPLIT_B}")
            aggs.append(F.sum(q).alias(f"{name}_q"))
            aggs.append(F.sum(r).alias(f"{name}_r"))

        for i in range(1, 5):
            for j in range(i, 5):
                split(f"f{i} * f{j}", f"a{i}{j}")
            split(f"c * f{i}", f"b{i}")
        return aggs

    def _moments_rebuild(grouped: DataFrame, key: str) -> DataFrame:
        cols = [F.col(key)]
        for i in range(1, 5):
            for j in range(i, 5):
                m = (
                    F.col(f"a{i}{j}_q").cast(D) * F.lit(_SPLIT_B)
                    + F.col(f"a{i}{j}_r").cast(D)
                ).cast(D)
                if i == j:
                    m = (m + F.lit(LAM).cast(D)).cast(D)
                cols.append(m.alias(f"a{i}{j}"))
            cols.append(
                (
                    (
                        F.col(f"b{i}_q").cast(D) * F.lit(_SPLIT_B)
                        + F.col(f"b{i}_r").cast(D)
                    ).cast(D)
                    * F.lit(S2).cast(D)
                ).alias(f"b{i}")
            )
        return grouped.select(*cols)

    def _solve(grouped: DataFrame, key: str) -> DataFrame:
        df = grouped
        for name, expr in steps:
            df = df.select("*", F.expr(expr.format(DIV="div")).alias(name))
        return df.select(
            key,
            *[
                F.col(fin).cast("long").alias(f"f{d}")
                for d, fin in enumerate(finals, 1)
            ],
        )

    def half_step(factors: DataFrame, key: str, other: str) -> DataFrame:
        # materialize + broadcast the factor-grain side, exactly as in
        # ml_als_rank2's half_step (see the measured rationale there)
        j = ratings.join(F.broadcast(factors.localCheckpoint()), other)
        return _solve(
            _moments_rebuild(j.groupBy(key).agg(*_moment_aggs()), key), key
        )

    # fused first half-step: v0's factors are expressions of p
    r0 = ratings
    for d, e in enumerate(_als4_init_exprs("p"), 1):
        r0 = r0.withColumn(f"f{d}", F.expr(e))
    u = _solve(
        _moments_rebuild(r0.groupBy("u").agg(*_moment_aggs()), "u"), "u"
    )
    v = half_step(u, "p", "u")
    u = half_step(v, "u", "p")
    v = half_step(u, "p", "u")
    return (
        v.withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(
                    F.desc("f1"), F.desc("f2"), F.desc("f3"),
                    F.desc("f4"), "p",
                )
            ),
        )
        .filter(F.col("rnk") <= 20)
        .select(
            F.col("rnk").cast("long"),
            F.col("p").alias("partkey"),
            F.col("f1").alias("v1_q"),
            F.col("f2").alias("v2_q"),
            F.col("f3").alias("v3_q"),
            F.col("f4").alias("v4_q"),
        )
    )


@query(
    "stat_anova",
    oracle="""
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_g,
               CAST(SUM(CAST(round(value * 10000) AS BIGINT))
                    AS BIGINT) AS s_g,
               CAST(SUM(CAST(CAST(round(value * 10000) AS BIGINT)
                             AS HUGEINT)
                        * CAST(round(value * 10000) AS BIGINT))
                    AS HUGEINT) AS ss_g
        FROM events GROUP BY 1
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n_g) AS BIGINT) AS n,
               CAST(SUM(s_g) AS BIGINT) AS s,
               CAST(SUM(ss_g) AS HUGEINT) AS ss,
               SUM(CAST(s_g AS DOUBLE) * s_g / n_g) AS sb_raw
        FROM g
    )
    SELECT k, n,
           round((sb_raw - CAST(s AS DOUBLE) * s / n) / (k - 1)
                 / ((CAST(ss AS DOUBLE) - sb_raw) / (n - k)),
                 6) AS f_stat
    FROM tot
    """,
)
def stat_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F test across the five event types' values —
    the k-group generalization of stat_ttest (does ANY group mean
    differ): F = (SSB/(k-1)) / (SSW/(n-k)) with SSB/SSW from the
    standard moment identities. ONE conditional-moment scan (count,
    sum, sum-square per group — exact int64/HUGEINT with the v4
    fixed point), a 5-row reduce, and the F statistic as an IEEE
    double of identical integers stated in identical form both
    sides, 6dp. The cheapest possible shape: map-side partials, one
    group-grain exchange, no window, no join."""
    e = table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    v = F.round(F.col("value") * 10000).cast("long")
    g = e.select("event_type", v.alias("y")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("y").cast("long").alias("s_g"),
        F.sum(F.col("y").cast(dec) * F.col("y")).cast(dec).alias("ss_g"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("ss_g").cast(dec).alias("ss"),
        F.sum(
            F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g")
        ).alias("sb_raw"),
    )
    ssb = (
        F.col("sb_raw")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    )
    ssw = F.col("ss").cast("double") - F.col("sb_raw")
    return tot.select(
        "k",
        "n",
        F.round(
            ssb / (F.col("k") - 1) / (ssw / (F.col("n") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


@query(
    "graph_assortativity",
    oracle="""
    WITH pairs AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY a.l_orderkey, 1, 2
    ), und AS (
        SELECT u, v FROM pairs GROUP BY u, v HAVING COUNT(*) >= 2
    ), sym AS (
        SELECT u AS a, v AS b FROM und
        UNION ALL SELECT v, u FROM und
    ), deg AS (
        SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY 1
    ), ed AS (
        SELECT da.d AS du, db.d AS dv
        FROM sym
        JOIN deg da ON da.node = sym.a
        JOIN deg db ON db.node = sym.b
    ), mo AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS m,
               CAST(SUM(du) AS HUGEINT) AS sx,
               CAST(SUM(dv) AS HUGEINT) AS sy,
               CAST(SUM(CAST(du AS HUGEINT) * du) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(dv AS HUGEINT) * dv) AS HUGEINT) AS syy,
               CAST(SUM(CAST(du AS HUGEINT) * dv) AS HUGEINT) AS sxy
        FROM ed
    )
    SELECT CAST(m AS BIGINT) AS m_directed,
           round(CAST(m * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                        * CAST(m * syy - sy * sy AS DOUBLE)), 6)
               AS assortativity
    FROM mo
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the strong co-purchase graph — the
    Pearson correlation of endpoint degrees over the directed edge
    list (Newman 2002): positive = hubs link hubs (social-network
    shape), negative = hubs link leaves (technological/star shape).
    The one-number structural summary next to the per-node metrics
    (clustering coefficient) and the partition metric (modularity).

    Shape: degrees from one node-grain aggregate of the symmetric
    edge list, joined back at the EDGE grain on each endpoint, then
    one moment reduce — every exchange node- or edge-sized. All
    moments exact int64 -> decimal(38,0)/HUGEINT (degree products
    summed over edges pass int64 around sf3); one division, 6dp."""
    und = _strong_edges(spark, sf_dir).localCheckpoint()
    sym = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    ed = sym.join(
        deg.select(F.col("node").alias("u"), F.col("d").alias("du")),
        "u",
    ).join(
        deg.select(F.col("node").alias("v"), F.col("d").alias("dv")),
        "v",
    )
    dec = "decimal(38,0)"
    mo = ed.agg(
        F.count(F.lit(1)).cast(dec).alias("m"),
        F.sum("du").cast(dec).alias("sx"),
        F.sum("dv").cast(dec).alias("sy"),
        F.sum(F.col("du").cast(dec) * F.col("du")).cast(dec).alias("sxx"),
        F.sum(F.col("dv").cast(dec) * F.col("dv")).cast(dec).alias("syy"),
        F.sum(F.col("du").cast(dec) * F.col("dv")).cast(dec).alias("sxy"),
    )
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
        * (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
    )
    return mo.select(
        F.col("m").cast("long").alias("m_directed"),
        F.round(num / den, 6).alias("assortativity"),
    )
