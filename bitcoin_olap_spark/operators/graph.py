"""Distributed graph operators: fixed-iteration integer PageRank.

The near-dup clustering operator (operators/dedup.connected_components)
covers the fixpoint-until-converged family; PageRank here covers the
fixed-iteration power-method family — the other canonical iterative
graph shape (GraphX/Pregel both special-case it). Two design choices
make it portable and scale-safe:

- **Integer fixed-point arithmetic.** Ranks are BIGINTs scaled by 1e12;
  each contribution is an integer floor-division `rank div outdeg`, and
  the damping mix is `(85 * sum) div 100 + teleport`. Floating-point
  PageRank is NOT cross-engine reproducible (sum order changes last
  ULPs, amplified per iteration); integer arithmetic is exact on any
  engine, so the oracle can state the identical recurrence.
- **Lazy unrolling, no driver fixpoint.** A fixed iteration count means
  the whole power method is ONE declarative plan (k chained
  join+aggregate stages) — no per-round driver action, no checkpoint.
  Catalyst sees the full DAG; every iteration shuffles on the same dst
  key so AQE reuses the exchange partitioning. For convergence-tested
  variants, connected_components shows the driver-actioned loop.

Scale: edges are the big relation; ranks are one row per node. On a
small graph (node count under `broadcast_max_nodes`) ranks are
broadcast so the cached edge list never shuffles. On a big graph a
node-sized relation must NOT be broadcast (1e8-1e9 nodes would OOM the
driver and every executor), so the edge list is hash-partitioned on
`src` ONCE and cached; each iteration then shuffle-hash-joins the
node-sized rank relation against it — only ranks (the small side)
move, and the cached edge partitioning is reused by every iteration.
Skewed in-degree (a hub page) is the usual hot-key risk — AQE skew
splitting applies because the big-graph path is a plain shuffle join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cacheutil import scoped_cache

#: rank scale: ranks are probabilities ~1/N; 1e12 keeps 6+ significant
#: digits for graphs up to ~1e6 nodes
SCALE = 1_000_000_000_000


def _pagerank_iteration(
    e: DataFrame,
    ranks: DataFrame,
    g_side: DataFrame,
    teleport: int,
    damping_pct: int,
    use_broadcast: bool,
) -> DataFrame:
    """One power-method round, NOT yet materialized (tests plan-pin
    this). Small-graph path broadcasts the node-sized contribution
    relation (edge list never shuffles). Big-graph path
    shuffle-hash-joins: contributions are hashed and shuffled onto the
    cached src-partitioned edge list, so per-iteration movement is
    O(nodes), never O(edges), and never a broadcast of a node-sized
    relation.

    r11 shape (guide §2.3, narrower rows through the edge-scale path):
    the edge list carries only (src, dst) — no `dst_outdeg` long
    riding every edge through cache scans and shuffles — and the
    dst-keyed aggregate sums a single column; the degree relation
    `g_side` re-attaches at NODE grain each round instead.

    r12 split of WHERE the degree attaches (driver-protocol A/B, see
    OPTIMIZATION_r12.md): on the big-graph/shuffle path the division
    is computed once per node in a pre-join (ranks ⋈ g_side) whose
    output is what shuffles — per-round movement stays one long per
    node. On the small-graph/broadcast path that pre-join was a
    per-round broadcast-BUILD JOB (executing a join before each
    round's broadcast), measured as the r11 regression the driver
    flagged (fresh-process bench.py min-of-3: 6.49 s vs 5.03 s for
    the r10 form); instead the round joins the edge cache against
    TWO broadcasts on the same src key — ranks and the (built-once)
    degree broadcast — and divides per edge map-side: zero extra
    jobs, the broadcast build is a plain cache scan again, and the
    division value per edge is bit-identical (same numerator and
    denominator, integer div). Identical integer recurrence on both
    paths."""
    if use_broadcast:
        # alias the degree side: round 1's ranks are derived FROM g,
        # so joining g's raw attributes again would be ambiguous
        gg = F.broadcast(
            g_side.select(
                F.col("node").alias("_gn"), F.col("outdeg").alias("_gd")
            )
        )
        s = (
            e.join(F.broadcast(ranks), e.src == ranks.node)
            .join(gg, e.src == F.col("_gn"))
            .select("dst", F.expr("rank div _gd").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
    else:
        contribs = ranks.join(g_side, "node").select(
            "node", F.expr("rank div outdeg").alias("c")
        )
        s = (
            e.join(
                contribs.hint("shuffle_hash"), e.src == contribs.node
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
    new_rank = (
        F.lit(teleport)
        + F.expr(f"({damping_pct} * s) div 100").cast("long")
    ).cast("long")
    return s.select(F.col("dst").alias("node"), new_rank.alias("rank"))


def pagerank_int(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 6,
    damping_pct: int = 85,
    broadcast_max_nodes: int = 2_000_000,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list, exact
    integer arithmetic. Returns (node, rank_scaled) with
    rank_scaled = round-trip-exact BIGINT (true rank * 1e12, floored).

    Every node is assumed to appear as a source (true for symmetrized
    undirected graphs — the co-occurrence graphs this engine builds);
    dangling-node mass is therefore zero and the teleport term is the
    plain (100-damping)/100 / N constant. When that precondition is
    VIOLATED (a directed graph with sink destinations), note the r11
    shape change (r12 ADVICE): edges to zero-outdegree nodes used to
    be dropped by the per-edge dst_outdeg inner join, so sinks never
    appeared in the output; since r11 the degree join keys on the
    SOURCE only, so sink destinations now receive a rank row in the
    final round. Inert for every in-repo caller (symmetric graphs);
    non-symmetric callers must symmetrize or filter sinks themselves.

    `broadcast_max_nodes` gates the join strategy: at or below it the
    node-sized rank relation is broadcast each round (zero edge
    shuffles); above it the edge list is hash-partitioned on src once
    and every round shuffle-hash-joins ranks against it — the only
    strategy that survives 1e8+-node graphs, where broadcasting a
    node-sized relation is a guaranteed OOM. Both paths compute the
    identical integer recurrence.
    """
    # cache the raw (src, dst) edge list ONCE: the degree aggregate and
    # every round read it, and the upstream relation (a pair-building
    # derivation) must not re-execute. r11: the former second
    # edge-scale relation (dst_outdeg pre-joined onto every edge row,
    # materialized as its own cache) is gone — degrees now live only in
    # the node-sized `g`, re-attached at node grain inside each round
    # (see _pagerank_iteration), so setup pays one edge materialization
    # instead of two and the per-round edge scan is a third narrower.
    e0 = scoped_cache(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    )
    g = e0.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    # one tiny action: N pins the integer teleport constants — plain
    # Python ints so the arithmetic is exactly the oracle's — and
    # decides the join strategy
    n_nodes = g.count()
    init_rank = SCALE // n_nodes
    teleport = (100 - damping_pct) * init_rank // 100
    use_broadcast = n_nodes <= broadcast_max_nodes
    if use_broadcast:
        e = e0
    else:
        # big graph: pin a src-hash-partitioned copy (read from the e0
        # cache, not re-derived) so every iteration's shuffle-hash join
        # reuses the edge partitioning and only the node-sized rank
        # relation moves per round
        e = e0.repartition("src").cache()
    try:
        # the degree relation is node-sized and read by every round's
        # contribution pre-join: broadcast it on the small-graph path
        # (one broadcast, reused by every round), materialize it once
        # on the big-graph path (its node-keyed exchange is likewise
        # reused).
        g = scoped_cache(g) if use_broadcast else g.localCheckpoint()
        g_side = F.broadcast(g) if use_broadcast else g

        # Per-round materialization: on the broadcast path each
        # round's ranks go through scoped_cache — lazily, with no
        # forcing action, so the driver never blocks between rounds.
        # The single final action materializes the whole chain; each
        # round's broadcast job populates that round's cache on the
        # way up, so rounds execute exactly ONCE (without the cache,
        # round k's subtree would re-execute rounds 1..k-1 — O(k^2)).
        # The shuffle path localCheckpoints instead, to truncate
        # lineage: a k-deep shuffle-join chain otherwise re-optimizes
        # from scratch each round at plan time.
        ranks = g.select("node", F.lit(init_rank).alias("rank"))
        for _ in range(iters):
            ranks = _pagerank_iteration(
                e, ranks, g_side, teleport, damping_pct, use_broadcast
            )
            ranks = (
                scoped_cache(ranks) if use_broadcast
                else ranks.localCheckpoint()
            )
    finally:
        # shuffle path: the final ranks are checkpointed (lineage
        # truncated), so the edge caches are dead weight once the loop
        # ends or fails. Broadcast path: the returned LAZY plan still
        # reads the cached edges, degrees and ranks — iters + 2 plans,
        # all owned by scoped_cache's bounded registry.
        if not use_broadcast:
            e.unpersist()
            e0.unpersist()
    return ranks.select("node", F.col("rank").alias("rank_scaled"))


def oracle_pagerank_sql(
    edges_cte: str,
    iters: int = 6,
    damping_pct: int = 85,
) -> str:
    """DuckDB twin of `pagerank_int`: the same integer recurrence
    unrolled as chained CTEs (standard SQL forbids aggregation in a
    recursive CTE term, so a fixed iteration count unrolls instead).
    `edges_cte` must define a relation `edges(src, dst)`."""
    sql = [
        f"""
    WITH {edges_cte},
    g AS (
        SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY 1
    ),
    n AS (SELECT COUNT(*) AS n_nodes FROM g),
    r0 AS (
        SELECT node, outdeg,
               CAST({SCALE} // n.n_nodes AS BIGINT) AS rank
        FROM g, n
    )"""
    ]
    for i in range(iters):
        prev, cur = f"r{i}", f"r{i + 1}"
        sql.append(
            f""",
    {cur}_c AS (
        SELECT e.dst, CAST(SUM(p.rank // p.outdeg) AS BIGINT) AS s
        FROM edges e JOIN {prev} p ON e.src = p.node
        GROUP BY 1
    ),
    {cur} AS (
        SELECT c.dst AS node, g.outdeg,
               CAST((100 - {damping_pct})
                    * CAST({SCALE} // n.n_nodes AS BIGINT) // 100
                    + ({damping_pct} * c.s) // 100 AS BIGINT) AS rank
        FROM {cur}_c c JOIN g ON g.node = c.dst, n
    )"""
        )
    sql.append(
        f"""
    SELECT node, rank AS rank_scaled FROM r{iters}"""
    )
    return "".join(sql)


def bfs_reach(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
) -> DataFrame:
    """Breadth-first reachability with hop distance over a directed
    edge list — the DataFrame answer to `WITH RECURSIVE` (which Spark
    SQL lacks; the oracle states exactly that form).

    `edges` has columns (src_kind, src_id, dst_kind, dst_id) — the
    two-column node key carries heterogenous node types (e.g. the
    part/supplier bipartite graph) without string-encoding. `seeds`
    has (kind, node). Returns (kind, node, hops) with hops = the
    MINIMUM hop count, which classic frontier BFS yields by
    construction: a node joins `visited` the first level it is seen
    and is never expanded again (left_anti), so the exponential
    path-count of the recursive-CTE formulation never materializes —
    per level the frontier is node-bounded, and the level-k work is
    one frontier⋈edges shuffle join plus an anti-join against
    visited. Each level is localCheckpoint'd: a k-deep lazy chain
    would re-execute levels 1..k-1 inside level k's join subtrees
    (broadcast subtrees reuse no exchanges), degrading O(k) to
    O(k^2) — the same materialization rule pagerank_int follows.
    """
    visited = (
        seeds.select("kind", "node")
        .distinct()
        .withColumn("hops", F.lit(0).cast("long"))
        .localCheckpoint()
    )
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(
                edges,
                (frontier.kind == edges.src_kind)
                & (frontier.node == edges.src_id),
            )
            .select(
                F.col("dst_kind").alias("kind"),
                F.col("dst_id").alias("node"),
            )
            .distinct()
        )
        new = (
            nxt.join(visited, ["kind", "node"], "left_anti")
            .withColumn("hops", F.lit(h).cast("long"))
            .localCheckpoint()
        )
        if not new.take(1):
            break
        visited = visited.union(new).localCheckpoint()
        frontier = new
    return visited
