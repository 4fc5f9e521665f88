"""Graph analytics over relational edges: fixed-iteration PageRank.

The reference has no graph operators (SURVEY.md §2 — its dataflow is linear
per-item pipelines); this is beyond-reference surface for the
training-data brief: entity graphs (who-bought-from-whom, doc-link graphs,
near-dup graphs) need iterative algorithms, and PageRank is the canonical
shape. The engine already ships connected components
(operators/dedup.py); this adds the weighted-propagation family.

Spark-first design: the edge list is a DataFrame persisted once with
precomputed contribution weights 1/outdeg; each of the K fixed iterations
is one join (ranks ⋈ edges on src) + one partial-aggregated groupBy(dst) —
the same two-shuffle round a 1000-executor GraphX/Pregel step performs.
K is FIXED (not run-to-convergence) so the DuckDB oracle can unroll the
identical K rounds as chained CTEs and verify every rank value exactly.

Scale notes (100 TB):
- edges persist MEMORY_AND_DISK and are the only large state; ranks are
  one row per node (orders of magnitude smaller than edges);
- each round shuffles on src then dst — at scale, pre-partitioning edges
  by src and reusing that partitioning across rounds (bucketed write or
  repartition before persist) makes the ranks-side join the only movement;
- per-iteration rounding (12 dp) both pins cross-engine parity and bounds
  float drift across rounds;
- the driver-side ``nodes.count()`` is one scalar-aggregate job per run
  (needed for the teleport term), not a data collect.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from datapipeline_ops_spark.core.registry import query
from datapipeline_ops_spark.operators import dedup as dedup_ops
from datapipeline_ops_spark.operators.dedup import CC_SMALL_GRAPH_EDGES
from datapipeline_ops_spark.tables import load_table, local_frame

PAGERANK_ITERS = 5
PAGERANK_DAMPING = 0.85


def _pagerank_oracle(k: int = PAGERANK_ITERS, d: float = PAGERANK_DAMPING) -> str:
    """Unroll K PageRank rounds as chained CTEs (DuckDB recursive CTEs
    disallow aggregates in the recursive term, so fixed-K unrolling is the
    value-exact formulation)."""
    ctes = [
        """
        p AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
              FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        e AS (SELECT 'c:' || c AS src, 's:' || s AS dst FROM p
              UNION ALL
              SELECT 's:' || s AS src, 'c:' || c AS dst FROM p),
        deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        ew AS (SELECT e.src, e.dst, 1e0 / deg.outdeg AS w
               FROM e JOIN deg ON e.src = deg.src),
        nodes AS (SELECT DISTINCT src AS node FROM e),
        nn AS (SELECT count(*) AS n FROM nodes),
        r0 AS (SELECT node, 1e0 / (SELECT n FROM nn) AS rank FROM nodes)
        """
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"""
        r{i} AS (
            SELECT nodes.node,
                   round((1e0 - {d}) / (SELECT n FROM nn)
                         + {d} * coalesce(sum(t.contrib), 0), 12) AS rank
            FROM nodes
            LEFT JOIN (
                SELECT ew.dst, ew.w * r{i - 1}.rank AS contrib
                FROM ew JOIN r{i - 1} ON ew.src = r{i - 1}.node
            ) t ON t.dst = nodes.node
            GROUP BY nodes.node
        )
        """
        )
    return (
        "WITH "
        + ",".join(ctes)
        + f" SELECT node, round(rank, 8) AS pagerank FROM r{k}"
    )


@query("pagerank_purchase_graph", oracle=_pagerank_oracle())
def pagerank_purchase_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 5 fixed iterations) over the undirected
    customer–supplier purchase graph: nodes are 'c:<custkey>' /
    's:<suppkey>', one edge pair per distinct (customer, supplier) purchase
    relation from orders ⋈ lineitem.

    Each iteration: ranks ⋈ edges on src (edges carry precomputed 1/outdeg
    weights behind a persist), partial-aggregated sum by dst, then the
    teleport term. Per-iteration round(12) pins parity with the unrolled-CTE
    oracle; final ranks rounded to 8 dp.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    c = F.concat(F.lit("c:"), F.col("o_custkey").cast("string"))
    s = F.concat(F.lit("s:"), F.col("l_suppkey").cast("string"))
    edges = pairs.select(c.alias("src"), s.alias("dst")).unionAll(
        pairs.select(s.alias("src"), c.alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ew = (
        edges.join(deg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("w"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        nodes = ew.select(F.col("src").alias("node")).distinct().persist(
            StorageLevel.MEMORY_AND_DISK
        )
        n = nodes.count()  # scalar-aggregate job: teleport denominator
        if n == 0:
            # empty purchase graph (filtered/tiny input): degrade to an
            # empty ranking instead of dividing by zero below
            return nodes.select("node", F.lit(0.0).alias("pagerank")).limit(0)
        ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
        teleport = (1.0 - PAGERANK_DAMPING) / n
        for _ in range(PAGERANK_ITERS):
            contribs = (
                ew.join(ranks, ew.src == ranks.node)
                .select("dst", (F.col("w") * F.col("rank")).alias("contrib"))
                .groupBy("dst")
                .agg(F.sum("contrib").alias("_s"))
            )
            ranks = nodes.join(contribs, nodes.node == contribs.dst, "left").select(
                "node",
                F.round(
                    F.lit(teleport)
                    + F.lit(PAGERANK_DAMPING) * F.coalesce(F.col("_s"), F.lit(0.0)),
                    12,
                ).alias("rank"),
            )
        out = ranks.select("node", F.round("rank", 8).alias("pagerank"))
        out = out.localCheckpoint(eager=True)  # cut the K-round lineage
    finally:
        ew.unpersist()
        nodes.unpersist()
    return out


COPURCHASE_MIN_ORDERS = 2
# Baskets with more than this many distinct items are dropped BEFORE pair
# generation: a k-item basket emits k·(k-1)/2 pairs, so one 10k-item
# bot/aggregator order would contribute 50M rows to the pair stage. TPC-H
# orders carry <= 7 lineitems, so the cap never fires on this schema (the
# oracle mirrors it); it exists to bound the explosion by construction.
TRIANGLE_MAX_BASKET = 64


def copurchase_edges(li: DataFrame) -> DataFrame:
    """(pa, pb) oriented co-purchase edges (pa < pb) with >= the support
    floor, from a (l_orderkey, l_partkey) frame. Pair generation is
    ARRAY-SIDE per order: ONE groupBy shuffle of lineitem instead of a
    self-join that scans and shuffles the table twice — the same
    bucket-collect pattern the LSH candidate stage uses. Baskets wider
    than {TRIANGLE_MAX_BASKET} items are dropped BEFORE the pair explode,
    bounding the k^2/2 explosion by construction."""
    per_order = (
        li.groupBy("l_orderkey")
        .agg(F.collect_list("l_partkey").alias("ps"))
        .filter(F.size("ps") <= TRIANGLE_MAX_BASKET)
    )
    pairs = per_order.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        "ps",
                        lambda a: F.transform(
                            "ps", lambda b: F.struct(a.alias("pa"), b.alias("pb"))
                        ),
                    )
                ),
                lambda s: s.pa < s.pb,
            )
        ).alias("p")
    ).select("p.pa", "p.pb")
    return (
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= COPURCHASE_MIN_ORDERS)
        .select("pa", "pb")
    )


def _triangle_local(spark: SparkSession, rows) -> DataFrame:
    """Driver-local wedge/triangle census over the collected oriented edge
    list — identical integers to the distributed node-iterator form, and
    the clustering coefficient uses the same exact integer half-up-6dp
    formula. Empty graph mirrors the distributed NULL semantics (sum over
    an empty degree table is NULL)."""
    n_edges = len(rows)
    adj: dict[int, set] = {}
    deg: dict[int, int] = {}
    for a, b in rows:
        adj.setdefault(a, set()).add(b)
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    n_nodes = len(deg)
    n_wedges = sum(d * (d - 1) // 2 for d in deg.values()) if deg else None
    n_tri = 0
    for a, higher in adj.items():
        for b in higher:
            nb = adj.get(b)
            if nb:
                n_tri += len(higher & nb)
    coeff = (
        ((n_tri * 6_000_000 + n_wedges) // (n_wedges * 2)) / 1e6
        if n_wedges else None
    )
    return local_frame(
        spark,
        [(n_edges, n_nodes, n_wedges, n_tri, coeff)],
        "n_edges bigint, n_nodes bigint, n_wedges bigint, n_triangles bigint, "
        "clustering_coeff double",
    )


@query(
    "triangle_copurchase_stats",
    oracle=f"""
    WITH ok_orders AS (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING count(*) <= {TRIANGLE_MAX_BASKET}
    ),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        JOIN ok_orders ok ON ok.l_orderkey = a.l_orderkey
        GROUP BY 1, 2 HAVING count(*) >= {COPURCHASE_MIN_ORDERS}
    ),
    deg AS (
        SELECT node, count(*) AS d FROM (
            SELECT pa AS node FROM pairs UNION ALL SELECT pb FROM pairs
        ) GROUP BY node
    ),
    tri AS (
        SELECT count(*) AS n_triangles
        FROM pairs e1
        JOIN pairs e2 ON e2.pa = e1.pb
        JOIN pairs e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ),
    w AS (SELECT sum(d * (d - 1) // 2) AS n_wedges, count(*) AS n_nodes FROM deg)
    SELECT (SELECT count(*) FROM pairs) AS n_edges,
           (SELECT n_nodes FROM w) AS n_nodes,
           CAST((SELECT n_wedges FROM w) AS BIGINT) AS n_wedges,
           (SELECT n_triangles FROM tri) AS n_triangles,
           -- integer half-up 6dp of 3*tri/wedges; NULL when no wedges exist
           -- (all-degree-1 graph) so ANSI Spark and DuckDB agree by value
           CASE WHEN (SELECT n_wedges FROM w) > 0 THEN
               CAST((CAST((SELECT n_triangles FROM tri) AS HUGEINT) * 6000000
                     + (SELECT n_wedges FROM w))
                    // (CAST((SELECT n_wedges FROM w) AS HUGEINT) * 2) AS DOUBLE)
               / 1e6
           ELSE NULL END AS clustering_coeff
    """,
)
def triangle_copurchase_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase graph: parts bought together in
    >= 2 distinct orders form edges; the query counts edges, wedges
    (2-paths), closed triangles, and the global clustering coefficient
    3·triangles/wedges — the graph-structure profile behind community
    detection and recommendation quality checks.

    Scale shape: the pair stage is an equi-join on l_orderkey, with
    baskets wider than {TRIANGLE_MAX_BASKET} items dropped first so
    pairs-per-order is bounded BY CONSTRUCTION (k^2/2 growth); the >= 2-order
    support filter prunes the edge set by ~30× BEFORE the cubic stage, and
    triangle enumeration is two shuffle equi-joins on oriented edges
    (a<b<c canonical form counts each triangle exactly once). Wedge counts
    are a degree aggregation — no join. This is the standard distributed
    triangle algorithm (node-iterator on oriented edges). Below
    CC_SMALL_GRAPH_EDGES the census instead runs driver-local on the
    collected edge list (identical integers; r14 optimization — the
    distributed stage count dominated the wall on a bounded graph)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = copurchase_edges(li).persist()
    try:
        # adaptive strategy: at or under the cap the wedge/triangle census
        # runs driver-local on the collected edges — the distributed form
        # pays 3 aggregation jobs plus a two-join cubic stage whose fixed
        # cost dominates on a bounded graph. Above the cap the distributed
        # node-iterator census below runs on the persisted edges.
        head = dedup_ops.collect_if_small(edges, CC_SMALL_GRAPH_EDGES)
        if head is not None:
            return _triangle_local(
                spark,
                list(zip(head.column("pa").to_pylist(),
                         head.column("pb").to_pylist())),
            )
        deg = (
            edges.select(F.col("pa").alias("node"))
            .unionAll(edges.select(F.col("pb").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        wedge_row = deg.agg(
            F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"),
            F.count(F.lit(1)).alias("n_nodes"),
        )
        e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
        tri_row = (
            e1.join(e2, F.col("e2.pa") == F.col("e1.pb"))
            .join(
                e3,
                (F.col("e3.pa") == F.col("e1.pa")) & (F.col("e3.pb") == F.col("e2.pb")),
            )
            .agg(F.count(F.lit(1)).alias("n_triangles"))
        )
        edge_row = edges.agg(F.count(F.lit(1)).alias("n_edges"))
        out = (
            edge_row.crossJoin(wedge_row)
            .crossJoin(tri_row)
            .select(
                "n_edges",
                "n_nodes",
                "n_wedges",
                "n_triangles",
                # integer half-up 6dp; NULL when no wedges (ANSI /0 guard),
                # matching the oracle's CASE — fuzzer-caught, round 10
                F.when(
                    F.col("n_wedges") > 0,
                    F.expr(
                        "CAST((CAST(n_triangles AS DECIMAL(38,0)) * 6000000"
                        " + n_wedges) div (CAST(n_wedges AS DECIMAL(38,0)) * 2)"
                        " AS DOUBLE) / 1e6"
                    ),
                ).alias("clustering_coeff"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        edges.unpersist()


BFS_MAX_HOPS = 3


def _bfs_local(spark: SparkSession, rows) -> DataFrame:
    """Driver-local bounded BFS over the collected symmetric edge list —
    identical (node, min-hops) rows to the distributed frontier loop,
    including the empty-graph seed row (min over an empty edge list is
    NULL, hops 0, matching the oracle's recursive seed)."""
    if not rows:
        return local_frame(spark, [(None, 0)], "node bigint, hops int")
    adj: dict[int, list] = {}
    for s, d in rows:
        adj.setdefault(s, []).append(d)
    seed = min(adj)
    visited = {seed: 0}
    frontier = [seed]
    for h in range(1, BFS_MAX_HOPS + 1):
        nxt = []
        for s in frontier:
            for d in adj.get(s, ()):
                if d not in visited:
                    visited[d] = h
                    nxt.append(d)
        frontier = nxt
    return local_frame(spark, sorted(visited.items()), "node bigint, hops int")


@query(
    "bfs_reach_3hop",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= {COPURCHASE_MIN_ORDERS}
    ),
    edges AS (
        SELECT pa AS src, pb AS dst FROM pairs
        UNION ALL SELECT pb, pa FROM pairs
    ),
    walk(node, hops) AS (
        SELECT (SELECT min(src) FROM edges), 0
        UNION
        SELECT e.dst, w.hops + 1
        FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.hops < {BFS_MAX_HOPS}
    )
    SELECT node, CAST(min(hops) AS INT) AS hops FROM walk GROUP BY node
    """,
)
def bfs_reach_3hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded breadth-first search over the co-purchase graph: min-hop
    distance from the smallest node id to everything within BFS_MAX_HOPS
    hops — the "related items within k degrees" primitive behind graph
    expansion sampling.

    Spark-first iterative form: each hop is ONE equi-join of the current
    frontier against the persisted symmetric edge list plus an anti-join
    against the visited set — per-round shuffles carry only frontier/visited
    (node, hop) int pairs, never the whole graph state, and the hop bound
    makes the loop statically finite (no convergence test).  The oracle is
    the recursive-CTE formulation with UNION-dedup on (node, hops) and an
    outer min(hops) — hop-h frontiers match BFS's first-visit semantics
    exactly.  At 100 TB the same loop runs with edges pre-partitioned by src
    so every hop joins co-located; below CC_SMALL_GRAPH_EDGES the walk runs
    driver-local on the collected symmetric edges instead (identical rows;
    r14 optimization — 2 eager checkpoint jobs per hop dominated the wall
    on a bounded frontier)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    per_order = li.groupBy("l_orderkey").agg(F.collect_list("l_partkey").alias("ps"))
    pairs = (
        per_order.select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            "ps",
                            lambda a: F.transform(
                                "ps", lambda b: F.struct(a.alias("pa"), b.alias("pb"))
                            ),
                        )
                    ),
                    lambda s: s.pa < s.pb,
                )
            ).alias("p")
        )
        .select("p.pa", "p.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= COPURCHASE_MIN_ORDERS)
    )
    edges = (
        pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionAll(pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        # adaptive strategy: at or under the cap the bounded BFS runs
        # driver-local on the collected symmetric edges — the distributed
        # loop's per-hop eager checkpoint jobs are pure fixed cost on a
        # bounded frontier. Above the cap the per-hop frontier joins below
        # run on the persisted edges.
        head = dedup_ops.collect_if_small(edges, CC_SMALL_GRAPH_EDGES)
        if head is not None:
            return _bfs_local(
                spark,
                list(zip(head.column("src").to_pylist(),
                         head.column("dst").to_pylist())),
            )
        # ONE eager checkpoint per hop (r15 optimization — the second,
        # visited-set checkpoint was redundant): the frontier checkpoints
        # so the next hop's join reads a flat RDD, while the visited set is
        # just the union of the already-checkpointed hop layers — a flat
        # plan that needs no materialization job of its own. Halves the
        # per-hop job count of the distributed walk; rows identical (the
        # anti-join target is the same node set).
        seed = edges.agg(F.min("src").alias("node")).withColumn("hops", F.lit(0))
        frontier = seed.localCheckpoint(eager=True)
        layers = [frontier]
        for h in range(1, BFS_MAX_HOPS + 1):
            visited = layers[0]
            for layer in layers[1:]:
                visited = visited.unionAll(layer)
            frontier = (
                edges.join(frontier.select(F.col("node").alias("src")), "src")
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
                .withColumn("hops", F.lit(h))
                .localCheckpoint(eager=True)
            )
            layers.append(frontier)
        out = layers[0]
        for layer in layers[1:]:
            out = out.unionAll(layer)
        return out.select("node", F.col("hops").cast("int").alias("hops"))
    finally:
        edges.unpersist()


# ---------------------------------------------------------------------------
# kcore_2_peeling — iterative degeneracy peeling, unrolled and convergence-checked
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 3


def _sql_peel_round(prev: str, name: str, k: int) -> str:
    return f"""{name} AS MATERIALIZED (
        SELECT e.pa, e.pb FROM {prev} e
        JOIN (SELECT node FROM (
                  SELECT pa AS node FROM {prev}
                  UNION ALL SELECT pb FROM {prev}
              ) GROUP BY node HAVING count(*) >= {k}) ka ON ka.node = e.pa
        JOIN (SELECT node FROM (
                  SELECT pa AS node FROM {prev}
                  UNION ALL SELECT pb FROM {prev}
              ) GROUP BY node HAVING count(*) >= {k}) kb ON kb.node = e.pb
    )"""


@query(
    "kcore_2_peeling",
    oracle=f"""
    WITH ok_orders AS (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING count(*) <= {TRIANGLE_MAX_BASKET}
    ),
    e0 AS MATERIALIZED (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        JOIN ok_orders ok ON ok.l_orderkey = a.l_orderkey
        GROUP BY 1, 2 HAVING count(*) >= {COPURCHASE_MIN_ORDERS}
    ),
    {_sql_peel_round("e0", "e1", _KCORE_K)},
    {_sql_peel_round("e1", "e2", _KCORE_K)},
    {_sql_peel_round("e2", "e3", _KCORE_K)},
    stats AS (
        SELECT r, CAST(n_edges AS BIGINT) AS n_edges, CAST(n_nodes AS BIGINT) AS n_nodes
        FROM (
            SELECT 0 AS r, count(*) AS n_edges,
                   (SELECT count(DISTINCT node) FROM (SELECT pa AS node FROM e0 UNION ALL SELECT pb FROM e0)) AS n_nodes FROM e0
            UNION ALL
            SELECT 1, count(*),
                   (SELECT count(DISTINCT node) FROM (SELECT pa AS node FROM e1 UNION ALL SELECT pb FROM e1)) FROM e1
            UNION ALL
            SELECT 2, count(*),
                   (SELECT count(DISTINCT node) FROM (SELECT pa AS node FROM e2 UNION ALL SELECT pb FROM e2)) FROM e2
            UNION ALL
            SELECT 3, count(*),
                   (SELECT count(DISTINCT node) FROM (SELECT pa AS node FROM e3 UNION ALL SELECT pb FROM e3)) FROM e3
        )
    )
    SELECT s.r AS round, s.n_edges, s.n_nodes,
           ((SELECT n_edges FROM stats WHERE r = 3)
            = (SELECT n_edges FROM stats WHERE r = 2)) AS converged
    FROM stats s
    """,
)
def kcore_2_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KCORE_K}-core decomposition by iterative peeling: repeatedly drop
    nodes of degree < {_KCORE_K} (and their edges) — the graph-dense-part
    extractor behind community mining and spam-cluster isolation ({_KCORE_K}-
    core strips pendant chains the support filter can't see). {_KCORE_ROUNDS}
    peeling rounds are unrolled with a CONVERGENCE FLAG (last round removed
    no edge): when true, the fixpoint — the true {_KCORE_K}-core — was
    reached and verified, not assumed; when false both engines agree on the
    partial peel, so the gate still binds.

    Scale: each round is one degree aggregation + two semi-join-shaped hash
    joins on the shrinking edge list — the standard distributed peeling
    step; rounds needed in practice ~ graph depth of pendant structure
    (here the support-filtered co-purchase graph converges in <= 2)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = copurchase_edges(li).persist()
    frames = [edges]
    stats_rows = []

    def _stats(f):
        # ONE action per round: exploding both endpoints makes edge and
        # node counts the same aggregate (rows/2 edges, distinct nodes)
        row = (
            f.select(F.explode(F.array("pa", "pb")).alias("node"))
            .agg(
                (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
                F.count_distinct("node").cast("long").alias("n_nodes"),
            )
            .collect()[0]
        )
        return row["n_edges"], row["n_nodes"]

    try:
        cur = edges
        stats_rows.append((0, *_stats(edges)))
        for r in range(1, _KCORE_ROUNDS + 1):
            if len(stats_rows) >= 2 and stats_rows[-1][1] == stats_rows[-2][1]:
                # fixpoint reached: peeling is the identity from here, so the
                # remaining rounds replicate the last stats with zero jobs
                stats_rows.append((r, stats_rows[-1][1], stats_rows[-1][2]))
                continue
            deg = (
                cur.select(F.col("pa").alias("node"))
                .unionAll(cur.select(F.col("pb").alias("node")))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("d"))
                .filter(F.col("d") >= _KCORE_K)
                .select("node")
            )
            nxt = (
                cur.join(deg.withColumnRenamed("node", "pa"), "pa", "left_semi")
                .join(deg.withColumnRenamed("node", "pb"), "pb", "left_semi")
                .select("pa", "pb")
                .persist()
            )
            frames.append(nxt)
            cur = nxt
            stats_rows.append((r, *_stats(nxt)))
        converged = stats_rows[-1][1] == stats_rows[-2][1]
        out = local_frame(
            spark,
            [(r, e, n, converged) for r, e, n in stats_rows],
            "round int, n_edges long, n_nodes long, converged boolean",
        )
        return out
    finally:
        for f in frames:
            f.unpersist()


# ---------------------------------------------------------------------------
# local_clustering_coefficient — per-node triangle closure
# ---------------------------------------------------------------------------


@query(
    "local_clustering_coefficient",
    oracle=f"""
    WITH ok_orders AS (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING count(*) <= {TRIANGLE_MAX_BASKET}
    ),
    pairs AS MATERIALIZED (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        JOIN ok_orders ok ON ok.l_orderkey = a.l_orderkey
        GROUP BY 1, 2 HAVING count(*) >= {COPURCHASE_MIN_ORDERS}
    ),
    deg AS MATERIALIZED (
        SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
            SELECT pa AS node FROM pairs UNION ALL SELECT pb FROM pairs
        ) GROUP BY node
    ),
    tri AS MATERIALIZED (
        SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.pa = e1.pb
        JOIN pairs e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ),
    tn AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    )
    SELECT d.node, d.degree,
           coalesce(t.n_triangles, 0) AS n_triangles,
           round(2.0 * CAST(coalesce(t.n_triangles, 0) AS DOUBLE)
                 / CAST(d.degree * (d.degree - 1) AS DOUBLE), 6) AS lcc
    FROM deg d LEFT JOIN tn t ON t.node = d.node
    WHERE d.degree >= 2
    """,
)
def local_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node clustering coefficient of the co-purchase graph:
    ``lcc(v) = 2*triangles(v) / (deg(v)*(deg(v)-1))`` — how much of each
    part's neighborhood is itself connected, the node-level companion to
    triangle_copurchase_stats' global census (Watts-Strogatz 1998). High
    lcc identifies parts embedded in cohesive baskets (bundle candidates);
    lcc 0 at high degree marks hub-like parts.

    Integer triangle/degree counts; lcc is one identical integer-ratio
    float expression; nodes below degree 2 are excluded (undefined lcc).

    Scale: reuses copurchase_edges' array-side pair build (baskets capped
    at {TRIANGLE_MAX_BASKET} BEFORE the explode) and the oriented
    e1-e2-e3 equi-join for triangle enumeration — each triangle found
    exactly once, credited to its three corners via a union of
    projections, never a per-node neighborhood materialization."""
    from datapipeline_ops_spark.operators.dedup import persist_barrier

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = persist_barrier(copurchase_edges(li), f"lcc_edges:{sf_dir}")
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    e1 = edges.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    e2 = edges.select(F.col("pa").alias("b"), F.col("pb").alias("c"))
    e3 = edges.select(F.col("pa").alias("a3"), F.col("pb").alias("c3"))
    tri = (
        e1.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
            "left_semi",
        )
    )
    tn = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    out = (
        deg.join(tn, "node", "left")
        .filter(F.col("degree") >= 2)
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")).alias(
                "n_triangles"
            ),
            F.round(
                F.lit(2.0)
                * F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")).cast(
                    "double"
                )
                / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
                6,
            ).alias("lcc"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# basket_affinity_rules — directional association rules with lift
# ---------------------------------------------------------------------------

AFFINITY_MIN_SUPPORT = 2
AFFINITY_TOP_K = 50


@query(
    "basket_affinity_rules",
    oracle=f"""
    WITH ok_orders AS MATERIALIZED (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING count(*) <= {TRIANGLE_MAX_BASKET}
    ),
    items AS MATERIALIZED (
        SELECT DISTINCT l.l_orderkey, l.l_partkey
        FROM lineitem l JOIN ok_orders ok ON ok.l_orderkey = l.l_orderkey
    ),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM items),
    marg AS MATERIALIZED (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
        FROM items GROUP BY l_partkey
    ),
    pairs AS (
        SELECT a.l_partkey AS antecedent, b.l_partkey AS consequent,
               CAST(count(*) AS BIGINT) AS n_both
        FROM items a JOIN items b
          ON b.l_orderkey = a.l_orderkey AND b.l_partkey <> a.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= {AFFINITY_MIN_SUPPORT}
    )
    SELECT p.antecedent, p.consequent, p.n_both,
           ma.n_item AS n_antecedent, mc.n_item AS n_consequent,
           round(CAST(p.n_both AS DOUBLE) / CAST(ma.n_item AS DOUBLE), 6)
               AS confidence,
           round(CAST(p.n_both AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
                 / (CAST(ma.n_item AS DOUBLE) * CAST(mc.n_item AS DOUBLE)), 6)
               AS lift
    FROM pairs p
    JOIN marg ma ON ma.l_partkey = p.antecedent
    JOIN marg mc ON mc.l_partkey = p.consequent
    CROSS JOIN n
    ORDER BY p.n_both DESC, p.antecedent, p.consequent
    LIMIT {AFFINITY_TOP_K}
    """,
)
def basket_affinity_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional association rules A -> B over order baskets: support
    (co-occurrence count), confidence ``P(B|A) = n_both/n_A``, and lift
    ``P(A,B)/(P(A)P(B))`` — the market-basket classic (Agrawal & Srikant
    1994), complementing the symmetric PMI scores already registered
    (confidence is DIRECTIONAL: bread->butter and butter->bread differ).

    Top-{AFFINITY_TOP_K} rules ordered by INTEGER support with key
    tiebreaks — never by float confidence/lift, whose ties would be
    engine-order-dependent. Distinct-first per (order, part); baskets
    capped at {TRIANGLE_MAX_BASKET} before pairing (the triangle-census
    rule) so the per-order pair explosion is bounded by construction.

    Scale: one distinct agg, one self-equi-join on orderkey inside capped
    baskets, marginals are part-cardinality broadcasts of an aggregate."""
    from datapipeline_ops_spark.operators.dedup import persist_barrier

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ok = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .filter(F.col("n_lines") <= TRIANGLE_MAX_BASKET)
        .select("l_orderkey")
    )
    items = persist_barrier(
        li.join(ok, "l_orderkey", "left_semi").distinct(),
        f"affinity_items:{sf_dir}",
    )
    n = items.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders")
    )
    marg = items.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_item")
    )
    a = items.select("l_orderkey", F.col("l_partkey").alias("antecedent"))
    b = items.select(
        F.col("l_orderkey").alias("ok_b"), F.col("l_partkey").alias("consequent")
    )
    pairs = (
        a.join(
            b,
            (F.col("l_orderkey") == F.col("ok_b"))
            & (F.col("antecedent") != F.col("consequent")),
        )
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
        .filter(F.col("n_both") >= AFFINITY_MIN_SUPPORT)
    )
    ma = marg.select(
        F.col("l_partkey").alias("antecedent"), F.col("n_item").alias("n_antecedent")
    )
    mc = marg.select(
        F.col("l_partkey").alias("consequent"), F.col("n_item").alias("n_consequent")
    )
    return (
        pairs.join(F.broadcast(ma), "antecedent")
        .join(F.broadcast(mc), "consequent")
        .join(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            "n_both",
            "n_antecedent",
            "n_consequent",
            F.round(
                F.col("n_both").cast("double") / F.col("n_antecedent").cast("double"),
                6,
            ).alias("confidence"),
            F.round(
                F.col("n_both").cast("double") * F.col("n_orders").cast("double")
                / (
                    F.col("n_antecedent").cast("double")
                    * F.col("n_consequent").cast("double")
                ),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_both"), "antecedent", "consequent")
        .limit(AFFINITY_TOP_K)
    )
