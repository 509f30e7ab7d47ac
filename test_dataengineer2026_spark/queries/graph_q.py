"""Graph analytics GR1 — iterative algorithms as relational rounds.

Reference basis: D6 (connected components) established the pattern —
an iterative graph algorithm is a fixed point of join+aggregate rounds,
no driver-side graph, no GraphX dependency. GR1 adds the weighted
flavor: PageRank over the customer<->supplier trade graph (edges =
distinct (o_custkey, l_suppkey) pairs via orders x lineitem, both
directions, supplier ids offset into their own key space).

Determinism across engines: classic PageRank sums doubles — order
dependent. Here rank is an integer in MICRO-units and each round is
pure integer arithmetic: contribution = rank DIV out_degree (floor
division), damping = 150000 + (85 * sum) DIV 100. Integer addition is
associative, so any partitioning and any engine yields bit-identical
ranks; the DuckDB oracle unrolls the same five rounds as chained CTEs.

Scale notes (100 TB design point): each round is one join on src (rank
table x edge table, both hash-partitioned on the same key — a cluster
co-partitions them once and reuses the layout) plus one aggregation on
dst: shuffle O(edges) per round, rounds fixed at 5. Ranks/degrees are
O(nodes). The quantization error (floor per edge) is bounded by
out_degree micro-units per node per round — irrelevant at rank scale
1e6 and, crucially, identical on every engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from test_dataengineer2026_spark import tables
from test_dataengineer2026_spark.lineage import release_checkpoint
from test_dataengineer2026_spark.registry import register

#: rank quantum: 1.0 == 1_000_000 micro-units
PR_SCALE = 1_000_000
PR_ITERS = 5
#: supplier node ids live above this offset
PR_SUPP_OFFSET = 1_000_000


def _oracle() -> str:
    rounds = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        rounds.append(
            f"""r{i} AS (
  SELECT n.node,
         150000 + (85 * COALESCE(SUM(p.r // e.d), 0)) // 100 AS r
  FROM nodes n
  LEFT JOIN e ON e.dst = n.node
  LEFT JOIN {prev} p ON p.node = e.src
  GROUP BY n.node
)"""
        )
        prev = f"r{i}"
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey + {PR_SUPP_OFFSET} AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s, c FROM pairs
),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
e AS (SELECT src, dst, d FROM edges JOIN deg USING (src)),
nodes AS (SELECT DISTINCT src AS node FROM edges),
r0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS r FROM nodes),
{rounds_sql}
SELECT node, CAST(r AS BIGINT) AS rank_micro FROM {prev}
"""


@register(
    "GR1_pagerank",
    oracle=_oracle(),
    tags=("graph", "iterative"),
)
def pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GR1: five damped PageRank rounds over the customer<->supplier
    trade graph, entirely as join+aggregate — see module docstring for
    the integer-arithmetic determinism contract. Edges and degrees are
    computed once and cached for the five consumers; every round's only
    driver involvement is assembling the next plan (no collect)."""
    o = tables.load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = tables.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            (F.col("l_suppkey") + PR_SUPP_OFFSET).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # cache the edge table ALREADY hash-partitioned on the per-round
    # join key — the "co-partition once, reuse the layout" contract the
    # module docstring promises. AQE additionally reuses the identical
    # per-round edge exchanges (ReusedExchange in the final plan);
    # measured ~7.0s -> ~5.1s warm at sf0.1.
    # "spark.sql.shuffle.partitions" may be non-numeric on some
    # platforms (e.g. "auto" under AQE-managed shuffles) — fall back to
    # the cluster's default parallelism rather than crash.
    try:
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        n_shuffle = spark.sparkContext.defaultParallelism
    e = edges.join(deg, "src").repartition(n_shuffle, "src").cache()
    nodes = edges.select(F.col("src").alias("node")).distinct().cache()
    ranks = nodes.select("node", F.lit(PR_SCALE).cast("long").alias("r"))
    for _ in range(PR_ITERS):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .select("dst", F.expr("r div d").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node",
            (
                F.lit(150000).cast("long")
                + F.expr("85 * coalesce(s, 0L) div 100")
            ).alias("r"),
        )
    return ranks.select("node", F.col("r").cast("long").alias("rank_micro"))


_GR2_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_suppkey < b.l_suppkey
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.u = e1.v
  JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
),
pernode AS (
  SELECT node, COUNT(*) AS n_triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
),
deg AS (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs
  ) GROUP BY node
)
SELECT CAST(d.node AS BIGINT) AS suppkey,
       CAST(d.degree AS BIGINT) AS degree,
       CAST(COALESCE(p.n_triangles, 0) AS BIGINT) AS n_triangles
FROM deg d LEFT JOIN pernode p ON p.node = d.node
"""


@register(
    "GR2_triangle_count",
    oracle=_GR2_ORACLE,
    tags=("graph", "join"),
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GR2: per-node triangle counting on the supplier co-supply graph
    (suppliers are adjacent when they ship lines of the same order).

    Edge build: lineitem self-joined on l_orderkey with u < v — fan-out
    is bounded by lines-per-order (~4-7), so the pair explosion is
    linear in the fact table, then DISTINCT collapses it to the edge
    set. Triangles enumerate over the DEGREE-ORDERED orientation
    (operators/graph.py): every edge points low-(degree, id) ->
    high-(degree, id), wedges come from an equi-join on the shared
    center with an order residual, and close via a second equi-join —
    each triangle materializes exactly once at its unique lowest corner,
    no cross join. On a skewed co-supply graph (one supplier in a huge
    share of orders) this caps the hub's wedge fan-out at ~0 instead of
    C(hub_degree, 2) — out-degree under the total order is O(sqrt(m)) —
    verified by tests/test_plans.py::test_gr2_degree_orientation_cuts
    _skew_wedges. The triangle multiset is orientation-independent, so
    the u < v oracle still recomputes it exactly. Per-node counts then
    explode each triangle to its three corners and aggregate; integer
    counts — engine-identical by construction.
    """
    from test_dataengineer2026_spark.operators.graph import (
        degree_table,
        orient_by_degree,
        triangles_oriented,
    )

    li = tables.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
        )
        .distinct()
    )
    deg = degree_table(pairs)
    # Widen the triangle-enumeration input explicitly: AQE sizes reduce
    # partitions by INPUT bytes (the oriented edge table is ~12 MB at
    # sf0.1 -> 1-2 coalesced partitions), but the enumeration's OUTPUT
    # is the triangle set (~1.2e8 rows here) — compute explodes after
    # the exchange, which byte-based coalescing cannot see. The
    # adjacency build (groupBy src) reuses this one exchange, so the
    # repartition costs nothing extra. r18 measured 79 s / 24 tasks ->
    # 17 s / 119 tasks from the widening alone; r19 rewrote the
    # enumeration itself from wedge-join+closure-join to per-edge
    # out-neighborhood intersection (operators/graph.py docstring has
    # the algorithm and A/B: 14.1 -> 4.1 s warm, identical counts).
    tri = triangles_oriented(
        orient_by_degree(pairs, deg).repartition(
            spark.sparkContext.defaultParallelism, "src"
        )
    )
    pernode = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(pernode, "node", "left")
        .select(
            F.col("node").cast("bigint").alias("suppkey"),
            F.col("degree").cast("bigint").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
        )
    )


_GR3_ORACLE = """
WITH RECURSIVE pairs AS (
  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_suppkey < b.l_suppkey
    AND a.l_orderkey % 2000 = 0
),
nodes AS (
  SELECT DISTINCT u AS node FROM pairs
  UNION SELECT DISTINCT v FROM pairs
),
sym AS (
  SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
),
reach(node, lbl) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT s.u, r.lbl FROM sym s JOIN reach r ON r.node = s.v
),
comp AS (
  SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
)
SELECT CAST(c.cluster_id AS BIGINT) AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(c.node) AS BIGINT) AS min_member,
       CAST(MAX(c.node) AS BIGINT) AS max_member
FROM comp c
GROUP BY c.cluster_id
"""


@register(
    "GR3_connected_components",
    oracle=_GR3_ORACLE,
    tags=("graph", "iterative"),
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GR3: connected components of a sparsified co-supply graph —
    operator REUSE: the same pointer-doubling label propagation that
    clusters near-duplicate documents (D6, operators/dedup.py:
    connected_components) applied to a relational entity graph, proving
    the operator is graph-agnostic. Sparsification (1-in-2000 orders)
    keeps the graph disconnected enough to have non-trivial component
    structure; the oracle recomputes the transitive closure with a
    recursive CTE. Per-component rollups (size, id range) are one
    aggregation over the label table. Pointer doubling converges in
    O(log diameter) rounds of key-partitioned joins — the 100 TB story
    is unchanged from D6."""
    from test_dataengineer2026_spark.operators.dedup import connected_components

    li = tables.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    li = li.filter(F.col("l_orderkey") % 2000 == 0)
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_suppkey") < F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("doc_a"), F.col("b.l_suppkey").alias("doc_b")
        )
        .distinct()
    )
    nodes = (
        pairs.select(F.col("doc_a").alias("doc"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    comp = connected_components(nodes, pairs)
    return comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min("doc").cast("long").alias("min_member"),
        F.max("doc").cast("long").alias("max_member"),
    ).select(F.col("cluster_id").cast("long"), "n_members", "min_member", "max_member")


#: GR4 BFS geometry: source node and hop bound. The trade graph is a
#: dense bipartite core, so every reachable node sits within a few hops;
#: the bound makes both engines explore exactly the same walk space.
BFS_SOURCE = 1
BFS_MAX_HOPS = 6

_GR4_ORACLE = f"""
WITH RECURSIVE pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey + {PR_SUPP_OFFSET} AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s, c FROM pairs
),
walk AS (
  SELECT {BFS_SOURCE} AS node, 0 AS lvl
  UNION
  SELECT e.dst, w.lvl + 1
  FROM walk w JOIN e ON e.src = w.node
  WHERE w.lvl < {BFS_MAX_HOPS}
)
SELECT CAST(node AS BIGINT) AS node, CAST(MIN(lvl) AS BIGINT) AS level
FROM walk GROUP BY node
"""


@register(
    "GR4_bfs_levels",
    oracle=_GR4_ORACLE,
    tags=("graph", "iterative"),
)
def bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GR4: single-source BFS levels (shortest hop count) over the
    customer<->supplier trade graph — the reachability/distance
    primitive next to GR1's centrality and GR3's components. Expressed
    as {BFS_MAX_HOPS} relational rounds of frontier-expand + min-level
    collapse: round k discovers every node whose true distance is k, so
    after the bound every level is final. The oracle walks the same
    bounded space with a recursive CTE (UNION-distinct on (node, lvl)
    guarantees termination); levels are pure integers, so the
    cross-engine hash needs no float reasoning.

    Scale: each round is one equi-join of the current level table
    against the cached edge list (both hash-partitioned on the join
    key) plus a min-aggregation — shuffle O(edges) per round, rounds
    fixed; level state is O(nodes). Unreachable nodes never enter the
    result, exactly like the oracle."""
    o = tables.load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = tables.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            (F.col("l_suppkey") + PR_SUPP_OFFSET).alias("s"),
        )
        .distinct()
    )
    edges = (
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .unionByName(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
        .cache()
    )
    dist = spark.range(1).select(
        F.lit(BFS_SOURCE).cast("long").alias("node"),
        F.lit(0).cast("long").alias("lvl"),
    )
    prev = None
    for _ in range(BFS_MAX_HOPS):
        # each round references dist TWICE (frontier join + union), so an
        # un-truncated lineage doubles per round — 2^hops copies of the
        # early rounds in one plan; localCheckpoint materializes the
        # round (O(nodes) longs) and resets the lineage, the same
        # discipline as connected_components (operators/dedup.py).
        # Checkpointing every k-th round instead was A/B'd and REJECTED
        # (r19): an uncheckpointed round's subtree is referenced twice
        # by the next round and is recomputed WITHIN the checkpoint job
        # (533 -> 886 completed tasks at k=2; a .cache() on the interim
        # round cannot dedup intra-job either, 913 tasks) — a ~0.5 s
        # local driver-latency win bought with ~66% more compute, which
        # inverts at real scale where each round shuffles O(edges).
        # The per-round plan shape is pinned separately on bfs_round
        # (tests/test_plans.py) since the checkpoint hides executed
        # rounds from the final plan.
        dist = bfs_round(dist, edges).localCheckpoint()
        # the eager checkpoint above materialized this round, so the
        # PREVIOUS round's checkpoint blocks are dead — release them now
        # instead of leaving O(BFS_MAX_HOPS) node tables in storage
        # memory until nondeterministic ContextCleaner GC. NOTE:
        # DataFrame.unpersist() alone is a NO-OP on checkpoint storage
        # (RDD-level blocks, not CacheManager entries) — the helper
        # unpersists the LogicalRDD's underlying RDD (lineage.py).
        if prev is not None:
            release_checkpoint(prev)
        prev = dist
    edges.unpersist()
    return dist.select("node", F.col("lvl").cast("long").alias("level"))


def bfs_round(dist: DataFrame, edges: DataFrame) -> DataFrame:
    """One BFS round: expand the current level table one hop along the
    edge list, then collapse to min level per node. An equi-join on the
    node key plus one aggregation — O(edges) shuffle, never a cartesian
    product."""
    expanded = dist.join(edges, dist.node == edges.src).select(
        F.col("dst").alias("node"), (F.col("lvl") + 1).alias("lvl")
    )
    return (
        dist.unionByName(expanded)
        .groupBy("node")
        .agg(F.min("lvl").alias("lvl"))
    )
