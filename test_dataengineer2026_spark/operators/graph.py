"""Graph operator building blocks (GR2 triangle counting).

Degree-ordered edge orientation: point every undirected edge from its
lower-(degree, id) endpoint to the higher one. Wedge enumeration then
fans out only over OUT-neighborhoods, and a vertex's out-degree under
this total order is bounded by O(sqrt(m)) — the classic bound that
makes triangle enumeration O(m^1.5) instead of sum-of-squared-degrees.
On a skewed graph (one hub of degree n) the difference is C(n,2)
candidate wedges collapsing to ~0: the hub sorts above all its
neighbors, so no wedge is ever centered there.

The (degree, id) pair is compared as a struct — no packed-integer
arithmetic that could overflow on a 100 TB graph's degree range.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def degree_table(pairs: DataFrame) -> DataFrame:
    """Undirected degree per node from a (u, v) u<v distinct edge list."""
    return (
        pairs.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def orient_by_degree(pairs: DataFrame, deg: DataFrame) -> DataFrame:
    """Orient each undirected edge low-(degree, id) -> high-(degree, id).

    Returns columns (src, dst, src_ord, dst_ord) where *_ord is the
    struct(degree, id) sort key — carried so downstream wedge joins can
    order out-neighbors without re-joining the degree table. Two
    broadcast-eligible joins against the degree table (O(nodes), tiny
    next to O(edges)); the edge list itself never shuffles here.
    """
    du = deg.select(
        F.col("node").alias("u"), F.col("degree").alias("du")
    )
    dv = deg.select(
        F.col("node").alias("v"), F.col("degree").alias("dv")
    )
    withdeg = pairs.join(du, "u").join(dv, "v")
    u_ord = F.struct(F.col("du").alias("d"), F.col("u").alias("n"))
    v_ord = F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
    u_first = u_ord < v_ord
    return withdeg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, u_ord).otherwise(v_ord).alias("src_ord"),
        F.when(u_first, v_ord).otherwise(u_ord).alias("dst_ord"),
    )


def wedge_candidate_count(oriented: DataFrame) -> DataFrame:
    """Number of candidate wedges the closure join will enumerate:
    sum over centers of C(out_degree, 2). One aggregation, no join —
    the cost model the degree orientation is optimizing."""
    return (
        oriented.groupBy("src")
        .agg(F.count(F.lit(1)).alias("outd"))
        .agg(
            F.coalesce(
                F.sum(F.expr("outd * (outd - 1) div 2")), F.lit(0)
            ).alias("n_wedges")
        )
    )


def triangles_oriented(oriented: DataFrame) -> DataFrame:
    """Enumerate each triangle exactly once from degree-oriented edges.
    Returns corners (a, b, c).

    Edge-iterator over the oriented DAG (the compact form of the
    classic wedge+closure): a triangle under the total order is the
    edge triple u->v, u->w, v->w, so for each oriented edge (u, v) the
    closing corners are exactly N+(u) ∩ N+(v) — the intersection of
    the two OUT-neighborhoods. Each triangle is found once, at its
    unique lowest-corner edge (u, v); the multiset equals the u<v
    formulation's (pinned against brute force in
    tests/test_properties.py).

    Why intersection instead of the wedge self-join + closure join
    (the r18 shape): the wedge table materializes EVERY candidate
    wedge as a row through a second join — 1.35e8 rows at sf0.1 on the
    near-complete co-supply graph — and that join pipeline (SMJ sort /
    hash probe per wedge) dominated GR2 (§1.2 per-task work). Here the
    same candidate space is walked INSIDE one array_intersect kernel
    per edge over sorted long arrays, and only actual triangles
    (1.24e8 here) surface as rows. Interleaved A/B at sf0.1: med
    14.1 -> 4.1 s, identical per-node counts; a long-rank orientation
    variant of the old shape (scalar instead of struct compares)
    recovered only ~12% and was discarded for this.

    Scale posture: adjacency arrays are keyed by the out-endpoint, so
    array length is the orientation's out-degree — O(sqrt(m)) bounded,
    the exact bound the wedge formulation relied on (a 1e9-edge graph
    caps at ~45k longs, a few hundred KB per row). The two attach
    joins are plain equi-joins on the 8-byte node key (AQE skew
    splitting applies). Shuffled bytes are NOT O(m): the second join
    shuffles every edge together with its ``nbrs_u``, so it carries
    sum over u of out_degree(u)^2 longs — O(m*sqrt(m)) in the worst
    case, the same order as the wedge set's sum of C(out_degree, 2)
    rows. What the intersection saves is rows and per-row join work
    (one row per edge instead of one per wedge), not shuffle volume.
    """
    adj = oriented.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("nbrs")
    )
    au = adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nbrs_u"))
    av = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nbrs_v"))
    e = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    return (
        e.join(au, "u")
        .join(av, "v")
        .select(
            F.col("u").alias("a"),
            F.col("v").alias("b"),
            F.explode(F.array_intersect("nbrs_u", "nbrs_v")).alias("c"),
        )
    )
