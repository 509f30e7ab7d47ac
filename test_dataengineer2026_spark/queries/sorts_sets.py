"""Sort / limit / top-k operators O1-O3 and set operators U1-U4
(SURVEY.md §2.7, §2.8).

Reference basis: "structure data in usable formats" (TEST.md:15), scale
targets (TEST.md:158-163), union of per-document outputs (TEST.md:26),
run-reconciliation (TEST.md:161).

Scale notes: O1 global sort = range-partitioned exchange (sampled
boundaries) — fine at scale; O3 top-k compiles to TakeOrderedAndProject
(per-partition heap + driver merge of k rows, no global sort); O2 sorts
within partitions only (no exchange at all) for sorted-run writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from test_dataengineer2026_spark import tables
from test_dataengineer2026_spark.registry import register


@register(
    "O1_sort",
    oracle="""
SELECT n_name, n_regionkey,
       NULLIF(n_regionkey, 2) AS key_or_null,
       ROW_NUMBER() OVER (ORDER BY NULLIF(n_regionkey, 2) DESC NULLS LAST, n_name ASC) AS pos
FROM nation
""",
    tags=("sort",),
)
def sort_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: multi-key global order with explicit null placement; the order
    is materialized into a row_number column so the order-insensitive
    hash still verifies it."""
    n = tables.load(spark, sf_dir, "nation")
    key_or_null = F.nullif(F.col("n_regionkey"), F.lit(2))
    w = W.orderBy(key_or_null.desc_nulls_last(), F.col("n_name").asc())
    return n.select(
        "n_name",
        "n_regionkey",
        key_or_null.alias("key_or_null"),
        F.row_number().over(w).alias("pos"),
    ).orderBy(F.col("key_or_null").desc_nulls_last(), F.col("n_name").asc())


@register(
    "O2_sort_within_partitions",
    oracle="""
SELECT l_orderkey, l_linenumber, l_shipdate
FROM lineitem
WHERE l_returnflag = 'R'
""",
    tags=("sort",),
)
def sort_within_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: partition-local sort — no exchange; produces sorted runs for
    writers (row content is unchanged, which is what the oracle checks)."""
    li = tables.load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_shipdate")
        .sortWithinPartitions("l_shipdate", "l_orderkey", "l_linenumber")
    )


@register(
    "O3_limit_topk",
    oracle="""
SELECT o_orderkey, o_totalprice, o_custkey
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
    tags=("sort", "topk"),
)
def limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: top-k without a global sort — Spark plans TakeOrderedAndProject
    (per-partition heaps, merge k at the driver). Unique tiebreaker keeps
    the selected set deterministic."""
    o = tables.load(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice", "o_custkey")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "U1_union_all",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'F'
UNION ALL
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_totalprice > 250000.0
""",
    tags=("set",),
)
def union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: bag union (duplicates kept) — stacking per-document extraction
    outputs into corpus tables (TEST.md:26). unionByName guards against
    positional column mixups."""
    o = tables.load(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    a = o.filter(F.col("o_orderstatus") == "F").select(*cols)
    b = o.filter(F.col("o_totalprice") > 250000.0).select(*cols)
    return a.unionByName(b)


@register(
    "U2_union_distinct",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
""",
    tags=("set",),
)
def union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: set union — stack then dedup (one shuffle on the row key)."""
    c = tables.load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = tables.load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.unionByName(s).distinct()


@register(
    "U3_intersect",
    oracle="""
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
""",
    tags=("set",),
)
def intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: customers appearing in both completed and open order sets —
    the run-stability check (TEST.md:161)."""
    o = tables.load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


@register(
    "U4_except",
    oracle="""
SELECT o_custkey AS custkey FROM orders
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
""",
    tags=("set",),
)
def except_(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4: regression diff between runs (TEST.md:161) — customers with
    orders but none open. Spark subtract == SQL EXCEPT (distinct)."""
    o = tables.load(spark, sf_dir, "orders")
    a = o.select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.subtract(b)


@register(
    "U5_unpivot_melt",
    oracle="""
SELECT event_id, 'value' AS metric, CAST(value AS DOUBLE) AS metric_value
FROM events WHERE event_id % 7 = 0
UNION ALL
SELECT event_id, 'user_id' AS metric, CAST(user_id AS DOUBLE) AS metric_value
FROM events WHERE event_id % 7 = 0
""",
    tags=("setop", "reshape"),
)
def unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: unpivot/melt — the wide-to-long reshape (A7's pivot run in
    reverse) via the first-class DataFrame.unpivot API. Semantically a
    UNION ALL of per-column projections (the oracle's spelling), but
    Spark plans it as a single Expand node over one scan: at 100 TB
    the table is read ONCE and each row fans out to k metric rows
    map-side, no shuffle, no k scans. Ids cast exactly into the shared
    double value column (< 2^53, lossless)."""
    e = tables.load(spark, sf_dir, "events").filter(F.col("event_id") % 7 == 0)
    return e.select(
        "event_id",
        F.col("value").cast("double").alias("value"),
        F.col("user_id").cast("double").alias("user_id"),
    ).unpivot("event_id", ["value", "user_id"], "metric", "metric_value")


@register(
    "U6_except_all",
    oracle="""
SELECT o_custkey AS custkey FROM orders
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
""",
    tags=("setop",),
)
def except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6: EXCEPT ALL — multiset difference (U4's EXCEPT keeps one copy
    per key; this keeps max(n_left - n_right, 0) copies, the semantics
    batch reconciliation actually needs). Spark plans it as a single
    hash aggregation counting per-side multiplicities then regenerating
    rows — one shuffle on the key, never a sort or a per-row anti-join
    loop, so 100 TB costs the same as a group-by."""
    o = tables.load(spark, sf_dir, "orders")
    a = o.select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.exceptAll(b)
