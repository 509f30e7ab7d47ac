"""Projection / filter / predicate operators P1-P5 (SURVEY.md §2.3).

Reference basis: "structure data in usable formats"
(TEST_TECNICO_INGENIERO_DATOS.md:14-15), null contract (TEST.md:30),
regex processing (TEST.md:82), dedup (repo:BASELINE.json:6).

Scale notes: all five are narrow, shuffle-free transforms except
`distinct` (one shuffle on the distinct key). Filters and projections
here compile to parquet pushdown: `.explain` shows PushedFilters and a
pruned ReadSchema — at 100 TB that's the difference between scanning
2 columns and 16.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from test_dataengineer2026_spark import tables
from test_dataengineer2026_spark.registry import register


@register(
    "P1_project",
    oracle="""
SELECT
  p_partkey,
  upper(p_brand) AS brand_u,
  p_type AS part_type,
  p_retailprice * 0.9 AS discounted,
  p_size + 1 AS size_next
FROM part
""",
    tags=("project",),
)
def project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: column selection / renaming / derivation (column-pruned scan)."""
    p = tables.load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.col("p_type").alias("part_type"),
        (F.col("p_retailprice") * F.lit(0.9)).alias("discounted"),
        (F.col("p_size") + F.lit(1)).alias("size_next"),
    )


@register(
    "P2_filter_predicate",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem
WHERE (l_quantity > 30.0 AND l_returnflag IN ('A', 'R'))
   OR (NOT l_linestatus = 'F' AND l_discount >= 0.09)
""",
    tags=("filter",),
)
def filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: compound boolean predicates, pushed to the parquet scan."""
    li = tables.load(spark, sf_dir, "lineitem")
    cond = (
        (F.col("l_quantity") > 30.0) & F.col("l_returnflag").isin("A", "R")
    ) | (~(F.col("l_linestatus") == "F") & (F.col("l_discount") >= 0.09))
    return li.filter(cond).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


@register(
    "P3_filter_null_semantics",
    oracle="""
SELECT
  o_orderkey,
  NULLIF(o_orderstatus, 'P') AS status_or_null,
  COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_filled,
  (NULLIF(o_orderstatus, 'P') IS NOT DISTINCT FROM NULLIF(o_orderpriority, o_orderpriority)) AS both_null
FROM orders
WHERE NULLIF(o_orderstatus, 'P') IS NULL OR o_orderstatus = 'F'
""",
    tags=("filter", "nulls"),
)
def filter_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: IS NULL / null-safe equality — the spec's null contract
    (TEST.md:30: missing values stay null, rows are kept)."""
    o = tables.load(spark, sf_dir, "orders")
    status_or_null = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    always_null = F.nullif(F.col("o_orderpriority"), F.col("o_orderpriority"))
    return o.filter(
        status_or_null.isNull() | (F.col("o_orderstatus") == "F")
    ).select(
        "o_orderkey",
        status_or_null.alias("status_or_null"),
        F.coalesce(status_or_null, F.lit("PENDING")).alias("status_filled"),
        status_or_null.eqNullSafe(always_null).alias("both_null"),
    )


@register(
    "P4_filter_like_regex",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_name LIKE 'Customer#%19%'
  AND regexp_matches(c_name, '[0-9]{3}$')
  AND contains(c_mktsegment, 'I')
  AND starts_with(c_mktsegment, 'B') = false
""",
    tags=("filter", "regex"),
)
def filter_like_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: LIKE / regex / contains / startswith predicates (TEST.md:82)."""
    c = tables.load(spark, sf_dir, "customer")
    return c.filter(
        F.col("c_name").like("Customer#%19%")
        & F.col("c_name").rlike("[0-9]{3}$")
        & F.col("c_mktsegment").contains("I")
        & (F.col("c_mktsegment").startswith("B") == F.lit(False))
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "P5_distinct",
    oracle="""
SELECT DISTINCT c_nationkey, c_mktsegment
FROM customer
""",
    tags=("filter", "dedup"),
)
def distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: duplicate elimination — one hash shuffle on the full row key.

    At 100 TB: partial (map-side) distinct runs before the exchange, so
    shuffle volume is O(distinct), not O(rows).
    """
    c = tables.load(spark, sf_dir, "customer")
    return c.select("c_nationkey", "c_mktsegment").distinct()
