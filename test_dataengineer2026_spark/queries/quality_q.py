"""Data-quality expectation checks — the Deequ/Great-Expectations pattern.

A 100 TB training-data pipeline gates every ingest on declarative
quality constraints (the reference's validation stage, repo:TEST.md:100-104
"validación de datos extraídos", generalized to table-level contracts):
completeness, uniqueness, domain membership, value ranges, and
referential integrity. The non-negotiable at scale is that a whole
constraint SUITE costs ONE pass over the fact table — each check must be
an aggregate expression fused into a single Aggregate node, never one
job per check (Deequ's core design).

DQ1 computes a five-check suite over ``orders`` in one aggregation (the
plan contract pins a single pair of exchanges — partial+final agg of one
scan) and unpivots the metrics with ``stack`` into the canonical
(check, metric, passed) report shape. DQ2 audits four foreign-key edges
of the star schema with left joins + null counting, one pass per edge;
parent key sets are distinct-projected first so each edge shuffles only
keys, and AQE broadcasts the small parents.

All metrics are exact integer counts or ratios of exact counts divided
as doubles — bit-identical cross-engine with no decimal machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from test_dataengineer2026_spark import tables
from test_dataengineer2026_spark.registry import register


@register(
    "DQ1_expectation_checks",
    oracle="""
WITH m AS (
  SELECT COUNT(*) AS n_rows,
         COUNT(o_custkey) AS n_custkey,
         COUNT(DISTINCT o_orderkey) AS n_distinct_key,
         COUNT(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 END)
           AS n_status_ok,
         COUNT(CASE WHEN o_totalprice > 0 THEN 1 END) AS n_price_pos,
         COUNT(CASE WHEN o_orderdate >= TIMESTAMP '1992-01-01 00:00:00'
                     AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
                    THEN 1 END) AS n_date_in_range
  FROM orders
)
SELECT 'row_count' AS check, CAST(n_rows AS DOUBLE) AS metric,
       n_rows > 0 AS passed FROM m
UNION ALL
SELECT 'completeness_custkey',
       CAST(n_custkey AS DOUBLE) / CAST(n_rows AS DOUBLE),
       n_custkey = n_rows FROM m
UNION ALL
SELECT 'uniqueness_orderkey',
       CAST(n_distinct_key AS DOUBLE) / CAST(n_rows AS DOUBLE),
       n_distinct_key = n_rows FROM m
UNION ALL
SELECT 'domain_orderstatus',
       CAST(n_status_ok AS DOUBLE) / CAST(n_rows AS DOUBLE),
       n_status_ok = n_rows FROM m
UNION ALL
SELECT 'range_totalprice_positive',
       CAST(n_price_pos AS DOUBLE) / CAST(n_rows AS DOUBLE),
       n_price_pos = n_rows FROM m
UNION ALL
SELECT 'range_orderdate',
       CAST(n_date_in_range AS DOUBLE) / CAST(n_rows AS DOUBLE),
       n_date_in_range = n_rows FROM m
""",
    tags=("quality", "aggregation"),
)
def expectation_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ1: declarative constraint suite over ``orders`` in ONE scan.

    Six checks — row count, completeness(o_custkey),
    uniqueness(o_orderkey), domain(o_orderstatus),
    range(o_totalprice > 0), range(o_orderdate window) — each compiled
    to an aggregate expression in a single Aggregate, then unpivoted
    with ``stack`` into (check, metric, passed) rows. Adding a check
    adds a column to the agg, not a job: the suite's cost is flat in
    the number of constraints (tests/test_plans.py pins the one-scan
    shape). Metrics are exact-count ratios — cross-engine safe.
    """
    o = tables.load(spark, sf_dir, "orders")
    m = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("n_custkey"),
        F.countDistinct("o_orderkey").alias("n_distinct_key"),
        F.count(
            F.when(F.col("o_orderstatus").isin("O", "F", "P"), 1)
        ).alias("n_status_ok"),
        F.count(F.when(F.col("o_totalprice") > 0, 1)).alias("n_price_pos"),
        F.count(
            F.when(
                (F.col("o_orderdate") >= F.lit("1992-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp")),
                1,
            )
        ).alias("n_date_in_range"),
    )
    return m.select(
        F.expr(
            """stack(6,
          'row_count', CAST(n_rows AS DOUBLE), n_rows > 0,
          'completeness_custkey',
            CAST(n_custkey AS DOUBLE) / CAST(n_rows AS DOUBLE),
            n_custkey = n_rows,
          'uniqueness_orderkey',
            CAST(n_distinct_key AS DOUBLE) / CAST(n_rows AS DOUBLE),
            n_distinct_key = n_rows,
          'domain_orderstatus',
            CAST(n_status_ok AS DOUBLE) / CAST(n_rows AS DOUBLE),
            n_status_ok = n_rows,
          'range_totalprice_positive',
            CAST(n_price_pos AS DOUBLE) / CAST(n_rows AS DOUBLE),
            n_price_pos = n_rows,
          'range_orderdate',
            CAST(n_date_in_range AS DOUBLE) / CAST(n_rows AS DOUBLE),
            n_date_in_range = n_rows
        ) AS (check, metric, passed)"""
        )
    )


def _fk_audit(child: DataFrame, parent: DataFrame, fk: str, pk: str, edge: str):
    """One FK edge: left-join child onto the distinct parent key set and
    count unmatched rows. Shuffles the child once on the key (or zero
    times when AQE broadcasts the key set); never materializes orphans.
    """
    keys = parent.select(F.col(pk).alias(fk)).distinct()
    joined = child.select(fk).join(
        keys.withColumn("__hit", F.lit(1)), fk, "left"
    )
    return joined.agg(
        F.lit(edge).alias("fk_edge"),
        F.count(F.lit(1)).alias("n_child"),
        F.count(F.when(F.col("__hit").isNull() & F.col(fk).isNotNull(), 1)).alias(
            "n_orphans"
        ),
        F.count(F.when(F.col(fk).isNull(), 1)).alias("n_null_fk"),
    ).withColumn(
        "ri_ok", F.col("n_orphans") == 0
    )


_FK_ORACLE_ONE = """
SELECT '{edge}' AS fk_edge,
       COUNT(*) AS n_child,
       COUNT(CASE WHEN p.__pk IS NULL AND c.{fk} IS NOT NULL THEN 1 END)
         AS n_orphans,
       COUNT(CASE WHEN c.{fk} IS NULL THEN 1 END) AS n_null_fk,
       COUNT(CASE WHEN p.__pk IS NULL AND c.{fk} IS NOT NULL THEN 1 END) = 0
         AS ri_ok
FROM {child} c
LEFT JOIN (SELECT DISTINCT {pk} AS __pk FROM {parent}) p ON c.{fk} = p.__pk
"""

_FK_EDGES = (
    ("orders", "customer", "o_custkey", "c_custkey", "orders->customer"),
    ("lineitem", "orders", "l_orderkey", "o_orderkey", "lineitem->orders"),
    ("lineitem", "part", "l_partkey", "p_partkey", "lineitem->part"),
    ("lineitem", "supplier", "l_suppkey", "s_suppkey", "lineitem->supplier"),
)


@register(
    "DQ2_referential_integrity",
    oracle="\nUNION ALL\n".join(
        _FK_ORACLE_ONE.format(child=c, parent=p, fk=fk, pk=pk, edge=e)
        for c, p, fk, pk, e in _FK_EDGES
    ),
    tags=("quality", "join"),
)
def referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ2: referential-integrity audit of the star schema's four FK
    edges — orders→customer, lineitem→orders, lineitem→part,
    lineitem→supplier.

    Each edge is a left join of the child's FK column onto the parent's
    distinct-projected key set with null-hit counting: one aggregate row
    per edge (edge, n_child, n_orphans, n_null_fk, ri_ok), orphan ROWS
    are never materialized or shuffled — only the key column moves. At
    100 TB the parent key set is the small side (keys only, deduped) so
    AQE broadcasts it; a violating ingest shows up as n_orphans > 0
    without ever collecting the violations.
    """
    dfs = {
        n: tables.load(spark, sf_dir, n)
        for n in ("orders", "customer", "lineitem", "part", "supplier")
    }
    parts = [
        _fk_audit(dfs[c], dfs[p], fk, pk, e) for c, p, fk, pk, e in _FK_EDGES
    ]
    out = parts[0]
    for nxt in parts[1:]:
        out = out.unionByName(nxt)
    return out


@register(
    "DQ3_financial_reconciliation",
    oracle="""
WITH li AS (
  SELECT l_orderkey,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(18,6))
              AS DOUBLE) AS line_total,
         COUNT(*) AS n_lines
  FROM lineitem GROUP BY l_orderkey
)
SELECT CASE WHEN li.l_orderkey IS NULL THEN 'no_lineitems'
            WHEN abs(o.o_totalprice - li.line_total)
                 <= 0.05 * o.o_totalprice THEN 'reconciled'
            ELSE 'price_drift' END AS status,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DECIMAL(18,6))
            AS DOUBLE) AS order_value
FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
GROUP BY 1
""",
    tags=("quality", "reconciliation"),
)
def financial_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ3: cross-table reconciliation — the header-vs-detail audit every
    finance pipeline runs: each order's booked total against the sum of
    its lines, bucketed into reconciled (within 5%), price_drift, and
    no_lineitems. One pre-aggregation of the detail table (map-side
    partial on l_orderkey) then a key-join with the header — detail rows
    never move unaggregated, and the 3-row report is what a monitor
    alerts on. Exact-decimal sums on both sides keep the 5% boundary
    decision engine-identical."""
    from test_dataengineer2026_spark.determinism import dsum

    o = tables.load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = (
        tables.load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(dsum("l_extendedprice").alias("line_total"))
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey, "left")
    status = (
        F.when(F.col("l_orderkey").isNull(), "no_lineitems")
        .when(
            F.abs(F.col("o_totalprice") - F.col("line_total"))
            <= 0.05 * F.col("o_totalprice"),
            "reconciled",
        )
        .otherwise("price_drift")
    )
    return (
        j.select(status.alias("status"), "o_totalprice")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("order_value"),
        )
    )


@register(
    "DQ4_observe_metrics",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(COUNT(CASE WHEN l_quantity <= 0 THEN 1 END) AS BIGINT)
         AS n_nonpositive_qty,
       CAST(COUNT(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 END)
            AS BIGINT) AS n_discount_oob,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(18,6))
            AS DOUBLE) AS total_price
FROM lineitem
""",
    tags=("quality", "observe"),
)
def observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ4: the ``Dataset.observe`` / ``Observation`` API — data-quality
    counters collected AS A SIDE EFFECT of a pass the pipeline is
    already paying for, the production alternative to DQ1's dedicated
    validation scan. The exhibit attaches row-count, two
    constraint-violation counters (count_if), and an exact-decimal
    price sum to a lineitem pass, drives the pass with a noop write
    (the metrics piggyback on that single scan — no second job, unlike
    DQ1 which IS a scan), and returns the observed metrics row. The
    oracle recomputes the same four aggregates directly, so the
    side-channel values are hash-checked, not just smoke-checked.

    The one-row createDataFrame at the end is metrics plumbing, not a
    driver-side compute path: the aggregation itself ran distributed
    inside the observed pass (AggregatingAccumulator), and only the
    final 4-value metric map crosses to the driver — the same bytes a
    StreamingQueryListener or metrics sink would ship.

    Scale posture: observe() adds an accumulator to an EXISTING pass —
    zero extra scans, zero extra shuffles; at 100 TB this is the only
    affordable way to get per-batch DQ counters on every pipeline run
    (a separate DQ job doubles the read bill). Restriction honored:
    observed expressions are plain aggregates (no distinct), exactly
    what the API supports."""
    from pyspark.sql import Observation

    li = tables.load(spark, sf_dir, "lineitem")
    obs = Observation("dq4")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("l_quantity") <= 0).alias("n_nonpositive_qty"),
        F.count_if(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
        ).alias("n_discount_oob"),
        F.expr(
            "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) "
            "AS DECIMAL(18,6)) AS DOUBLE)"
        ).alias("total_price"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_nonpositive_qty"], m["n_discount_oob"], m["total_price"])],
        "n_rows bigint, n_nonpositive_qty bigint, n_discount_oob bigint, "
        "total_price double",
    )
