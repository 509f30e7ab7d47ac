"""J9 range join and J10 as-of join queries (SURVEY.md §2.4).

Reference basis: event-time enrichment over the driver's events/orders
surface (repo:TESTDATA.md:13); DuckDB's ASOF JOIN semantics are the
correctness reference for J10 — the oracle here spells the same
semantics out with a window so tie-breaks are explicit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from test_dataengineer2026_spark import tables
from test_dataengineer2026_spark.operators.asof import asof_join_latest, range_join
from test_dataengineer2026_spark.registry import register


@register(
    "J9_range_join",
    oracle="""
SELECT o.o_orderpriority,
       COUNT(*) AS n_shipped_in_window,
       CAST(COUNT(DISTINCT l.l_orderkey) AS BIGINT) AS n_orders
FROM lineitem l
JOIN orders o
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 90 DAY
GROUP BY o.o_orderpriority
""",
    tags=("join", "range"),
)
def range_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: interval containment (ship date within 90 days of order date).

    The equi key (orderkey) drives the shuffle; the BETWEEN predicate is
    evaluated inside the join, keeping a sort-merge/hash strategy — never
    a nested loop. Pure interval joins without an equi key must bucketize
    time first (see operators/asof.py docstring).
    """
    li = tables.load(spark, sf_dir, "lineitem")
    o = tables.load(spark, sf_dir, "orders")
    joined = range_join(
        li,
        o,
        equi=li.l_orderkey == o.o_orderkey,
        lower=o.o_orderdate,
        upper=o.o_orderdate + F.expr("INTERVAL 90 DAY"),
        probe=li.l_shipdate,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_shipped_in_window"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register(
    "J10_asof_join",
    oracle="""
WITH purchases AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
), views AS (
  SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'view'
), cand AS (
  SELECT p.event_id, p.user_id, p.value AS purchase_value,
         v.event_id AS prior_view_id, v.value AS prior_view_value,
         ROW_NUMBER() OVER (PARTITION BY p.event_id
                            ORDER BY v.ts DESC, v.event_id DESC) AS rk
  FROM purchases p
  JOIN views v ON v.user_id = p.user_id AND v.ts <= p.ts
)
SELECT p.event_id, p.user_id, p.value AS purchase_value,
       c.prior_view_id, c.prior_view_value
FROM purchases p
LEFT JOIN (SELECT * FROM cand WHERE rk = 1) c ON c.event_id = p.event_id
""",
    tags=("join", "asof"),
)
def asof_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: as-of join — for each purchase, the latest at-or-before view
    by the same user (ties: larger event_id wins).

    Implemented as union-tag + running last(ignorenulls) — one shuffle on
    user_id + one sort, linear per partition; scales where the oracle's
    join+rank formulation (quadratic per user) cannot.
    """
    e = tables.load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    views = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("prior_view_id"),
        "user_id",
        "ts",
        F.col("value").alias("prior_view_value"),
    )
    out = asof_join_latest(
        purchases,
        views,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        payload=["prior_view_id", "prior_view_value"],
        left_tiebreak="event_id",
        right_tiebreak="prior_view_id",
    )
    return out.select(
        "event_id", "user_id", "purchase_value", "prior_view_id", "prior_view_value"
    )


_J15_ORACLE = """
WITH iv AS (
  SELECT o_orderkey AS k,
         o_orderdate AS s,
         o_orderdate + to_days(CAST(o_orderkey % 14 + 1 AS INTEGER)) AS e
  FROM orders
  WHERE o_totalprice > 450000
)
SELECT a.k AS a_orderkey, b.k AS b_orderkey,
       CAST((epoch_us(LEAST(a.e, b.e)) - epoch_us(GREATEST(a.s, b.s)))
            // 86400000000 AS BIGINT) AS overlap_days
FROM iv a JOIN iv b
  ON a.k < b.k AND a.s <= b.e AND b.s <= a.e
"""


@register(
    "J15_interval_overlap_join",
    oracle=_J15_ORACLE,
    tags=("join", "interval", "banded"),
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J15: interval-overlap self-join via GRID BANDING — the missing
    sibling of J9's point-in-range join. Each premium order owns a
    [orderdate, orderdate + 1..14 days] interval; the query finds every
    overlapping interval pair.

    Scale shape: a naive overlap join is a theta join (the DuckDB oracle
    runs exactly that — fine at 1.5k rows, quadratic death at 100 TB).
    Here each interval explodes to the month cells it touches (<= 2 for
    a 14-day span), pairs equi-join on the cell key, the true overlap
    predicate runs as a residual, and DISTINCT collapses pairs that
    co-occur in two cells. Shuffle volume is O(intervals x cells/interval)
    and per-cell fan-out is bounded by cell population — the same
    bucketize-then-equi-join trick as D2's LSH bands, applied to time.
    """
    o = tables.load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 450000
    )
    iv = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").alias("s"),
        (
            F.col("o_orderdate")
            + F.make_dt_interval(days=(F.col("o_orderkey") % 14 + 1).cast("int"))
        ).alias("e"),
    )
    cells = iv.select(
        "k",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.date_trunc("month", F.col("s")),
                F.date_trunc("month", F.col("e")),
                F.expr("interval 1 month"),
            )
        ).alias("cell"),
    )
    a = cells.alias("a")
    b = cells.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.k") < F.col("b.k"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e")),
        )
        .select(
            F.col("a.k").alias("a_orderkey"),
            F.col("b.k").alias("b_orderkey"),
            F.expr(
                "(unix_micros(least(a.e, b.e)) - unix_micros(greatest(a.s, b.s)))"
                " div 86400000000"
            )
            .cast("long")
            .alias("overlap_days"),
        )
        .distinct()
    )
    return pairs


@register(
    "J17_asof_tolerance_join",
    oracle="""
WITH purchases AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
), views AS (
  SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'view'
), cand AS (
  SELECT p.event_id, v.event_id AS prior_view_id, v.value AS prior_view_value,
         ROW_NUMBER() OVER (PARTITION BY p.event_id
                            ORDER BY v.ts DESC, v.event_id DESC) AS rk
  FROM purchases p
  JOIN views v
    ON v.user_id = p.user_id
   AND v.ts <= p.ts
   AND v.ts >= p.ts - INTERVAL 24 HOUR
)
SELECT p.event_id, p.user_id, p.value AS purchase_value,
       c.prior_view_id, c.prior_view_value,
       c.prior_view_id IS NOT NULL AS matched_within_tolerance
FROM purchases p
LEFT JOIN (SELECT * FROM cand WHERE rk = 1) c ON c.event_id = p.event_id
""",
    tags=("join", "asof"),
)
def asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J17: as-of join with a TOLERANCE — the latest at-or-before view,
    but only if it happened within 24 hours of the purchase; staler
    matches return NULL (pandas ``merge_asof(tolerance=...)`` /
    kdb ``wj`` semantics, the usual guard against attributing a
    purchase to a view from weeks ago).

    Key identity that keeps the scale plan: the latest view overall IS
    the latest view within tolerance whenever it qualifies, and if it
    is too old then no older view can qualify either — so tolerance is
    a post-filter on J10's union-tag + running-last plan (one shuffle
    + one sort, linear per user), never a second join. The oracle
    spells the same semantics as a windowed join for the cross-engine
    check; that formulation is quadratic per user and stays in the
    oracle."""
    e = tables.load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    views = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("prior_view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("value").alias("prior_view_value"),
    )
    out = asof_join_latest(
        purchases,
        views,
        keys=["user_id"],
        left_ts="ts",
        right_ts="view_ts",
        payload=["prior_view_id", "prior_view_value", "view_ts"],
        left_tiebreak="event_id",
        right_tiebreak="prior_view_id",
    )
    within = F.col("view_ts") >= F.col("ts") - F.expr("INTERVAL 24 HOUR")
    keep = F.col("view_ts").isNotNull() & within
    return out.select(
        "event_id",
        "user_id",
        "purchase_value",
        F.when(keep, F.col("prior_view_id")).alias("prior_view_id"),
        F.when(keep, F.col("prior_view_value")).alias("prior_view_value"),
        keep.alias("matched_within_tolerance"),
    )
