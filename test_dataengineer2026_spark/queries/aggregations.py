"""Aggregation operators A1-A10 (SURVEY.md §2.5).

Reference basis: grouped metal/tonnage summaries required by the spec's
extraction tables (TEST_TECNICO_INGENIERO_DATOS.md:38-48) and the
driver-mandated analytics surface (repo:BASELINE.json:6). Expressed over
the harness star schema; every aggregate is bit-deterministic vs DuckDB
via exact-decimal sums (see determinism.py).

Scale notes (100 TB design point): all of these are single-shuffle
hash aggregations — Spark plans partial (map-side) + final aggregation
automatically, so network traffic is O(groups), not O(rows). Cardinality
of every grouping key here is tiny-to-moderate; for high-cardinality keys
AQE's coalesce/skew handling applies. approx_count_distinct (HLL++) is
the 100 TB path for cardinality; exact countDistinct is kept for parity
checking at test scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from test_dataengineer2026_spark import tables
from test_dataengineer2026_spark.determinism import (
    MONEY,
    MONEY2,
    QTY,
    RATE,
    davg,
    dec,
    dnarrow,
    dstddev,
    dsum,
    sql_davg,
    sql_dnarrow,
    sql_dstddev,
    sql_dsum,
)
from test_dataengineer2026_spark.registry import register

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-style pricing summary over lineitem."""
    one = F.lit(1).cast(RATE)
    # Scale-adaptive scan widening (r19, guide §2.5/§6 — verdict #6):
    # the single-row-group fixture feeds ONE task, fusing the scan and
    # the wide-decimal partial aggregation (the measured cost, r18
    # decomposition) onto one core. widen_if_narrow hash-spreads the
    # rows only when the layout cannot feed the session's cores AND the
    # per-split row count is large; at a real multi-file layout it is a
    # no-op (pinned in tests/test_plans.py). Interleaved A/B at sf0.1:
    # med 1.17 -> 0.80 s, values identical (exact decimal sums are
    # order-independent). The same widening on T5 was A/B'd and
    # REJECTED (0.75 -> 0.82 s: explode per-row work is too light to
    # buy back the exchange).
    li = tables.widen_if_narrow(
        tables.load(spark, sf_dir, "lineitem"),
        key="l_orderkey",
        min_rows_per_split=100_000,
    )
    disc_price = dec("l_extendedprice", MONEY) * (one - dec("l_discount", RATE))
    charge = disc_price * (one + dec("l_tax", RATE))
    # QTY narrows the quantity accumulator to the unscaled-long sum path
    # (same values — see determinism.QTY); the driver's value hash is
    # order-insensitive, so a final orderBy would add a rangepartitioning
    # exchange purely for cosmetic row order (guide §2.4: an orderBy used
    # only to make output deterministic is an accidental shuffle) — the
    # 4-group result needs no presentation sort the reader can't add.
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", QTY).alias("sum_qty"),
            dsum("l_extendedprice", MONEY2).alias("sum_base_price"),
            dnarrow(F.sum(disc_price)).alias("sum_disc_price"),
            dnarrow(F.sum(charge)).alias("sum_charge"),
            davg("l_quantity", QTY).alias("avg_qty"),
            davg("l_extendedprice", MONEY2).alias("avg_price"),
            davg("l_discount", RATE).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


PRICING_SUMMARY_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {sql_dsum('l_quantity', QTY)} AS sum_qty,
  {sql_dsum('l_extendedprice', MONEY2)} AS sum_base_price,
  {sql_dnarrow(f"SUM(CAST(l_extendedprice AS {MONEY}) * (CAST(1 AS {RATE}) - CAST(l_discount AS {RATE})))")} AS sum_disc_price,
  {sql_dnarrow(f"SUM(CAST(l_extendedprice AS {MONEY}) * (CAST(1 AS {RATE}) - CAST(l_discount AS {RATE})) * (CAST(1 AS {RATE}) + CAST(l_tax AS {RATE})))")} AS sum_charge,
  {sql_davg('l_quantity', QTY)} AS avg_qty,
  {sql_davg('l_extendedprice', MONEY2)} AS avg_price,
  {sql_davg('l_discount', RATE)} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

pricing_summary = register("A1_group_agg", oracle=PRICING_SUMMARY_ORACLE, tags=("agg", "flagship"))(
    pricing_summary
)


@register(
    "A2_global_agg",
    oracle=f"""
SELECT
  COUNT(*) AS n_rows,
  {sql_dsum('o_totalprice')} AS total_value,
  {sql_davg('o_totalprice')} AS avg_value,
  MIN(o_totalprice) AS min_value,
  MAX(o_totalprice) AS max_value,
  CAST(MIN(o_orderdate) AS DATE) AS first_order,
  CAST(MAX(o_orderdate) AS DATE) AS last_order
FROM orders
""",
    tags=("agg",),
)
def global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: whole-table aggregate (no grouping -> single reduced row)."""
    o = tables.load(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("o_totalprice").alias("total_value"),
        davg("o_totalprice").alias("avg_value"),
        F.min("o_totalprice").alias("min_value"),
        F.max("o_totalprice").alias("max_value"),
        F.min("o_orderdate").cast("date").alias("first_order"),
        F.max("o_orderdate").cast("date").alias("last_order"),
    )


@register(
    "A3_count_distinct",
    oracle="""
SELECT
  l_returnflag,
  COUNT(DISTINCT l_partkey) AS n_parts,
  COUNT(DISTINCT l_suppkey) AS n_supps,
  COUNT(DISTINCT l_orderkey) AS n_orders
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("agg",),
)
def count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: exact distinct cardinality per group (expand+two-phase agg)."""
    li = tables.load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register(
    "A4_approx_count_distinct",
    oracle="""
SELECT
  l_linestatus,
  COUNT(DISTINCT l_returnflag) AS n_flags,
  COUNT(DISTINCT l_linenumber) AS n_linenums
FROM lineitem
GROUP BY l_linestatus
""",
    tags=("agg", "approx"),
)
def approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: HLL++ cardinality — the 100 TB path for distinct counts.

    At the tiny cardinalities used here HLL++ linear counting is exact, so
    the query stays oracle-checkable against exact COUNT(DISTINCT); at
    production cardinalities the same plan holds with bounded error and
    O(registers) memory instead of O(distinct values).
    """
    li = tables.load(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.approx_count_distinct("l_returnflag", 0.01).alias("n_flags"),
        F.approx_count_distinct("l_linenumber", 0.01).alias("n_linenums"),
    )


@register(
    "A5_agg_filtered",
    oracle=f"""
SELECT
  l_linestatus,
  {sql_dsum("CASE WHEN l_returnflag = 'A' THEN l_quantity END")} AS qty_returned_a,
  {sql_dsum("CASE WHEN l_returnflag = 'R' THEN l_quantity END")} AS qty_returned_r,
  COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_high_discount,
  {sql_dsum("CASE WHEN l_quantity > 25 THEN l_extendedprice END")} AS big_order_value
FROM lineitem
GROUP BY l_linestatus
""",
    tags=("agg",),
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: conditional aggregates (per-category columns like the spec's
    resource tables, TEST_TECNICO_INGENIERO_DATOS.md:38-42)."""
    li = tables.load(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        dnarrow(F.sum(F.when(F.col("l_returnflag") == "A", dec("l_quantity")))).alias("qty_returned_a"),
        dnarrow(F.sum(F.when(F.col("l_returnflag") == "R", dec("l_quantity")))).alias("qty_returned_r"),
        F.count(F.when(F.col("l_discount") > 0.05, F.lit(1))).alias("n_high_discount"),
        dnarrow(F.sum(F.when(F.col("l_quantity") > 25, dec("l_extendedprice")))).alias("big_order_value"),
    )


@register(
    "A6_grouping_sets_rollup",
    oracle=f"""
SELECT
  l_returnflag,
  l_linestatus,
  GROUPING(l_returnflag) + 2 * GROUPING(l_linestatus) AS gid,
  COUNT(*) AS n,
  {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    tags=("agg",),
)
def grouping_sets_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: rollup subtotals — the 'Measured + Indicated' / 'Proven +
    Probable' rollup rows seen in the reference sample PDF's Table 1-2."""
    li = tables.load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        (F.grouping("l_returnflag") + F.lit(2) * F.grouping("l_linestatus"))
        .cast("long")
        .alias("gid"),
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity").alias("sum_qty"),
    )


@register(
    "A7_pivot",
    oracle=f"""
SELECT
  l_returnflag,
  {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS "O",
  {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS "F"
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("agg",),
)
def pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: category rows -> columns (report-shaped output, TEST.md:15)."""
    li = tables.load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dsum("l_quantity"))
    )


@register(
    "A8_collect_agg",
    oracle="""
SELECT
  c_nationkey,
  array_to_string(list_sort(list_distinct(list(c_mktsegment))), ',') AS segments,
  COUNT(DISTINCT c_mktsegment) AS n_segments
FROM customer
GROUP BY c_nationkey
""",
    tags=("agg",),
)
def collect_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: per-group array gathering (all grades per doc, TEST.md:38-42);
    rendered as a sorted joined string for cross-engine comparison."""
    c = tables.load(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias("segments"),
        F.countDistinct("c_mktsegment").alias("n_segments"),
    )


@register(
    "A9_stats_agg",
    oracle=f"""
SELECT
  l_returnflag,
  {sql_dstddev('l_quantity')} AS sd_qty,
  median(l_quantity) AS med_qty,
  quantile_cont(l_extendedprice, 0.90) AS p90_price
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("agg", "stats"),
)
def stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: dispersion/quantile QA stats for extracted numerics (TEST.md:119).

    stddev is computed via exact decimal sums (order-independent); median /
    exact percentile interpolate identically on both engines.
    """
    li = tables.load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        dstddev("l_quantity").alias("sd_qty"),
        F.median("l_quantity").alias("med_qty"),
        F.percentile("l_extendedprice", F.lit(0.90)).alias("p90_price"),
    )


@register(
    "A10_mode_first_last",
    oracle="""
WITH counted AS (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
  FROM orders GROUP BY o_orderstatus, o_orderpriority
), ranked AS (
  SELECT o_orderstatus, o_orderpriority, n,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY n DESC, o_orderpriority) AS rk
  FROM counted
), extremes AS (
  SELECT o_orderstatus,
         min_by(o_orderpriority, o_orderkey) AS first_priority,
         max_by(o_orderpriority, o_orderkey) AS last_priority
  FROM orders GROUP BY o_orderstatus
)
SELECT r.o_orderstatus,
       r.o_orderpriority AS modal_priority,
       r.n AS modal_count,
       e.first_priority,
       e.last_priority
FROM ranked r JOIN extremes e USING (o_orderstatus)
WHERE r.rk = 1
""",
    tags=("agg",),
)
def mode_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: representative value per group — deterministic mode (ties broken
    by value) plus min_by/max_by over the unique order key."""
    from pyspark.sql import Window as W

    o = tables.load(spark, sf_dir, "orders")
    counted = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = W.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority")
    )
    modal = (
        counted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("modal_priority"),
            F.col("n").alias("modal_count"),
        )
    )
    extremes = o.groupBy("o_orderstatus").agg(
        F.min_by("o_orderpriority", "o_orderkey").alias("first_priority"),
        F.max_by("o_orderpriority", "o_orderkey").alias("last_priority"),
    )
    return modal.join(extremes, "o_orderstatus")


@register(
    "H1_hypertable_rollup",
    oracle=f"""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("agg", "rollup", "hypertable"),
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1: hypertable-style multi-granularity rollup — the daily
    aggregate is computed FROM the hourly aggregate, not from raw
    events, proving the partial-aggregate reuse a continuous-aggregate
    store depends on: counts add, and the hourly sums stay in exact
    DECIMAL until the final daily narrowing, so re-aggregation is
    bit-identical to aggregating raw data once (the oracle computes the
    daily answer directly from events). At 100 TB this is the
    cascade that turns a rescan of a year of raw data into a scan of
    365 daily partials."""
    ev = tables.load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec("value")).alias("value_dec"),  # exact partial, NOT narrowed
    )
    daily = hourly.groupBy(
        F.date_format(F.date_trunc("day", "hour"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.sum("n_events").alias("n_events"),
        dnarrow(F.sum("value_dec")).alias("total_value"),
    )
    return daily


@register(
    "H2_incremental_rollup_refresh",
    oracle=f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       COUNT(*) AS n,
       {sql_dsum('value')} AS total_value
FROM events
GROUP BY 1
""",
    tags=("rollup", "incremental", "cdc"),
)
def incremental_rollup_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: incremental materialized-rollup maintenance — H1's hourly
    tier kept fresh ALGEBRAICALLY. The feed splits into an initial load
    and a late batch (event_id % 10 == 0, spread over most hours); the
    refresh aggregates ONLY the late batch, then merges per-hour partial
    states additively (counts add, exact-decimal sums add) into the
    standing rollup via a full-outer join on the hour key.

    Scale contract: refresh cost is O(late rows) + O(touched hours) —
    the initial fact set is never rescanned (it exists only inside the
    standing aggregate). That is the continuous-aggregate refresh model
    of every streaming-lakehouse rollup, and it works precisely because
    count/sum are commutative monoids; the oracle proves merged state ==
    full recompute. The exact-decimal sums stay DECIMAL through the
    merge and narrow to DOUBLE once, so incremental and batch answers
    are bit-identical."""
    from test_dataengineer2026_spark.determinism import dec, dnarrow

    e = tables.load(spark, sf_dir, "events")
    initial = e.filter(F.col("event_id") % 10 != 0)
    late = e.filter(F.col("event_id") % 10 == 0)

    def partial(df):
        return df.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("h")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).alias("v"),
        )

    base = partial(initial)
    delta = partial(late)
    b = base.alias("b")
    d = delta.alias("d")
    merged = b.join(d, F.col("b.h") == F.col("d.h"), "full_outer").select(
        F.coalesce(F.col("b.h"), F.col("d.h")).alias("h"),
        (
            F.coalesce(F.col("b.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0))
        ).alias("n"),
        (
            F.coalesce(F.col("b.v"), F.lit(0).cast("decimal(18,4)"))
            + F.coalesce(F.col("d.v"), F.lit(0).cast("decimal(18,4)"))
        ).alias("v"),
    )
    return merged.select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "n",
        dnarrow(F.col("v")).alias("total_value"),
    )


#: A13 histogram geometry: equi-width price bins.
A13_BIN_WIDTH = 1000


@register(
    "A13_histogram_quantiles",
    oracle=f"""
WITH bins AS (
  SELECT CAST(floor(l_extendedprice / {A13_BIN_WIDTH}) AS BIGINT) AS bin,
         COUNT(*) AS cnt
  FROM lineitem GROUP BY 1
), c AS (
  SELECT bin, cnt,
         SUM(cnt) OVER (ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cnt) OVER () AS total
  FROM bins
)
SELECT CAST(MAX(total) AS BIGINT) AS n_rows,
       CAST(MIN(CASE WHEN cum >= 0.50 * total THEN bin END) * {A13_BIN_WIDTH}
            AS BIGINT) AS p50_bin_floor,
       CAST(MIN(CASE WHEN cum >= 0.95 * total THEN bin END) * {A13_BIN_WIDTH}
            AS BIGINT) AS p95_bin_floor,
       CAST(MIN(CASE WHEN cum >= 0.99 * total THEN bin END) * {A13_BIN_WIDTH}
            AS BIGINT) AS p99_bin_floor
FROM c
""",
    tags=("agg", "sketch", "quantile"),
)
def histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: mergeable histogram quantiles — the production alternative to
    sorting 100 TB for a percentile: an equi-width integer-bin histogram
    is an algebraic aggregate (bin counts add), and quantile estimates
    read off the cumulative distribution at bin resolution. The bin
    cumsum window runs over O(bins) rows (~500 here), not O(data), so
    the only data-sized operation is one map-side-combined groupBy.
    Bin-floor estimates are pure integer math — engine-identical, unlike
    interpolated approx_percentile internals (A4's approx path stays the
    built-in; this is the verifiable twin, same contract as A12 vs A4)."""
    from pyspark.sql import Window as W

    li = tables.load(spark, sf_dir, "lineitem")
    bins = li.groupBy(
        F.floor(F.col("l_extendedprice") / A13_BIN_WIDTH).cast("long").alias("bin")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = bins.select(
        "bin",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(W.partitionBy()).alias("total"),
    )
    q = lambda p: (  # noqa: E731
        F.min(F.when(F.col("cum") >= p * F.col("total"), F.col("bin")))
        * A13_BIN_WIDTH
    ).cast("long")
    return c.agg(
        F.max("total").cast("long").alias("n_rows"),
        q(0.50).alias("p50_bin_floor"),
        q(0.95).alias("p95_bin_floor"),
        q(0.99).alias("p99_bin_floor"),
    )


@register(
    "A14_cube",
    oracle=f"""
SELECT
  o_orderstatus,
  o_orderpriority,
  GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS gid,
  COUNT(*) AS n_orders,
  {sql_dsum('o_totalprice')} AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    tags=("agg",),
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: CUBE — all four grouping sets (both keys, each key alone,
    grand total) in ONE pass. Completes the grouping-analytics family
    next to A6's ROLLUP: Spark expands the cube map-side and still
    plans a single two-phase hash aggregation, so the 100 TB cost is
    one shuffle of O(groups x 4) partial states, never four scans.
    GROUPING() bits disambiguate subtotal rows from genuine NULL keys
    on both engines."""
    o = tables.load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        (F.grouping("o_orderstatus") + F.lit(2) * F.grouping("o_orderpriority"))
        .cast("long")
        .alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
    )


@register(
    "A15_grouped_percentiles",
    oracle="""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       quantile_cont(n_chars, 0.25) AS p25_chars,
       quantile_cont(n_chars, 0.50) AS p50_chars,
       quantile_cont(n_chars, 0.75) AS p75_chars,
       quantile_cont(n_chars, 0.75) - quantile_cont(n_chars, 0.25) AS iqr_chars
FROM documents
GROUP BY lang
""",
    tags=("agg", "quantile"),
)
def grouped_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15: EXACT per-group quartiles + IQR — the verifiable sibling of
    A13's mergeable histogram and A4's approx sketch. ``percentile`` is
    Spark's exact interpolated quantile (identical linear-interpolation
    definition to DuckDB's ``quantile_cont``; over integer inputs every
    interpolation step is exact in binary64, verified bit-equal).

    Scale posture: exact per-group percentiles require the group's
    values collected per aggregation state — right when groups are
    bounded (5 langs x ~1e5 docs/partition state here), wrong for
    unbounded groups, which is exactly what A13 (bin histogram, O(bins)
    state) and A4 (fixed-size sketch) are for. The three operators
    document the accuracy/state trade-off ladder."""
    d = tables.load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("percentile(n_chars, 0.25D)").alias("p25_chars"),
        F.expr("percentile(n_chars, 0.50D)").alias("p50_chars"),
        F.expr("percentile(n_chars, 0.75D)").alias("p75_chars"),
        (
            F.expr("percentile(n_chars, 0.75D)")
            - F.expr("percentile(n_chars, 0.25D)")
        ).alias("iqr_chars"),
    )


@register(
    "A17_sliding_distinct",
    oracle="""
WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
ue AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events)
SELECT d.day,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active_users,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM days d JOIN ue e ON e.day BETWEEN d.day - 6 AND d.day
GROUP BY d.day
""",
    tags=("agg", "distinct", "sliding-window"),
)
def sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17: trailing-7-day distinct users (and event volume) per day —
    the rolling-DAU/WAU aggregate that is easy to write as a range
    self-join and impossible to run that way at 100 TB (O(days x
    events) probe). The scalable form used here is explode-to-window:
    pre-aggregate to (user, day) / (day, count) — the only pass over
    raw events — then each pre-aggregated row fans out to the <= 7
    target days it contributes to (a map-side sequence/explode of
    bounded width), and exact distinct/sum aggregation runs per target
    day. Shuffle volume is O(active-pairs x 7), independent of raw
    event count; the oracle states the same window as the naive range
    join, proving the rewrite is semantics-preserving."""
    ev = tables.load(spark, sf_dir, "events")
    day = F.to_date("ts").alias("day")
    spine = ev.select(day).distinct()
    week = F.explode(
        F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
    ).alias("target_day")
    active = (
        ev.select(day, "user_id")
        .distinct()
        .select("user_id", week)
        .distinct()
        .groupBy(F.col("target_day").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )
    volume = (
        ev.groupBy(day)
        .agg(F.count(F.lit(1)).alias("n"))
        .select("n", week)
        .groupBy(F.col("target_day").alias("day"))
        .agg(F.sum("n").cast("long").alias("n_events"))
    )
    return spine.join(active, "day").join(volume, "day")


@register(
    "A18_listagg",
    oracle="""
SELECT r.r_name AS region,
       COUNT(*) AS n_nations,
       string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
    tags=("aggregation", "listagg"),
)
def listagg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18: ordered string aggregation — Spark 4.0's ``listagg(...)
    WITHIN GROUP (ORDER BY ...)`` (SQL:2016), the last ISO-standard
    aggregate the registry lacked. A8's collect_list needed an
    explicit array_sort to be deterministic; listagg carries the
    order in the aggregate itself, which is also the only way the
    SQL-text surface can express it. DuckDB's string_agg with an
    ORDER BY clause is the exact oracle twin.

    Determinism: the WITHIN GROUP order (n_name, unique per group) is
    a total order, so the concatenation is byte-identical on both
    engines.

    Scale posture: ordered listagg is a sort-based aggregate — each
    group's values sort WITHIN the hash-aggregate buffer, no extra
    exchange beyond the groupBy shuffle; the output row is O(group
    values), so at 100 TB you run it on pre-bounded groups (as here:
    25 nations over 5 regions), never on unbounded text groups —
    same discipline as A8."""
    n = tables.load(spark, sf_dir, "nation")
    r = tables.load(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.expr(
                "listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)"
            ).alias("nations"),
        )
    )
