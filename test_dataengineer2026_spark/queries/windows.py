"""Window-function operators W1-W5 (SURVEY.md §2.6).

Reference basis: ranking resources by contained metal within documents
(TEST_TECNICO_INGENIERO_DATOS.md:38-42 tables), event deltas and
retry-dedup (TEST.md:161), driver analytics surface (repo:TESTDATA.md:13).

Every window uses a TOTAL order (unique tiebreaker column last) so row
selection is deterministic and hash-comparable against the oracle.

Scale notes: a window = one shuffle on partitionBy keys + per-partition
sort. Partition keys here (nation, customer, user) are high-cardinality,
so partitions are small and AQE balances them; a window WITHOUT
partitionBy (global rank) would serialize onto one task and is only used
on pre-aggregated tiny data (see sorts_sets.py O1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from test_dataengineer2026_spark import tables
from test_dataengineer2026_spark.determinism import FINAL, MONEY2, dec, dnarrow
from test_dataengineer2026_spark.registry import register


@register(
    "W1_rank_topn",
    oracle="""
SELECT * FROM (
  SELECT c_nationkey, c_custkey, c_acctbal,
         ROW_NUMBER() OVER w AS rn,
         RANK() OVER w AS rk,
         DENSE_RANK() OVER w AS drk
  FROM customer
  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
) WHERE rn <= 3
""",
    tags=("window",),
)
def rank_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: top-3 customers by balance per nation with row_number / rank /
    dense_rank (the 'rank resources by contained metal within doc' shape)."""
    c = tables.load(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.select(
            "c_nationkey",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rk"),
            F.dense_rank().over(w).alias("drk"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "W2_lag_lead",
    oracle="""
SELECT event_id, user_id, event_type,
       epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS micros_since_prev,
       LEAD(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
    tags=("window", "events"),
)
def lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: event-to-event deltas per user — sessionization prep."""
    e = tables.load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    micros = F.unix_micros("ts")
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        (micros - F.lag(micros).over(w)).alias("micros_since_prev"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "W3_running_agg",
    oracle=f"""
SELECT o_custkey, o_orderkey,
       CAST(CAST(SUM(CAST(o_totalprice AS {MONEY2})) OVER w AS {FINAL}) AS DOUBLE) AS running_spend,
       CAST(CAST(SUM(CAST(o_totalprice AS {MONEY2})) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS {FINAL}) AS DOUBLE)
         / COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg_3
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
    tags=("window",),
)
def running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: cumulative sum + moving average per customer over order time.

    Running sums use the exact-decimal trick per frame so every row's
    value is bit-deterministic regardless of engine summation order.
    """
    o = tables.load(spark, sf_dir, "orders")
    base = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cum = base.rowsBetween(W.unboundedPreceding, W.currentRow)
    mov = base.rowsBetween(-2, W.currentRow)
    price = dec("o_totalprice", MONEY2)
    return o.select(
        "o_custkey",
        "o_orderkey",
        dnarrow(F.sum(price).over(cum)).alias("running_spend"),
        (dnarrow(F.sum(price).over(mov)) / F.count(F.lit(1)).over(mov)).alias(
            "moving_avg_3"
        ),
    )


@register(
    "W4_ntile_percent",
    oracle="""
SELECT c_custkey, c_nationkey,
       NTILE(4) OVER w AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
""",
    tags=("window",),
)
def ntile_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: quantile bucketing / percent rank per nation — the scale-safe
    shape: ONE hash exchange on the partition key, every nation's sort
    runs in parallel. The single-task global-order variant is registered
    separately as W4b (dimension tables only).

    percent_rank = (rank-1)/(n-1): both factors are exact ints, and the
    single division is deterministic.
    """
    c = tables.load(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "W4b_ntile_global",
    oracle="""
SELECT c_custkey,
       NTILE(4) OVER w AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cume
FROM customer
WINDOW w AS (ORDER BY c_acctbal, c_custkey)
""",
    tags=("window",),
)
def ntile_percent_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4b: quantile bucketing over a GLOBAL order. The un-partitioned
    window serializes the sort to one task — acceptable for a 15k-row
    dimension, never for a fact table; at scale use W4 (per-key ntile)
    or approx quantiles (A9/A4/C8)."""
    c = tables.load(spark, sf_dir, "customer")
    w = W.orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "W5_dedup_keep_latest",
    oracle="""
SELECT o_custkey, o_orderkey AS latest_orderkey, o_totalprice, o_orderstatus
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
""",
    tags=("window", "dedup"),
)
def dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: keep the newest row per key — dedup across extraction re-runs
    (TEST.md:161 retries produce duplicate doc rows; keep latest run)."""
    o = tables.load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            "o_totalprice",
            "o_orderstatus",
        )
    )


@register(
    "W6_cdc_merge",
    oracle="""
WITH log AS (
  SELECT c_custkey, c_name, c_acctbal, 'S' AS op, 0 AS seq
  FROM customer
  UNION ALL
  SELECT c_custkey, c_name, round(c_acctbal + 100.0, 2), 'U', 1
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey, NULL, NULL, 'D', 2
  FROM customer WHERE c_custkey % 11 = 3
  UNION ALL
  SELECT c_custkey + 1000000, c_name || ' (new)', 0.0, 'I', 2
  FROM customer WHERE c_custkey % 13 = 5
  UNION ALL
  SELECT c_custkey, c_name, round(c_acctbal + 200.0, 2), 'U', 3
  FROM customer WHERE c_custkey % 14 = 0
)
SELECT c_custkey, c_name, c_acctbal
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
                               ORDER BY seq DESC) AS rn
  FROM log
) WHERE rn = 1 AND op <> 'D'
""",
    tags=("window", "cdc", "merge"),
)
def cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6: CDC changelog merge — MERGE INTO semantics (upsert + delete)
    expressed as one window pass, the table-format-free way to compact a
    change stream into a snapshot. The snapshot enters as sequence 0 and
    each changelog batch as its commit sequence; ROW_NUMBER per key over
    descending sequence picks the terminal state, and terminal deletes
    drop out. Keys touched twice (custkey % 7 and % 14) prove ordering:
    the later update wins. ONE hash exchange on the key no matter how
    many changelog batches pile up — at 100 TB this is the nightly
    compaction of a Kafka CDC topic into the lakehouse snapshot, and
    the changelog unions never shuffle individually (union is plan-free;
    the single window exchange partitions the merged stream once)."""
    c = tables.load(spark, sf_dir, "customer")

    def batch(filt, name, bal, op, seq):
        return c.filter(filt).select(
            (F.col("c_custkey") + (1000000 if op == "I" else 0)).alias("c_custkey"),
            name.alias("c_name"),
            bal.alias("c_acctbal"),
            F.lit(op).alias("op"),
            F.lit(seq).alias("seq"),
        )

    snap = c.select(
        "c_custkey", "c_name", "c_acctbal", F.lit("S").alias("op"), F.lit(0).alias("seq")
    )
    log = (
        snap.unionByName(
            batch(
                F.col("c_custkey") % 7 == 0,
                F.col("c_name"),
                F.round(F.col("c_acctbal") + 100.0, 2),
                "U",
                1,
            )
        )
        .unionByName(
            batch(
                F.col("c_custkey") % 11 == 3,
                F.lit(None).cast("string"),
                F.lit(None).cast("double"),
                "D",
                2,
            )
        )
        .unionByName(
            batch(
                F.col("c_custkey") % 13 == 5,
                F.concat(F.col("c_name"), F.lit(" (new)")),
                F.lit(0.0),
                "I",
                2,
            )
        )
        .unionByName(
            batch(
                F.col("c_custkey") % 14 == 0,
                F.col("c_name"),
                F.round(F.col("c_acctbal") + 200.0, 2),
                "U",
                3,
            )
        )
    )
    w = W.partitionBy("c_custkey").orderBy(F.col("seq").desc())
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("c_custkey", "c_name", "c_acctbal")
    )


_SCD2_EFF = "1998-06-01"


@register(
    "W7_scd2_dimension",
    oracle=f"""
WITH upd AS (
  SELECT c_custkey, c_name, round(c_acctbal + 100.0, 2) AS c_acctbal
  FROM customer WHERE c_custkey % 7 = 0
),
ins AS (
  SELECT c_custkey + 1000000 AS c_custkey, c_name || ' (new)' AS c_name,
         0.0 AS c_acctbal
  FROM customer WHERE c_custkey % 13 = 5
)
SELECT b.c_custkey, b.c_name, b.c_acctbal,
       DATE '1992-01-01' AS valid_from,
       DATE '{_SCD2_EFF}' AS valid_to,
       FALSE AS is_current
FROM customer b JOIN upd u ON b.c_custkey = u.c_custkey
UNION ALL
SELECT b.c_custkey, b.c_name, b.c_acctbal,
       DATE '1992-01-01', NULL, TRUE
FROM customer b WHERE NOT EXISTS (
  SELECT 1 FROM upd u WHERE u.c_custkey = b.c_custkey)
UNION ALL
SELECT c_custkey, c_name, c_acctbal, DATE '{_SCD2_EFF}', NULL, TRUE FROM upd
UNION ALL
SELECT c_custkey, c_name, c_acctbal, DATE '{_SCD2_EFF}', NULL, TRUE FROM ins
""",
    tags=("window", "cdc", "dimension"),
)
def scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7: slowly-changing-dimension Type 2 merge — apply one change
    batch (updates + inserts, synthesized deterministically from the
    snapshot exactly like W6's changelog) to a versioned dimension,
    emitting full validity history: changed keys get their old row
    closed (valid_to = effective date, is_current = false) plus a new
    open row; unchanged keys keep one open row; inserts open at the
    effective date.

    The merge is three key-partitioned joins against the SAME change
    batch — an inner join (expire), an anti join (carry), and the batch
    itself (open) — all on c_custkey, so a cluster computes the whole
    history rewrite in one co-partitioned pass over the dimension; the
    change batch is the small side and broadcasts. No window needed for
    a single batch; multi-batch folding is W6's sequenced-changelog
    territory. As-of lookups against the result are J10's asof join on
    (key, valid_from).
    """
    c = tables.load(spark, sf_dir, "customer")
    eff = F.lit(_SCD2_EFF).cast("date")
    upd = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        "c_name",
        F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
    )
    ins = c.filter(F.col("c_custkey") % 13 == 5).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.col("c_name"), F.lit(" (new)")).alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
    )
    base = c.select("c_custkey", "c_name", "c_acctbal")
    keys = upd.select("c_custkey")
    d0 = F.lit("1992-01-01").cast("date")
    null_d = F.lit(None).cast("date")
    expired = base.join(keys, "c_custkey", "semi").select(
        "*", d0.alias("valid_from"), eff.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    carried = base.join(keys, "c_custkey", "anti").select(
        "*", d0.alias("valid_from"), null_d.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    opened = upd.unionByName(ins).select(
        "*", eff.alias("valid_from"), null_d.alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return expired.unionByName(carried).unionByName(opened)


@register(
    "W8_activity_streaks",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
), isl AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY day) AS INTEGER) AS grp
  FROM days
), streaks AS (
  SELECT user_id, grp, COUNT(*) AS len FROM isl GROUP BY 1, 2
)
SELECT user_id,
       CAST(MAX(len) AS BIGINT) AS longest_streak_days,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(SUM(len) AS BIGINT) AS active_days
FROM streaks GROUP BY user_id
""",
    tags=("window", "events"),
)
def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: gaps-and-islands — per user, the longest run of CONSECUTIVE
    active days, streak count, and total active days. The canonical
    SQL-idiom the window family was missing: ``day - row_number()`` is
    constant within a consecutive run (each step advances both by one),
    so island membership becomes a plain group key — no self-join, no
    recursion, no per-user iteration.

    Everything is integer/date arithmetic — engine-identical by
    construction. Scale: one shuffle on user_id for the distinct +
    window (same partitioning reused), then two map-side-combinable
    aggregations; nothing is proportional to the calendar span."""
    e = tables.load(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).distinct()
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("day"))
    isl = days.withColumn("rn", rn).withColumn(
        "grp", F.expr("date_sub(day, rn)")
    )
    streaks = isl.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return streaks.groupBy("user_id").agg(
        F.max("len").alias("longest_streak_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.sum("len").cast("long").alias("active_days"),
    )


@register(
    "W9_trailing_time_window",
    oracle="""
WITH s AS (
  SELECT event_id, user_id,
         epoch_us(ts) // 1000000 AS sec,
         CAST(floor(value * 1000000.0) AS BIGINT) AS vmic
  FROM events
)
SELECT event_id, user_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_24h,
       CAST(SUM(vmic) OVER w AS BIGINT) AS trailing_value_micro
FROM s
WINDOW w AS (PARTITION BY user_id ORDER BY sec
             RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
""",
    tags=("window", "events"),
)
def trailing_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9: RANGE-frame window — for every event, the same user's event
    count and value sum over the TRAILING 24 HOURS (value-based frame
    bounds), the capability ROWS frames cannot express: the frame width
    follows the data's timestamps, not a row count. Completes the
    window family's frame coverage (W3 rows-unbounded running, W9
    value-range trailing).

    Determinism: RANGE frames include ALL peers of the current ordering
    value, so ties need no tiebreaker — every row's frame is a pure
    function of (user, second). Values ride as floor-quantized integer
    micro-units, so the in-frame sums are exact BIGINT on both engines.

    Scale: one shuffle on user_id + one per-user sort; the running
    frame is maintained incrementally per partition (add arriving rows,
    evict aged ones) — never a per-row rescan."""
    e = tables.load(spark, sf_dir, "events")
    s = e.select(
        "event_id",
        "user_id",
        F.expr("unix_micros(ts) div 1000000").alias("sec"),
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("vmic"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-86400, W.currentRow)
    )
    return s.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_trailing_24h"),
        F.sum("vmic").over(w).alias("trailing_value_micro"),
    )


@register(
    "W10_pattern_funnel",
    oracle="""
WITH v AS (
  SELECT user_id, MIN(epoch_us(ts)) AS t_view_us
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, v.t_view_us, MIN(epoch_us(e.ts)) AS t_click_us
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t_view_us
  GROUP BY e.user_id, v.t_view_us
),
p AS (
  SELECT e.user_id, c.t_view_us, c.t_click_us, MIN(epoch_us(e.ts)) AS t_purchase_us
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_click_us
  GROUP BY e.user_id, c.t_view_us, c.t_click_us
)
SELECT user_id, t_view_us, t_click_us, t_purchase_us,
       t_purchase_us - t_view_us AS span_us
FROM p
""",
    tags=("window", "events", "funnel"),
)
def pattern_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10: ordered-sequence pattern detection — for each user, the
    earliest view -> click -> purchase chain with strictly increasing
    event times (greedy leftmost match: earliest view, then earliest
    click after it, then earliest purchase after that). This is the
    MATCH_RECOGNIZE-shaped capability the batch surface was missing:
    M6/M6b count funnel STAGES statefully, E1 sessionizes by gaps; W10
    asserts ORDER between typed steps, the shape every product-analytics
    "did they convert after seeing it" question takes.

    Implementation is windows-over-one-shuffle, not joins: a single hash
    partition on user_id, then three chained min-over-partition windows
    (each conditional on the previous step's timestamp — legal because a
    window may reference a prior select's column, and Spark chains
    Window nodes on the SAME partition spec without re-shuffling), and a
    row_number to collapse to one row per converting user. Emitted as
    epoch micros (BIGINT) so the value hash is engine-exact.

    Scale: ONE shuffle of (user_id, type, ts) triples — event payloads
    are pruned at the scan — then per-partition sorts. The equivalent
    3-way self-join plan shuffles the events table three times; at
    100 TB the window form is the only sane one. Deterministic: MIN is
    tie-free, and the rn=1 collapse picks from identical per-user rows.
    """
    e = tables.load(spark, sf_dir, "events")
    s = e.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        "event_id",
    )
    wp = W.partitionBy("user_id")
    s = s.withColumn(
        "t_view_us",
        F.min(F.when(F.col("event_type") == "view", F.col("t_us"))).over(wp),
    )
    s = s.withColumn(
        "t_click_us",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("t_us") > F.col("t_view_us")),
                F.col("t_us"),
            )
        ).over(wp),
    )
    s = s.withColumn(
        "t_purchase_us",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("t_us") > F.col("t_click_us")),
                F.col("t_us"),
            )
        ).over(wp),
    )
    rn = F.row_number().over(wp.orderBy("t_us", "event_id"))
    return (
        s.withColumn("rn", rn)
        .filter((F.col("rn") == 1) & F.col("t_purchase_us").isNotNull())
        .select(
            "user_id",
            "t_view_us",
            "t_click_us",
            "t_purchase_us",
            (F.col("t_purchase_us") - F.col("t_view_us")).alias("span_us"),
        )
    )
