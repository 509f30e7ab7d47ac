"""F9 JSON functions + event analytics over the events table
(SURVEY.md §2.9 F9; repo:TESTDATA.md events surface).

Reference basis: events.props is a JSON string (repo:FIXTURES.md §1.2);
the spec's interchange format is JSON (TEST.md:59).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from test_dataengineer2026_spark import tables
from test_dataengineer2026_spark.determinism import MONEY2, dsum, sql_dsum
from test_dataengineer2026_spark.registry import register


@register(
    "F9_json_funcs",
    oracle="""
SELECT
  event_id,
  json_extract_string(props, '$.k') AS k_str,
  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
  json_extract_string(props, '$.missing') AS absent,
  json_valid(props) AS is_valid
FROM events
WHERE event_type = 'click'
""",
    tags=("functions", "json", "events"),
)
def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: JSON path extraction + validity + typed parse of events.props
    ({"k": <int>}), via get_json_object and from_json with a declared
    schema — never schema inference in the hot path."""
    e = tables.load(spark, sf_dir, "events")
    parsed = F.from_json(
        "props", T.StructType([T.StructField("k", T.LongType())])
    )
    return e.filter(F.col("event_type") == "click").select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        parsed.getField("k").alias("k_int"),
        F.get_json_object("props", "$.missing").alias("absent"),
        F.from_json("props", "map<string,string>").isNotNull().alias("is_valid"),
    )


@register(
    "F9b_json_event_rollup",
    oracle=f"""
SELECT
  event_type,
  COUNT(*) AS n_events,
  {sql_dsum('value', MONEY2)} AS total_value,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
""",
    tags=("json", "events", "agg"),
)
def json_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9b: aggregate over JSON-extracted fields per event type — the
    parse happens once in a projected column, then ordinary JVM-side
    aggregation (no per-row Python)."""
    e = tables.load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select("event_type", "value", "user_id", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", MONEY2).alias("total_value"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "F9c_to_json",
    oracle="""
SELECT
  n_nationkey,
  to_json(struct_pack(nation := n_name, region := n_regionkey))::VARCHAR AS as_json
FROM nation
""",
    tags=("json",),
)
def to_json_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9c: emit JSON rows (the spec's JSON output format, TEST.md:59)."""
    n = tables.load(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.to_json(
            F.struct(F.col("n_name").alias("nation"), F.col("n_regionkey").alias("region"))
        ).alias("as_json"),
    )


@register(
    "F9d_variant_props",
    oracle="""
SELECT
  event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
  MAX(json_extract_string(props, '$.missing')) AS absent,
  CAST(COUNT(json_extract_string(props, '$.k')) AS BIGINT) AS n_with_k
FROM events
GROUP BY event_type
""",
    tags=("json", "variant", "events"),
)
def variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9d: events.props stored as Spark 4's VARIANT type THROUGH a
    parquet write+read round-trip, then field-extracted with
    variant_get.

    Reference basis: events.props is a JSON string (repo:FIXTURES.md
    §1.2); the spec's interchange format is JSON (TEST.md:59) and its
    scale posture demands schema evolution without reprocessing
    (TEST.md:158-163). This is the schema-evolution story for
    loosely-typed event payloads at 100 TB: no declared struct schema
    at write time (new
    producer fields land without a migration), binary-encoded values
    (no re-tokenizing JSON text per query), and shredded/typed access
    at read time. Contrast F9, which declares the schema up front via
    from_json.

    Scale posture: parse_json runs JVM-side in the scan projection; the
    staged store keeps the source's partitioning (no shuffle on write);
    variant_get('$.k') is a typed path extraction, not a string parse;
    the aggregation is an ordinary hash agg on event_type. The oracle
    runs DuckDB's JSON functions over the ORIGINAL string column —
    proving the VARIANT round-trip preserved every value exactly.
    Missing paths surface as NULL (absent stays NULL in both engines).
    """
    e = tables.load(spark, sf_dir, "events")
    # Per-(sf_dir, pid) staging with dead/stale-sibling pruning and an
    # atexit reaper — see test_dataengineer2026_spark/staging.py for the
    # full contract (r15 concurrent-replay finding + r16 age-fallback
    # finding live there now, shared with S18).
    from test_dataengineer2026_spark.staging import staged_dir

    out = os.path.join(staged_dir(sf_dir, "variant_stage"), "events_variant.parquet")
    staged = e.select(
        "event_id", "event_type", F.parse_json("props").alias("props_v")
    )
    staged.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    k = F.variant_get("props_v", "$.k", "bigint")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
        F.max(F.variant_get("props_v", "$.missing", "string")).alias("absent"),
        F.count(k).alias("n_with_k"),
    )


# E1: gap that closes a session, in microseconds (30 min).
SESSION_GAP_US = 30 * 60 * 1_000_000


@register(
    "E1_batch_sessionize",
    oracle=f"""
WITH o AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), s AS (
  SELECT user_id, ts,
         SUM(CASE WHEN prev IS NULL
                    OR epoch_us(ts) - epoch_us(prev) > {SESSION_GAP_US}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM o
)
SELECT user_id,
       session_id::BIGINT AS session_id,
       COUNT(*) AS n_events,
       MIN(epoch_us(ts))::BIGINT AS start_us,
       MAX(epoch_us(ts))::BIGINT AS end_us,
       (MAX(epoch_us(ts)) - MIN(epoch_us(ts)))::BIGINT AS duration_us
FROM s GROUP BY user_id, session_id
""",
    tags=("events", "sessionization", "window"),
)
def batch_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1: batch gap-based sessionization — the offline mirror of M4's
    streaming session window: a new session starts when a user's gap
    since their previous event exceeds 30 minutes (lag + running sum of
    boundary flags, the classic sessionization idiom), then one
    aggregation per (user, session). Both windows and the final groupBy
    share ONE hash partitioning on user_id, so at 100 TB the whole
    query is a single shuffle of (user_id, ts) pairs — event payloads
    are pruned at the scan."""
    from pyspark.sql import Window as W

    e = tables.load(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(wo)
    boundary = (
        prev.isNull()
        | ((F.unix_micros(F.col("ts")) - F.unix_micros(prev)) > SESSION_GAP_US)
    ).cast("bigint")
    sess = F.sum(boundary).over(
        wo.rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    us = F.unix_micros(F.col("ts"))
    s = e.select("user_id", us.alias("us"), sess.alias("session_id"))
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
        (F.max("us") - F.min("us")).alias("duration_us"),
    )


@register(
    "E2_funnel_conversion",
    oracle="""
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
  GROUP BY e.user_id
),
counts AS (
  SELECT (SELECT COUNT(*) FROM s1) AS n1,
         (SELECT COUNT(*) FROM s2) AS n2,
         (SELECT COUNT(*) FROM s3) AS n3
)
SELECT 1 AS step, 'view' AS stage, CAST(n1 AS BIGINT) AS n_users,
       1.0 AS conversion_from_prev FROM counts
UNION ALL
SELECT 2, 'view>click', n2,
       CAST(n2 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), 0.0) FROM counts
UNION ALL
SELECT 3, 'view>click>purchase', n3,
       CAST(n3 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), 0.0) FROM counts
""",
    tags=("events", "funnel"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: ORDERED funnel conversion (view -> click -> purchase) — each
    stage counts users whose first stage-k event happens strictly AFTER
    their first stage-(k-1) event, the sequencing constraint that
    separates a funnel from three independent counts (M6 is this
    operator's streaming-state twin).

    Relational shape: stage k is a conditional min-aggregation joined
    against stage k-1's first-times — every join and groupBy keys on
    user_id, so on a cluster the whole cascade sits in ONE
    hash-partitioning of user_id (co-partitioned joins, no re-shuffle
    between stages; the filter e.ts > t_prev is a residual on the
    join). Stage populations shrink monotonically, so later stages scan
    less, and the final 3-row report is a broadcast of three scalar
    counts. Conversion ratios are count/count doubles — deterministic.
    """
    e = tables.load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n1 = s1.agg(F.count(F.lit(1)).alias("n1"))
    n2 = s2.agg(F.count(F.lit(1)).alias("n2"))
    n3 = s3.agg(F.count(F.lit(1)).alias("n3"))
    counts = n1.crossJoin(n2).crossJoin(n3)
    return counts.select(
        F.expr(
            """stack(3,
          1, 'view', CAST(n1 AS BIGINT), CAST(1.0 AS DOUBLE),
          2, 'view>click', CAST(n2 AS BIGINT),
             CAST(n2 AS DOUBLE) / nullif(CAST(n1 AS DOUBLE), CAST(0 AS DOUBLE)),
          3, 'view>click>purchase', CAST(n3 AS BIGINT),
             CAST(n3 AS DOUBLE) / nullif(CAST(n2 AS DOUBLE), CAST(0 AS DOUBLE))
        ) AS (step, stage, n_users, conversion_from_prev)"""
        )
    )


@register(
    "E3_cohort_retention",
    oracle="""
WITH activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
),
cohorts AS (
  SELECT user_id, MIN(day) AS cohort_day FROM activity GROUP BY user_id
),
sizes AS (
  SELECT cohort_day, COUNT(*) AS cohort_size FROM cohorts GROUP BY cohort_day
)
SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', c.cohort_day, a.day) AS BIGINT) AS day_offset,
       COUNT(*) AS n_active,
       CAST(COUNT(*) AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
         AS retention_rate
FROM activity a
JOIN cohorts c ON a.user_id = c.user_id
JOIN sizes s ON c.cohort_day = s.cohort_day
WHERE date_diff('day', c.cohort_day, a.day) <= 14
GROUP BY 1, 2, s.cohort_size
""",
    tags=("events", "retention"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3: cohort retention — users grouped by first-activity day, each
    later active day counted at its offset, rates against the cohort's
    size (the canonical growth-analytics triangle, offsets 0-14).

    One exchange on user_id covers the distinct-day projection, the
    cohort min, and the cohort join (co-partitioned); the final
    (cohort, offset) rollup is the only second shuffle and its
    cardinality is days x offsets, tiny at any scale. Cohort sizes join
    back broadcast. The DISTINCT day projection first is the scale
    trick: retention counts users-active-per-day, so the fact table
    collapses to |users| x |active days| before anything else touches
    it.
    """
    e = tables.load(spark, sf_dir, "events")
    activity = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).distinct()
    cohorts = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    sizes = cohorts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    joined = (
        activity.join(cohorts, "user_id")
        .withColumn("day_offset", F.datediff("day", "cohort_day").cast("bigint"))
        .filter(F.col("day_offset") <= 14)
        .join(F.broadcast(sizes), "cohort_day")
    )
    return joined.groupBy(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        "day_offset",
        "cohort_size",
    ).agg(F.count(F.lit(1)).alias("n_active")).select(
        "cohort_day",
        "day_offset",
        "n_active",
        (F.col("n_active").cast("double") / F.col("cohort_size").cast("double")
         ).alias("retention_rate"),
    )


_E4_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type, 1) OVER w AS t2,
         LEAD(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type AS step1, t2 AS step2, t3 AS step3, COUNT(*) AS n_paths
FROM seq
WHERE t2 IS NOT NULL AND t3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n_paths DESC, step1, step2, step3
LIMIT 20
"""


@register(
    "E4_event_path_trigrams",
    oracle=_E4_ORACLE,
    tags=("events", "window", "topk"),
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: behavioral path mining — the top-20 most common 3-step event
    sequences across all user journeys (the "what do users do next"
    report every product-analytics stack ships). One window over
    (user_id order by ts, event_id) produces both LEADs with a single
    sort within the user partition; the trigram count is a two-phase
    aggregate and the top-20 runs as TakeOrderedAndProject with full
    column tiebreaks — no global sort of the path table."""
    from pyspark.sql import Window

    e = tables.load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    ).filter(F.col("step2").isNotNull() & F.col("step3").isNotNull())
    return (
        seq.groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), "step1", "step2", "step3")
        .limit(20)
    )


#: E5 attribution lookback window (microseconds) — 7 days.
E5_LOOKBACK_US = 7 * 24 * 3600 * 1_000_000


@register(
    "E5_first_touch_attribution",
    oracle=f"""
SELECT p.event_id AS purchase_id,
       p.user_id,
       MIN(struct_pack(ts := v.ts, event_id := v.event_id)).event_id
         AS first_view_id
FROM events p
JOIN events v
  ON v.user_id = p.user_id
 AND v.event_type = 'view'
 AND v.ts < p.ts
 AND epoch_us(p.ts) - epoch_us(v.ts) <= {E5_LOOKBACK_US}
WHERE p.event_type = 'purchase'
GROUP BY p.event_id, p.user_id
""",
    tags=("events", "attribution", "window"),
)
def first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: first-touch attribution — each purchase credits the EARLIEST
    view by the same user inside a 7-day lookback (J10's as-of join is
    the last-touch twin; marketing attribution needs both ends). The
    join keys on user_id with the time window as a residual, so at
    100 TB both sides co-partition on user once and fan-out is bounded
    by events-per-user-per-week; the argmin over (ts, event_id) is a
    min over a struct — total order, engine-identical under ties."""
    e = tables.load(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
    )
    j = p.join(
        v,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") < F.col("p_ts"))
        & (
            F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("v_ts"))
            <= E5_LOOKBACK_US
        ),
    )
    return j.groupBy("purchase_id", "user_id").agg(
        F.min(F.struct(F.col("v_ts"), F.col("view_id")))
        .getField("view_id")
        .alias("first_view_id")
    )


@register(
    "E6_markov_transitions",
    oracle="""
WITH steps AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
), pairs AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
  FROM steps WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type,
       CAST(n_transitions AS BIGINT) AS n_transitions,
       CAST(n_transitions AS DOUBLE)
         / CAST(SUM(n_transitions) OVER (PARTITION BY prev_type) AS DOUBLE)
         AS p_transition
FROM pairs
""",
    tags=("events", "window", "agg"),
)
def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6: first-order Markov transition matrix of user event paths —
    for every (prev_type, next_type) pair, the transition count and the
    conditional probability P(next | prev). The aggregate view of E4's
    per-user path trigrams: sessionized behavior models, anomaly
    detection (improbable transitions), and synthetic-session generators
    all start from this matrix.

    Determinism: counts are exact; the probability is one BIGINT/BIGINT
    division in binary64, written identically on both engines. Ties in
    the event order break on event_id, so the LAG pairing is unique.

    Scale posture: one shuffle on user_id + per-user sort for LAG, then
    a map-side-combinable count into O(types^2) rows; the row-normalize
    window runs over those ~25 rows, not the data. At 100 TB the whole
    matrix still fits in a broadcast."""
    from pyspark.sql import Window

    e = tables.load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = e.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    pairs = steps.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n_transitions"))
    row_total = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(row_total).cast("double")
        ).alias("p_transition"),
    )
