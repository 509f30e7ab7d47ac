"""Time-series regularization: calendar gap-fill, LOCF, interpolation.

The reference's spec centers on periodic technical-report series (annual
production/reserves figures, repo:TEST.md:80-99) — real report streams
have missing periods, and every downstream per-period computation (YoY
deltas, rollups H1, as-of enrichment J10) silently skips gaps unless the
series is regularized first. TS1/TS2 are the canonical fixes, expressed
relationally: densify each entity's series onto a complete calendar, then
carry-forward (LOCF) or linearly interpolate the missing values.

Scale posture: the observed aggregate shuffles once on (entity, period);
the calendar is GENERATED per entity with ``sequence()`` + ``explode``
(no shuffle — rows materialize inside the task that holds the entity
span); the fill windows sort within entity partitions only. Nothing in
the chain is proportional to the calendar span except the final output,
so a 100 TB event stream with a 10-year calendar densifies in one shuffle
plus one per-entity sort. No driver-side loops, no UDFs — every step is
whole-stage-codegen relational algebra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from test_dataengineer2026_spark import tables
from test_dataengineer2026_spark.determinism import dsum, sql_dsum
from test_dataengineer2026_spark.registry import register

_OBS_SQL = f"""
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(*) AS n_events,
         {sql_dsum("value")} AS day_value
  FROM events GROUP BY 1, 2
"""

_CAL_SQL = """
  SELECT user_id,
         CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM obs GROUP BY 1)
"""


def _daily_observed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, day) event count and exact-decimal value sum."""
    e = tables.load(spark, sf_dir, "events")
    return e.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("day_value"),
    )


def _densified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed dailies left-joined onto each user's complete calendar.

    The calendar spans each user's own [min(day), max(day)] — generated
    with ``sequence``/``explode`` from the span row, so gap rows are
    created where the data already lives instead of shuffled in.
    """
    obs = _daily_observed(spark, sf_dir)
    span = obs.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cal = span.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    return cal.join(obs, ["user_id", "day"], "left")


@register(
    "TS1_gap_fill_locf",
    oracle=f"""
WITH obs AS ({_OBS_SQL}),
cal AS ({_CAL_SQL})
SELECT c.user_id, c.day,
       COALESCE(o.n_events, 0) AS n_events,
       LAST_VALUE(o.day_value IGNORE NULLS) OVER (
         PARTITION BY c.user_id ORDER BY c.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value,
       o.n_events IS NULL AS is_gap
FROM cal c LEFT JOIN obs o ON o.user_id = c.user_id AND o.day = c.day
""",
    tags=("timeseries", "window"),
)
def gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS1: densify each user's daily series onto a complete calendar and
    carry the last observed daily value forward across gaps (LOCF).

    Gap days get ``n_events = 0``, ``is_gap = true``, and the most recent
    at-or-before observed ``day_value`` — the standard regularization
    before per-period joins or rollups. LOCF is ``last(ignorenulls)``
    over a rows-unbounded-preceding window: one linear scan per user
    partition, no self-join. The LOCF'd double is copied, never
    re-computed, so cross-engine determinism reduces to TS0 aggregation
    determinism (exact decimal sums, determinism.py).
    """
    filled = _densified(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "user_id",
        "day",
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        F.last("day_value", ignorenulls=True).over(w).alias("locf_value"),
        F.col("n_events").isNull().alias("is_gap"),
    )


@register(
    "TS2_linear_interpolation",
    oracle=f"""
WITH obs AS ({_OBS_SQL}),
cal AS ({_CAL_SQL}),
edged AS (
  SELECT c.user_id, c.day, o.day_value,
         LAST_VALUE(o.day_value IGNORE NULLS) OVER (
           PARTITION BY c.user_id ORDER BY c.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_prev,
         LAST_VALUE(CASE WHEN o.day_value IS NOT NULL THEN c.day END
                    IGNORE NULLS) OVER (
           PARTITION BY c.user_id ORDER BY c.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS d_prev,
         FIRST_VALUE(o.day_value IGNORE NULLS) OVER (
           PARTITION BY c.user_id ORDER BY c.day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_next,
         FIRST_VALUE(CASE WHEN o.day_value IS NOT NULL THEN c.day END
                     IGNORE NULLS) OVER (
           PARTITION BY c.user_id ORDER BY c.day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS d_next
  FROM cal c LEFT JOIN obs o ON o.user_id = c.user_id AND o.day = c.day
)
SELECT user_id, day,
       CASE
         WHEN day_value IS NOT NULL THEN day_value
         WHEN v_prev IS NULL THEN v_next
         WHEN v_next IS NULL THEN v_prev
         ELSE v_prev + (v_next - v_prev) *
              (CAST(date_diff('day', d_prev, day) AS DOUBLE) /
               CAST(date_diff('day', d_prev, d_next) AS DOUBLE))
       END AS interp_value,
       day_value IS NULL AS is_gap
FROM edged
""",
    tags=("timeseries", "window"),
)
def linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS2: linear interpolation across calendar gaps — each missing day
    gets ``v_prev + (v_next - v_prev) * elapsed/gap_span`` between its
    bracketing observations.

    Both brackets come from the same two IGNORE NULLS window scans TS1
    uses (last-backward + first-forward), so interpolation costs exactly
    one extra window direction over LOCF — still one shuffle + one sort
    per user, never a self-join on inequality. The arithmetic is written
    identically on both engines (same op order, same casts) so IEEE-754
    evaluation is bit-equal given bit-equal inputs.
    """
    filled = _densified(spark, sf_dir)
    wb = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("day_value").isNotNull(), F.col("day"))
    v_prev = F.last("day_value", ignorenulls=True).over(wb)
    d_prev = F.last(obs_day, ignorenulls=True).over(wb)
    v_next = F.first("day_value", ignorenulls=True).over(wf)
    d_next = F.first(obs_day, ignorenulls=True).over(wf)
    frac = F.datediff(F.col("day"), d_prev).cast("double") / F.datediff(
        d_next, d_prev
    ).cast("double")
    interp = (
        F.when(F.col("day_value").isNotNull(), F.col("day_value"))
        .when(v_prev.isNull(), v_next)
        .when(v_next.isNull(), v_prev)
        .otherwise(v_prev + (v_next - v_prev) * frac)
    )
    return filled.select(
        "user_id",
        "day",
        interp.alias("interp_value"),
        F.col("day_value").isNull().alias("is_gap"),
    )


_TS3_ORACLE = """
WITH obs AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS dv
  FROM events GROUP BY 1, 2
), win AS (
  SELECT user_id, day, dv,
         CAST(CAST(SUM(dv) OVER w AS DECIMAL(18,6)) AS DOUBLE) AS s,
         CAST(CAST(SUM(dv * dv) OVER w AS DECIMAL(18,6)) AS DOUBLE) AS s2,
         CAST(COUNT(dv) OVER w AS DOUBLE) AS n
  FROM obs
  WINDOW w AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, day,
       CAST(CAST(dv AS DECIMAL(18,6)) AS DOUBLE) AS day_value,
       round((CAST(CAST(dv AS DECIMAL(18,6)) AS DOUBLE) - s / n) /
             sqrt(GREATEST((s2 - s * s / n) / n, 0.0)), 6) AS zscore
FROM win
WHERE n >= 4 AND (s2 - s * s / n) / n > 0
  AND abs((CAST(CAST(dv AS DECIMAL(18,6)) AS DOUBLE) - s / n) /
          sqrt(GREATEST((s2 - s * s / n) / n, 0.0))) > 2.0
"""


@register(
    "TS3_rolling_zscore_anomaly",
    oracle=_TS3_ORACLE,
    tags=("timeseries", "window", "quality"),
)
def rolling_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS3: trailing-window anomaly detection — flag each (user, day)
    whose daily value sits more than 2 sigma from the mean of the user's
    PREVIOUS six observed days (frame 6 PRECEDING .. 1 PRECEDING, so the
    spike never inflates its own baseline).

    Determinism is the whole trick: the rolling mean/variance come from
    window sums of EXACT decimals (sum and sum-of-squares of the
    DECIMAL(18,4) daily value — decimal addition is associative, so
    frame evaluation order is irrelevant), narrowed once to DOUBLE, and
    the remaining fp ops (two divides, one sqrt, one subtract) are
    written in the same order on both engines — bit-equal z-scores,
    rounded to 6dp only for display. One shuffle on user_id + one
    per-user sort; the window is rows-based so cost is O(1) per row
    regardless of calendar span. At 100 TB this is the standard
    streaming-ingest health gate run as a batch: no self-joins, no UDFs,
    whole chain in codegen.
    """
    e = tables.load(spark, sf_dir, "events")
    obs = e.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("decimal(18,4)")
        .alias("dv")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-6, -1)
    )
    narrow = lambda c: c.cast("decimal(18,6)").cast("double")  # noqa: E731
    s = narrow(F.sum("dv").over(w))
    s2 = narrow(F.sum(F.col("dv") * F.col("dv")).over(w))
    n = F.count("dv").over(w).cast("double")
    x = narrow(F.col("dv"))
    win = obs.select(
        "user_id", "day", x.alias("day_value"), s.alias("s"), s2.alias("s2"),
        n.alias("n"),
    )
    var = (F.col("s2") - F.col("s") * F.col("s") / F.col("n")) / F.col("n")
    # sqrt over a 0-clamped variance (mirrored in the oracle): a constant
    # window's true variance is within rounding noise of zero, where the
    # unclamped term can land a hair negative — Spark reads NaN but
    # DuckDB hard-errors on sqrt(negative) if its optimizer ever orders
    # the z-predicate before the var > 0 guard. The clamp removes the
    # error path. Correctness then rests entirely on the var > 0
    # conjunct excluding zero-variance rows on both engines — NOT on any
    # assumed agreement about x/sqrt(0), whose rendering (NULL vs
    # Infinity vs error) is engine- and mode-dependent; an Infinity
    # would pass the abs(z) > 2 predicate where a NULL would not, so
    # never drop the var > 0 guard.
    z = (F.col("day_value") - F.col("s") / F.col("n")) / F.sqrt(
        F.greatest(var, F.lit(0.0))
    )
    return (
        win.filter((F.col("n") >= 4) & (var > 0) & (F.abs(z) > 2.0))
        .select("user_id", "day", "day_value", F.round(z, 6).alias("zscore"))
    )


@register(
    "TS4_ohlc_bars",
    oracle=f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bar_start,
       MIN(struct_pack(ts := ts, event_id := event_id, value := value)).value
         AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(struct_pack(ts := ts, event_id := event_id, value := value)).value
         AS close,
       COUNT(*) AS n_ticks,
       {sql_dsum("value")} AS volume
FROM events
GROUP BY 1
""",
    tags=("timeseries", "agg"),
)
def ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS4: OHLC downsampling — tick stream to hourly bars, the
    canonical financial/telemetry compaction. Open and close are argmin/
    argmax over the (ts, event_id) total order expressed as MIN/MAX of a
    struct — an ALGEBRAIC aggregate (struct min merges associatively),
    so bars build map-side and merge; no window, no sort, one exchange
    on the bar key. The event_id tiebreak makes simultaneous ticks
    deterministic on every engine; at 100 TB this is the query that
    turns a trillion ticks into millions of bars in a single pass."""
    e = tables.load(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"), F.col("value"))
    return (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(
            F.min(key).getField("value").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(key).getField("value").alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
            dsum("value").alias("volume"),
        )
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("bar_start"),
            "open",
            "high",
            "low",
            "close",
            "n_ticks",
            "volume",
        )
    )


@register(
    "TS5_time_weighted_avg",
    oracle="""
WITH seg AS (
  SELECT user_id,
         CAST(floor(value * 1000000.0) AS BIGINT) AS value_micro,
         epoch_us(ts) // 1000000 AS sec,
         LEAD(epoch_us(ts) // 1000000) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_sec
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(next_sec - sec) AS BIGINT) AS span_sec,
       CAST(SUM(value_micro * (next_sec - sec)) AS BIGINT) AS wsum_micro_sec,
       CAST(SUM(value_micro * (next_sec - sec)) AS DOUBLE)
         / CAST(SUM(next_sec - sec) AS DOUBLE) / 1000000.0 AS twa_value
FROM seg
WHERE next_sec IS NOT NULL
GROUP BY user_id
HAVING SUM(next_sec - sec) > 0
""",
    tags=("timeseries", "window"),
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS5: time-weighted average — each observation's value holds until
    the next observation (piecewise-constant LOCF weighting), so
    TWA = sum(value_i * gap_i) / sum(gap_i) over a user's segments.
    The irregular-sampling complement of TS1/TS2: a plain AVG
    over-weights bursts of closely-spaced events; TWA weights by how
    long each value was actually in force (the standard definition for
    sensor/price series).

    Determinism: values floor-quantize to integer micro-units and gaps
    to whole seconds, so both sums are exact BIGINT (bounded by
    max_value_micro x total_span_sec ~ 1.3e15 regardless of event
    count) and the only float ops are the two final divisions, written
    identically on both engines. Zero-length segments (same-second
    ties, broken by event_id) contribute zero weight on both sides.

    Scale posture: one shuffle on user_id, one per-user sort for the
    LEAD, then a map-side-combinable integer aggregation — the same
    cost profile as any sessionization pass; nothing is proportional
    to wall-clock span."""
    e = tables.load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = e.select(
        "user_id",
        F.floor(F.col("value") * F.lit(1000000.0)).cast("long").alias("value_micro"),
        F.expr("unix_micros(ts) div 1000000").alias("sec"),
        F.lead(F.expr("unix_micros(ts) div 1000000")).over(w).alias("next_sec"),
    ).filter(F.col("next_sec").isNotNull())
    gap = F.col("next_sec") - F.col("sec")
    agg = (
        seg.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(gap).alias("span_sec"),
            F.sum(F.col("value_micro") * gap).alias("wsum_micro_sec"),
        )
        .filter(F.col("span_sec") > 0)
    )
    return agg.select(
        "user_id",
        "n_segments",
        "span_sec",
        "wsum_micro_sec",
        (
            F.col("wsum_micro_sec").cast("double")
            / F.col("span_sec").cast("double")
            / F.lit(1000000.0)
        ).alias("twa_value"),
    )


@register(
    "TS6_dow_seasonal",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(dayofweek(CAST(ts AS DATE)) + 1 AS INTEGER) AS dow,
         CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT)
           AS daily_micro
  FROM events GROUP BY 1, 2
), base AS (
  SELECT dow,
         CAST(SUM(daily_micro) AS BIGINT) AS dow_total,
         CAST(COUNT(*) AS BIGINT) AS dow_days
  FROM daily GROUP BY dow
)
SELECT d.day, d.dow, d.daily_micro,
       CAST(b.dow_total AS DOUBLE) / CAST(b.dow_days AS DOUBLE)
         AS dow_baseline_micro,
       CAST(d.daily_micro AS DOUBLE)
             - CAST(b.dow_total AS DOUBLE) / CAST(b.dow_days AS DOUBLE)
         AS residual_micro
FROM daily d JOIN base b USING (dow)
""",
    tags=("timeseries", "seasonal"),
)
def dow_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS6: day-of-week seasonal decomposition — split each day's total
    into its weekday baseline (mean of that weekday's totals) and the
    residual, the additive-seasonality primitive behind traffic anomaly
    detection (TS3's rolling z-score catches local spikes; this catches
    'low for a Saturday'). Determinism: daily totals quantize to exact
    integer micro-units (the TS5/W9 convention), the baseline is one
    int64/int64 double division, and the residual one subtraction —
    identical IEEE ops on both engines, so the doubles are emitted
    UNROUNDED: a display round(_, 6) here is not just unnecessary but
    wrong at scale — DuckDB rounds doubles as round(x*1e6)/1e6, and
    x*1e6 overflows 2^53 once |x| > ~9e9 (true for sf0.1 baselines
    ~1.6e11), corrupting low digits where Spark's exact BigDecimal
    rounding does not; found by the round-10 sf0.1 full-registry
    replay (green at sf0.01 only because smaller magnitudes survive
    the double-rounding). Plan: two aggregations (day,
    then weekday — the second runs over at most 7 groups) and a
    broadcast join of the 7-row baseline back onto the daily series;
    at 100 TB the day rollup partial-aggregates map-side and nothing
    downstream ever sees raw events. (Weekday numbering pinned to
    Spark's dayofweek, Sunday=1; the oracle shifts DuckDB's Sunday=0.)
    """
    ev = tables.load(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") * F.lit(1000000.0))
            .cast("long")
            .alias("vmic"),
        )
        .groupBy("day")
        .agg(F.sum("vmic").cast("long").alias("daily_micro"))
        .select(
            "day",
            F.dayofweek("day").cast("int").alias("dow"),
            "daily_micro",
        )
    )
    base = daily.groupBy("dow").agg(
        F.sum("daily_micro").cast("long").alias("dow_total"),
        F.count(F.lit(1)).cast("long").alias("dow_days"),
    )
    baseline = F.col("dow_total").cast("double") / F.col("dow_days").cast(
        "double"
    )
    return daily.join(F.broadcast(base), "dow").select(
        "day",
        "dow",
        "daily_micro",
        baseline.alias("dow_baseline_micro"),
        (F.col("daily_micro").cast("double") - baseline).alias(
            "residual_micro"
        ),
    )
