"""Streaming queries S9/S10 + M1-M9 (SURVEY.md §2.10) — every one runs
a REAL Structured Streaming query (file source, micro-batch engine,
state store, memory/foreachBatch sink, availableNow trigger) and
returns the materialized result; the DuckDB oracle recomputes the same
answer as batch SQL.

Batch-boundary-dependent semantics (M1 append-mode emission, M8 late
drops, M9 per-trigger batching) run over a staged THREE-file feed with
fixed timestamp splits and mtime ordering, so the micro-batch sequence
— and therefore the result — is deterministic and oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from test_dataengineer2026_spark import tables
from test_dataengineer2026_spark.determinism import MONEY2, dsum, sql_dsum
from test_dataengineer2026_spark.registry import register
from test_dataengineer2026_spark.streaming.jobs import (
    read_events_stream,
    read_staged_stream,
    run_to_memory,
    run_to_memory_until,
    stage_events_dir,
    stage_split_feed,
    stateful_shuffle_partitions,
)

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def _state_parts(spark: SparkSession, sf_dir: str, feed: str = "plain") -> int:
    """State-partition count for this query's staged feed: ``"plain"``
    (``stage_events_dir``'s symlinks) or a split feed of
    ``stage_split_feed``. The count comes from the scale-adaptive policy
    in streaming/jobs.py (r18 verdict #1, guide §5): partitions track
    estimated keyed-state BYTES, not the local core count — at sandbox
    SFs the per-batch cost is store machinery (load/commit/maintenance
    per partition per store per batch; listener-measured r19: M13's
    summed per-batch commit_ms was 50-150 s across 32 partitions x 4
    join stores for 13k state rows), at real scale the same formula fans
    out to thousands of partitions. Both stagers reuse a current stage,
    so calling them again here is cheap."""
    return stateful_shuffle_partitions(
        stage_events_dir(sf_dir) if feed == "plain" else stage_split_feed(spark, sf_dir, feed)
    )

#: M6 state layout: full running aggregate so multi-batch feeds
#: accumulate instead of emitting per-batch partials; fp_ts/fp_id use -1
#: as the "no purchase yet" sentinel (event ids and epoch-nanos are
#: non-negative).
FUNNEL_OUT_SCHEMA = (
    "user_id long, n_events long, n_purchases long, "
    "first_purchase_id long, n_before_first_purchase long"
)
FUNNEL_STATE_SCHEMA = "n long, np long, fp_ts long, fp_id long, nb long"


def _funnel_fold(prev: tuple | None, rows: pd.DataFrame) -> tuple[tuple, dict]:
    """Pure fold shared by BOTH stateful surfaces (M6
    applyInPandasWithState and M6b transformWithStateInPandas): fold one
    batch of a user's events into the running funnel state. Events are
    sorted by (ts, event_id) within each batch; prior state is folded in
    so each emission is the whole-stream answer so far. If a purchase
    arrives in a later batch than earlier-ts events (in-order file feed
    => doesn't happen), "before" counts stay exact because late
    earlier-keyed rows still compare < the stored first purchase key.

    Returns ``(new_state_tuple, out_columns_dict)`` — out lacks
    ``user_id`` (the caller knows its key)."""
    rows = rows.sort_values(["ts", "event_id"])
    # epoch-nanos key whether the staged feed carries datetime64 or raw
    # int64 nanos
    ts_ns = rows["ts"].astype("int64")
    n0, np0, fp_ts0, fp_id0, nb0 = prev if prev is not None else (0, 0, -1, -1, 0)
    is_p = (rows["event_type"] == "purchase").to_numpy()
    n = n0 + len(rows)
    n_purchases = np0 + int(is_p.sum())
    prev_fp = (fp_ts0, fp_id0) if fp_id0 >= 0 else None
    if is_p.any():
        pos = int(is_p.argmax())
        cand_fp = (int(ts_ns.iloc[pos]), int(rows["event_id"].iloc[pos]))
    else:
        cand_fp = None
    batch_keys = list(zip(ts_ns.tolist(), rows["event_id"].tolist()))
    if prev_fp is not None and (cand_fp is None or prev_fp <= cand_fp):
        # First purchase already seen: only this batch's strictly
        # earlier rows add to the "before" count (late arrivals).
        fp = prev_fp
        n_before = nb0 + sum(1 for k in batch_keys if k < fp)
    elif cand_fp is not None:
        # New (or earlier) first purchase. Prior batches held no earlier
        # purchase; with the in-order file feed their events all precede
        # this batch, so they all count as "before".
        fp = cand_fp
        n_before = n0 + sum(1 for k in batch_keys if k < fp)
    else:
        fp, n_before = None, 0
    fp_ts, fp_id = fp if fp is not None else (-1, -1)
    return (n, n_purchases, fp_ts, fp_id, n_before), {
        "n_events": n,
        "n_purchases": n_purchases,
        "first_purchase_id": fp_id if fp_id >= 0 else None,
        "n_before_first_purchase": n_before,
    }


def funnel_state_fn(key, pdfs: Iterator[pd.DataFrame], state):
    """M6 surface adapter: applyInPandasWithState GroupState in/out
    around the shared ``_funnel_fold``."""
    prev = tuple(state.get) if state.exists else None
    new_state, out = _funnel_fold(prev, pd.concat(list(pdfs)))
    state.update(new_state)
    yield pd.DataFrame([{"user_id": key[0], **out}])


@register(
    "M2_tumbling_window",
    oracle=f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n,
       {sql_dsum('value', MONEY2)} AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("streaming", "window"),
)
def tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+M2: watermarked tumbling-window aggregation (1 hour) per event
    type, complete output mode."""
    s = read_events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", MONEY2).alias("total_value"))
        .select(
            F.date_format(F.col("window.start"), _TS_FMT).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return run_to_memory(
        agg,
        "m2_tumbling",
        "complete",
        final_no_data_batch=False,
        shuffle_partitions=_state_parts(spark, sf_dir),
    )


@register(
    "M3_sliding_window",
    oracle="""
WITH cand AS (
  SELECT ts,
         to_timestamp((epoch_us(ts) // 1800000000) * 1800 - g.i * 1800) AS window_start
  FROM events, unnest(generate_series(0, 1)) AS g(i)
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n
FROM cand
WHERE ts < window_start + INTERVAL 1 HOUR AND ts >= window_start
GROUP BY 1
""",
    tags=("streaming", "window"),
)
def sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: sliding windows (1 hour wide, 30 min slide) — each event lands
    in two windows; oracle enumerates both candidate starts per event."""
    s = read_events_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("window.start"), _TS_FMT).alias("window_start"),
            "n",
        )
    )
    return run_to_memory(
        agg,
        "m3_sliding",
        "complete",
        final_no_data_batch=False,
        shuffle_partitions=_state_parts(spark, sf_dir),
    )


@register(
    "M4_session_window",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, ts, value,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN prev_ts IS NULL
                OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000 THEN 1 ELSE 0 END AS is_new
  FROM ordered
), numbered AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*) AS n_events,
       {sql_dsum('value', MONEY2)} AS total_value
FROM numbered
GROUP BY user_id, session_id
""",
    tags=("streaming", "session"),
)
def session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: per-user session windows with a 30-minute inactivity gap —
    the streaming state-store sessionization; oracle = gaps-and-islands."""
    s = read_events_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", MONEY2).alias("total_value"))
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), _TS_FMT).alias(
                "session_start"
            ),
            "n_events",
            "total_value",
        )
    )
    return run_to_memory(
        agg,
        "m4_session",
        "complete",
        final_no_data_batch=False,
        shuffle_partitions=_state_parts(spark, sf_dir),
    )


@register(
    "M5_stream_dedup",
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
""",
    tags=("streaming", "dedup"),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: streaming dropDuplicates — emits each (user, event_type) key
    once across the whole stream (state-store backed; with a watermark,
    dropDuplicatesWithinWatermark bounds that state at scale)."""
    s = read_events_stream(spark, sf_dir)
    dedup = s.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return run_to_memory(
        dedup,
        "m5_dedup",
        "append",
        final_no_data_batch=False,
        shuffle_partitions=_state_parts(spark, sf_dir),
    )


#: One truth for BOTH stateful surfaces: M6 and M6b register the
#: SAME oracle (they share _funnel_fold), so a future fix to the
#: funnel semantics cannot silently diverge the two certifications.
_FUNNEL_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), first_purchase AS (
  SELECT user_id, MIN(rn) AS fp_rn
  FROM ordered WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT o.user_id,
       COUNT(*) AS n_events,
       COUNT(CASE WHEN o.event_type = 'purchase' THEN 1 END) AS n_purchases,
       MAX(CASE WHEN o.rn = f.fp_rn THEN o.event_id END) AS first_purchase_id,
       COUNT(CASE WHEN f.fp_rn IS NOT NULL AND o.rn < f.fp_rn THEN 1 END) AS n_before_first_purchase
FROM ordered o LEFT JOIN first_purchase f USING (user_id)
GROUP BY o.user_id
"""


@register(
    "M6_stateful_funnel",
    oracle=_FUNNEL_ORACLE,
    tags=("streaming", "stateful"),
)
def stateful_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: custom stateful operator via applyInPandasWithState — a
    per-user signup->purchase funnel state machine (events are sorted by
    (ts, event_id) inside the state function for determinism)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    s = read_events_stream(spark, sf_dir)

    result = s.groupBy("user_id").applyInPandasWithState(
        funnel_state_fn,
        outputStructType=FUNNEL_OUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # NO bytes-sized state-partition policy here (measured r19): the
    # per-batch cost of a PYTHON-stateful operator is the per-key state
    # server round trip (handleInputRows + state get/update per user),
    # which needs compute width — A/B at sf0.1: width 1 = 7.3 s, width
    # 8/32 = 2.2 s warm. Session width (= executor cores on a cluster)
    # is the right operating point; store machinery is secondary for
    # this family.
    return run_to_memory(result, "m6_funnel", "update")


#: JVM class for the RocksDB state store provider transformWithState
#: requires (the default HDFSBackedStateStoreProvider rejects it).
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _has_committed_batch(ckpt: str) -> bool:
    """True iff the checkpoint at ``ckpt`` has AT LEAST ONE committed
    microbatch. Spark creates ``commits/`` at stream START, before any
    batch commits, so a bare directory test would treat a checkpoint
    whose build died mid-run as complete and read partial state; only a
    non-dot entry in commits/ (the per-batch commit marker files, named
    "0", "1", ...) proves a batch actually finished."""
    import os

    commits = os.path.join(ckpt, "commits")
    try:
        return any(not n.startswith(".") for n in os.listdir(commits))
    except OSError:
        return False


def make_funnel_processor():
    """StatefulProcessor running the SAME ``_funnel_fold`` as M6, for
    transformWithStateInPandas (M6b and its restart-recovery pin). The
    import is lazy because pyspark's stateful_processor module is only
    needed on this path."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _FunnelProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState("funnel", FUNNEL_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            prev = tuple(self._st.get()) if self._st.exists() else None
            new_state, out = _funnel_fold(prev, pd.concat(list(rows)))
            self._st.update(new_state)
            yield pd.DataFrame([{"user_id": key[0], **out}])

        def close(self) -> None:
            pass

    return _FunnelProcessor()


@register(
    "M6b_transform_with_state_funnel",
    oracle=_FUNNEL_ORACLE,
    tags=("streaming", "stateful"),
)
def transform_with_state_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6b: the SAME per-user funnel (same oracle as M6) on Spark 4's
    ``transformWithStateInPandas`` — the successor stateful surface to
    applyInPandasWithState, with named state variables (value/list/map),
    timers, and TTL. Both surfaces share ``_funnel_fold``, so this pins
    that the two APIs compute identically on identical feeds.

    transformWithState requires the RocksDB state store provider (the
    default HDFS-backed provider rejects the operator); the conf is set
    for this bounded run and restored afterwards so the other streaming
    exhibits keep their default provider — a per-query knob locally, a
    cluster-wide default on a real deployment.

    Dependency note: the Python transformWithState surface speaks a
    protobuf-framed state protocol; this sandbox has no protobuf
    install, so pbcompat.ensure() shims in the baked Cloud SDK's
    pure-Python protobuf 6.32 (see pbcompat/sitecustomize.py). On a
    real cluster `pip install protobuf` makes ensure() a no-op."""
    from test_dataengineer2026_spark import pbcompat

    if not pbcompat.ensure(spark):
        raise RuntimeError(
            "M6b needs a protobuf runtime for transformWithState's "
            "state-server protocol; none is installed and the Cloud SDK "
            "fallback (pbcompat) is unavailable on this machine"
        )
    s = read_events_stream(spark, sf_dir)
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, _ROCKSDB_PROVIDER)
    try:
        result = s.groupBy("user_id").transformWithStateInPandas(
            make_funnel_processor(),
            outputStructType=FUNNEL_OUT_SCHEMA,
            outputMode="update",
            timeMode="none",
        )
        # session width, not the bytes policy: Python-stateful ops are
        # per-key-round-trip bound (see M6; A/B r19: width 1 = 10.5 s,
        # width 8/32 = 3.7-4.4 s warm)
        return run_to_memory(result, "m6b_funnel", "update")
    finally:
        if prev_provider is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev_provider)


#: M6c session gap: 6 h splits every sf's user population into healthy
#: fired/unfired subsets (sf0.01: 86 of 150 users close; the rest have
#: their last event within 6 h of the stream's end and never fire).
_M6C_GAP_MS = 6 * 3_600_000


def make_session_closer():
    """StatefulProcessor for M6c: per-user event-time session closer
    exercising the TIMER surface of transformWithState end-to-end —
    registerTimer / deleteTimer in handleInputRows, an output row from
    handleExpiredTimer. Lazy import, same reason as
    make_funnel_processor."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _SessionCloser(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.h = handle
            self.st = handle.getValueState("sess", "n long, last_ms long")

        def handleInputRows(self, key, rows, timerValues):
            df = pd.concat(list(rows))
            n0, last0 = tuple(self.st.get()) if self.st.exists() else (0, -1)
            # max() keeps the session expiry monotone when a key's rows
            # arrive across microbatches out of event-time order (e.g.
            # maxFilesPerTrigger with a late feed) — the stored last_ms
            # must never regress below an already-seen event time.
            last_ms = max(last0, int(df["ts"].astype("int64").max() // 1_000_000))
            self.st.update((n0 + len(df), last_ms))
            for t in list(self.h.listTimers()):
                self.h.deleteTimer(t)  # one live timer per key
            self.h.registerTimer(last_ms + _M6C_GAP_MS)
            return iter(())

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            n, _last = tuple(self.st.get())
            yield pd.DataFrame(
                [{
                    "user_id": key[0],
                    "n_events": n,
                    "closed_at_ms": expiredTimerInfo.getExpiryTimeInMs(),
                }]
            )

        def close(self) -> None:
            pass

    return _SessionCloser()


@register(
    "M6c_tws_timer_close",
    oracle=f"""
WITH per_user AS (
  SELECT user_id,
         COUNT(*) AS n_events,
         (epoch_us(MAX(ts)) // 1000) AS last_ms
  FROM events GROUP BY user_id
), wm AS (
  SELECT (epoch_us(MAX(ts)) // 1000) AS wm_ms FROM events
)
SELECT p.user_id, p.n_events,
       CAST(p.last_ms + {_M6C_GAP_MS} AS BIGINT) AS closed_at_ms
FROM per_user p, wm
WHERE p.last_ms + {_M6C_GAP_MS} <= wm.wm_ms
""",
    tags=("streaming", "stateful", "timers"),
)
def tws_timer_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6c: the TIMER surface of transformWithState, value-checked
    against DuckDB (the r16 tests pinned timer/TTL mechanics; this puts
    handleExpiredTimer's OUTPUT rows under the oracle gate). Per-user
    event-time session closer over the events feed: every input batch
    re-registers the user's one timer at last_event + 6 h; when the
    watermark passes an expiry, handleExpiredTimer emits the close row
    (user_id, running event count, expiry time).

    Determinism contract (probed, r17): the feed arrives as ONE data
    batch (availableNow, no maxFilesPerTrigger), so no timer fires
    mid-stream with a partial count; the final no-data batch fires
    exactly the timers with expiry <= watermark, where the watermark is
    the max event time FLOORED to ms (probed at the sub-ms boundary:
    an event 100 us before an expiry does NOT fire it; an event at the
    exact ms does — '<=', not '<'). The oracle reproduces that integer
    arithmetic: a user closes iff floor_ms(their last ts) + gap <=
    floor_ms(global max ts).

    Scale posture: state is one (long, long) per user plus one timer;
    both partition by the grouping key in RocksDB exactly like M6b —
    at 100 TB the per-key cost is constant and the no-data batch's
    timer sweep is range-scan-ordered by expiry, not a full state scan.
    """
    from test_dataengineer2026_spark import pbcompat

    if not pbcompat.ensure(spark):
        raise RuntimeError(
            "M6c needs a protobuf runtime for transformWithState's "
            "state-server protocol; none is installed and the Cloud SDK "
            "fallback (pbcompat) is unavailable on this machine"
        )
    s = read_events_stream(spark, sf_dir).withWatermark("ts", "0 seconds")
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, _ROCKSDB_PROVIDER)
    try:
        result = s.groupBy("user_id").transformWithStateInPandas(
            make_session_closer(),
            outputStructType="user_id long, n_events long, closed_at_ms long",
            outputMode="append",
            timeMode="eventTime",
        )
        # session width, not the bytes policy (Python-stateful: see M6)
        return run_to_memory(result, "m6c_timer_close", "append")
    finally:
        if prev_provider is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev_provider)


def make_idle_flusher(delay_ms: int = -1):
    """StatefulProcessor for M6d: per-key count flushed by a
    PROCESSING-TIME timer — the wall-clock half of the timer surface
    (M6c covers event time). Registers one timer per key on first
    sight at now + ``delay_ms``; the default -1 (already expired)
    fires at the very next timer sweep, keeping the M6d exhibit
    deterministic, while a positive delay is the production
    idle-flush shape (used by the restart-durability test to leave a
    live future timer in the checkpoint). Lazy import, same reason as
    make_funnel_processor."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _IdleFlusher(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.h = handle
            self.st = handle.getValueState("cnt", "n long")

        def handleInputRows(self, key, rows, timerValues):
            n0 = tuple(self.st.get())[0] if self.st.exists() else 0
            self.st.update((n0 + sum(len(df) for df in rows),))
            if not list(self.h.listTimers()):
                # delay_ms=-1 registers in the PAST: fires at the very
                # next timer sweep, keeping the exhibit deterministic
                # instead of wall-clock-dependent.
                self.h.registerTimer(
                    timerValues.getCurrentProcessingTimeInMs() + delay_ms
                )
            return iter(())

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            n = tuple(self.st.get())[0]
            yield pd.DataFrame([{"user_id": key[0], "n_events": n}])

        def close(self) -> None:
            pass

    return _IdleFlusher()


@register(
    "M6d_tws_processing_timer",
    oracle="""
SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
""",
    tags=("streaming", "stateful", "timers"),
)
def tws_processing_timer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6d: PROCESSING-TIME timers in transformWithState, under the full
    oracle gate — completing the timer matrix M6c opened (eventTime).
    The pattern is the production "flush on idle" shape: accumulate a
    per-key counter, register a wall-clock timer, emit the total when
    it fires. Here the timer is registered already-expired so the flush
    is deterministic: every user emits exactly once, with their full
    event count.

    Determinism contract (probed, r18): with timeMode="processingTime"
    and an availableNow trigger, a timer registered in the PAST during
    the single data batch fires in the trailing no-data batch — after
    ALL input is consumed — so the emitted counts equal the batch
    GROUP BY. The single-data-batch feed contract is the same one M6c
    documents (one parquet file, no maxFilesPerTrigger); a multi-batch
    feed would flush partial counts mid-stream by design (that IS the
    idle-flush semantics, just not hash-comparable to a batch oracle).

    Scale posture: identical to M6c — one long of state plus one timer
    per key, partitioned by the grouping key in RocksDB; the timer
    sweep is expiry-ordered, not a full state scan. Wall-clock timers
    are the only way to bound output latency when a key's feed simply
    stops — event-time timers never fire without new data."""
    from test_dataengineer2026_spark import pbcompat

    if not pbcompat.ensure(spark):
        raise RuntimeError(
            "M6d needs a protobuf runtime for transformWithState's "
            "state-server protocol; none is installed and the Cloud SDK "
            "fallback (pbcompat) is unavailable on this machine"
        )
    s = read_events_stream(spark, sf_dir)
    # One flush row per key: the exact output cardinality, known from a
    # cheap batch count — the stop condition for run_to_memory_until
    # (availableNow cannot self-terminate under processingTime, see
    # that helper's docstring).
    n_users = (
        tables.load(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, _ROCKSDB_PROVIDER)
    try:
        result = s.groupBy("user_id").transformWithStateInPandas(
            make_idle_flusher(),
            outputStructType="user_id long, n_events long",
            outputMode="append",
            timeMode="processingTime",
        )
        # session width, not the bytes policy (Python-stateful: see M6)
        return run_to_memory_until(result, "m6d_idle_flush", "append", n_users)
    finally:
        if prev_provider is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev_provider)


@register(
    "M7_stream_static_join",
    oracle="""
SELECT c.c_mktsegment AS segment, COUNT(*) AS n_events
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
""",
    tags=("streaming", "join"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7: stream-static enrichment — the static dimension is broadcast
    into every micro-batch; aggregation runs in complete mode."""
    s = read_events_stream(spark, sf_dir)
    c = tables.load(spark, sf_dir, "customer")
    agg = (
        s.join(F.broadcast(c), s.user_id == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return run_to_memory(
        agg,
        "m7_enrich",
        "complete",
        final_no_data_batch=False,
        shuffle_partitions=_state_parts(spark, sf_dir),
    )


@register(
    "S9_stream_file_source",
    oracle="""
SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
""",
    tags=("streaming", "sources"),
)
def stream_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: incremental file-source pickup — the staged 3-file feed is
    consumed one file per micro-batch (maxFilesPerTrigger=1, oldest
    mtime first), the production pattern for newly landed PDFs/objects
    (TEST.md:65); complete-mode counts must equal the batch answer."""
    s = read_staged_stream(spark, stage_split_feed(spark, sf_dir, "multi"))
    agg = s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return run_to_memory(
        agg,
        "s9_file_source",
        "complete",
        final_no_data_batch=False,
        shuffle_partitions=_state_parts(spark, sf_dir, "multi"),
    )


@register(
    "S10_foreach_batch_sink",
    oracle=f"""
SELECT event_type, COUNT(*) AS n, {sql_dsum('value')} AS total_value
FROM events GROUP BY event_type
""",
    tags=("streaming", "sink"),
)
def foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: foreachBatch sink — each micro-batch overwrites its own
    batch_id=N partition directory, so a replayed batch lands on the
    same path and the sink stays idempotent under retries (TEST.md:161);
    the re-read of the sink must carry every event exactly once."""
    import os
    import shutil

    from test_dataengineer2026_spark.staging import staged_dir

    out = os.path.join(staged_dir(sf_dir, "sink_stage"), "s10_foreach_batch")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    s = read_staged_stream(spark, stage_split_feed(spark, sf_dir, "multi")).select(
        "event_id", "event_type", "value"
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out}/batch_id={batch_id}")

    q = (
        s.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value")
    )


@register(
    "M1_watermark_append",
    oracle="""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n
FROM events
WHERE date_trunc('day', ts) + INTERVAL 1 DAY
      <= (SELECT MAX(ts) FROM events) - INTERVAL 2 DAY
GROUP BY 1
""",
    tags=("streaming", "watermark"),
)
def watermark_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: watermark-driven append-mode emission — a 1-day tumbling
    window emits only once the 2-day watermark passes its end, so the
    trailing windows are withheld at end-of-stream. This is the state
    eviction contract that bounds memory at 100 TB: closed windows leave
    the state store, open ones stay."""
    s = read_staged_stream(spark, stage_split_feed(spark, sf_dir, "multi"))
    agg = (
        s.withWatermark("ts", "2 days")
        .groupBy(F.window("ts", "1 day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("window.start"), _TS_FMT).alias("window_start"),
            "n",
        )
    )
    return run_to_memory(
        agg,
        "m1_watermark_append",
        "append",
        shuffle_partitions=_state_parts(spark, sf_dir, "multi"),
    )


@register(
    "M8_late_data_policy",
    oracle="""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n
FROM events
WHERE ts >= TIMESTAMP '2024-01-11'
GROUP BY 1
""",
    tags=("streaming", "watermark", "late"),
)
def late_data_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8: late-data drop policy — the staged feed delivers splits in
    reverse event-time order; by the third micro-batch the committed
    watermark (max event time - 2 days) is weeks ahead of that batch's
    rows, so the engine must drop every one of them: no window before
    the first split boundary may appear. (The batch-side quarantine of
    the dropped set — an anti-join of source vs admitted — is shown in
    tests/test_streaming.py.)"""
    s = read_staged_stream(spark, stage_split_feed(spark, sf_dir, "late"))
    agg = (
        s.withWatermark("ts", "2 days")
        .groupBy(F.window("ts", "1 day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("window.start"), _TS_FMT).alias("window_start"),
            "n",
        )
    )
    return run_to_memory(
        agg,
        "m8_late_policy",
        "update",
        shuffle_partitions=_state_parts(spark, sf_dir, "late"),
    )


@register(
    "M9_trigger_control",
    oracle="""
SELECT CAST(0 AS BIGINT) AS batch_id, COUNT(*) AS n FROM events WHERE ts < TIMESTAMP '2024-01-11'
UNION ALL
SELECT CAST(1 AS BIGINT), COUNT(*) FROM events
WHERE ts >= TIMESTAMP '2024-01-11' AND ts < TIMESTAMP '2024-01-21'
UNION ALL
SELECT CAST(2 AS BIGINT), COUNT(*) FROM events WHERE ts >= TIMESTAMP '2024-01-21'
""",
    tags=("streaming", "trigger"),
)
def trigger_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9: trigger control — availableNow + maxFilesPerTrigger=1 drains
    the backlog as one bounded run of single-file micro-batches (the
    backfill-then-stop pattern); the observed (batch_id, row-count)
    sequence must equal the staged file split exactly."""
    s = read_staged_stream(
        spark, stage_split_feed(spark, sf_dir, "multi"), files_per_trigger=1
    )
    seen: list[tuple[int, int]] = []

    def record(batch_df: DataFrame, batch_id: int) -> None:
        n = batch_df.count()
        if n:
            seen.append((batch_id, n))

    q = s.writeStream.foreachBatch(record).trigger(availableNow=True).start()
    q.awaitTermination()
    return spark.createDataFrame(seen, "batch_id long, n long")


@register(
    "M10_stream_stream_join",
    oracle="""
SELECT v.user_id,
       v.event_id AS view_id,
       p.event_id AS purchase_id,
       CAST((epoch_us(p.ts) - epoch_us(v.ts)) // 60000000 AS BIGINT) AS mins_after
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view'
 AND p.event_type = 'purchase'
 AND p.ts > v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
""",
    tags=("streaming", "join"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10: stream-stream interval join (purchase attribution): each
    view joins purchases by the same user landing within the following
    hour. Both sides carry watermarks and the join carries the time
    bound, so the state store evicts views older than watermark-1h and
    purchases older than watermark — bounded state on an unbounded
    stream, the property that makes this runnable forever at 100 TB/day.
    Inner join + append mode means results are emission-order- and
    batch-split-independent, so the batch self-join oracle recomputes
    them exactly."""
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND p_ts > v_ts "
            "AND p_ts <= v_ts + interval 1 hour"
        ),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        F.expr("(unix_micros(p_ts) - unix_micros(v_ts)) div 60000000").alias(
            "mins_after"
        ),
    )
    # inner stream-stream join: matches emit when a row meets the other
    # side's state DURING data batches; the trailing no-data batch only
    # advances the watermark to evict state and cannot produce rows
    # (measured r18: 2.9 s of M10's 7.8 s wall). Outer variants M13/M17
    # KEEP it - their null emission happens on watermark eviction.
    return run_to_memory(
        joined,
        "m10_ssj",
        "append",
        final_no_data_batch=False,
        shuffle_partitions=_state_parts(spark, sf_dir),
    )


@register(
    "M11_chained_window_agg",
    oracle="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h,
         COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(18,4))) AS v
  FROM events GROUP BY 1
)
SELECT strftime(date_trunc('day', h), '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n_active_hours,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(CAST(SUM(v) AS DECIMAL(18,6)) AS DOUBLE) AS total_value
FROM hourly
WHERE date_trunc('day', h) + INTERVAL 1 DAY
      <= (SELECT MAX(ts) FROM events) - INTERVAL 2 DAY
GROUP BY 1
""",
    tags=("streaming", "window", "chained"),
)
def chained_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11: chained stateful windowed aggregations (Spark 3.4+ multiple
    stateful operators): a 1-hour tumbling count/sum re-aggregated into
    a 1-day rollup by windowing ON the inner window column — two state
    stores in ONE append-mode pipeline, no intermediate sink. The inner
    sum stays exact DECIMAL until the outer aggregate narrows it, so
    hourly->daily re-aggregation is order-independent. Both operators
    share the batch watermark; a day window emits once the watermark
    passes its end, which implies every hour inside it is closed too —
    the oracle replays that cut as day_end <= max(ts) - 2 days. This is
    H1's hypertable rollup cascade running INSIDE the streaming engine:
    at 100 TB the hourly state is what bounds memory, and the daily
    tier reads the (tiny) closed-hour stream, not the events firehose."""
    from test_dataengineer2026_spark.determinism import dec, dnarrow

    s = read_staged_stream(spark, stage_split_feed(spark, sf_dir, "multi"))
    hourly = (
        s.withWatermark("ts", "2 days")
        .groupBy(F.window("ts", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).alias("v"),
        )
    )
    daily = (
        hourly.groupBy(F.window(F.col("window"), "1 day"))
        .agg(
            F.count(F.lit(1)).alias("n_active_hours"),
            F.sum("n").cast("long").alias("n_events"),
            dnarrow(F.sum("v")).alias("total_value"),
        )
        .select(
            F.date_format(F.col("window.start"), _TS_FMT).alias("window_start"),
            "n_active_hours",
            "n_events",
            "total_value",
        )
    )
    return run_to_memory(
        daily,
        "m11_chained_windows",
        "append",
        shuffle_partitions=_state_parts(spark, sf_dir, "multi"),
    )


@register(
    "M12_stream_observability",
    oracle="""
SELECT CAST(3 AS BIGINT) AS n_data_batches,
       CAST(COUNT(*) AS BIGINT) AS total_input_rows,
       CAST(COUNT(*) AS BIGINT) AS observed_rows,
       CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-11' THEN 1 ELSE 0 END)
            AS BIGINT) AS dropped_late_rows
FROM events
""",
    tags=("streaming", "observability"),
)
def stream_observability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M12: production streaming monitoring (TEST.md:162) — the M8 late
    feed re-run with the two observability surfaces attached:
    ``df.observe`` (named count metric evaluated inside the stream, no
    extra action) and a ``StreamingQueryListener`` capturing per-batch
    progress (input rows, state-operator watermark drops). The emitted
    metrics table is fully determined by the staged feed: 3 single-file
    micro-batches, every source row observed, and exactly the oldest
    split (ts < 2024-01-11, delivered last against a weeks-ahead
    watermark) kept out of the aggregate. The late-drop count is derived
    as input-minus-aggregated from the final sink state rather than the
    stateOperators' numRowsDroppedByWatermark gauge: this engine build
    filters late rows in an uninstrumented pre-operator Filter, so the
    gauge undercounts — the derived number is the outcome a monitor
    actually alerts on and is engine-version-independent. At 100 TB
    listener progress is driver-side control-plane data, a few KB per
    batch regardless of data volume."""
    from test_dataengineer2026_spark.streaming.jobs import MetricsListener

    listener = MetricsListener()
    listener.attach(spark)
    try:
        s = read_staged_stream(spark, stage_split_feed(spark, sf_dir, "late"))
        observed = s.observe("m12_obs", F.count(F.lit(1)).alias("obs_rows"))
        agg = (
            observed.withWatermark("ts", "2 days")
            .groupBy(F.window("ts", "1 day"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        sink = run_to_memory(
            agg,
            "m12_observability",
            "update",
            shuffle_partitions=_state_parts(spark, sf_dir, "late"),
        )
        listener.await_terminated()
    finally:
        listener.detach(spark)
    # Update-mode emissions grow monotonically per key; max(n) per window
    # is the final aggregated count, so admitted = sum of finals.
    admitted = (
        sink.groupBy("window")
        .agg(F.max("n").alias("n_final"))
        .agg(F.coalesce(F.sum("n_final"), F.lit(0)).alias("admitted"))
    )
    data_batches = [p for p in listener.progress if p["num_input_rows"] > 0]
    total_input = sum(p["num_input_rows"] for p in data_batches)
    observed_rows = sum(
        p["observed"].get("m12_obs", {}).get("obs_rows", 0)
        for p in data_batches
    )
    meta = spark.createDataFrame(
        [(len(data_batches), total_input, observed_rows)],
        "n_data_batches long, total_input_rows long, observed_rows long",
    )
    return meta.crossJoin(admitted).select(
        "n_data_batches",
        "total_input_rows",
        "observed_rows",
        (F.col("total_input_rows") - F.col("admitted"))
        .cast("long")
        .alias("dropped_late_rows"),
    )


@register(
    "M13_stream_stream_left_outer",
    oracle="""
WITH v AS (
  SELECT event_id AS view_id, user_id, ts AS v_ts FROM events
  WHERE event_type = 'view'
), p AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events
  WHERE event_type = 'purchase'
), m AS (
  -- min(max v_ts, max p_ts): each filtered stream advances its own
  -- watermark and the default multipleWatermarkPolicy is MIN (r18
  -- probe on M17). With this data the max event overall is a view, so
  -- the old MAX(ts) basis happened to agree on the left deadline —
  -- this form is the one that stays correct if a regeneration ends
  -- the stream on a non-view event.
  SELECT LEAST(MAX(CASE WHEN event_type = 'view' THEN ts END),
               MAX(CASE WHEN event_type = 'purchase' THEN ts END))
           AS committed_max
  FROM events
), matched AS (
  SELECT v.view_id, v.user_id, p.purchase_id
  FROM v JOIN p
    ON v.user_id = p.user_id
   AND p.p_ts > v.v_ts AND p.p_ts <= v.v_ts + INTERVAL 1 HOUR
), null_emitted AS (
  SELECT v.view_id, v.user_id, CAST(NULL AS BIGINT) AS purchase_id
  FROM v, m
  WHERE NOT EXISTS (SELECT 1 FROM matched mt WHERE mt.view_id = v.view_id)
    AND epoch_us(v.v_ts) + 3600000000
        <= epoch_us(m.committed_max) - 3600000000
)
SELECT * FROM matched
UNION ALL
SELECT * FROM null_emitted
""",
    tags=("streaming", "join", "outer"),
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M13: stream-stream LEFT OUTER interval join — M10's attribution
    join with the production wrinkle: views with NO purchase inside the
    hour must still emit, but only once the watermark PROVES no match
    can arrive (view state evicted at watermark - 1h). With the 3-file
    in-order feed, availableNow's terminal commit flushes evictable
    state under the FINAL watermark (global max event time - 1h), so
    the null-emitted set is deterministic: unmatched views whose 1-hour
    join window closed under that watermark. Views inside the last ~2
    hours of the stream stay in state and are (correctly) withheld at
    shutdown — the oracle replays that rule semantically. Matched pairs emit exactly as in M10. Bounded state on
    both sides is what makes the outer join runnable forever."""
    views = (
        read_staged_stream(spark, stage_split_feed(spark, sf_dir, "multi"))
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        read_staged_stream(spark, stage_split_feed(spark, sf_dir, "multi"))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND p_ts > v_ts AND p_ts <= v_ts + interval 1 hour"
        ),
        "left_outer",
    ).select(
        "view_id",
        F.col("v_user").alias("user_id"),
        "purchase_id",
    )
    return run_to_memory(
        joined,
        "m13_ssj_outer",
        "append",
        shuffle_partitions=_state_parts(spark, sf_dir, "multi"),
    )


@register(
    "M17_stream_stream_full_outer",
    oracle="""
WITH v AS (
  SELECT event_id AS view_id, user_id, ts AS v_ts FROM events
  WHERE event_type = 'view'
), p AS (
  SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events
  WHERE event_type = 'purchase'
), m AS (
  -- the final GLOBAL watermark basis: each side's watermark tracks the
  -- max event time IT has seen (views and purchases are separate
  -- filtered streams), and Spark's default multipleWatermarkPolicy is
  -- MIN — so the committed watermark is min(max v_ts, max p_ts) - 1h,
  -- NOT max(all events ts) - 1h (probed r18: two purchases in the
  -- 1934 s gap between max purchase ts and global max ts stay HELD)
  SELECT LEAST(MAX(CASE WHEN event_type = 'view' THEN ts END),
               MAX(CASE WHEN event_type = 'purchase' THEN ts END))
           AS committed_max
  FROM events
), matched AS (
  SELECT v.view_id, v.user_id, p.purchase_id
  FROM v JOIN p
    ON v.user_id = p.user_id
   AND p.p_ts > v.v_ts AND p.p_ts <= v.v_ts + INTERVAL 1 HOUR
), null_right AS (
  SELECT CAST(NULL AS BIGINT) AS view_id, p.user_id, p.purchase_id
  FROM p, m
  WHERE NOT EXISTS (SELECT 1 FROM matched mt WHERE mt.purchase_id = p.purchase_id)
    AND epoch_us(p.p_ts) <= epoch_us(m.committed_max) - 3600000000
), null_left AS (
  SELECT v.view_id, v.user_id, CAST(NULL AS BIGINT) AS purchase_id
  FROM v, m
  WHERE NOT EXISTS (SELECT 1 FROM matched mt WHERE mt.view_id = v.view_id)
    AND epoch_us(v.v_ts) + 3600000000
        <= epoch_us(m.committed_max) - 3600000000
)
SELECT * FROM matched
UNION ALL SELECT * FROM null_left
UNION ALL SELECT * FROM null_right
""",
    tags=("streaming", "join", "outer"),
)
def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M17: stream-stream FULL OUTER interval join — completes the
    outer-join matrix M10 (inner) and M13 (left outer) opened. Both
    sides now emit their unmatched rows once the watermark proves no
    match can arrive, under DIFFERENT eviction deadlines that fall out
    of the asymmetric join condition: a view's match window is
    (v_ts, v_ts + 1h], so it closes at watermark > v_ts + 1h (M13's
    rule); a purchase's candidate views lie in [p_ts - 1h, p_ts), a
    window that can still be fed by future input only while the
    watermark is BELOW p_ts — so the purchase's null row emits once
    wm >= p_ts, a full hour EARLIER relative to its own timestamp.
    The oracle replays both deadlines against the final watermark —
    which is min(max view ts, max purchase ts) - 1h, because each
    filtered stream advances its own watermark and Spark's default
    multipleWatermarkPolicy takes the MIN (probed r18: purchases
    landing after the last purchase-stream watermark advance stay
    held even though the global event max is later). Matched pairs
    are M10's exact set.

    Scale posture: identical to M13 — state on both sides bounded by
    the interval + watermark delay, eviction is what makes the join
    runnable forever; full outer adds no state, only the two
    null-emission paths at eviction time."""
    views = (
        read_staged_stream(spark, stage_split_feed(spark, sf_dir, "multi"))
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        read_staged_stream(spark, stage_split_feed(spark, sf_dir, "multi"))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND p_ts > v_ts AND p_ts <= v_ts + interval 1 hour"
        ),
        "full_outer",
    ).select(
        "view_id",
        F.coalesce(F.col("v_user"), F.col("p_user")).alias("user_id"),
        "purchase_id",
    )
    return run_to_memory(
        joined,
        "m17_ssj_full",
        "append",
        shuffle_partitions=_state_parts(spark, sf_dir, "multi"),
    )


@register(
    "M14_dedup_within_watermark",
    oracle="""
SELECT event_id, user_id, event_type FROM events
""",
    tags=("streaming", "dedup", "watermark"),
)
def dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M14: dropDuplicatesWithinWatermark — M5's dedup with the property
    that makes it runnable forever: state for a key is EVICTED once the
    watermark passes its event time + delay, so memory is bounded by the
    dedup horizon instead of growing with the stream. The staged feed
    re-delivers every 5th event in a second file (at-least-once
    delivery); with a 60-day horizon covering the whole month, every
    re-delivery hits live state and is suppressed, so the output is
    exactly the original event set — while the same query over an
    unbounded horizon (plain dropDuplicates, M5) would hold ALL keys
    forever. At 100 TB/day the horizon IS the ops knob: state ~=
    keys-per-horizon, replays inside it are absorbed, older replays
    would re-emit and belong to the reconciliation tier instead."""
    s = read_staged_stream(spark, stage_split_feed(spark, sf_dir, "dups"))
    dedup = (
        s.withWatermark("ts", "60 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    # dropDuplicatesWithinWatermark emits first occurrences on arrival;
    # the no-data batch only evicts expired keys (state hygiene the
    # data batches already exercise as the watermark advances).
    return run_to_memory(
        dedup,
        "m14_dedup_wm",
        "append",
        final_no_data_batch=False,
        shuffle_partitions=_state_parts(spark, sf_dir, "dups"),
    )


@register(
    "M15_checkpoint_resume",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
       {sql_dsum('value')} AS total_value
FROM events GROUP BY event_type
""",
    tags=("streaming", "sink", "checkpoint"),
)
def checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M15: checkpoint restart/resume — the exactly-once property that
    makes a streaming pipeline operable. Run 1 consumes the first two
    feed files into a parquet file sink with a checkpoint; a third file
    then lands; run 2 starts the SAME query against the SAME checkpoint
    and must process ONLY the new file (offset log resume), with the
    sink's transaction log (`_spark_metadata`) exposing exactly the
    committed files to the re-read.

    The guarantee is encoded in the RESULT, not just asserted: the sink
    re-read aggregates per event_type with ``n`` vs ``n_distinct``
    event ids — a resume that re-processed the old files would double
    rows and break both against the batch oracle; a resume that lost
    the offset log would drop the third file's rows. The delta-only
    property of run 2 is additionally pinned from query progress in
    tests/test_streaming.py.

    Scale posture: checkpoint contents are O(source offsets + operator
    state), never O(data); the restart cost is reading the offset log —
    this is precisely the mechanism that lets a 100 TB backfill be
    stopped and resumed without re-reading committed input."""
    from test_dataengineer2026_spark.streaming.jobs import (
        land_pending_file,
        mark_resume_done,
        stage_events_resume,
    )

    layout = stage_events_resume(spark, sf_dir)

    def run_once() -> None:
        s = read_staged_stream(spark, layout["feed"]).select(
            "event_id", "user_id", "event_type", "value"
        )
        q = (
            s.writeStream.format("parquet")
            .option("path", layout["sink"])
            .option("checkpointLocation", layout["ckpt"])
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    import os

    if not os.path.exists(layout["done"]):
        run_once()  # files 00+01
        land_pending_file(layout)  # file 02 arrives
        run_once()  # resume: must pick up ONLY 02
        mark_resume_done(layout, sf_dir)
    back = spark.read.parquet(layout["sink"])
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_id").alias("n_distinct"),
        dsum("value").alias("total_value"),
    )


#: M16 verifies MORE than the funnel oracle: the state also persists the
#: first-purchase event TIME (epoch-nanos), which the output rows never
#: expose — so the oracle recomputes it with DuckDB's epoch_ns over the
#: original events.
_M16_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), first_purchase AS (
  SELECT user_id, MIN(rn) AS fp_rn
  FROM ordered WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT o.user_id,
       COUNT(*) AS n_events,
       COUNT(CASE WHEN o.event_type = 'purchase' THEN 1 END) AS n_purchases,
       MAX(CASE WHEN o.rn = f.fp_rn THEN epoch_ns(o.ts) END) AS first_purchase_ts_ns,
       MAX(CASE WHEN o.rn = f.fp_rn THEN o.event_id END) AS first_purchase_id,
       COUNT(CASE WHEN f.fp_rn IS NOT NULL AND o.rn < f.fp_rn THEN 1 END) AS n_before_first_purchase
FROM ordered o LEFT JOIN first_purchase f USING (user_id)
GROUP BY o.user_id
"""


@register(
    "M16_statestore_reader",
    oracle=_M16_ORACLE,
    tags=("streaming", "stateful", "observability"),
)
def statestore_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M16: the state-store READER — ``spark.read.format("statestore")``
    over a transformWithState checkpoint, the observability half of the
    spec's monitoring requirement (TEST.md:162): a stateful pipeline you
    cannot inspect is a stateful pipeline you cannot debug at 3am.

    The M6b funnel runs to completion (availableNow) into a noop sink
    with a durable checkpoint; the query then reads the checkpoint's
    ``funnel`` ValueState back as an ordinary batch DataFrame
    (key struct + value struct + partition_id) and projects it to one
    row per user. The DuckDB oracle recomputes the expected state from
    the original events — including the first-purchase epoch-nanos the
    funnel's OUTPUT rows never expose, so this certifies bytes that only
    the state store carries.

    Scale posture: the state source is a batch scan over the store's
    files — one task per state partition, no replay of the input stream,
    cost O(|state|) not O(|data|). That asymmetry is the whole point:
    at 100 TB of ingested events the keyed state is gigabytes, and this
    reader is how you audit it without touching the lake. The RocksDB
    provider conf is set for the bounded run and restored (the reader
    itself resolves the store format from checkpoint metadata and needs
    no session conf)."""
    import os

    from test_dataengineer2026_spark import pbcompat
    from test_dataengineer2026_spark.staging import staged_dir

    if not pbcompat.ensure(spark):
        raise RuntimeError(
            "M16 needs a protobuf runtime to RUN the transformWithState "
            "funnel whose checkpoint it reads (see M6b); none is "
            "installed and the pbcompat fallback is unavailable"
        )
    ckpt = os.path.join(staged_dir(sf_dir, "statestore_stage"), "ckpt")
    if not _has_committed_batch(ckpt):
        # Same mid-run-death guard as M16b: a commits/ dir with no
        # committed batch is a partial checkpoint — wipe and rebuild.
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)
        s = read_events_stream(spark, sf_dir)
        conf_key = "spark.sql.streaming.stateStore.providerClass"
        prev_provider = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, _ROCKSDB_PROVIDER)
        # build runs at session width, not the bytes policy: it is the
        # same Python-stateful funnel as M6b (per-key round-trip bound —
        # see M6); the count is captured into the checkpoint at batch 0
        # and the reader scans one task per recorded partition either way
        try:
            result = s.groupBy("user_id").transformWithStateInPandas(
                make_funnel_processor(),
                outputStructType=FUNNEL_OUT_SCHEMA,
                outputMode="update",
                timeMode="none",
            )
            q = (
                result.writeStream.format("noop")
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            if prev_provider is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev_provider)
    state = (
        spark.read.format("statestore")
        .option("stateVarName", "funnel")
        .load(ckpt)
    )
    nulled = lambda c: F.when(F.col(c) >= 0, F.col(c))  # noqa: E731
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.n").alias("n_events"),
        F.col("value.np").alias("n_purchases"),
        nulled("value.fp_ts").alias("first_purchase_ts_ns"),
        nulled("value.fp_id").alias("first_purchase_id"),
        F.col("value.nb").alias("n_before_first_purchase"),
    )


@register(
    "M16b_timer_state_reader",
    oracle=f"""
WITH per_user AS (
  SELECT user_id, (epoch_us(MAX(ts)) // 1000) AS last_ms
  FROM events GROUP BY user_id
), wm AS (
  SELECT (epoch_us(MAX(ts)) // 1000) AS wm_ms FROM events
)
SELECT p.user_id,
       CAST(p.last_ms + {_M6C_GAP_MS} AS BIGINT) AS expires_at_ms
FROM per_user p, wm
WHERE p.last_ms + {_M6C_GAP_MS} > wm.wm_ms
""",
    tags=("streaming", "stateful", "timers", "observability"),
)
def timer_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M16b: the TIMER half of the state-store reader —
    ``option("readRegisteredTimers", "true")`` over M6c's session-closer
    checkpoint. M6c certifies the FIRED set (timers the final watermark
    passed); this reads back the SURVIVORS — users whose last event is
    within the 6 h gap of stream end, whose timers are still registered
    awaiting a watermark that never came. Fired + surviving partitions
    the user population exactly, and both halves are DuckDB-checked:
    the oracle here is the strict complement of M6c's (> instead of
    <=, same floor-to-ms integer arithmetic; see M6c's probed boundary
    contract in SCALE.md §25).

    Observability rationale (TEST.md:162, same as M16): "which sessions
    are still open, and when will they time out?" is THE on-call
    question for a sessionizing pipeline, and the timer state is the
    only place the answer lives — the output stream by definition only
    shows sessions already closed.

    Scale posture: like M16, a batch scan over state files — one task
    per state partition, O(|live timers|) not O(|data|), no input
    replay. The reader resolves the store format from checkpoint
    metadata; the RocksDB conf is only needed to RUN the upstream
    query."""
    import os

    from test_dataengineer2026_spark import pbcompat
    from test_dataengineer2026_spark.staging import staged_dir

    if not pbcompat.ensure(spark):
        raise RuntimeError(
            "M16b needs a protobuf runtime to RUN the M6c session closer "
            "whose checkpoint it reads; none is installed and the "
            "pbcompat fallback is unavailable"
        )
    ckpt = os.path.join(staged_dir(sf_dir, "timer_state_stage"), "ckpt")
    if not _has_committed_batch(ckpt):
        # A commits/ dir with no committed batch means a prior in-process
        # build attempt died mid-run (Spark creates the dir at stream
        # start, before any batch commits). Rebuilding over that partial
        # checkpoint would read back incomplete timer state, so wipe it.
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)
        s = read_events_stream(spark, sf_dir).withWatermark("ts", "0 seconds")
        conf_key = "spark.sql.streaming.stateStore.providerClass"
        prev_provider = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, _ROCKSDB_PROVIDER)
        # build runs at session width, same reasoning as M16's (see there)
        try:
            result = s.groupBy("user_id").transformWithStateInPandas(
                make_session_closer(),
                outputStructType="user_id long, n_events long, closed_at_ms long",
                outputMode="append",
                timeMode="eventTime",
            )
            q = (
                result.writeStream.format("noop")
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            if prev_provider is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev_provider)
    timers = (
        spark.read.format("statestore")
        .option("readRegisteredTimers", "true")
        .load(ckpt)
    )
    return timers.select(
        F.col("key.user_id").alias("user_id"),
        F.col("expiration_timestamp_ms").alias("expires_at_ms"),
    )
